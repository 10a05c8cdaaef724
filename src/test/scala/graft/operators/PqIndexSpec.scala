package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.table.CommitLog

/** Standing PQ index: probes must be pure read-side work (no training, no
  * encode of the corpus, no commits), bit-identical to the recompute
  * formulation over the same codebooks, and appends must extend the
  * searched corpus by encoding against the STORED codebooks only.
  */
class PqIndexSpec extends SparkTestBase {

  private def emb = spark.read.parquet(sf("embeddings"))

  private def pairs(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("probe ≡ pqTopK over the same stored codebooks; probe trains nothing " +
      "and commits nothing") {
    val idx = s"${tmpDir("pq-idx")}/idx"
    val corpus = emb.filter(col("vec_id") >= 20)
    val queries = emb.filter(col("vec_id") < 5)
    PqIndex.build(spark, idx, corpus, dim = 64, m = 16, iters = 2)
    val commits0 = CommitLog.commits(spark, idx).map(_.commitTime)

    // zero-training gate: Lloyd localCheckpoints every round (persistent
    // RDDs); a pure probe may not create ANY persisted RDD
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val got = pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64,
      m = 16, shortlist = 10))
    assert(spark.sparkContext.getPersistentRDDs.keySet === persistedBefore,
      "probe must not train (no Lloyd localCheckpoint) or cache anything")
    assert(CommitLog.commits(spark, idx).map(_.commitTime) === commits0,
      "probe must not write to the index table")

    val recompute = Similarity.pqTopK(corpus, queries, k = 10, dim = 64,
      m = 16, shortlist = 10, codebooks = Some(PqIndex.codebooks(spark, idx)))
    assert(got === pairs(recompute))
    assert(got.nonEmpty)

    // plan shape: the LUT, shortlist, and query joins broadcast bounded
    // sides; the ADC scan never degrades to a pair explosion
    val plan = PqIndex.probe(spark, idx, queries, k = 10, dim = 64, m = 16,
      shortlist = 10).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "probe planned a cartesian")
    assert(plan.contains("BroadcastExchange"), "probe lost its broadcast joins")
  }

  test("append encodes against stored codebooks (no retraining); asOf probes " +
      "reproduce the pre-append search") {
    val idx = s"${tmpDir("pq-append")}/idx"
    val corpus = emb.filter(col("vec_id") >= 50)
    val batch = emb.filter(col("vec_id") >= 25 && col("vec_id") < 50)
    val queries = emb.filter(col("vec_id") < 5)
    PqIndex.build(spark, idx, corpus, dim = 64, m = 16, iters = 2)
    val tip0 = CommitLog.commits(spark, idx).last.commitTime
    val before = pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64,
      m = 16, shortlist = 10))

    val cbBefore = PqIndex.codebooks(spark, idx).collect().map(_.toString).sorted
    PqIndex.append(spark, idx, batch, dim = 64, m = 16)
    // compact.auto (default-on for standing indexes) may fold the delta —
    // a file rewrite, never a logical change, so it is filtered here
    assert(CommitLog.commits(spark, idx).map(_.operation)
      .filterNot(_ == "compact") === Seq("bootstrap", "delta_commit"))
    assert(PqIndex.codebooks(spark, idx).collect().map(_.toString).sorted === cbBefore)

    // post-append probe ≡ pqTopK over corpus ∪ batch with the same stored
    // codebooks — append is pure encoding, never a new model
    val after = pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64,
      m = 16, shortlist = 10))
    val recompute = Similarity.pqTopK(corpus.unionByName(batch), queries,
      k = 10, dim = 64, m = 16, shortlist = 10,
      codebooks = Some(PqIndex.codebooks(spark, idx)))
    assert(after === pairs(recompute))

    // every appended vector is reachable through a corpus-sized shortlist
    val appendedIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    val full = pairs(PqIndex.probe(spark, idx, queries.limit(1), k = 100000,
      dim = 64, m = 16, shortlist = 1)).map(_._2)
    assert(appendedIds.subsetOf(full), "appended vectors must be searchable")

    assert(pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64,
      m = 16, shortlist = 10, asOf = Some(tip0))) === before)
  }

  test("IVF-PQ (nlist at build, nprobe at probe): candidates come only from the " +
      "probed coarse cells, the flat scan is bit-identical to probing every cell " +
      "(residual scoring is restriction-invariant), and recall clears the bar") {
    val idx = s"${tmpDir("pq-ivf")}/idx"
    val corpus = emb.filter(col("vec_id") >= 25)
    val queries = emb.filter(col("vec_id") < 5)
    PqIndex.build(spark, idx, corpus, dim = 64, m = 16, iters = 2, nlist = 16)

    // a cell-stamped index stores RESIDUAL codes, so the old raw-pqTopK
    // equality no longer applies; the invariant that replaces it: nprobe
    // only RESTRICTS which cells are scanned, never how a code scores, so
    // probing ALL nlist cells must be bit-identical to the flat scan
    val flat = pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64,
      m = 16, shortlist = 10))
    val allCells = pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64,
      m = 16, shortlist = 10, nprobe = 16))
    assert(flat === allCells,
      "flat scan and nprobe=nlist diverged — residual scoring depends on the restriction")

    // the IVF probe: every returned candidate's stored cell is one of the
    // query's nprobe nearest coarse cells (recomputed here independently)
    val got = PqIndex.probe(spark, idx, queries, k = 10, dim = 64, m = 16,
      shortlist = 10, nprobe = 10)
    val coarse = PqIndex.coarseCentroids(spark, idx)
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("csim").desc, col("cent_id").asc)
    val probeCells = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .join(broadcast(coarse), lit(true))
      .select(col("query_id"), col("cent_id"),
        Similarity.cosine(col("qv"), col("cv")).as("csim"))
      .withColumn("r", row_number().over(wProbe)).filter(col("r") <= 10)
      .select("query_id", "cent_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val cells = graft.table.KeyedTable.read(spark, idx)
      .filter(col(PqIndex.KindCol) === PqIndex.VectorKind)
      .select(col("id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.select("query_id", "vec_id").collect().foreach { r =>
      assert(probeCells(r.getLong(0)).contains(cells(r.getLong(1))),
        s"candidate ${r.getLong(1)} came from an unprobed cell for query ${r.getLong(0)}")
    }

    // recall bar, x64-style, on the cell-restricted search
    val ann = got.select("query_id", "vec_id")
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
      .select("query_id", "vec_id")
    val hits = ann.join(exact, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val bad = exact.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .filter(coalesce(col("n_hits"), lit(0)) < col("n_truth") * 0.7)
    assert(bad.isEmpty, s"recall bar missed: ${bad.collect().mkString(", ")}")
  }

  test("remove drops code AND vector rows: the taken-down id never probes again " +
      "(flat or cell-restricted), asOf pre-removal is unchanged, and a flat index " +
      "refuses nprobe instead of returning nothing") {
    import spark.implicits._
    val idx = s"${tmpDir("pq-remove")}/idx"
    val corpus = emb.filter(col("vec_id") >= 25)
    val queries = emb.filter(col("vec_id") < 5)
    PqIndex.build(spark, idx, corpus, dim = 64, m = 16, iters = 2, nlist = 16)
    val tip0 = CommitLog.commits(spark, idx).last.commitTime
    val before = pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64,
      m = 16, shortlist = 10))
    // take down what the index is serving: the pre-removal top hits
    val victims = before.map(_._2)
    assert(victims.nonEmpty)
    PqIndex.remove(spark, idx, victims.toSeq.toDF("vec_id"))
    assert(CommitLog.commits(spark, idx).map(_.operation)
      .filterNot(_ == "compact") === Seq("bootstrap", "delete"))

    // BOTH row kinds are gone: m code rows and 1 vector row per victim
    val t = graft.table.KeyedTable.read(spark, idx)
    val n = corpus.count() - victims.size
    assert(t.filter(col(PqIndex.KindCol) === PqIndex.CodeKind).count() === n * 16)
    assert(t.filter(col(PqIndex.KindCol) === PqIndex.VectorKind).count() === n)

    // no ghost in the ADC scan or the re-rank — flat and cell-restricted —
    // and the restriction-invariance of residual scoring survives removal
    // (only stored code rows can score, so the tombstones are invisible)
    val flatAfter = pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64,
      m = 16, shortlist = 10))
    assert(flatAfter.map(_._2).intersect(victims).isEmpty)
    assert(flatAfter === pairs(PqIndex.probe(spark, idx, queries, k = 10,
      dim = 64, m = 16, shortlist = 10, nprobe = 16)))
    val ivfAfter = pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64,
      m = 16, shortlist = 10, nprobe = 10))
    assert(ivfAfter.map(_._2).intersect(victims).isEmpty)

    // history retained: the historical search still reproduces
    assert(pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64,
      m = 16, shortlist = 10, asOf = Some(tip0))) === before)

    // misconfiguration fails FAST: an index built flat refuses nprobe > 0
    val flatIdx = s"${tmpDir("pq-flat")}/idx"
    PqIndex.build(spark, flatIdx, emb.filter(col("vec_id") >= 400),
      dim = 64, m = 16, iters = 1)
    val e = intercept[IllegalArgumentException] {
      PqIndex.probe(spark, flatIdx, queries, k = 5, dim = 64, m = 16,
        shortlist = 5, nprobe = 4).count()
    }
    assert(e.getMessage.contains("built flat"))
  }

  test("retrain re-fits the model IN PLACE as one commit: equals a fresh build " +
      "over the stored vectors, history stays asOf-able, m and nlist may change, " +
      "and flat→IVF conversion refuses") {
    val idx = s"${tmpDir("pq-retrain")}/idx"
    val corpus = emb.filter(col("vec_id") >= 50)
    val batch = emb.filter(col("vec_id") >= 25 && col("vec_id") < 50)
    val queries = emb.filter(col("vec_id") < 5)
    PqIndex.build(spark, idx, corpus, dim = 64, m = 16, iters = 2, nlist = 4)
    PqIndex.append(spark, idx, batch, dim = 64, m = 16) // drift under the frozen model
    val tip1 = CommitLog.commits(spark, idx).last.commitTime
    val before = pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64,
      m = 16, shortlist = 10, nprobe = 4))

    // SPLIT + re-fit: nlist 4→8 AND m 16→8 in one merge commit — every
    // stale (kind, s, id) key (the s ∈ [8,16) code rows, the old coarse
    // ids) dies in the same instant the new model lands
    PqIndex.retrain(spark, idx, dim = 64, m = 8, iters = 2, nlist = 8)
    assert(CommitLog.commits(spark, idx).map(_.operation)
      .filterNot(_ == "compact") === Seq("bootstrap", "delta_commit", "merge"))
    val t = graft.table.KeyedTable.read(spark, idx)
    val n = corpus.count() + batch.count()
    assert(t.filter(col(PqIndex.KindCol) === PqIndex.CodeKind).count() === n * 8)
    assert(PqIndex.coarseCentroids(spark, idx).count() === 8)
    assert(PqIndex.codebooks(spark, idx).count() === 8 * 16)

    // the retrained index is bit-identical to a FRESH (nlist=8, m=8) build
    // over the same vectors — deterministic Lloyd; history is the only diff
    val fresh = s"${tmpDir("pq-retrain-fresh")}/idx"
    PqIndex.build(spark, fresh, corpus.unionByName(batch),
      dim = 64, m = 8, iters = 2, nlist = 8)
    assert(pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64, m = 8,
      shortlist = 10, nprobe = 8)) ===
      pairs(PqIndex.probe(spark, fresh, queries, k = 10, dim = 64, m = 8,
        shortlist = 10, nprobe = 8)))

    // history: the pre-retrain (m=16, nlist=4) model still answers asOf
    assert(pairs(PqIndex.probe(spark, idx, queries, k = 10, dim = 64, m = 16,
      shortlist = 10, nprobe = 4, asOf = Some(tip1))) === before)

    // mode preservation: a FLAT index refuses an IVF retrain loudly
    val flat = s"${tmpDir("pq-retrain-flat")}/idx"
    PqIndex.build(spark, flat, emb.filter(col("vec_id") >= 400),
      dim = 64, m = 16, iters = 1)
    val e = intercept[IllegalArgumentException] {
      PqIndex.retrain(spark, flat, dim = 64, m = 16, nlist = 8)
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("pre-stamp cell-stamped tables (built before the residual scheme) score " +
      "RAW: nprobe stays allowed, append encodes raw to match, and retrain " +
      "re-encodes raw AND stamps the preserved encoding") {
    import org.apache.spark.sql.expressions.Window
    import graft.table.{KeyedTable, TableProperties}
    val idx = s"${tmpDir("pq-prestamp")}/idx"
    val corpus = emb.filter(col("vec_id") >= 25).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
    // fabricate exactly what a pre-residual-scheme IVF build stored: RAW
    // codes + coarse cells + NO pq.encoding stamp (public pieces only)
    val coarse = Similarity.kmeansCentroids(corpus, 4, 1)
    val wc = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id").asc)
    val cells = corpus.crossJoin(coarse)
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        Similarity.cosine(col("embedding"), col("cv")).as("csim"))
      .withColumn("r", row_number().over(wc)).filter(col("r") === 1)
      .select(col("vec_id"), col("embedding").as("v"), col("cent_id").cast("long").as("cell"))
    val cb = Similarity.pqCodebooks(corpus, dim = 64, m = 16, codebookSize = 16, iters = 1)
    val rawCodes = Similarity.pqEncode(corpus, cb, 64, 16)
      .join(cells.select("vec_id", "cell"), "vec_id")
    val rows = cb.select(lit("codebook").as("kind"), col("s").cast("int").as("s"),
        col("cent_id").cast("long").as("id"), lit(null).cast("long").as("code"),
        lit(null).cast("long").as("cell"), col("cv").as("v"))
      .unionByName(coarse.select(lit("centroid").as("kind"), lit(0).as("s"),
        col("cent_id").cast("long").as("id"), lit(null).cast("long").as("code"),
        col("cent_id").cast("long").as("cell"), col("cv").as("v")))
      .unionByName(rawCodes.select(lit("code").as("kind"), col("s").cast("int").as("s"),
        col("vec_id").cast("long").as("id"), col("code").cast("long").as("code"),
        col("cell"), lit(null).cast("array<float>").as("v")))
      .unionByName(cells.select(lit("vector").as("kind"), lit(0).as("s"),
        col("vec_id").cast("long").as("id"), lit(null).cast("long").as("code"),
        col("cell"), col("v")))
    KeyedTable.create(spark, idx, rows, tableName = "pq_prestamp",
      keyFields = Seq("kind", "s", "id"), precombineField = "id",
      partitionFields = Seq("kind"), tableType = graft.model.TableType.MergeOnRead)
    assert(!TableProperties.get(spark, idx).contains(PqIndex.EncodingProp))

    // the absent stamp reads as RAW: the ADC shortlist (pinned by
    // shortlist = 1, where ADC order IS the candidate set) matches the raw
    // recompute — the old centroids-present⇒residual fallback mis-scored
    // exactly this table
    assert(pairs(PqIndex.probe(spark, idx, queries, k = 5, dim = 64, m = 16,
      shortlist = 1)) ===
      pairs(Similarity.pqTopK(corpus, queries, k = 5, dim = 64, m = 16,
        shortlist = 1, codebooks = Some(cb))))
    // the cells still serve the IVF restriction (no flat-index refusal)
    assert(PqIndex.probe(spark, idx, queries, k = 5, dim = 64, m = 16,
      shortlist = 2, nprobe = 2).count() > 0)

    // append encodes RAW to match the stored codes
    val batch = emb.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .select("vec_id", "embedding")
    PqIndex.append(spark, idx, batch, dim = 64, m = 16)
    def codeSet(ids: Seq[Long]) = KeyedTable.read(spark, idx)
      .filter(col("kind") === "code" && col("id").isin(ids: _*))
      .select(col("id"), col("s"), col("code"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expected = Similarity.pqEncode(batch, cb, 64, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(codeSet(Seq(10L, 11L, 12L, 13L, 14L)) === expected,
      "append residualized against a raw-coded table")

    // retrain PRESERVES the raw encoding, keeps the cell-stamped mode, and
    // stamps pq.encoding so the table stops depending on the fallback
    PqIndex.retrain(spark, idx, dim = 64, m = 16, codebookSize = 16, iters = 1)
    assert(TableProperties.get(spark, idx).get(PqIndex.EncodingProp) === Some("raw"))
    val cbNew = PqIndex.codebooks(spark, idx)
    val all = corpus.unionByName(batch)
    assert(pairs(PqIndex.probe(spark, idx, queries, k = 5, dim = 64, m = 16,
      shortlist = 1)) ===
      pairs(Similarity.pqTopK(all, queries, k = 5, dim = 64, m = 16,
        shortlist = 1, codebooks = Some(cbNew))))
    assert(PqIndex.probe(spark, idx, queries, k = 5, dim = 64, m = 16,
      shortlist = 2, nprobe = 2).count() > 0, "retrain lost the coarse cells")
  }

  test("stampEncoding migrates a residual-vintage unstamped table: probes " +
      "score residual again; flips and flat-residual stamps refuse") {
    import graft.table.TableProperties
    val dir = tmpDir("pq-stamp-migrate")
    val idx = s"$dir/idx"
    val corpus = emb.filter(col("vec_id") >= 25).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
    // a residual-encoded build whose stamp is then LOST (the narrow vintage
    // where residual encoding existed one commit before the stamp): the raw
    // default would ADC-score these residual codes as raw silently
    PqIndex.build(spark, idx, corpus, dim = 64, m = 16, codebookSize = 16,
      iters = 1, nlist = 4)
    val want = pairs(PqIndex.probe(spark, idx, queries, k = 5, dim = 64, m = 16,
      shortlist = 1))
    TableProperties.unset(spark, idx, Seq(PqIndex.EncodingProp))
    // the one-time migration declares the vintage; scoring is residual again
    PqIndex.stampEncoding(spark, idx, residual = true)
    assert(TableProperties.get(spark, idx)
      .get(PqIndex.EncodingProp) === Some("residual"))
    assert(pairs(PqIndex.probe(spark, idx, queries, k = 5, dim = 64, m = 16,
      shortlist = 1)) === want, "migrated table must score residual again")
    // idempotent re-declaration is fine; a FLIP is a mismatch, refused
    PqIndex.stampEncoding(spark, idx, residual = true)
    val e = intercept[graft.model.GraftException] {
      PqIndex.stampEncoding(spark, idx, residual = false)
    }
    assert(e.getMessage.contains("already stamped"), e.getMessage)
    // a FLAT index (no coarse cells) cannot hold residual codes
    val flat = s"$dir/flat"
    PqIndex.build(spark, flat, corpus, dim = 64, m = 16, codebookSize = 16,
      iters = 1, nlist = 0)
    TableProperties.unset(spark, flat, Seq(PqIndex.EncodingProp))
    val e2 = intercept[graft.model.GraftException] {
      PqIndex.stampEncoding(spark, flat, residual = true)
    }
    assert(e2.getMessage.contains("no coarse centroids"), e2.getMessage)
    PqIndex.stampEncoding(spark, flat, residual = false) // raw: declarable
    assert(TableProperties.get(spark, flat)
      .get(PqIndex.EncodingProp) === Some("raw"))
  }

  test("probe recall@10 clears the x64 bar against the exact top-10") {
    val idx = s"${tmpDir("pq-recall")}/idx"
    val corpus = emb.filter(col("vec_id") >= 25)
    val queries = emb.filter(col("vec_id") < 5)
    PqIndex.build(spark, idx, corpus, dim = 64, m = 16, iters = 2)
    val pq = PqIndex.probe(spark, idx, queries, k = 10, dim = 64, m = 16,
      shortlist = 10).select("query_id", "vec_id")
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
      .select("query_id", "vec_id")
    val hits = pq.join(exact, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val bad = exact.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .filter(coalesce(col("n_hits"), lit(0)) < col("n_truth") * 0.7)
    assert(bad.isEmpty, s"recall bar missed: ${bad.collect().mkString(", ")}")
  }
}
