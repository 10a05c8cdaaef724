package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.TableType
import graft.operators.{AnnIndex, Dedup, DedupIndex, Similarity, SyncRegistry}
import graft.table.{CommitLog, KeyedTable, TableProperties}

/** Seeded corpus generator: documents over a small vocabulary, with planted
  * near-duplicates (one word changed), exact copies and shared 12-word spans
  * so every dedup operator has real work; clustered embeddings for the ANN
  * index.
  */
final class CorpusGen(seed: Long) {
  private val rnd = new scala.util.Random(seed)
  val vocab: IndexedSeq[String] = ("batch part spark line column order small sort fast value scan " +
    "hash slow group agg filter query big key window row table stream merge data vector customer " +
    "dup join index probe shard page cache disk node task stage commit delta base file log write " +
    "read plan cost time token text word doc corpus span gram shingle band bucket cell centroid " +
    "train test label score rank top near far dense sparse batch2 lake tree leaf root edge").split(" ").toIndexedSeq

  def words(n: Int): Seq[String] = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))

  def docs(n: Int): Vector[(Long, String, String)] = {
    val out = mutable.ArrayBuffer.empty[(Long, String, String)]
    (0 until n).foreach { i =>
      val r = rnd.nextInt(100)
      val text =
        if (i > 10 && r < 8) {            // near-duplicate: one word changed
          val w = out(rnd.nextInt(out.size))._3.split(" ")
          w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
          w.mkString(" ")
        } else if (i > 10 && r < 11) out(rnd.nextInt(out.size))._3    // exact copy
        else if (i > 10 && r < 19) {      // shares a 12-word span with an earlier doc
          val src = out(rnd.nextInt(out.size))._3.split(" ")
          val own = words(12 + rnd.nextInt(40))
          val at = rnd.nextInt(own.size)
          val from = rnd.nextInt(math.max(1, src.length - 12))
          (own.take(at) ++ src.slice(from, from + 12) ++ own.drop(at)).mkString(" ")
        } else words(12 + rnd.nextInt(49)).mkString(" ")
      out += ((i.toLong, s"src${i % 4}", text))
    }
    out.toVector
  }

  def vectors(n: Int, dim: Int, centers: Int, firstId: Long): Vector[(Long, Array[Float])] = {
    val cs = Vector.fill(centers)(Array.fill(dim)(rnd.nextGaussian()))
    (0 until n).map { i =>
      val c = cs(rnd.nextInt(centers))
      (firstId + i, c.map(x => (x + 0.35 * rnd.nextGaussian()).toFloat))
    }.toVector
  }

}

object Spans {
  /** Driver-side reference for `Dedup.crossDocSpans`: 1-based positions of
    * k-token grams that occur in at least two documents, merged into maximal
    * spans where consecutive flagged positions are at most k apart. Returns
    * (doc_id, span_start, span_len).
    */
  def reference(docs: Seq[(Long, String)], k: Int): Set[(Long, Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split("\\s+") }.filter(_._2.length >= k)
    def grams(w: Array[String]) = (0 to w.length - k).map(p => w.slice(p, p + k).mkString("\u0001"))
    val owners = mutable.HashMap.empty[String, mutable.Set[Long]]
    toks.foreach { case (id, w) => grams(w).foreach(g => owners.getOrElseUpdate(g, mutable.Set.empty) += id) }
    toks.flatMap { case (id, w) =>
      val ps = grams(w).zipWithIndex.collect { case (g, p) if owners(g).size > 1 => p + 1L }
      val out = mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var start = -1L
      var last = -1L
      ps.foreach { p =>
        if (start < 0 || p - last > k) {
          if (start >= 0) out += ((id, start, last - start + k))
          start = p
        }
        last = p
      }
      if (start >= 0) out += ((id, start, last - start + k))
      out
    }.toSet
  }
}

/** curation — the LLM-data operators over a document corpus and an
  * embedding set. The corpus is a MERGE_ON_READ table with a dedup index
  * registered in the sync registry (x71 shape), so every corpus upsert
  * propagates to the index inside the publish; an IVF-ANN index (x62)
  * stands beside it. The rotation: four corpus upserts (each followed by a
  * probe of the synced dedup index that must see it), four ANN probes,
  * three x54 cross-document span passes and one x04 n-gram Jaccard pass.
  * Only this workload runs the `operators` module, so a change there (the
  * `graft.tokenDf` variants sit under x04, the `graft.spanDup` ones under
  * x54) is judged on code that actually ran.
  */
final class Curation(val spark: SparkSession, seed: Long) extends Workload {
  val Docs = 200
  val Vectors = 200
  val Dim = 32
  val NList = 4
  val K = 10

  private val gen = new CorpusGen(seed)
  private val rnd = new scala.util.Random(seed * 13 + 5)
  private val watch = new TableWatch(spark)
  private lazy val docs0 = gen.docs(Docs)
  private lazy val vecs = gen.vectors(Vectors, Dim, 16, 0L)
  private lazy val queries = gen.vectors(5, Dim, 16, 10000000L)
  private val corpusModel = mutable.LinkedHashMap.empty[Long, (String, String)]
  private var dir = ""
  private def corpus = s"$dir/corpus"
  private def dedupIdx = s"$dir/idx_dedup"
  private def annIdx = s"$dir/idx_ann"
  private var refreshes = 0
  private val Rotation = Seq("refresh", "probe_ann", "dedup_spans", "refresh", "probe_ann", "dedup_ngram",
    "refresh", "probe_ann", "dedup_spans", "refresh", "probe_ann", "dedup_spans")

  /** The corpus upsert, with the index sync and the index compaction that
    * run inside its publish.
    */
  def writeKinds = Seq("corpus_upsert")
  def readKind = "probe_ann"
  def bulkKind = "dedup_spans"
  def families: Map[String, Seq[String]] = Map(
    "write" -> Seq("corpus_upsert"), "dedup" -> Seq("dedup_ngram", "dedup_spans"),
    "probe" -> Seq("sync_probe", "probe_ann"), "refresh" -> Seq("refresh"))
  def writeAmp: Double = watch.writeAmp

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("text", StringType)))
  private def docDf(rows: Iterable[(Long, String, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, s, t) => Row(i, s, t) }.toSeq, 4), docSchema)
  private def modelDf: DataFrame = docDf(corpusModel.map { case (i, (s, t)) => (i, s, t) })
  private def vecDf(rows: Seq[(Long, Array[Float])]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v.toSeq) }, 4),
    StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))
  /** The embeddings never change, so neither does the ANN probe's
    * brute-force reference.
    */
  private lazy val annTruth = Similarity.bruteForceTopK(vecDf(vecs), vecDf(queries), k = K + 1)
    .select("query_id", "vec_id", "sim").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).groupBy(_._1)

  def stage(d: String): Unit = {
    dir = Dirs.fresh(spark, d)
    corpusModel.clear()
    docs0.foreach { case (i, s, t) => corpusModel(i) = (s, t) }
    KeyedTable.create(spark, corpus, docDf(docs0), tableName = "corpus", keyFields = Seq("doc_id"),
      precombineField = "doc_id", tableType = TableType.MergeOnRead)
    val snap = KeyedTable.read(spark, corpus).select("doc_id", "source", "text")
    DedupIndex.bootstrap(spark, dedupIdx, snap, "doc_id", "text")
    // The index folds its delta chain itself (`compact.auto`, set by
    // bootstrap). At the default thresholds a fold lands after every first
    // or second sync, as the batch's bytes happen to fall, so a corpus upsert
    // takes about 1 s or 2 s by position and seed. Folding after every sync
    // gives each upsert the same work: append, sync, fold.
    TableProperties.set(spark, dedupIdx, Map(TableProperties.CompactAutoDeltas -> "1"))
    AnnIndex.build(spark, annIdx, vecDf(vecs), nlist = NList, iters = 1)
    SyncRegistry.register(spark, corpus, "dedup", SyncRegistry.DedupSpec(dedupIdx, "doc_id", "text"),
      Some(CommitLog.commits(spark, corpus).last.commitTime))
  }

  /** Each op kind of the rotation once, untimed, the refresh twice: a
    * corpus upsert runs the most engine code (upsert, sync, fold) and is
    * still getting faster after its first run.
    */
  def warmUp(): Unit = Warm.run(spark)(warm => (Rotation.distinct :+ "refresh").foreach(op(warm, _)))

  def loop(run: Run): Unit = {
    watch.reset()
    while (run.timeLeft) Rotation.foreach(op(run, _))
  }

  private def corpusDf: DataFrame = KeyedTable.read(spark, corpus).select("doc_id", "source", "text")

  private def pairs(df: DataFrame): Map[(Long, Long), Double] =
    df.select("a_id", "b_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def op(run: Run, kind: String): Unit = kind match {
    case "dedup_ngram" =>
      val got = run.op(kind)(pairs(Dedup.ngramJaccardPrefixJoin(corpusDf, "doc_id", "text", n = 2,
          threshold = 0.6, blockCol = Some("source")))) { got =>
        Check.equal("x04 pairs", got, pairs(Dedup.ngramJaccardPairs(modelDf, "doc_id", "text", n = 2,
          threshold = 0.6, blockCol = Some("source"))))
      }
      run.tracer.foreach(t => got.foreach(_ => lshCounts(t)))
    case "dedup_spans" =>
      run.op(kind) {
        Dedup.crossDocSpans(corpusDf, "doc_id", "text", k = 8).collect().map { r =>
          (r.getAs[Number]("doc_id").longValue, r.getAs[Number]("span_start").longValue,
            r.getAs[Number]("span_len").longValue)
        }.toSet
      } { got =>
        Check.equal("x54 spans", got, Spans.reference(corpusModel.toSeq.map { case (i, (_, t)) => (i, t) }, 8))
      }
    case "probe_ann" =>
      val got = run.op(kind) {
        AnnIndex.probe(spark, annIdx, vecDf(queries), k = K, nprobe = NList).select("query_id", "vec_id", "sim")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      }(checkAnn)
      got.foreach(_ => run.tracer.foreach(_.record("operators.annindex.probe_s", run.samples(kind).last)))
    case "refresh" => refresh(run)
  }

  /** With nprobe = nlist the ANN probe is exact: it must return the
    * brute-force top-k. Two vectors whose similarities differ by less than
    * 1e-5 may trade places at the k-th rank (the two paths round cosine
    * differently); anything else is a wrong answer.
    */
  private def checkAnn(got: Seq[(Long, Long, Double)]): Unit =
    queries.foreach { case (qid, _) =>
      val t = annTruth(qid).sortBy(-_._3)
      val want = t.take(K).map(_._2).toSet
      val have = got.filter(_._1 == qid).map(_._2).toSet
      val kth = t(K - 1)._3
      val near = t.filter(x => math.abs(x._3 - kth) < 1e-5).map(_._2).toSet
      val diff = (want -- have) ++ (have -- want)
      if (have.size != K || !diff.subsetOf(near))
        throw new CheckFailed(s"ann probe query $qid: got ${have.toSeq.sorted}, want ${want.toSeq.sorted}")
    }

  /** Index refresh (x71 shape): a corpus upsert of two new docs and two
    * rewritten ones, which the sync registry propagates to the dedup index
    * inside the publish; then a probe of that index with copies of the new
    * texts and of the texts the rewrite replaced. The upsert is checked
    * against the corpus model, the probe against `Dedup.minhashNearDupsAgainst`
    * over the model: a stale index entry or a missed one fails it. The
    * refresh latency is the upsert plus the probe.
    */
  private def refresh(run: Run): Unit = {
    refreshes += 1
    val ids = corpusModel.keys.toIndexedSeq
    val changed = Seq(ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))).distinct
    val fresh = Seq(100000L + 2 * refreshes, 100001L + 2 * refreshes)
    val rows = (fresh ++ changed).map(i => (i, s"src${i % 4}", gen.words(10 + rnd.nextInt(30)).mkString(" ")))
    val probe = rows.map { case (i, s, t) => (i + 9000000L, s, t) } ++
      changed.map(i => (i + 9500000L, corpusModel(i)._1, corpusModel(i)._2))
    val path = Dirs.writeBatch(docDf(rows), s"$dir/batches/b$refreshes")
    val before = watch.list(corpus)
    run.tracer.foreach(t => watch.commitLog(t, corpus))
    val wrote = run.op("corpus_upsert")(graft.Engine.upsert(spark, corpus, spark.read.parquet(path))) { _ =>
      rows.foreach { case (i, s, t) => corpusModel(i) = (s, t) }
      Check.equal("corpus after upsert", corpusDf.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap,
        corpusModel.toMap)
    }
    watch.wrote(run.tracer, corpus, before, path, rows.size.toLong, upsert = true)
    Dirs.delete(spark, path)
    if (wrote.isEmpty) return
    val batch = docDf(probe)
    val seen = run.op("sync_probe")(pairs(DedupIndex.probe(spark, dedupIdx, batch, "doc_id", "text"))) { got =>
      Check.equal("synced dedup probe", got, pairs(Dedup.minhashNearDupsAgainst(modelDf, batch, "doc_id", "text")))
    }
    seen.foreach { _ =>
      val probeS = run.samples("sync_probe").last
      run.samples.getOrElseUpdate("refresh", mutable.ArrayBuffer.empty) += run.samples("corpus_upsert").last + probeS
      run.tracer.foreach(_.record("operators.sync.lag_s", probeS))
    }
  }

  /** LSH candidate pairs of the corpus against the near-dup pairs the
    * minhash pass confirms from them (traced runs only, untimed).
    */
  private def lshCounts(t: Tracer): Unit = t.span("operators.dedup.candidates") {
    val sh = corpusDf.select(col("doc_id").as("id"), Dedup.shingles(split(col("text"), "\\s+"), 3).as("sh"))
    val sig = sh.select(col("id"), Dedup.minhashSignature(col("sh"), 16).as("sig"))
    val cand = Dedup.lshCandidates(sig, "id", "sig", 4, 4).count()
    val confirmed = Dedup.minhashNearDups(corpusDf, "doc_id", "text").count()
    t.record("operators.dedup.candidate_pairs", cand.toDouble)
    t.record("operators.dedup.confirmed_pairs", confirmed.toDouble)
    t.record("operators.dedup.precision", if (cand == 0) 0.0 else confirmed.toDouble / cand)
  }

}
