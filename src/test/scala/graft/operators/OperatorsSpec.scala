package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.TextFunctions

class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(sf("documents"))

  test("minhash LSH candidates are a superset of true near-dups (recall 1 on fixture)") {
    val exhaustive = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "text")
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exhaustive)
    assert(lsh.nonEmpty) // fixture has planted near-dups
  }

  /** Run `body` with broadcast joins off: the plan the token-df join takes
    * when the df table outgrows the broadcast cap.
    */
  private def withoutBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("prefix-filter similarity join equals the quadratic baseline at several thresholds") {
    def prefix(t: Double) =
      Dedup.ngramJaccardPrefixJoin(docs, "doc_id", "text", n = 2, threshold = t)
        .select("a_id", "b_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (t <- Seq(0.4, 0.6, 0.8)) {
      val quad = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = t)
        .select("a_id", "b_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefix(t) === quad, s"threshold $t")
      assert(quad.nonEmpty, s"threshold $t should find planted near-dups")
      if (t == 0.6) assert(withoutBroadcast(prefix(t)) === quad, s"threshold $t, no broadcast")
    }
  }

  test("simhash pigeonhole chunking finds exactly the exhaustive pairs") {
    val withSh = docs.select(col("doc_id"),
      Dedup.simhash(split(col("text"), "\\s+")).as("sh"))
    val a = withSh.select(col("doc_id").as("a_id"), col("sh").as("sha"))
    val b = withSh.select(col("doc_id").as("b_id"), col("sh").as("shb"))
    val exhaustive = a.join(b, col("a_id") < col("b_id"))
      .filter(Dedup.hamming(col("sha"), col("shb")) <= 3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val chunked = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3, chunks = 4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(chunked === exhaustive)
  }

  test("simhash of identical texts is identical; near-dup texts are close") {
    val d = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "x y z q w e r t"))
      .toDF("id", "t")
    val sh = d.select(col("id"), Dedup.simhash(split(col("t"), "\\s+")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(3L))
  }

  test("exact dedup groups identical content") {
    val d = Seq((1L, "same text"), (5L, "same text"), (9L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(d, "doc_id", "text")
      .select("survivor_id", "n_dups").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 9L -> 1L))
  }

  test("brute-force top-k is exact and deterministic") {
    val emb = spark.read.parquet(sf("embeddings"))
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), k = 5)
      .orderBy("rank").collect()
    assert(out.length === 5)
    val sims = out.map(_.getAs[Double]("sim"))
    assert(sims.sliding(2).forall(p => p(0) >= p(1))) // descending
    assert(out.forall(_.getAs[Long]("vec_id") !== 0L)) // self excluded
  }

  test("IVF recall against brute force is reasonable on the fixture") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, k = 10)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, q, k = 10, nlist = 16, nprobe = 8)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("blocked near-dup join equals the quadratic definition (and parallelizes)") {
    val emb = spark.read.parquet(sf("embeddings"))
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val quad = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), Similarity.cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // rowsPerBlock = 100 forces a real multi-block grid on the 500-row fixture
    val blocked = Similarity.cosineNearDups(emb, threshold = 0.4, rowsPerBlock = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(blocked === quad)
    assert(blocked.nonEmpty)
    // the plan must be equi-join only — no cartesian / nested-loop node
    val plan = Similarity.cosineNearDups(emb, 0.4, rowsPerBlock = 100)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("cell-blocked approximate near-dup: exact precision, quantified recall") {
    val emb = spark.read.parquet(sf("embeddings"))
    val exact = Similarity.cosineNearDups(emb, threshold = 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.cosineNearDupsCells(emb, threshold = 0.4, nlist = 32, nprobe = 4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.subsetOf(exact)) // every emitted pair is truly ≥ threshold
    val recall = (approx intersect exact).size.toDouble / exact.size
    // uniform fixture = worst case for cell blocking; clustered corpora do better
    assert(recall >= 0.6, s"cell-blocked recall $recall")
  }

  test("connected components resolve transitive dup chains to min-id clusters") {
    // chain 1-2-3 (transitive), pair 10-11, singleton edge case via empty join
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val comp = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("as-of join: >= match, per-key scope, pre-snapshot nulls, equal-ts determinism") {
    val left = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 5L), // 5 precedes every right row
      (4L, "b", 20L), // key isolation: must see b's snapshot, not a's
      (5L, "c", 50L)) // key with no right rows at all
      .toDF("id", "k", "t")
    val right = Seq(
      ("a", 10L, "a@10"), ("a", 15L, "a@15"),
      ("a", 20L, "dup-v1"), ("a", 20L, "dup-v2"), // duplicate ts → deterministic max payload
      ("b", 19L, "b@19"))
      .toDF("k", "t", "v")
    val out = AsofJoin.asofBackward(left, right, Seq("k"), "t", "t", Seq("v"), prefix = "r_")
      .select("id", "r_t", "r_v").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else (r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) === (10L, "a@10")) // equal ts matches (>= semantics)
    assert(out(2L) === (20L, "dup-v2")) // duplicate right ts resolves to max payload
    assert(out(3L) === null) // nothing at or before t=5
    assert(out(4L) === (19L, "b@19"))
    assert(out(5L) === null)
  }

  test("range join: inclusive bounds, bin-edge values, degenerate and invalid intervals") {
    val left = Seq((1L, 0.0), (2L, 25.0), (3L, 50.0), (4L, 74.999), (5L, 200.0), (6L, Double.NaN))
      .toDF("id", "v")
    val right = Seq(
      (10L, 0.0, 50.0),    // boundary-inclusive on both ends
      (11L, 25.0, 25.0),   // degenerate single-point interval on a bin edge
      (12L, 75.0, 60.0),   // inverted → matches nothing
      (13L, 150.0, 300.0))
      .toDF("rid", "lo", "hi")
    val got = RangeJoin.intervalJoin(left, col("v"), right, "lo", "hi", binWidth = 25.0)
      .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 10L), (5L, 13L)))
    // plan shape: the binned formulation must stay an equi-join
    val plan = RangeJoin.intervalJoin(left, col("v"), right, "lo", "hi", binWidth = 25.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("contamination scan and join forms agree; decontaminate drops flagged docs") {
    val probes = docs.filter(col("doc_id").isin(3L, 7L))
      .select(explode(Dedup.shingles(split(col("text"), "\\s+"), 3)).as("p"))
      .distinct()
    val probeList = probes.collect().map(_.getString(0)).toSeq
    val viaScan = Curation.contaminationScan(docs, col("text"), probeList, 3)
      .select("doc_id", "matched_ngrams").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaJoin = Curation.contaminationJoin(docs, col("doc_id"), col("text"), probes, "p", 3)
      .select("doc_id", "matched_ngrams").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaScan === viaJoin)
    assert(viaScan(3L) > 0) // the benchmark doc flags itself
    val clean = Curation.decontaminate(docs, col("text"), probeList, 3)
    assert(clean.count() === docs.count() - viaScan.count(_._2 > 0))
    assert(clean.filter(col("doc_id") === 3L).isEmpty)
  }

  test("incremental dedup drops batch docs that duplicate the corpus, keeps novel ones") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "entirely different corpus content about spark and parquet files"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (11L, "the quick brown fox jumps over the lazy dog again and AGAIN today"), // near-dup of 1
      (12L, "completely novel text that matches nothing in the corpus at all"))
      .toDF("doc_id", "text")
    val dups = Dedup.minhashNearDupsAgainst(corpus, batch, "doc_id", "text")
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((1L, 10L)))
    assert(!dups.exists(_._2 == 12L))
    val survivors = Dedup.dedupAgainst(corpus, batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors.contains(12L) && !survivors.contains(10L))
    assert(!survivors.contains(11L), "near-dup should be screened out")
  }

  test("connected components close a 512-node path within the logarithmic round budget") {
    // worst case for plain min-propagation (needs ~n rounds); pointer
    // doubling must close it inside maxIter = 12 ≈ log2(512) + slack
    val pairs = (0L until 511L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val comp = Dedup.connectedComponents(pairs, "a_id", "b_id", maxIter = 12)
    assert(comp.count() === 512)
    assert(comp.select("cluster_id").distinct().collect().map(_.getLong(0)).toSeq === Seq(0L))
  }

  test("curation: hash sample is deterministic, quota bounds groups, pii redaction scrubs") {
    val sampled = Curation.hashSample(docs, col("doc_id"), 10)
    assert(sampled.count() === Curation.hashSample(docs, col("doc_id"), 10).count())
    assert(sampled.count() > 0 && sampled.count() < docs.count())

    val quota = Curation.groupQuota(docs, col("source"), 5, col("doc_id").asc)
    val perGroup = quota.groupBy("source").count().agg(max("count")).head().getLong(0)
    assert(perGroup <= 5)

    val r = Seq((1L, "mail me at a.b@x.co or call 555-123-4567 now"))
      .toDF("id", "t")
      .select(Curation.redactPii(col("t")).as("red"),
        Curation.piiCounts(col("t"))._1.as("e"), Curation.piiCounts(col("t"))._2.as("p"))
      .head()
    assert(r.getAs[String]("red") === "mail me at [EMAIL] or call [PHONE] now")
    assert(r.getAs[Int]("e") === 1 && r.getAs[Int]("p") === 1)
  }

  test("text functions are deterministic and sane") {
    val r = docs.select(
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.punctRatio(col("text")).as("p"),
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.langId(col("text")).as("l")).collect()
    assert(r.forall(_.getAs[Int]("n") > 0))
    assert(r.forall(x => x.getAs[Double]("q") >= 0.0 && x.getAs[Double]("q") <= 1.0))
    assert(r.forall(x => x.getAs[Double]("p") >= 0.0 && x.getAs[Double]("p") < 1.0))
    assert(r.map(_.getAs[String]("l")).toSet.subsetOf(
      TextFunctions.LangProfiles.map(_._1).toSet + "und"))
  }

  test("multimodal: REAL frameseq video decode (per-frame imageio) + frame sampling") {
    // video = length-prefixed real PNG frames; id i gets (i % 3) + 1 frames
    // of a 4×3 solid color with closed-form channel sum
    val vids = (0L until 10L).map { i =>
      val nF = (i % 3).toInt + 1
      val png = Multimodal.syntheticPng(4, 3, (i % 256).toInt, (i * 3 % 256).toInt, (i * 7 % 256).toInt)
      (i, Multimodal.frameSeq(Seq.fill(nF)(png)))
    }.toDF("id", "payload")
    val media = Multimodal.toMediaTable(vids, "id", "payload", "video/x-frameseq")
    assert(media.schema("media").dataType === org.apache.spark.sql.types.BinaryType)
    val rows = Multimodal.extractFeatures(spark, media).collect()
    assert(rows.length === 10)
    rows.foreach { f =>
      val i = f.media_id
      val expFrames = (i % 3).toInt + 1
      val perFrame = 12L * ((i % 256) + (i * 3 % 256) + (i * 7 % 256))
      assert(f.width === 4 && f.height === 3 && f.frames === expFrames)
      assert(f.channel_sum === perFrame * expFrames)
      assert(f.n_bytes > 0 && f.checksum.length === 32)
    }
    // expression-side checksum (scan-time) equals the mapPartitions-side one
    val exprSums = media.select("media_id", "checksum").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.forall(f => exprSums(f.media_id) === f.checksum))
    val frames = Multimodal.sampleFrames(Multimodal.extractFeatures(spark, media).toDF(), stride = 1)
    assert(frames.count() === rows.map(_.frames.toLong).sum)
  }

  test("multimodal: REAL WAV parse (RIFF chunk walk); non-WAV bytes → honest zeros") {
    val media = Seq(
      (1L, Multimodal.syntheticWav(8000, Array.tabulate(20)(i => (i * 100 - 1000).toShort))),
      (2L, "definitely not RIFF bytes".getBytes("UTF-8")),
      (3L, Array.emptyByteArray)
    ).toDF("id", "payload")
    val meta = Multimodal.audioMeta(spark,
        Multimodal.toMediaTable(media, "id", "payload", "audio/x-wav"))
      .collect().map(m => m.media_id -> m).toMap
    val ok = meta(1L)
    assert(ok.sample_rate === 8000L && ok.channels === 1L && ok.n_samples === 20L)
    assert(ok.duration_ms === 20L * 1000L / 8000L)
    assert(ok.amp_sum === (0 until 20).map(i => math.abs(i * 100 - 1000).toLong).sum)
    Seq(2L, 3L).foreach { id =>
      val z = meta(id)
      assert(z.sample_rate === 0L && z.n_samples === 0L && z.amp_sum === 0L)
    }
  }

  test("multimodal: windowed audio quality — mean-square power + silence permille " +
      "per segment, partial tail kept, non-WAV emits no rows") {
    // 10 silent samples, then 7 at 1000: window 4 → segments
    // [0,0,0,0] [0,0,0,0] [0,0,1000,1000] [1000,1000,1000,1000] [1000]
    val samples = Array.fill(10)(0.toShort) ++ Array.fill(7)(1000.toShort)
    val media = Seq(
      (1L, Multimodal.syntheticWav(8000, samples)),
      (2L, "not audio".getBytes("UTF-8"))
    ).toDF("id", "payload")
    val rows = Multimodal.audioQuality(spark,
        Multimodal.toMediaTable(media, "id", "payload", "audio/x-wav"),
        window = 4, silenceThreshold = 0)
      .collect().sortBy(r => (r.media_id, r.segment))
    assert(rows.forall(_.media_id === 1L)) // non-WAV: no rows, not fake zeros
    assert(rows.map(r => (r.segment, r.seg_samples, r.mean_sq, r.silence_permille)).toSeq
      === Seq(
        (0L, 4L, 0L, 1000L),
        (1L, 4L, 0L, 1000L),
        (2L, 4L, 2L * 1000L * 1000L / 4L, 500L),
        (3L, 4L, 1000L * 1000L, 0L),
        (4L, 1L, 1000L * 1000L, 0L))) // partial tail: its own 1-sample segment
  }

  test("multimodal: REAL imageio decode + nearest-neighbor resize; undecodable → honest zeros") {
    val imgs = (0L until 5L).map { i =>
      (i, Multimodal.syntheticPng(10, 5, (i % 256).toInt, (i * 3 % 256).toInt, (i * 7 % 256).toInt))
    }.toDF("id", "payload")
    val media = Multimodal.toMediaTable(imgs, "id", "payload", "image/png")
    val feats = Multimodal.extractFeatures(spark, media).collect()
    feats.foreach { f =>
      val i = f.media_id
      assert(f.width === 10 && f.height === 5 && f.frames === 1)
      assert(f.channel_sum === 50L * ((i % 256) + (i * 3 % 256) + (i * 7 % 256)))
    }
    // real resize: re-decode the resized PNG — solid color survives NN exactly
    val resized = Multimodal.resizeImages(spark, media, targetW = 4, targetH = 2)
    val rfeats = Multimodal.extractFeatures(spark,
      Multimodal.toMediaTable(resized.toDF(), "media_id", "media", "image/png")).collect()
    rfeats.foreach { f =>
      val i = f.media_id
      assert(f.width === 4 && f.height === 2)
      assert(f.channel_sum === 8L * ((i % 256) + (i * 3 % 256) + (i * 7 % 256)))
    }
    // deterministic: same input → same bytes
    val r1 = resized.collect()
    val r2 = Multimodal.resizeImages(spark, media, 4, 2).collect()
    assert(r1.sortBy(_.media_id).map(_.media.toSeq).toSeq ===
      r2.sortBy(_.media_id).map(_.media.toSeq).toSeq)

    // text bytes are NOT an image: decode yields honest zeros, resize passes through
    val fake = Multimodal.toMediaTable(docs.limit(3), "doc_id", "text", "image/fake")
    val fakeFeats = Multimodal.extractFeatures(spark, fake).collect()
    assert(fakeFeats.forall(f => f.width === 0 && f.height === 0 && f.frames === 0 && f.channel_sum === 0L))
    val passthrough = Multimodal.resizeImages(spark, fake, 64, 64).collect()
    val orig = fake.select("media_id", "media").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(passthrough.forall(r => orig(r.media_id) === r.media.toSeq))
  }

  test("repetition stats: hand-computed bigram fractions, short-doc edge") {
    val df = Seq(
      (1L, "a b a b a b"),      // bigrams: ab ba ab ba ab → top=3/5, distinct=2 → dup=3/5
      (2L, "x y z w"),          // bigrams: xy yz zw → top=1/3, dup=0
      (3L, "solo")              // < n words → the whole text as one gram
    ).toDF("doc_id", "text")
    val got = Curation.repetitionStats(df, col("doc_id"), col("text"), n = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(got(0) === ((1L, 3.0 / 5.0, 1.0 - 2.0 / 5.0)))
    assert(got(1) === ((2L, 1.0 / 3.0, 0.0)))
    assert(got(2) === ((3L, 1.0, 0.0)))
  }

  test("tfidf keywords: rare terms outrank common ones, ties break by term") {
    val df = Seq(
      (1L, "common rare common common"), // tf(common)=3 df=3; tf(rare)=1 df=1
      (2L, "common zebra"),
      (3L, "common apple")
    ).toDF("doc_id", "text")
    val got = Curation.tfidfKeywords(df, col("doc_id"), col("text"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // doc 1: common scores 3*(3/3)=3.0, rare 1*(3/1)=3.0 — tie → 'common' first
    assert(got.contains((1L, 1L, "common")) && got.contains((1L, 2L, "rare")))
    // docs 2/3: the unique term scores 3.0 > common's 1.0
    assert(got.contains((2L, 1L, "zebra")) && got.contains((3L, 1L, "apple")))
  }

  test("stratified sample: exact per-stratum counts, deterministic, subset of input") {
    val sampled = Curation.stratifiedSample(docs, col("source"), col("doc_id"), perStratum = 3)
    val bySource = sampled.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.keySet === sizes.keySet)
    bySource.foreach { case (src, n) => assert(n === math.min(3L, sizes(src))) }
    val again = Curation.stratifiedSample(docs, col("source"), col("doc_id"), 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === sampled.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("exact group percentiles: hand-computed interpolation, degenerate groups") {
    val df = Seq(
      ("a", 10.0), ("a", 20.0), ("a", 30.0), ("a", 40.0), // p50 of 4 → h=1.5 → 25.0
      ("b", 7.0)                                           // singleton → every p = 7.0
    ).toDF("g", "v")
    val got = Stats.groupPercentiles(df, col("g"), col("v"), Seq(0.0, 0.5, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got === Set(
      ("a", 0.0, 10.0), ("a", 0.5, 25.0), ("a", 1.0, 40.0),
      ("b", 0.0, 7.0), ("b", 0.5, 7.0), ("b", 1.0, 7.0)))
  }

  test("approx percentiles track the exact form on the fixture") {
    val vals = docs.select(col("source"),
      TextFunctions.tokenCount(col("text")).as("n"))
    val exact = Stats.groupPercentiles(vals, col("source"), col("n"), Seq(0.5))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val approx = Stats.approxGroupPercentiles(vals, col("source"), col("n"), Seq(0.5))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (k, v) =>
      // GK at accuracy 10000 on ~100-row groups is exact up to interpolation:
      // it returns a real element, so allow the one-gap slack
      assert(math.abs(approx(k) - v) <= 2.0, s"$k exact=$v approx=${approx(k)}")
    }
  }

  test("scalar quantization: codes in [0,255], error bounded by half a step, constant vectors") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = Similarity.scalarQuantize(emb).collect()
    assert(q.length === emb.count())
    q.foreach { r =>
      val codes = r.getSeq[Long](r.fieldIndex("codes"))
      assert(codes.forall(c => c >= 0 && c <= 255))
      val scale = r.getDouble(r.fieldIndex("scale"))
      // floor(x+0.5) rounds to nearest code → error ≤ scale/2 (+ float slack)
      assert(r.getDouble(r.fieldIndex("max_err")) <= scale / 2 + 1e-9)
    }
    val const = Seq((1L, Array.fill(8)(2.5f))).toDF("vec_id", "embedding")
    val cq = Similarity.scalarQuantize(const).head()
    assert(cq.getSeq[Long](cq.fieldIndex("codes")).forall(_ === 0L))
    assert(cq.getDouble(cq.fieldIndex("max_err")) === 0.0)
  }

  test("containment join equals the quadratic directed definition; catches small-in-large") {
    val snippets = docs.select((col("doc_id") + 200000).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 15)).as("text"))
    val all = docs.select("doc_id", "text").unionByName(snippets)
    def prefix(t: Double) =
      Dedup.ngramContainmentJoin(all, "doc_id", "text", n = 3, threshold = t)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (t <- Seq(0.7, 0.9)) {
      val quad = Dedup.ngramContainmentPairs(all, "doc_id", "text", n = 3, threshold = t)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pref = prefix(t)
      assert(pref === quad, s"threshold $t")
      if (t == 0.7) assert(withoutBroadcast(prefix(t)) === quad, s"threshold $t, no broadcast")
      // every planted snippet is contained in its source doc...
      val planted = docs.select("doc_id").collect()
        .map(r => (r.getLong(0) + 200000, r.getLong(0))).toSet
      assert(planted.subsetOf(pref), s"threshold $t")
    }
    // ...and symmetric Jaccard misses small-in-large at the same threshold
    val jac = Dedup.ngramJaccardPairs(all, "doc_id", "text", n = 3, threshold = 0.9)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedEither = docs.select("doc_id").collect().flatMap { r =>
      val (s, o) = (r.getLong(0) + 200000, r.getLong(0))
      Seq((s, o), (o, s))
    }.toSet
    assert((jac intersect plantedEither).size < plantedEither.size / 2)
  }

  test("url parsing: host/domain/path-depth edges and blocklist filter") {
    val urls = Seq(
      (1L, "https://www.blog.example.com/docs/en/5"),
      (2L, "http://example.org"),
      (3L, "https://shop.co/"),
      (4L, "https://a.b.site.net/x?q=1#frag"),
      (5L, "https://HOST.Example.COM/p/")).toDF("id", "url")
    val parsed = urls.select(col("id"),
        Curation.urlHost(col("url")).as("host"),
        Curation.urlRegistrableDomain(col("url")).as("dom"),
        Curation.urlPathDepth(col("url")).as("depth"))
      .orderBy("id").collect()
    assert(parsed.map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq === Seq(
      ("www.blog.example.com", "example.com", 3L),
      ("example.org", "example.org", 0L),
      ("shop.co", "shop.co", 0L),
      ("a.b.site.net", "site.net", 1L),
      ("host.example.com", "example.com", 1L)))
    val kept = Curation.domainBlocklistFilter(urls, col("url"), Seq("example.com"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L, 4L))
  }

  test("quality gate: each rule fires on its crafted doc, clean doc keeps") {
    val good = (Seq("the", "a", "of") ++ Seq.fill(50)("sensible")).mkString(" ")
    val docs = Seq(
      (1L, good),
      (2L, "the a short doc"),                                  // too_few_words
      (3L, (Seq("the", "a") ++ Seq.fill(60)("# 12 !!")).mkString(" ")), // low_alpha (+ short mean len)
      (4L, (1 to 50).map(_ => "zzzzzzzzzzzz").mkString(" ")),   // few_stopwords + mean_word_len
      (5L, "")).toDF("doc_id", "text")
    val out = Curation.qualityGate(docs, col("text"))
      .select("doc_id", "keep", "reasons").orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getBoolean(1))).toSeq ===
      Seq((1L, true), (2L, false), (3L, false), (4L, false), (5L, false)))
    val reasons = out.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(reasons(2L).contains("too_few_words"))
    assert(reasons(3L).contains("low_alpha"))
    assert(reasons(4L) === "few_stopwords,mean_word_len")
    // reasons list is sorted: construction order is the sorted rule list
    assert(out.forall(r => { val s = r.getString(2).split(",").toSeq; s == s.sorted }))
  }

  test("vocabulary: hand-computed tf/df, top-k cut breaks ties by term") {
    val docs = Seq(
      (1L, "b a a c"),
      (2L, "a b d"),
      (3L, "b")).toDF("doc_id", "text")
    val v = Curation.vocabulary(docs, col("doc_id"), col("text"), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // tf: a=3 b=3 c=1 d=1; df: a=2 b=3; tie a/b broken by term, then c beats d
    assert(v.toSeq === Seq(("a", 3L, 2L), ("b", 3L, 3L), ("c", 1L, 1L)))
  }

  test("line dedup: boilerplate lines stripped, body order kept, all-boilerplate doc survives empty") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nalpha body one\nbeta body one\nFOOTER"),
      (2L, "COOKIE BANNER\ngamma body two\nFOOTER"),
      (3L, "COOKIE BANNER\nFOOTER")).toDF("doc_id", "text")
    val out = Curation.lineDedup(docs, col("doc_id"), col("text"), maxDfFrac = 0.67)
      .orderBy("__id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "alpha body one\nbeta body one", 2L),
      (2L, "gamma body two", 1L),
      (3L, "", 0L)))
  }

  test("mixture sample: per-source rates honored, deterministic, default applies") {
    val docs = spark.read.parquet(sf("documents"))
    val rates = Map("src1" -> 0, "src2" -> 100)
    val out = Curation.mixtureSample(docs, col("source"), col("doc_id"), rates, defaultRate = 30)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("src1"))                  // rate 0 drops all
    assert(bySrc("src2") === totals("src2"))         // rate 100 keeps all
    // default-rate sources keep a strict, non-empty subset overall
    val restKept = bySrc.view.filterKeys(k => k != "src2").values.sum
    val restTotal = totals.view.filterKeys(k => !rates.contains(k)).values.sum
    assert(restKept > 0 && restKept < restTotal)
    // deterministic: same result both runs
    assert(out.orderBy("doc_id").collect() === Curation.mixtureSample(
      docs, col("source"), col("doc_id"), rates, 30).orderBy("doc_id").collect())
  }

  test("kmeans centroids: bit-deterministic across runs, refined IVF meets the recall bar") {
    val emb = spark.read.parquet(sf("embeddings"))
    def run() = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
      .orderBy("cent_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val a = run(); val b = run()
    assert(a.map(_._1).toSeq === b.map(_._1).toSeq)
    assert(a.map(_._2.toSeq).toSeq === b.map(_._2.toSeq).toSeq) // decimal sums: no float drift
    // refined centroids plug into ivfTopK and keep recall@10 over the bar
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val refined = Similarity.kmeansCentroids(emb, k = 16, iters = 2)
    val approx = Similarity.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 8,
        centroids = Some(refined))
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, t) =>
      approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
    assert(recalls.forall(_ >= 0.7), s"recalls: $recalls")
  }

  test("exact incremental dedup: corpus copies drop, novel docs survive, plan has no corpus shuffle") {
    val corpus = Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "ee ff")).toDF("doc_id", "text")
    val batch = Seq((10L, "aa bb"), (11L, "cc dd"), (12L, "new stuff"), (13L, "more new"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedupAgainst(corpus, batch, "text")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    assert(out.toSeq === Seq(12L, 13L))
    // scale shape: both joins broadcast the batch-sized side — no shuffle
    // of the corpus, no sort-merge join anywhere
    val plan = Dedup.exactDedupAgainst(corpus, batch, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("profile: null/distinct/min-max per column, one row per column") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), None), (None, Some("b")), (Some(2L), Some("b")))
      .toDF("k", "s")
    val out = Stats.profile(df, Seq("k" -> col("k"), "s" -> col("s")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(out.toSeq === Seq(
      ("k", 4L, 1L, 2L, "1", "2"),
      ("s", 4L, 1L, 2L, "a", "b")))
  }

  test("PQ-ADC with exact re-rank: deterministic, recall@10 over the bar on the fixture") {
    val emb = spark.read.parquet(sf("embeddings"))
    val queries = emb.filter(col("vec_id") < 5)
    def run() = Similarity.pqTopK(emb, queries, k = 10, dim = 64, m = 16, shortlist = 10)
      .select("query_id", "rank", "vec_id").orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val a = run()
    assert(a.toSeq === run().toSeq) // decimal kmeans + pinned tiebreaks → bit-stable
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = a.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recalls = exact.map { case (q, t) =>
      q -> approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
    assert(recalls.values.forall(_ >= 0.7), s"recalls: $recalls")
  }

  test("split assignment: covers every row, roughly honors weights, deterministic, rejects bad weights") {
    val docs = spark.read.parquet(sf("documents"))
    val out = Curation.assignSplits(docs, col("doc_id"),
      Seq("train" -> 90, "val" -> 5, "test" -> 5))
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count()
    assert(counts.values.sum === n) // total coverage, no row unassigned
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts("train") > n * 8 / 10) // weights roughly honored on 500 docs
    assert(counts("val") + counts("test") < n / 5)
    // deterministic across runs
    assert(out.orderBy("doc_id").collect() === Curation.assignSplits(
      docs, col("doc_id"), Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .orderBy("doc_id").collect())
    intercept[IllegalArgumentException](
      Curation.assignSplits(docs, col("doc_id"), Seq("a" -> 50, "b" -> 40)))
  }

  test("token-budget selection: exact bound, quality-prefix order, everything-fits passthrough") {
    val all = Curation.tokenBudgetSelect(docs, col("doc_id"), col("text"), budget = Long.MaxValue / 2)
      .collect()
    assert(all.length === docs.count()) // everything fits → whole corpus

    val budget = all.map(_.getAs[Long]("n_tokens")).sum / 3
    val sel = Curation.tokenBudgetSelect(docs, col("doc_id"), col("text"), budget).collect()
    assert(sel.nonEmpty && sel.length < all.length)
    // the budget bound is exact, never exceeded
    assert(sel.map(_.getAs[Long]("n_tokens")).sum <= budget)
    // strict quality-prefix: every selected bucket ≥ every unselected bucket
    val selIds = sel.map(_.getAs[Long]("doc_id")).toSet
    val minSel = sel.map(_.getAs[Long]("bucket")).min
    val maxUnsel = all.filterNot(r => selIds(r.getAs[Long]("doc_id")))
      .map(_.getAs[Long]("bucket")).max
    assert(maxUnsel <= minSel)
    // deterministic across runs
    val again = Curation.tokenBudgetSelect(docs, col("doc_id"), col("text"), budget)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again === selIds)
    intercept[IllegalArgumentException] {
      Curation.tokenBudgetSelect(docs, col("doc_id"), col("text"), 0L)
    }
  }

  test("word_ngrams keeps duplicates in order; shingles dedupes") {
    val df = Seq((1L, Seq("a", "b", "a", "b"))).toDF("id", "w")
    val raw = df.select(graft.functions.NativeExpressions.word_ngrams(col("w"), 2))
      .head().getSeq[String](0)
    assert(raw === Seq("a b", "b a", "a b"))
    val dedup = df.select(Dedup.shingles(col("w"), 2)).head().getSeq[String](0)
    assert(dedup === Seq("a b", "b a"))
  }

  test("token budget selection runs under REAL learned-BPE counts (counter hook)") {
    val words = docs.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    val vocab = words.groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", Bpe.charSyms(col("word")))
    val (_, vFinal) = Bpe.train(vocab, k = 8)
    // the trained segmentation as a literal map = the broadcast-join shape
    // in expression form (vocab is bounded)
    val seg = vFinal.select(col("word"), size(col("syms")).cast("long").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val segMap = map(seg.flatMap { case (w, n) => Seq(lit(w), lit(n)) }.toIndexedSeq: _*)
    def bpeCount(t: org.apache.spark.sql.Column) =
      aggregate(split(t, "\\s+"), lit(0L),
        (acc, w) => acc + coalesce(element_at(segMap, w), lit(1L)))
    val budget = 2000L
    val sel = Curation.tokenBudgetSelect(docs, col("doc_id"), col("text"), budget, bpeCount)
    val used = sel.agg(sum("n_tokens")).head().getLong(0)
    assert(used <= budget && used > 0)
    assert(sel.count() > 0 && sel.count() < docs.count()) // a real cut happened
    // and the counts in the selection ARE the BPE counts, not whitespace
    val cross = sel.join(docs, "doc_id")
      .select((col("n_tokens") === bpeCount(col("text"))).as("ok"))
    assert(cross.filter(!col("ok")).count() === 0)
  }

  test("NB quality classifier: separable planted labels classify perfectly; hand-computed score") {
    val d = Seq(
      (1L, "good nice good fine", true), (2L, "nice good fine good", true),
      (3L, "bad awful bad poor", false), (4L, "awful bad poor bad", false))
      .toDF("doc_id", "text", "y")
    val out = Curation.nbQualityClassifier(d, col("doc_id"), col("text"), col("y"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(3), r.getBoolean(4))).toMap
    // hand arithmetic: w(good) = qb4(5)-qb4(1) = floor(log2 5^4) = 9;
    // w(nice) = w(fine) = qb4(3) = 6; bias and prior are 0 (balanced
    // classes) → doc 1 score = 2*9 + 6 + 6 = 30; negatives mirror to -30
    assert(out(1L) === ((true, 30L, true)))
    assert(out(2L) === ((true, 30L, true)))
    assert(out(3L) === ((false, -30L, false)))
    assert(out(4L) === ((false, -30L, false)))
  }

  test("BPE: greedy fold is left-to-right non-overlapping; training matches hand-computed merges") {
    // greedy apply: aaaaa + merge(a,a) -> aa aa a (never aa a aa)
    val folded = Seq(Tuple1(Seq("a", "a", "a", "a", "a"))).toDF("syms")
      .select(Bpe.applyMerge(col("syms"), "a", "a")).head().getSeq[String](0)
    assert(folded === Seq("aa", "aa", "a"))
    // hand-computed training: vocab {aaab x3, ab x2}
    //   round 1: (a,a)=6 beats (a,b)=5            -> aa     aaab=[aa,a,b]
    //   round 2: (a,b)=3+2=5 beats (aa,a)=3       -> ab     aaab=[aa,ab] ab=[ab]
    //   round 3: (aa,ab)=3 is the only pair       -> aaab
    //   round 4: nothing left to merge — training stops early
    val vocab = Seq(("aaab", 3L), ("ab", 2L)).toDF("word", "freq")
      .withColumn("syms", Bpe.charSyms(col("word")))
    val (merges, vf) = Bpe.train(vocab, k = 10)
    assert(merges === Seq(Bpe.Merge(1, "a", "a"), Bpe.Merge(2, "a", "b"),
      Bpe.Merge(3, "aa", "ab")))
    val fin = vf.select("word", "syms").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(fin("aaab") === Seq("aaab") && fin("ab") === Seq("ab"))

    // UNSEEN words segment with the learned merges at inference time:
    // "aab" → a,a,b → (a,a)→[aa,b] → (a,b) no hit → (aa,ab) no hit
    val seg = Seq(Tuple1("aab")).toDF("w")
      .select(Bpe.segment(col("w"), merges)).head().getSeq[String](0)
    assert(seg === Seq("aa", "b"))
    // and tokenCounts falls back to on-the-fly segmentation, never drops
    val docsDf = Seq((1L, "aaab"), (2L, "aab zz")).toDF("doc_id", "word0")
      .select(col("doc_id"), explode(split(col("word0"), " ")).as("word"))
    val counts = Bpe.tokenCounts(docsDf, vf, merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) === 1L)       // known word: vocab segmentation
    assert(counts(2L) === 2L + 2L)  // aab=[aa,b]=2; zz unseen chars [z,z]=2
  }

  test("cross-doc span dedup: 60-token shared span localized in both docs, " +
      "within-doc repeats and short docs don't flag") {
    val span = (1 to 60).map(i => s"s$i").mkString(" ")
    val docA = ((1 to 20).map(i => s"a$i") :+ span) ++ (21 to 30).map(i => s"a$i")
    val docB = ((1 to 5).map(i => s"b$i") :+ span) ++ (6 to 45).map(i => s"b$i")
    // the repeated 8-gram lives ONLY inside doc C (twice) — must not flag
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val docC = Seq((1 to 10).map(i => s"c$i").mkString(" "), rep,
      (11 to 20).map(i => s"c$i").mkString(" "), rep,
      (21 to 30).map(i => s"c$i").mkString(" "))
    val d = Seq(
      (1L, docA.mkString(" ")),
      (2L, docB.mkString(" ")),
      (3L, docC.mkString(" ")),
      (4L, "too short to hold any span")).toDF("doc_id", "text")
    val spans = Dedup.crossDocSpans(d, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc A: span occupies token positions 21..80; doc B: positions 6..65 —
    // each must surface as ONE maximal island of exactly the shared tokens
    assert(spans === Set((1L, 21L, 60L), (2L, 6L, 60L)))
  }

  test("span removal cuts exactly the flagged ranges; a re-scan finds nothing") {
    val span = (1 to 60).map(i => s"s$i").mkString(" ")
    val docA = ((1 to 20).map(i => s"a$i") :+ span) ++ (21 to 30).map(i => s"a$i")
    val docB = ((1 to 5).map(i => s"b$i") :+ span) ++ (6 to 45).map(i => s"b$i")
    val d = Seq((1L, docA.mkString(" ")), (2L, docB.mkString(" ")),
      (3L, "untouched short doc")).toDF("doc_id", "text")
    val spans = Dedup.crossDocSpans(d, "doc_id", "text", k = 8)
    val cleaned = Dedup.removeSpans(d, "doc_id", "text", spans)
    val byId = cleaned.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1L) === ((1 to 20).map(i => s"a$i") ++ (21 to 30).map(i => s"a$i")).mkString(" "))
    assert(byId(2L) === ((1 to 5).map(i => s"b$i") ++ (6 to 45).map(i => s"b$i")).mkString(" "))
    assert(byId(3L) === "untouched short doc")
    // idempotence of the pipeline: the cleaned corpus carries no flagged span
    assert(Dedup.crossDocSpans(cleaned, "doc_id", "text", k = 8).isEmpty)
  }

  test("span dedup verify: identical output on real fixtures; a constructed " +
      "fingerprint collision is rejected ONLY by the verified path") {
    // the flag is output-neutral when no collision occurred (always, in
    // practice, under the real 60-bit fingerprint)
    val docs = spark.read.parquet(sf("documents")).select("doc_id", "text")
    def spanSet(verify: Boolean) =
      Dedup.crossDocSpans(docs, "doc_id", "text", k = 8, verify = verify)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val unverified = spanSet(verify = false)
    assert(unverified.nonEmpty) // the fixture's natural whole-doc duplicates
    assert(spanSet(verify = true) === unverified)

    // constructed collision: every gram fingerprints to 0, so two docs with
    // NO shared text look cross-doc duplicated to the fingerprint test —
    // only text verification can tell them apart. A REAL duplicate (doc 3
    // mirrors doc 1) must still survive the verified path.
    val d = Seq(
      (1L, (1 to 12).map(i => s"p$i").mkString(" ")),
      (2L, (1 to 12).map(i => s"q$i").mkString(" ")),
      (3L, (1 to 12).map(i => s"p$i").mkString(" "))).toDF("doc_id", "text")
    val collide: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _ => lit(0L)
    val falsePositives = Dedup.crossDocSpansBy(
        d.filter(col("doc_id") < 3), "doc_id", "text", k = 8, verify = false, collide)
      .count()
    assert(falsePositives === 2L) // one bogus span per doc
    assert(Dedup.crossDocSpansBy(
      d.filter(col("doc_id") < 3), "doc_id", "text", k = 8, verify = true, collide).isEmpty)
    val real = Dedup.crossDocSpansBy(d, "doc_id", "text", k = 8, verify = true, collide)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(real === Set((1L, 1L, 12L), (3L, 1L, 12L)))
  }

  test("cross-doc span dedup: spans further than k apart stay separate islands") {
    val shared1 = (1 to 10).map(i => s"x$i").mkString(" ")
    val shared2 = (1 to 12).map(i => s"y$i").mkString(" ")
    // doc 1 carries both shared runs separated by 20 unique tokens
    val doc1 = Seq(shared1, (1 to 20).map(i => s"g$i").mkString(" "), shared2).mkString(" ")
    val doc2 = Seq((1 to 9).map(i => s"h$i").mkString(" "), shared1).mkString(" ")
    val doc3 = Seq(shared2, (1 to 9).map(i => s"j$i").mkString(" ")).mkString(" ")
    val d = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val spans = Dedup.crossDocSpans(d, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set(
      (1L, 1L, 10L), (1L, 31L, 12L), // two distinct islands in doc 1
      (2L, 10L, 10L), (3L, 1L, 12L)))
  }
}
