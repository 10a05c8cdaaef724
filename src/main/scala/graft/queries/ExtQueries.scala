package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{AsofJoin, Curation, Dedup, Multimodal, RangeJoin, Similarity, Stats}
import graft.streaming.EventStreaming

/** Large-scale training-data-pipeline operators (dedup family, similarity
  * search, text analysis, multimodal plumbing, sessionization), each as a
  * Spark plan + DuckDB oracle. Probabilistic operators (minhash, simhash)
  * use the portable md5-based hash so the oracle reproduces them
  * cell-for-cell; the LSH variants are verified against the exhaustive
  * formulation — with the chosen band/chunk parameters recall is exact
  * (pigeonhole for simhash; empirically total for minhash at J≥0.5 vs the
  * 0.07 noise floor).
  */
object ExtQueries {
  type Q = (SparkSession, String) => DataFrame

  // ----------------------------------------------------------------- dedup

  /** Exact dedup over docs ∪ id-shifted copy (so real dup groups exist). */
  private val x01: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val copy = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    Dedup.exact(docs.unionByName(copy), "doc_id", "text")
      .select("survivor_id", "n_dups")
      .orderBy("survivor_id")
  }

  /** MinHash+LSH near-dups, Jaccard-verified (16 hashes, 4 bands × 4). */
  private val x02: Q = (s, d) =>
    Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .orderBy("a_id", "b_id")

  /** SimHash near-dups via pigeonhole chunking (exact recall for dist ≤ 3). */
  private val x03: Q = (s, d) =>
    Dedup.simhashNearDups(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 3, chunks = 4)
      .select(col("a_id"), col("b_id"), col("dist").cast(LongType).as("dist"))
      .orderBy("a_id", "b_id")

  /** Exact bigram-Jaccard pairs ≥ 0.6, source-blocked, via the prefix-filter
    * similarity join — identical output to the quadratic baseline (which the
    * oracle recomputes), but candidates come from a prefix-token equi-join
    * instead of the all-pairs product.
    */
  private val x04: Q = (s, d) =>
    Dedup.ngramJaccardPrefixJoin(Tables.documents(s, d), "doc_id", "text",
        n = 2, threshold = 0.6, blockCol = Some("source"))
      .withColumnRenamed("blk", "src")
      .select("src", "a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")

  /** Embedding-cosine near-dup pairs — the EXACT all-pairs contract
    * (intrinsically O(n²) compute, distributed as a blocked equi-join). At
    * corpus scale use the sub-quadratic cell-blocked path instead, which
    * x46 gates with a recall bar against this exact set.
    */
  private val x05: Q = (s, d) =>
    Similarity.cosineNearDups(Tables.embeddings(s, d), threshold = 0.4)
      .orderBy("a_id", "b_id")

  /** The SCALE path for embedding near-dup ([[Similarity.cosineNearDupsCells]],
    * SemDeDup-style IVF-cell blocking, sub-quadratic when the corpus
    * clusters) under an x07-style quality bar: its pair set must be a
    * SUBSET of the exact x05 set (it computes exact cosines on candidates,
    * so a false positive means broken arithmetic) and pair-recall vs exact
    * must clear the 0.6 floor measured on this deliberately uniform
    * worst-case fixture (clustered real corpora do better). The oracle
    * can't run the approximate algorithm, but it CAN pin both booleans.
    */
  private val x46: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val exact = Similarity.cosineNearDups(emb, threshold = 0.4).select("a_id", "b_id")
    val approx = Similarity.cosineNearDupsCells(emb, threshold = 0.4, nlist = 32, nprobe = 4)
      .select("a_id", "b_id")
    val hits = approx.join(exact, Seq("a_id", "b_id")).agg(count(lit(1)).as("n_hits"))
    val nApprox = approx.agg(count(lit(1)).as("n_approx"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    // 1-row aggregates: broadcast cross joins, the audited-safe shape
    nExact.crossJoin(nApprox).crossJoin(hits)
      .select(
        (col("n_hits") === col("n_approx")).as("subset_ok"),
        (col("n_hits") >= col("n_exact") * 0.6).as("recall_ok"))
  }

  /** Cluster-balanced diversity sampling: nearest-seed-centroid cell
    * assignment + exact per-cell quota in portable-hash order. Fully
    * deterministic (seed centroids, bit-mirrored cosine fold, md5-hash
    * pick), so the oracle reproduces the sample exactly.
    */
  private val x48: Q = (s, d) =>
    Similarity.clusterBalancedSample(Tables.embeddings(s, d), k = 10, nlist = 8)
      .orderBy("cell", "vec_id")

  /** CCNet-style corpus-LM quality score: add-one bigram LM trained on the
    * corpus itself. The hashed surface is the PURE-INTEGER quarter-bit
    * surprisal render (exact integer log2 via a pow2 table — no libm, no
    * decimals); the double `avg_nll` stays a library-only column.
    */
  private val x49: Q = (s, d) =>
    graft.operators.Curation.ngramLmScore(Tables.documents(s, d), col("doc_id"), col("text"))
      .select("doc_id", "n_bigrams", "avg_nll_qbits_e4")
      .orderBy("doc_id")

  /** Domain drift between every pair of sources' token distributions. The
    * hashed surface is the PURE-INTEGER ppb-quantized L1 distance; the
    * libm-dependent JS divergence stays a library-only double column.
    */
  private val x50: Q = (s, d) =>
    graft.operators.Curation.domainDrift(Tables.documents(s, d), col("source"), col("text"))
      .select("src_a", "src_b", "l1_ppb", "n_tokens", "n_shared")
      .orderBy("src_a", "src_b")

  /** Cross-source duplicate overlap matrix over documents ∪ a planted
    * 'mirror' source (every 5th doc re-tagged) so real overlap exists.
    */
  private val x51: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("source", "doc_id", "text")
    val planted = docs.filter(col("doc_id") % 5 === 0)
      .select(lit("mirror").as("source"), (col("doc_id") + 100000).as("doc_id"), col("text"))
    graft.operators.Curation.overlapMatrix(docs.unionByName(planted), col("source"), col("text"))
      .orderBy("src_a", "src_b")
  }

  /** Token-budget selection: the strict quality-ordered prefix of the
    * corpus fitting 20k whitespace tokens, quantized-bucket algorithm.
    */
  private val x52: Q = (s, d) =>
    graft.operators.Curation.tokenBudgetSelect(
        Tables.documents(s, d), col("doc_id"), col("text"), budget = 20000L)
      .orderBy("doc_id")

  /** Standing table-backed dedup index ([[graft.operators.DedupIndex]]):
    * the corpus's signatures/shingles are persisted ONCE as a MOR keyed
    * graft table; batch 1 (doc_id % 10 == 0) probes it and APPENDS its
    * survivors, batch 2 (doc_id % 10 == 5) probes the grown index — so its
    * screening also covers batch 1's survivors, with no corpus rescan on
    * either delivery. The oracle recomputes both screens exhaustively
    * (batch 2's NOT-EXISTS runs against corpus ∪ batch-1 survivors). The
    * staged index + result are cached per (session, sf dir): dedupAndAppend
    * mutates the index, so the query must not re-append on re-evaluation.
    */
  private val x53Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val x53: Q = (s, d) => {
    val out = x53Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x53")
      val docs = Tables.documents(s, d)
      val idx = s"$root/idx"
      graft.operators.DedupIndex.bootstrap(
        s, idx, docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      val s1 = graft.operators.DedupIndex.dedupAndAppend(
        s, idx, docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      val s2 = graft.operators.DedupIndex.dedupAndAppend(
        s, idx, docs.filter(col("doc_id") % 10 === 5), "doc_id", "text")
      s1.select(col("doc_id"), col("source")).withColumn("batch", lit(1L))
        .unionByName(
          s2.select(col("doc_id"), col("source")).withColumn("batch", lit(2L)))
        .write.mode("overwrite").parquet(s"$root/out")
      s"$root/out"
    })
    s.read.parquet(out).orderBy("doc_id")
  }

  /** Exact substring-level dedup ([[Dedup.crossDocSpans]], the Lee et al.
    * deduplicate-text-datasets operator as a distributed k-gram fingerprint
    * posting join): the maximal ≥8-token spans of each doc that appear
    * verbatim in another doc. The fixture's natural whole-doc duplicates
    * flag as full-length spans; planted "remix" docs (every 9th doc's
    * tokens 11–30 embedded between doc-unique filler runs) prove
    * SUB-document spans are found in both the remix AND the source doc.
    * The oracle recomputes positions, duplicated fingerprints, and the
    * island merge exhaustively.
    */
  /** The x54/x57 corpus: documents ∪ planted "remix" docs (every 9th doc's
    * tokens 11–30 embedded between doc-unique filler runs).
    */
  private def spanCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val w = split(col("text"), "\\s+")
    // fillers derive from the ORIGINAL id under a name no projection
    // re-aliases: a `col("doc_id")` here would lateral-alias-resolve to the
    // shifted id in the same select and silently diverge from the oracle's
    // filler text (invisible to x54's position-only surface, fatal to
    // x57's fingerprints)
    def filler(tag: String) = concat_ws(" ",
      transform(sequence(lit(1), lit(10)),
        i => concat(lit("rx"), col("orig_id"), lit(tag), i)))
    val remix = docs.filter(col("doc_id") % 9 === 0 && size(w) >= 30)
      .select(col("doc_id").as("orig_id"), col("text"))
      .select((col("orig_id") + 400000).as("doc_id"),
        concat_ws(" ", filler("a"),
          concat_ws(" ", slice(split(col("text"), "\\s+"), 11, 20)), filler("b"))
          .as("text"))
    docs.unionByName(remix)
  }

  private val x54: Q = (s, d) =>
    Dedup.crossDocSpans(spanCorpus(s, d), "doc_id", "text", k = 8)
      .orderBy("doc_id", "span_start")

  /** The removal half of the substring-dedup pipeline, oracle-gated: cut
    * every x54 span out of the corpus and pin the cleaned token counts and
    * an md5 fingerprint of every cleaned text — the oracle recomputes the
    * span set AND applies the same removal. Counting happens on the token
    * ARRAY (a fully-cut doc has 0 tokens; a text round-trip would make it
    * [""] = 1).
    */
  private val x57: Q = (s, d) => {
    val corpus = spanCorpus(s, d)
    val spans = Dedup.crossDocSpans(corpus, "doc_id", "text", k = 8)
    val perDoc = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_len"))).as("sp"))
    corpus.join(perDoc, Seq("doc_id"), "left")
      .withColumn("w", split(col("text"), "\\s+"))
      .withColumn("cw", when(col("sp").isNull, col("w")).otherwise(
        filter(col("w"), (_, i) => !exists(col("sp"), sp =>
          i + 1 >= sp.getField("span_start") &&
            i + 1 < sp.getField("span_start") + sp.getField("span_len")))))
      .select(col("doc_id"), size(col("cw")).cast(LongType).as("n_clean_tokens"),
        md5(concat_ws(" ", col("cw"))).as("clean_fp"))
      .orderBy("doc_id")
  }

  /** Real learned-BPE tokenizer ([[graft.operators.Bpe]]): train 12 greedy
    * merges on the corpus vocabulary, then count per-doc tokens under the
    * learned segmentation. ONE result pins BOTH surfaces: kind='merge'
    * rows carry the rank-ordered merge table, kind='doc' rows the real
    * token counts — the oracle re-runs the whole training (12 chained
    * materialized rounds mirroring the greedy fold) and the counting in
    * DuckDB, cell-for-cell.
    */
  private val x55: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val words = docs.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    val vocab = words.groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", graft.operators.Bpe.charSyms(col("word")))
    val (merges, vFinal) = graft.operators.Bpe.train(vocab, k = 12)
    import s.implicits._
    val mergeRows = merges
      .map(m => ("merge", m.rank.toLong, m.left, m.right, Option.empty[Long]))
      .toDF("kind", "id", "lft", "rgt", "n")
    val docRows = graft.operators.Bpe.tokenCounts(words, vFinal)
      .select(lit("doc").as("kind"), col("doc_id").as("id"),
        lit(null).cast(StringType).as("lft"), lit(null).cast(StringType).as("rgt"),
        col("n"))
    mergeRows.unionByName(docRows).orderBy("kind", "id")
  }

  /** Model-based quality classifier ([[Curation.nbQualityClassifier]]):
    * closed-form NB log-odds weights trained from the fixture's `lang`
    * column (positive = 'en'), scored in exact quarter-bit integer
    * arithmetic — the oracle re-runs training AND inference.
    */
  private val x56: Q = (s, d) =>
    Curation.nbQualityClassifier(Tables.documents(s, d),
        col("doc_id"), col("text"), col("lang") === "en")
      .orderBy("doc_id")

  /** Epoch-weighted mixing ([[Curation.epochMix]]): src0 at 2.3 epochs,
    * src1 at 0.4, everything else 1.0 — the oracle reproduces the repeat
    * plan, the fractional hash picks, and every shuffle key.
    */
  private val x58: Q = (s, d) =>
    Curation.epochMix(Tables.documents(s, d), col("source"), col("doc_id"),
        Seq("src0" -> 2.3, "src1" -> 0.4), defaultWeight = 1.0, seed = "epoch0")
      .orderBy("doc_id", "copy")

  // ------------------------------------------------------------ similarity

  /** Brute-force cosine top-10 for query vectors vec_id < 5. */
  private val x06: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
      .select("query_id", "rank", "vec_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** IVF ANN (16 cells, 8 probes) quantified against ground truth: for each
    * query, recall@10 of the IVF result vs the exact brute-force top-10,
    * thresholded per query at ≥0.7. The oracle can't reproduce the
    * approximate set independently, but it CAN assert the quality bar: a
    * recall regression flips `recall_ok` to false and the row
    * hash-mismatches. The bar is 0.7 because the fixture is deliberately
    * near-uniform (no cluster structure for the cells to exploit) — measured
    * per-query recall is 0.8–1.0 across sf0.001/0.01/0.1; clustered real
    * corpora do better.
    */
  private val x07: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    val ivf = Similarity.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 8)
      .select(col("query_id"), col("vec_id"))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select(col("query_id"), col("vec_id"))
    val hits = ivf.join(exact, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0)) >= col("n_truth") * 0.7).as("recall_ok"))
      .orderBy("query_id")
  }

  /** PQ-ADC + exact re-rank under the x07-style quality bar: recall@10 of
    * the product-quantized search vs the exact top-10, thresholded per
    * query at ≥0.7 (uniform fixture — the PQ worst case; measured 0.7–1.0
    * across SFs with m=16 subspaces and a 10× shortlist). Codebooks are
    * deterministic (decimal-summed Lloyd), so the bar is stable.
    */
  private val x44: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    val pq = Similarity.pqTopK(emb, queries, k = 10, dim = 64, m = 16, shortlist = 10)
      .select(col("query_id"), col("vec_id"))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select(col("query_id"), col("vec_id"))
    val hits = pq.join(exact, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0)) >= col("n_truth") * 0.7).as("recall_ok"))
      .orderBy("query_id")
  }

  /** MinHash signatures themselves (first 20 docs) — verifies the universal
    * hash family cell-for-cell, not just the downstream pair set. The
    * signature is emitted comma-joined (not array<bigint>) so the driver's
    * pandas compare can sort the column.
    */
  private val x15: Q = (s, d) =>
    Tables.documents(s, d).filter(col("doc_id") < 20)
      .select(col("doc_id"),
        concat_ws(",", Dedup.minhashSignature(
          Dedup.shingles(split(col("text"), "\\s+"), 3), 16)).as("sig"))
      .orderBy("doc_id")

  // ------------------------------------------------------------------ text

  private val x08: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  private val x09: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stop_ratio"),
      TextFunctions.meanWordLen(col("text")).as("mean_len"),
      TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  private val x10: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("ws_tokens"),
      TextFunctions.bpeTokenCount(col("text")).cast(LongType).as("bpe_tokens"))
      .orderBy("doc_id")

  private val x11: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp_md5"),
      TextFunctions.rollingFingerprint(col("text")).as("fp_roll"))
      .orderBy("doc_id")

  // -------------------------------------------------------------- curation

  /** Near-dup pairs → duplicate CLUSTERS via connected components, assigning
    * every doc a canonical cluster id (min doc_id of its component; singleton
    * docs are their own canonical). Pairs come from the MinHash+LSH stack
    * (the production-shaped pipeline: signatures → banded candidates →
    * Jaccard verify → components); the oracle recomputes components with a
    * recursive CTE over the exhaustive pair set, which the LSH pair set
    * matches on this corpus (x02 checks that equality directly).
    */
  private val x16: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
    val comp = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .withColumnRenamed("id", "doc_id")
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Deterministic 10% hash sample by doc_id — stable across runs/engines. */
  private val x17: Q = (s, d) =>
    Curation.hashSample(Tables.documents(s, d), col("doc_id"), percent = 10)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Per-source quota: keep the 10 longest docs (by whitespace tokens, ties
    * by doc_id) of each source — the balanced-corpus primitive.
    */
  private val x18: Q = (s, d) =>
    Curation.groupQuota(Tables.documents(s, d), col("source"), quota = 10,
        TextFunctions.tokenCount(col("text")).desc, col("doc_id").asc)
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      .orderBy("doc_id")

  /** PII detect + redact. The fixture corpus is synthetic (PII-free), so a
    * deterministic contact line is appended to every 7th doc on BOTH sides —
    * the operator's regexes then have real matches to find and scrub.
    */
  private val x19: Q = (s, d) => {
    val withPii = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"),
          lit(" contact: user"), col("doc_id"), lit("@example.com or 555-123-4567")))
        .otherwise(col("text")).as("text"))
    val (emails, phones) = Curation.piiCounts(col("text"))
    withPii.select(col("doc_id"),
        emails.cast(LongType).as("n_emails"),
        phones.cast(LongType).as("n_phones"),
        md5(Curation.redactPii(col("text"))).as("redacted_md5"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- events

  /** Gap sessionization (30 min), batch twin of the streaming operator. */
  private val x12: Q = (s, d) =>
    EventStreaming.sessionizeBatch(Tables.events(s, d), gapMinutes = 30)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  /** Tumbling-hour aggregation per event type (streaming twin exists). */
  private val x13: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00:00").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
      .orderBy("hour", "event_type")

  /** Token chunking: split every doc into 50-token windows with stride 40
    * (10-token overlap) — chunk text md5'd so the compare stays compact.
    */
  private val x21: Q = (s, d) =>
    Curation.chunk(Tables.documents(s, d), col("text"), chunkSize = 50, stride = 40)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** Sequential context-window packing: per source, docs in id order pack
    * into 500-token bins by cumulative token count.
    */
  /** Incremental dedup: probe a new batch (doc_id % 5 == 0) against the
    * standing corpus (the rest) and keep only the novel batch docs — the
    * shape that keeps a 100 TB deduped corpus immutable while each delivery
    * is screened in O(batch + collisions). The oracle recomputes the exact
    * NOT-EXISTS jaccard screen; the LSH params (16 hashes / 4 bands) have
    * total recall at threshold 0.5 on this fixture (x02 pins the same
    * property for the self-join form).
    */
  private val x23: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    Dedup.dedupAgainst(corpus, batch, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: treat docs 3 and 47 as the "benchmark", lift
    * their distinct word 3-grams as the probe set, and flag every corpus doc
    * sharing any probe verbatim — one literal array intersection inside the
    * scan ([[Curation.contaminationScan]]), zero shuffles at any corpus
    * size. The oracle recomputes probes and counts with the same set
    * semantics.
    */
  private val x24: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val probes = docs.filter(col("doc_id").isin(3L, 47L))
      .select(explode(Dedup.shingles(split(col("text"), "\\s+"), 3)).as("p"))
      .distinct().collect().map(_.getString(0)).toSeq
    Curation.contaminationScan(docs, col("text"), probes, 3)
      .filter(col("matched_ngrams") > 0)
      .select(col("doc_id"), col("source"), col("matched_ngrams"))
      .orderBy("doc_id")
  }

  /** Point-in-time enrichment ([[AsofJoin]]): every 10th event is a "profile
    * snapshot"; each event picks up the latest snapshot at or before its
    * timestamp per user — one key shuffle, no time-range pair explosion.
    * The oracle is DuckDB's native ASOF LEFT JOIN, so the >=-match,
    * per-key scoping, and no-snapshot-yet nulls are all hash-checked
    * against an independent implementation of the semantics.
    */
  private val x25: Q = (s, d) => {
    val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
    val snaps = Tables.events(s, d).filter(col("event_id") % 10 === 0)
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("snap_id"), max("event_type").as("snap_type"))
    AsofJoin.asofBackward(ev, snaps, Seq("user_id"), "ts", "ts",
        rightCols = Seq("snap_id", "snap_type"), prefix = "snap_")
      .select(col("event_id"), col("user_id"), col("snap_snap_id").as("snap_id"),
        col("snap_snap_type").as("snap_type"))
      .orderBy("event_id")
  }

  /** Interval join ([[RangeJoin]]): classify event values into overlapping
    * brackets through the binned equi-join — never a nested loop. The
    * oracle is DuckDB's BETWEEN join over the same literal brackets, so
    * bin-edge handling (values on bracket and bin boundaries) is
    * hash-checked exactly.
    */
  private val x26: Q = (s, d) => {
    import s.implicits._
    val brackets = Seq((1L, 0.0, 50.0), (2L, 25.0, 125.0), (3L, 100.0, 1000.0))
      .toDF("bracket_id", "lo", "hi")
    val ev = Tables.events(s, d).select(col("event_id"), col("value"))
    RangeJoin.intervalJoin(ev, col("value"), brackets, "lo", "hi", binWidth = 25.0)
      .select(col("event_id"), col("bracket_id"))
      .orderBy("event_id", "bracket_id")
  }

  private val x22: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast(LongType))
    Curation.packSequential(docs, col("source"), col("doc_id"), col("n_tokens"), budget = 500)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("bin"))
      .orderBy("doc_id")
  }

  /** Exactly-once dedup of an at-least-once event feed (batch twin of
    * [[EventStreaming.dedupStream]]): every 3rd event is "redelivered", the
    * dedup must restore the original relation exactly — checked through a
    * per-type aggregate against the pristine events table.
    */
  private val x20: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val redelivered = ev.unionByName(ev.filter(col("event_id") % 3 === 0))
    EventStreaming.dedupBatch(redelivered, Seq("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
      .orderBy("event_type")
  }

  /** Repetition quality signals (top-bigram coverage, duplicate-bigram
    * fraction, alphabetic fraction) — the Gopher/Dolma boilerplate filters.
    * All ratios are integer-over-integer IEEE divisions, so the oracle
    * reproduces them bit-for-bit.
    */
  private val x27: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val rep = Curation.repetitionStats(docs, col("doc_id"), col("text"), n = 2)
      .withColumnRenamed("__id", "doc_id")
    docs.select(col("doc_id"), Curation.alphaFrac(col("text")).as("alpha_frac"))
      .join(rep, Seq("doc_id"))
      .select("doc_id", "top_ngram_frac", "dup_ngram_frac", "alpha_frac")
      .orderBy("doc_id")
  }

  /** Keyword extraction: top-3 terms per doc by tf·idf (rational idf — see
    * [[Curation.tfidfKeywords]] for why not ln).
    */
  private val x28: Q = (s, d) =>
    Curation.tfidfKeywords(Tables.documents(s, d), col("doc_id"), col("text"), k = 3)
      .withColumnRenamed("__id", "doc_id")
      .orderBy("doc_id", "rank")

  /** Stratified sample: exactly 5 docs per source by md5-hash order. */
  private val x29: Q = (s, d) =>
    Curation.stratifiedSample(Tables.documents(s, d), col("source"), col("doc_id"),
        perStratum = 5)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** The SQL surface end-to-end: the same operators through
    * `spark.sql(...)` + the injected `graft_*` functions
    * ([[graft.functions.GraftExtensions]]) instead of the Column API — a
    * pure-SQL user gets identical results (the oracle recomputes every
    * column independently, including the native simhash expression).
    */
  private val x30: Q = (s, d) => {
    Tables.documents(s, d).createOrReplaceTempView("documents_sql")
    s.sql("""
      SELECT doc_id,
        CAST(graft_token_count(text) AS BIGINT) AS n_tokens,
        graft_lang_id(text) AS lang_pred,
        graft_fingerprint(text) AS fp_md5,
        graft_simhash60(split(text, '\\s+')) AS simhash,
        graft_hash60(doc_id) AS id_hash
      FROM documents_sql ORDER BY doc_id""")
  }

  /** Attribution join (batch twin of [[EventStreaming.intervalJoinStream]]):
    * each purchase pairs with the same user's views from the preceding 30
    * minutes. Equi-join on user_id with the interval as a join filter; the
    * streaming twin adds watermarks and is spec-checked to produce the same
    * pairs.
    */
  private val x31: Q = (s, d) => {
    val ev = Tables.events(s, d)
    EventStreaming.intervalJoinBatch(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"), windowMinutes = 30)
      .select(col("l_id").as("purchase_id"), col("user_id"), col("r_id").as("view_id"))
      .orderBy("purchase_id", "view_id")
  }

  /** Per-source token-count percentiles (p50/p90/p99) through the exact
    * explicit-interpolation operator ([[Stats.groupPercentiles]]) — the
    * threshold-picking profile pass. The approximate sketch twin is
    * spec-checked against this exact form.
    */
  private val x32: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("source"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
    Stats.groupPercentiles(docs, col("source"), col("n_tokens"), Seq(0.5, 0.9, 0.99))
      .withColumnRenamed("grp", "source")
      .orderBy("source", "p")
  }

  /** Embedding scalar quantization ([[Similarity.scalarQuantize]]): int8
    * codes + dequant params + max roundtrip error per vector, every
    * arithmetic step mirrored by the oracle in the same order.
    */
  private val x33: Q = (s, d) =>
    Similarity.scalarQuantize(Tables.embeddings(s, d))
      .select(col("vec_id"), concat_ws(",", col("codes")).as("codes"),
        col("offset"), col("scale"), col("max_err"))
      .orderBy("vec_id")

  /** Sliding-window aggregation (1 h window, 30 min slide): every event
    * lands in two windows; the oracle expands the assignment explicitly
    * with epoch-aligned starts. Streaming twin: [[EventStreaming.slidingAgg]].
    */
  private val x34: Q = (s, d) =>
    // same grouping as slidingAggBatch; the sum goes through DECIMAL so the
    // result is order-independent and the oracle can hash-match it
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("window_start", "event_type")

  /** Duplicate-cluster resolution by QUALITY (not min-id): for every
    * near-dup cluster keep the highest-quality member — the curation policy
    * real pipelines apply (x16 pins the min-id canonical variant). Pure
    * composition: LSH pairs → connected components → per-cluster argmax
    * window on the portable quality score.
    */
  private val x35: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val comp = Dedup.connectedComponents(
        Dedup.minhashNearDups(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "a_id", "b_id")
      .withColumnRenamed("id", "doc_id")
    val scored = docs.join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cluster_id"), col("n_members"), col("quality"))
      .orderBy("cluster_id")
  }

  /** Directed containment near-dups ([[Dedup.ngramContainmentJoin]]):
    * 15-word snippets of every doc (id-shifted) are planted as contained
    * texts; the join must find snippet→source pairs that symmetric Jaccard
    * misses (small-in-large). The oracle recomputes the exhaustive directed
    * definition.
    */
  private val x36: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val snippets = docs.select((col("doc_id") + 200000).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 15)).as("text"))
    Dedup.ngramContainmentJoin(docs.unionByName(snippets), "doc_id", "text",
        n = 3, threshold = 0.9)
      .select("a_id", "b_id", "containment")
      .orderBy("a_id", "b_id")
  }

  /** Exact incremental dedup against the standing corpus: half the batch is
    * verbatim corpus copies (must drop), half carries a novel suffix (must
    * survive). One fingerprint-only corpus scan, no corpus shuffle — the
    * continuous-ingest gate in front of every pipeline.
    */
  private val x42: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val copies = docs.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 300000).as("doc_id"), col("text"))
    val novel = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" novel-suffix")).as("text"))
    Dedup.exactDedupAgainst(docs, copies.unionByName(novel), "text")
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .orderBy("doc_id")
  }

  /** Table profile over orders: per-column null/distinct/min/max in one
    * aggregation pass — numerics render through DECIMAL so both engines
    * print identical strings.
    */
  private val x43: Q = (s, d) =>
    Stats.profile(Tables.orders(s, d), Seq(
      "o_custkey" -> col("o_custkey"),
      "o_orderdate" -> col("o_orderdate"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_totalprice" -> col("o_totalprice").cast(DecimalType(18, 2))))

  /** Deterministic 90/5/5 train/val/test assignment by hashed doc_id —
    * the split every training pipeline fixes once and must never reshuffle.
    */
  private val x45: Q = (s, d) =>
    Curation.assignSplits(Tables.documents(s, d), col("doc_id"),
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .select("doc_id", "split")
      .orderBy("doc_id")

  // -------------------------------------------------------- URL curation

  /** The driver fixture carries no URL column, so a documents-with-url
    * TABLE is staged once per (session, sf dir) — the URL becomes a real
    * stored parquet column the query reads back, not an expression
    * synthesized inside the query under test. The oracle re-derives the
    * same deterministic URLs from `documents` (it can only see the driver's
    * fixture tables), exactly as the lifecycle oracles recompute table end
    * states.
    */
  private val docsUrlCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def documentsWithUrl(s: SparkSession, d: String): String =
    docsUrlCache.getOrElseUpdate(d, {
      val tmp = CoreQueries.scratchDir("graft-docs-url")
      Tables.documents(s, d)
        .withColumn("url",
          concat(lit("https://www.example-"), col("source"), lit(".com/docs/"),
            col("lang"), lit("/"), col("doc_id")))
        .write.mode("overwrite").parquet(s"$tmp/docs")
      s"$tmp/docs"
    })

  /** URL dissection + domain blocklist verdict over the staged url column.
    * Everything is regex-in-scan: zero shuffles, blocklist ships as a
    * literal.
    */
  private val x37: Q = (s, d) => {
    // registrable domain VARIES with the source (example-srcN.com), so the
    // blocklist genuinely drops rows — a constant-domain derivation would
    // leave the branch exercised on zero rows
    val blocked = Seq("example-src3.com", "example-src13.com")
    s.read.parquet(documentsWithUrl(s, d))
      .withColumn("host", Curation.urlHost(col("url")))
      .withColumn("domain", Curation.urlRegistrableDomain(col("url")))
      .withColumn("path_depth", Curation.urlPathDepth(col("url")))
      .withColumn("keep", !col("domain").isin(blocked: _*))
      .select("doc_id", "host", "domain", "path_depth", "keep")
      .orderBy("doc_id")
  }

  /** Gopher-style composite quality gate: signals, failed-rule reasons, and
    * the keep verdict per document, oracle-mirrored arithmetic throughout.
    */
  private val x38: Q = (s, d) =>
    Curation.qualityGate(Tables.documents(s, d), col("text"))
      .select("doc_id", "wc", "mean_wlen", "alpha_frac", "stop_hits",
        "reasons", "keep")
      .orderBy("doc_id")

  /** Corpus vocabulary: top-100 tokens by term frequency with document
    * frequency; deterministic tie-break on the term.
    */
  private val x39: Q = (s, d) =>
    Curation.vocabulary(Tables.documents(s, d), col("doc_id"), col("text"), k = 100)

  /** C4-style line-level boilerplate removal: a shared header and footer
    * line are planted around every doc (the fixture has no multi-line
    * texts); [[Curation.lineDedup]] must strip exactly those (corpus-wide
    * df = 100%) and reassemble each doc's own body untouched. The oracle
    * recomputes line document-frequencies independently.
    */
  private val x40: Q = (s, d) => {
    val docs = Tables.documents(s, d).withColumn("t",
      concat_ws("\n", lit("subscribe to our newsletter"), col("text"),
        lit("all rights reserved")))
    Curation.lineDedup(docs, col("doc_id"), col("t"), maxDfFrac = 0.5)
      .withColumnRenamed("__id", "doc_id")
      .orderBy("doc_id")
  }

  /** Domain-mixture sampling: per-source keep rates (upsample src2,
    * downsample src1, default 25%) applied through the portable per-key
    * hash — the training-mixture reweighting primitive, deterministic in
    * both engines.
    */
  private val x41: Q = (s, d) =>
    Curation.mixtureSample(Tables.documents(s, d), col("source"), col("doc_id"),
        rates = Map("src1" -> 5, "src2" -> 80, "src3" -> 50), defaultRate = 25)
      .select("doc_id", "source")
      .orderBy("doc_id")

  // ------------------------------------------------------------ multimodal

  /** Binary media column plumbing: metadata extraction at scan time. */
  private val x14: Q = (s, d) =>
    Multimodal.toMediaTable(Tables.documents(s, d), "doc_id", "text", "text/plain")
      .select("media_id", "media_type", "n_bytes", "checksum")
      .orderBy("media_id")

  /** REAL image decode + resize under oracle check: deterministic solid
    * PNGs are synthesized per doc (dims and color closed-form in doc_id),
    * decoded with javax.imageio in the mapPartitions codec loop, resized
    * 8×6 nearest-neighbor, re-encoded, and decoded AGAIN — the oracle
    * predicts every decoded dimension and RGB channel sum from the
    * derivation formulas alone, so a codec that returns right sizes but
    * wrong pixels (or a resample that shifts a solid color) hash-fails.
    */
  private val x47: Q = (s, d) => {
    import s.implicits._
    val ids = Tables.documents(s, d).filter(col("doc_id") < 500)
      .select(col("doc_id").cast("long")).as[Long]
    val media = ids.mapPartitions(_.map { id =>
      Multimodal.MediaRow(id, "image/png",
        Multimodal.syntheticPng(((id % 31) + 1).toInt, ((id % 17) + 1).toInt,
          (id % 256).toInt, (id * 3 % 256).toInt, (id * 7 % 256).toInt))
    }).toDF()
    val feats = Multimodal.extractFeatures(s, media)
      .select("media_id", "width", "height", "frames", "channel_sum")
    val rfeats = Multimodal.extractFeatures(s,
        Multimodal.toMediaTable(
          Multimodal.resizeImages(s, media, targetW = 8, targetH = 6).toDF(),
          "media_id", "media", "image/png"))
      .select(col("media_id"), col("width").as("r_width"), col("height").as("r_height"),
        col("channel_sum").as("r_channel_sum"))
    feats.join(rfeats, "media_id").orderBy("media_id")
  }

  /** Context-window sequence packing ([[graft.operators.Packing]]): the
    * corpus concatenated in doc order and cut into 512-token windows —
    * which slice of which doc fills which window, docs straddling window
    * boundaries (the GPT-style concat-and-chunk shape x22's per-source bin
    * assignment doesn't cover). The global token offset is a two-level
    * distributed prefix sum (bounded range-partition windows + broadcast
    * per-partition offsets), never a one-partition window; the oracle
    * recomputes the packing with a plain SQL cumsum.
    */
  private val x59: Q = (s, d) =>
    graft.operators.Packing.packSequences(
        Tables.documents(s, d), col("doc_id"), col("text"), capacity = 512L)
      .orderBy("doc_id", "window_id")

  /** Video-path frame sampling under oracle check: deterministic
    * multi-frame containers ((doc_id % 7) + 2 identical real-PNG frames
    * each) decode in the codec loop — frame count from the container
    * split, channel sum over all frames — and every 3rd frame index
    * samples out distributed (posexplode of a sequence, no collect). The
    * oracle predicts frame counts, channel sums, and the stride arithmetic
    * closed-form from doc_id, so a codec that miscounts frames or a
    * sampler that drifts off stride hash-fails.
    */
  private val x60: Q = (s, d) => {
    import s.implicits._
    val ids = Tables.documents(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id").cast("long")).as[Long]
    val media = ids.mapPartitions(_.map { id =>
      val png = Multimodal.syntheticPng(4, 3,
        (id % 256).toInt, (id * 3 % 256).toInt, (id * 7 % 256).toInt)
      Multimodal.MediaRow(id, "video/x-frameseq",
        Multimodal.frameSeq(Seq.fill(((id % 7) + 2).toInt)(png)))
    }).toDF()
    val feats = Multimodal.extractFeatures(s, media).toDF()
    Multimodal.sampleFrames(feats, stride = 3)
      .join(feats.select(col("media_id"),
        col("frames").cast(LongType).as("frames"), col("channel_sum")), "media_id")
      .select(col("media_id"), col("frame_idx").cast(LongType).as("frame_idx"),
        col("frames"), col("channel_sum"))
      .orderBy("media_id", "frame_idx")
  }

  /** Audio-path metadata extraction under oracle check: real PCM16 WAV
    * bytes are synthesized per doc (rate, sample count, and every sample
    * value closed-form in doc_id), then parsed back by the RIFF chunk walk
    * ([[Multimodal.audioMeta]]) — header fields, integer duration, AND the
    * sum of |sample| over the PCM data, so a parser that reads the header
    * right but the samples wrong hash-fails. Completes the multimodal
    * triple: image (x47), video (x60), audio (x61).
    */
  private val x61: Q = (s, d) => {
    import s.implicits._
    val ids = Tables.documents(s, d).filter(col("doc_id") < 400)
      .select(col("doc_id").cast("long")).as[Long]
    val media = ids.mapPartitions(_.map { id =>
      val n = ((id % 50) + 10).toInt
      val samples = Array.tabulate(n)(i =>
        (((id * 7 + i.toLong * 31) % 65536) - 32768).toShort)
      Multimodal.MediaRow(id, "audio/x-wav",
        Multimodal.syntheticWav((8000 + (id % 3) * 4000).toInt, samples))
    }).toDF()
    Multimodal.audioMeta(s, media).toDF().orderBy("media_id")
  }

  /** Standing table-backed ANN index ([[graft.operators.AnnIndex]], the
    * similarity-search twin of x53's dedup index): centroids are trained
    * ONCE (deterministic Lloyd) and persisted with every corpus vector's
    * cell assignment as a keyed MOR graft table; a later batch APPENDS
    * without retraining (assignment against the stored centroids only),
    * and the probe is a broadcast bucket join against the stored cells —
    * zero Lloyd iterations at query time (AnnIndexSpec pins this
    * mechanically). Quality bar like x07: recall@10 ≥ 0.7 per query vs the
    * exact top-10 over the indexed corpus, computed in the same plan.
    * Staged index + result cached per sf dir — build/append mutate the
    * index, so re-evaluation must not re-commit.
    */
  private val x62Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val x62: Q = (s, d) => {
    // only the INDEX is staged (build + append mutate it); the probe +
    // recall computation run on EVERY evaluation — they are pure reads, so
    // the bench times the standing-index probe itself
    val idx = x62Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x62")
      val emb = Tables.embeddings(s, d)
      val p = s"$root/idx"
      graft.operators.AnnIndex.build(
        s, p, emb.filter(col("vec_id") >= 50), nlist = 16, iters = 2)
      graft.operators.AnnIndex.append(
        s, p, emb.filter(col("vec_id") >= 25 && col("vec_id") < 50))
      p
    })
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    val ann = graft.operators.AnnIndex.probe(s, idx, queries, k = 10, nprobe = 10)
      .select(col("query_id"), col("vec_id"))
    val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") >= 25), queries, k = 10)
      .select(col("query_id"), col("vec_id"))
    val hits = ann.join(exact, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0)) >= col("n_truth") * 0.7).as("recall_ok"))
      .orderBy("query_id")
  }

  /** Standing PQ index ([[graft.operators.PqIndex]], the compressed twin of
    * x62's IVF index): x44's trained codebooks + every vector's m-code
    * encoding persisted ONCE as a keyed MOR graft table; a later batch
    * appends by encoding against the STORED codebooks (no retraining), and
    * the probe is an ADC scan of stored codes + bounded exact re-rank —
    * zero Lloyd and zero re-encode at query time (PqIndexSpec pins this
    * mechanically). Quality bar like x44: recall@10 ≥ 0.7 per query vs the
    * exact top-10 over the indexed corpus, computed in the same plan.
    * Staged index + result cached per sf dir — build/append mutate it.
    */
  private val x64Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val x64: Q = (s, d) => {
    // index staged once (build + append mutate it); the ADC probe + recall
    // computation are pure reads and run per evaluation — benchable
    val idx = x64Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x64")
      val emb = Tables.embeddings(s, d)
      val p = s"$root/idx"
      graft.operators.PqIndex.build(
        s, p, emb.filter(col("vec_id") >= 50), dim = 64, m = 16, iters = 2)
      graft.operators.PqIndex.append(
        s, p, emb.filter(col("vec_id") >= 25 && col("vec_id") < 50), dim = 64, m = 16)
      p
    })
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    val pq = graft.operators.PqIndex.probe(
        s, idx, queries, k = 10, dim = 64, m = 16, shortlist = 10)
      .select(col("query_id"), col("vec_id"))
    val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") >= 25), queries, k = 10)
      .select(col("query_id"), col("vec_id"))
    val hits = pq.join(exact, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0)) >= col("n_truth") * 0.7).as("recall_ok"))
      .orderBy("query_id")
  }

  /** IVF-PQ composition ([[graft.operators.PqIndex]] with coarse cells —
    * the FAISS IVF-PQ scheme, layout AND quantization): codes encode the
    * RESIDUAL (vector − coarse centroid) against residual-trained
    * codebooks — the tighter distribution spends the (m, codebookSize)
    * budget where vectors differ from their cell — and every code/vector
    * row is stamped with its cell at build/append, so the probe scans
    * ONLY the nprobe probed cells' codes (reconstituting the absolute
    * score from broadcast cross-term tables) before the bounded exact
    * re-rank — ADC cost tracks nprobe/nlist of the corpus instead of all
    * of it, the sublinear scale path x64's flat scan stops short of. Same
    * staged-index + per-evaluation-probe shape as x62/x64 (benchable),
    * same recall@10 ≥ 0.7 oracle bar; PqIndexSpec pins that every
    * candidate comes from a probed cell and that nprobe only restricts,
    * never rescores (flat scan ≡ probing all cells, bit-identical).
    */
  private val x66Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val x66: Q = (s, d) => {
    val idx = x66Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x66")
      val emb = Tables.embeddings(s, d)
      val p = s"$root/idx"
      graft.operators.PqIndex.build(
        s, p, emb.filter(col("vec_id") >= 50), dim = 64, m = 16, iters = 2, nlist = 16)
      graft.operators.PqIndex.append(
        s, p, emb.filter(col("vec_id") >= 25 && col("vec_id") < 50), dim = 64, m = 16)
      p
    })
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    val pq = graft.operators.PqIndex.probe(
        s, idx, queries, k = 10, dim = 64, m = 16, shortlist = 10, nprobe = 10)
      .select(col("query_id"), col("vec_id"))
    val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") >= 25), queries, k = 10)
      .select(col("query_id"), col("vec_id"))
    val hits = pq.join(exact, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0)) >= col("n_truth") * 0.7).as("recall_ok"))
      .orderBy("query_id")
  }

  /** Audio QUALITY signals under oracle check ([[Multimodal.audioQuality]]):
    * the same closed-form PCM16 fixtures as x61, cut into 16-sample
    * segments — per segment the mean square power and the silence permille
    * (|s| ≤ 8192), all integer arithmetic, so the oracle recomputes every
    * row exactly from doc_id. This is the curation gate of the audio leg
    * (dead-air / clipping detection), the analogue of x38/x49's text
    * quality gates.
    */
  private val x63: Q = (s, d) => {
    import s.implicits._
    val ids = Tables.documents(s, d).filter(col("doc_id") < 400)
      .select(col("doc_id").cast("long")).as[Long]
    val media = ids.mapPartitions(_.map { id =>
      val n = ((id % 50) + 10).toInt
      val samples = Array.tabulate(n)(i =>
        (((id * 7 + i.toLong * 31) % 65536) - 32768).toShort)
      Multimodal.MediaRow(id, "audio/x-wav",
        Multimodal.syntheticWav((8000 + (id % 3) * 4000).toInt, samples))
    }).toDF()
    Multimodal.audioQuality(s, media, window = 16, silenceThreshold = 8192)
      .toDF().orderBy("media_id", "segment")
  }

  /** The audio ADMISSION GATE (x65, [[Multimodal.audioGate]]): x63's
    * segment rows folded to one verdict row per media — permille of silent
    * segments (dead air), permille of clipped segments, mean power, and
    * the boolean gate over all three, every number integer arithmetic so
    * the oracle recomputes verdicts exactly. The audio analogue of x38's
    * Gopher-style text gate; thresholds here are tuned so the fixture
    * yields BOTH verdicts (a gate that always passes tests nothing).
    */
  private val x65: Q = (s, d) => {
    import s.implicits._
    val ids = Tables.documents(s, d).filter(col("doc_id") < 400)
      .select(col("doc_id").cast("long")).as[Long]
    val media = ids.mapPartitions(_.map { id =>
      val n = ((id % 50) + 10).toInt
      val samples = Array.tabulate(n)(i =>
        (((id * 7 + i.toLong * 31) % 65536) - 32768).toShort)
      Multimodal.MediaRow(id, "audio/x-wav",
        Multimodal.syntheticWav((8000 + (id % 3) * 4000).toInt, samples))
    }).toDF()
    Multimodal.audioGate(s, media, window = 16, silenceThreshold = 8192,
      segmentSilencePermille = 60, maxSilentPermille = 200,
      clipMeanSq = 1000000000L, maxClipPermille = 340,
      minMeanPower = 900000000L)
      .orderBy("media_id")
  }

  /** Standing-index TAKEDOWN, ANN leg ([[graft.operators.AnnIndex.remove]]):
    * the removal set is exactly what the index was SERVING — the
    * pre-removal top-3 hits of the query set (the realistic compliance
    * shape: the flagged vectors were in results). After one keyed
    * tombstone delta, no removed id may ever surface from a probe again
    * (removed_hit) AND the probe must still clear the x62 recall bar
    * against the exact top-10 over the REMAINING corpus (recall_ok) — a
    * takedown that nukes quality is not a fix. Staged like x62; the
    * removal set persists beside the index so re-evaluations (and the
    * in-plan truth) see the same set.
    */
  private val x67Cache = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private val x67: Q = (s, d) => {
    val (idx, removedP) = x67Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x67")
      val emb = Tables.embeddings(s, d)
      val p = s"$root/idx"
      graft.operators.AnnIndex.build(
        s, p, emb.filter(col("vec_id") >= 25), nlist = 16, iters = 2)
      graft.operators.AnnIndex.probe(
          s, p, emb.filter(col("vec_id") < 5), k = 3, nprobe = 10)
        .select(col("vec_id")).distinct()
        .write.mode("overwrite").parquet(s"$root/removed")
      graft.operators.AnnIndex.remove(s, p, s.read.parquet(s"$root/removed"))
      (p, s"$root/removed")
    })
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    val removed = s.read.parquet(removedP)
    val ann = graft.operators.AnnIndex.probe(s, idx, queries, k = 10, nprobe = 10)
      .select(col("query_id"), col("vec_id"))
    val ghost = ann.join(removed, Seq("vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_ghost"))
    val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") >= 25).join(removed, Seq("vec_id"), "left_anti"),
        queries, k = 10)
      .select(col("query_id"), col("vec_id"))
    val hits = ann.join(exact, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .join(ghost, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_ghost"), lit(0)) > 0).as("removed_hit"),
        (coalesce(col("n_hits"), lit(0)) >= col("n_truth") * 0.7).as("recall_ok"))
      .orderBy("query_id")
  }

  /** Standing-index TAKEDOWN, dedup leg ([[graft.operators.DedupIndex.remove]]):
    * every corpus doc with doc_id % 10 == 3 is taken down, then ONE batch
    * probes the index carrying (a) the ordinary % 10 == 0 delivery and (b)
    * the REMOVED docs' exact content re-sent under shifted ids. A removed
    * entry left as a ghost would kill every (b) doc at Jaccard 1.0; the
    * contract is that re-sent content is screened ONLY by the remaining
    * corpus (the oracle's NOT-EXISTS runs against corpus MINUS the removed
    * set). Survivors append, so the takedown also re-opens the gate for
    * the content's next delivery. Staged like x53 — remove/append mutate
    * the index, so re-evaluation must not re-commit.
    */
  private val x68Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val x68: Q = (s, d) => {
    val out = x68Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x68")
      val docs = Tables.documents(s, d)
      val idx = s"$root/idx"
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      graft.operators.DedupIndex.bootstrap(s, idx, corpus, "doc_id", "text")
      graft.operators.DedupIndex.remove(
        s, idx, corpus.filter(col("doc_id") % 10 === 3).select("doc_id"), "doc_id")
      val resend = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 700000).as("doc_id"), col("source"), col("text"))
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .select("doc_id", "source", "text").unionByName(resend)
      graft.operators.DedupIndex.dedupAndAppend(s, idx, batch, "doc_id", "text")
        .select("doc_id", "source")
        .write.mode("overwrite").parquet(s"$root/out")
      s"$root/out"
    })
    s.read.parquet(out).orderBy("doc_id")
  }

  /** Derived-index CONSISTENCY from the base table's change feed
    * ([[graft.operators.IndexSync]]): the corpus lives as a keyed graft
    * table; one checkpointed CDC pull propagates its mutations to the
    * standing dedup index — the %10=3 docs DELETED from the corpus leave
    * the index (their re-sent content screens as NOVEL, the automated
    * x68), the %10=0 docs UPSERTED into the corpus start screening. The
    * probe batch carries both proofs at once and the oracle recomputes
    * the screen exhaustively against the corpus END STATE (original
    * members − deleted + inserted). Staged like x53/x68 — the sync
    * mutates corpus and index, so re-evaluation must not re-commit.
    */
  private val x69Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val x69: Q = (s, d) => {
    val out = x69Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x69")
      val docs = Tables.documents(s, d).select("doc_id", "source", "text")
      val corpusTbl = s"$root/corpus"
      val idx = s"$root/idx"
      graft.table.KeyedTable.create(s, corpusTbl,
        docs.filter(col("doc_id") % 5 =!= 0),
        tableName = "x69_corpus", keyFields = Seq("doc_id"),
        precombineField = "doc_id", partitionFields = Seq.empty,
        tableType = graft.model.TableType.MergeOnRead)
      graft.operators.DedupIndex.bootstrap(
        s, idx, graft.table.KeyedTable.read(s, corpusTbl), "doc_id", "text")
      val tip0 = graft.table.CommitLog.commits(s, corpusTbl).last.commitTime
      // corpus mutations: take down the %10=3 members, insert the %10=0 docs
      graft.table.KeyedTable.delete(s, corpusTbl,
        docs.filter(col("doc_id") % 10 === 3).select("doc_id"))
      graft.table.KeyedTable.upsert(s, corpusTbl,
        docs.filter(col("doc_id") % 10 === 0))
      graft.operators.IndexSync.syncDedup(
        s, corpusTbl, idx, s"$root/ckpt", "doc_id", "text",
        startAt = Some(tip0))
      // one batch probes both proofs: the ordinary %10=5 delivery plus the
      // deleted docs' content re-sent under shifted ids
      val resend = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 700000).as("doc_id"), col("source"), col("text"))
      val batch = docs.filter(col("doc_id") % 10 === 5).unionByName(resend)
      val dups = graft.operators.DedupIndex.probe(
        s, idx, batch, "doc_id", "text")
      batch.join(dups.select(col("b_id")).distinct(),
          col("doc_id") === col("b_id"), "left_anti")
        .select("doc_id", "source")
        .write.mode("overwrite").parquet(s"$root/out")
      s"$root/out"
    })
    s.read.parquet(out).orderBy("doc_id")
  }

  /** x69's HANDS-OFF twin ([[graft.operators.SyncRegistry]], T47): the
    * dedup index is REGISTERED on the corpus and never explicitly synced —
    * the corpus's own delete/upsert publishes fire the afterPublish hook,
    * whose single checkpointed CDC pull propagates each interval. Same
    * dual proof as x69 (different residues): the deleted %10=4 docs' re-sent
    * content screens as NOVEL, the inserted %10=1 docs screen the %10=6
    * delivery; the oracle recomputes the screen exhaustively against the
    * corpus END STATE. Staged like x69 — the publishes mutate corpus and
    * index, so re-evaluation must not re-commit.
    */
  private val x70Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val x70: Q = (s, d) => {
    val out = x70Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x70")
      val docs = Tables.documents(s, d).select("doc_id", "source", "text")
      val corpusTbl = s"$root/corpus"
      val idx = s"$root/idx"
      graft.table.KeyedTable.create(s, corpusTbl,
        docs.filter(col("doc_id") % 5 =!= 1),
        tableName = "x70_corpus", keyFields = Seq("doc_id"),
        precombineField = "doc_id", partitionFields = Seq.empty,
        tableType = graft.model.TableType.MergeOnRead)
      graft.operators.DedupIndex.bootstrap(
        s, idx, graft.table.KeyedTable.read(s, corpusTbl), "doc_id", "text")
      val tip0 = graft.table.CommitLog.commits(s, corpusTbl).last.commitTime
      graft.operators.SyncRegistry.register(s, corpusTbl, "dedup",
        graft.operators.SyncRegistry.DedupSpec(idx, "doc_id", "text"),
        basis = Some(tip0))
      // corpus mutations — NO sync call anywhere: each publish's hook
      // propagates its own interval to the registered index
      graft.table.KeyedTable.delete(s, corpusTbl,
        docs.filter(col("doc_id") % 10 === 4).select("doc_id"))
      graft.table.KeyedTable.upsert(s, corpusTbl,
        docs.filter(col("doc_id") % 10 === 1))
      val resend = docs.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + 800000).as("doc_id"), col("source"), col("text"))
      val batch = docs.filter(col("doc_id") % 10 === 6).unionByName(resend)
      val dups = graft.operators.DedupIndex.probe(
        s, idx, batch, "doc_id", "text")
      batch.join(dups.select(col("b_id")).distinct(),
          col("doc_id") === col("b_id"), "left_anti")
        .select("doc_id", "source")
        .write.mode("overwrite").parquet(s"$root/out")
      s"$root/out"
    })
    s.read.parquet(out).orderBy("doc_id")
  }

  /** Bench twin of x70 that times the SYNC HOOK's steady-state loop alone
    * (the q22b pattern): corpus + registered dedup index stage ONCE per sf
    * dir; each evaluation upserts one run-stamped batch into the CORPUS
    * (the publish hook pulls the CDC interval and appends the entries to
    * the index), retires the previous run's batch (hook propagates the
    * tombstones too — net index growth stays one batch), then probes the
    * index with the same content under shifted ids: every probe doc must
    * screen as a dup of THIS run's just-synced entries, so the result is
    * the probe batch itself — and a hook that failed to propagate returns
    * too few rows (insert leg) instead of silently passing. A fresh JVM
    * (Verify) evaluates run 1, which the oracle pins exhaustively.
    */
  private val x71Scaffold = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private val x71Run = new java.util.concurrent.atomic.AtomicLong(0L)
  private val x71: Q = (s, d) => {
    val (corpusTbl, idx) = x71Scaffold.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x71")
      val docs = Tables.documents(s, d).select("doc_id", "source", "text")
      val c = s"$root/corpus"
      val i = s"$root/idx"
      graft.table.KeyedTable.create(s, c, docs.filter(col("doc_id") % 5 =!= 2),
        tableName = "x71_corpus", keyFields = Seq("doc_id"),
        precombineField = "doc_id", partitionFields = Seq.empty,
        tableType = graft.model.TableType.MergeOnRead)
      graft.operators.DedupIndex.bootstrap(
        s, i, graft.table.KeyedTable.read(s, c), "doc_id", "text")
      graft.operators.SyncRegistry.register(s, c, "dedup",
        graft.operators.SyncRegistry.DedupSpec(i, "doc_id", "text"),
        basis = Some(graft.table.CommitLog.commits(s, c).last.commitTime))
      (c, i)
    })
    val n = x71Run.incrementAndGet()
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    // %10=7 content is OUTSIDE the corpus residue (7 % 5 = 2), so run n's
    // offset copies are the only index entries carrying it
    val batch = docs.filter(col("doc_id") % 10 === 7)
    graft.table.KeyedTable.upsert(s, corpusTbl, batch
      .select((col("doc_id") + lit(n * 100000000L)).as("doc_id"),
        col("source"), col("text")))
    if (n > 1)
      graft.table.KeyedTable.delete(s, corpusTbl, batch
        .select((col("doc_id") + lit((n - 1) * 100000000L)).as("doc_id")))
    val probe = batch.select((col("doc_id") + 700000).as("doc_id"),
      col("source"), col("text"))
    val dups = graft.operators.DedupIndex.probe(
      s, idx, probe, "doc_id", "text")
    probe.join(dups.select(col("b_id")).distinct(),
        col("doc_id") === col("b_id"), "left_semi")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** BM25 retrieval over the corpus ([[graft.operators.Retrieval.bm25TopK]]):
    * five fixed multi-term queries, top-10 docs each. Oracle-checked with
    * the rational-idf variant (`lnIdf = false` — libm's ln is not
    * bit-portable across engines; per-term contributions are IEEE-exact,
    * quantized to DECIMAL(38,12) and summed exactly on both sides, one
    * double cast at the end, rank ties broken by doc_id).
    */
  private val x72: Q = (s, d) => {
    import s.implicits._
    val qs = Seq(
      (1L, "fast join query"), (2L, "stream window batch"),
      (3L, "customer table scan"), (4L, "slow merge sort agg dup"),
      (5L, "spark data row value")).toDF("query_id", "qtext")
    graft.operators.Retrieval.bm25TopK(
        Tables.documents(s, d), col("doc_id"), col("text"), qs,
        k = 10, lnIdf = false)
      .orderBy("query_id", "rank")
  }

  /** The standing inverted index x73/x74 share, staged once per sf dir:
    * build(half corpus) + replace-append(other half) — so the append path
    * is inside the oracle-checked surface — then [[TextIndex.optimize]]'s
    * term-clustered layout pass, so the timed probes run against the
    * layout a production index would hold (the pushed query-term IN
    * prunes posting row groups by parquet min/max).
    */
  private val textIdxCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def textIdx(s: SparkSession, d: String): String =
    textIdxCache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x73")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val i = s"$root/idx"
      graft.operators.TextIndex.build(s, i,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      graft.operators.TextIndex.append(s, i,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      graft.operators.TextIndex.optimize(s, i)
      i
    })

  /** Standing inverted index ([[graft.operators.TextIndex]]): BM25 served
    * from STORED postings — dl denormalized on each posting and (N, Σdl)
    * from the 2-row stats partition, so the probe touches nothing sized by
    * the corpus. The probe must match the exhaustive full-corpus recompute
    * (x72's SQL shape under different queries). Probe is read-only, so
    * evaluations after the first time the probe alone.
    */
  private val x73: Q = (s, d) => {
    import s.implicits._
    val idx = textIdx(s, d)
    val qs = Seq(
      (1L, "merge window dup"), (2L, "hash scan part"),
      (3L, "big line column"), (4L, "the a value"),
      (5L, "query customer stream sort")).toDF("query_id", "qtext")
    graft.operators.TextIndex.probe(s, idx, qs, k = 10, lnIdf = false)
      .orderBy("query_id", "rank")
  }

  /** Exact-phrase retrieval from the standing index's POSITIONAL postings
    * ([[graft.operators.TextIndex.phraseTopK]]): docs ranked by occurrence
    * count of the consecutive word sequence — a bag-of-terms engine cannot
    * answer this. All-integer scoring (occurrence counts, rank ties by
    * doc_id), so the oracle is exact by construction; the phrase terms push
    * into the posting scan as the same literal IN as x73's probe.
    */
  private val x74: Q = (s, d) => {
    import s.implicits._
    val idx = textIdx(s, d)
    val qs = Seq(
      (1L, "table scan"), (2L, "merge part window"),
      (3L, "the fast"), (4L, "batch batch"),
      (5L, "stream window")).toDF("query_id", "phrase")
    graft.operators.TextIndex.phraseTopK(s, idx, qs, k = 10)
      .orderBy("query_id", "rank")
  }

  /** Minimal-window proximity retrieval from the standing index's
    * positional postings ([[graft.operators.TextIndex.proximityTopK]]):
    * docs ranked by the TIGHTEST token span covering every query term —
    * the other classic positional-index operator beside phrases.
    * All-integer scoring (span ASC, doc_id ties), exact oracle; the query
    * terms push into the posting scan as the shared literal IN.
    */
  private val x76: Q = (s, d) => {
    import s.implicits._
    val idx = textIdx(s, d)
    val qs = Seq(
      (1L, "customer stream"), (2L, "fast join query"),
      (3L, "merge sort agg"), (4L, "vector scan"),
      (5L, "the batch window")).toDF("query_id", "qtext")
    graft.operators.TextIndex.proximityTopK(s, idx, qs, k = 10)
      .orderBy("query_id", "rank")
  }

  /** Slop-phrase retrieval from the standing index's positional postings
    * ([[graft.operators.TextIndex.phraseTopK]] with `slop = 1`): in-order
    * phrase matching tolerating one positional gap per word — the query
    * between x74's exact adjacency and x76's free proximity window. An
    * occurrence is a distinct matching anchor; all-integer ranking keeps
    * the oracle exact, and the phrase terms push into the posting scan as
    * the shared literal IN.
    */
  private val x78: Q = (s, d) => {
    import s.implicits._
    val idx = textIdx(s, d)
    val qs = Seq(
      (1L, "fast query"), (2L, "merge window"),
      (3L, "the scan"), (4L, "stream batch"),
      (5L, "customer sort")).toDF("query_id", "phrase")
    graft.operators.TextIndex.phraseTopK(s, idx, qs, k = 10, slop = 1)
      .orderBy("query_id", "rank")
  }

  /** Per-source doc counts from a GROUPED standing text index
    * ([[graft.operators.TextIndex.groupCounts]]): the (N, Σdl) stats-row
    * pattern generalized — one `n.<source>` doc-count row per source,
    * stepped in the SAME commit as every build/append/remove, so the
    * x18-style quota decision reads O(sources) stats rows at probe time
    * and NOTHING sized by the corpus. Staged as build(half, grouped) +
    * append(half) + remove(every 10th doc), so all three stepping legs are
    * inside the oracle-checked surface.
    */
  private val x79Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val x79: Q = (s, d) => {
    val idx = x79Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x79")
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val i = s"$root/idx"
      graft.operators.TextIndex.build(s, i,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        groupCol = Some("source"))
      graft.operators.TextIndex.append(s, i,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      graft.operators.TextIndex.remove(s, i,
        docs.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id")
      i
    })
    graft.operators.TextIndex.groupCounts(s, idx)
      .withColumn("quota_keep", least(col("n_docs"), lit(25L)))
      .select("source", "n_docs", "n_tokens", "quota_keep")
      .orderBy("source")
  }

  /** Per-source doc AND token counts from a GROUPED + FIELDED standing
    * index: the two mode stamps compose — `text.fields` drives BM25F
    * scoring, `text.group` maintains the per-source stats rows (token
    * counts span ALL fields: a doclen row's tf is the doc's total length
    * across fields), both stepped in the same commits through
    * buildFielded/appendFielded/remove. Same O(groups) zero-corpus-read
    * probe as x79.
    */
  private val x80Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val x80: Q = (s, d) => {
    val idx = x80Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x80")
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val i = s"$root/idx"
      graft.operators.TextIndex.buildFielded(s, i,
        docs.filter(col("doc_id") % 2 === 0), "doc_id",
        Seq("text" -> "text", "source" -> "source"),
        groupCol = Some("source"))
      graft.operators.TextIndex.appendFielded(s, i,
        docs.filter(col("doc_id") % 2 === 1), "doc_id")
      graft.operators.TextIndex.remove(s, i,
        docs.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id")
      i
    })
    graft.operators.TextIndex.groupCounts(s, idx)
      .select("source", "n_docs", "n_tokens")
      .orderBy("source")
  }

  /** Exact-phrase retrieval from a FIELDED index's positional postings
    * (`buildFielded(positionsFor = "text")`): the positions of the ONE
    * stamped field ride its posting rows, so phrase/proximity serve that
    * field's token stream from the SAME standing index that answers BM25F
    * — no second single-field index needed for the dominant
    * phrase-search-the-body case. Ranking must be bit-identical to the
    * single-field anchor recompute over the text column.
    */
  private val x81Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val x81: Q = (s, d) => {
    import s.implicits._
    val idx = x81Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x81")
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val i = s"$root/idx"
      graft.operators.TextIndex.buildFielded(s, i,
        docs.filter(col("doc_id") % 2 === 0), "doc_id",
        Seq("text" -> "text", "source" -> "source"),
        positionsFor = Some("text"))
      graft.operators.TextIndex.appendFielded(s, i,
        docs.filter(col("doc_id") % 2 === 1), "doc_id")
      graft.operators.TextIndex.optimize(s, i)
      i
    })
    val qs = Seq(
      (1L, "customer table"), (2L, "window batch"),
      (3L, "the slow"), (4L, "join query"),
      (5L, "merge sort")).toDF("query_id", "phrase")
    graft.operators.TextIndex.phraseTopK(s, idx, qs, k = 10)
      .orderBy("query_id", "rank")
  }

  /** Field-boosted BM25F-lite ([[graft.operators.Retrieval.bm25fTopK]]):
    * body (`text`, weight 1) + tag (`source`, weight 3) — weighted tf/dl
    * stay exact longs, so the x72 oracle discipline (rational idf,
    * DECIMAL(38,12) term sums) carries over unchanged; the oracle builds
    * the same weighted postings from a per-field UNION.
    */
  private val x75: Q = (s, d) => {
    import s.implicits._
    val qs = Seq(
      (1L, "fast join src3"), (2L, "customer src7 scan"),
      (3L, "slow src1 merge"), (4L, "src5 window"),
      (5L, "spark value src19 row")).toDF("query_id", "qtext")
    graft.operators.Retrieval.bm25fTopK(
        Tables.documents(s, d), col("doc_id"),
        Seq(col("text") -> 1, col("source") -> 3), qs,
        k = 10, lnIdf = false)
      .orderBy("query_id", "rank")
  }

  /** BM25F from a STANDING FIELDED index
    * ([[graft.operators.TextIndex.bm25fProbe]]): per-field tf and length
    * maps ride each posting denormalized, (N, per-field Σdl) come from the
    * stats rows, weights fold at probe time as integer expressions — the
    * x75 recompute's scale leg. The index stages once per sf dir as
    * buildFielded(half) + appendFielded(half) (the fielded REPLACE path is
    * inside the oracle-checked surface); probes must match the exhaustive
    * weighted recompute bit-for-bit.
    */
  private val x77Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val x77: Q = (s, d) => {
    import s.implicits._
    val idx = x77Cache.getOrElseUpdate(d, {
      val root = CoreQueries.scratchDir("graft-x77")
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val i = s"$root/idx"
      graft.operators.TextIndex.buildFielded(s, i,
        docs.filter(col("doc_id") % 2 === 0), "doc_id",
        Seq("text" -> "text", "source" -> "source"))
      graft.operators.TextIndex.appendFielded(s, i,
        docs.filter(col("doc_id") % 2 === 1), "doc_id")
      graft.operators.TextIndex.optimize(s, i)
      i
    })
    val qs = Seq(
      (1L, "slow filter src2"), (2L, "join src11 row"),
      (3L, "src4 batch hash"), (4L, "key src16"),
      (5L, "window src8 agg value")).toDF("query_id", "qtext")
    graft.operators.TextIndex.bm25fProbe(s, idx, qs,
        Seq("text" -> 1, "source" -> 3), k = 10, lnIdf = false)
      .orderBy("query_id", "rank")
  }

  val queries: Map[String, Q] = Map(
    "x01_dedup_exact" -> x01,
    "x02_dedup_minhash_lsh" -> x02,
    "x03_dedup_simhash" -> x03,
    "x04_dedup_ngram_jaccard" -> x04,
    "x05_dedup_embedding" -> x05,
    "x06_ann_topk_brute" -> x06,
    "x07_ann_ivf" -> x07,
    "x08_lang_id" -> x08,
    "x09_text_quality" -> x09,
    "x10_token_count" -> x10,
    "x11_fingerprint" -> x11,
    "x12_sessionize" -> x12,
    "x13_hourly_agg" -> x13,
    "x14_multimodal_meta" -> x14,
    "x15_minhash_sig" -> x15,
    "x16_dup_clusters" -> x16,
    "x17_hash_sample" -> x17,
    "x18_source_quota" -> x18,
    "x19_pii_redact" -> x19,
    "x20_stream_dedup" -> x20,
    "x21_chunking" -> x21,
    "x22_packing" -> x22,
    "x23_incremental_dedup" -> x23,
    "x24_decontaminate" -> x24,
    "x25_asof_join" -> x25,
    "x26_range_join" -> x26,
    "x27_repetition" -> x27,
    "x28_tfidf_keywords" -> x28,
    "x29_stratified_sample" -> x29,
    "x30_sql_surface" -> x30,
    "x31_stream_join" -> x31,
    "x32_token_percentiles" -> x32,
    "x33_vec_quantize" -> x33,
    "x34_sliding_agg" -> x34,
    "x35_dedup_best_keep" -> x35,
    "x36_containment" -> x36,
    "x37_url_blocklist" -> x37,
    "x38_quality_gate" -> x38,
    "x39_vocabulary" -> x39,
    "x40_line_dedup" -> x40,
    "x41_mixture_sample" -> x41,
    "x42_incremental_exact" -> x42,
    "x43_profile" -> x43,
    "x44_ann_pq" -> x44,
    "x45_data_splits" -> x45,
    "x46_dedup_embedding_cells" -> x46,
    "x47_image_decode" -> x47,
    "x48_diverse_sample" -> x48,
    "x49_lm_quality" -> x49,
    "x50_domain_drift" -> x50,
    "x51_overlap_matrix" -> x51,
    "x52_token_budget" -> x52,
    "x53_dedup_index" -> x53,
    "x54_span_dedup" -> x54,
    "x55_bpe_tokenizer" -> x55,
    "x56_nb_classifier" -> x56,
    "x57_span_removal" -> x57,
    "x58_epoch_mix" -> x58,
    "x59_seq_pack" -> x59,
    "x60_frame_sample" -> x60,
    "x61_audio_meta" -> x61,
    "x62_ann_index" -> x62,
    "x67_ann_takedown" -> x67,
    "x68_dedup_takedown" -> x68,
    "x69_index_sync" -> x69,
    "x70_auto_sync" -> x70,
    "x71_sync_hook" -> x71,
    "x72_bm25_topk" -> x72,
    "x73_text_index" -> x73,
    "x74_phrase_topk" -> x74,
    "x75_bm25f" -> x75,
    "x76_proximity" -> x76,
    "x77_bm25f_index" -> x77,
    "x78_slop_phrase" -> x78,
    "x79_group_stats" -> x79,
    "x80_fielded_groups" -> x80,
    "x81_fielded_phrase" -> x81,
    "x63_audio_quality" -> x63,
    "x64_pq_index" -> x64,
    "x65_audio_gate" -> x65,
    "x66_ivf_pq" -> x66,
  )

  // ----------------------------------------------------------------- oracle

  /** DuckDB fragments shared below:
    * words  = string_split_regex(text, '\s+')
    * hash60 = ('0x' || substr(md5(x), 1, 15))::BIGINT
    */
  private val shingles3 =
    """list_distinct([array_to_string(w[i:i+2], ' ')
      |  for i in generate_series(1, greatest(len(w)-2, 1))])""".stripMargin
  private val shingles2 =
    """list_distinct([array_to_string(w[i:i+1], ' ')
      |  for i in generate_series(1, greatest(len(w)-1, 1))])""".stripMargin

  private def jaccardSql(a: String, b: String) =
    s"len(list_intersect($a,$b))::DOUBLE / (len($a)::DOUBLE + len($b)::DOUBLE - len(list_intersect($a,$b))::DOUBLE)"

  private val dotSql =
    "list_reduce(list_prepend(0.0::DOUBLE, [A[i]::DOUBLE * B[i]::DOUBLE for i in generate_series(1,64)]), (x,y) -> x+y)"
  private def normSql(v: String) =
    s"sqrt(list_reduce(list_prepend(0.0::DOUBLE, [$v[i]::DOUBLE * $v[i]::DOUBLE for i in generate_series(1,64)]), (x,y) -> x+y))"

  private def cosineSql(a: String, b: String) =
    dotSql.replace("A[", a + "[").replace("B[", b + "[") +
      s" / (${normSql(a)} * ${normSql(b)})"

  val oracle: Map[String, String] = Map(
    "x01_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents)
        |SELECT min(doc_id) AS survivor_id, count(*) AS n_dups
        |FROM all_docs GROUP BY text ORDER BY survivor_id""".stripMargin,
    "x02_dedup_minhash_lsh" ->
      s"""WITH sh AS (
         |  SELECT doc_id, $shingles3 AS s
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents))
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, ${jaccardSql("a.s", "b.s")} AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.5 ORDER BY a_id, b_id""".stripMargin,
    "x03_dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word FROM documents),
        |bits AS (
        |  SELECT doc_id, i.i AS i,
        |    2 * ((floor((strpos('0123456789abcdef', substr(md5(word), (i.i // 4) + 1, 1)) - 1)
        |      / ([8,4,2,1])[(i.i % 4) + 1]))::BIGINT % 2) - 1 AS pm
        |  FROM tok, (SELECT unnest(generate_series(0, 59)) AS i) i),
        |sums AS (SELECT doc_id, i, sum(pm) AS sm FROM bits GROUP BY 1, 2),
        |sh AS (
        |  SELECT doc_id, sum(CASE WHEN sm > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS sh
        |  FROM sums GROUP BY 1)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, bit_count(xor(a.sh, b.sh))::BIGINT AS dist
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3 ORDER BY 1, 2""".stripMargin,
    "x04_dedup_ngram_jaccard" ->
      s"""WITH sh AS (
         |  SELECT doc_id, source, $shingles2 AS s
         |  FROM (SELECT doc_id, source, string_split_regex(text, '\\s+') AS w FROM documents))
         |SELECT * FROM (
         |  SELECT a.source AS src, a.doc_id AS a_id, b.doc_id AS b_id, ${jaccardSql("a.s", "b.s")} AS jaccard
         |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.6 ORDER BY a_id, b_id""".stripMargin,
    "x05_dedup_embedding" ->
      s"""SELECT * FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cosineSql("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |WHERE sim >= 0.4 ORDER BY a_id, b_id""".stripMargin,
    "x06_ann_topk_brute" ->
      s"""SELECT query_id, rank, vec_id, sim FROM (
         |  SELECT query_id, vec_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC)::BIGINT AS rank
         |  FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS vec_id, ${cosineSql("q.embedding", "e.embedding")} AS sim
         |    FROM embeddings e JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
         |      ON q.vec_id <> e.vec_id))
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x07_ann_ivf" ->
      // the oracle asserts the QUALITY BAR, not the approximate set: every
      // query must achieve recall@10 ≥ 0.7 vs the exact top-10 (which the
      // Spark side computes as ground truth in the same plan)
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "x08_lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    len([x for x in w if list_contains(['the','a','and','of','to','is'], x)]) AS s_en,
        |    len([x for x in w if list_contains(['der','die','das','und','ist','ein'], x)]) AS s_de,
        |    len([x for x in w if list_contains(['el','la','los','y','es','un'], x)]) AS s_es,
        |    len([x for x in w if list_contains(['le','la','les','et','est','un'], x)]) AS s_fr,
        |    len([x for x in w if list_contains(['de','shi','he','zai','you','wo'], x)]) AS s_zh
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents))
        |SELECT doc_id,
        |  CASE
        |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
        |    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
        |    WHEN s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
        |    WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
        |    WHEN s_zh > 0 THEN 'zh'
        |    ELSE 'und' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,
    "x09_text_quality" ->
      """SELECT doc_id, n_tokens, punct_ratio, stop_ratio, mean_len,
        |  0.3 * least(1.0, n_tokens::DOUBLE / 100.0)
        |  + 0.3 * (1.0 - punct_ratio)
        |  + 0.2 * stop_ratio
        |  + 0.2 * least(1.0, mean_len / 8.0) AS quality
        |FROM (
        |  SELECT doc_id,
        |    len(w)::BIGINT AS n_tokens,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text)::DOUBLE AS punct_ratio,
        |    len([x for x in w if list_contains(['the','a','an','and','or','of','to','in','is','it'], x)])::DOUBLE
        |      / len(w)::DOUBLE AS stop_ratio,
        |    list_reduce(list_prepend(0::BIGINT, [length(x)::BIGINT for x in w]), (p,q) -> p+q)::DOUBLE
        |      / len(w)::DOUBLE AS mean_len
        |  FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS w FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "x10_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+'))::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))::BIGINT AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x11_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(string_split_regex(lower(text), '\s+'), ' ')) AS fp_md5,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      [('0x' || substr(md5(x), 1, 15))::BIGINT for x in string_split_regex(text, '\s+')]),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fp_roll
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x12_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts, epoch_ns(ts) // 1000 AS us FROM events),
        |f AS (
        |  SELECT user_id, ts, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "x13_hourly_agg" ->
      """SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x14_multimodal_meta" ->
      """SELECT doc_id AS media_id, 'text/plain' AS media_type,
        |  octet_length(encode(text))::BIGINT AS n_bytes, md5(text) AS checksum
        |FROM documents ORDER BY media_id""".stripMargin,
    "x15_minhash_sig" -> {
      val aList = graft.functions.Portable.minhashA(16).mkString("[", ",", "]")
      val bList = graft.functions.Portable.minhashB(16).mkString("[", ",", "]")
      s"""WITH sh AS (
         |  SELECT doc_id, $shingles3 AS s
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents WHERE doc_id < 20)),
         |hs AS (
         |  SELECT doc_id,
         |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 for x in s] AS h
         |  FROM sh)
         |SELECT doc_id,
         |  array_to_string([list_min([($aList[j+1] * x + $bList[j+1]) % 2147483647 for x in h])
         |    for j in generate_series(0, 15)], ',') AS sig
         |FROM hs ORDER BY doc_id""".stripMargin
    },
    "x16_dup_clusters" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id, $shingles3 AS s
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents)),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, ${jaccardSql("a.s", "b.s")} AS j
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE j >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |walk(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id),
         |comp AS (SELECT id, min(label) AS cluster_id FROM walk GROUP BY id)
         |SELECT d.doc_id,
         |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |  coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         |ORDER BY d.doc_id""".stripMargin,
    "x17_hash_sample" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${graft.operators.Curation.hashSampleSql("doc_id::VARCHAR", 10)}
         |ORDER BY doc_id""".stripMargin,
    "x18_source_quota" ->
      """SELECT doc_id, source, n_tokens FROM (
        |  SELECT doc_id, source,
        |    len(string_split_regex(text, '\s+'))::BIGINT AS n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY len(string_split_regex(text, '\s+')) DESC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "x19_pii_redact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN text || ' contact: user' || doc_id || '@example.com or 555-123-4567'
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b'))::BIGINT AS n_phones,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g')) AS redacted_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    "x20_stream_dedup" ->
      // dedup of the redelivered feed must reproduce the pristine relation
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "x21_chunking" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, s.s AS s, w[s.s+1 : s.s+50] AS ctoks
        |  FROM t, LATERAL (SELECT unnest(generate_series(0, greatest(len(w)-1, 0), 40)) AS s) s)
        |SELECT doc_id, (s / 40)::BIGINT AS chunk_idx, len(ctoks)::BIGINT AS chunk_tokens,
        |  md5(array_to_string(ctoks, ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "x22_packing" ->
      """SELECT doc_id, source, n_tokens,
        |  (COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 500)::BIGINT AS bin
        |FROM (SELECT doc_id, source,
        |        len(string_split_regex(text, '\s+'))::BIGINT AS n_tokens
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "x23_incremental_dedup" ->
      s"""WITH sh AS (
         |  SELECT doc_id, source, $shingles3 AS s
         |  FROM (SELECT doc_id, source, string_split_regex(text, '\\s+') AS w FROM documents)),
         |dup AS (
         |  SELECT DISTINCT b.doc_id AS doc_id
         |  FROM sh a JOIN sh b ON a.doc_id % 5 != 0 AND b.doc_id % 5 = 0
         |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.5)
         |SELECT doc_id, source FROM sh
         |WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM dup)
         |ORDER BY doc_id""".stripMargin,
    "x24_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, source, $shingles3 AS s
         |  FROM (SELECT doc_id, source, string_split_regex(text, '\\s+') AS w FROM documents)),
         |plist AS (
         |  SELECT list(DISTINCT p) AS ps
         |  FROM (SELECT unnest(s) AS p FROM sh WHERE doc_id IN (3, 47)))
         |SELECT doc_id, source, len(list_intersect(s, ps))::BIGINT AS matched_ngrams
         |FROM sh, plist
         |WHERE len(list_intersect(s, ps)) > 0
         |ORDER BY doc_id""".stripMargin,
    "x25_asof_join" ->
      // DuckDB's native ASOF JOIN is the independent oracle for the semantics
      """WITH snaps AS (
        |  SELECT user_id, ts, max(event_id) AS snap_id, max(event_type) AS snap_type
        |  FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, s.snap_id, s.snap_type
        |FROM events e ASOF LEFT JOIN snaps s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.event_id""".stripMargin,
    "x26_range_join" ->
      // BETWEEN join over the same literal brackets
      """WITH brackets(bracket_id, lo, hi) AS (
        |  VALUES (1::BIGINT, 0.0, 50.0), (2::BIGINT, 25.0, 125.0), (3::BIGINT, 100.0, 1000.0))
        |SELECT e.event_id, b.bracket_id
        |FROM events e JOIN brackets b ON e.value BETWEEN b.lo AND b.hi
        |ORDER BY event_id, bracket_id""".stripMargin,
    "x27_repetition" ->
      """WITH b AS (
        |  SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
        |    for i in generate_series(1, greatest(len(w)-1, 1))]) AS g
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)),
        |c AS (SELECT doc_id, g, count(*) AS cnt FROM b GROUP BY 1, 2),
        |s AS (SELECT doc_id, max(cnt) AS top, sum(cnt) AS total, count(*) AS nd FROM c GROUP BY 1)
        |SELECT d.doc_id,
        |  s.top::DOUBLE / s.total::DOUBLE AS top_ngram_frac,
        |  1.0 - s.nd::DOUBLE / s.total::DOUBLE AS dup_ngram_frac,
        |  CASE WHEN length(d.text) = 0 THEN 0.0
        |    ELSE length(regexp_replace(d.text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(d.text)::DOUBLE
        |  END AS alpha_frac
        |FROM documents d JOIN s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "x28_tfidf_keywords" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
        |SELECT doc_id, rank, term, tf, df, score FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    tf.tf::DOUBLE * (n.n::DOUBLE / dfreq.df::DOUBLE) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf::DOUBLE * (n.n::DOUBLE / dfreq.df::DOUBLE) DESC, tf.term ASC)::BIGINT AS rank
        |  FROM tf JOIN dfreq USING (term), n)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "x29_stratified_sample" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${graft.functions.Portable.sqlHash60("doc_id::VARCHAR")} ASC, doc_id ASC) AS rn
         |  FROM documents)
         |WHERE rn <= 5 ORDER BY doc_id""".stripMargin,
    "x30_sql_surface" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word FROM documents),
        |bits AS (
        |  SELECT doc_id, i.i AS i,
        |    2 * ((floor((strpos('0123456789abcdef', substr(md5(word), (i.i // 4) + 1, 1)) - 1)
        |      / ([8,4,2,1])[(i.i % 4) + 1]))::BIGINT % 2) - 1 AS pm
        |  FROM tok, (SELECT unnest(generate_series(0, 59)) AS i) i),
        |sums AS (SELECT doc_id, i, sum(pm) AS sm FROM bits GROUP BY 1, 2),
        |sh AS (
        |  SELECT doc_id, sum(CASE WHEN sm > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
        |  FROM sums GROUP BY 1),
        |sc AS (
        |  SELECT doc_id,
        |    len([x for x in w if list_contains(['the','a','and','of','to','is'], x)]) AS s_en,
        |    len([x for x in w if list_contains(['der','die','das','und','ist','ein'], x)]) AS s_de,
        |    len([x for x in w if list_contains(['el','la','los','y','es','un'], x)]) AS s_es,
        |    len([x for x in w if list_contains(['le','la','les','et','est','un'], x)]) AS s_fr,
        |    len([x for x in w if list_contains(['de','shi','he','zai','you','wo'], x)]) AS s_zh
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents))
        |SELECT d.doc_id,
        |  len(string_split_regex(d.text, '\s+'))::BIGINT AS n_tokens,
        |  CASE
        |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
        |    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
        |    WHEN s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
        |    WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
        |    WHEN s_zh > 0 THEN 'zh'
        |    ELSE 'und' END AS lang_pred,
        |  md5(array_to_string(string_split_regex(lower(d.text), '\s+'), ' ')) AS fp_md5,
        |  sh.simhash,
        |  ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT AS id_hash
        |FROM documents d JOIN sh ON d.doc_id = sh.doc_id JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "x31_stream_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id
        |FROM events p JOIN events v
        |  ON p.user_id = v.user_id
        |  AND p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE
        |ORDER BY purchase_id, view_id""".stripMargin,
    "x32_token_percentiles" ->
      // identical rank + explicit interpolation arithmetic as the Spark side
      """WITH ranked AS (
        |  SELECT source AS grp, len(string_split_regex(text, '\s+'))::DOUBLE AS v,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY len(string_split_regex(text, '\s+'))) AS rn
        |  FROM documents),
        |counts AS (SELECT grp, max(rn) AS n FROM ranked GROUP BY 1),
        |probes AS (SELECT grp, n, unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p FROM counts),
        |calc AS (SELECT grp, p, (n-1)::DOUBLE * p AS h,
        |    floor((n-1)::DOUBLE * p)::BIGINT AS lo, ceil((n-1)::DOUBLE * p)::BIGINT AS hi
        |  FROM probes)
        |SELECT c.grp AS source, c.p,
        |  l.v + (h2.v - l.v) * (c.h - c.lo::DOUBLE) AS value
        |FROM calc c
        |JOIN ranked l ON l.grp = c.grp AND l.rn = c.lo + 1
        |JOIN ranked h2 ON h2.grp = c.grp AND h2.rn = c.hi + 1
        |ORDER BY source, p""".stripMargin,
    "x33_vec_quantize" ->
      """SELECT vec_id,
        |  array_to_string([CASE WHEN rng = 0 THEN 0
        |    ELSE floor((x::DOUBLE - mn) / rng * 255.0 + 0.5)::BIGINT END
        |    for x in embedding], ',') AS codes,
        |  mn AS offset,
        |  rng / 255.0 AS scale,
        |  list_max([abs(mn + (CASE WHEN rng = 0 THEN 0.0
        |    ELSE floor((x::DOUBLE - mn) / rng * 255.0 + 0.5) END) / 255.0 * rng - x::DOUBLE)
        |    for x in embedding]) AS max_err
        |FROM (SELECT vec_id, embedding, list_min(embedding)::DOUBLE AS mn,
        |        list_max(embedding)::DOUBLE - list_min(embedding)::DOUBLE AS rng
        |      FROM embeddings)
        |ORDER BY vec_id""".stripMargin,
    "x34_sliding_agg" ->
      // explicit window expansion: starts every 30 min, each event in the
      // two 1-hour windows covering it (epoch-aligned, like Spark's window())
      """WITH w AS (
        |  SELECT event_type, value,
        |    unnest([
        |      to_timestamp((epoch_ns(ts) // 1800000000000) * 1800),
        |      to_timestamp((epoch_ns(ts) // 1800000000000) * 1800 - 1800)]) AS wstart
        |  FROM events)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x35_dedup_best_keep" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id, $shingles3 AS s
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents)),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, ${jaccardSql("a.s", "b.s")} AS j
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE j >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |walk(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id),
         |comp AS (SELECT id, min(label) AS cluster_id FROM walk GROUP BY id),
         |q AS (
         |  SELECT doc_id,
         |    0.3 * least(1.0, n_tokens::DOUBLE / 100.0)
         |    + 0.3 * (1.0 - punct_ratio)
         |    + 0.2 * stop_ratio
         |    + 0.2 * least(1.0, mean_len / 8.0) AS quality
         |  FROM (
         |    SELECT doc_id,
         |      len(w)::BIGINT AS n_tokens,
         |      length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / length(text)::DOUBLE AS punct_ratio,
         |      len([x for x in w if list_contains(['the','a','an','and','or','of','to','in','is','it'], x)])::DOUBLE
         |        / len(w)::DOUBLE AS stop_ratio,
         |      list_reduce(list_prepend(0::BIGINT, [length(x)::BIGINT for x in w]), (p,q) -> p+q)::DOUBLE
         |        / len(w)::DOUBLE AS mean_len
         |    FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM documents))),
         |m AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, q.quality
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id JOIN q ON d.doc_id = q.doc_id),
         |sel AS (
         |  SELECT doc_id, cluster_id, quality,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM m)
         |SELECT doc_id, cluster_id, n_members, quality FROM sel WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin,
    "x36_containment" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000,
         |    array_to_string(string_split_regex(text, '\\s+')[1:15], ' ')
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingles3 AS s
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM all_docs))
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    len(list_intersect(a.s, b.s))::DOUBLE / len(a.s)::DOUBLE AS containment
         |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
         |WHERE containment >= 0.9 ORDER BY a_id, b_id""".stripMargin,
    "x37_url_blocklist" ->
      // same derived URLs, same regexes — parse + blocklist verdict mirrored
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://www.example-' || source || '.com/docs/' || lang || '/'
        |      || doc_id AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)) AS host,
        |    regexp_replace(regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1),
        |      '/+$', '') AS path
        |  FROM u)
        |SELECT doc_id, host,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
        |  CASE WHEN length(path) = 0 THEN 0::BIGINT
        |       ELSE len(string_split(path, '/')) - 1 END AS path_depth,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1)
        |    NOT IN ('example-src3.com', 'example-src13.com') AS keep
        |FROM p ORDER BY doc_id""".stripMargin,
    "x38_quality_gate" ->
      // every signal computed with the same operation order as the Spark
      // side; reasons = the pre-sorted fired-rule names, keep = none fired
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split_regex(text, '\s+') AS toks,
        |    len(string_split_regex(text, '\s+'))::BIGINT AS wc,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS nonspace
        |  FROM documents),
        |sg AS (
        |  SELECT doc_id, wc,
        |    CASE WHEN wc = 0 THEN 0.0
        |         ELSE nonspace::DOUBLE / wc::DOUBLE END AS mean_wlen,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |           / length(text)::DOUBLE END AS alpha_frac,
        |    (list_contains(toks, 'the')::BIGINT + list_contains(toks, 'a')::BIGINT
        |     + list_contains(toks, 'of')::BIGINT + list_contains(toks, 'and')::BIGINT
        |     + list_contains(toks, 'to')::BIGINT + list_contains(toks, 'in')::BIGINT
        |    ) AS stop_hits
        |  FROM t),
        |v AS (
        |  SELECT doc_id, wc, mean_wlen, alpha_frac, stop_hits,
        |    concat_ws(',',
        |      CASE WHEN stop_hits < 2 THEN 'few_stopwords' END,
        |      CASE WHEN alpha_frac < 0.8 THEN 'low_alpha' END,
        |      CASE WHEN mean_wlen < 3.0 OR mean_wlen > 10.0 THEN 'mean_word_len' END,
        |      CASE WHEN wc < 40 THEN 'too_few_words' END,
        |      CASE WHEN wc > 100000 THEN 'too_many_words' END) AS reasons
        |  FROM sg)
        |SELECT doc_id, wc, mean_wlen, alpha_frac, stop_hits, reasons,
        |  reasons = '' AS keep
        |FROM v ORDER BY doc_id""".stripMargin,
    "x39_vocabulary" ->
      """SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        |      FROM documents)
        |WHERE length(term) > 0
        |GROUP BY term ORDER BY tf DESC, term LIMIT 100""".stripMargin,
    "x40_line_dedup" ->
      // independent line-df recomputation: planted header/footer must go,
      // each doc's own body must survive byte-identical
      """WITH d AS (
        |  SELECT doc_id,
        |    'subscribe to our newsletter' || chr(10) || text || chr(10)
        |      || 'all rights reserved' AS t
        |  FROM documents),
        |l0 AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d),
        |l AS (
        |  SELECT doc_id, unnest([{'idx': i, 'line': ls[i]}
        |    for i in generate_series(1, len(ls))], recursive := true)
        |  FROM l0),
        |f AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line),
        |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |kept AS (
        |  SELECT l.doc_id, l.idx, l.line FROM l JOIN f USING (line), n
        |  WHERE f.df::DOUBLE / n.nd::DOUBLE <= 0.5)
        |SELECT d.doc_id,
        |  coalesce(k.cleaned, '') AS cleaned,
        |  coalesce(k.n_lines, 0::BIGINT) AS n_lines
        |FROM d LEFT JOIN (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS cleaned,
        |    count(*) AS n_lines
        |  FROM kept GROUP BY doc_id) k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "x41_mixture_sample" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE (${graft.functions.Portable.sqlHash60("doc_id::VARCHAR")} % 100) <
         |  CASE source WHEN 'src1' THEN 5 WHEN 'src2' THEN 80
         |    WHEN 'src3' THEN 50 ELSE 25 END
         |ORDER BY doc_id""".stripMargin,
    "x42_incremental_exact" ->
      """WITH batch AS (
        |  SELECT doc_id + 300000 AS doc_id, text
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, text || ' novel-suffix'
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT doc_id, md5(text) AS fp FROM batch
        |WHERE text NOT IN (SELECT text FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "x43_profile" ->
      """WITH p AS (
        |  SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
        |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        |    count(DISTINCT o_custkey) AS n_distinct,
        |    min(o_custkey)::VARCHAR AS min_value, max(o_custkey)::VARCHAR AS max_value
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*),
        |    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(DISTINCT o_orderdate),
        |    min(o_orderdate)::VARCHAR, max(o_orderdate)::VARCHAR
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*),
        |    sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(DISTINCT o_orderstatus),
        |    min(o_orderstatus)::VARCHAR, max(o_orderstatus)::VARCHAR
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*),
        |    sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(DISTINCT o_totalprice::DECIMAL(18,2)),
        |    min(o_totalprice::DECIMAL(18,2))::VARCHAR,
        |    max(o_totalprice::DECIMAL(18,2))::VARCHAR
        |  FROM orders)
        |SELECT * FROM p ORDER BY col_name""".stripMargin,
    "x44_ann_pq" ->
      // quality-bar oracle, as x07: every query must clear recall@10 ≥ 0.7
      // vs the exact top-10 the Spark side computes in the same plan
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "x45_data_splits" ->
      s"""SELECT doc_id,
         |  CASE WHEN ${graft.functions.Portable.sqlHash60("doc_id::VARCHAR")} % 100 < 90
         |         THEN 'train'
         |       WHEN ${graft.functions.Portable.sqlHash60("doc_id::VARCHAR")} % 100 < 95
         |         THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x46_dedup_embedding_cells" ->
      // quality-bar oracle: the cell-blocked approximate pair set must be a
      // subset of the exact x05 set with pair-recall ≥ 0.6 (uniform-fixture
      // floor); the Spark side computes both sets in one plan
      "SELECT true AS subset_ok, true AS recall_ok",
    "x47_image_decode" ->
      // every decoded dimension/channel-sum is predicted from the synthesis
      // formulas: w=(id%31)+1, h=(id%17)+1, solid RGB (id%256, id*3%256,
      // id*7%256); resize to 8×6 keeps the solid color → sum = 48·(r+g+b)
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 31 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 17 + 1 AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS frames,
        |  CAST((doc_id % 31 + 1) * (doc_id % 17 + 1) *
        |       ((doc_id % 256) + (doc_id * 3 % 256) + (doc_id * 7 % 256)) AS BIGINT) AS channel_sum,
        |  CAST(8 AS INTEGER) AS r_width,
        |  CAST(6 AS INTEGER) AS r_height,
        |  CAST(48 * ((doc_id % 256) + (doc_id * 3 % 256) + (doc_id * 7 % 256)) AS BIGINT) AS r_channel_sum
        |FROM documents WHERE doc_id < 500 ORDER BY media_id""".stripMargin,
    "x48_diverse_sample" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cv
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         |assigned AS (
         |  SELECT vec_id, cent_id AS cell FROM (
         |    SELECT e.vec_id, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "c.cv")} DESC, c.cent_id ASC) AS r
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE r = 1)
         |SELECT cell, vec_id FROM (
         |  SELECT cell, vec_id, row_number() OVER (PARTITION BY cell
         |    ORDER BY ${graft.functions.Portable.sqlHash60("vec_id::VARCHAR")} ASC, vec_id ASC) AS rn
         |  FROM assigned)
         |WHERE rn <= 10 ORDER BY cell, vec_id""".stripMargin,
    "x49_lm_quality" ->
      """WITH RECURSIVE pow2(k, p2) AS (
        |  SELECT 0, 1::HUGEINT UNION ALL SELECT k + 1, p2 * 2 FROM pow2 WHERE k < 126),
        |docs AS (
        |  SELECT doc_id, ws FROM (
        |    SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents)
        |  WHERE len(ws) >= 2),
        |pairs AS (
        |  SELECT doc_id, unnest([{'pos': i, 'w1': ws[i], 'w2': ws[i+1]}
        |    for i in generate_series(1, len(ws) - 1)], recursive := true)
        |  FROM docs),
        |uni AS (SELECT unnest(ws) AS w FROM docs),
        |uc AS (SELECT w AS w1, count(*) AS c1 FROM uni GROUP BY 1),
        |bc AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT w) AS v FROM uni),
        |score AS (
        |  SELECT w1, w2, (uc.c1 + v.v)::HUGEINT AS d, (bc.c2 + 1)::HUGEINT AS m
        |  FROM bc JOIN uc USING (w1) CROSS JOIN v),
        |qb AS (
        |  SELECT w1, w2, max(k) AS qb
        |  FROM (SELECT w1, w2, (d*d*d*d) // (m*m*m*m) AS t FROM score) s
        |  JOIN pow2 ON p2 <= t
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams, sum(qb)::BIGINT AS s_qb
        |  FROM pairs p JOIN qb USING (w1, w2) GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  ((10000 * s_qb) // (4 * n_bigrams))::BIGINT AS avg_nll_qbits_e4
        |FROM agg ORDER BY doc_id""".stripMargin,
    "x50_domain_drift" ->
      """WITH tok AS (
        |  SELECT g, w FROM (
        |    SELECT source AS g, unnest(string_split_regex(text, '\s+')) AS w
        |    FROM documents)
        |  WHERE len(w) > 0),
        |counts AS (SELECT g, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |totals AS (SELECT g, count(*) AS n FROM tok GROUP BY 1),
        |p AS (SELECT c.g, c.w, ((1000000000 * c.c) // t.n)::BIGINT AS p_ppb
        |      FROM counts c JOIN totals t USING (g)),
        |pairs AS (
        |  SELECT a.g AS src_a, b.g AS src_b
        |  FROM totals a CROSS JOIN totals b WHERE a.g < b.g),
        |l AS (SELECT src_a, src_b, w, p_ppb AS pa_ppb FROM p JOIN pairs ON p.g = pairs.src_a),
        |r AS (SELECT src_a, src_b, w, p_ppb AS pb_ppb FROM p JOIN pairs ON p.g = pairs.src_b),
        |j AS (
        |  SELECT coalesce(l.src_a, r.src_a) AS src_a,
        |         coalesce(l.src_b, r.src_b) AS src_b, l.pa_ppb AS pa_ppb, r.pb_ppb AS pb_ppb
        |  FROM l FULL OUTER JOIN r
        |    ON l.src_a = r.src_a AND l.src_b = r.src_b AND l.w = r.w)
        |SELECT src_a, src_b,
        |  sum(abs(coalesce(pa_ppb, 0) - coalesce(pb_ppb, 0)))::BIGINT AS l1_ppb,
        |  count(*) AS n_tokens,
        |  sum(CASE WHEN pa_ppb IS NOT NULL AND pb_ppb IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_shared
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x51_overlap_matrix" ->
      """WITH all_docs AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'mirror', text FROM documents WHERE doc_id % 5 = 0),
        |fps AS (SELECT DISTINCT source AS g, md5(text) AS fp FROM all_docs),
        |totals AS (SELECT g, count(*) AS n FROM fps GROUP BY 1),
        |shared AS (
        |  SELECT a.g AS src_a, b.g AS src_b, count(*) AS n_shared
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.g < b.g
        |  GROUP BY 1, 2)
        |SELECT ta.g AS src_a, tb.g AS src_b, ta.n AS n_a, tb.n AS n_b,
        |  coalesce(s.n_shared, 0)::BIGINT AS n_shared,
        |  ((1000000 * coalesce(s.n_shared, 0)) // (ta.n + tb.n - coalesce(s.n_shared, 0)))::BIGINT
        |    AS overlap_ppm
        |FROM totals ta CROSS JOIN totals tb
        |LEFT JOIN shared s ON s.src_a = ta.g AND s.src_b = tb.g
        |WHERE ta.g < tb.g
        |ORDER BY src_a, src_b""".stripMargin,
    "x52_token_budget" ->
      s"""WITH scored AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(floor((0.3 * least(1.0, n_tokens::DOUBLE / 100.0)
         |      + 0.3 * (1.0 - punct_ratio)
         |      + 0.2 * stop_ratio
         |      + 0.2 * least(1.0, mean_len / 8.0)) * 1000) AS BIGINT) AS bucket
         |  FROM (
         |    SELECT doc_id,
         |      len(w)::BIGINT AS n_tokens,
         |      length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
         |        / length(text)::DOUBLE AS punct_ratio,
         |      len([x for x in w if list_contains(['the','a','an','and','or','of','to','in','is','it'], x)])::DOUBLE
         |        / len(w)::DOUBLE AS stop_ratio,
         |      list_reduce(list_prepend(0::BIGINT, [length(x)::BIGINT for x in w]), (p,q) -> p+q)::DOUBLE
         |        / len(w)::DOUBLE AS mean_len
         |    FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM documents))
         |  WHERE n_tokens > 0),
         |bt AS (SELECT bucket, sum(n_tokens) AS toks FROM scored GROUP BY 1),
         |c AS (SELECT bucket,
         |  sum(toks) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS cum FROM bt),
         |fullb AS (SELECT bucket FROM c WHERE cum <= 20000),
         |cut AS (SELECT max(bucket) AS cb FROM c WHERE cum > 20000),
         |rem AS (SELECT 20000 - coalesce((SELECT max(cum) FROM c WHERE cum <= 20000), 0) AS r)
         |SELECT doc_id, n_tokens, bucket FROM (
         |  SELECT s.doc_id, s.n_tokens, s.bucket FROM scored s JOIN fullb USING (bucket)
         |  UNION ALL
         |  SELECT doc_id, n_tokens, bucket FROM (
         |    SELECT s.doc_id, s.n_tokens, s.bucket,
         |      sum(s.n_tokens) OVER (
         |        ORDER BY ${graft.functions.Portable.sqlHash60("s.doc_id::VARCHAR")} ASC, s.doc_id ASC
         |        ROWS UNBOUNDED PRECEDING) AS cum2
         |    FROM scored s, cut WHERE s.bucket = cut.cb), rem
         |  WHERE cum2 <= rem.r)
         |ORDER BY doc_id""".stripMargin,
    "x53_dedup_index" ->
      // exhaustive recompute of both incremental screens: batch 1 against
      // the corpus; batch 2 against corpus ∪ batch-1 SURVIVORS (the engine
      // appends them to the index between the deliveries)
      s"""WITH sh AS (
         |  SELECT doc_id, source, $shingles3 AS s
         |  FROM (SELECT doc_id, source, string_split_regex(text, '\\s+') AS w FROM documents)),
         |dup1 AS (
         |  SELECT DISTINCT b.doc_id AS doc_id
         |  FROM sh a JOIN sh b ON a.doc_id % 5 != 0 AND b.doc_id % 10 = 0
         |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.5),
         |s1 AS (
         |  SELECT doc_id, source FROM sh
         |  WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT doc_id FROM dup1)),
         |dup2 AS (
         |  SELECT DISTINCT b.doc_id AS doc_id
         |  FROM sh a JOIN sh b ON b.doc_id % 10 = 5
         |  WHERE (a.doc_id % 5 != 0 OR a.doc_id IN (SELECT doc_id FROM s1))
         |    AND ${jaccardSql("a.s", "b.s")} >= 0.5),
         |s2 AS (
         |  SELECT doc_id, source FROM sh
         |  WHERE doc_id % 10 = 5 AND doc_id NOT IN (SELECT doc_id FROM dup2))
         |SELECT doc_id, source, 1::BIGINT AS batch FROM s1
         |UNION ALL
         |SELECT doc_id, source, 2::BIGINT AS batch FROM s2
         |ORDER BY doc_id""".stripMargin,
    "x54_span_dedup" ->
      // exhaustive recompute: every token position's 8-gram fingerprint,
      // cross-doc duplicated fingerprints (min(doc) <> max(doc)), and the
      // same gap->8 island merge into maximal spans
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000,
        |    array_to_string([concat('rx', doc_id, 'a', i) for i in generate_series(1, 10)], ' ')
        |      || ' ' || array_to_string(string_split_regex(text, '\s+')[11:30], ' ')
        |      || ' ' || array_to_string([concat('rx', doc_id, 'b', i) for i in generate_series(1, 10)], ' ')
        |  FROM documents
        |  WHERE doc_id % 9 = 0 AND len(string_split_regex(text, '\s+')) >= 30),
        |t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM all_docs),
        |pos AS (
        |  SELECT doc_id, e.p AS p, e.fp AS fp FROM (
        |    SELECT doc_id, unnest([struct_pack(p := i::BIGINT,
        |        fp := ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT)
        |      for i in generate_series(1, len(w) - 7)]) AS e
        |    FROM t WHERE len(w) >= 8)),
        |dup AS (SELECT fp FROM pos GROUP BY fp HAVING min(doc_id) <> max(doc_id)),
        |dpos AS (SELECT doc_id, p FROM pos JOIN dup USING (fp)),
        |isl AS (
        |  SELECT doc_id, p, sum(CASE WHEN prev IS NULL OR p - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        |        FROM dpos))
        |SELECT doc_id, min(p) AS span_start, max(p) - min(p) + 8 AS span_len
        |FROM isl GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,
    "x55_bpe_tokenizer" -> bpeOracleSql(12),
    "x56_nb_classifier" ->
      // training AND inference re-run: per-token smoothed class counts →
      // quarter-bit log-odds weights (exact integer log2 via the pow2
      // table), class-total bias + doc prior as scalar constants, per-doc
      // summed score and the >0 verdict
      """WITH RECURSIVE pow2(k, p2) AS (
        |  SELECT 0, 1::HUGEINT UNION ALL SELECT k + 1, p2 * 2 FROM pow2 WHERE k < 126),
        |toks AS (
        |  SELECT doc_id, lang = 'en' AS y, unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents),
        |counts AS (
        |  SELECT w,
        |    (sum(CASE WHEN y THEN 1 ELSE 0 END) + 1)::HUGEINT AS mp,
        |    (sum(CASE WHEN NOT y THEN 1 ELSE 0 END) + 1)::HUGEINT AS mn
        |  FROM toks GROUP BY w),
        |wqb AS (
        |  SELECT w,
        |    max(CASE WHEN p2 <= mp*mp*mp*mp THEN k END) -
        |    max(CASE WHEN p2 <= mn*mn*mn*mn THEN k END) AS wqb
        |  FROM counts JOIN pow2 ON p2 <= greatest(mp*mp*mp*mp, mn*mn*mn*mn)
        |  GROUP BY w),
        |tot AS (
        |  SELECT sum(CASE WHEN y THEN 1 ELSE 0 END)::HUGEINT AS tp,
        |         sum(CASE WHEN NOT y THEN 1 ELSE 0 END)::HUGEINT AS tn,
        |         count(DISTINCT w)::HUGEINT AS v
        |  FROM toks),
        |docs2 AS (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::HUGEINT AS dp,
        |                 sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::HUGEINT AS dn
        |          FROM documents),
        |consts AS (
        |  SELECT
        |    (SELECT max(k) FROM pow2, tot WHERE p2 <= (tn+v)*(tn+v)*(tn+v)*(tn+v)) -
        |    (SELECT max(k) FROM pow2, tot WHERE p2 <= (tp+v)*(tp+v)*(tp+v)*(tp+v)) AS bias_qb,
        |    (SELECT max(k) FROM pow2, docs2 WHERE p2 <= dp*dp*dp*dp) -
        |    (SELECT max(k) FROM pow2, docs2 WHERE p2 <= dn*dn*dn*dn) AS prior_qb)
        |SELECT doc_id, y AS label, count(*)::BIGINT AS n_toks,
        |  (sum(wqb) + count(*) * bias_qb + prior_qb)::BIGINT AS score_qb,
        |  (sum(wqb) + count(*) * bias_qb + prior_qb) > 0 AS pred_pos
        |FROM toks JOIN wqb USING (w) CROSS JOIN consts
        |GROUP BY doc_id, y, bias_qb, prior_qb
        |ORDER BY doc_id""".stripMargin,
    "x57_span_removal" ->
      // the x54 span recompute, then the SAME removal: keep token i iff no
      // span of its doc covers it; counts/fingerprints from the token list
      // (DuckDB's array_to_string of an empty list is NULL — coalesce to ''
      // to match Spark's concat_ws)
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000,
        |    array_to_string([concat('rx', doc_id, 'a', i) for i in generate_series(1, 10)], ' ')
        |      || ' ' || array_to_string(string_split_regex(text, '\s+')[11:30], ' ')
        |      || ' ' || array_to_string([concat('rx', doc_id, 'b', i) for i in generate_series(1, 10)], ' ')
        |  FROM documents
        |  WHERE doc_id % 9 = 0 AND len(string_split_regex(text, '\s+')) >= 30),
        |t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM all_docs),
        |pos AS (
        |  SELECT doc_id, e.p AS p, e.fp AS fp FROM (
        |    SELECT doc_id, unnest([struct_pack(p := i::BIGINT,
        |        fp := ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT)
        |      for i in generate_series(1, len(w) - 7)]) AS e
        |    FROM t WHERE len(w) >= 8)),
        |dup AS (SELECT fp FROM pos GROUP BY fp HAVING min(doc_id) <> max(doc_id)),
        |dpos AS (SELECT doc_id, p FROM pos JOIN dup USING (fp)),
        |isl AS (
        |  SELECT doc_id, p, sum(CASE WHEN prev IS NULL OR p - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        |        FROM dpos)),
        |spans AS (SELECT doc_id, min(p) AS s0, max(p) - min(p) + 8 AS sl
        |          FROM isl GROUP BY doc_id, grp),
        |perdoc AS (SELECT doc_id, list(struct_pack(s0 := s0, sl := sl)) AS sp
        |           FROM spans GROUP BY doc_id),
        |cleaned AS (
        |  SELECT t.doc_id,
        |    CASE WHEN sp IS NULL THEN w
        |         ELSE [w[i] for i in generate_series(1, len(w))
        |               if len(list_filter(sp, s -> i >= s.s0 AND i < s.s0 + s.sl)) = 0]
        |    END AS cw
        |  FROM t LEFT JOIN perdoc USING (doc_id))
        |SELECT doc_id, len(cw)::BIGINT AS n_clean_tokens,
        |  md5(coalesce(array_to_string(cw, ' '), '')) AS clean_fp
        |FROM cleaned ORDER BY doc_id""".stripMargin,
    "x58_epoch_mix" ->
      // the same literal recipe (src0 2.3 epochs, src1 0.4, default 1.0),
      // hash picks, and shuffle keys recomputed end to end
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |    (CASE WHEN source = 'src0' THEN 2 WHEN source = 'src1' THEN 0 ELSE 1 END
         |     + CASE WHEN ${graft.functions.Portable.sqlHash60("'epoch0:' || doc_id")} % 1000000 <
         |         CASE WHEN source = 'src0' THEN 300000
         |              WHEN source = 'src1' THEN 400000 ELSE 0 END
         |       THEN 1 ELSE 0 END)::BIGINT AS n
         |  FROM documents),
         |rep AS (
         |  SELECT doc_id, source, unnest(generate_series(0, n - 1)) AS copy
         |  FROM base WHERE n > 0)
         |SELECT doc_id, source, copy::BIGINT AS copy,
         |  ${graft.functions.Portable.sqlHash60("'epoch0|' || doc_id || '#' || copy")} AS shuffle_key
         |FROM rep ORDER BY doc_id, copy""".stripMargin,
    "x59_seq_pack" ->
      // concat-and-chunk packing as a plain cumsum: the distributed
      // prefix-sum implementation must be invisible in the answer
      """WITH t AS (
        |  SELECT doc_id, len(string_split_regex(text, '\s+'))::BIGINT AS n,
        |    (sum(len(string_split_regex(text, '\s+'))::BIGINT) OVER (
        |       ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |     - len(string_split_regex(text, '\s+'))::BIGINT) AS strt
        |  FROM documents
        |  WHERE len(string_split_regex(text, '\s+')) > 0),
        |sp AS (
        |  SELECT doc_id, n, strt,
        |    unnest(generate_series((strt // 512)::BIGINT, ((strt + n - 1) // 512)::BIGINT)) AS window_id
        |  FROM t)
        |SELECT doc_id, window_id::BIGINT AS window_id,
        |  (greatest(0, window_id * 512 - strt) + 1)::BIGINT AS tok_from,
        |  least(n, (window_id + 1) * 512 - strt)::BIGINT AS tok_to
        |FROM sp ORDER BY doc_id, window_id""".stripMargin,
    "x60_frame_sample" ->
      // frame counts, channel sums, and the stride-3 index arithmetic are
      // closed-form in doc_id — the codec loop must reproduce all three
      """WITH v AS (
        |  SELECT doc_id AS media_id, ((doc_id % 7) + 2)::BIGINT AS frames,
        |    (((doc_id % 7) + 2) * 12 *
        |     ((doc_id % 256) + ((doc_id * 3) % 256) + ((doc_id * 7) % 256)))::BIGINT AS channel_sum
        |  FROM documents WHERE doc_id < 300)
        |SELECT media_id, unnest(generate_series(0, frames - 1, 3))::BIGINT AS frame_idx,
        |  frames, channel_sum
        |FROM v ORDER BY media_id, frame_idx""".stripMargin,
    "x61_audio_meta" ->
      // header fields, integer duration, and the |sample| sum are all
      // closed-form in doc_id — the RIFF parse must reproduce every one
      """WITH a AS (
        |  SELECT doc_id AS media_id, (8000 + (doc_id % 3) * 4000)::BIGINT AS sample_rate,
        |         ((doc_id % 50) + 10)::BIGINT AS n_samples
        |  FROM documents WHERE doc_id < 400),
        |s AS (
        |  SELECT media_id, sample_rate, n_samples,
        |    unnest(generate_series(0::BIGINT, n_samples - 1)) AS i
        |  FROM a)
        |SELECT media_id, sample_rate, 1::BIGINT AS channels, n_samples,
        |  (n_samples * 1000 // sample_rate)::BIGINT AS duration_ms,
        |  sum(abs(((media_id * 7 + i * 31) % 65536) - 32768))::BIGINT AS amp_sum
        |FROM s GROUP BY media_id, sample_rate, n_samples
        |ORDER BY media_id""".stripMargin,
    "x62_ann_index" ->
      // the oracle asserts the QUALITY BAR, not the approximate set (x07
      // pattern): every query must reach recall@10 ≥ 0.7 vs the exact
      // top-10 over the indexed corpus, which the Spark side computes as
      // ground truth in the same plan
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "x64_pq_index" ->
      // same bar-style oracle as x62/x44: the stored-codebook ADC probe
      // must reach recall@10 ≥ 0.7 vs the exact top-10
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "x66_ivf_pq" ->
      // bar-style oracle: the cell-restricted (IVF-PQ) probe must still
      // reach recall@10 ≥ 0.7 vs the exact top-10
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "x67_ann_takedown" ->
      // bar-style oracle (x62 pattern): after the takedown no query may
      // ever see a removed id, and recall@10 vs the exact top-10 over the
      // REMAINING corpus must still clear 0.7 (the Spark side computes
      // both signals in-plan against the persisted removal set)
      """SELECT vec_id AS query_id, false AS removed_hit, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "x68_dedup_takedown" ->
      // exhaustive recompute of the post-takedown screen: the batch is the
      // %10=0 delivery plus the REMOVED (%10=3) docs' content under shifted
      // ids, and the NOT-EXISTS runs against corpus MINUS the removed set —
      // a ghost entry would kill every re-sent doc at Jaccard 1.0
      s"""WITH sh AS (
         |  SELECT doc_id, source, $shingles3 AS s
         |  FROM (SELECT doc_id, source, string_split_regex(text, '\\s+') AS w FROM documents)),
         |bsh AS (
         |  SELECT doc_id, source, s FROM sh WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 700000 AS doc_id, source, s FROM sh WHERE doc_id % 10 = 3),
         |dup AS (
         |  SELECT DISTINCT b.doc_id AS doc_id
         |  FROM sh a JOIN bsh b
         |    ON a.doc_id % 5 != 0 AND a.doc_id % 10 != 3
         |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.5)
         |SELECT doc_id, source FROM bsh
         |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
         |ORDER BY doc_id""".stripMargin,
    "x69_index_sync" ->
      // exhaustive recompute of the screen against the corpus END STATE:
      // members = (%5!=0 minus the deleted %10=3) plus the inserted %10=0;
      // the probe batch = the %10=5 delivery plus the deleted docs' content
      // under shifted ids (which must now screen as NOVEL)
      s"""WITH sh AS (
         |  SELECT doc_id, source, $shingles3 AS s
         |  FROM (SELECT doc_id, source, string_split_regex(text, '\\s+') AS w FROM documents)),
         |bsh AS (
         |  SELECT doc_id, source, s FROM sh WHERE doc_id % 10 = 5
         |  UNION ALL
         |  SELECT doc_id + 700000 AS doc_id, source, s FROM sh WHERE doc_id % 10 = 3),
         |dup AS (
         |  SELECT DISTINCT b.doc_id AS doc_id
         |  FROM sh a JOIN bsh b
         |    ON ((a.doc_id % 5 != 0 AND a.doc_id % 10 != 3) OR a.doc_id % 10 = 0)
         |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.5)
         |SELECT doc_id, source FROM bsh
         |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
         |ORDER BY doc_id""".stripMargin,
    "x70_auto_sync" ->
      // x69's exhaustive end-state recompute under the hands-off residues:
      // members = (%5!=1 minus the deleted %10=4) plus the inserted %10=1;
      // the probe batch = the %10=6 delivery plus the deleted docs' content
      // under shifted ids (which must now screen as NOVEL — the registry
      // hook, not an explicit sync, propagated the takedown)
      s"""WITH sh AS (
         |  SELECT doc_id, source, $shingles3 AS s
         |  FROM (SELECT doc_id, source, string_split_regex(text, '\\s+') AS w FROM documents)),
         |bsh AS (
         |  SELECT doc_id, source, s FROM sh WHERE doc_id % 10 = 6
         |  UNION ALL
         |  SELECT doc_id + 800000 AS doc_id, source, s FROM sh WHERE doc_id % 10 = 4),
         |dup AS (
         |  SELECT DISTINCT b.doc_id AS doc_id
         |  FROM sh a JOIN bsh b
         |    ON ((a.doc_id % 5 != 1 AND a.doc_id % 10 != 4) OR a.doc_id % 10 = 1)
         |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.5)
         |SELECT doc_id, source FROM bsh
         |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
         |ORDER BY doc_id""".stripMargin,
    "x71_sync_hook" ->
      // run 1 (the fresh-JVM Verify evaluation): the upserted %10=7 copies
      // are the only entries carrying that content, so EVERY probe doc
      // screens as their dup and the result is the probe batch itself — a
      // hook that failed to propagate the insert leg loses rows here
      """SELECT doc_id + 700000 AS doc_id, source
        |FROM documents WHERE doc_id % 10 = 7
        |ORDER BY doc_id""".stripMargin,
    "x72_bm25_topk" ->
      // rational-idf BM25 mirrored expression-for-expression: per-term
      // contributions are IEEE-exact given the same integer tf/df/dl/N
      // (mul/div only — no libm), quantized to DECIMAL(38,12) and summed
      // EXACTLY (double summation is order-sensitive; decimal is not),
      // one double cast at the end; ties broken by doc_id
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM t GROUP BY 1),
        |stats AS (SELECT (SELECT count(*)::BIGINT FROM dl) AS n,
        |  (SELECT sum(dl)::DOUBLE / count(*)::DOUBLE FROM dl) AS avgdl),
        |q(query_id, qtext) AS (VALUES
        |  (1, 'fast join query'), (2, 'stream window batch'),
        |  (3, 'customer table scan'), (4, 'slow merge sort agg dup'),
        |  (5, 'spark data row value')),
        |qt AS (SELECT DISTINCT query_id::BIGINT AS query_id,
        |  unnest(string_split_regex(qtext, '\s+')) AS term FROM q),
        |dfreq AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |contrib AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    CAST(((s.n - d.df + 0.5) / (d.df + 0.5))
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl)))
        |      AS DECIMAL(38,12)) AS c
        |  FROM qt JOIN tf USING (term) JOIN dfreq d USING (term)
        |    JOIN dl USING (doc_id), stats s),
        |scored AS (SELECT query_id, doc_id, sum(c) AS sc FROM contrib GROUP BY 1, 2)
        |SELECT query_id, doc_id, rank, score FROM (
        |  SELECT query_id, doc_id, sc::DOUBLE AS score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sc DESC, doc_id ASC)::BIGINT AS rank
        |  FROM scored)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x73_text_index" ->
      // x72's exhaustive recompute under the x73 query set: the STORED
      // postings (built on half the corpus, replace-appended with the
      // other half) must serve the same rankings as tokenizing the whole
      // corpus — an append that left stale or missing postings mismatches
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM t GROUP BY 1),
        |stats AS (SELECT (SELECT count(*)::BIGINT FROM dl) AS n,
        |  (SELECT sum(dl)::DOUBLE / count(*)::DOUBLE FROM dl) AS avgdl),
        |q(query_id, qtext) AS (VALUES
        |  (1, 'merge window dup'), (2, 'hash scan part'),
        |  (3, 'big line column'), (4, 'the a value'),
        |  (5, 'query customer stream sort')),
        |qt AS (SELECT DISTINCT query_id::BIGINT AS query_id,
        |  unnest(string_split_regex(qtext, '\s+')) AS term FROM q),
        |dfreq AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |contrib AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    CAST(((s.n - d.df + 0.5) / (d.df + 0.5))
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl)))
        |      AS DECIMAL(38,12)) AS c
        |  FROM qt JOIN tf USING (term) JOIN dfreq d USING (term)
        |    JOIN dl USING (doc_id), stats s),
        |scored AS (SELECT query_id, doc_id, sum(c) AS sc FROM contrib GROUP BY 1, 2)
        |SELECT query_id, doc_id, rank, score FROM (
        |  SELECT query_id, doc_id, sc::DOUBLE AS score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sc DESC, doc_id ASC)::BIGINT AS rank
        |  FROM scored)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x74_phrase_topk" ->
      // exact-phrase recompute with integer positions: a doc scores one
      // occurrence per anchor position where EVERY phrase slot i finds its
      // word at anchor+i (count DISTINCT slots handles repeated words);
      // ranking is all-integer (n_occ DESC, doc_id ties) so the stored
      // positional postings must reproduce it exactly
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w FROM d),
        |t AS (SELECT doc_id, pos::BIGINT AS pos, w[pos] AS term FROM p),
        |q(query_id, phrase) AS (VALUES
        |  (1, 'table scan'), (2, 'merge part window'),
        |  (3, 'the fast'), (4, 'batch batch'),
        |  (5, 'stream window')),
        |q2 AS (SELECT query_id::BIGINT AS query_id,
        |  string_split_regex(phrase, '\s+') AS pw FROM q),
        |qp AS (SELECT query_id, unnest(generate_series(1, len(pw))) AS i, pw FROM q2),
        |qs AS (SELECT query_id, i::BIGINT AS i, pw[i] AS term FROM qp),
        |ql AS (SELECT query_id, count(*)::BIGINT AS len FROM qs GROUP BY 1),
        |anch AS (
        |  SELECT qs.query_id, t.doc_id, t.pos - qs.i AS a
        |  FROM qs JOIN t USING (term) JOIN ql USING (query_id)
        |  GROUP BY qs.query_id, t.doc_id, t.pos - qs.i, ql.len
        |  HAVING count(DISTINCT qs.i) = ql.len),
        |occ AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_occ
        |  FROM anch GROUP BY 1, 2)
        |SELECT query_id, doc_id, n_occ, rank FROM (
        |  SELECT query_id, doc_id, n_occ,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY n_occ DESC, doc_id ASC)::BIGINT AS rank
        |  FROM occ)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x78_slop_phrase" ->
      // the x74 anchor recompute with the equality widened to a slop-1
      // band: slot i (0-based) matches at anchor a when its word sits in
      // [a+i, a+i+1], i.e. each token supports anchors [pos-i-1, pos-i];
      // an occurrence is a distinct anchor >= 1 hit by EVERY slot
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w FROM d),
        |t AS (SELECT doc_id, pos::BIGINT AS pos, w[pos] AS term FROM p),
        |q(query_id, phrase) AS (VALUES
        |  (1, 'fast query'), (2, 'merge window'),
        |  (3, 'the scan'), (4, 'stream batch'),
        |  (5, 'customer sort')),
        |q2 AS (SELECT query_id::BIGINT AS query_id,
        |  string_split_regex(phrase, '\s+') AS pw FROM q),
        |qp AS (SELECT query_id, unnest(generate_series(0, len(pw) - 1)) AS i, pw FROM q2),
        |qs AS (SELECT query_id, i::BIGINT AS i, pw[i + 1] AS term FROM qp),
        |ql AS (SELECT query_id, count(*)::BIGINT AS len FROM qs GROUP BY 1),
        |cand AS (
        |  SELECT qs.query_id, t.doc_id,
        |    unnest(generate_series(t.pos - qs.i - 1, t.pos - qs.i)) AS a, qs.i
        |  FROM qs JOIN t USING (term)),
        |anch AS (
        |  SELECT c.query_id, c.doc_id, c.a
        |  FROM cand c JOIN ql USING (query_id)
        |  WHERE c.a >= 1
        |  GROUP BY c.query_id, c.doc_id, c.a, ql.len
        |  HAVING count(DISTINCT c.i) = ql.len),
        |occ AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_occ
        |  FROM anch GROUP BY 1, 2)
        |SELECT query_id, doc_id, n_occ, rank FROM (
        |  SELECT query_id, doc_id, n_occ,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY n_occ DESC, doc_id ASC)::BIGINT AS rank
        |  FROM occ)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x79_group_stats" ->
      // per-source doc counts over the LIVE membership (all docs built +
      // appended, every 10th removed) with the x18-style quota cap - the
      // stats rows must reproduce the corpus aggregate exactly
      """SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(len(string_split_regex(text, '\s+')))::BIGINT AS n_tokens,
        |  LEAST(count(*), 25)::BIGINT AS quota_keep
        |FROM documents WHERE doc_id % 10 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,
    "x80_fielded_groups" ->
      // per-source doc + token counts over the live membership of a
      // FIELDED grouped index: tokens span BOTH fields (text + the
      // one-token source tag)
      """SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(len(string_split_regex(text, '\s+'))
        |    + len(string_split_regex(source, '\s+')))::BIGINT AS n_tokens
        |FROM documents WHERE doc_id % 10 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,
    "x81_fielded_phrase" ->
      // the x74 anchor recompute over the TEXT column: the fielded index's
      // stamped positional field must reproduce the single-field phrase
      // ranking exactly
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w FROM d),
        |t AS (SELECT doc_id, pos::BIGINT AS pos, w[pos] AS term FROM p),
        |q(query_id, phrase) AS (VALUES
        |  (1, 'customer table'), (2, 'window batch'),
        |  (3, 'the slow'), (4, 'join query'),
        |  (5, 'merge sort')),
        |q2 AS (SELECT query_id::BIGINT AS query_id,
        |  string_split_regex(phrase, '\s+') AS pw FROM q),
        |qp AS (SELECT query_id, unnest(generate_series(1, len(pw))) AS i, pw FROM q2),
        |qs AS (SELECT query_id, i::BIGINT AS i, pw[i] AS term FROM qp),
        |ql AS (SELECT query_id, count(*)::BIGINT AS len FROM qs GROUP BY 1),
        |anch AS (
        |  SELECT qs.query_id, t.doc_id, t.pos - qs.i AS a
        |  FROM qs JOIN t USING (term) JOIN ql USING (query_id)
        |  GROUP BY qs.query_id, t.doc_id, t.pos - qs.i, ql.len
        |  HAVING count(DISTINCT qs.i) = ql.len),
        |occ AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_occ
        |  FROM anch GROUP BY 1, 2)
        |SELECT query_id, doc_id, n_occ, rank FROM (
        |  SELECT query_id, doc_id, n_occ,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY n_occ DESC, doc_id ASC)::BIGINT AS rank
        |  FROM occ)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x76_proximity" ->
      // minimal-window recompute with integer positions: a window is
      // optimal only if it starts AT a query-term occurrence, so candidate
      // starts are exactly those positions; per (start, term) the next
      // occurrence >= start, width = max(next) - start + 1, span = min
      // width over starts covered by ALL terms; rank span ASC, doc_id ties
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w FROM d),
        |t AS (SELECT doc_id, pos::BIGINT AS pos, w[pos] AS term FROM p),
        |q(query_id, qtext) AS (VALUES
        |  (1, 'customer stream'), (2, 'fast join query'),
        |  (3, 'merge sort agg'), (4, 'vector scan'),
        |  (5, 'the batch window')),
        |qt AS (SELECT DISTINCT query_id::BIGINT AS query_id,
        |  unnest(string_split_regex(qtext, '\s+')) AS term FROM q),
        |ql AS (SELECT query_id, count(*)::BIGINT AS len FROM qt GROUP BY 1),
        |tq AS (SELECT doc_id, pos, term FROM t
        |  WHERE term IN (SELECT term FROM qt)),
        |starts AS (SELECT DISTINCT qt.query_id, tq.doc_id, tq.pos AS p
        |  FROM tq JOIN qt USING (term)),
        |nxt AS (
        |  SELECT s.query_id, s.doc_id, s.p, qt.term, min(tq.pos) AS np
        |  FROM starts s
        |  JOIN qt ON qt.query_id = s.query_id
        |  JOIN tq ON tq.doc_id = s.doc_id AND tq.term = qt.term
        |    AND tq.pos >= s.p
        |  GROUP BY 1, 2, 3, 4),
        |cover AS (
        |  SELECT query_id, doc_id, p, (max(np) - p + 1)::BIGINT AS width,
        |    count(*)::BIGINT AS nt
        |  FROM nxt GROUP BY 1, 2, 3),
        |spans AS (
        |  SELECT c.query_id, c.doc_id, min(c.width)::BIGINT AS span
        |  FROM cover c JOIN ql USING (query_id)
        |  WHERE c.nt = ql.len GROUP BY 1, 2)
        |SELECT query_id, doc_id, span, rank FROM (
        |  SELECT query_id, doc_id, span,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY span ASC, doc_id ASC)::BIGINT AS rank
        |  FROM spans)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x75_bm25f" ->
      // the x72 recompute over WEIGHTED postings (BM25F-lite fold): tf' and
      // dl' sum integer per-field weights (text w=1, source w=3), df counts
      // docs holding the term in ANY field — identical rational-idf /
      // DECIMAL(38,12) discipline, one double cast at the end
      """WITH wt AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term,
        |    1::BIGINT AS w FROM documents
        |  UNION ALL
        |  SELECT doc_id, unnest(string_split_regex(source, '\s+')) AS term,
        |    3::BIGINT AS w FROM documents),
        |tf AS (SELECT doc_id, term, sum(w)::BIGINT AS tf FROM wt GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(w)::BIGINT AS dl FROM wt GROUP BY 1),
        |stats AS (SELECT (SELECT count(*)::BIGINT FROM dl) AS n,
        |  (SELECT sum(dl)::DOUBLE / count(*)::DOUBLE FROM dl) AS avgdl),
        |q(query_id, qtext) AS (VALUES
        |  (1, 'fast join src3'), (2, 'customer src7 scan'),
        |  (3, 'slow src1 merge'), (4, 'src5 window'),
        |  (5, 'spark value src19 row')),
        |qt AS (SELECT DISTINCT query_id::BIGINT AS query_id,
        |  unnest(string_split_regex(qtext, '\s+')) AS term FROM q),
        |dfreq AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |contrib AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    CAST(((s.n - d.df + 0.5) / (d.df + 0.5))
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl)))
        |      AS DECIMAL(38,12)) AS c
        |  FROM qt JOIN tf USING (term) JOIN dfreq d USING (term)
        |    JOIN dl USING (doc_id), stats s),
        |scored AS (SELECT query_id, doc_id, sum(c) AS sc FROM contrib GROUP BY 1, 2)
        |SELECT query_id, doc_id, rank, score FROM (
        |  SELECT query_id, doc_id, sc::DOUBLE AS score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sc DESC, doc_id ASC)::BIGINT AS rank
        |  FROM scored)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x77_bm25f_index" ->
      // x75's weighted recompute under the x77 query set: the STORED
      // fielded postings (built on half the corpus, replace-appended with
      // the other half) must serve identical weighted rankings
      """WITH wt AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term,
        |    1::BIGINT AS w FROM documents
        |  UNION ALL
        |  SELECT doc_id, unnest(string_split_regex(source, '\s+')) AS term,
        |    3::BIGINT AS w FROM documents),
        |tf AS (SELECT doc_id, term, sum(w)::BIGINT AS tf FROM wt GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(w)::BIGINT AS dl FROM wt GROUP BY 1),
        |stats AS (SELECT (SELECT count(*)::BIGINT FROM dl) AS n,
        |  (SELECT sum(dl)::DOUBLE / count(*)::DOUBLE FROM dl) AS avgdl),
        |q(query_id, qtext) AS (VALUES
        |  (1, 'slow filter src2'), (2, 'join src11 row'),
        |  (3, 'src4 batch hash'), (4, 'key src16'),
        |  (5, 'window src8 agg value')),
        |qt AS (SELECT DISTINCT query_id::BIGINT AS query_id,
        |  unnest(string_split_regex(qtext, '\s+')) AS term FROM q),
        |dfreq AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |contrib AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    CAST(((s.n - d.df + 0.5) / (d.df + 0.5))
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl)))
        |      AS DECIMAL(38,12)) AS c
        |  FROM qt JOIN tf USING (term) JOIN dfreq d USING (term)
        |    JOIN dl USING (doc_id), stats s),
        |scored AS (SELECT query_id, doc_id, sum(c) AS sc FROM contrib GROUP BY 1, 2)
        |SELECT query_id, doc_id, rank, score FROM (
        |  SELECT query_id, doc_id, sc::DOUBLE AS score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sc DESC, doc_id ASC)::BIGINT AS rank
        |  FROM scored)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x63_audio_quality" ->
      // per 16-sample segment: mean square power and silence permille, all
      // integer arithmetic closed-form in doc_id — the PCM walk must
      // reproduce every segment row exactly
      """WITH a AS (
        |  SELECT doc_id AS media_id, ((doc_id % 50) + 10)::BIGINT AS n_samples
        |  FROM documents WHERE doc_id < 400),
        |s AS (
        |  SELECT media_id,
        |    unnest(generate_series(0::BIGINT, n_samples - 1)) AS i
        |  FROM a),
        |v AS (
        |  SELECT media_id, (i // 16)::BIGINT AS segment,
        |    (((media_id * 7 + i * 31) % 65536) - 32768)::BIGINT AS smp
        |  FROM s)
        |SELECT media_id, segment, count(*)::BIGINT AS seg_samples,
        |  (sum(smp * smp) // count(*))::BIGINT AS mean_sq,
        |  (sum(CASE WHEN abs(smp) <= 8192 THEN 1 ELSE 0 END) * 1000 // count(*))::BIGINT
        |    AS silence_permille
        |FROM v GROUP BY media_id, segment
        |ORDER BY media_id, segment""".stripMargin,
    "x65_audio_gate" ->
      // x63's segment arithmetic folded to per-media verdicts — silent /
      // clipped segment permilles, mean power, and the boolean gate, all
      // integer arithmetic closed-form in doc_id
      """WITH a AS (
        |  SELECT doc_id AS media_id, ((doc_id % 50) + 10)::BIGINT AS n_samples
        |  FROM documents WHERE doc_id < 400),
        |s AS (
        |  SELECT media_id,
        |    unnest(generate_series(0::BIGINT, n_samples - 1)) AS i
        |  FROM a),
        |v AS (
        |  SELECT media_id, (i // 16)::BIGINT AS segment,
        |    (((media_id * 7 + i * 31) % 65536) - 32768)::BIGINT AS smp
        |  FROM s),
        |seg AS (
        |  SELECT media_id, segment,
        |    (sum(smp * smp) // count(*))::BIGINT AS mean_sq,
        |    (sum(CASE WHEN abs(smp) <= 8192 THEN 1 ELSE 0 END) * 1000 // count(*))::BIGINT AS sil
        |  FROM v GROUP BY media_id, segment),
        |g AS (
        |  SELECT media_id, count(*)::BIGINT AS n_segments,
        |    (sum(CASE WHEN sil >= 60 THEN 1 ELSE 0 END) * 1000 // count(*))::BIGINT AS silent_permille,
        |    (sum(CASE WHEN mean_sq >= 1000000000 THEN 1 ELSE 0 END) * 1000 // count(*))::BIGINT AS clip_permille,
        |    (sum(mean_sq) // count(*))::BIGINT AS mean_power
        |  FROM seg GROUP BY media_id)
        |SELECT media_id, n_segments, silent_permille, clip_permille, mean_power,
        |  (silent_permille <= 200 AND clip_permille <= 340
        |   AND mean_power >= 900000000) AS pass
        |FROM g ORDER BY media_id""".stripMargin,
  )

  /** The x55 oracle, generated per merge round: each round k is one
    * MATERIALIZED pair-count argmax (count DESC, l, r — the engine's exact
    * tie-break) plus one MATERIALIZED application of the winning merge via
    * the same greedy left-to-right fold (`list_reduce` over a '|'-delimited
    * accumulator — safe because only ^[a-z]+$ words train). MATERIALIZED
    * matters: each round references the previous one twice, and inlined
    * CTEs would expand exponentially.
    */
  private def bpeOracleSql(k: Int): String = {
    def round(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""b$i AS MATERIALIZED (SELECT l, r FROM (
         |  SELECT e.l AS l, e.r AS r, sum(freq) AS cnt FROM (
         |    SELECT freq, unnest([struct_pack(l := syms[j], r := syms[j+1])
         |      for j in generate_series(1, len(syms)-1)]) AS e FROM $prev WHERE len(syms) > 1)
         |  GROUP BY 1, 2) ORDER BY cnt DESC, l, r LIMIT 1),
         |v$i AS MATERIALIZED (SELECT word, freq,
         |  string_split(list_reduce(syms, (acc, x) -> CASE
         |    WHEN regexp_extract(acc, '[^|]*$$') = b$i.l AND x = b$i.r
         |    THEN left(acc, len(acc) - len(b$i.l)) || b$i.l || b$i.r
         |    ELSE acc || '|' || x END), '|') AS syms
         |  FROM $prev CROSS JOIN b$i)""".stripMargin
    }
    val rounds = (1 to k).map(round).mkString(",\n")
    val mergeRows = (1 to k).map(i =>
      s"SELECT 'merge' AS kind, $i::BIGINT AS id, l AS lft, r AS rgt, NULL::BIGINT AS n FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH w AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word FROM documents),
       |wf AS MATERIALIZED (SELECT doc_id, word FROM w WHERE regexp_matches(word, '^[a-z]+$$')),
       |v0 AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq,
       |        [substr(word, j, 1) for j in generate_series(1, len(word))] AS syms
       |      FROM wf GROUP BY word),
       |$rounds,
       |counts AS (SELECT doc_id, sum(len(syms))::BIGINT AS n FROM wf JOIN v$k USING (word) GROUP BY doc_id)
       |SELECT * FROM (
       |$mergeRows
       |UNION ALL
       |SELECT 'doc' AS kind, doc_id AS id, NULL AS lft, NULL AS rgt, n FROM counts)
       |ORDER BY kind, id""".stripMargin
  }
}
