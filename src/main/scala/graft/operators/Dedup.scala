package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable

/** Deduplication family for large-scale corpus pipelines. Every variant is a
  * declarative plan:
  *
  *  - exact: hash-groupBy on a fingerprint — one shuffle on the hash, never
  *    on the full text.
  *  - minhash+LSH: shingle → k minhashes → b bands → bucket self-join →
  *    exact-Jaccard verify. The bucket join shuffles on (band, bucketKey),
  *    so candidate generation is O(collisions), not O(n²); the verify step
  *    touches only candidate pairs.
  *  - simhash: 60-bit sign-aggregated fingerprint per doc (per-row fold, no
  *    row explosion) + pigeonhole-chunk bucket join for candidates.
  *  - n-gram Jaccard: the exact quadratic baseline, for oracle duty and
  *    small blocks.
  *  - embedding cosine: see [[Similarity]]; pair form lives here.
  *
  * All hashing goes through [[Portable.hash60]] so DuckDB can verify every
  * stage cell-for-cell.
  */
object Dedup {

  // ------------------------------------------------------------ exact (O6)

  /** Exact dedup by content: survivor = min id per normalized text. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol).as("text"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_dups"))

  // -------------------------------------------------------------- shingles

  /** Distinct word n-grams via the one-pass native expression
    * ([[graft.functions.NativeExpressions.ShinglesExpr]]). Short docs
    * (< n words) yield their whole text as the single shingle. The composed
    * HOF form (`array_distinct(transform(sequence...))`) is semantically
    * identical but evaluates interpreted with a per-position array slice —
    * it was the measured bottleneck of every shingle-based operator.
    */
  def shingles(wordsCol: Column, n: Int): Column =
    graft.functions.NativeExpressions.word_shingles(wordsCol, n)

  // --------------------------------------------------------------- minhash

  /** Base hashes: one md5 per shingle (the only expensive op), reduced mod
    * P31 so the k signature members derive by exact integer arithmetic.
    */
  def shingleHashes(shinglesCol: Column): Column =
    transform(shinglesCol, s => pmod(Portable.hash60(s), lit(Portable.P31)))

  /** k-minhash signature: element j = min over shingles of
    * (a_j * (hash60(s) mod P31) + b_j) mod P31 — ONE md5 per shingle plus a
    * universal hash family with literal constants, evaluated by the native
    * [[graft.functions.NativeExpressions.MinHashSigExpr]] (one JVM pass; a
    * composed-HOF version recomputes every md5 k times after projection
    * collapse). The oracle reproduces signatures with the same literals.
    */
  def minhashSignature(shinglesCol: Column, k: Int): Column =
    graft.functions.NativeExpressions.minhash_sig(shinglesCol, k)

  /** Banded view of a signature column: one row per (id, band, band key).
    * The band key is `xxhash64` of the band's signature slice — 8 bytes on
    * the bucket-join shuffle where the old comma-joined string rendering
    * shuffled ~10 bytes per signature member and paid per-row string
    * assembly (guide §2.3 "narrower types"). A 64-bit hash collision
    * between different slices can only ADD a candidate pair, and every
    * candidate is exact-verified downstream, so outputs are unchanged.
    */
  private def bandedSig(
      df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands > 0 && rowsPerBand > 0,
      s"bands ($bands) and rowsPerBand ($rowsPerBand) must be positive")
    df.select(
      col(idCol),
      explode(transform(sequence(lit(0), lit(bands - 1)), b => struct(
        b.as("band"),
        xxhash64(slice(col(sigCol), b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)))
          .as("bkey")))).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rowsPerBand`, bucket on the band content, self-join buckets.
    * Returns distinct (a_id, b_id) with a_id < b_id.
    */
  def lshCandidates(
      df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandedSig(df, idCol, sigCol, bands, rowsPerBand)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
  }

  /** Two-sided LSH candidates: bucket-join CORPUS bands against BATCH bands
    * (no self-pairs on either side) — the incremental-dedup probe shape.
    * Returns distinct (a_id = corpus id, b_id = batch id).
    */
  def lshCandidatesAcross(
      corpusSig: DataFrame, batchSig: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val a = bandedSig(corpusSig, idCol, sigCol, bands, rowsPerBand).as("a")
    val b = bandedSig(batchSig, idCol, sigCol, bands, rowsPerBand).as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
  }

  /** Exact Jaccard between two distinct-shingle arrays — native hash-set
    * expression computing i / (|A| + |B| - i) in doubles, the identical
    * arithmetic the oracle's list_intersect formulation uses.
    */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.array_jaccard(a, b)

  /** Band width for an LSH split, guarding the silent-truncation trap:
    * `numHashes / bands` with a remainder would drop the trailing hashes
    * out of every band and quietly lower recall.
    */
  private def rowsPerBandOf(numHashes: Int, bands: Int): Int = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands) — " +
        "otherwise trailing hashes silently drop out of every band")
    numHashes / bands
  }

  /** Full minhash-LSH near-dup pipeline: candidates from banding, verified
    * with exact Jaccard ≥ threshold against the original shingle sets.
    */
  def minhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      shingles(split(col(textCol), "\\s+"), shingleN).as("sh"))
    val sig = sh.select(col("id"), minhashSignature(col("sh"), numHashes).as("sig"))
    // the candidate set is tiny (collision pairs) but referenced twice below;
    // without persist each reference would recompute the whole LSH join
    val cand = lshCandidates(sig, "id", "sig", bands, rowsPerBandOf(numHashes, bands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // verify only the candidate docs: semi-join BEFORE shingling so the
    // second shingle pass touches O(candidates) rows, not the corpus
    val candIds = cand.select(explode(array(col("a_id"), col("b_id"))).as("cid")).distinct()
    val shCand = docs.join(broadcast(candIds), col(idCol) === col("cid"), "left_semi")
      .select(col(idCol).as("id"), shingles(split(col(textCol), "\\s+"), shingleN).as("sh"))
    val out = cand
      .join(shCand.select(col("id").as("a_id"), col("sh").as("sh_a")), "a_id")
      .join(shCand.select(col("id").as("b_id"), col("sh").as("sh_b")), "b_id")
      .select(col("a_id"), col("b_id"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // materialize (verified pairs — small) so the candidate cache releases
      // NOW instead of pinning the session CacheManager for its lifetime
      .localCheckpoint()
    cand.unpersist()
    out
  }

  /** Incremental near-dup detection: which BATCH docs duplicate a CORPUS
    * doc? The 100 TB pipeline shape — an already-deduped corpus stays
    * untouched while each incoming batch is probed against it: signatures
    * are computed over corpus + batch (one pass each), candidates come
    * from the two-sided band join (O(collisions), never corpus × batch),
    * and only candidate docs are re-shingled for exact-Jaccard
    * verification. Returns (a_id = corpus doc, b_id = batch doc, jaccard ≥
    * threshold).
    */
  def minhashNearDupsAgainst(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    def sigOf(df: DataFrame) = df.select(col(idCol).as("id"),
      minhashSignature(shingles(split(col(textCol), "\\s+"), shingleN), numHashes).as("sig"))
    val cand = lshCandidatesAcross(sigOf(corpus), sigOf(batch), "id", "sig",
        bands, rowsPerBandOf(numHashes, bands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def shCand(df: DataFrame, side: String) = {
      val ids = cand.select(col(side).as("cid")).distinct()
      df.join(broadcast(ids), col(idCol) === col("cid"), "left_semi")
        .select(col(idCol).as(side), shingles(split(col(textCol), "\\s+"), shingleN).as(s"sh_$side"))
    }
    val out = cand
      .join(shCand(corpus, "a_id"), "a_id")
      .join(shCand(batch, "b_id"), "b_id")
      .select(col("a_id"), col("b_id"), jaccard(col("sh_a_id"), col("sh_b_id")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // materialize + release, same CacheManager-hygiene pairing as above
      .localCheckpoint()
    cand.unpersist()
    out
  }

  /** Keep only the batch docs that are NOT near-dups of any corpus doc —
    * [[minhashNearDupsAgainst]] + anti-join, returning the batch rows that
    * survive. Within-batch duplicates are out of scope by design: compose
    * with [[minhashNearDups]] on the batch when both passes are wanted.
    */
  def dedupAgainst(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val dups = minhashNearDupsAgainst(corpus, batch, idCol, textCol,
      shingleN, numHashes, bands, threshold)
    batch.join(dups.select(col("b_id")), col(idCol) === col("b_id"), "left_anti")
  }

  /** EXACT incremental dedup: batch docs whose content already exists in a
    * standing corpus are dropped; novel docs survive. Plan shape for a
    * 100 TB corpus: fingerprint both sides (md5 of content — one narrow
    * column), stream the corpus ONCE through a left_semi probe against the
    * broadcast batch fingerprint set ("which of these fingerprints does the
    * corpus contain"); the tiny hit set re-broadcasts for the batch's
    * anti-join. The corpus is never shuffled and only its fingerprint
    * column is read — batch-sized data crosses the network twice.
    * Within-batch duplicates are out of scope, as in [[dedupAgainst]].
    */
  def exactDedupAgainst(
      corpus: DataFrame, batch: DataFrame, textCol: String): DataFrame = {
    val batchFps = batch.select(md5(col(textCol)).as("__fp")).distinct()
    val present = corpus.select(md5(col(textCol)).as("__fp"))
      .join(broadcast(batchFps), Seq("__fp"), "left_semi")
      .distinct()
    batch.join(broadcast(present), md5(col(textCol)) === col("__fp"), "left_anti")
  }

  // ------------------------------------------- substring-level spans (x54)

  /** EXACT substring-level dedup: the maximal token spans of each document
    * that appear verbatim (as a ≥k-token run) in at least one OTHER
    * document — the operator that strips memorized boilerplate and license
    * blocks from a training corpus (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", builds the same span set
    * with an in-memory suffix array; a 100 TB corpus does not fit one, so
    * this is the distributed reformulation as a sorted k-gram fingerprint
    * posting join).
    *
    * Shape, all narrow rows end to end:
    *  1. every token position emits its k-gram's 60-bit fingerprint —
    *     `(doc, p, fp)`, O(total tokens) rows of three scalars; the k
    *     tokens themselves never leave the scan ([[Portable.hash60]] of
    *     the gram inside the projection).
    *  2. a fingerprint is cross-doc duplicated iff it occurs in ≥2 distinct
    *     docs — tested as `min(doc) != max(doc)`, which (unlike
    *     count(distinct)) partial-aggregates map-side, so the shuffle
    *     carries one row per distinct fingerprint per partition.
    *  3. duplicated positions come back via a semi join on the fingerprint,
    *  4. and runs of duplicated positions merge into MAXIMAL spans with a
    *     gaps-and-islands window per doc: a new span starts when the gap to
    *     the previous duplicated position exceeds k (two k-gram hits ≤ k
    *     apart overlap or touch as token ranges).
    *
    * Within-doc repetition alone does NOT flag (that is repetition
    * statistics, [[graft.operators.Curation]]); docs shorter than k tokens
    * cannot contain a k-token span and are skipped. Positions are 1-based;
    * a span row is (doc_id, span_start, span_len) covering tokens
    * span_start .. span_start+span_len-1. 60-bit fingerprint collisions can
    * in principle flag a false span — the standard fingerprinting
    * trade-off; `verify = true` closes it with one CANDIDATE-ONLY join:
    * each flagged position's actual k tokens are re-derived and the
    * cross-doc test re-runs on the text itself, so a collision can never
    * survive into the span set (output is bit-identical when no collision
    * occurred). The verification pass touches only candidate positions —
    * token arrays shuffle once, restricted to docs holding candidates —
    * so its cost tracks the duplicated fraction, not the corpus.
    */
  def crossDocSpans(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      verify: Boolean = false): DataFrame =
    crossDocSpansBy(docs, idCol, textCol, k, verify, Portable.hash60)

  /** [[crossDocSpans]] with the position fingerprint pluggable — the test
    * seam that makes fingerprint collisions constructible (a real 60-bit
    * md5 collision is not findable on demand).
    */
  private[operators] def crossDocSpansBy(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      verify: Boolean, fpOf: Column => Column): DataFrame = {
    require(k >= 2, s"span length threshold k ($k) must be at least 2")
    val toks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), "\\s+").as("w"))
      .filter(size(col("w")) >= k)
    // the per-position fingerprint stream — the dominant compute (one
    // k-token string build + md5 per corpus position). A min/max window
    // over fp computes the stream ONCE and takes one exchange keyed on fp.
    // It beat a semi-join back onto a duplicated-fp aggregate (evaluates the
    // stream twice), a persist+checkpoint round trip and a collect_list
    // aggregate — measured interleaved in one JVM, n=3, at sf0.1 and a 4×
    // corpus, on wall and task time both (OPTIMIZATION_r15.md O5).
    val pos = toks
      .select(col("doc_id"),
        posexplode(graft.functions.NativeExpressions.word_ngrams(col("w"), k)))
      .select(col("doc_id"), (col("pos") + lit(1L)).as("p"),
        fpOf(col("col")).as("fp"))
    val wf = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val candidates = pos.withColumn("__lo", min("doc_id").over(wf))
      .withColumn("__hi", max("doc_id").over(wf))
      .filter(col("__lo") =!= col("__hi"))
      .drop("__lo", "__hi")
    val dpos =
      if (!verify) candidates
      else {
        // re-derive each candidate's k tokens (docs with no candidate never
        // join) and re-test cross-doc duplication on the TEXT: exact, so a
        // fingerprint collision cannot flag a span. The gram key is the
        // token ARRAY itself (arrays group/join by element equality) — a
        // delimiter-joined string is NOT collision-free: no separator byte
        // is guaranteed absent from \s+-split tokens.
        val grams = candidates.join(toks, Seq("doc_id"))
          .select(col("doc_id"), col("p"),
            slice(col("w"), col("p").cast("int"), lit(k)).as("g"))
        val realG = grams.groupBy("g")
          .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
          .filter(col("lo") =!= col("hi"))
          .select("g")
        grams.join(realG, Seq("g"), "left_semi").select("doc_id", "p")
      }
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
    dpos
      .withColumn("prev", lag("p", 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("p") - col("prev") > k, 1).otherwise(0))
      .withColumn("grp", sum("brk").over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("p").as("span_start"),
        (max(col("p")) - min(col("p")) + k).as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  /** Apply a [[crossDocSpans]] result: rebuild each document's text with
    * the flagged token ranges CUT OUT — the removal half of the Lee et al.
    * substring-dedup pipeline (flag with crossDocSpans, clean with this).
    * Pure per-row column work after one left join against the span set
    * (spans-per-doc is bounded — maximal islands are disjoint), so the
    * corpus streams: no shuffle beyond the span join. Docs with no flagged
    * span pass through untouched, including docs shorter than k that the
    * flagging skipped. Positions are 1-based token indices, matching the
    * span rows.
    */
  def removeSpans(
      docs: DataFrame, idCol: String, textCol: String, spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy(col("doc_id").as("__sd_id"))
      .agg(collect_list(struct(col("span_start"), col("span_len"))).as("__sp"))
    docs.join(perDoc, col(idCol) === col("__sd_id"), "left")
      .withColumn(textCol,
        when(col("__sp").isNull, col(textCol)).otherwise(
          concat_ws(" ",
            filter(split(col(textCol), "\\s+"), (_, i) =>
              !exists(col("__sp"), s =>
                i + 1 >= s.getField("span_start") &&
                  i + 1 < s.getField("span_start") + s.getField("span_len"))))))
      .drop("__sd_id", "__sp")
  }

  // --------------------------------------------------------------- simhash

  val SimhashBits = 60

  /** 60-bit simhash of the token multiset — the native Catalyst expression
    * ([[graft.functions.NativeExpressions.SimHash60Expr]]): one JVM pass per
    * row. Same md5-hex bit semantics as the interpreted formulation the
    * oracle computes.
    */
  def simhash(wordsCol: Column): Column =
    graft.functions.NativeExpressions.simhash60(wordsCol)

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Simhash near-dup pairs with guaranteed recall for hamming ≤ chunks-1:
    * split the fingerprint into `chunks` bit-ranges; by pigeonhole any pair
    * within that distance shares at least one chunk, so the bucket join
    * finds it. Verification recomputes exact hamming.
    */
  def simhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    require(maxHamming < chunks, "pigeonhole recall needs chunks > maxHamming")
    val bitsPerChunk = SimhashBits / chunks
    val withSh = docs.select(col(idCol).as("id"),
      simhash(split(col(textCol), "\\s+")).as("sh"))
    val keys = (0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("sh"), c * bitsPerChunk).bitwiseAND(lit((1L << bitsPerChunk) - 1)).as("ckey"))
    }
    val banded = withSh.select(col("id"), col("sh"), explode(array(keys: _*)).as("x"))
      .select(col("id"), col("sh"), col("x.chunk").as("chunk"), col("x.ckey").as("ckey"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        hamming(col("a.sh"), col("b.sh")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxHamming)
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Attach each token's document frequency to the exploded (…, tok) stream:
    * a two-level aggregate to the distinct `(tok, df)` table (the exchange
    * carries only per-map-partition partial counts) joined back on tok. The
    * planner broadcasts the df table when it fits under the broadcast cap —
    * no full-stream exchange and no sort, the measured winner over a
    * `count() over (partition by tok)` window at sf0.1 and on a 6×
    * corpus (OPTIMIZATION_r15.md, x04 A/B) — and shuffle-joins it when it
    * does not.
    */
  private def withTokenDf(toks: DataFrame): DataFrame =
    toks.join(toks.groupBy("tok").agg(count(lit(1)).as("df")), Seq("tok"))

  /** Directed n-gram CONTAINMENT join: pairs (a, b), a ≠ b, with
    * |sh(a) ∩ sh(b)| / |sh(a)| ≥ threshold — the asymmetric near-dup
    * (verbatim quotes, boilerplate, subset pages) that symmetric Jaccard
    * misses whenever the container is much larger than the contained text.
    * The prefix filter applies to the CONTAINED side only: C(a→b) ≥ t
    * forces a match inside a's (|a| − ceil(t·|a|) + 1) rarest tokens, so a
    * posts that prefix while the container side posts every token (the
    * candidate index is O(corpus tokens) — inherent to containment, since
    * nothing bounds the container's size from above; the size filter only
    * requires |b| ≥ ceil(t·|a|)). Exact verification on candidates.
    */
  def ngramContainmentJoin(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      blockCol: Option[String] = None): DataFrame = {
    val block = blockCol.map(col).getOrElse(lit(1))
    val t = lit(threshold)
    val sh = docs.select(col(idCol).as("id"), block.as("blk"),
        shingles(split(col(textCol), "\\s+"), n).as("sh"))
      .withColumn("sz", size(col("sh")))
    // contained side: rarest-token prefix, same ordering rationale (and the
    // same token-df attachment, [[withTokenDf]]) as the Jaccard prefix join
    val aPref = withTokenDf(
        sh.select(col("id"), col("blk"), col("sz"), explode(col("sh")).as("tok")))
      .groupBy("id", "blk", "sz")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("id").as("a_id"), col("blk"), col("sz").as("a_sz"),
        explode(slice(transform(col("ord"), _.getField("tok")), lit(1),
          greatest(col("sz") - ceil(col("sz") * t).cast("int") + 1, lit(1)))).as("tok"))
    val bAll = sh.select(col("blk"), col("id").as("b_id"), col("sz").as("b_sz"),
      explode(col("sh")).as("tok"))
    val cand = aPref.join(bAll, Seq("blk", "tok"))
      .filter(col("a_id") =!= col("b_id") && col("b_sz") >= ceil(col("a_sz") * t))
      .select("blk", "a_id", "b_id").distinct()
    cand
      .join(sh.select(col("id").as("a_id"), col("sh").as("sh_a")), "a_id")
      .join(sh.select(col("id").as("b_id"), col("sh").as("sh_b")), "b_id")
      .select(col("blk"), col("a_id"), col("b_id"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Quadratic reference form of [[ngramContainmentJoin]] (tests only). */
  def ngramContainmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      shingles(split(col(textCol), "\\s+"), n).as("sh"))
    val a = sh.select(col("id").as("a_id"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("b_id"), col("sh").as("sh_b"))
    a.join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Exact n-gram Jaccard pairs ≥ threshold: pair join within a block + the
    * native jaccard expression (one hash-set pass per pair). `blockCol`
    * bounds the quadratic pair space (all-pairs within a block); None =
    * global — only sane for small corpora or as the oracle baseline. An
    * explode-and-count formulation loses here because tiny vocabularies make
    * shingle collisions dense; with realistic vocabularies both work, and
    * minhashNearDups is the true scale path either way.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      blockCol: Option[String] = None): DataFrame = {
    val block = blockCol.map(col).getOrElse(lit(1))
    val sh = docs.select(col(idCol).as("id"), block.as("blk"),
      shingles(split(col(textCol), "\\s+"), n).as("sh"))
    val a = sh.select(col("blk"), col("id").as("a_id"), col("sh").as("sh_a"))
    val b = sh.select(col("blk"), col("id").as("b_id"), col("sh").as("sh_b"))
    a.join(b, Seq("blk")).filter(col("a_id") < col("b_id"))
      .select(col("blk"), col("a_id"), col("b_id"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard similarity join via prefix filtering (the All-Pairs /
    * PPJoin family, Bayardo et al. WWW'07): under a global token order, any
    * pair with J(A,B) ≥ t shares a token among the first
    * |X| − ceil(t·|X|) + 1 tokens of each sorted set, so candidates come
    * from an equi-join on (block, prefix-token) — O(index collisions) —
    * instead of the all-pairs product; a size-ratio filter (t·|A| ≤ |B| ∧
    * t·|B| ≤ |A|, both implied by J ≥ t) prunes further before the exact
    * jaccard verify touches only candidate pairs. Output is IDENTICAL to
    * [[ngramJaccardPairs]] — this is the formulation that survives a 100×
    * corpus scale-up; the quadratic one is kept as the oracle baseline.
    */
  def ngramJaccardPrefixJoin(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      blockCol: Option[String] = None): DataFrame = {
    val block = blockCol.map(col).getOrElse(lit(1))
    val t = lit(threshold)
    // persisted: this subtree feeds the token-df count, the prefix build,
    // and both sides of the candidate verify — without it the
    // tokenize+shingle scalar work (the dominant cost) runs four times
    val sh = docs.select(col(idCol).as("id"), block.as("blk"),
        shingles(split(col(textCol), "\\s+"), n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // global order = ascending document frequency (ties by token): prefixes
    // then hold each set's RAREST tokens, so inverted-index buckets stay
    // small — a lexicographic order leaves frequent tokens in prefixes and
    // recreates the quadratic blowup inside hot buckets. df attaches via
    // [[withTokenDf]] (two-level aggregate + broadcast by default: the
    // stream is neither re-shuffled nor sorted for its df)
    val pref = withTokenDf(
        sh.select(col("id"), col("blk"), col("sz"), explode(col("sh")).as("tok")))
      .groupBy("id", "blk", "sz")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("id"), col("blk"), col("sz"),
        explode(slice(transform(col("ord"), _.getField("tok")), lit(1),
          greatest(col("sz") - ceil(col("sz") * t).cast("int") + 1, lit(1)))).as("tok"))
    val cand = pref.select(col("blk"), col("tok"), col("id").as("a_id"), col("sz").as("a_sz"))
      .join(pref.select(col("blk"), col("tok"), col("id").as("b_id"), col("sz").as("b_sz")),
        Seq("blk", "tok"))
      .filter(col("a_id") < col("b_id") &&
        col("b_sz") >= ceil(col("a_sz") * t) && col("a_sz") >= ceil(col("b_sz") * t))
      .select("blk", "a_id", "b_id").distinct()
    val out = cand
      .join(sh.select(col("id").as("a_id"), col("sh").as("sh_a")), "a_id")
      .join(sh.select(col("id").as("b_id"), col("sh").as("sh_b")), "b_id")
      .select(col("blk"), col("a_id"), col("b_id"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // materialize (pairs above threshold — small) so the shingle cache can
      // be RELEASED now: a lazy return would pin `sh` in the session
      // CacheManager for the session's lifetime, and long-lived sessions
      // (Verify runs the whole surface concurrently) accumulate every call's
      // cache. Same persist/unpersist pairing as dupClusters.
      .localCheckpoint()
    sh.unpersist()
    out
  }

  // ------------------------------------------------- dup-cluster resolution

  /** Connected components over an undirected pair graph (near-dup pairs →
    * duplicate CLUSTERS, so a pipeline can keep one canonical doc per
    * cluster instead of reasoning about pairwise edges). Min-label
    * propagation with pointer doubling: each round (a) joins every vertex's
    * label to its neighbors and keeps the minimum, then (b) compresses
    * `l(u) ← l(l(u))`, so label chains halve every round and a
    * diameter-d component closes in O(log d) rounds instead of O(d) —
    * the worst case (a long chain of near-dups at corpus scale) stays a
    * handful of shuffles. Labels only ever decrease toward the component
    * min; at the fixpoint every edge has equal labels on both ends, so the
    * label IS the component min. Dup clusters are quasi-cliques (diameter
    * 1-2 in practice), so typical runs converge in 2-3 rounds; `maxIter`
    * is a safety bound. Returns (id, cluster_id = min id in component) for
    * every vertex that appears in a pair.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist()
    // every round is localCheckpoint'd (eager): the pointer-doubling
    // self-join references the running labels TWICE, so an un-truncated
    // lineage would double per iteration — checkpointing keeps each round's
    // plan flat and the final result free of the loop's history
    var labelsCp = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id")).localCheckpoint(true)
    var labels = labelsCp
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(min("cluster_id").as("nbr_min"))
      // the pre-round label rides along as `prev`, so the convergence test
      // below is a scan of the checkpointed rows instead of a second join
      // of `next` back against the previous labels
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("prev"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"))
      // pointer doubling: follow the label's own label. l(l(u)) <= l(u)
      // because labels shrink monotonically, so compression is always safe
      // and halves the depth of label chains each round.
      val next = propagated.join(
          propagated.select(col("id").as("cluster_id"), col("cluster_id").as("parent_label")),
          Seq("cluster_id"), "left")
        .select(col("id"), col("prev"),
          least(col("cluster_id"), coalesce(col("parent_label"), col("cluster_id"))).as("cluster_id"))
        .localCheckpoint(true)
      changed = next.filter(col("cluster_id") < col("prev")).count()
      labelsCp.unpersist()
      labelsCp = next
      labels = next.select("id", "cluster_id")
      iter += 1
    }
    edges.unpersist()
    labels
  }
}
