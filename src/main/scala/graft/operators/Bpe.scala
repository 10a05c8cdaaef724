package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Learned byte-pair-encoding tokenizer (x55): train a REAL greedy merge
  * table on the corpus and count tokens under it — the upgrade over x10's
  * fixed "BPE-ish" heuristic, so token-budget selection and sequence
  * packing can track actual tokenizer behavior.
  *
  * Shape, built for the 100 TB pipeline: training never iterates over the
  * corpus — the corpus is scanned ONCE into the bounded DISTINCT-WORD
  * frequency table (the classic BPE training input), and each merge round
  * runs over that vocabulary only (one tiny aggregation + one fold per
  * round, driver-coordinated like every tokenizer trainer). Counting
  * tokens back over the corpus is one vocab-sized join against the trained
  * per-word segmentation — words stream, nothing corpus-sized shuffles.
  *
  * Everything is exact integer arithmetic over deterministic orderings
  * (pair count DESC, then left/right symbol ascending binary order), so a
  * DuckDB oracle reproduces the merge table AND the per-doc counts
  * cell-for-cell (the x49 portable-arithmetic pattern; the oracle mirrors
  * the greedy fold with a `list_reduce` over a delimited accumulator).
  */
object Bpe {

  /** A word as its initial symbol sequence: one UTF-8 character each. */
  def charSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** One greedy merge application: replace adjacent (l, r) pairs
    * left-to-right, non-overlapping ("a a a a" + merge(a,a) → "aa aa") —
    * the standard BPE apply rule, as a pure Catalyst fold (no UDF): the
    * accumulator array's last element merges with the current symbol when
    * they form the pair.
    */
  def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms,
      array().cast(ArrayType(StringType, containsNull = false)),
      (acc, x) => when(size(acc) > 0 && element_at(acc, -1) === l && x === r,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  final case class Merge(rank: Int, left: String, right: String)

  /** Train up to `k` greedy merges over a (word, freq, syms) vocabulary
    * frame. Pair statistics count every adjacent occurrence weighted by
    * word frequency (the textbook get_stats); the argmax tie-breaks
    * deterministically by (count DESC, left ASC, right ASC). Each round
    * materializes the vocabulary once (localCheckpoint — it is the
    * bounded distinct-word table, never the corpus). Returns the learned
    * merges in rank order and the final segmented vocabulary.
    */
  def train(vocab: DataFrame, k: Int): (Seq[Merge], DataFrame) = {
    require(k >= 1, s"BPE needs at least one merge round, got $k")
    // Right-size the loop frame once (guide §2.2): the vocabulary is the
    // bounded distinct-word table, but it arrives partitioned like the
    // corpus scan that built it, so every merge round pays task overhead
    // on near-empty partitions twice (pair-stats agg + checkpoint). Sized
    // from the optimizer's free size estimate (~64 KB/partition — the
    // applyMerge fold is CPU-heavy per row, so the frame must stay wide
    // enough to parallelize it; a first cut at 1 partition serialized the
    // fold and LOST 0.8 s), capped by the session's parallelism, never
    // repartitioned up (coalesce only), no extra job.
    // clamp in BigInt space BEFORE converting: sizeInBytes is a BigInt that
    // can exceed Long.MaxValue (unknown-stats defaults multiply through
    // joins), and a raw .toLong truncation can go negative — collapsing
    // parts to 1 and serializing the merge loop
    val estBytes = vocab.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = ((estBytes / 65536 + 1)
      .min(BigInt(vocab.sparkSession.sparkContext.defaultParallelism))
      .max(BigInt(1))).toInt
    var v = vocab.coalesce(parts).localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= k && !exhausted) {
      val best = v.filter(size(col("syms")) > 1)
        .select(col("freq"),
          explode(transform(sequence(lit(1), size(col("syms")) - 1), j =>
            struct(element_at(col("syms"), j).as("l"),
              element_at(col("syms"), j + lit(1)).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // every word fully merged
      else {
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        merges += Merge(rank, l, r)
        v = v.withColumn("syms", applyMerge(col("syms"), l, r)).localCheckpoint()
        rank += 1
      }
    }
    (merges.result(), v)
  }

  /** Segment an arbitrary word with an already-learned merge table: fold
    * the character symbols through the merges in rank order (the Sennrich
    * apply rule) — how UNSEEN words tokenize at inference time. One
    * composed Catalyst expression per merge; meant for the residual
    * unseen-word stream, while known words ride the precomputed vocab
    * segmentation.
    */
  def segment(word: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(charSyms(word)) { (syms, m) =>
      applyMerge(syms, m.left, m.right)
    }

  /** Column-level token counter under a learned merge table — the exact
    * hook shape [[graft.operators.Curation.tokenBudgetSelect]] takes, so a
    * STORED tokenizer ([[BpeStore.load]]) can drive budget selection.
    * Segments every word on the fly (the unseen-word rule), which is the
    * right trade for a Column-only call site; corpus-scale counting should
    * prefer the vocab join in [[tokenCounts]].
    */
  def counterOf(merges: Seq[Merge]): Column => Column =
    t => aggregate(
      transform(filter(split(t, "\\s+"), w => length(w) > 0),
        w => size(segment(w, merges))),
      lit(0L), (acc, n) => acc + n.cast("long"))

  /** Per-doc REAL token counts under the trained segmentation: one
    * vocab-sized join of the corpus word stream against the bounded
    * per-word symbol counts (AQE broadcasts it whenever it fits). Words OUTSIDE the training vocabulary (a
    * fresh inference corpus) segment on the fly with [[segment]] — never
    * silently dropped.
    */
  def tokenCounts(
      words: DataFrame, trainedVocab: DataFrame,
      merges: Seq[Merge] = Seq.empty): DataFrame = {
    // no broadcast hint: the vocab is usually broadcast-sized and AQE will
    // pick that plan itself, but a 100 TB corpus can carry a distinct-word
    // table past the broadcast ceiling — forcing it would OOM the driver
    // where a shuffle join just works
    val joined = words.join(
      trainedVocab.select(col("word"), size(col("syms")).as("__n_sym")),
      Seq("word"), "left")
    val counted =
      if (merges.isEmpty) joined.withColumn("__n",
        coalesce(col("__n_sym"),
          // no merge table provided: an unseen word can only be its raw
          // character sequence (zero merges apply by definition)
          length(col("word")).cast("long")))
      else joined.withColumn("__n",
        coalesce(col("__n_sym"),
          size(segment(col("word"), merges)).cast("long")))
    counted.groupBy("doc_id").agg(sum("__n").as("n"))
  }
}
