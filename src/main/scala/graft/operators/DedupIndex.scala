package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.TableType
import graft.table.KeyedTable

/** Standing near-dup index AS a graft keyed table — the piece that makes
  * incremental dedup O(batch + collisions) END TO END at corpus scale.
  *
  * [[Dedup.dedupAgainst]] (x23) recomputes the corpus-side shingles and
  * minhash signatures on every batch: correct, but at 100 TB the corpus
  * scan dominates every delivery. Here the per-doc dedup state —
  * `(id, sig, sh)`: the k-member minhash signature for LSH banding and the
  * distinct-shingle set for exact-Jaccard verification — is persisted ONCE
  * into a keyed graft table (MOR, so each append is an O(batch) delta
  * commit, never a table rewrite), and every batch:
  *
  *  1. probes the PRE-BUILT signatures with the two-sided band join
  *     (O(collisions), the corpus text is never re-tokenized),
  *  2. verifies candidates with exact Jaccard against the STORED shingle
  *     sets (only candidate index rows are touched via a broadcast
  *     semi-join),
  *  3. appends its survivors' entries as one upsert — so the NEXT batch is
  *     automatically screened against them too.
  *
  * Results are bit-identical to [[Dedup.dedupAgainst]] over (original
  * corpus ∪ previously appended survivors) — pinned by DedupIndexSpec and
  * the x53 oracle. The index inherits the whole table stack: time travel
  * (reproduce yesterday's screening decisions), CDC (stream new entries to
  * replicas), compaction, savepoints.
  *
  * Scale notes: the index row is ~the normalized token set of the doc —
  * proportional to corpus text, the standard price of an inverted
  * posting-list index; the signature column alone (what the band join
  * scans) is k longs per doc. The band join shuffles banded signatures,
  * never shingles; shingles move only for the candidate rows.
  */
object DedupIndex {

  val SigCol = "sig"
  val ShCol = "sh"

  /** Informational parameter stamps written at [[bootstrap]]/[[rebuild]]/
    * [[cutover]]: the shingle/signature parameters the stored entries were
    * computed under. Probes still take the parameters explicitly (they must
    * match the INDEX, and the caller owns that contract); the stamps make
    * the contract inspectable (`show_properties`) and give the SQL rebuild
    * procedure its defaults.
    */
  val ShingleNProp = "dedup.shingle_n"
  val NumHashesProp = "dedup.num_hashes"

  /** Per-doc index entry: id, minhash signature, distinct shingle set. */
  private def entriesOf(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame =
    docs.select(col(idCol),
        Dedup.shingles(split(col(textCol), "\\s+"), shingleN).as(ShCol))
      .withColumn(SigCol, Dedup.minhashSignature(col(ShCol), numHashes))

  /** Create the index table from the standing corpus — one pass over the
    * corpus, ever. MOR keyed table so subsequent appends are delta commits;
    * `compact.auto` is set at birth (continuous ingest is this table's
    * whole life, exactly the unbounded-delta-chain shape the policy hook
    * exists for), so streamed appends fold into base files hands-off.
    */
  def bootstrap(
      spark: SparkSession, indexPath: String, corpus: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16): Unit = {
    // key-sorted from birth (guide §6 sort-on-write), matching the layout
    // [[KeyedTable.compact]] maintains: probe-side pushed-IN candidate
    // lookups ([[probe]]) row-group-prune the shingle column immediately,
    // not only after the first compaction. The range sampler's extra pass
    // is column-pruned to idCol — the shingle/signature expressions (the
    // dominant bootstrap cost) run once.
    KeyedTable.create(spark, indexPath,
      entriesOf(corpus, idCol, textCol, shingleN, numHashes)
        .repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol)),
      tableName = "graft_dedup_index",
      keyFields = Seq(idCol), precombineField = idCol,
      partitionFields = Seq.empty, tableType = TableType.MergeOnRead,
      properties = Map(graft.table.TableProperties.CompactAuto -> "true",
        ShingleNProp -> shingleN.toString, NumHashesProp -> numHashes.toString))
    ()
  }

  /** Re-parameterize IN PLACE — the [[graft.operators.PqIndex.retrain]]
    * analogue for the one index whose "model" is its parameters: recompute
    * every entry from `corpus` under NEW (shingleN, numHashes) and land the
    * images plus tombstones for every current id (ids no longer in the
    * corpus die; ids still present get their new-parameter image — images
    * beat same-key tombstones) as ONE commit ([[KeyedTable.mergeRows]]).
    * No batch ever screens against a half-rebuilt index: probes before the
    * commit use the old entries (old parameters), after it the new — flip
    * the probe-side parameters (and any [[SyncRegistry]] spec) at the same
    * moment. `asOf` before the commit still reproduces the old screening;
    * rollback restores it wholesale. Requires a corpus scan by nature (the
    * index deliberately stores no raw text — shingles are normalized
    * derivations); when that scan is too long to run in place, stage with
    * [[rebuildTo]] + [[cutover]] instead.
    */
  def rebuild(
      spark: SparkSession, indexPath: String, corpus: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16): Unit = {
    val keyF = graft.table.CommitLog.requireState(spark, indexPath).latest.keyFields
    require(keyF == Seq(idCol),
      s"index at $indexPath is keyed by ${keyF.mkString(",")}, not $idCol")
    val dels = KeyedTable.read(spark, indexPath).select(col(idCol))
    // stamp BEFORE the merge: probes take caller-passed parameters (an
    // early stamp misleads nothing), but the SYNC reads the stamps — with
    // a crash between merge and a late stamp, every later synced append
    // would land old-parameter entries into the rebuilt index until
    // someone noticed. Early-stamp crashes heal on the natural retry (the
    // re-run recomputes every entry, retiring any interim mismatch).
    graft.table.TableProperties.set(spark, indexPath,
      Map(ShingleNProp -> shingleN.toString, NumHashesProp -> numHashes.toString))
    KeyedTable.mergeRows(spark, indexPath, dels,
      entriesOf(corpus, idCol, textCol, shingleN, numHashes))
    ()
  }

  /** Stage a rebuild: bootstrap a FRESH index under new parameters at a
    * staging path while the live index keeps serving (batches in flight
    * screen against the OLD entries until [[cutover]]). Just [[bootstrap]],
    * named for the flow it belongs to.
    */
  def rebuildTo(
      spark: SparkSession, stagingPath: String, corpus: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16): Unit =
    bootstrap(spark, stagingPath, corpus, idCol, textCol, shingleN, numHashes)

  /** Atomic cutover from a [[rebuildTo]] staging index: replace the live
    * index's entries wholesale with the staging index's as ONE mergeRows
    * commit at the LIVE path — readers and in-flight gate batches see the
    * old entries until the commit and the new ones after, never a mix; the
    * live path's history stays `asOf`-able (the compliance posture — a
    * directory swap would orphan it). The parameter stamps copy over; flip
    * probe-side parameters (and any [[SyncRegistry]] spec) with the
    * cutover. The staging index is left untouched for the caller to retire.
    */
  def cutover(
      spark: SparkSession, indexPath: String, stagingPath: String): Unit = {
    val keyF = graft.table.CommitLog.requireState(spark, indexPath).latest.keyFields
    val stagingKeyF =
      graft.table.CommitLog.requireState(spark, stagingPath).latest.keyFields
    require(keyF == stagingKeyF,
      s"cutover key mismatch: live ${keyF.mkString(",")} vs staging ${stagingKeyF.mkString(",")}")
    val idCol = keyF.head
    val dels = KeyedTable.read(spark, indexPath).select(col(idCol))
    // stamps BEFORE the swap commit, same reasoning as rebuild's. A staging
    // index with NO stamps (bootstrapped by a pre-stamp binary) must also
    // UNSET the live table's old stamps: leaving them standing over the
    // new-parameter entries would make every later registry sync
    // (IndexSync reads stamps first) append old-parameter entries into the
    // cut-over index — the exact silent divergence the stamps exist to
    // prevent. Unstamped, the sync falls back to the spec the operator
    // flips with the cutover.
    val stamps = graft.table.TableProperties.get(spark, stagingPath)
      .filter { case (k, _) => k == ShingleNProp || k == NumHashesProp }
    if (stamps.nonEmpty) graft.table.TableProperties.set(spark, indexPath, stamps)
    else graft.table.TableProperties.unset(spark, indexPath,
      Seq(ShingleNProp, NumHashesProp))
    KeyedTable.mergeRows(spark, indexPath, dels,
      KeyedTable.read(spark, stagingPath).select(col(idCol), col(SigCol), col(ShCol)))
    ()
  }

  /** Most candidate ids [[probe]] collects to the driver and pushes as an
    * IN below the merge (~8 B/id of driver memory); past it the probe falls
    * back to a broadcast semi-join above the read.
    */
  private val ProbePushMax = 100000

  /** Near-dup pairs (a_id = index doc, b_id = batch doc, jaccard ≥
    * threshold) of `batch` against the table-backed index — same contract
    * as [[Dedup.minhashNearDupsAgainst]], with the corpus side served from
    * the index table instead of recomputed.
    */
  def probe(
      spark: SparkSession, indexPath: String, batch: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, excludeBatchIds: Boolean = false): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands) — " +
        "otherwise trailing hashes silently drop out of every band")
    // batch entries feed the band join AND the verify; tiny (one batch) but
    // recomputing the shingle scalar work twice is the dominant batch cost
    val be = entriesOf(batch, idCol, textCol, shingleN, numHashes)
      .select(col(idCol).as("id"), col(SigCol), col(ShCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val idxAll = KeyedTable.read(spark, indexPath)
      .select(col(idCol).as("id"), col(SigCol), col(ShCol))
    // replay idempotence (the ingest gates set this): exclude EVERY batch id
    // from the index side, not just self-pairs — after a crash-replay that
    // follows the index append, a batch's own entries would otherwise
    // screen its within-batch near-dups against each other (B1 kills B2 via
    // B2's index entry and vice versa), diverging from the first run
    val idx =
      if (!excludeBatchIds) idxAll
      else idxAll.join(broadcast(be.select("id").distinct()), Seq("id"), "left_anti")
    val candidates = Dedup.lshCandidatesAcross(
        idx.select(col("id"), col(SigCol).as("sig")),
        be.select(col("id"), col(SigCol).as("sig")),
        "id", "sig", bands, numHashes / bands)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // only candidate INDEX rows ship their shingle sets. The candidate ids
    // (bounded by the batch's LSH collisions, collected off the persisted
    // pairs with a hard cap — the TextIndex.pushTerms pattern, sized for id
    // lists rather than query terms) push into the index read as an IN
    // **below the MOR merge** ([[KeyedTable.readWhereKeys]]): the shingle
    // column is then decoded only for row groups that can hold a candidate
    // key, not for the whole index. Up to the parquet per-value push
    // threshold (1024, Sessions) the IN prunes row groups value-by-value;
    // past it Spark pushes the [min, max] RANGE — still decisive against
    // the key-sorted layout whenever candidates cluster (the steady-ingest
    // shape: a batch's collisions live in the newest id block, so the
    // range excludes the whole older base), and executor-side the InSet
    // hash filter replaces the broadcast semi-join either way. Past the
    // cap (driver-memory bound, ~8 B/id), the old broadcast semi-join
    // above the read keeps the plan (no pruning, same output). a_ids come
    // from the already-batch-excluded `idx`, so the filtered read can
    // never resurrect an excluded batch id.
    val candIds = candidates.select(col("a_id")).distinct()
      .limit(ProbePushMax + 1).collect().map(_.get(0))
    val aSh =
      (if (candIds.nonEmpty && candIds.length <= ProbePushMax)
        KeyedTable.readWhereKeys(spark, indexPath, col(idCol).isin(candIds.toSeq: _*))
          .select(col(idCol).as("id"), col(ShCol))
      else
        idx.join(broadcast(candidates.select(col("a_id").as("cid")).distinct()),
          col("id") === col("cid"), "left_semi"))
      .select(col("id").as("a_id"), col(ShCol).as("sh_a"))
    val bSh = be.select(col("id").as("b_id"), col(ShCol).as("sh_b"))
    val out = candidates
      .join(aSh, "a_id")
      .join(bSh, "b_id")
      .select(col("a_id"), col("b_id"),
        Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // materialize (pairs above threshold — small) so the caches release
      // NOW, the same persist/localCheckpoint hygiene as Dedup's pipelines
      .localCheckpoint()
    candidates.unpersist()
    be.unpersist()
    out
  }

  /** Streaming twin of [[dedupAndAppend]]: every micro-batch of `docs` (a
    * streaming DataFrame) is screened against the index and its survivors
    * appended — the continuous-ingest dedup gate as one `foreachBatch`
    * loop. Exactly-once note: foreachBatch delivers at-least-once; both
    * outputs survive a crash-replay exactly once because the batch body is
    * IDEMPOTENT. Survivors land FIRST in a batchId-addressed directory
    * (`survivorsPath/batch=<id>/`, overwrite mode), and the index append
    * runs AFTER; the screening probe excludes ALL of the batch's ids from
    * the index side (not merely self-pairs: after the append, a replayed
    * batch's within-batch near-dups would otherwise screen each other out
    * through their own freshly-indexed entries), so a replay after any
    * crash point recomputes the SAME survivor set: a crash between the two
    * writes replays into an identical directory overwrite plus the pending
    * index append; a crash after the append replays into the identical
    * overwrite plus an idempotent re-upsert of the same index entries. The flip side
    * of self-exclusion: a SOURCE-level redelivery of an id in a LATER
    * batch survives again (the gate dedups content across distinct docs,
    * not deliveries of the same doc — the index upsert keeps one entry per
    * id either way). Consumers read `survivorsPath` as one partitioned
    * parquet tree (`batch` becomes a provenance partition column). Pass
    * None to keep only the index.
    */
  def ingestStream(
      docs: DataFrame,
      indexPath: String,
      checkpointDir: String,
      idCol: String,
      textCol: String,
      survivorsPath: Option[String] = None,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        ingestBatch(batch.toDF(), batchId, indexPath, idCol, textCol,
          survivorsPath, shingleN, numHashes, bands, threshold)
        ()
      }
      .start()

  /** One ingest micro-batch, idempotent under replay (see [[ingestStream]]).
    * `skipIndexAppend` is a test-only crash-injection point: it stops the
    * body between the survivors write and the index append, the exact
    * window the replay argument covers.
    */
  private[graft] def ingestBatch(
      b: DataFrame,
      batchId: Long,
      indexPath: String,
      idCol: String,
      textCol: String,
      survivorsPath: Option[String],
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5,
      skipIndexAppend: Boolean = false): Unit = {
    if (b.isEmpty) return
    val spark = b.sparkSession
    // excludeBatchIds: entries already indexed under ANY of this batch's ids
    // are this batch redelivered (crash after the index append), not dups —
    // excluding only self-pairs would still let within-batch near-dups kill
    // each other through their own replayed index entries
    val dups = probe(spark, indexPath, b, idCol, textCol,
      shingleN, numHashes, bands, threshold, excludeBatchIds = true)
    val survivors = b.join(dups.select(col("b_id")).distinct(),
        col(idCol) === col("b_id"), "left_anti")
      .localCheckpoint()
    // survivors FIRST (idempotent overwrite of this batch's own dir),
    // index append AFTER — see the exactly-once note above
    survivorsPath.foreach(p =>
      survivors.write.mode("overwrite").parquet(s"$p/batch=$batchId"))
    if (!skipIndexAppend && !survivors.isEmpty)
      KeyedTable.upsert(spark, indexPath,
        entriesOf(survivors, idCol, textCol, shingleN, numHashes))
  }

  /** MIRROR leg: (re)index `docs` WITHOUT screening them — one keyed
    * upsert of their signature/shingle entries. This is what a consistency
    * sync from a base corpus table rides ([[IndexSync]]): the corpus
    * already decided the docs exist, so the index must reflect them;
    * [[dedupAndAppend]] stays the GATE face where the index decides
    * admission. Re-delivered ids fold to one entry (keyed upsert).
    */
  def append(
      spark: SparkSession, indexPath: String, docs: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16): Unit =
    KeyedTable.upsert(spark, indexPath,
      entriesOf(docs, idCol, textCol, shingleN, numHashes))

  /** Takedown leg: drop `ids`' entries from the standing index — one keyed
    * tombstone delta (O(|ids|), [[KeyedTable.delete]] on the MOR table), so
    * a corpus deletion (PII takedown, a DMCA pull) PROPAGATES to the derived
    * dedup state. Afterwards the removed doc's minhash entry no longer
    * screens future batches — content re-sent after a takedown is treated
    * as NOVEL, not killed as a dup of a ghost — and its shingles never ship
    * to a verify join again. History is retained, not rewritten: an `asOf`
    * read BEFORE the removal still reproduces yesterday's screening
    * decisions (the compliance posture of tombstones over physical erasure;
    * pair with `cleanArchive` when the bytes themselves must go). Re-adding
    * the id later (an ordinary append/upsert) re-enables screening — the
    * newer delta wins over the tombstone.
    */
  def remove(
      spark: SparkSession, indexPath: String, ids: DataFrame,
      idCol: String): Unit =
    KeyedTable.delete(spark, indexPath, ids.select(col(idCol)).distinct())

  /** The continuous-ingest gate: screen `batch` against the index, keep the
    * novel docs, and APPEND their entries (one MOR delta commit) so the next
    * batch is screened against them too. Returns the surviving batch rows.
    */
  def dedupAndAppend(
      spark: SparkSession, indexPath: String, batch: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // same batch-id exclusion as ingestBatch: a retry after a crash between
    // the append and the caller consuming the result reproduces the same
    // survivor set instead of screening the batch against its own (or its
    // within-batch near-dups') replayed index entries
    val dups = probe(spark, indexPath, batch, idCol, textCol,
      shingleN, numHashes, bands, threshold, excludeBatchIds = true)
    // stable row set: the append below and the caller both consume it
    val survivors = batch.join(dups.select(col("b_id")).distinct(),
        col(idCol) === col("b_id"), "left_anti")
      .localCheckpoint()
    if (!survivors.isEmpty)
      KeyedTable.upsert(spark, indexPath,
        entriesOf(survivors, idCol, textCol, shingleN, numHashes))
    survivors
  }
}
