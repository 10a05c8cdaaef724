package graft.table

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.model.GraftException

/** One JSON instant per commit under `<table>/.graft/<ts>.commit.json` —
  * the `.hoodie` timeline analogue (SURVEY §7.1). Carries the table config
  * (key/precombine/partition fields — hoodie.properties analogue), the
  * written partition list with per-partition record counts, the schema DDL,
  * and for METADATA_ONLY commits the source path whose files back the
  * partitions without a data copy (H1/H2, pyspark_script.py:375-381).
  *
  * Data-file truth is the directory tree (writes go through Spark's static /
  * dynamic partition overwrite, which cleans replaced files eagerly — COW
  * with immediate cleanup; no multi-version time travel, matching the
  * reference's read-the-path semantics at pyspark_script.py:352). The log is
  * the metadata/audit channel: partition→mode mapping, counts, lineage.
  * Commit JSONs are O(#partitions), never O(rows), so the log stays tiny at
  * any data scale.
  */
object CommitLog {
  val LogDirName = ".graft"

  /** Operations that change no logical rows: compaction, clustering and
    * reclamation rewrites keep every row's commit time, materialize copies
    * rows as they are, and schema/index-sidecar commits touch no data. Their
    * CDC interval is empty by construction, so the maintenance hooks that
    * react to new rows (index sync, layout, retrain advice) skip them.
    */
  val RowNeutralOps = Set(
    "index_stats", "index_bloom", "alter_schema", "compact", "reclaim",
    "cluster", "materialize")

  final case class PartitionEntry(path: String, mode: String, recordCount: Long)

  /** Metadata-only DROP/RENAME column state (T39). `schemaDdl` always
    * describes the PHYSICAL layout (what parquet files carry); this mapping
    * is the read/write-time view over it: `aliases` maps physical name →
    * LOGICAL (user-facing) name for renamed columns, `dropped` lists
    * physical names hidden from every read. Files are never rewritten — a
    * drop or rename is one `alter_schema` commit stamping the new full
    * mapping, O(1) data work at any table size. A re-added column (same
    * logical name, possibly a new type, after a drop) gets a FRESH physical
    * name via an alias, so old files' data can never bleed into it.
    */
  final case class ColumnMapping(aliases: Map[String, String], dropped: Seq[String]) {
    def isEmpty: Boolean = aliases.isEmpty && dropped.isEmpty
    /** logical → physical (the write-side direction). */
    def logicalToPhysical: Map[String, String] = aliases.map(_.swap)
    /** Physical names hidden from the logical namespace (dropped, or
      * renamed away from their physical name).
      */
    def hidden(physical: String): Boolean =
      dropped.contains(physical) || aliases.get(physical).exists(_ != physical)
    /** The logical name a physical column serves under (None if dropped). */
    def logicalOf(physical: String): Option[String] =
      if (dropped.contains(physical)) None else Some(aliases.getOrElse(physical, physical))
  }
  object ColumnMapping {
    val empty: ColumnMapping = ColumnMapping(Map.empty, Seq.empty)
  }

  final case class CommitInfo(
      commitTime: String,
      // bootstrap | resume | bulk_insert | insert | upsert | upsert_global |
      // delta_commit | delete | compact | cluster | materialize
      operation: String,
      tableName: String,
      tableType: String,
      keyFields: Seq[String],
      precombineField: String,
      partitionFields: Seq[String],
      partitions: Seq[PartitionEntry],
      recordCount: Long,
      schemaDdl: String,
      sourcePath: Option[String],
      // Streaming exactly-once: the sink that produced this commit and its
      // micro-batch id, recorded INSIDE the commit so a crash between the
      // table commit and the sink's checkpoint-side marker write cannot
      // replay the batch — the restarted sink consults the timeline and
      // skips any batch id it already finds here (GraftStreamSink). None
      // for every non-streaming commit.
      streamSink: Option[String] = None,
      streamBatchId: Option[Long] = None,
      // The full column drop/rename mapping AS OF this commit (see
      // [[ColumnMapping]]). Stamped by every alter_schema commit; None on
      // other commits means "inherit" — state folds from the newest commit
      // carrying it, stopping at a bootstrap/resume (an overwrite resets
      // the mapping with the layout).
      columnMapping: Option[ColumnMapping] = None)

  /** Live table state: the fold of all commits in commit-time order.
    * `partitionModes` maps partition path ("" for unpartitioned) → "native"
    * or "metadata_only"; an overwrite commit resets the map.
    */
  final case class TableState(
      commits: Seq[CommitInfo],
      partitionModes: Map[String, String]) {
    def latest: CommitInfo = commits.last
    def metadataOnlyPartitions: Seq[String] =
      partitionModes.collect { case (p, "metadata_only") => p }.toSeq.sorted
    def nativePartitions: Seq[String] =
      partitionModes.collect { case (p, "native") => p }.toSeq.sorted
    /** Partitions that exist only as MOR delta batches (no base files yet). */
    def deltaOnlyPartitions: Seq[String] =
      partitionModes.collect { case (p, "delta") => p }.toSeq.sorted
    def sourcePath: Option[String] = commits.reverseIterator.flatMap(_.sourcePath).nextOption()
    /** Current drop/rename view (newest stamped mapping; a bootstrap/resume
      * without one resets to empty — an overwrite redefines the layout).
      */
    def columnMapping: ColumnMapping = {
      val it = commits.reverseIterator
      while (it.hasNext) {
        val c = it.next()
        if (c.columnMapping.isDefined) return c.columnMapping.get
        if (c.operation == "bootstrap" || c.operation == "resume") return ColumnMapping.empty
      }
      ColumnMapping.empty
    }
  }

  private[table] val mapper = new ObjectMapper()

  def logDir(tablePath: String): Path = new Path(tablePath, LogDirName)

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, tablePath: String): Boolean = {
    val f = fs(spark, tablePath)
    f.exists(logDir(tablePath)) && f.listStatus(logDir(tablePath)).nonEmpty
  }

  /** Millisecond wall-clock instants are NOT unique under back-to-back
    * commits; a collision would silently clobber the earlier commit JSON and
    * delta directory, and [[Deltas.merge]] needs delta commit times strictly
    * greater than base times. Guard: remember the last issued instant and
    * bump past it (Hudi's HoodieActiveTimeline does the same).
    */
  private var lastIssuedMillis = 0L

  def newCommitTime(): String = synchronized {
    val now = math.max(System.currentTimeMillis(), lastIssuedMillis + 1)
    lastIssuedMillis = now
    instantOfMillis(now)
  }

  /** THE instant encoding, single-sourced: UTC `yyyyMMddHHmmssSSS` —
    * UTC, not host-default, because a DST fall-back in a local zone would
    * format a LATER instant as a lexicographically EARLIER string, breaking
    * the strictly-increasing ordering everything downstream relies on.
    * Every consumer that formats or validates instants (time travel,
    * streaming cursors) must go through here / [[isInstant]], so a future
    * encoding change has one home.
    */
  def instantOfMillis(millis: Long): String = {
    val sdf = new java.text.SimpleDateFormat("yyyyMMddHHmmssSSS")
    sdf.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    sdf.format(new java.util.Date(millis))
  }

  /** True iff `s` is a well-formed instant (fixed-width 17 digits). */
  def isInstant(s: String): Boolean = s.length == 17 && s.forall(_.isDigit)

  // -------------------------------------------------------------- inflight

  /** Inflight marker (`<ct>.inflight.json`) — Hudi's `.inflight` timeline
    * file analogue, recorded when a writer starts mutating the filesystem
    * (staging write, delta write, archive rename). Atomic create with
    * overwrite=false, so two writers that somehow allocate the same instant
    * collide HERE, before either stages data. The marker is observability +
    * fsck input (a marker without a commit JSON is a dead or conflicted
    * writer); publish-time conflict validation uses the actual CommitInfo,
    * never the marker.
    */
  /** Record a writer at stage time. `baseCommits` is the EXACT set of commit
    * instants in the writer's base snapshot — publish-time conflict
    * detection checks overlapping commits against this set rather than
    * instant order, because disjoint-partition writers may legally publish
    * instants BELOW the tip: "instant > base" cannot distinguish a commit
    * the writer built on from one that landed (out of instant order) after
    * its base read.
    */
  def beginInflight(
      spark: SparkSession,
      tablePath: String,
      ct: String,
      operation: String,
      partitions: Seq[String],
      baseCommits: Seq[String] = Seq.empty): Unit = {
    val f = fs(spark, tablePath)
    val dir = logDir(tablePath)
    if (!f.exists(dir)) f.mkdirs(dir)
    val root: ObjectNode = mapper.createObjectNode()
    root.put("commitTime", ct)
    root.put("operation", operation)
    putStrings(root, "partitions", partitions)
    putStrings(root, "baseCommits", baseCommits)
    val out = f.create(new Path(dir, s"$ct.inflight.json"), false)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    finally out.close()
  }

  /** Operation + partitions recorded in `ct`'s inflight marker. */
  def inflightInfo(
      spark: SparkSession, tablePath: String, ct: String): Option[(String, Seq[String])] = {
    val f = fs(spark, tablePath)
    val p = new Path(logDir(tablePath), s"$ct.inflight.json")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val node = try mapper.readTree(in) finally in.close()
      val parts = Seq.newBuilder[String]
      Option(node.get("partitions")).foreach(_.elements()
        .forEachRemaining(e => parts += e.asText()))
      Some(node.get("operation").asText() -> parts.result())
    }
  }

  /** The base-commit set recorded in `ct`'s inflight marker, if present. */
  def inflightBaseCommits(spark: SparkSession, tablePath: String, ct: String): Option[Set[String]] = {
    val f = fs(spark, tablePath)
    val p = new Path(logDir(tablePath), s"$ct.inflight.json")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val node = try mapper.readTree(in) finally in.close()
      Option(node.get("baseCommits")).map { arr =>
        val b = Set.newBuilder[String]
        arr.elements().forEachRemaining(e => b += e.asText())
        b.result()
      }.filter(_.nonEmpty)
    }
  }

  /** Instants with an inflight marker (committed or not) — fsck subtracts
    * the committed set to find dead/conflicted writers.
    */
  def inflights(spark: SparkSession, tablePath: String): Seq[String] = {
    val f = fs(spark, tablePath)
    val dir = logDir(tablePath)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".inflight.json"))
      .map(_.stripSuffix(".inflight.json")).toSeq.sorted
  }

  def clearInflight(spark: SparkSession, tablePath: String, ct: String): Unit = {
    val f = fs(spark, tablePath)
    f.delete(new Path(logDir(tablePath), s"$ct.inflight.json"), false)
  }

  // ------------------------------------------------------------------ write

  /** Serializes the check-then-create publish step for writers in this JVM
    * (local mode, Verify's concurrent query threads, streaming ingest).
    * Across processes the commit JSON's atomic create(overwrite=false) still
    * rejects instant collisions, but the conflict check itself has a
    * check-to-create window — closing it needs an external lock provider
    * (ZK/DynamoDB), exactly as Hudi's multi-writer OCC does; same deployment
    * contract here.
    */
  private val publishLock = new Object

  /** File leases held by in-flight writers of THIS process, keyed by
    * (table, instant): acquired by [[assertSwapSafe]] (so the lease covers
    * guard → swap → publish) or by [[write]] itself for delta/bootstrap
    * publishes that never swap; always released in [[write]]'s finally or
    * on a guard abort. See [[TableLock]] for the cross-process mechanics.
    */
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[String, TableLock.Lease]()
  private def leaseKey(tablePath: String, ct: String) = tablePath + "|" + ct

  /** Heartbeat renewals for held leases: a daemon scheduler re-writes each
    * held lease's expiry every TTL/3, so a legitimately slow publish (GC
    * pause, huge partition list) is never fenced mid-swap by its own fixed
    * TTL — only a DEAD writer's lease expires. Cancelled (and the renewed
    * state dropped) on release.
    */
  private val heartbeats =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ScheduledFuture[_]]()
  // A small POOL, not a single thread: each beat does synchronous FS I/O
  // under its key's mutex, and on one shared thread a single hung store
  // call (degraded S3, stuck NFS) would delay every other table's renewal
  // past TTL — fencing live writers, the exact failure renewal prevents.
  // Beats are not pinned to threads, so one stall blocks one thread only.
  private lazy val heartbeatPool = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    java.util.concurrent.Executors.newScheduledThreadPool(4, r => {
      val t = new Thread(r, s"graft-lease-heartbeat-${n.incrementAndGet()}")
      t.setDaemon(true); t
    })
  }
  // Per-key monitor serializing the heartbeat's check+rewrite against
  // releaseLease and the publish's fencing check. Without it, a beat that
  // passed stillHeld but had not yet rewritten the file could (a) recreate
  // a lease releaseLease just deleted — a ghost lease write-blocking the
  // table for a full TTL — or (b) truncate the file mid-read of this JVM's
  // own fencing check, spuriously aborting a valid publish.
  private val leaseMutex =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def mutexFor(key: String): Object =
    leaseMutex.computeIfAbsent(key, _ => new Object)

  /** Acquire (blocking) the table's writer lease for instant `ct` unless
    * this process already holds it for `ct` or locking is disabled. Runs
    * OUTSIDE [[publishLock]] — waiting on another process while holding the
    * JVM lock would stall every local writer.
    */
  private def acquireLease(spark: SparkSession, tablePath: String, ct: String): Unit = {
    if (!TableLock.enabled(spark)) return
    val key = leaseKey(tablePath, ct)
    // NOT computeIfAbsent: the blocking acquire inside the mapping function
    // would hold the map's bin lock for up to the acquire timeout, stalling
    // any other writer whose (table, instant) key hashes to the same bin.
    // A plain check-then-put is safe — an instant has exactly one writer.
    if (!heldLeases.containsKey(key)) {
      heldLeases.put(key, TableLock.acquire(spark, tablePath, owner = ct))
      val period = TableLock.renewPeriodMs(spark)
      heartbeats.put(key, heartbeatPool.scheduleAtFixedRate(() => {
        mutexFor(key).synchronized {
          val l = heldLeases.get(key)
          // keep the map's lease current so the publish's stillHeld fencing
          // compares against the renewed expiry, not the original one
          if (l != null) TableLock.renew(spark, tablePath, l)
            .foreach(r => heldLeases.replace(key, l, r))
        }
      }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS))
    }
  }

  private[table] def releaseLease(spark: SparkSession, tablePath: String, ct: String): Unit = {
    val key = leaseKey(tablePath, ct)
    val hb = heartbeats.remove(key)
    if (hb != null) hb.cancel(false)
    // under the beat mutex: a beat that already passed its stillHeld check
    // must finish (or never start) before the file is deleted, so it can
    // never resurrect the lease after this release
    mutexFor(key).synchronized {
      val l = heldLeases.remove(key)
      if (l != null) TableLock.release(spark, tablePath, l)
    }
    leaseMutex.remove(key)
  }

  /** Re-create writer `ct`'s held lease file at `tablePath` — create()'s
    * replace swap moves the old log (lease file included) aside, so the
    * lease must be re-materialized at the new location for the publish's
    * fencing check to see it held.
    */
  private[table] def transplantLease(spark: SparkSession, tablePath: String, ct: String): Unit = {
    val l = heldLeases.get(leaseKey(tablePath, ct))
    if (l != null) TableLock.transplant(spark, tablePath, l)
  }

  /** Pre-swap OCC guard: run IMMEDIATELY before a rewrite's destructive
    * swap (after its staging write), under [[publishLock]]. Re-validates
    * this writer against the live log so a doomed writer aborts BEFORE
    * touching live data rather than at publish time — in the interleaving
    * where two overlapping rewrites both swap and the LOSER swapped first,
    * the loser's post-publish self-heal would restore its stashed pre-image
    * over the winner's committed partition data, and the winner's archive
    * would hold the loser's uncommitted rows as a poisoned pre-image.
    * Aborting before the swap leaves nothing to heal.
    *
    *  - This writer's own inflight marker must still exist: a concurrent
    *    create()/INSERT OVERWRITE replaced the whole table (log included)
    *    out from under us otherwise.
    *  - Any committed instant NOT in the marker's baseCommits that touches
    *    an overlapping partition — or is/meets a bootstrap — conflicts: the
    *    same novelty test [[write]] applies, moved ahead of the swap.
    *  - Any OTHER writer's marker with an EARLIER instant and overlapping
    *    partitions (or a bootstrap on either side) has priority, so exactly
    *    one of two overlapping in-flight writers proceeds, deterministically
    *    the earlier one. A dead writer's stale marker blocks overlapping
    *    rewrites until fsck clears it — the same recovery contract its
    *    half-done swap would have required anyway.
    *
    * In-JVM writers are fully serialized by [[publishLock]]; across
    * processes the guard shrinks the race to the marker-read→swap window,
    * which only an external lock provider closes (see [[TableLock]]).
    * Index-sidecar writers (empty partition list) never participate.
    */
  def assertSwapSafe(
      spark: SparkSession,
      tablePath: String,
      ct: String,
      touched: Seq[String],
      isBootstrap: Boolean = false): Unit = {
    // cross-process lease first (blocking, outside the JVM lock); held
    // through swap and publish, released by write()'s finally — or here,
    // if a check below aborts this writer
    acquireLease(spark, tablePath, ct)
    try assertSwapSafeChecks(spark, tablePath, ct, touched, isBootstrap)
    catch { case e: Throwable => releaseLease(spark, tablePath, ct); throw e }
  }

  private def assertSwapSafeChecks(
      spark: SparkSession,
      tablePath: String,
      ct: String,
      touched: Seq[String],
      isBootstrap: Boolean): Unit = publishLock.synchronized {
    val f = fs(spark, tablePath)
    if (!f.exists(new Path(logDir(tablePath), s"$ct.inflight.json")))
      throw GraftException.conflict(
        s"Writer $ct: inflight marker vanished before swap at $tablePath — the table was " +
          "replaced or repaired concurrently. Retryable: re-read the table state and re-apply.")
    val mine = touched.toSet
    val committedInfos = commits(spark, tablePath)
    inflightBaseCommits(spark, tablePath, ct).foreach { known =>
      val clash = committedInfos.filter(c => !known.contains(c.commitTime))
        .filter(c => isBootstrap || c.operation == "bootstrap" ||
          c.partitions.exists(p => mine.contains(p.path)))
      if (clash.nonEmpty) {
        clearInflight(spark, tablePath, ct)
        throw GraftException.conflict(
          s"Writer $ct (pre-swap) conflicts with concurrently landed instant(s) " +
            s"${clash.map(c => s"${c.commitTime} (${c.operation})").mkString(", ")} at $tablePath. " +
            "Retryable: no live data was touched; re-read the table state and re-apply the write.")
      }
    }
    val committed = committedInfos.map(_.commitTime).toSet
    val rivals = inflights(spark, tablePath)
      .filter(o => o < ct && !committed.contains(o))
      .flatMap(o => inflightInfo(spark, tablePath, o).map(o -> _))
      .filter { case (_, (op, parts)) =>
        isBootstrap || op == "bootstrap" || parts.exists(mine.contains)
      }
    if (rivals.nonEmpty) {
      clearInflight(spark, tablePath, ct)
      throw GraftException.conflict(
        s"Writer $ct yields before swap to earlier in-flight writer(s) " +
          s"${rivals.map(_._1).mkString(", ")} on overlapping partitions at $tablePath. " +
          "Retryable once they finish; if one belongs to a dead writer, run fsck to clear " +
          "its marker.")
    }
  }

  /** Publish a commit with optimistic concurrency validation (Hudi
    * OCC / SimpleConcurrentFileWritesConflictResolutionStrategy analogue).
    *
    * `baseInstant` is the table's latest committed instant observed when the
    * writer read its state (None on a fresh/overwrite bootstrap, where no
    * prior state participates). Validation under [[publishLock]]:
    *
    *  - the instant itself must be new (immutable timeline) and strictly
    *    after `baseInstant` (clock-skew guard);
    *  - any commit that landed AFTER `baseInstant` and touches overlapping
    *    partitions — or is/meets a `bootstrap` (wholesale replace) — aborts
    *    this publish with a retryable [[graft.model.CommitConflictException]].
    *    Index sidecar commits (empty partition list) never conflict.
    *
    * Commits over DISJOINT partition sets interleave freely, which means a
    * slower writer can publish an instant smaller than the table tip. That
    * keeps per-partition history strictly ordered (the invariant the state
    * fold, delta merge, and asOf reads rely on) while allowing concurrent
    * writers — the same model as Hudi's start-time-stamped instants.
    * Consequence, as in Hudi: an incremental poller that already advanced
    * past instant T can miss a late publish < T; pollers that need a total
    * order must quiesce writers or poll behind the oldest inflight marker.
    */
  def write(
      spark: SparkSession,
      tablePath: String,
      info: CommitInfo,
      baseInstant: Option[String]): Unit = {
    // inject the streaming-batch identity (if a sink scope is open on this
    // thread) before serializing — recorded inside the commit so a replay
    // after a crash between commit and checkpoint marker is detectable from
    // the timeline alone
    val tagged = streamBatchScope.value match {
      case Some((sink, id)) if info.streamSink.isEmpty =>
        info.copy(streamSink = Some(sink), streamBatchId = Some(id))
      case _ => info
    }
    // writers that never ran the swap guard (delta commits, bootstraps,
    // index sidecars) take the cross-process lease here; either way it is
    // released when this publish finishes, successfully or not
    acquireLease(spark, tablePath, tagged.commitTime)
    try writeUnderLock(spark, tablePath, tagged, baseInstant)
    finally releaseLease(spark, tablePath, tagged.commitTime)
    // the maintenance hooks below are all best-effort and share the same
    // recursion guards (ThreadLocal + operation filter). They key off table
    // PROPERTIES, read ONCE here and passed down — six per-hook reads per
    // publish would be six object-store round-trips on every write at
    // scale. Keys a hook WRITES (campaign cursor/streak, retrain counter)
    // are read only by that same hook on a LATER publish, so the shared
    // snapshot cannot go stale across the hook chain within one publish.
    val hookProps =
      try TableProperties.get(spark, tablePath)
      catch { case _: Exception => Map.empty[String, String] } // dir gone mid-teardown
    // index.auto: the index builds this may trigger publish their own
    // instants through this very method — the guards stop the recursion
    IndexAutoRefresh.afterPublish(spark, tablePath, tagged.operation, hookProps)
    // compact.auto: fold MOR delta chains the moment they cross thresholds
    AutoCompact.afterPublish(spark, tablePath, tagged.operation, hookProps)
    // layout.auto: re-establish the stamped cluster-sort layout once enough
    // data commits have landed since the last cluster rewrite — after
    // compaction, so the rewrite sorts the folded state
    AutoLayout.afterPublish(spark, tablePath, tagged.operation, hookProps)
    // campaign.reclaim: one bounded reclamation batch rides each publish
    ReclaimCampaign.afterPublish(spark, tablePath, tagged.operation, hookProps)
    // index.sync.*: one checkpointed CDC pull propagates this publish to
    // every registered standing dedup/ANN/PQ index — after the sidecar
    // hooks above, so a synced index's own hooks see the corpus's final
    // per-publish state
    graft.operators.SyncRegistry.afterPublish(
      spark, tablePath, tagged.operation, hookProps)
    // retrain.auto (opt-in, amortized): journal a retrain RECOMMENDATION
    // when a standing index's hottest coarse cell crosses the skew
    // threshold — observability, never an auto-retrain
    RetrainAdvisor.afterPublish(spark, tablePath, tagged.operation, hookProps)
  }

  /** Thread-scoped streaming-batch identity: [[graft.streaming.GraftStreamSink]]
    * opens a scope around its per-trigger write so every commit that write
    * publishes (the data commit; a boundary compaction) carries the
    * (sink, batchId) pair — without threading a parameter through every
    * write path. Driver-side publishes run on the calling thread, so a
    * DynamicVariable is sufficient.
    */
  private val streamBatchScope =
    new scala.util.DynamicVariable[Option[(String, Long)]](None)
  def withStreamBatch[A](sink: String, batchId: Long)(body: => A): A =
    streamBatchScope.withValue(Some((sink, batchId)))(body)

  private def writeUnderLock(
      spark: SparkSession,
      tablePath: String,
      info: CommitInfo,
      baseInstant: Option[String]): Unit = publishLock.synchronized {
    val f = fs(spark, tablePath)
    val dir = logDir(tablePath)
    if (!f.exists(dir)) f.mkdirs(dir)
    val existing = commits(spark, tablePath)
    if (existing.exists(_.commitTime == info.commitTime))
      throw GraftException.conflict(
        s"Commit instant ${info.commitTime} already exists at $tablePath — instants are immutable.")
    baseInstant match {
      case Some(b) =>
        if (info.commitTime <= b)
          throw GraftException.config(
            s"Commit instant ${info.commitTime} is not after its base instant $b " +
              "(clock skew, or a table written under a different timezone format).")
        val mine = info.partitions.map(_.path).toSet
        // "not in my base snapshot" is the exact novelty test; the marker
        // records that set at stage time. Instant order alone would miss a
        // conflicting commit published out of instant order (allowed for
        // disjoint writers) after this writer read its base. Fallback for
        // markerless publishes: anything after the base instant.
        val novel: CommitInfo => Boolean =
          inflightBaseCommits(spark, tablePath, info.commitTime) match {
            case Some(known) => c => !known.contains(c.commitTime)
            case None => c => c.commitTime > b
          }
        // Schema changes serialize against EVERY concurrent writer, even on
        // disjoint partitions: a commit's schemaDdl is derived from ITS base
        // schema, so publishing over a novel commit that changed the schema
        // (an alter_schema, or an evolving upsert) would stamp a stale ddl
        // as the new latest and silently DROP the concurrently added
        // columns. Abort retryably instead — the retry re-reads the state
        // and re-derives against the evolved schema. A novel commit that
        // kept the schema unchanged conflicts only by partition overlap,
        // exactly as before.
        // The base commit MUST still be in the active log: if it is gone
        // (e.g. a concurrent rollback removed it), this writer's images were
        // derived from a snapshot that no longer exists — and degrading to
        // partition-overlap-only checking (baseDdl = None makes
        // schemaChangedBy vacuously false) would silently re-open the
        // concurrent-schema-change lost-column race this guard closes.
        // Abort retryably instead.
        val baseDdl = existing.find(_.commitTime == b).map(_.schemaDdl)
        if (baseDdl.isEmpty) {
          clearInflight(spark, tablePath, info.commitTime)
          throw GraftException.conflict(
            s"Commit ${info.commitTime} (${info.operation}) was derived from base instant $b, " +
              "which is no longer in the active commit log (rolled back or archived since this " +
              "writer read its snapshot). Retryable: re-read the table state and re-apply the write.")
        }
        def schemaChangedBy(c: CommitInfo) = baseDdl.exists(_ != c.schemaDdl)
        // alter_schema commits conflict with EVERYONE in both directions
        // even when the physical ddl is unchanged (a metadata-only
        // drop/rename leaves schemaDdl identical but changes the logical
        // namespace every concurrent statement resolved against).
        // A reclaim conflicts with everyone ONLY when it SHEDS the ddl
        // (schemaDdl != its base ddl): the shed decision asserted that no
        // live file outside its rewrite still carries the column, so a
        // disjoint concurrent append (which null-fills the still-physical
        // column into new files) would invalidate it. A NON-shedding
        // campaign run is just a bounded partition rewrite — it conflicts
        // by partition overlap like any other rewrite, so incremental
        // reclamation lands under live disjoint writers; a novel shedding
        // reclaim on the other side is caught by schemaChangedBy.
        val infoSheds =
          info.operation == "reclaim" && baseDdl.exists(_ != info.schemaDdl)
        val clash = existing.filter(novel).filter { c =>
          info.operation == "bootstrap" || c.operation == "bootstrap" ||
            info.operation == "alter_schema" || c.operation == "alter_schema" ||
            infoSheds ||
            schemaChangedBy(c) ||
            c.partitions.exists(p => mine.contains(p.path))
        }
        if (clash.nonEmpty) {
          clearInflight(spark, tablePath, info.commitTime)
          throw GraftException.conflict(
            s"Commit ${info.commitTime} (${info.operation}) of partitions " +
              s"[${mine.toSeq.sorted.mkString(", ")}] conflicts with concurrently landed " +
              s"instant(s) ${clash.map(c => s"${c.commitTime} (${c.operation})").mkString(", ")} " +
              s"published after its base instant $b. Retryable: run fsck to clear this " +
              "writer's staged data, re-read the table state, and re-apply the write.")
        }
      case None =>
        // no base snapshot (fresh/overwrite bootstrap): keep the strict
        // monotonicity guard — every consumer relies on commit-time strings
        // increasing, and nothing legitimately landed "since"
        existing.lastOption.filter(_.commitTime >= info.commitTime).foreach { n =>
          throw GraftException.config(
            s"Commit instant ${info.commitTime} is not after the table's latest commit ${n.commitTime} " +
              "(clock skew, or a table written under a different timezone format).")
        }
    }
    val root: ObjectNode = mapper.createObjectNode()
    root.put("commitTime", info.commitTime)
    root.put("operation", info.operation)
    root.put("tableName", info.tableName)
    root.put("tableType", info.tableType)
    putStrings(root, "keyFields", info.keyFields)
    root.put("precombineField", info.precombineField)
    putStrings(root, "partitionFields", info.partitionFields)
    val parts = root.putArray("partitions")
    info.partitions.foreach { p =>
      val n = parts.addObject()
      n.put("path", p.path); n.put("mode", p.mode); n.put("recordCount", p.recordCount)
    }
    root.put("recordCount", info.recordCount)
    root.put("schemaDdl", info.schemaDdl)
    info.sourcePath.foreach(root.put("sourcePath", _))
    info.streamSink.foreach(root.put("streamSink", _))
    info.streamBatchId.foreach(root.put("streamBatchId", _))
    info.columnMapping.foreach { m =>
      val mn = root.putObject("columnMapping")
      val al = mn.putObject("aliases")
      m.aliases.toSeq.sortBy(_._1).foreach { case (p, l) => al.put(p, l) }
      putStrings(mn, "dropped", m.dropped)
    }
    // fencing: if our lease was stolen (this writer stalled past the TTL),
    // a later writer may have validated against a log that will not include
    // us and committed — abort rather than publish on a stale validation;
    // the inflight marker stays so fsck undoes any half-done swap
    // under the beat mutex: the heartbeat's non-atomic rewrite of our own
    // lease file must not be observable half-written by this fencing read
    mutexFor(leaseKey(tablePath, info.commitTime)).synchronized {
      Option(heldLeases.get(leaseKey(tablePath, info.commitTime))).foreach { l =>
        if (!TableLock.stillHeld(spark, tablePath, l))
          throw GraftException.conflict(
            s"Writer ${info.commitTime}: table lock lease was lost (expired and stolen) " +
              s"before publish at $tablePath. Retryable: run fsck to restore this writer's " +
              "pre-images, re-read the table state, and re-apply the write.")
      }
    }
    // overwrite=false: a commit instant is immutable — colliding with an
    // existing one (e.g. two writers on the same table) must fail loudly,
    // never replace the earlier commit record
    val out = f.create(new Path(dir, s"${info.commitTime}.commit.json"), false)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    finally out.close()
    clearInflight(spark, tablePath, info.commitTime)
  }

  private def putStrings(n: ObjectNode, field: String, vs: Seq[String]): Unit = {
    val a = n.putArray(field); vs.foreach(a.add)
  }

  // ------------------------------------------------------------------- read

  /** Parsed-commit cache: commit JSONs are IMMUTABLE once written (the
    * no-overwrite create below), so a successful parse can be reused for
    * the life of the process — without it every state read re-parses the
    * table's whole history, O(commits) driver work on EVERY engine
    * operation, growing with table age. Entries key on (len, mtime) from
    * the directory listing we already hold, so a deleted-and-recreated
    * file (rollback) can never serve a stale parse; only successful,
    * fully-written parses are ever cached. Bounded by wholesale clear —
    * cheap, and a refill is just one history re-parse.
    */
  private val commitCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, CommitInfo)]()

  /** Drop cached parses under `tablePath`. Called by the rollback/restore
    * paths that DELETE commit JSONs: the (len, mtime) key already rejects
    * any observable change, but on filesystems with coarse mtime granularity
    * (1 s on some local/object stores) a commit file deleted and recreated
    * at the same path with identical length inside one tick could otherwise
    * serve a stale parse. The deleting paths know exactly when that window
    * opens, so they clear it explicitly.
    */
  private[table] def invalidate(tablePath: String): Unit = {
    // cache keys are the listing's FULLY-QUALIFIED paths (file:/… on local
    // FS); logDir renders unqualified — match by containment, not prefix
    val dir = logDir(tablePath).toString
    commitCache.keySet().removeIf(_.contains(dir))
    ()
  }

  def commits(spark: SparkSession, tablePath: String): Seq[CommitInfo] = {
    val f = fs(spark, tablePath)
    val dir = logDir(tablePath)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".commit.json"))
      .sortBy(_.getPath.getName)
      .map { st =>
        val key = st.getPath.toString
        val hit = commitCache.get(key)
        if (hit != null && hit._1 == st.getLen && hit._2 == st.getModificationTime) hit._3
        else {
          val info = readCommit(f, st.getPath)
          if (commitCache.size > 65536) commitCache.clear()
          commitCache.put(key, (st.getLen, st.getModificationTime, info))
          info
        }
      }
  }

  /** A concurrent reader (e.g. the streaming CDC source polling its tip)
    * can list a commit file the instant after its atomic create and before
    * its content flushes. Commit JSONs are IMMUTABLE once written, so a
    * short retry makes the read linearize after the in-flight write; a
    * file still unreadable after the window is real corruption and fails
    * loudly (silently skipping a commit would serve a wrong snapshot).
    */
  private def readCommit(f: FileSystem, p: Path): CommitInfo = {
    var last: Exception = null
    var attempt = 0
    while (attempt < 20) {
      try {
        val in = f.open(p)
        val node = try mapper.readTree(in) finally in.close()
        if (node == null || node.get("commitTime") == null)
          throw new java.io.IOException(s"partial commit file (still being written?) $p")
        return parse(node)
      } catch {
        // cancellation must not be swallowed into the retry loop — a
        // streaming poller being stopped interrupts this thread mid-read
        case ie: InterruptedException =>
          Thread.currentThread().interrupt(); throw ie
        case e: Exception => last = e; attempt += 1; Thread.sleep(100)
      }
    }
    throw GraftException.unexpected(
      s"Unreadable commit file $p after ${attempt} attempts: ${last.getMessage}")
  }

  private def parse(n: JsonNode): CommitInfo = CommitInfo(
    commitTime = n.get("commitTime").asText(),
    operation = n.get("operation").asText(),
    tableName = n.get("tableName").asText(),
    tableType = n.get("tableType").asText(),
    keyFields = strings(n.get("keyFields")),
    precombineField = n.get("precombineField").asText(),
    partitionFields = strings(n.get("partitionFields")),
    partitions = n.get("partitions").asScala.toSeq.map(p =>
      PartitionEntry(p.get("path").asText(), p.get("mode").asText(), p.get("recordCount").asLong())),
    recordCount = n.get("recordCount").asLong(),
    schemaDdl = n.get("schemaDdl").asText(),
    sourcePath = Option(n.get("sourcePath")).map(_.asText()),
    streamSink = Option(n.get("streamSink")).map(_.asText()),
    streamBatchId = Option(n.get("streamBatchId")).map(_.asLong()),
    columnMapping = Option(n.get("columnMapping")).map { mn =>
      ColumnMapping(
        Option(mn.get("aliases")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty),
        Option(mn.get("dropped")).map(strings).getOrElse(Seq.empty))
    })

  private def strings(n: JsonNode): Seq[String] =
    n.asInstanceOf[ArrayNode].asScala.map(_.asText()).toSeq

  def state(spark: SparkSession, tablePath: String): Option[TableState] = {
    val cs = commits(spark, tablePath)
    if (cs.isEmpty) None else Some(stateOf(cs))
  }

  /** Fold an explicit commit prefix into a TableState — the as-of-instant
    * building block for [[KeyedTable.readAsOf]].
    */
  def stateOf(cs: Seq[CommitInfo]): TableState = {
    val modes = cs.foldLeft(Map.empty[String, String]) { (acc, c) =>
      val base = if (c.operation == "bootstrap") Map.empty[String, String] else acc
      // a delta commit layers on top of an existing base partition without
      // changing how its BASE files are read — "delta" only registers
      // partitions that are new (delta-only, no base dir yet); "dropped"
      // entries (delete_partition) REMOVE the partition from the live set
      val merged = base ++ c.partitions
        .filterNot(p => p.mode == "delta" && base.contains(p.path))
        .filterNot(_.mode == "dropped")
        .map(p => p.path -> p.mode)
      merged -- c.partitions.filter(_.mode == "dropped").map(_.path)
    }
    TableState(cs, modes)
  }

  def requireState(spark: SparkSession, tablePath: String): TableState =
    state(spark, tablePath).getOrElse(
      throw GraftException.config(s"No table found at $tablePath (missing $LogDirName commit log)."))
}
