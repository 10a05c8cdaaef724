package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.table.{CommitLog, KeyedTable, TableSync}

/** Checkpointed consumption of a table's change feed — the streaming-OUT
  * twin of [[StreamingIngest]] (SURVEY §2.10). Each `pull` delivers exactly
  * the changes between the durable watermark and the source's current tip
  * as one micro-batch ([[KeyedTable.readChanges]] — partition-pruned,
  * O(|changes|), never O(table)), then advances the watermark. Offsets are
  * commit instants, so the feed is replayable: a consumer that crashes
  * after processing but before the watermark write re-receives the same
  * closed interval on restart — at-least-once delivery, effectively-once
  * when the handler is idempotent (an upsert/delete apply is; see
  * [[syncTo]]).
  *
  * The watermark commit is a temp-file + atomic rename, so a torn write
  * can never produce a half-written offset. With no checkpoint yet, the
  * first pull initializes the watermark at the source tip and delivers
  * nothing ("latest" semantics) unless `startAt` pins an explicit instant
  * — e.g. the bootstrap commit to stream from the beginning of retained
  * history. Pulling an instant past the archive-retention horizon fails
  * loudly (the feed would be incomplete), never silently skips.
  */
object ChangeStream {

  /** One delivered interval: `(sinceExclusive, upToInclusive]`. */
  final case class Pull(sinceExclusive: String, upToInclusive: String)

  private def watermarkFile(checkpointDir: String): Path =
    new Path(checkpointDir, "graft-change-watermark")

  private def identityFile(checkpointDir: String): Path =
    new Path(checkpointDir, "graft-change-identity")

  /** Stamp/validate WHOSE feed this checkpoint belongs to. A checkpoint is
    * one consumer's watermark over one source: pointing an existing one at
    * a different destination (or the same destination under different
    * parameters) silently applies a PARTIAL feed — every interval already
    * pulled is simply missing from the new consumer's view, with no error
    * anywhere. Consumers pass an identity string (source + destination +
    * the parameters that shape the apply); the first stamped pull persists
    * it beside the watermark, every later one compares, and a mismatch
    * fails loudly instead. Pre-stamp checkpoints adopt the identity on
    * their next pull (the file is additive — old checkpoints keep working).
    */
  private def readIdentity(fs: FileSystem, f: Path): Option[String] = {
    if (!fs.exists(f)) return None
    val buf = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
    val in = fs.open(f)
    try { in.readFully(0, buf); Some(new String(buf, "UTF-8").trim) }
    finally in.close()
  }

  private def checkIdentity(
      fs: FileSystem, checkpointDir: String, identity: String,
      legacy: Seq[String]): Unit = {
    val f = identityFile(checkpointDir)
    def mismatch(stored: String): Nothing =
      throw graft.model.GraftException.config(
        s"Change-stream checkpoint at $checkpointDir belongs to '$stored' " +
          s"but this pull declares '$identity'. Reusing a checkpoint " +
          "against a different consumer/parameters would silently skip " +
          "every interval already pulled — use a fresh checkpoint dir " +
          "(and backfill the new consumer from its own basis).")
    def restamp(): Unit = {
      val tmp = new Path(checkpointDir, ".graft-change-identity.tmp")
      val out = fs.create(tmp, true)
      try out.write(identity.getBytes("UTF-8")) finally out.close()
      fs.delete(f, false)
      if (!fs.rename(tmp, f))
        throw graft.model.GraftException.unexpected(
          s"could not adopt change-stream identity under $checkpointDir")
    }
    readIdentity(fs, f) match {
      case Some(stored) if stored == identity => ()
      // one-time ADOPTION: a checkpoint stamped under a superseded rendering
      // of the SAME consumer (the pre-normalization raw-path spellings)
      // upgrades in place — refusing it would push the operator to a fresh
      // checkpoint dir, which silently skips every already-pulled interval
      case Some(stored) if legacy.contains(stored) => restamp()
      case Some(stored) => mismatch(stored)
      case None =>
        val dir = new Path(checkpointDir)
        if (!fs.exists(dir)) fs.mkdirs(dir)
        val tmp = new Path(checkpointDir, ".graft-change-identity.tmp")
        val out = fs.create(tmp, true)
        try out.write(identity.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, f)) {
          // two first pulls can race the stamp (both saw no file); the
          // loser's rename fails — if the winner stamped the SAME identity
          // that is success, not an error (the stamp is idempotent); a
          // different identity is the genuine mismatch
          readIdentity(fs, f) match {
            case Some(stored) if stored == identity => ()
            case Some(stored) => mismatch(stored)
            case None => throw graft.model.GraftException.unexpected(
              s"could not stamp change-stream identity under $checkpointDir")
          }
        }
    }
  }

  def readWatermark(fs: FileSystem, checkpointDir: String): Option[String] = {
    val f = watermarkFile(checkpointDir)
    if (!fs.exists(f)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
      val in = fs.open(f)
      try { in.readFully(0, buf); Some(new String(buf, "UTF-8").trim) }
      finally in.close()
    }
  }

  private def writeWatermark(fs: FileSystem, checkpointDir: String, ct: String): Unit = {
    val dir = new Path(checkpointDir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val tmp = new Path(checkpointDir, s".graft-change-watermark.tmp")
    val out = fs.create(tmp, true)
    try out.write(ct.getBytes("UTF-8")) finally out.close()
    // rename is atomic per FileSystem contract: readers see old or new, never torn
    fs.delete(watermarkFile(checkpointDir), false)
    if (!fs.rename(tmp, watermarkFile(checkpointDir)))
      throw graft.model.GraftException.unexpected(
        s"could not commit change-stream watermark under $checkpointDir")
  }

  /** Initialize a checkpoint WITHOUT delivering: write the watermark (at
    * `at`, or the source tip when None) only if none exists, and stamp the
    * identity. Unlike a first `pull`, this never consumes an interval — a
    * registrar ensuring a shared checkpoint exists must not eat changes
    * other consumers of that checkpoint still need. No-op when the
    * watermark is already present (the identity is still validated).
    */
  def initialize(
      spark: SparkSession,
      tablePath: String,
      checkpointDir: String,
      at: Option[String] = None,
      identity: Option[String] = None,
      legacyIdentities: Seq[String] = Seq.empty): Unit = {
    val fs = CommitLog.fs(spark, checkpointDir)
    identity.foreach(checkIdentity(fs, checkpointDir, _, legacyIdentities))
    if (readWatermark(fs, checkpointDir).isEmpty) {
      val tip = CommitLog.requireState(spark, tablePath).latest.commitTime
      writeWatermark(fs, checkpointDir, at.getOrElse(tip))
    }
  }

  /** Deliver the changes since the checkpointed watermark to `handler`,
    * then advance the watermark. Returns the delivered interval, or None
    * when the source has no new commits (or this call only initialized the
    * checkpoint). The handler runs BEFORE the watermark write: a handler
    * failure leaves the watermark untouched and the same interval is
    * re-delivered on the next pull.
    */
  def pull(
      spark: SparkSession,
      tablePath: String,
      checkpointDir: String,
      startAt: Option[String] = None,
      identity: Option[String] = None,
      legacyIdentities: Seq[String] = Seq.empty)(
      handler: (DataFrame, Pull) => Unit): Option[Pull] = {
    val st = CommitLog.requireState(spark, tablePath)
    val tip = st.latest.commitTime
    val fs = CommitLog.fs(spark, checkpointDir)
    identity.foreach(checkIdentity(fs, checkpointDir, _, legacyIdentities))
    readWatermark(fs, checkpointDir) match {
      case None =>
        startAt match {
          case Some(at) =>
            writeWatermark(fs, checkpointDir, at)
            pull(spark, tablePath, checkpointDir, None, identity)(handler)
          case None =>
            writeWatermark(fs, checkpointDir, tip) // "latest": stream future changes only
            None
        }
      case Some(wm) if tip <= wm => None
      case Some(wm) =>
        val interval = Pull(wm, tip)
        handler(KeyedTable.readChanges(spark, tablePath, wm), interval)
        writeWatermark(fs, checkpointDir, tip)
        Some(interval)
    }
  }

  /** Continuous checkpointed replication into a same-config destination
    * table: `pull` + [[TableSync]] apply (deletes before upserts, both
    * idempotent — replay after a crash converges). Bootstrap the
    * destination from a source snapshot first and pass that commit as
    * `startAt` on the first call, exactly like a batch [[TableSync.sync]]
    * chain.
    */
  def syncTo(
      spark: SparkSession,
      srcPath: String,
      dstPath: String,
      checkpointDir: String,
      startAt: Option[String] = None): Option[Pull] =
    // paths normalized (SyncRegistry.identityOf's rule): a trailing-slash or
    // relative respelling of the same tables must resolve to ONE identity —
    // a raw-string identity would refuse a previously-working checkpoint for
    // every spelling but one, and the "fresh checkpoint dir" remedy would
    // silently skip already-pulled intervals
    pull(spark, srcPath, checkpointDir, startAt,
      identity = Some(s"tablesync ${new Path(srcPath)} -> ${new Path(dstPath)}"),
      // checkpoints stamped before the normalization (raw spellings of the
      // same pair) adopt the normalized identity on their next pull
      legacyIdentities = Seq(s"tablesync $srcPath -> $dstPath")) { (_, interval) =>
      TableSync.sync(spark, srcPath, dstPath, interval.sinceExclusive)
      ()
    }

  /** Poll `pull` every `pollIntervalMs` until `maxPolls` calls have been
    * made, delivering each non-empty interval to `handler`; returns the
    * number of non-empty deliveries. A bounded foreground loop — suited to
    * tests and drain-style jobs; schedule `pull` itself for long-running
    * consumption.
    */
  def follow(
      spark: SparkSession,
      tablePath: String,
      checkpointDir: String,
      pollIntervalMs: Long,
      maxPolls: Int,
      startAt: Option[String] = None)(
      handler: (DataFrame, Pull) => Unit): Int = {
    var delivered = 0
    var polls = 0
    while (polls < maxPolls) {
      if (pull(spark, tablePath, checkpointDir, startAt)(handler).nonEmpty) delivered += 1
      polls += 1
      if (polls < maxPolls) Thread.sleep(pollIntervalMs)
    }
    delivered
  }
}
