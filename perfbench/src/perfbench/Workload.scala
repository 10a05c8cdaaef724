package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.table.{CommitLog, Deltas}

/** A benchmark workload: a fixture built by `stage` and a closed loop of
  * ops run by one client. The loop runs whole rotations of a fixed op mix
  * until the run's time is spent, so every run samples the same mix
  * however many ops a slower or faster host fits into it.
  */
trait Workload {
  def spark: SparkSession
  /** Build the fixture under `dir` from scratch; inputs come from the seed
    * only. Run several times, each into a fresh dir; the last one serves.
    */
  def stage(dir: String): Unit
  /** Run every op kind on the staged fixture, untimed, so lazy set-up, code
    * generation and JIT compilation are paid before the timed loop.
    */
  def warmUp(): Unit
  def loop(run: Run): Unit
  /** The op kinds behind each end-to-end latency. Only kinds of one speed
    * share a latency: a median over two kinds of different speed lands
    * between them and jumps with every sample a slower or faster host adds
    * or drops.
    */
  def writeKinds: Seq[String]
  def readKind: String
  def bulkKind: String
  /** Bytes the engine added under its table dir for upserts (and for the
    * compactions that fold them) ÷ bytes of those upsert batches written as
    * plain parquet.
    */
  def writeAmp: Double
  /** Latency detail per op family, printed with the run. */
  def families: Map[String, Seq[String]]
}

/** Filesystem and commit-log observations of one keyed table, shared by the
  * two table workloads.
  */
final class TableWatch(spark: SparkSession) {
  var bytesAdded = 0L
  var batchBytes = 0L

  def list(table: String): Map[String, Long] = Files.list(table)

  /** Account one write: files new since `before`, against the batch's
    * plain-parquet size and row count. Write amplification counts upserts
    * only: a delete's batch is a bare key list, so its ratio measures the
    * key list's size rather than the engine.
    */
  def wrote(tr: Option[Tracer], table: String, before: Map[String, Long], batchPath: String,
      batchRows: Long, upsert: Boolean): Unit = {
    val added = Files.added(before, list(table))
    val addedBytes = added.values.sum
    if (upsert) {
      bytesAdded += addedBytes
      batchBytes += Files.bytes(batchPath)
    }
    tr.foreach { t =>
      t.record("table.write.bytes_added", addedBytes.toDouble)
      t.record("table.write.files_added", added.size.toDouble)
      t.record("table.write.archive_bytes",
        added.filter(_._1.contains("/.graft/archive/")).values.sum.toDouble)
      t.record("table.write.partitions_touched", added.keys
        .filterNot(_.contains("/.graft/")).map(p => p.substring(0, p.lastIndexOf('/'))).toSet.size.toDouble)
      val c = CommitLog.commits(spark, table).last
      t.record("table.write.rows_rewritten_per_row", c.recordCount.toDouble / batchRows)
    }
  }

  /** Account one compaction: the bytes of the files new since `before`
    * count toward write amplification, since the compaction rewrites what
    * the writes before it added.
    */
  def compacted(tr: Option[Tracer], table: String, before: Map[String, Long]): Unit = {
    val added = Files.added(before, list(table)).values.sum
    bytesAdded += added
    tr.foreach(_.record("table.compact.bytes_rewritten", added.toDouble))
  }

  def writeAmp: Double = if (batchBytes == 0L) 0.0 else bytesAdded.toDouble / batchBytes
  def reset(): Unit = { bytesAdded = 0L; batchBytes = 0L }

  /** Commit-log state load, timed as its own layer call. */
  def commitLog(t: Tracer, table: String): Unit = {
    val st = t.span("table.commitlog.state") {
      val t0 = System.nanoTime()
      val s = CommitLog.requireState(spark, table)
      t.record("table.commitlog.state_s", (System.nanoTime() - t0) / 1e9)
      s
    }
    t.record("table.commitlog.commits", st.commits.size.toDouble)
    val log = java.nio.file.Files.list(java.nio.file.Paths.get(table, CommitLog.LogDirName))
    try t.record("table.commitlog.bytes", log.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum.toDouble)
    finally log.close()
  }

  /** Live delta chain length and bytes. */
  def deltas(t: Tracer, table: String): Unit = {
    val live = Deltas.liveCommits(spark, table)
    t.record("table.deltas.live", live.size.toDouble)
    val bytes = Files.bytes(Deltas.root(table).toString).toDouble
    t.record("table.deltas.bytes", bytes)
    val cap = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    t.record("table.deltas.broadcast_share", bytes / org.apache.spark.network.util.JavaUtils.byteStringAsBytes(cap))
  }

  /** Read-path observations after a snapshot op: the live delta chain, the
    * scan nodes of the snapshot plan, and the MOR merge cost as the snapshot
    * time minus the same aggregate over `readOptimized` (base files only) on
    * the same table state. Without live deltas there is no merge: 0.
    */
  def readPath(t: Tracer, table: String, snapshotSeconds: Option[Double]): Unit = {
    val live = Deltas.liveCommits(spark, table).size
    deltas(t, table)
    scans(t, graft.Engine.read(spark, table).agg(org.apache.spark.sql.functions.count("*")))
    snapshotSeconds.foreach { s =>
      val merge = if (live == 0) 0.0 else t.span("table.read_optimized") {
        val t0 = System.nanoTime()
        Checksum.aggregate(graft.Engine.readOptimized(spark, table))
        s - (System.nanoTime() - t0) / 1e9
      }
      t.record("table.deltas.merge_s", merge)
    }
  }

  /** File-scan nodes of a query's physical plan, split into base-file scans
    * and delta scans (the paths under `.graft/deltas`).
    */
  def scans(t: Tracer, df: DataFrame): Unit = {
    val nodes = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    val delta = nodes.count(_.relation.location.rootPaths.exists(_.toString.contains("/.graft/deltas")))
    t.record("plan.base_scans", (nodes.size - delta).toDouble)
    t.record("plan.delta_scans", delta.toDouble)
  }
}

object Layers {
  /** Every per-layer metric name, in report order. Each traced run reports
    * all of them; a layer a workload does not exercise reads 0.
    */
  val opFamilies: Seq[String] =
    Seq("bootstrap", "write", "snapshot", "lookup", "history", "compact", "dedup", "probe")
  val counterNames: Seq[String] =
    Seq("jobs", "task_ms", "driver_only_ms", "shuffle_bytes", "input_records", "output_bytes")

  val names: Seq[String] = Seq(
    "io.sniff_s", "io.files_listed", "ops.validate_s", "ops.dedup_by_key_s",
    "table.commitlog.state_s", "table.commitlog.commits", "table.commitlog.bytes",
    "table.deltas.merge_s", "table.deltas.live", "table.deltas.bytes",
    "table.deltas.broadcast_share", "plan.base_scans", "plan.delta_scans",
    "table.write.bytes_added", "table.write.files_added", "table.write.archive_bytes",
    "table.write.partitions_touched", "table.write.rows_rewritten_per_row",
    "table.compact.bytes_rewritten", "table.compact.next_read_s",
    "table.bloom.candidate_files", "table.bloom.useful_frac",
    "operators.dedup.candidate_pairs", "operators.dedup.confirmed_pairs",
    "operators.dedup.precision", "operators.annindex.probe_s", "operators.sync.lag_s",
    "op.bootstrap.rows_per_s", "op.snapshot.p50_s", "op.lookup.p50_s", "op.lookup.tail_s",
    "op.changes.p50_s", "op.asof.p50_s", "op.compact.p50_s", "op.dedup.p50_s",
    "op.probe.p50_s", "op.refresh.p50_s", "unattributed_jobs", "trace.ops_per_s",
    "trace.spans") ++
    opFamilies.flatMap(f => counterNames.map(c => s"$f.$c"))

  /** Median of each recorded value, keyed by its metric name. */
  def medians(tr: Tracer): Map[String, Double] =
    tr.values.collect { case (k, v) if v.nonEmpty => k -> Stats.median(v.toSeq) }.toMap

  def counters(tr: Tracer, families: Map[String, Set[String]]): Map[String, Double] =
    families.toSeq.flatMap { case (f, ops) =>
      tr.opCounters(ops).map { case (c, v) => s"$f.$c" -> v }
    }.toMap
}

object Warm {
  def run(spark: SparkSession)(body: Run => Unit): Unit = {
    val warm = new Run(spark, None, Double.MaxValue)
    body(warm)
    if (warm.failed > 0) throw new IllegalStateException("warm-up failed: " + warm.failures.mkString("; "))
  }
}

object Dirs {
  def fresh(spark: SparkSession, dir: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    dir
  }
  def delete(spark: SparkSession, dir: String): Unit = { fresh(spark, dir); () }

  /** Write a batch as plain parquet (the form user batches arrive in). */
  def writeBatch(df: DataFrame, path: String): String = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    path
  }
}
