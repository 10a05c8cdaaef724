package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Engine
import graft.io.{PartitionDiscovery, SourceSniffer}
import graft.model.{BootstrapConfig, TableType}
import graft.ops.{Upsert, Validate}
import graft.table.CommitLog

/** cow_ingest — the reference's own job: FULL_RECORD COPY_ON_WRITE
  * bootstraps into fresh dirs (several per table cycle; the last table is
  * the one the cycle goes on with) and `resume` re-runs over a table missing
  * a seeded ~10% of its partitions, then a stream of upsert/delete batches
  * of ~0.5% of the rows, each followed by a snapshot aggregate. Every op's
  * output is checked against the model. The write path does the work; no
  * MOR merge runs, so this is the workload that bypasses read-path changes.
  */
final class CowIngest(val spark: SparkSession, seed: Long) extends Workload {
  val Rows = 36000
  val Months = 24
  val BatchRows = Rows / 200
  /** A table cycle: four bootstraps, then four upserts and a delete. */
  val Bootstraps = 4
  val WriteKinds = Seq(true, true, true, true, false)

  private val gen = new LineGen(seed, Months)
  private val watch = new TableWatch(spark)
  private val model = new Model
  private lazy val base: Vector[Line] = gen.base(Rows)
  private lazy val baseSum = Checksum.of(base)
  private var dir = ""
  private var input = ""
  private var tables = 0
  private var batches = 0

  /** Upserts and deletes both rewrite whole partition files, at one speed. */
  def writeKinds = Seq("upsert", "delete")
  def readKind = "snapshot"
  def bulkKind = "bootstrap"
  def families: Map[String, Seq[String]] = Map(
    "bootstrap" -> Seq("bootstrap", "resume"), "write" -> Seq("upsert", "delete"),
    "snapshot" -> Seq("snapshot"))
  def writeAmp: Double = watch.writeAmp

  private def cfg(table: String, resume: Boolean) = BootstrapConfig(
    dataFilePath = input, tablePath = table, tableName = "lineitem",
    keyFields = Line.keyFields, precombineField = Line.precombine,
    partitionFields = Seq(Line.partitionField), tableType = TableType.CopyOnWrite,
    resume = resume)

  def stage(d: String): Unit = {
    dir = Dirs.fresh(spark, d)
    input = s"$dir/input"
    Line.toDf(spark, base).repartition(4).write.parquet(input)
  }

  /** A table cycle with one bootstrap, two upserts and the delete, untimed:
    * the first upsert after a cycle's bootstraps still runs slower than the
    * ones after it.
    */
  def warmUp(): Unit = Warm.run(spark)(cycle(_, bootstraps = 1, writes = Seq(true, true, false)))

  def loop(run: Run): Unit = {
    watch.reset()
    while (run.timeLeft) cycle(run, Bootstraps, WriteKinds)
  }

  /** Bootstraps before the last go to spare dirs, deleted untimed. */
  private def cycle(run: Run, bootstraps: Int, writes: Seq[Boolean]): Unit = {
    tables += 1
    (1 until bootstraps).foreach { i =>
      val spare = s"$dir/t${tables}s$i"
      bootstrapOp(run, "bootstrap", spare, resume = false)
      Dirs.delete(spark, spare)
    }
    val table = s"$dir/t$tables"
    model.reset(); model.upsert(base)
    bootstrapOp(run, "bootstrap", table, resume = false)
    // drop a seeded ~10% of the partitions, untimed, so resume has work
    val parts = CommitLog.requireState(spark, table).nativePartitions
    Engine.dropPartitions(spark, table, gen.shuffle(parts).take(math.max(1, parts.size / 10)))
    bootstrapOp(run, "resume", table, resume = true)
    writes.foreach { upsert =>
      writeOp(run, table, upsert)
      snapshotOp(run, table)
    }
    Dirs.delete(spark, table)
  }

  private def bootstrapOp(run: Run, family: String, table: String, resume: Boolean): Unit = {
    run.tracer.foreach { t =>
      t.span("io.sniff") {
        val t0 = System.nanoTime()
        SourceSniffer.sniff(spark, input)
        PartitionDiscovery.discover(spark, input)
        t.record("io.sniff_s", (System.nanoTime() - t0) / 1e9)
      }
      t.record("io.files_listed", watch.list(input).size.toDouble)
    }
    run.op(family) {
      val r = Engine.bootstrap(spark, cfg(table, resume))
      if (!r.success) throw new CheckFailed(r.errorLog.getOrElse("bootstrap failed"))
      r
    } { r =>
      Check.equal(s"$family input count", r.result.get.inputCount, base.size.toLong)
      Check.equal(s"$family table", Checksum.aggregate(Engine.read(spark, table)), baseSum)
    }.foreach { _ =>
      run.tracer.foreach(_.record("op.bootstrap.rows_per_s", base.size / run.samples(family).last))
    }
    run.tracer.foreach { t =>
      t.span("ops.validate") {
        val t0 = System.nanoTime()
        Validate.postBootstrap(spark.read.parquet(input), Engine.read(spark, table))
        t.record("ops.validate_s", (System.nanoTime() - t0) / 1e9)
      }
    }
  }

  private def writeOp(run: Run, table: String, upsert: Boolean): Unit = {
    batches += 1
    val path = s"$dir/batches/b$batches"
    val rows = if (upsert) gen.upsertBatch(model, BatchRows) else gen.deleteBatch(model, BatchRows / 2)
    val df = Line.toDf(spark, rows)
    Dirs.writeBatch(if (upsert) df else df.select((Line.keyFields :+ Line.partitionField).map(col): _*), path)
    val before = watch.list(table)
    run.tracer.foreach { t =>
      watch.commitLog(t, table)
      if (upsert) t.span("ops.dedup_by_key") {
        val t0 = System.nanoTime()
        Upsert.dedupByKey(spark.read.parquet(path), Line.keyFields, Line.precombine,
          Seq(Line.partitionField)).count()
        t.record("ops.dedup_by_key_s", (System.nanoTime() - t0) / 1e9)
      }
    }
    run.op(if (upsert) "upsert" else "delete") {
      val batch = spark.read.parquet(path)
      if (upsert) Engine.upsert(spark, table, batch) else Engine.delete(spark, table, batch)
    } { _ =>
      if (upsert) model.upsert(rows) else model.delete(rows)
      Check.equal("table after write", Checksum.aggregate(Engine.read(spark, table)), model.summary)
    }
    watch.wrote(run.tracer, table, before, path, rows.size.toLong, upsert)
    Dirs.delete(spark, path)
  }

  private def snapshotOp(run: Run, table: String): Unit = {
    run.op("snapshot")(Checksum.aggregate(Engine.read(spark, table))) { got =>
      Check.equal("snapshot", got, model.summary)
    }
    run.tracer.foreach(t => watch.readPath(t, table, run.samples.get("snapshot").flatMap(_.lastOption)))
  }

}
