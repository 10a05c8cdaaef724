package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Engine
import graft.model.TableType
import graft.table.{BloomIndex, CommitLog, KeyedTable}

/** mor_serve — a MERGE_ON_READ lineitem table served while it is written.
  * The op mix (a fixed rotation; the seed picks the data): key lookups of 1–50 keys
  * through `Engine.read` + filter and through `Engine.readByKeys`, snapshot
  * aggregates, `readChanges` since a recent instant, `readAsOf` one instant
  * back, and small recency-skewed delta upserts and deletes. An explicit
  * `Engine.compact` runs whenever the live delta chain reaches `ChainMax`,
  * so the chain cycles between 0 and `ChainMax` (no `compact.auto`, whose
  * threshold decisions make runs bimodal). Every read goes through the MOR
  * merge, so read-path changes show here.
  */
final class MorServe(val spark: SparkSession, seed: Long) extends Workload {
  val Rows = 12000
  val Months = 24
  val UpsertRows = 80
  val DeleteRows = 20
  val ChainMax = 2
  /** Keys per lookup, in a fixed rotation (which keys: from the seed). */
  val LookupSizes = Seq(1, 10, 50, 25, 5, 40)

  private val gen = new LineGen(seed, Months)
  private val rnd = new scala.util.Random(seed * 17 + 3)
  private val watch = new TableWatch(spark)
  private val model = new Model
  private lazy val base: Vector[Line] = gen.base(Rows)
  private var dir = ""
  private var table = ""
  private var chain = 0
  private var batches = 0
  private var afterCompact = false
  private var lookups = 0
  private var changesRead = 0
  /** Six writes, so the chain closes three compaction cycles per rotation.
    * Each cycle starts with an upsert onto the freshly compacted table.
    */
  private val Rotation = Seq("lookup_keys", "upsert", "lookup_read", "snapshot", "upsert", "changes",
    "lookup_keys", "upsert", "asof", "lookup_keys", "upsert", "lookup_keys", "upsert", "delete")

  /** A delta delete of 20 keys takes about half an 80-row upsert's time. */
  def writeKinds = Seq("upsert")
  def readKind = "lookup_keys"
  def bulkKind = "compact"
  def families: Map[String, Seq[String]] = Map(
    "write" -> Seq("upsert", "delete"), "snapshot" -> Seq("snapshot"),
    "lookup" -> Seq("lookup_read", "lookup_keys"), "changes" -> Seq("changes"),
    "asof" -> Seq("asof"), "compact" -> Seq("compact"))
  def writeAmp: Double = watch.writeAmp

  def stage(d: String): Unit = {
    dir = Dirs.fresh(spark, d)
    table = s"$dir/table"
    model.reset()
    KeyedTable.create(spark, table, Line.toDf(spark, base).repartition(4), tableName = "lineitem",
      keyFields = Line.keyFields, precombineField = Line.precombine,
      partitionFields = Seq(Line.partitionField), tableType = TableType.MergeOnRead)
    model.upsert(base)
    model.commit(tip, base)
    Engine.indexBloom(spark, table)
    chain = 0
  }

  /** Each op kind of the rotation once, untimed: compaction included, and
    * the chain is back at 0.
    */
  def warmUp(): Unit = Warm.run(spark)(warm => Rotation.distinct.foreach(op(warm, _)))

  def loop(run: Run): Unit = {
    watch.reset()
    while (run.timeLeft) Rotation.foreach(op(run, _))
  }

  private def tip: String = CommitLog.commits(spark, table).last.commitTime

  private def op(run: Run, kind: String): Unit = kind match {
    case "upsert" => write(run, upsert = true); if (chain >= ChainMax) compact(run)
    case "delete" => write(run, upsert = false); if (chain >= ChainMax) compact(run)
    case "lookup_read" =>
      val keys = lookupKeys()
      read(run, kind, keys)(Line.collect(Engine.read(spark, table).filter(Line.keyFilter(keys))))
    case "lookup_keys" =>
      val keys = lookupKeys()
      val rk = keys.map(Line.recordKey)
      run.tracer.foreach(t => bloom(t, rk, keys))
      read(run, kind, keys)(Line.collect(Engine.readByKeys(spark, table, rk)))
    case "snapshot" =>
      val got = run.op(kind)(Checksum.aggregate(Engine.read(spark, table))) { got =>
        Check.equal("snapshot", got, model.summary)
      }
      nextRead(run, kind, got.isDefined)
      run.tracer.foreach(t => watch.readPath(t, table, run.samples.get(kind).flatMap(_.lastOption)))
    case "changes" =>
      val h = model.history
      changesRead += 1
      val since = h(math.max(0, h.size - 3 - changesRead % 2))._1
      val got = run.op(kind) {
        Engine.readChanges(spark, table, since).select(Line.keyFields.map(col): _*).distinct()
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      } { got => Check.equal(s"changes since $since", got, model.changedSince(since)) }
      nextRead(run, kind, got.isDefined)
    case "asof" =>
      val h = model.history
      val at = h(math.max(0, h.size - 2))._1
      val got = run.op(kind)(Checksum.aggregate(Engine.readAsOf(spark, table, at))) { got =>
        Check.equal(s"as of $at", got, model.summaryAt(at))
      }
      nextRead(run, kind, got.isDefined)
  }

  /** 1–50 keys: live keys, three in four from the newest year of months,
    * and on every fifth lookup one key that does not exist.
    */
  private def lookupKeys(): Seq[(Long, Int)] = {
    val n = LookupSizes(lookups % LookupSizes.size)
    lookups += 1
    val recent = model.keysIn((Months - 12 until Months).map(gen.monthName).toSet)
    val all = model.allKeys
    val live = Iterator.continually(if (rnd.nextInt(4) < 3) recent(rnd.nextInt(recent.size))
      else all(rnd.nextInt(all.size))).distinct.take(n).toSeq
    if (lookups % 5 == 0) live.init :+ ((Long.MaxValue - rnd.nextInt(1000), 1)) else live
  }

  private def read(run: Run, kind: String, keys: Seq[(Long, Int)])(body: => Seq[Line]): Unit = {
    val got = run.op(kind)(body) { rows =>
      Check.equal(s"$kind rows", rows.map(_.key).toSet, keys.filter(k => model.get(k).isDefined).toSet)
      rows.foreach(r => Check.equal(s"$kind row ${r.key}", Some(r), model.get(r.key)))
    }
    nextRead(run, kind, got.isDefined)
  }

  /** The first read after a compaction is the foreground stall it leaves. */
  private def nextRead(run: Run, kind: String, ok: Boolean): Unit = if (afterCompact) {
    afterCompact = false
    if (ok) run.tracer.foreach(_.record("table.compact.next_read_s", run.samples(kind).last))
  }

  private def bloom(t: Tracer, rk: Seq[String], keys: Seq[(Long, Int)]): Unit = t.span("table.bloom") {
    val cand = BloomIndex.candidateFiles(spark, table, rk).kept
    t.record("table.bloom.candidate_files", cand.size.toDouble)
    if (cand.nonEmpty) {
      val holding = Engine.readOptimized(spark, table).filter(Line.keyFilter(keys))
        .select(input_file_name()).distinct().count()
      t.record("table.bloom.useful_frac", holding.toDouble / cand.size)
    }
  }

  private def write(run: Run, upsert: Boolean): Unit = {
    batches += 1
    val path = s"$dir/batches/b$batches"
    val rows = if (upsert) gen.upsertBatch(model, UpsertRows) else gen.deleteBatch(model, DeleteRows)
    val df = Line.toDf(spark, rows)
    Dirs.writeBatch(if (upsert) df else df.select((Line.keyFields :+ Line.partitionField).map(col): _*), path)
    val before = watch.list(table)
    run.tracer.foreach(t => watch.commitLog(t, table))
    val ok = run.op(if (upsert) "upsert" else "delete") {
      val batch = spark.read.parquet(path)
      if (upsert) Engine.upsert(spark, table, batch) else Engine.delete(spark, table, batch)
    } { _ =>
      if (upsert) model.upsert(rows) else model.delete(rows)
      model.commit(tip, rows)
      Check.equal("table after write", Checksum.aggregate(Engine.read(spark, table)), model.summary)
    }
    if (ok.isDefined) chain += 1
    watch.wrote(run.tracer, table, before, path, rows.size.toLong, upsert)
    Dirs.delete(spark, path)
  }

  private def compact(run: Run): Unit = {
    val before = watch.list(table)
    val ok = run.op("compact")(Engine.compact(spark, table)) { _ =>
      Check.equal("compacted table", Checksum.aggregate(Engine.read(spark, table)), model.summary)
    }
    if (ok.isDefined) {
      model.commit(tip, Nil)
      chain = 0
      afterCompact = true
    }
    watch.compacted(run.tracer, table, before)
  }
}
