package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail rule: the highest percentile that still has at least ten
    * samples beyond it. With n sorted samples that is the value at 1-based
    * rank n-10, i.e. percentile (n-10)/n. Returns (value, percentile, n).
    * With ten samples or fewer no percentile qualifies; the median is
    * returned and the percentile reads 50, so the output says so.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val n = xs.size
    if (n <= 10) (median(xs), 50.0, n)
    else (xs.sorted.apply(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Bytes and files under a local directory, by path, for before/after
  * diffs. Walks with java.nio: Hadoop's local listing forks a process per
  * file to read its permissions, which would dwarf the ops it accounts for.
  */
object Files {
  def list(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val walk = java.nio.file.Files.walk(p)
    try {
      val out = Map.newBuilder[String, Long]
      walk.filter(java.nio.file.Files.isRegularFile(_)).forEach(f => out += f.toString -> java.nio.file.Files.size(f))
      out.result()
    } finally walk.close()
  }
  def bytes(root: String): Long = list(root).values.sum
  /** Files present in `after` and not in `before` (new paths). */
  def added(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.filterNot { case (p, _) => before.contains(p) }
}

/** One timed run: a closed loop of ops by a single client. Each op is timed
  * alone; its output check runs after the clock stops. `timeLeft` turns
  * false once the timed op wall reaches `seconds`; workloads check it
  * between whole rotations of their op mix. An op that throws or
  * fails its check counts as failed and leaves no latency sample, so a wrong
  * answer never reads as a fast one.
  */
final class Run(val spark: SparkSession, val tracer: Option[Tracer], seconds: Double) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  var timedNs = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def timeLeft: Boolean = timedNs < seconds * 1e9

  def op[T](family: String)(body: => T)(check: T => Unit): Option[T] = {
    attempted += 1
    tracer.foreach(_.beginOp(family, attempted))
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val dt = System.nanoTime() - t0
    timedNs += dt
    tracer.foreach(_.endOp())
    val ok = res.flatMap(v => try { check(v); Right(v) } catch { case e: Throwable => Left(e) })
    ok match {
      case Right(v) =>
        samples.getOrElseUpdate(family, mutable.ArrayBuffer.empty) += dt / 1e9
        Some(v)
      case Left(e) =>
        failed += 1
        if (failures.size < 20) failures += s"$family#$attempted: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  def of(families: String*): Seq[Double] = families.flatMap(f => samples.getOrElse(f, Nil))
  def opsPerSecond: Double = (attempted - failed) / (timedNs / 1e9)
}

/** An output check failure. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def equal[T](what: String, got: T, want: T): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
}

/** The traced run's recorder: spans from the benchmark's own calls into each
  * layer, plus Spark counters per op from a listener keyed on the op id the
  * benchmark sets as a local property around each op. Spans stay in memory
  * and are written when the run ends.
  */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)
  final case class OpCounters(
      var jobs: Int = 0, var taskMs: Long = 0L, var shuffleBytes: Long = 0L,
      var inputRecords: Long = 0L, var outputBytes: Long = 0L,
      intervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  private var op = 0
  private var opFamily = ""
  private var opStartMs = 0L
  /** (family, wall ms, counters) per finished op. */
  val ops = mutable.ArrayBuffer.empty[(String, Long, OpCounters)]
  private val counters = new java.util.concurrent.ConcurrentHashMap[Int, OpCounters]()
  @volatile private var inOp = false
  @volatile var unattributedJobs = 0
  val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private val OpProp = "perfbench.op"

  private val listener = new SparkListener {
    private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp))).map(_.toInt)
      id match {
        case Some(o) =>
          e.stageInfos.foreach(s => stageOp.put(s.stageId, o))
          jobStart.put(e.jobId, (o, e.time))
          counters.computeIfAbsent(o, _ => OpCounters()).jobs += 1
        case None => if (inOp) unattributedJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (o, t0) =>
        counters.computeIfAbsent(o, _ => OpCounters()).intervals += ((t0, e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { o =>
        val m = e.taskMetrics
        if (m != null) {
          val c = counters.computeIfAbsent(o, _ => OpCounters())
          c.synchronized {
            c.taskMs += m.executorRunTime
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.inputRecords += m.inputMetrics.recordsRead
            c.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }
  spark.sparkContext.addSparkListener(listener)

  def beginOp(family: String, id: Int): Unit = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    op = id; opFamily = family; inOp = true
    spark.sparkContext.setLocalProperty(OpProp, id.toString)
    opStartMs = System.currentTimeMillis()
    stack = Nil
    pushSpan("op." + family)
  }

  def endOp(): Unit = {
    popSpan()
    val wall = System.currentTimeMillis() - opStartMs
    spark.sparkContext.setLocalProperty(OpProp, null)
    PerfbenchBridge.drainListeners(spark.sparkContext)
    inOp = false
    ops += ((opFamily, wall, Option(counters.get(op)).getOrElse(OpCounters())))
  }

  private def pushSpan(name: String): Unit = {
    nextSpan += 1
    spans += Span(nextSpan, stack.headOption.getOrElse(0), op, name, System.nanoTime(), -1L)
    stack = nextSpan :: stack
  }
  private def popSpan(): Unit = {
    val id = stack.head
    stack = stack.tail
    val i = spans.lastIndexWhere(_.id == id)
    spans(i) = spans(i).copy(endNs = System.nanoTime())
  }

  /** A child span around one call into a layer. */
  def span[T](name: String)(body: => T): T = {
    pushSpan(name)
    try body finally popSpan()
  }

  /** A per-layer value observed by the traced run (medians are reported). */
  def record(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Self time per span name: duration minus the time its children cover. */
  def selfSeconds: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => k.endNs - k.startNs).sum
        (s.endNs - s.startNs - kids) / 1e9
      }.sum
    }
  }

  /** Median per-op Spark counters of the ops in `families`. */
  def opCounters(families: Set[String]): Map[String, Double] = {
    val mine = ops.filter(o => families.contains(o._1))
    if (mine.isEmpty) return Map.empty
    def med(f: ((String, Long, OpCounters)) => Double) = Stats.median(mine.map(f).toSeq)
    Map(
      "jobs" -> med(_._3.jobs.toDouble),
      "task_ms" -> med(_._3.taskMs.toDouble),
      "driver_only_ms" -> med { case (_, wall, c) => math.max(0L, wall - covered(c.intervals.toSeq)).toDouble },
      "shuffle_bytes" -> med(_._3.shuffleBytes.toDouble),
      "input_records" -> med(_._3.inputRecords.toDouble),
      "output_bytes" -> med(_._3.outputBytes.toDouble))
  }

  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
