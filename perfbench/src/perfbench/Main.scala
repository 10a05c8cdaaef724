package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Usage (normally through perfbench/run.py):
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <work dir> <trace file>
  *
  * Stages the workload's fixture several times (each from scratch; the median
  * counts), warms it up, runs its closed loop for `seconds` of timed op wall
  * time, and prints one `PERFBENCH_RESULT {json}` line with every metric,
  * the latency detail per op family and the run's Spark context.
  */
object Main {
  val SetupReps = 3
  val TaskSlots = 2

  def main(args: Array[String]): Unit = {
    if (args.length != 6) {
      System.err.println("usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <trace file>")
      sys.exit(2)
    }
    val Array(name, seedS, secondsS, traceS, work, traceFile) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    // The ops are driver-bound: two task slots run them as fast as four, and
    // the cores left over keep JIT, GC and driver threads from stealing time
    // from the timed ops, which steadies their latency.
    val k = math.min(TaskSlots, Runtime.getRuntime.availableProcessors())
    val spark = graft.Sessions.builder(s"local[$k]", k.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val code = try {
      val tracer = if (traced) Some(new Tracer(spark)) else None
      val w: Workload = name match {
        case "cow_ingest" => new CowIngest(spark, seed)
        case "mor_serve" => new MorServe(spark, seed)
        case "curation" => new Curation(spark, seed)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      val reps = (1 to SetupReps).map { i =>
        val t0 = System.nanoTime()
        w.stage(s"$work/fixture$i")
        if (i > 1) Dirs.delete(spark, s"$work/fixture${i - 1}")
        (System.nanoTime() - t0) / 1e9
      }
      val t0 = System.nanoTime()
      w.warmUp()
      val warmS = (System.nanoTime() - t0) / 1e9
      val run = new Run(spark, tracer, secondsS.toDouble)
      val t1 = System.nanoTime()
      w.loop(run)
      val loopWallS = (System.nanoTime() - t1) / 1e9
      val out = result(w, run, sessionS, reps, warmS, loopWallS, k, spark)
      tracer.foreach { t =>
        out.put("per_layer", perLayer(w, run, t))
        writeTrace(traceFile, t)
        t.close()
      }
      println("PERFBENCH_RESULT " + new ObjectMapper().writeValueAsString(toJava(out)))
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(code)
  }

  private def result(w: Workload, run: Run, sessionS: Double, reps: Seq[Double], warmS: Double,
      loopWallS: Double, k: Int, spark: SparkSession): mutable.LinkedHashMap[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    out.put("attempted", run.attempted)
    out.put("failed", run.failed)
    out.put("failures", run.failures.toSeq)
    val e2e = mutable.LinkedHashMap.empty[String, Any]
    val tails = mutable.LinkedHashMap.empty[String, Any]
    def lat(prefix: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
      e2e.put(s"${prefix}_p50_s", Stats.median(xs))
      val (v, pct, n) = Stats.tail(xs)
      e2e.put(s"${prefix}_tail_s", v)
      tails.put(s"${prefix}_tail_s", Map("percentile" -> pct, "samples" -> n))
    }
    e2e.put("setup_s", sessionS + Stats.median(reps) + warmS)
    e2e.put("ops_per_s", run.opsPerSecond)
    lat("write", run.of(w.writeKinds: _*))
    lat("read", run.of(w.readKind))
    val bulk = run.of(w.bulkKind)
    if (bulk.nonEmpty) e2e.put("bulk_p50_s", Stats.median(bulk))
    e2e.put("write_amp", w.writeAmp)
    e2e.put("peak_rss_mb", peakRssMb)
    out.put("end_to_end", e2e)
    out.put("tails", tails)
    out.put("families", w.families.map { case (f, fams) =>
      val xs = run.of(fams: _*)
      f -> (if (xs.isEmpty) Map("samples" -> 0) else Map(
        "samples" -> xs.size, "p50_s" -> Stats.median(xs), "tail_s" -> Stats.tail(xs)._1,
        "tail_pct" -> Stats.tail(xs)._2))
    })
    out.put("setup", Map("session_s" -> sessionS, "stage_reps_s" -> reps, "warm_up_s" -> warmS))
    out.put("samples_s", run.samples.map { case (f, xs) => f -> xs.toSeq })
    out.put("timed_s", run.timedNs / 1e9)
    out.put("loop_wall_s", loopWallS)
    out.put("spark", Map("version" -> spark.version, "k" -> k,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "broadcast_threshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)))
    out
  }

  private def perLayer(w: Workload, run: Run, t: Tracer): Map[String, Double] = {
    val fam = w.families
    def p50(f: String) = run.of(fam.getOrElse(f, Nil): _*)
    val opLat = Seq("snapshot", "lookup", "changes", "asof", "compact", "dedup", "probe", "refresh")
      .flatMap(f => if (p50(f).isEmpty) None else Some(s"op.$f.p50_s" -> Stats.median(p50(f))))
    val lookupTail = if (p50("lookup").isEmpty) Nil else Seq("op.lookup.tail_s" -> Stats.tail(p50("lookup"))._1)
    val counters = Layers.counters(t, Layers.opFamilies.flatMap { f =>
      val members = f match {
        case "history" => fam.getOrElse("changes", Nil) ++ fam.getOrElse("asof", Nil)
        case other => fam.getOrElse(other, Nil)
      }
      if (members.isEmpty) None else Some(f -> members.toSet)
    }.toMap)
    val observed = Layers.medians(t) ++ opLat ++ lookupTail ++ counters ++ Map(
      "unattributed_jobs" -> t.unattributedJobs.toDouble,
      "trace.ops_per_s" -> run.opsPerSecond,
      "trace.spans" -> t.spans.size.toDouble)
    val unknown = observed.keySet -- Layers.names
    require(unknown.isEmpty, s"per-layer values without a declared name: ${unknown.mkString(", ")}")
    Layers.names.map(n => n -> observed.getOrElse(n, 0.0)).toMap
  }

  private def writeTrace(path: String, t: Tracer): Unit = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    out.put("self_s", t.selfSeconds)
    out.put("spans", t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq)
    JFiles.createDirectories(Paths.get(path).getParent)
    new ObjectMapper().writeValue(new java.io.File(path), toJava(out))
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def toJava(v: Any): Any = {
    import scala.jdk.CollectionConverters._
    v match {
      case m: scala.collection.Map[_, _] =>
        val j = new java.util.LinkedHashMap[String, Any]()
        m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
        j
      case s: Seq[_] => s.map(toJava).asJava
      case (a, b) => java.util.Arrays.asList(toJava(a), toJava(b))
      case x => x
    }
  }
}
