package perfbench

import org.apache.spark.sql.functions.col

import graft.Engine
import graft.model.TableType
import graft.table.KeyedTable

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  *
  *  - the same seed yields identical inputs and batches, another seed
  *    different ones
  *  - a corrupted result (one row dropped) counts as a failed op and leaves
  *    no latency sample
  *  - the tail rule picks the highest percentile with ten samples beyond it
  *  - the driver-side checksum equals the one Spark computes
  *  - the span reference agrees with `Dedup.crossDocSpans`
  */
object SelfTest {
  private var failures = 0
  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }
  private def assert(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val work = args(0)

    test("same seed, same inputs and batches; other seed, different ones") {
      def draw(seed: Long) = {
        val g = new LineGen(seed, 83)
        val m = new Model
        val base = g.base(5000)
        m.upsert(base)
        (base, g.upsertBatch(m, 50), g.deleteBatch(m, 20), new CorpusGen(seed).docs(200))
      }
      assert(draw(7) == draw(7), "seed 7 drew two different input sets")
      val (a, b) = (draw(7), draw(8))
      assert(a._1 != b._1 && a._2 != b._2 && a._3 != b._3 && a._4 != b._4,
        "seeds 7 and 8 drew an identical input")
    }

    test("tail rule: highest percentile with at least ten samples beyond it") {
      def check(n: Int, wantValue: Double, wantPct: Double): Unit = {
        val (v, pct, cnt) = Stats.tail((1 to n).map(_.toDouble).reverse)
        assert(v == wantValue && math.abs(pct - wantPct) < 1e-9 && cnt == n,
          s"n=$n: got ($v, p$pct, $cnt), want ($wantValue, p$wantPct)")
      }
      check(100, 90.0, 90.0)
      check(1000, 990.0, 99.0)
      check(20, 10.0, 50.0)
      check(11, 1.0, 100.0 / 11)
      check(10, 5.5, 50.0) // no qualifying percentile: the median, marked p50
    }

    val spark = graft.Sessions.builder("local[2]", "2")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val rows = new LineGen(3, 12).base(2000)

      test("driver checksum equals the Spark aggregate") {
        val got = Checksum.aggregate(Line.toDf(spark, rows))
        assert(got == Checksum.of(rows), s"spark $got vs driver ${Checksum.of(rows)}")
      }

      test("a result with one row dropped is a failed op, not a fast one") {
        val table = s"$work/t"
        KeyedTable.create(spark, table, Line.toDf(spark, rows), tableName = "t",
          keyFields = Line.keyFields, precombineField = Line.precombine,
          partitionFields = Seq(Line.partitionField), tableType = TableType.MergeOnRead)
        val model = new Model
        model.upsert(rows)
        val run = new Run(spark, None, 60.0)
        def snapshot(drop: Boolean) = run.op("snapshot") {
          val df = Engine.read(spark, table)
          Checksum.aggregate(if (drop) df.filter(col("l_orderkey") =!= rows.head.orderkey) else df)
        } { got => Check.equal("snapshot", got, model.summary) }
        assert(snapshot(drop = false).isDefined, "the intact snapshot failed its check")
        assert(snapshot(drop = true).isEmpty, "the corrupted snapshot passed its check")
        val keys = rows.take(5).map(_.key)
        def lookup(drop: Boolean) = run.op("lookup") {
          val got = Line.collect(Engine.read(spark, table).filter(Line.keyFilter(keys)))
          if (drop) got.tail else got
        } { got => Check.equal("lookup keys", got.map(_.key).toSet, keys.toSet) }
        assert(lookup(drop = true).isEmpty, "the lookup missing a row passed its check")
        assert(run.attempted == 3 && run.failed == 2, s"attempted ${run.attempted}, failed ${run.failed}")
        assert(run.samples("snapshot").size == 1 && !run.samples.contains("lookup"),
          "a failed op left a latency sample")
      }

      test("span reference agrees with Dedup.crossDocSpans") {
        import spark.implicits._
        val docs = new CorpusGen(5).docs(300)
        val df = docs.map { case (i, s, t) => (i, s, t) }.toDF("doc_id", "source", "text")
        val got = graft.operators.Dedup.crossDocSpans(df, "doc_id", "text", k = 8).collect().map { r =>
          (r.getAs[Number]("doc_id").longValue, r.getAs[Number]("span_start").longValue,
            r.getAs[Number]("span_len").longValue)
        }.toSet
        val want = Spans.reference(docs.map { case (i, _, t) => (i, t) }, 8)
        assert(want.nonEmpty, "the generated corpus has no shared spans")
        assert(got == want, s"${(got -- want).take(3)} / ${(want -- got).take(3)}")
      }
    } finally spark.stop()

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
