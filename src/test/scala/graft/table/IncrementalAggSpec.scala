package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.SparkTestBase
import graft.model._

/** Incrementally-maintained aggregate rollup vs full recompute. */
class IncrementalAggSpec extends SparkTestBase {
  private val dec = DecimalType(18, 4)

  private def ordersIn(outDir: String): String = {
    spark.read.parquet(sf("orders"))
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.mode("overwrite").parquet(outDir)
    outDir
  }

  private def cfg(input: String, table: String) = BootstrapConfig(
    dataFilePath = input, tablePath = table, tableName = "orders_agg",
    keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
    partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead)

  private def recompute(table: String) =
    KeyedTable.read(spark, table)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast(DecimalType(30, 4))).as("sum_o_totalprice"))
      .orderBy("o_orderpriority").collect().toSeq

  private def rollup(dest: String) =
    IncrementalAgg.result(spark, dest)
      .orderBy("o_orderpriority").collect().toSeq

  test("sync maintains the rollup across upsert, MOR delta, delete, and partition drop") {
    val in = ordersIn(tmpDir("in"))
    val (table, dest) = (tmpDir("tbl"), s"${tmpDir("agg")}/rollup")
    KeyedTable.bootstrap(spark, cfg(in, table))
    val gs = Seq("o_orderpriority"); val ss = Seq("o_totalprice")

    val first = IncrementalAgg.sync(spark, table, dest, gs, ss)
    assert(first.touched.nonEmpty)
    assert(rollup(dest) === recompute(table))

    // no-op sync: nothing touched, watermark unchanged
    val idle = IncrementalAgg.sync(spark, table, dest, gs, ss)
    assert(idle.touched.isEmpty && idle.watermark === first.watermark)

    // delta upsert (NOT compacted): sync must read the merged state of only
    // the touched partitions
    val base = KeyedTable.read(spark, table)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    val someMonth = base.select("o_month").orderBy("o_month").head().getString(0)
    KeyedTable.upsert(spark, table, base
      .filter(col("o_month") === someMonth && col("o_orderkey") % 3 === 0)
      .select(dataCols: _*)
      .withColumn("o_totalprice", (col("o_totalprice").cast(dec) + lit(50)).cast(DoubleType)))
    val second = IncrementalAgg.sync(spark, table, dest, gs, ss)
    assert(second.touched === Seq(s"o_month=$someMonth"))
    assert(rollup(dest) === recompute(table))

    // delete: partition-level recompute handles subtraction for free
    val victim = KeyedTable.read(spark, table)
      .filter(col("o_month") === someMonth).select("o_orderkey", "o_month").limit(5)
    KeyedTable.delete(spark, table, victim)
    IncrementalAgg.sync(spark, table, dest, gs, ss)
    assert(rollup(dest) === recompute(table))

    // partition drop: its partials must vanish from the state
    KeyedTable.compact(spark, table)
    val dropMonth = KeyedTable.read(spark, table)
      .select("o_month").orderBy(desc("o_month")).head().getString(0)
    KeyedTable.dropPartitions(spark, table, Seq(s"o_month=$dropMonth"))
    val afterDrop = IncrementalAgg.sync(spark, table, dest, gs, ss)
    assert(afterDrop.touched.contains(s"o_month=$dropMonth"))
    assert(rollup(dest) === recompute(table))
  }

  test("rollback followed by a NEW commit still forces a full rebuild") {
    val in = ordersIn(tmpDir("in"))
    val (table, dest) = (tmpDir("tbl"), s"${tmpDir("agg")}/rollup")
    KeyedTable.bootstrap(spark, cfg(in, table))
    val gs = Seq("o_orderpriority"); val ss = Seq("o_totalprice")
    val bootTip = CommitLog.requireState(spark, table).latest.commitTime
    val base = KeyedTable.read(spark, table)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    val months = base.select("o_month").distinct().orderBy("o_month")
      .collect().map(_.getString(0))

    // commit 2 touches month A; sync bakes it into the stored partials
    KeyedTable.upsert(spark, table, base
      .filter(col("o_month") === months.head && col("o_orderkey") % 3 === 0)
      .select(dataCols: _*)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(dec) + lit(1000)).cast(DoubleType)))
    IncrementalAgg.sync(spark, table, dest, gs, ss)

    // roll the table back past the watermark, then land a NEW commit on a
    // DIFFERENT month: the tip now EXCEEDS the stored watermark, so a
    // tip-only staleness guard would sync just month B and keep serving
    // month A partials that still bake in the rolled-back +1000 rows
    KeyedTable.rollback(spark, table, bootTip)
    KeyedTable.upsert(spark, table, base
      .filter(col("o_month") === months.last && col("o_orderkey") % 4 === 0)
      .select(dataCols: _*)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(dec) + lit(7)).cast(DoubleType)))
    IncrementalAgg.sync(spark, table, dest, gs, ss)
    assert(rollup(dest) === recompute(table))
  }

  test("column mismatch and missing state fail loudly") {
    val in = ordersIn(tmpDir("in"))
    val (table, dest) = (tmpDir("tbl"), s"${tmpDir("agg")}/rollup")
    KeyedTable.bootstrap(spark, cfg(in, table))
    IncrementalAgg.sync(spark, table, dest, Seq("o_orderpriority"), Seq("o_totalprice"))
    val e = intercept[GraftException] {
      IncrementalAgg.sync(spark, table, dest, Seq("o_orderstatus"), Seq("o_totalprice"))
    }
    assert(e.getMessage.contains("cannot sync different columns"))
    val e2 = intercept[GraftException] {
      IncrementalAgg.result(spark, s"${tmpDir("empty")}/nope")
    }
    assert(e2.getMessage.contains("run sync first"))
  }
}
