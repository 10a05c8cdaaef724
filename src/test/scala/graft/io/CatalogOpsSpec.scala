package graft.io

import graft.SparkTestBase

/** M1-M3 catalog operators + the check_path_or_table dispatch (app.py:361-370). */
class CatalogOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("table probe: existence, location, partition columns (M1-M3)") {
    assert(!CatalogOps.tableExists(spark, "no_such_table"))
    assert(CatalogOps.tableLocation(spark, "no_such_table").isEmpty)
    assert(CatalogOps.partitionColumns(spark, "no_such_table").isEmpty)
    assert(!CatalogOps.checkPathOrTable(spark, "no_such_table").exists)

    val loc = tmpDir("cat_tbl")
    Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "v", "p")
      .write.partitionBy("p").format("parquet")
      .option("path", loc).mode("overwrite").saveAsTable("cat_probe_t")
    try {
      assert(CatalogOps.tableExists(spark, "cat_probe_t"))
      assert(CatalogOps.tableLocation(spark, "cat_probe_t").exists(_.contains("cat_tbl")))
      assert(CatalogOps.partitionColumns(spark, "cat_probe_t") === Seq("p"))
      val probe = CatalogOps.checkPathOrTable(spark, "cat_probe_t")
      assert(probe.exists && probe.isPartitioned && probe.partitionFields === Seq("p"))
    } finally spark.sql("DROP TABLE IF EXISTS cat_probe_t")
  }

  test("path probe dispatches to the filesystem walk (M4)") {
    val dir = tmpDir("cat_path")
    Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "k")
      .write.partitionBy("k").mode("overwrite").parquet(dir)
    val probe = CatalogOps.checkPathOrTable(spark, dir)
    assert(probe.exists && probe.isPartitioned && probe.partitionFields === Seq("k"))
    assert(!CatalogOps.checkPathOrTable(spark, "/no/such/dir").exists)
  }
}
