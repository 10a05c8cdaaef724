package graft.table

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.model._
import graft.table.KeyedTable

class KeyedTableSpec extends SparkTestBase {
  import spark.implicits._

  /** orders fixture with a derived month column, written to a flat parquet
    * input dir — the standard bootstrap source shape.
    */
  private def ordersWithMonth(outDir: String, upToMonth: Option[String] = None): String = {
    var df = spark.read.parquet(sf("orders"))
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    upToMonth.foreach(m => df = df.filter(col("o_month") <= m))
    df.write.mode("overwrite").parquet(outDir)
    outDir
  }

  private def cfg(input: String, table: String, parts: Seq[String] = Seq("o_month")) =
    BootstrapConfig(
      dataFilePath = input, tablePath = table, tableName = "orders_t",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = parts)

  test("full-record bootstrap: counts, meta columns, dtype round-trip, commit log") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    val res = KeyedTable.bootstrap(spark, cfg(in, table))
    assert(res.inputCount === 1500)
    assert(res.tableCount === 1500)
    assert(res.report.ok)
    assert(res.logLines === Seq(
      "Total records in Input DataFrame: 1500",
      "Total records in Hudi table: 1500"))

    val read = KeyedTable.read(spark, table)
    assert(MetaColumns.all.forall(read.columns.contains))
    // dtype round-trip incl. the partition column
    val input = spark.read.parquet(in)
    input.schema.fields.foreach { f =>
      assert(read.schema(f.name).dataType === f.dataType, f.name)
    }
    // record key format (single key → plain value)
    val row = read.filter(col("o_orderkey") === 7).select(MetaColumns.RecordKey).head()
    assert(row.getString(0) === "7")
    assert(CommitLog.commits(spark, table).map(_.operation) === Seq("bootstrap"))
    // hive-style partition dirs on disk
    assert(new File(table).listFiles().exists(_.getName.startsWith("o_month=")))
  }

  test("composite record key uses k:v,k:v format") {
    val in = tmpDir("in")
    spark.read.parquet(sf("lineitem")).write.mode("overwrite").parquet(in)
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, BootstrapConfig(
      dataFilePath = in, tablePath = table, tableName = "li",
      keyFields = Seq("l_orderkey", "l_linenumber"),
      precombineField = "l_shipdate", partitionFields = Seq("l_returnflag")))
    val row = KeyedTable.read(spark, table)
      .select(col("l_orderkey"), col("l_linenumber"), col(MetaColumns.RecordKey))
      .orderBy("l_orderkey", "l_linenumber").head()
    assert(row.getString(2) === s"l_orderkey:${row.getLong(0)},l_linenumber:${row.getInt(1)}")
  }

  test("resume writes only missing partitions and leaves existing files untouched") {
    val inPartial = ordersWithMonth(tmpDir("in1"), upToMonth = Some("1995-06"))
    val inFull = ordersWithMonth(tmpDir("in2"))
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, cfg(inPartial, table))
    val before = new File(s"$table/o_month=1995-01").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq

    val res = KeyedTable.bootstrap(spark, cfg(inFull, table).copy(resume = true))
    assert(res.partitionsWritten.nonEmpty)
    assert(res.partitionsWritten.forall(_ > "o_month=1995-06"))
    assert(res.tableCount === 1500)
    val after = new File(s"$table/o_month=1995-01").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq
    assert(after === before) // untouched partition not rewritten
    assert(CommitLog.commits(spark, table).map(_.operation) === Seq("bootstrap", "resume"))
  }

  test("resume repairs an incomplete (emptied) partition") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, cfg(in, table))
    // destroy one partition's data but keep the dir — incomplete, not missing
    val dir = new File(s"$table/o_month=1995-03")
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())

    val res = KeyedTable.bootstrap(spark, cfg(in, table).copy(resume = true))
    assert(res.partitionsWritten === Seq("o_month=1995-03"))
    assert(res.tableCount === 1500)
  }

  test("resume is a no-op when everything is complete") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, cfg(in, table))
    val res = KeyedTable.bootstrap(spark, cfg(in, table).copy(resume = true))
    assert(res.partitionsWritten.isEmpty)
    assert(res.tableCount === 1500)
  }

  test("timestamp partition values survive the dir-name escape round-trip") {
    val in = tmpDir("in")
    spark.read.parquet(sf("orders"))
      .filter(col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
      .write.mode("overwrite").parquet(in)
    val table = tmpDir("tbl")
    val res = KeyedTable.bootstrap(spark, cfg(in, table, parts = Seq("o_orderdate")))
    assert(res.report.ok)
    val existing = KeyedTable.existingPartitions(spark, table, Seq("o_orderdate"))
    assert(existing.forall(_.matches("o_orderdate=\\d{4}-\\d{2}-\\d{2} 00:00:00")), existing.take(3))
    // resume sees them as complete
    val res2 = KeyedTable.bootstrap(spark, cfg(in, table, parts = Seq("o_orderdate")).copy(resume = true))
    assert(res2.partitionsWritten.isEmpty)
  }

  test("upsert replaces matched keys, keeps unmatched, inserts new; precombine max wins in-batch") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, cfg(in, table))
    val base = KeyedTable.read(spark, table)
    val k1 = base.agg(min("o_orderkey")).head().getLong(0) // an existing key

    val updates = Seq(
      // two versions of an existing key: later o_orderdate must win
      (k1, 111L, "X1", 10.0, "2002-01-01 00:00:00", "2002-01"),
      (k1, 111L, "X2", 20.0, "2002-02-02 00:00:00", "2002-01"),
      // brand-new key in a brand-new partition
      (99999L, 1L, "NEW", 5.0, "2002-03-01 00:00:00", "2002-03"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "d", "o_month")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
      .withColumn("o_orderpriority", lit("1-URGENT"))
      .select(base.columns.filterNot(_.startsWith("_")).map(col).toSeq: _*)

    val touched = KeyedTable.upsert(spark, table, updates)
    assert(touched === Seq("o_month=2002-01", "o_month=2002-03"))

    val after = KeyedTable.read(spark, table)
    // Hudi-default (non-global index) semantics: keys are scoped to their
    // partition, so k1's update lands in o_month=2002-01 as an insert while
    // the original row stays in its 1995 partition → 1500 + 2 new rows.
    assert(after.count() === 1502)
    val k1New = after.filter(col("o_orderkey") === k1 && col("o_month") === "2002-01").collect()
    assert(k1New.length === 1)
    assert(k1New.head.getAs[String]("o_orderstatus") === "X2") // precombine max won in-batch
    assert(after.filter(col("o_orderkey") === k1).count() === 2) // old partition untouched
    assert(after.filter(col("o_orderkey") === 99999L).count() === 1)
    // untouched partitions were not rewritten
    assert(CommitLog.commits(spark, table).last.partitions.map(_.path) ===
      Seq("o_month=2002-01", "o_month=2002-03"))
  }

  test("upsert with the same key in two touched partitions keeps both rows (non-global index)") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, cfg(in, table))
    val base = KeyedTable.read(spark, table)
    val k1 = base.agg(min("o_orderkey")).head().getLong(0)
    val p1 = base.filter(col("o_orderkey") === k1).head().getAs[String]("o_month")

    // batch touches k1's home partition (updating k1 there) AND inserts the
    // SAME key into a different partition — under the non-global index both
    // rows must exist afterwards; pre-fix the key-only anti-join dropped
    // the home-partition row
    val dataCols = base.columns.filterNot(_.startsWith("_"))
    val home = base.filter(col("o_orderkey") === k1)
      .select(dataCols.map(col).toSeq: _*)
      .withColumn("o_orderstatus", lit("HOME"))
    val moved = home.withColumn("o_month", lit("2003-07"))
      .withColumn("o_orderstatus", lit("MOVED"))
    val touched = KeyedTable.upsert(spark, table, home.unionByName(moved))
    assert(touched === Seq(s"o_month=$p1", "o_month=2003-07").sorted)

    val after = KeyedTable.read(spark, table)
    assert(after.count() === 1501)
    val k1Rows = after.filter(col("o_orderkey") === k1)
      .select("o_month", "o_orderstatus").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(k1Rows === Map(p1 -> "HOME", "2003-07" -> "MOVED"))
  }

  test("metadata-only bootstrap copies no data and reads from the source") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    val res = KeyedTable.bootstrap(spark, cfg(in, table)
      .copy(bootstrapType = BootstrapType.MetadataOnly))
    assert(res.report.ok)
    // no parquet under the table path — only the commit log
    val files = new File(table).listFiles().map(_.getName).toSet
    assert(files === Set(CommitLog.LogDirName))
    val read = KeyedTable.read(spark, table)
    assert(read.count() === 1500)
    assert(MetaColumns.all.forall(read.columns.contains))
  }

  test("regex bootstrap splits partitions between modes (H4)") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    val res = KeyedTable.bootstrap(spark, cfg(in, table).copy(
      partitionRegex = Some("o_month=1995-.*"),
      regexMode = BootstrapType.FullRecord))
    assert(res.report.ok)
    // only 1995 months exist as native dirs
    val dirs = new File(table).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("o_month=")).toSeq.sorted
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("o_month=1995-")))
    // but the read covers everything
    assert(KeyedTable.read(spark, table).count() === 1500)
    val st = CommitLog.state(spark, table).get
    assert(st.metadataOnlyPartitions.nonEmpty)
    assert(st.metadataOnlyPartitions.forall(!_.startsWith("o_month=1995-")))
  }

  test("upsert into a metadata-only partition materializes it (COW on bootstrap)") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, cfg(in, table).copy(bootstrapType = BootstrapType.MetadataOnly))
    val base = KeyedTable.read(spark, table)
    val upd = base.filter(col("o_orderkey") === 1)
      .select(base.columns.filterNot(_.startsWith("_")).map(col).toSeq: _*)
      .withColumn("o_orderstatus", lit("Z"))
    KeyedTable.upsert(spark, table, upd)
    val after = KeyedTable.read(spark, table)
    assert(after.count() === 1500)
    assert(after.filter(col("o_orderkey") === 1).head().getAs[String]("o_orderstatus") === "Z")
  }

  test("append into a metadata-only partition materializes it first (two ordered commits)") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, cfg(in, table).copy(bootstrapType = BootstrapType.MetadataOnly))
    val base = KeyedTable.read(spark, table)
    val batch = base.orderBy("o_orderkey").limit(3)
      .select(base.columns.filterNot(_.startsWith("_")).map(col).toSeq: _*)
      .withColumn("o_orderkey", col("o_orderkey") + 900000L)
    KeyedTable.append(spark, table, batch, WriteOperation.BulkInsert)
    assert(KeyedTable.read(spark, table).count() === 1503)
    // materialize committed BEFORE the append and instants strictly increase
    val ops = CommitLog.commits(spark, table).map(_.operation)
    assert(ops === Seq("bootstrap", "materialize", "bulk_insert"))
    val cts = CommitLog.commits(spark, table).map(_.commitTime)
    assert(cts === cts.sorted && cts.distinct.size === cts.size)
  }

  test("bulk_insert appends without dedup; insert dedups within batch") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, cfg(in, table))
    val base = KeyedTable.read(spark, table)
    val batch = base.filter(col("o_orderkey") <= 10)
      .select(base.columns.filterNot(_.startsWith("_")).map(col).toSeq: _*)
    val n = batch.count()

    KeyedTable.append(spark, table, batch, WriteOperation.BulkInsert)
    assert(KeyedTable.read(spark, table).count() === 1500 + n) // duplicates kept

    val dupped = batch.unionByName(batch) // 2x duplicate keys
    KeyedTable.append(spark, table, dupped, WriteOperation.Insert)
    assert(KeyedTable.read(spark, table).count() === 1500 + 2 * n) // deduped to n
  }

  test("unpartitioned bootstrap + upsert") {
    val in = tmpDir("in")
    spark.read.parquet(sf("orders")).write.mode("overwrite").parquet(in)
    val table = tmpDir("tbl")
    val res = KeyedTable.bootstrap(spark, cfg(in, table, parts = Seq.empty))
    assert(res.report.ok)
    val base = KeyedTable.read(spark, table)
    val upd = base.filter(col("o_orderkey") === 3)
      .select(base.columns.filterNot(_.startsWith("_")).map(col).toSeq: _*)
      .withColumn("o_orderstatus", lit("Q"))
    KeyedTable.upsert(spark, table, upd)
    val after = KeyedTable.read(spark, table)
    assert(after.count() === 1500)
    assert(after.filter(col("o_orderkey") === 3).head().getAs[String]("o_orderstatus") === "Q")
  }

  test("ORC source: sniffed, merge-read, bootstrapped (S2)") {
    val in = tmpDir("orcin")
    spark.read.parquet(sf("orders"))
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.mode("overwrite").orc(in)
    assert(graft.io.SourceSniffer.sniff(spark, in) === "orc")
    val table = tmpDir("tbl")
    val res = KeyedTable.bootstrap(spark, cfg(in, table))
    assert(res.report.ok && res.tableCount === 1500)
  }

  test("schema-merge scan: files with divergent schemas union into one table (S1)") {
    val in = tmpDir("mergein")
    val base = spark.read.parquet(sf("orders"))
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    // two parquet files with divergent schemas in ONE flat directory
    val t1 = tmpDir("m1"); val t2 = tmpDir("m2")
    base.filter(col("o_month") < "1998-01").coalesce(1).write.mode("overwrite").parquet(t1)
    base.filter(col("o_month") >= "1998-01").withColumn("o_extra", lit("late"))
      .coalesce(1).write.mode("overwrite").parquet(t2)
    def moveParts(from: String, prefix: String): Unit =
      new File(from).listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(in, s"$prefix-$i.parquet"))
      }
    moveParts(t1, "early"); moveParts(t2, "late")
    val table = tmpDir("tbl")
    val res = KeyedTable.bootstrap(spark, cfg(in, table))
    assert(res.report.ok && res.tableCount === 1500)
    val read = KeyedTable.read(spark, table)
    assert(read.columns.contains("o_extra")) // merged schema
    assert(read.filter(col("o_extra").isNull).count() > 0) // early files null-fill
  }

  test("multi-level partitioning: bootstrap, upsert, time travel, resume round-trip") {
    val in = tmpDir("in")
    spark.read.parquet(sf("lineitem")).write.mode("overwrite").parquet(in)
    val table = tmpDir("tbl")
    val c = BootstrapConfig(
      dataFilePath = in, tablePath = table, tableName = "li2",
      keyFields = Seq("l_orderkey", "l_linenumber"), precombineField = "l_shipdate",
      partitionFields = Seq("l_returnflag", "l_linestatus"))
    val boot = KeyedTable.bootstrap(spark, c)
    assert(boot.report.ok)
    assert(boot.partitionsWritten.forall(_.matches("l_returnflag=.+/l_linestatus=.+")))
    // nested dirs on disk
    assert(new File(table).listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("l_returnflag=")).forall(
        _.listFiles().exists(_.getName.startsWith("l_linestatus="))))

    val base = KeyedTable.read(spark, table)
    val n = base.count()
    val dataCols = base.columns.filterNot(_.startsWith("_"))
    val k = base.orderBy("l_orderkey", "l_linenumber").limit(1)
    KeyedTable.upsert(spark, table, k.select(dataCols.map(col).toSeq: _*)
      .withColumn("l_quantity", lit(-42.0)))
    assert(KeyedTable.read(spark, table).count() === n)
    assert(KeyedTable.read(spark, table).filter(col("l_quantity") === -42.0).count() === 1)
    // time travel across the two-level rewrite
    assert(KeyedTable.readAsOf(spark, table, boot.commitTime)
      .filter(col("l_quantity") === -42.0).count() === 0)
    // resume sees the table as complete
    val res = KeyedTable.bootstrap(spark, c.copy(resume = true))
    assert(res.partitionsWritten.isEmpty)
  }

  test("commit timeline DataFrame reflects the operation history") {
    val in = ordersWithMonth(tmpDir("in"))
    // (operation, record_count, n_partitions, partition_rows) of every commit
    // of the same keyed-write sequence on each table type. COW rewrites count
    // the rows of every touched partition; MOR delta batches count the
    // batch's own rows (images and tombstones).
    val expected = Map(
      TableType.CopyOnWrite -> Seq(
        ("bootstrap", 1500L, 80L, 1500L),
        ("upsert", 88L, 4L, 88L),
        ("delete", 45L, 2L, 45L),
        ("merge", 39L, 2L, 39L),
        ("upsert_global", 38L, 2L, 38L),
        ("upsert", 12L, 1L, 12L),
        ("cluster", 1498L, 80L, 1498L)),
      TableType.MergeOnRead -> Seq(
        ("bootstrap", 1500L, 80L, 1500L),
        ("delta_commit", 4L, 4L, 4L),
        ("delete", 2L, 2L, 2L),
        ("merge", 2L, 2L, 2L),
        ("upsert_global", 2L, 2L, 2L),
        ("delta_commit", 1L, 1L, 1L),
        ("compact", 180L, 9L, 180L),
        ("cluster", 1498L, 80L, 1498L)))
    expected.foreach { case (tableType, want) =>
      val table = tmpDir(s"tbl-${tableType.name}")
      KeyedTable.bootstrap(spark, cfg(in, table).copy(tableType = tableType))
      val base = KeyedTable.read(spark, table)
      // materialized: every rewrite below replaces the files `base` reads
      val src = base.filter(col("o_orderkey").isin(1, 2, 3, 4, 5, 6, 7, 32, 33))
        .select(base.columns.filterNot(_.startsWith("_")).map(col).toSeq: _*)
        .localCheckpoint()
      def rows(keys: Long*) = src.filter(col("o_orderkey").isin(keys: _*))
      // 3 updates + 1 insert into an existing month
      KeyedTable.upsert(spark, table, rows(1, 2, 3).withColumn("o_orderstatus", lit("upserted"))
        .unionByName(rows(4).withColumn("o_orderkey", lit(100001L))))
      KeyedTable.delete(spark, table, rows(4, 5).select("o_orderkey", "o_month"))
      KeyedTable.mergeRows(spark, table, rows(6).select("o_orderkey", "o_month"),
        rows(7).withColumn("o_orderstatus", lit("merged")))
      // a global upsert that moves key 32 into another month
      KeyedTable.upsertGlobal(spark, table, rows(32).withColumn("o_month", lit("1995-01")))
      KeyedTable.upsertPartial(spark, table,
        rows(33).select(col("o_orderkey"), col("o_month"), col("o_orderdate"),
          lit("patched").as("o_orderstatus")))
      if (tableType == TableType.MergeOnRead) KeyedTable.compact(spark, table)
      KeyedTable.cluster(spark, table, Seq("o_orderkey"))

      val tl = KeyedTable.timeline(spark, table)
        .select("operation", "record_count", "n_partitions", "partition_rows").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(tl === want, tableType.name)
      // no batch evolved the schema, so every commit records the bootstrap's ddl
      assert(CommitLog.commits(spark, table).map(_.schemaDdl).distinct.size === 1)
      val out = KeyedTable.read(spark, table)
      assert(out.count() === 1498L)
      assert(out.filter(col("o_orderstatus").isin("upserted", "merged", "patched")).count() === 5L)
      assert(out.filter(col("o_orderkey") === 32).select("o_month").as[String].collect()
        === Array("1995-01"))
    }
  }

  test("dry_run plans and validates but writes nothing") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl2") + "/t" // not yet created
    val res = KeyedTable.bootstrap(spark, cfg(in, table).copy(dryRun = true))
    assert(res.inputCount === 1500)
    assert(res.partitionsWritten.nonEmpty) // the plan
    assert(!new File(table).exists()) // nothing written, no commit log

    // dry-run resume on a partially-loaded table reports only the gap
    val inPartial = ordersWithMonth(tmpDir("inp"), upToMonth = Some("1995-06"))
    val table2 = tmpDir("tbl3")
    KeyedTable.bootstrap(spark, cfg(inPartial, table2))
    val plan = KeyedTable.bootstrap(spark, cfg(in, table2).copy(resume = true, dryRun = true))
    assert(plan.partitionsWritten.nonEmpty)
    assert(plan.partitionsWritten.forall(_ > "o_month=1995-06"))
    // the table was not advanced: a real resume still writes the same set
    val real = KeyedTable.bootstrap(spark, cfg(in, table2).copy(resume = true))
    assert(real.partitionsWritten === plan.partitionsWritten)
  }

  test("a leftover staging dir from a killed write does not corrupt reads or later writes") {
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, cfg(in, table))
    // simulate a crash mid-rewrite: orphaned staging dir under the log dir
    val staging = new File(s"$table/${CommitLog.LogDirName}/staging-99999999999999999")
    staging.mkdirs()
    new File(staging, "o_month=1995-01").mkdirs()

    // reads ignore it (it lives under the hidden log dir)
    assert(KeyedTable.read(spark, table).count() === 1500)
    // a later upsert works normally
    val base = KeyedTable.read(spark, table)
    val upd = base.filter(col("o_orderkey") === 1)
      .select(base.columns.filterNot(_.startsWith("_")).map(col).toSeq: _*)
      .withColumn("o_orderstatus", lit("OK"))
    KeyedTable.upsert(spark, table, upd)
    assert(KeyedTable.read(spark, table).count() === 1500)
    assert(KeyedTable.read(spark, table)
      .filter(col("o_orderkey") === 1).head().getAs[String]("o_orderstatus") === "OK")
  }

  test("error taxonomy: missing path, bad format, missing fields, empty input") {
    val table = tmpDir("tbl")
    val e1 = intercept[GraftException] {
      KeyedTable.bootstrap(spark, cfg("/nonexistent/path", table))
    }
    assert(e1.getMessage.startsWith("Configuration Error:"))

    val badDir = tmpDir("bad")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(badDir, "data.txt"), "x")
    val e2 = intercept[GraftException] {
      KeyedTable.bootstrap(spark, cfg(badDir, table))
    }
    assert(e2.getMessage === "Unsupported file format: txt")

    val in = ordersWithMonth(tmpDir("in"))
    val e3 = intercept[GraftException] {
      KeyedTable.bootstrap(spark, cfg(in, table).copy(keyFields = Seq("nope")))
    }
    assert(e3.getMessage === "Configuration Error: Key field 'nope' not found in schema.")

    val emptyIn = tmpDir("empty")
    spark.read.parquet(sf("orders"))
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(lit(false))
      .write.mode("overwrite").parquet(emptyIn)
    val e4 = intercept[GraftException] {
      KeyedTable.bootstrap(spark, cfg(emptyIn, table))
    }
    assert(e4.getMessage === "Configuration Error: Input DataFrame is empty. Nothing to write.")
  }

  test("Engine maps failures to the error-log taxonomy strings") {
    val r = graft.Engine.bootstrap(spark, cfg("/nope", tmpDir("t")))
    assert(!r.success)
    assert(r.errorLog.get.startsWith("Configuration Error:"))
  }

  test("sizeFiles rewrites only degenerate partitions and preserves content") {
    import java.io.File
    val in = ordersWithMonth(tmpDir("in"))
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, cfg(in, table))
    // four small appends into one month → that partition accumulates files
    val hot = spark.read.parquet(in).filter(col("o_month") === "1995-01")
    val hotCount = hot.count()
    (1 to 4).foreach { i =>
      KeyedTable.append(spark, table,
        hot.withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000L)))
    }
    def files(month: String): Array[File] =
      new File(s"$table/o_month=$month").listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files("1995-01").length >= 5)
    val before = KeyedTable.read(spark, table)
      .groupBy("o_month").agg(count(lit(1)), sum("o_totalprice"))
      .collect().map(_.toString).sorted

    // the fsview DataFrame sees the same degenerate layout the FS does
    val fsview = KeyedTable.files(spark, table)
      .filter(col("partition_path") === "o_month=1995-01")
    assert(fsview.count() === files("1995-01").length)
    assert(fsview.agg(sum("bytes")).head().getLong(0) ===
      files("1995-01").map(_.length()).sum)

    val rewritten = KeyedTable.sizeFiles(spark, table, targetFileBytes = 512L * 1024 * 1024)
    assert(rewritten === Seq("o_month=1995-01"))
    assert(files("1995-01").length === 1)
    assert(KeyedTable.files(spark, table)
      .filter(col("partition_path") === "o_month=1995-01").count() === 1)
    // untouched partitions keep their single bootstrap file (not rewritten)
    assert(KeyedTable.timeline(spark, table)
      .filter(col("operation") === "cluster").count() === 1)
    val after = KeyedTable.read(spark, table)
      .groupBy("o_month").agg(count(lit(1)), sum("o_totalprice"))
      .collect().map(_.toString).sorted
    assert(after === before)
    assert(KeyedTable.read(spark, table)
      .filter(col("o_month") === "1995-01").count() === hotCount * 5)

    // second pass: layout is now ideal → no-op
    assert(KeyedTable.sizeFiles(spark, table, 512L * 1024 * 1024).isEmpty)
  }
}
