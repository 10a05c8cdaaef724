package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.model.{BootstrapConfig, TableType}
import graft.ops.Upsert
import graft.table.KeyedTable

/** SURVEY.md §2 operator inventory re-expressed as Spark-first DataFrame
  * plans over the driver fixtures, each with a DuckDB oracle.
  *
  * Numeric-parity rule used throughout: raw parquet columns pass through
  * untouched (bit-identical on both sides); any *derived* arithmetic that
  * feeds an aggregate is done in exact DECIMAL and cast to DOUBLE once at the
  * end. Double sums are order-dependent across engines; decimal sums are not.
  * Every query ends in a deterministic total ORDER BY so row order matches
  * the oracle.
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  private val dec = DecimalType(18, 4)
  private def month(c: org.apache.spark.sql.Column) = date_format(c, "yyyy-MM")

  // ---------------------------------------------------------------- queries

  /** A1/A2 global counts (pyspark_script.py:168-169,345). */
  private val q01: Q = (s, d) =>
    Tables.lineitem(s, d).agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"))

  /** A3→J2 rewrite: per-partition counts as ONE grouped agg instead of the
    * reference's per-partition filter+count loop (pyspark_script.py:199-223).
    */
  private val q02: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(month(col("l_shipdate")).as("l_month"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("l_month")

  /** A4 distinct partition values (pyspark_script.py:231). */
  private val q03: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(month(col("l_shipdate")).as("l_month"))
      .distinct()
      .orderBy("l_month")

  /** J1 missing partitions as a broadcast left-anti join — replaces the
    * reference's collected-set membership loop (pyspark_script.py:225-253).
    */
  private val q04: Q = (s, d) => {
    val liM = Tables.lineitem(s, d).select(month(col("l_shipdate")).as("p")).distinct()
    val ordM = Tables.orders(s, d).select(month(col("o_orderdate")).as("p")).distinct()
    liM.join(broadcast(ordM), Seq("p"), "left_anti").orderBy("p")
  }

  /** J2 incomplete partitions: grouped counts both sides + inner join +
    * mismatch filter (2 shuffles total vs the reference's O(#partitions)
    * full-scan jobs).
    */
  private val q05: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val input = li.groupBy(month(col("l_shipdate")).as("p")).agg(count(lit(1)).as("input_cnt"))
    val table = li.filter(col("l_linenumber") =!= 7)
      .groupBy(month(col("l_shipdate")).as("p")).agg(count(lit(1)).as("table_cnt"))
    input.join(table, Seq("p"))
      .filter(col("input_cnt") =!= col("table_cnt"))
      .orderBy("p")
  }

  /** P2 equality + P3 IN-list filters (pyspark_script.py:203,262) — both
    * pushed to the parquet scan.
    */
  private val q06: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R" && col("l_linestatus").isin("F", "O"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus")
      .orderBy("l_orderkey", "l_linenumber")

  /** P1 projection + pushed range predicate; scan should read 4 columns only. */
  private val q07: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("2001-01-01").cast(TimestampType))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      .orderBy("l_orderkey", "l_linenumber")

  /** P6/F11 struct projection + JSON payload (app.py:287-293 status payload). */
  private val q09: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"))).as("payload"))
      .orderBy("event_id")

  /** J4/H7 upsert with precombine, including within-batch dedup — the core
    * Hudi write semantic, exercised as a pure merge plan (see
    * [[graft.ops.Upsert]]).
    */
  private val q10: Q = (s, d) => {
    val ord = Tables.orders(s, d)
    val base = ord.filter(col("o_orderkey") % 4 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    val u1 = ord.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), lit("U1").as("o_orderstatus"),
        (col("o_totalprice").cast(dec) + lit(100)).cast(DoubleType).as("o_totalprice"),
        col("o_orderdate"))
    val u2 = ord.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), lit("U2").as("o_orderstatus"),
        (col("o_totalprice").cast(dec) + lit(200)).cast(DoubleType).as("o_totalprice"),
        (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("o_orderdate"))
    Upsert.merge(base, u1.unionByName(u2), Seq("o_orderkey"), "o_orderdate")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate_s"))
      .orderBy("o_orderkey")
  }

  /** O6 precombine-aware dedup: latest lineitem per order key. */
  private val q11: Q = (s, d) => {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_shipdate").desc, col("l_linenumber").desc)
    Tables.lineitem(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      .orderBy("l_orderkey")
  }

  /** §2.7 history search: LIKE (F1) ∧ date range (F2/F3) + ORDER BY DESC (O1)
    * — the app.py:228-244 composable filter pipeline.
    */
  private val q12: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderpriority").like("%URGENT%") &&
        col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < date_add(lit("1997-12-31").cast(DateType), 1))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_day"),
        col("o_orderpriority"), col("o_totalprice"))
      .orderBy(col("o_day").desc, col("o_orderkey").desc)

  /** F4 runaway sweep: now−60min threshold + bulk status update projection
    * (app.py:90-105), with max(ts) standing in for now.
    */
  private val q13: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val maxTs = ev.agg(max(col("ts")).as("max_ts"))
    ev.crossJoin(broadcast(maxTs))
      .filter(col("event_type") === "signup" &&
        col("ts") <= col("max_ts") - expr("INTERVAL 60 MINUTES"))
      .select(col("event_id"), lit("FAILED").as("status"),
        lit("Transaction timed out.").as("error_log"))
      .orderBy("event_id")
  }

  /** F5 regex count-mining (app.py:320-321) over the JSON props text. */
  private val q14: Q = (s, d) =>
    Tables.events(s, d)
      .select(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast(LongType).as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .orderBy("k")

  /** F7 substring classification chain (app.py:296-305 error taxonomy shape). */
  private val q15: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(col("text").contains("slow"), "perf_slow")
          .when(col("text").contains("fast"), "perf_fast")
          .when(col("text").contains("merge"), "merge_op")
          .otherwise("other").as("category"))
      .orderBy("doc_id")

  /** F12/F13 hive-style partition path build + parse round-trip
    * (pyspark_script.py:239, app.py:450-451).
    */
  private val q16: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(month(col("l_shipdate")).as("m")).distinct()
      .select(concat(lit("l_month="), col("m")).as("path"))
      .select(col("path"),
        element_at(split(col("path"), "="), 1).as("field"),
        element_at(split(col("path"), "="), 2).as("value"))
      .orderBy("path")

  /** F11 JSON decode (get_json_object) + decimal-exact value aggregation. */
  private val q17: Q = (s, d) =>
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast(LongType).as("k"),
        col("value"))
      .groupBy("k")
      .agg(sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"),
        count(lit(1)).as("cnt"))
      .orderBy("k")

  /** Flagship: 5-way star join + decimal-exact revenue rollup. Dimensions are
    * broadcast (region/nation/customer are tiny at any SF relative to the
    * fact); lineitem⋈orders is the only real shuffle and AQE handles it.
    */
  private val q18: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).cast(IntegerType).as("o_year"))
      .agg(
        sum(col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy("r_name", "o_year")
  }

  /** O3 pagination (HistoryTable.js slice), two-pass: pass 1 is a
    * distributed top-(offset+pageSize) — Spark compiles orderBy+limit to
    * TakeOrderedAndProject (per-partition partial top-k, no global sort, no
    * full shuffle); pass 2 ranks only the page-bounded result (≤150 rows)
    * with a constant-key window. Replaces the unpartitioned row_number window
    * that funneled the whole table through one task.
    */
  private val q19: Q = (s, d) => {
    val topN = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      .limit(150)
    // rank the page-bounded rows WITHOUT a WindowExec (a constant-key window
    // gets its foldable partition spec optimized away, degenerating back to
    // the unpartitioned global window): one tiny sorted partition +
    // monotonically_increasing_id, which the optimizer cannot reorder below
    // the sort (non-deterministic expression)
    topN.coalesce(1)
      .sortWithinPartitions(col("o_orderdate").desc, col("o_orderkey").desc)
      .withColumn("rn", (monotonically_increasing_id() + 1).cast(LongType))
      .filter(col("rn").between(101, 150))
      .select(col("o_orderkey"), col("rn"))
      .orderBy("rn")
  }

  /** O4/O5 set union/difference over partition-value sets as a full-outer
    * membership join.
    */
  private val q20: Q = (s, d) => {
    val liM = Tables.lineitem(s, d).select(month(col("l_shipdate")).as("p")).distinct()
      .withColumn("in_li", lit(1))
    val ordM = Tables.orders(s, d).select(month(col("o_orderdate")).as("p")).distinct()
      .withColumn("in_ord", lit(1))
    liM.join(ordM, Seq("p"), "full_outer")
      .select(col("p"), coalesce(col("in_li"), lit(0)).as("in_li"),
        coalesce(col("in_ord"), lit(0)).as("in_ord"))
      .orderBy("p")
  }

  /** Skew-salted dimension join: l_returnflag has 3 values (maximal key
    * skew); the salted plan spreads each hot key over 8 sub-partitions.
    * Result is identical to the plain join — which is exactly what the
    * oracle checks.
    */
  private val q21: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val dim = li.select(col("l_returnflag")).distinct()
      .withColumn("label", concat(lit("flag_"), col("l_returnflag")))
    graft.ops.Skew.saltedJoin(li, dim, Seq("l_returnflag"),
        salt = 8, saltExpr = pmod(col("l_orderkey"), lit(8)))
      .groupBy("label")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast(dec)).cast(DoubleType).as("sum_qty"))
      .orderBy("label")
  }

  /** The lifecycle queries (q22-q28) all stage the same input fixture
    * (orders + derived month partition column, flat parquet): write it once
    * per (session, sf dir) and share — each query still builds and mutates
    * its OWN table; only the immutable staging input is reused.
    */
  /** All per-query scratch dirs live under ONE per-run root, removed
    * recursively by a shutdown hook — `File.deleteOnExit` cannot delete
    * non-empty directories, so the previous per-dir registration leaked
    * every written table/CSV/JSON tree into the system temp dir on each
    * verify/bench run.
    */
  private lazy val runRoot: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft-run-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(r.toFile)
    }))
    r
  }

  private[queries] def scratchDir(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(runRoot, prefix).toFile

  private val ordersInputCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ordersInput(s: SparkSession, d: String): String =
    ordersInputCache.getOrElseUpdate(d, {
      val tmp = scratchDir("graft-orders-in")
      Tables.orders(s, d).withColumn("o_month", month(col("o_orderdate")))
        .write.mode("overwrite").parquet(s"$tmp/in")
      s"$tmp/in"
    })

  private def freshTableDir(prefix: String): String = {
    val tmp = scratchDir(prefix)
    s"$tmp/tbl"
  }

  /** Bootstrap a MERGE_ON_READ table from `orders`, run the full write
    * lifecycle through the real table machinery — delta upsert, tombstone
    * delete, compaction — and return the final snapshot. The oracle recomputes
    * the expected end state in pure SQL, so every layer (meta columns, delta
    * merge, precombine, tombstones, compaction swap) is hash-checked.
    */
  private val q22: Q = (s, d) => {
    val tbl = freshTableDir("graft-q22")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q22_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead))

    // updates hit 1995's partitions, deletes 1996's — partition-pruned
    // lifecycle ops over disjoint partition sets (a batch touching every
    // partition would just be a full rewrite, which bootstrap already covers)
    val base = KeyedTable.read(s, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(s, tbl, base
      .filter(col("o_orderkey") % 10 === 0 && year(col("o_orderdate")) === 1995)
      .select(dataCols: _*)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", (col("o_totalprice").cast(dec) + lit(100)).cast(DoubleType)))
    KeyedTable.delete(s, tbl, KeyedTable.read(s, tbl)
      .filter(col("o_orderkey") % 97 === 0 && year(col("o_orderdate")) === 1996)
      .select("o_orderkey", "o_month"))
    KeyedTable.compact(s, tbl)

    KeyedTable.read(s, tbl)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Bench twin of q22 that times the steady-state MOR WRITE LOOP alone:
    * q22's bench slot re-bootstraps a full table per evaluation; the
    * operator a continuously-ingesting table actually runs is delta
    * upsert → tombstone delete → compact → merged read, over a bounded
    * batch. The table bootstraps ONCE per sf dir; each evaluation inserts
    * one run-stamped single-month batch under offset keys, retires the
    * PREVIOUS run's batch (net growth stays one batch), compacts, and
    * reads its own markers back. A fresh JVM (Verify) evaluates run 1,
    * which the oracle pins.
    */
  private val q22bScaffold = scala.collection.concurrent.TrieMap.empty[String, String]
  private val q22bRun = new java.util.concurrent.atomic.AtomicLong(0L)
  private val q22b: Q = (s, d) => {
    val tbl = q22bScaffold.getOrElseUpdate(d, {
      val t = freshTableDir("graft-q22b")
      KeyedTable.bootstrap(s, BootstrapConfig(
        dataFilePath = ordersInput(s, d), tablePath = t, tableName = "q22b_orders",
        keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
        partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead))
      t
    })
    val n = q22bRun.incrementAndGet()
    val ins = s.read.parquet(ordersInput(s, d))
      .filter(col("o_orderkey") % 13 === 0 && col("o_month") === "1995-01")
      .withColumn("o_orderkey", col("o_orderkey") + lit(n * 100000000L))
      .withColumn("o_orderstatus", lit(s"L$n"))
    KeyedTable.upsert(s, tbl, ins)
    if (n > 1)
      KeyedTable.delete(s, tbl, KeyedTable.read(s, tbl)
        .filter(col("o_orderstatus") === s"L${n - 1}")
        .select("o_orderkey", "o_month"))
    KeyedTable.compact(s, tbl)
    KeyedTable.read(s, tbl).filter(col("o_orderstatus") === s"L$n")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Bench twin of q24 that times the TIME-TRAVEL READ alone: q24's bench
    * slot rebuilds the whole mutation history per evaluation; the operator
    * is `readAsOf` — live dirs for untouched partitions, archived
    * pre-images for rewritten ones, archived-delta exclusion. History
    * stages ONCE per sf dir (bootstrap → marker upsert → delete →
    * compact); every evaluation is the pure as-of-bootstrap read, which
    * must keep serving the pristine input.
    */
  private val q24bScaffold = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private val q24b: Q = (s, d) => {
    val (tbl, bootCt) = q24bScaffold.getOrElseUpdate(d, {
      val t = freshTableDir("graft-q24b")
      val boot = KeyedTable.bootstrap(s, BootstrapConfig(
        dataFilePath = ordersInput(s, d), tablePath = t, tableName = "q24b_orders",
        keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
        partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead))
      val base = KeyedTable.read(s, t)
      val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
      KeyedTable.upsert(s, t, base
        .filter(col("o_orderkey") % 10 === 0 && year(col("o_orderdate")) === 1995)
        .select(dataCols: _*)
        .withColumn("o_orderstatus", lit("TT")))
      KeyedTable.delete(s, t, KeyedTable.read(s, t)
        .filter(col("o_orderkey") % 97 === 0 && year(col("o_orderdate")) === 1996)
        .select("o_orderkey", "o_month"))
      KeyedTable.compact(s, t)
      (t, boot.commitTime)
    })
    KeyedTable.readAsOf(s, tbl, bootCt)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Incremental query over a COW table: bootstrap, upsert a batch, then read
    * only what changed since the bootstrap instant — the commit log prunes the
    * scan to partitions touched after the instant.
    */
  private val q23: Q = (s, d) => {
    val tbl = freshTableDir("graft-q23")
    val boot = KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q23_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month")))

    val base = KeyedTable.read(s, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(s, tbl, base
      .filter(col("o_orderkey") % 13 === 0 && year(col("o_orderdate")) === 1995)
      .select(dataCols: _*)
      .withColumn("o_orderstatus", lit("INC"))
      .withColumn("o_totalprice", (col("o_totalprice").cast(dec) + lit(7)).cast(DoubleType)))

    KeyedTable.readIncremental(s, tbl, boot.commitTime)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Time travel: bootstrap, then upsert + delete + compact on MOR — and read
    * the table AS OF the bootstrap instant. The oracle is simply the pristine
    * input: every later change must be invisible, which exercises archived
    * pre-images, archived delta exclusion, and the commit-time filter.
    */
  private val q24: Q = (s, d) => {
    val tbl = freshTableDir("graft-q24")
    val boot = KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q24_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead))

    val base = KeyedTable.read(s, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(s, tbl, base
      .filter(col("o_orderkey") % 10 === 0 && year(col("o_orderdate")) === 1995)
      .select(dataCols: _*)
      .withColumn("o_orderstatus", lit("TT")))
    KeyedTable.delete(s, tbl, KeyedTable.read(s, tbl)
      .filter(col("o_orderkey") % 97 === 0 && year(col("o_orderdate")) === 1996)
      .select("o_orderkey", "o_month"))
    KeyedTable.compact(s, tbl)

    KeyedTable.readAsOf(s, tbl, boot.commitTime)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** CDC incremental read: the same MOR lifecycle as q24, but reading the
    * CHANGE FEED since bootstrap — upserted rows with their new image and
    * op='upsert', deleted keys as op='delete' tombstones (found in the
    * compaction archive after compact).
    */
  private val q25: Q = (s, d) => {
    val tbl = freshTableDir("graft-q25")
    val boot = KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q25_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead))

    val base = KeyedTable.read(s, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(s, tbl, base
      .filter(col("o_orderkey") % 10 === 0 && year(col("o_orderdate")) === 1995)
      .select(dataCols: _*)
      .withColumn("o_orderstatus", lit("CH")))
    KeyedTable.delete(s, tbl, KeyedTable.read(s, tbl)
      .filter(col("o_orderkey") % 97 === 0 && year(col("o_orderdate")) === 1996)
      .select("o_orderkey", "o_month"))
    KeyedTable.compact(s, tbl)

    KeyedTable.readChanges(s, tbl, boot.commitTime)
      .select(col("o_orderkey"), col(KeyedTable.ChangeOp).as("op"), col("o_orderstatus"))
      .orderBy("o_orderkey", "op")
  }

  /** Global-index upsert: keys whose partition value changed are MOVED — the
    * old partition's row disappears in the same commit (Hudi GLOBAL_SIMPLE
    * semantics; the default non-global index would leave both, which q22
    * exercises). Oracle recomputes the end state.
    */
  private val q26: Q = (s, d) => {
    val tbl = freshTableDir("graft-q26")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q26_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month")))

    val base = KeyedTable.read(s, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsertGlobal(s, tbl, base
      .filter(col("o_orderkey") % 50 === 0)
      .select(dataCols: _*)
      .withColumn("o_month", lit("2010-01"))
      .withColumn("o_orderstatus", lit("G")))

    KeyedTable.read(s, tbl)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_month"))
      .orderBy("o_orderkey")
  }

  /** Bench twin of q26 that times the GLOBAL-INDEX MOVE alone: q26's bench
    * slot re-bootstraps per evaluation; the operator is `upsertGlobal` —
    * the table-wide key-location probe plus the move batch that lands the
    * new row and removes the old copy in ONE commit. The table bootstraps
    * ONCE per sf dir; each evaluation MOVES the same bounded key set to an
    * alternating target partition (so every run is a genuine cross-
    * partition move, never an in-place update) under a run-stamped marker.
    * A fresh JVM (Verify) evaluates run 1, which the oracle pins.
    */
  private val q26bScaffold = scala.collection.concurrent.TrieMap.empty[String, String]
  private val q26bRun = new java.util.concurrent.atomic.AtomicLong(0L)
  private val q26b: Q = (s, d) => {
    val tbl = q26bScaffold.getOrElseUpdate(d, {
      val t = freshTableDir("graft-q26b")
      KeyedTable.bootstrap(s, BootstrapConfig(
        dataFilePath = ordersInput(s, d), tablePath = t, tableName = "q26b_orders",
        keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
        partitionFields = Seq("o_month")))
      t
    })
    val n = q26bRun.incrementAndGet()
    val target = if (n % 2 == 1) "2010-02" else "2010-01"
    val base = KeyedTable.read(s, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsertGlobal(s, tbl, base
      .filter(col("o_orderkey") % 50 === 0)
      .select(dataCols: _*)
      .withColumn("o_month", lit(target))
      .withColumn("o_orderstatus", lit(s"G$n")))
    KeyedTable.read(s, tbl)
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_month"))
      .orderBy("o_orderkey")
  }

  /** CDC consumption: replicate a source table's change feed into an
    * initially-identical destination with [[graft.table.TableSync]] — the
    * incremental-ETL pattern where downstream copies cost O(changes), not
    * O(table). The oracle recomputes the expected end state; any drift in
    * the change feed or its application breaks the hash.
    */
  private val q28: Q = (s, d) => {
    val tmp = scratchDir("graft-q28")
    def boot(path: String, tt: TableType) = KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = path, tableName = "q28_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = tt))
    val src = s"$tmp/src"; val dst = s"$tmp/dst"
    val bootSrc = boot(src, TableType.MergeOnRead)
    boot(dst, TableType.CopyOnWrite)

    val base = KeyedTable.read(s, src)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(s, src, base
      .filter(col("o_orderkey") % 10 === 0 && year(col("o_orderdate")) === 1995)
      .select(dataCols: _*)
      .withColumn("o_orderstatus", lit("SY")))
    KeyedTable.delete(s, src, KeyedTable.read(s, src)
      .filter(col("o_orderkey") % 97 === 0 && year(col("o_orderdate")) === 1996)
      .select("o_orderkey", "o_month"))

    graft.table.TableSync.sync(s, src, dst, bootSrc.commitTime)
    KeyedTable.read(s, dst)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Bench twin of q28 that times the INCREMENTAL sync alone: q28's ~8-9s
    * bench slot stages two full table lifecycles; the operator's real cost
    * is O(changes) — one CDC interval applied to the destination. Source
    * and destination bootstrap ONCE per sf dir (both from the same input,
    * so they start identical, no catch-up sync); each evaluation lands one
    * bounded single-month upsert on the source (a MOR delta commit), syncs
    * exactly that interval, and reads the marker rows back from the
    * destination. The run counter makes every evaluation's change set
    * distinct; in a fresh JVM (Verify) it is 1, which the oracle pins.
    */
  private val q28bScaffold = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private val q28bRun = new java.util.concurrent.atomic.AtomicLong(0L)
  private val q28b: Q = (s, d) => {
    val (src, dst) = q28bScaffold.getOrElseUpdate(d, {
      val tmp = scratchDir("graft-q28b")
      def boot(path: String, tt: TableType) = KeyedTable.bootstrap(s, BootstrapConfig(
        dataFilePath = ordersInput(s, d), tablePath = path, tableName = "q28b_orders",
        keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
        partitionFields = Seq("o_month"), tableType = tt))
      val srcP = s"$tmp/src"; val dstP = s"$tmp/dst"
      boot(srcP, TableType.MergeOnRead)
      boot(dstP, TableType.CopyOnWrite)
      (srcP, dstP)
    })
    val n = q28bRun.incrementAndGet()
    val since = graft.table.CommitLog.requireState(s, src).latest.commitTime
    val base = KeyedTable.read(s, src)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(s, src, base
      .filter(col("o_orderkey") % 13 === 0 && col("o_month") === "1995-01")
      .select(dataCols: _*)
      .withColumn("o_orderstatus", lit(s"SY$n")))
    graft.table.TableSync.sync(s, src, dst, since)
    KeyedTable.read(s, dst)
      .filter(col("o_orderstatus") === s"SY$n")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Z-order clustering is content-preserving: bootstrap, rewrite the table
    * along the Morton curve of (o_custkey, o_totalprice) with bounded file
    * sizes, and hash-match the snapshot against the untouched input. The
    * layout QUALITY (bounded per-file ranges on both columns vs linear sort)
    * is asserted by the MorSpec unit test; this row proves the rewrite loses
    * and corrupts nothing.
    */
  private val q29: Q = (s, d) => {
    val tbl = freshTableDir("graft-q29")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q29_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month")))
    KeyedTable.clusterZ(s, tbl, Seq("o_custkey", "o_totalprice"), maxRecordsPerFile = 5000)
    KeyedTable.read(s, tbl)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Data skipping end-to-end: z-order the table by customer key, index the
    * parquet footers' min/max into the commit log ([[graft.table.StatsIndex]]),
    * then answer a selective range via [[KeyedTable.readBetween]] — files
    * whose footer range misses [100, 500] are never opened. The oracle is
    * the same range filter over the raw input, so the hash proves pruning
    * changed nothing; StatsIndexSpec asserts files actually get skipped.
    */
  private val q30: Q = (s, d) => {
    val tbl = freshTableDir("graft-q30")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q30_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month")))
    KeyedTable.clusterZ(s, tbl, Seq("o_custkey"), maxRecordsPerFile = 5000)
    graft.table.StatsIndex.build(s, tbl, Seq("o_custkey", "o_totalprice"))
    KeyedTable.readBetween(s, tbl, "o_custkey", Some(100L), Some(500L))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Bloom-index point lookup: per-file record-key blooms built from one
    * column-pruned scan ([[graft.table.BloomIndex]]); the probe opens only
    * files whose bloom fires (plus fpp false positives). The oracle is the
    * same IN-list over the raw input — bloom pruning must lose nothing
    * (false negatives are structurally impossible).
    */
  /** Checkpointed CDC consumption ([[graft.streaming.ChangeStream]]): two
    * rounds of source mutations, each drained into the destination by a
    * separate `syncTo` pull whose watermark lives in the checkpoint dir —
    * the replayable micro-batch shape of a long-running CDC follower. The
    * oracle recomputes the expected destination tip in SQL, so watermark
    * handoff, interval closure, and the delete-before-upsert apply are all
    * hash-checked.
    */
  private val q32: Q = (s, d) => {
    val tmp = scratchDir("graft-q32")
    def boot(path: String, tt: TableType) = KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = path, tableName = "q32_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = tt))
    val src = s"$tmp/src"; val dst = s"$tmp/dst"; val cp = s"$tmp/cp"
    val bootSrc = boot(src, TableType.MergeOnRead)
    boot(dst, TableType.CopyOnWrite)

    val base = KeyedTable.read(s, src)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    // round 1: flag 1995 keys divisible by 10, then pull
    KeyedTable.upsert(s, src, base
      .filter(col("o_orderkey") % 10 === 0 && year(col("o_orderdate")) === 1995)
      .select(dataCols: _*)
      .withColumn("o_orderstatus", lit("C1")))
    graft.streaming.ChangeStream.syncTo(s, src, dst, cp, startAt = Some(bootSrc.commitTime))
    // round 2: delete the 1996 × 97 stripe, then pull from the checkpoint
    KeyedTable.delete(s, src, KeyedTable.read(s, src)
      .filter(col("o_orderkey") % 97 === 0 && year(col("o_orderdate")) === 1996)
      .select("o_orderkey", "o_month"))
    graft.streaming.ChangeStream.syncTo(s, src, dst, cp)

    KeyedTable.read(s, dst)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Partition-level TTL ([[KeyedTable.dropPartitions]]): expire every month
    * before 1995-07 as archive-renames — O(#partitions) metadata ops, zero
    * data read or rewrite, the only affordable retention shape at 100 TB.
    * The oracle recomputes the surviving rows from the raw input, proving
    * the drop removed exactly the expired partitions and nothing else.
    */
  private val q33: Q = (s, d) => {
    val tbl = freshTableDir("graft-q33")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q33_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month")))
    val expired = graft.table.CommitLog.requireState(s, tbl).nativePartitions
      .filter(_ < "o_month=1995-07")
    KeyedTable.dropPartitions(s, tbl, expired)
    KeyedTable.read(s, tbl)
      .select(col("o_orderkey"), col("o_month"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** T17 read-optimized query mode: a delta upsert lands on a MOR table but
    * is NOT compacted; [[KeyedTable.readOptimized]] must serve exactly the
    * pre-upsert base state (the oracle is the pristine orders table), while
    * the snapshot read sees the merge — the freshness/scan-cost trade every
    * Hudi MOR consumer picks between. MorSpec pins RO == snapshot after
    * compaction.
    */
  private val q35: Q = (s, d) => {
    val tbl = freshTableDir("graft-q35")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q35_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead))
    val base = KeyedTable.read(s, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(s, tbl, base
      .filter(col("o_orderkey") % 10 === 0 && year(col("o_orderdate")) === 1995)
      .select(dataCols: _*)
      .withColumn("o_orderstatus", lit("RO-INVISIBLE")))
    KeyedTable.readOptimized(s, tbl)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Bench twin of q35 that times the READ-OPTIMIZED read alone: q35's
    * bench slot re-bootstraps a MOR table and upserts a delta per
    * evaluation — scaffolding that dwarfed the operator (the r12 verdict's
    * measurement-hygiene flag). The table + its uncompacted delta stage
    * ONCE per sf dir; every evaluation is the pure base-file columnar read,
    * which must keep serving exactly the pre-upsert state.
    */
  private val q35bScaffold = scala.collection.concurrent.TrieMap.empty[String, String]
  private val q35b: Q = (s, d) => {
    val tbl = q35bScaffold.getOrElseUpdate(d, {
      val t = freshTableDir("graft-q35b")
      KeyedTable.bootstrap(s, BootstrapConfig(
        dataFilePath = ordersInput(s, d), tablePath = t, tableName = "q35b_orders",
        keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
        partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead))
      val base = KeyedTable.read(s, t)
      val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
      KeyedTable.upsert(s, t, base
        .filter(col("o_orderkey") % 10 === 0 && year(col("o_orderdate")) === 1995)
        .select(dataCols: _*)
        .withColumn("o_orderstatus", lit("RO-INVISIBLE")))
      t
    })
    KeyedTable.readOptimized(s, tbl)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** T16 file-sizing service: three key-shifted re-appends of the 1995-01
    * month degenerate that partition's file layout; [[KeyedTable.sizeFiles]]
    * selects it by pure FS metadata and rewrites ONLY it into target-sized
    * files. The oracle recomputes the expected content (orders + the three
    * shifted copies), so the rewrite is hash-checked content-neutral;
    * file-count mechanics are pinned by KeyedTableSpec.
    */
  private val q34: Q = (s, d) => {
    val tbl = freshTableDir("graft-q34")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q34_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month")))
    val hot = s.read.parquet(ordersInput(s, d)).filter(col("o_month") === "1995-01")
    (1 to 3).foreach { i =>
      KeyedTable.append(s, tbl,
        hot.withColumn("o_orderkey", col("o_orderkey") + lit(i * 10000000L)))
    }
    KeyedTable.sizeFiles(s, tbl, targetFileBytes = 256L * 1024 * 1024)
    KeyedTable.read(s, tbl)
      .groupBy("o_month")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 6))).cast(DoubleType).as("total_price"))
      .orderBy("o_month")
  }

  private val q31: Q = (s, d) => {
    val tbl = freshTableDir("graft-q31")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q31_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month")))
    graft.table.BloomIndex.build(s, tbl)
    graft.table.BloomIndex.readByKeys(s, tbl, Seq("1", "7", "32", "65", "129", "4000"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** S2 ORC round-trip under oracle check: the orders table is written to ORC
    * and read back through the sniffing scan path; the oracle reads the
    * original parquet — any ORC read/write asymmetry breaks the hash.
    */
  private val q27: Q = (s, d) => {
    val tmp = scratchDir("graft-q27")
    val orcDir = s"$tmp/orc"
    Tables.orders(s, d).write.mode("overwrite").orc(orcDir)
    val fmt = graft.io.SourceSniffer.sniff(s, orcDir)
    s.read.format(fmt).load(orcDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_day"))
      .orderBy("o_orderkey")
  }

  /** CSV round-trip through the extended (beyond-reference) source layer:
    * orders is written as headered CSV and read back with the explicit
    * schema the writer pinned; the oracle reads the original parquet — any
    * serialize/parse asymmetry (doubles, timestamps, nulls) breaks the
    * hash. Timestamps travel as formatted strings: CSV has no type system,
    * so the schema contract IS the fidelity boundary.
    */
  private val q36: Q = (s, d) => {
    val tmp = scratchDir("graft-q36")
    val dir = s"$tmp/csv"
    val src = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_day"))
    graft.io.TextSources.writeCsv(src, dir)
    graft.io.TextSources.read(s, dir, src.schema).orderBy("o_orderkey")
  }

  /** JSON-lines round-trip, same contract as q36 over the other
    * landing-zone format.
    */
  private val q37: Q = (s, d) => {
    val tmp = scratchDir("graft-q37")
    val dir = s"$tmp/json"
    val src = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_day"))
    graft.io.TextSources.writeJson(src, dir)
    graft.io.TextSources.read(s, dir, src.schema).orderBy("o_orderkey")
  }

  /** Schema evolution under oracle check: an upsert batch carries a column
    * the table has never seen (`o_channel`), restricted to 1995 orders so
    * the 1996+ partitions keep their ORIGINAL files — the read must
    * null-fill the new column for them from the commit-log schema alone
    * (no rewrite of untouched data; that is what makes evolution affordable
    * at 100 TB). The oracle recomputes the end state.
    */
  private val q38: Q = (s, d) => {
    val tbl = freshTableDir("graft-q38")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q38_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month")))
    val base = KeyedTable.read(s, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(s, tbl, base
      .filter(col("o_orderkey") % 7 === 0 && year(col("o_orderdate")) === 1995)
      .select(dataCols: _*)
      .withColumn("o_channel", lit("WEB")))
    KeyedTable.read(s, tbl)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_channel"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** SQL/DataSource surface ([[graft.sources.GraftDataSource]]): bootstrap a
    * table, register it in the session catalog with `CREATE TABLE ... USING
    * graft`, and answer entirely through `spark.sql` — the read path SQL-only
    * consumers (BI tools, notebooks) get. Column pruning and the GROUP BY
    * both cross the DSv2→engine bridge; the oracle recomputes the aggregate
    * from the raw fixture, so the whole bridge (commit-log schema, snapshot
    * assembly, V1Scan hand-off) is hash-checked.
    */
  private val q39: Q = (s, d) => {
    val tbl = freshTableDir("graft-q39")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q39_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month")))
    // re-runs in one session (bench iterations) re-point the catalog entry at
    // this call's fresh table dir
    s.sql("DROP TABLE IF EXISTS graft_q39_orders")
    s.sql(s"CREATE TABLE graft_q39_orders USING graft LOCATION '$tbl'")
    s.sql(
      """SELECT o_month, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM graft_q39_orders GROUP BY o_month ORDER BY o_month""".stripMargin)
  }

  /** Incrementally-maintained aggregate rollup: build the rollup, mutate the
    * table (upsert + delete over a bounded partition set), re-sync — the
    * second sync must touch only the mutated partitions — and answer from
    * the rollup state. The oracle recomputes the aggregate from scratch over
    * the equivalent end state, so the hash-match proves incremental
    * maintenance ≡ full recompute (including the delete, which partial-sum
    * deltas alone could not handle).
    */
  private val q40: Q = (s, d) => {
    val tbl = freshTableDir("graft-q40")
    val agg = s"${scratchDir("graft-q40-agg")}/rollup"
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q40_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead))
    val groupCols = Seq("o_orderpriority")
    val sumCols = Seq("o_totalprice")
    graft.table.IncrementalAgg.sync(s, tbl, agg, groupCols, sumCols)

    val base = KeyedTable.read(s, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(s, tbl, base
      .filter(col("o_orderkey") % 10 === 0 && col("o_month").isin("1995-01", "1995-02"))
      .select(dataCols: _*)
      .withColumn("o_orderstatus", lit("A"))
      .withColumn("o_totalprice", (col("o_totalprice").cast(dec) + lit(100)).cast(DoubleType)))
    KeyedTable.delete(s, tbl, KeyedTable.read(s, tbl)
      .filter(col("o_orderkey") % 97 === 0 && col("o_month") === "1995-03")
      .select("o_orderkey", "o_month"))

    val second = graft.table.IncrementalAgg.sync(s, tbl, agg, groupCols, sumCols)
    // the commit log must bound maintenance to the mutated partitions
    require(second.touched.nonEmpty && second.touched.forall(p =>
      Set("o_month=1995-01", "o_month=1995-02", "o_month=1995-03").contains(p)),
      s"incremental sync touched unexpected partitions: ${second.touched.mkString(",")}")

    graft.table.IncrementalAgg.result(s, agg)
      .select(col("o_orderpriority"), col("cnt"),
        col("sum_o_totalprice").cast(DoubleType).as("sum_total"))
      .orderBy("o_orderpriority")
  }

  /** Partial-update upsert: the patch batch carries ONLY key/partition/
    * precombine + the one column it changes; absent columns must keep their
    * table values, and brand-new keys insert with nulls in the absent
    * columns. The oracle recomputes the end state, so preserve-vs-overwrite
    * resolution is hash-checked column by column.
    */
  private val q41: Q = (s, d) => {
    val tbl = freshTableDir("graft-q41")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q41_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month")))

    val hit = KeyedTable.read(s, tbl)
      .filter(col("o_orderkey") % 10 === 0 && year(col("o_orderdate")) === 1995)
      .select("o_orderkey", "o_month", "o_orderdate")
    val patch = hit.withColumn("o_orderstatus", lit("P"))
      .unionByName(hit
        .withColumn("o_orderkey", col("o_orderkey") + 10000000)
        .withColumn("o_orderstatus", lit("NEW")))
    KeyedTable.upsertPartial(s, tbl, patch)

    KeyedTable.read(s, tbl)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  /** The whole table lifecycle through pure SQL: a catalog table over the
    * bootstrapped MOR table, an INSERT INTO that upserts by key, a CALL to
    * the maintenance catalog to compact, and a SQL read of the end state —
    * no Scala API anywhere after bootstrap. The oracle recomputes the end
    * state, so the DSv1 insert path, the procedure catalog, and the
    * compaction swap are all behind one hash.
    */
  private val q42: Q = (s, d) => {
    val tbl = freshTableDir("graft-q42")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q42_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead))
    s.sql("DROP TABLE IF EXISTS graft_q42_orders")
    s.sql(s"CREATE TABLE graft_q42_orders USING graft LOCATION '$tbl'")
    s.sql(
      """INSERT INTO graft_q42_orders
        |SELECT o_orderkey, o_custkey, 'SQL' AS o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 5 AS DOUBLE) AS o_totalprice,
        |  o_orderdate, o_orderpriority, o_month,
        |  _hoodie_commit_time, _hoodie_record_key, _hoodie_partition_path
        |FROM graft_q42_orders
        |WHERE o_orderkey % 10 = 0 AND year(o_orderdate) = 1995""".stripMargin)
    s.sql(s"CALL graft.system.compact(table => '$tbl')").collect()
    require(graft.table.Deltas.liveCommits(s, tbl).isEmpty, "compact CALL left live deltas")
    s.sql(
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM graft_q42_orders ORDER BY o_orderkey""".stripMargin)
  }

  /** Bench twin of q42 that times the SQL MAINTENANCE LOOP alone: q42's
    * bench slot re-bootstraps and re-registers per evaluation; the loop a
    * SQL-first operator actually runs is INSERT INTO → CALL compact →
    * SELECT. The table bootstraps + registers ONCE per sf dir; each
    * evaluation inserts one run-stamped single-month batch under offset
    * keys through plain SQL (the `o_orderkey < 100000000` guard keeps the
    * source rows original so runs never compound), runs the POLICY
    * compaction (`compact_if_needed` — the call a scheduled maintenance
    * loop actually makes; it folds only when the delta chain crosses the
    * thresholds, so the steady state times the policy check, and q22b's
    * explicit compact covers the fold cost), and reads its own markers
    * back. A fresh JVM (Verify) evaluates run 1, which the oracle pins.
    */
  private val q42bScaffold = scala.collection.concurrent.TrieMap.empty[String, String]
  private val q42bRun = new java.util.concurrent.atomic.AtomicLong(0L)
  private val q42b: Q = (s, d) => {
    val tbl = q42bScaffold.getOrElseUpdate(d, {
      val t = freshTableDir("graft-q42b")
      KeyedTable.bootstrap(s, BootstrapConfig(
        dataFilePath = ordersInput(s, d), tablePath = t, tableName = "q42b_orders",
        keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
        partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead))
      s.sql("DROP TABLE IF EXISTS graft_q42b_orders")
      s.sql(s"CREATE TABLE graft_q42b_orders USING graft LOCATION '$t'")
      t
    })
    val n = q42bRun.incrementAndGet()
    s.sql(
      s"""INSERT INTO graft_q42b_orders
         |SELECT o_orderkey + ${n * 100000000L}, o_custkey, 'M$n' AS o_orderstatus,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 5 AS DOUBLE) AS o_totalprice,
         |  o_orderdate, o_orderpriority, o_month,
         |  _hoodie_commit_time, _hoodie_record_key, _hoodie_partition_path
         |FROM graft_q42b_orders
         |WHERE o_orderkey % 13 = 0 AND o_month = '1995-01'
         |  AND o_orderkey < 100000000""".stripMargin)
    s.sql(s"CALL graft.system.compact_if_needed(table => '$tbl')").collect()
    s.sql(
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice
         |FROM graft_q42b_orders WHERE o_orderstatus = 'M$n'
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Row-level SQL DML through the procedure catalog: UPDATE ... SET via
    * `update_where` (all SET expressions against the pre-update row) and
    * DELETE FROM via `delete_where`, on a MOR table, compacted, read back.
    * Oracle recomputes the end state.
    */
  private val q43: Q = (s, d) => {
    val tbl = freshTableDir("graft-q43")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q43_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = TableType.MergeOnRead))
    s.sql(
      s"""CALL graft.system.update_where('$tbl',
         |  'o_orderkey % 10 = 0 AND year(o_orderdate) = 1995',
         |  'o_orderstatus = ''D''; o_totalprice = CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 9 AS DOUBLE)')""".stripMargin).collect()
    s.sql(
      s"""CALL graft.system.delete_where('$tbl',
         |  'o_orderkey % 97 = 0 AND year(o_orderdate) = 1996')""".stripMargin).collect()
    s.sql(s"CALL graft.system.compact(table => '$tbl')").collect()
    KeyedTable.read(s, tbl)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Row-level SQL DML as PLAIN STATEMENTS — `UPDATE t SET ... WHERE` and
    * `DELETE FROM t WHERE` typed directly against a catalog graft table (no
    * CALL), lowered by the extensions rule onto the same predicate-DML
    * engine path q43 drives through procedures. The reference's runaway
    * sweep is exactly this statement shape (app.py:96-102). COW table this
    * time, so the statement → keyed rewrite → swap path is behind the hash.
    */
  private val q44: Q = (s, d) => {
    val tbl = freshTableDir("graft-q44")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q44_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = TableType.CopyOnWrite))
    s.sql("DROP TABLE IF EXISTS graft_q44_orders")
    s.sql(s"CREATE TABLE graft_q44_orders USING graft LOCATION '$tbl'")
    s.sql(
      """UPDATE graft_q44_orders
        |SET o_orderstatus = 'S',
        |    o_totalprice = CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 3 AS DOUBLE)
        |WHERE o_orderkey % 10 = 0 AND year(o_orderdate) = 1995""".stripMargin)
    s.sql(
      """DELETE FROM graft_q44_orders
        |WHERE o_orderkey % 97 = 0 AND year(o_orderdate) = 1996""".stripMargin)
    s.sql(
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM graft_q44_orders ORDER BY o_orderkey""".stripMargin)
  }

  /** MERGE INTO as pure SQL — the statement spelling of the engine's core
    * keyed upsert (J4/H7): a real table of 3/4 of the orders, then one
    * MERGE whose source updates every even key (matched → column patch)
    * and inserts the even keys the table never had (not matched → new
    * rows). The oracle recomputes the end state relationally, so the merge
    * condition routing, first-match clause semantics, the patch path, and
    * the insert path all sit behind one hash.
    */
  private val q45: Q = (s, d) => {
    val tbl = freshTableDir("graft-q45")
    val ord = s.read.parquet(ordersInput(s, d))
    KeyedTable.create(s, tbl, ord.filter(col("o_orderkey") % 4 =!= 0),
      "q45_orders", Seq("o_orderkey"), "o_orderdate", Seq("o_month"))
    s.sql("DROP TABLE IF EXISTS graft_q45_orders")
    s.sql(s"CREATE TABLE graft_q45_orders USING graft LOCATION '$tbl'")
    ord.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), lit("MG").as("st"),
        (col("o_totalprice").cast(dec) + lit(50)).cast(DoubleType).as("price"),
        col("o_orderdate"), col("o_orderpriority"), col("o_month"))
      .createOrReplaceTempView("graft_q45_src")
    s.sql(
      """MERGE INTO graft_q45_orders t
        |USING graft_q45_src s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_orderstatus = s.st, o_totalprice = s.price
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
        |  o_totalprice, o_orderdate, o_orderpriority, o_month)
        |  VALUES (s.o_orderkey, s.o_custkey, s.st, s.price, s.o_orderdate,
        |          s.o_orderpriority, s.o_month)""".stripMargin)
    s.sql(
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM graft_q45_orders ORDER BY o_orderkey""".stripMargin)
  }

  /** Bench twin of q45 that times the MERGE alone: q45's ~6s bench slot is
    * ~all table create + registration scaffolding at sf0.1; the operator's
    * real cost is the one-commit merge. The table stages ONCE per sf dir;
    * each evaluation runs one bounded single-month MERGE (matched keys
    * patch, unmatched keys insert) whose run-stamped status makes every
    * evaluation's result row set identical in shape but distinct in
    * content. A fresh JVM (Verify) evaluates run 1, which the oracle pins.
    */
  private val q45bScaffold = scala.collection.concurrent.TrieMap.empty[String, String]
  private val q45bRun = new java.util.concurrent.atomic.AtomicLong(0L)
  private val q45b: Q = (s, d) => {
    q45bScaffold.getOrElseUpdate(d, {
      val t = freshTableDir("graft-q45b")
      val ord = s.read.parquet(ordersInput(s, d))
      KeyedTable.create(s, t, ord.filter(col("o_orderkey") % 4 =!= 0),
        "q45b_orders", Seq("o_orderkey"), "o_orderdate", Seq("o_month"))
      s.sql("DROP TABLE IF EXISTS graft_q45b_orders")
      s.sql(s"CREATE TABLE graft_q45b_orders USING graft LOCATION '$t'")
      t
    })
    val n = q45bRun.incrementAndGet()
    s.read.parquet(ordersInput(s, d))
      .filter(col("o_orderkey") % 13 === 0 && col("o_month") === "1995-01")
      .select(col("o_orderkey"), col("o_custkey"), lit(s"MG$n").as("st"),
        (col("o_totalprice").cast(dec) + lit(50)).cast(DoubleType).as("price"),
        col("o_orderdate"), col("o_orderpriority"), col("o_month"))
      .createOrReplaceTempView("graft_q45b_src")
    s.sql(
      """MERGE INTO graft_q45b_orders t
        |USING graft_q45b_src s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_orderstatus = s.st, o_totalprice = s.price
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
        |  o_totalprice, o_orderdate, o_orderpriority, o_month)
        |  VALUES (s.o_orderkey, s.o_custkey, s.st, s.price, s.o_orderdate,
        |          s.o_orderpriority, s.o_month)""".stripMargin)
    s.sql(
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice
         |FROM graft_q45b_orders WHERE o_orderstatus = 'MG$n'
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Bench twin of q31 that times the POINT LOOKUP alone: q31's ~3s bench
    * slot is ~all bootstrap + bloom-build scaffolding; the operator is the
    * bloom-pruned key read, a pure read-side probe. Table + index stage
    * ONCE per sf dir; every evaluation is the lookup itself.
    */
  private val q31bScaffold = scala.collection.concurrent.TrieMap.empty[String, String]
  private val q31b: Q = (s, d) => {
    val tbl = q31bScaffold.getOrElseUpdate(d, {
      val t = freshTableDir("graft-q31b")
      KeyedTable.bootstrap(s, BootstrapConfig(
        dataFilePath = ordersInput(s, d), tablePath = t, tableName = "q31b_orders",
        keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
        partitionFields = Seq("o_month")))
      graft.table.BloomIndex.build(s, t)
      t
    })
    graft.table.BloomIndex.readByKeys(s, tbl, Seq("1", "7", "32", "65", "129", "4000"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** SQL time travel — `VERSION AS OF` as pure SQL through the path catalog
    * (T34 + the new loadTable(ident, version) overload): bootstrap, mutate
    * through plain SQL DML statements, then read the table back AT the
    * bootstrap instant with `VERSION AS OF`. The oracle is simply the
    * pristine input — the whole mutation history must vanish behind the
    * time-travel read for the hash to match.
    */
  private val q46: Q = (s, d) => {
    val tbl = freshTableDir("graft-q46")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q46_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = TableType.CopyOnWrite))
    val bootCt = graft.table.CommitLog.requireState(s, tbl).latest.commitTime
    // mutate through plain SQL DML addressed BY PATH (no registration)
    s.sql(s"UPDATE graft.`$tbl` SET o_orderstatus = 'T' WHERE o_orderkey % 5 = 0")
    s.sql(s"DELETE FROM graft.`$tbl` WHERE o_orderkey % 11 = 0")
    s.sql(
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice
         |FROM graft.`$tbl` VERSION AS OF '$bootCt'
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** MERGE `WHEN NOT MATCHED BY SOURCE` — the CDC reconciliation sweep as
    * one atomic SQL statement: rows still in the feed refresh, expensive
    * rows that left the feed are deleted, the rest are flagged inactive.
    * The oracle recomputes the end state relationally, so the target-only
    * anti-join routing, clause chaining, and the single-commit apply all
    * sit behind one hash.
    */
  private val q47: Q = (s, d) => {
    val tbl = freshTableDir("graft-q47")
    val ord = s.read.parquet(ordersInput(s, d))
    KeyedTable.create(s, tbl, ord, "q47_orders",
      Seq("o_orderkey"), "o_orderdate", Seq("o_month"))
    s.sql("DROP TABLE IF EXISTS graft_q47_orders")
    s.sql(s"CREATE TABLE graft_q47_orders USING graft LOCATION '$tbl'")
    ord.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(dec) + lit(7)).cast(DoubleType).as("price"))
      .createOrReplaceTempView("graft_q47_src")
    s.sql(
      """MERGE INTO graft_q47_orders t USING graft_q47_src s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_totalprice = s.price
        |WHEN NOT MATCHED BY SOURCE AND t.o_totalprice > 300000 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_orderstatus = 'G'""".stripMargin)
    s.sql(
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM graft_q47_orders ORDER BY o_orderkey""".stripMargin)
  }

  /** `MERGE WITH SCHEMA EVOLUTION` as pure SQL (T37): the source carries a
    * column the table does NOT have; the analyzer's evolution path widens
    * the table through the catalog's alterTable (one metadata-only
    * alter_schema commit) before binding the statement. The oracle
    * recomputes the end state from the pristine input — matched rows carry
    * the derived channel value, every untouched row must null-fill the new
    * column at read time (old partitions are never rewritten), so the
    * evolution, the merge routing, and the null-fill read all sit behind
    * one hash.
    */
  private val q48: Q = (s, d) => {
    val tbl = freshTableDir("graft-q48")
    val ord = s.read.parquet(ordersInput(s, d))
    KeyedTable.create(s, tbl, ord, "q48_orders",
      Seq("o_orderkey"), "o_orderdate", Seq("o_month"))
    ord.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"),
        concat(lit("ch-"), (col("o_custkey") % 4).cast(StringType)).as("o_channel"))
      .createOrReplaceTempView("graft_q48_src")
    s.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$tbl` t
         |USING graft_q48_src s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_channel = s.o_channel""".stripMargin)
    s.sql(
      s"""SELECT o_orderkey, o_orderstatus, o_channel
         |FROM graft.`$tbl` ORDER BY o_orderkey""".stripMargin)
  }

  /** T39 metadata-only DROP/RENAME lifecycle, end-to-end through SQL DDL on
    * the path catalog: bootstrap → RENAME COLUMN (read-time alias) → DROP
    * COLUMN (read-time mask) → an UPDATE addressing the NEW logical name →
    * final snapshot under the renamed projection. The oracle recomputes the
    * expected end state from the raw orders, so the alias plumbing (logical
    * reads, write-boundary translation, DML binding) is hash-checked.
    */
  private val q49: Q = (s, d) => {
    val tbl = freshTableDir("graft-q49")
    val ord = s.read.parquet(ordersInput(s, d))
    KeyedTable.create(s, tbl, ord, "q49_orders",
      Seq("o_orderkey"), "o_orderdate", Seq("o_month"))
    s.sql(s"ALTER TABLE graft.`$tbl` RENAME COLUMN o_orderstatus TO status")
    s.sql(s"ALTER TABLE graft.`$tbl` DROP COLUMN o_orderpriority")
    s.sql(s"UPDATE graft.`$tbl` SET status = 'Z' WHERE o_orderkey % 7 = 0")
    s.sql(
      s"""SELECT o_orderkey, status, o_totalprice
         |FROM graft.`$tbl` ORDER BY o_orderkey""".stripMargin)
  }

  /** Auto-maintained index sidecars (`index.auto` table property,
    * [[graft.table.IndexAutoRefresh]]): stats + bloom indexes are built
    * once, the property is flipped through the SQL procedure, and a
    * bulk-insert append lands with NO manual rebuild — the publish hook
    * refreshes both sidecars incrementally for the files the commit added.
    * The answer combines a stats range read over the appended stripe with
    * a bloom point lookup, so pruning against the auto-refreshed indexes
    * must lose nothing; StatsIndexSpec/BloomIndexSpec pin that files are
    * actually skipped and that no-base-file-change publishes stamp no new
    * index instant.
    */
  private val q50: Q = (s, d) => {
    val tbl = freshTableDir("graft-q50")
    KeyedTable.bootstrap(s, BootstrapConfig(
      dataFilePath = ordersInput(s, d), tablePath = tbl, tableName = "q50_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month")))
    graft.table.StatsIndex.build(s, tbl, Seq("o_custkey"))
    graft.table.BloomIndex.build(s, tbl)
    s.sql(s"CALL graft.system.set_property('$tbl', 'index.auto', 'true')").collect()
    val base = KeyedTable.read(s, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    // one-partition batch — the incremental-ingest shape; the publish-hook
    // refresh then scans exactly the file(s) this commit added
    KeyedTable.append(s, tbl, base
      .filter(col("o_orderkey") % 13 === 0)
      .select(dataCols: _*)
      .withColumn("o_orderkey", col("o_orderkey") + 90000000L)
      .withColumn("o_custkey", col("o_custkey") + 9000000L)
      .withColumn("o_month", lit("2099-01")),
      graft.model.WriteOperation.BulkInsert)
    val out = Seq(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    KeyedTable.readBetween(s, tbl, "o_custkey", Some(9000000L), None).select(out: _*)
      .unionByName(graft.table.BloomIndex.readByKeys(s, tbl, Seq("26", "91")).select(out: _*))
      .orderBy("o_orderkey")
  }

  /** Bench twin of q50 that times the auto-refresh ALONE: q50's 10s+ bench
    * cost was ~all scaffolding (bootstrap + two manual index builds), not
    * the operator. Here the scaffolded table is staged ONCE per sf dir and
    * each evaluation runs only the incremental leg — one bulk-insert
    * publish whose hook refreshes both sidecars (bounded by the files this
    * commit added) plus the stats-pruned read that proves they serve.
    * Every evaluation appends a FRESH partition (run counter in the month/
    * key shift) so a re-timed pass measures the same O(new files) work and
    * the read isolates its own batch; in a fresh JVM (Verify) the counter
    * is 1, which is what the oracle pins.
    */
  private val q50bScaffold = scala.collection.concurrent.TrieMap.empty[String, String]
  private val q50bRun = new java.util.concurrent.atomic.AtomicLong(0L)
  private val q50b: Q = (s, d) => {
    val tbl = q50bScaffold.getOrElseUpdate(d, {
      val t = freshTableDir("graft-q50b")
      KeyedTable.bootstrap(s, BootstrapConfig(
        dataFilePath = ordersInput(s, d), tablePath = t, tableName = "q50b_orders",
        keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
        partitionFields = Seq("o_month")))
      graft.table.StatsIndex.build(s, t, Seq("o_custkey"))
      graft.table.BloomIndex.build(s, t)
      s.sql(s"CALL graft.system.set_property('$t', 'index.auto', 'true')").collect()
      t
    })
    val n = q50bRun.incrementAndGet()
    val base = KeyedTable.read(s, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.append(s, tbl, base
      .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") < 90000000L)
      .select(dataCols: _*)
      .withColumn("o_orderkey", col("o_orderkey") + lit(90000000L) * n)
      .withColumn("o_custkey", col("o_custkey") + lit(9000000L) * n)
      .withColumn("o_month", lit(f"2099-$n%02d")),
      graft.model.WriteOperation.BulkInsert)
    KeyedTable.readBetween(s, tbl, "o_custkey",
        Some(9000000L * n), Some(9000000L * n + 8999999L))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  val queries: Map[String, Q] = Map(
    "q01_global_counts" -> q01,
    "q02_partition_counts" -> q02,
    "q03_distinct_partitions" -> q03,
    "q04_missing_partitions" -> q04,
    "q05_incomplete_partitions" -> q05,
    "q06_filter_in" -> q06,
    "q07_projection_pushdown" -> q07,
    "q09_payload_json" -> q09,
    "q10_upsert_merge" -> q10,
    "q11_dedup_latest" -> q11,
    "q12_history_search" -> q12,
    "q13_runaway_sweep" -> q13,
    "q14_log_mining" -> q14,
    "q15_error_classify" -> q15,
    "q16_partition_paths" -> q16,
    "q17_json_props" -> q17,
    "q18_star_join" -> q18,
    "q19_pagination" -> q19,
    "q20_set_ops" -> q20,
    "q21_salted_join" -> q21,
    "q22_table_lifecycle" -> q22,
    "q23_incremental_read" -> q23,
    "q24_time_travel" -> q24,
    "q25_cdc_read" -> q25,
    "q26_global_upsert" -> q26,
    "q27_orc_roundtrip" -> q27,
    "q28_table_sync" -> q28,
    "q28b_table_sync_inc" -> q28b,
    "q29_zorder_cluster" -> q29,
    "q30_stats_skip" -> q30,
    "q31_key_lookup" -> q31,
    "q32_change_stream" -> q32,
    "q33_partition_ttl" -> q33,
    "q34_file_sizing" -> q34,
    "q35_read_optimized" -> q35,
    "q35b_read_optimized_inc" -> q35b,
    "q36_csv_roundtrip" -> q36,
    "q37_json_roundtrip" -> q37,
    "q38_schema_evolution" -> q38,
    "q39_sql_table_read" -> q39,
    "q40_incremental_agg" -> q40,
    "q41_partial_upsert" -> q41,
    "q42_sql_maintenance" -> q42,
    "q43_predicate_dml" -> q43,
    "q44_sql_dml" -> q44,
    "q45_sql_merge" -> q45,
    "q45b_sql_merge_inc" -> q45b,
    "q31b_key_lookup_inc" -> q31b,
    "q22b_mor_write_inc" -> q22b,
    "q24b_time_travel_inc" -> q24b,
    "q26b_global_move_inc" -> q26b,
    "q42b_sql_maintenance_inc" -> q42b,
    "q46_sql_time_travel" -> q46,
    "q47_merge_reconcile" -> q47,
    "q48_schema_merge" -> q48,
    "q49_rename_drop" -> q49,
    "q50_auto_index" -> q50,
    "q50b_index_refresh" -> q50b,
  )

  // ----------------------------------------------------------------- oracle

  val oracle: Map[String, String] = Map(
    "q01_global_counts" ->
      "SELECT count(*) AS total_rows, count(DISTINCT l_orderkey) AS n_orders FROM lineitem",
    "q02_partition_counts" ->
      "SELECT strftime(l_shipdate, '%Y-%m') AS l_month, count(*) AS cnt FROM lineitem GROUP BY 1 ORDER BY 1",
    "q03_distinct_partitions" ->
      "SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS l_month FROM lineitem ORDER BY 1",
    "q04_missing_partitions" ->
      """SELECT p FROM (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS p FROM lineitem)
        |WHERE p NOT IN (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') FROM orders) ORDER BY p""".stripMargin,
    "q05_incomplete_partitions" ->
      """WITH input AS (SELECT strftime(l_shipdate, '%Y-%m') AS p, count(*) AS input_cnt FROM lineitem GROUP BY 1),
        |tbl AS (SELECT strftime(l_shipdate, '%Y-%m') AS p, count(*) AS table_cnt FROM lineitem WHERE l_linenumber <> 7 GROUP BY 1)
        |SELECT input.p, input_cnt, table_cnt FROM input JOIN tbl ON input.p = tbl.p
        |WHERE input_cnt <> table_cnt ORDER BY input.p""".stripMargin,
    "q06_filter_in" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus FROM lineitem
        |WHERE l_returnflag = 'R' AND l_linestatus IN ('F','O') ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q07_projection_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, strftime(l_shipdate, '%Y-%m-%d') AS ship_day
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01' ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q09_payload_json" ->
      """SELECT event_id, '{"event_id":' || event_id || ',"event_type":"' || event_type || '"}' AS payload
        |FROM events ORDER BY event_id""".stripMargin,
    "q10_upsert_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders WHERE o_orderkey % 4 <> 0),
        |u AS (
        |  SELECT o_orderkey, 'U1' AS o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 100 AS DOUBLE) AS o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'U2',
        |         CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 200 AS DOUBLE), o_orderdate + INTERVAL 1 DAY
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |latest AS (
        |  SELECT * FROM (SELECT u.*, row_number() OVER (PARTITION BY o_orderkey ORDER BY o_orderdate DESC, o_orderstatus DESC, o_totalprice DESC) AS rn FROM u)
        |  WHERE rn = 1),
        |merged AS (
        |  SELECT b.* FROM base b WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM latest)
        |SELECT o_orderkey, o_orderstatus, o_totalprice, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_s
        |FROM merged ORDER BY o_orderkey""".stripMargin,
    "q11_dedup_latest" ->
      """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day FROM (
        |  SELECT l_orderkey, l_linenumber, l_shipdate,
        |         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate DESC, l_linenumber DESC) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,
    "q12_history_search" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_day, o_orderpriority, o_totalprice
        |FROM orders
        |WHERE o_orderpriority LIKE '%URGENT%'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < DATE '1997-12-31' + INTERVAL 1 DAY
        |ORDER BY o_day DESC, o_orderkey DESC""".stripMargin,
    "q13_runaway_sweep" ->
      """SELECT event_id, 'FAILED' AS status, 'Transaction timed out.' AS error_log
        |FROM events
        |WHERE event_type = 'signup' AND ts <= (SELECT max(ts) FROM events) - INTERVAL 60 MINUTE
        |ORDER BY event_id""".stripMargin,
    "q14_log_mining" ->
      """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_error_classify" ->
      """SELECT doc_id,
        |  CASE WHEN text LIKE '%slow%' THEN 'perf_slow'
        |       WHEN text LIKE '%fast%' THEN 'perf_fast'
        |       WHEN text LIKE '%merge%' THEN 'merge_op'
        |       ELSE 'other' END AS category
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q16_partition_paths" ->
      """SELECT path, string_split(path, '=')[1] AS field, string_split(path, '=')[2] AS value FROM (
        |  SELECT DISTINCT 'l_month=' || strftime(l_shipdate, '%Y-%m') AS path FROM lineitem)
        |ORDER BY path""".stripMargin,
    "q17_json_props" ->
      """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q18_star_join" ->
      """SELECT r_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q19_pagination" ->
      """SELECT o_orderkey, rn FROM (
        |  SELECT o_orderkey, CAST(row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey DESC) AS BIGINT) AS rn
        |  FROM orders) WHERE rn BETWEEN 101 AND 150 ORDER BY rn""".stripMargin,
    "q20_set_ops" ->
      """SELECT COALESCE(a.p, b.p) AS p, COALESCE(in_li, 0) AS in_li, COALESCE(in_ord, 0) AS in_ord
        |FROM (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS p, 1 AS in_li FROM lineitem) a
        |FULL OUTER JOIN (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS p, 1 AS in_ord FROM orders) b
        |ON a.p = b.p
        |ORDER BY 1""".stripMargin,
    "q21_salted_join" ->
      """SELECT 'flag_' || l_returnflag AS label, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q22_table_lifecycle" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 AND year(o_orderdate) = 1995 THEN 'U'
        |       ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 0 AND year(o_orderdate) = 1995
        |       THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 100 AS DOUBLE)
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE NOT (o_orderkey % 97 = 0 AND year(o_orderdate) = 1996)
        |ORDER BY o_orderkey""".stripMargin,
    "q23_incremental_read" ->
      """SELECT o_orderkey, 'INC' AS o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 7 AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 13 = 0 AND year(o_orderdate) = 1995
        |ORDER BY o_orderkey""".stripMargin,
    "q24_time_travel" ->
      // as-of-bootstrap snapshot == the untouched input, whatever happened after
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q25_cdc_read" ->
      """SELECT o_orderkey, 'upsert' AS op, 'CH' AS o_orderstatus
        |FROM orders WHERE o_orderkey % 10 = 0 AND year(o_orderdate) = 1995
        |UNION ALL
        |SELECT o_orderkey, 'delete' AS op, CAST(NULL AS VARCHAR) AS o_orderstatus
        |FROM orders WHERE o_orderkey % 97 = 0 AND year(o_orderdate) = 1996
        |ORDER BY o_orderkey, op""".stripMargin,
    "q26_global_upsert" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 50 = 0 THEN 'G' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 50 = 0 THEN '2010-01' ELSE strftime(o_orderdate, '%Y-%m') END AS o_month
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q27_orc_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_day
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q28_table_sync" ->
      // dst must equal the src tip: updates applied, deletes removed
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 AND year(o_orderdate) = 1995 THEN 'SY'
        |       ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice
        |FROM orders WHERE NOT (o_orderkey % 97 = 0 AND year(o_orderdate) = 1996)
        |ORDER BY o_orderkey""".stripMargin,
    "q29_zorder_cluster" ->
      // the z-order rewrite must preserve content exactly
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q30_stats_skip" ->
      // file pruning must be invisible in the answer
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey BETWEEN 100 AND 500
        |ORDER BY o_orderkey""".stripMargin,
    "q31_key_lookup" ->
      // bloom pruning must be invisible in the answer
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey IN (1, 7, 32, 65, 129, 4000)
        |ORDER BY o_orderkey""".stripMargin,
    "q32_change_stream" ->
      // dst tip after two checkpointed pulls: round-1 updates + round-2 deletes
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 AND year(o_orderdate) = 1995 THEN 'C1'
        |       ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice
        |FROM orders WHERE NOT (o_orderkey % 97 = 0 AND year(o_orderdate) = 1996)
        |ORDER BY o_orderkey""".stripMargin,
    "q33_partition_ttl" ->
      // exactly the unexpired months survive the drop
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS o_month, o_totalprice
        |FROM orders WHERE strftime(o_orderdate, '%Y-%m') >= '1995-07'
        |ORDER BY o_orderkey""".stripMargin,
    "q34_file_sizing" ->
      // the sizing rewrite must be content-neutral: orders plus the three
      // key-shifted 1995-01 append copies, aggregated per month
      """WITH all_rows AS (
        |  SELECT o_orderdate, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderdate, o_totalprice
        |  FROM orders, (SELECT unnest([1, 2, 3]) AS i) i
        |  WHERE strftime(o_orderdate, '%Y-%m') = '1995-01')
        |SELECT strftime(o_orderdate, '%Y-%m') AS o_month, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
        |FROM all_rows GROUP BY 1 ORDER BY 1""".stripMargin,
    "q35_read_optimized" ->
      // the uncompacted delta upsert must be INVISIBLE to the RO read
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q35b_read_optimized_inc" ->
      // staged twin: same contract — the standing delta stays invisible
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q36_csv_roundtrip" ->
      // CSV write+read must be loss-free against the parquet original
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_day
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q37_json_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_day
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q38_schema_evolution" ->
      // updated 1995 rows carry the new column; every other row (including
      // whole untouched partitions on their original files) null-fills it
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 7 = 0 AND year(o_orderdate) = 1995
        |       THEN 'WEB' END AS o_channel,
        |  o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q39_sql_table_read" ->
      // the CREATE TABLE USING graft read must reproduce the raw fixture
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q40_incremental_agg" ->
      // full recompute of the mutated end state; hash-match proves the
      // incrementally-maintained rollup ≡ recompute
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(
        |    CASE WHEN o_orderkey % 10 = 0 AND strftime(o_orderdate, '%Y-%m') IN ('1995-01','1995-02')
        |         THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 100 AS DOUBLE)
        |         ELSE o_totalprice END AS DECIMAL(30,4))) AS DOUBLE) AS sum_total
        |FROM orders
        |WHERE NOT (o_orderkey % 97 = 0 AND strftime(o_orderdate, '%Y-%m') = '1995-03')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q41_partial_upsert" ->
      // patched rows keep o_totalprice/o_orderpriority (absent from the
      // patch); new keys insert them as NULL
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 AND year(o_orderdate) = 1995
        |         THEN 'P' ELSE o_orderstatus END AS o_orderstatus,
        |    o_totalprice, o_orderpriority
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'NEW', NULL, NULL
        |  FROM orders WHERE o_orderkey % 10 = 0 AND year(o_orderdate) = 1995)
        |ORDER BY o_orderkey""".stripMargin,
    "q42_sql_maintenance" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 AND year(o_orderdate) = 1995
        |       THEN 'SQL' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 0 AND year(o_orderdate) = 1995
        |       THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 5 AS DOUBLE)
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q43_predicate_dml" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 AND year(o_orderdate) = 1995
        |       THEN 'D' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 0 AND year(o_orderdate) = 1995
        |       THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 9 AS DOUBLE)
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE NOT (o_orderkey % 97 = 0 AND year(o_orderdate) = 1996)
        |ORDER BY o_orderkey""".stripMargin,
    "q44_sql_dml" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 AND year(o_orderdate) = 1995
        |       THEN 'S' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 0 AND year(o_orderdate) = 1995
        |       THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 3 AS DOUBLE)
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE NOT (o_orderkey % 97 = 0 AND year(o_orderdate) = 1996)
        |ORDER BY o_orderkey""".stripMargin,
    "q45_sql_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey, 'MG' AS st,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 50 AS DOUBLE) AS price
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        |  SELECT b.o_orderkey,
        |    coalesce(s.st, b.o_orderstatus) AS o_orderstatus,
        |    coalesce(s.price, b.o_totalprice) AS o_totalprice
        |  FROM (SELECT * FROM orders WHERE o_orderkey % 4 <> 0) b
        |  LEFT JOIN src s USING (o_orderkey)
        |  UNION ALL
        |  SELECT o_orderkey, st, price FROM src WHERE o_orderkey % 4 = 0)
        |ORDER BY o_orderkey""".stripMargin,
    "q22b_mor_write_inc" ->
      // a fresh JVM (Verify) evaluates run 1: the offset-keyed single-month
      // batch, upserted as one delta, compacted, read back by its marker
      """SELECT o_orderkey + 100000000 AS o_orderkey, 'L1' AS o_orderstatus,
        |  o_totalprice
        |FROM orders
        |WHERE o_orderkey % 13 = 0 AND strftime(o_orderdate, '%Y-%m') = '1995-01'
        |ORDER BY o_orderkey""".stripMargin,
    "q24b_time_travel_inc" ->
      // the staged history's as-of-bootstrap read == the untouched input,
      // every evaluation, forever
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q26b_global_move_inc" ->
      // a fresh JVM (Verify) evaluates run 1: every %50 key MOVED to the
      // run-1 target partition under the run marker, old copies gone
      """SELECT o_orderkey, 'G1' AS o_orderstatus, '2010-02' AS o_month
        |FROM orders WHERE o_orderkey % 50 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "q42b_sql_maintenance_inc" ->
      // a fresh JVM (Verify) evaluates run 1: the offset-keyed single-month
      // batch inserted through SQL, folded by the compact procedure
      """SELECT o_orderkey + 100000000 AS o_orderkey, 'M1' AS o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 5 AS DOUBLE) AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 13 = 0 AND strftime(o_orderdate, '%Y-%m') = '1995-01'
        |ORDER BY o_orderkey""".stripMargin,
    "q45b_sql_merge_inc" ->
      // a fresh JVM (Verify) evaluates exactly one merge run (n = 1): the
      // single-month run-stamped source, patched into matched rows and
      // inserted for the %4=0 keys the staged table never had
      """SELECT o_orderkey, 'MG1' AS o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 50 AS DOUBLE) AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 13 = 0 AND strftime(o_orderdate, '%Y-%m') = '1995-01'
        |ORDER BY o_orderkey""".stripMargin,
    "q31b_key_lookup_inc" ->
      // the staged bloom table serves the same answer as q31 — pruning must
      // be invisible in the result
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey IN (1, 7, 32, 65, 129, 4000)
        |ORDER BY o_orderkey""".stripMargin,
    "q46_sql_time_travel" ->
      // the time-travel read resurfaces the PRISTINE bootstrap state — the
      // SQL UPDATE/DELETE that ran in between must be invisible
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders ORDER BY o_orderkey",
    "q49_rename_drop" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'Z' ELSE o_orderstatus END AS status,
        |  o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q50_auto_index" ->
      // auto-refreshed stats + bloom pruning must be invisible in the answer
      """SELECT o_orderkey, o_custkey, o_totalprice FROM (
        |  SELECT o_orderkey + 90000000 AS o_orderkey,
        |         o_custkey + 9000000 AS o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey IN (26, 91)
        |) ORDER BY o_orderkey""".stripMargin,
    "q28b_table_sync_inc" ->
      // a fresh JVM (Verify) applies exactly one incremental interval
      // (n = 1): the single-month marker upsert, synced to the destination
      """SELECT o_orderkey, 'SY1' AS o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey % 13 = 0 AND strftime(o_orderdate, '%Y-%m') = '1995-01'
        |ORDER BY o_orderkey""".stripMargin,
    "q50b_index_refresh" ->
      // a fresh JVM (Verify) evaluates exactly one incremental run (n = 1):
      // the appended batch, served back through the refreshed stats index
      """SELECT o_orderkey + 90000000 AS o_orderkey,
        |       o_custkey + 9000000 AS o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 13 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "q48_schema_merge" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 5 = 0
        |       THEN 'ch-' || (o_custkey % 4)::VARCHAR ELSE NULL END AS o_channel
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q47_merge_reconcile" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 <> 0 THEN 'G' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 3 = 0
        |       THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) + 7 AS DOUBLE)
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE NOT (o_orderkey % 3 <> 0 AND o_totalprice > 300000)
        |ORDER BY o_orderkey""".stripMargin,
  )
}
