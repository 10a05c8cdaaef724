package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.model._
import graft.table.{CommitLog, KeyedTable}

/** CALL graft.system.<proc> — the SQL maintenance surface. */
class GraftCatalogSpec extends SparkTestBase {
  import spark.implicits._

  private def bootstrapOrders(dir: String, tt: TableType): String = {
    val tbl = s"$dir/tbl"
    val in = s"$dir/in"
    spark.read.parquet(sf("orders"))
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.mode("overwrite").parquet(in)
    KeyedTable.bootstrap(spark, BootstrapConfig(
      dataFilePath = in, tablePath = tbl, tableName = "cat_orders",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = tt))
    tbl
  }

  private def callRows(sql: String): Seq[String] =
    spark.sql(sql).as[String].collect().toSeq

  test("compact, timeline, savepoint lifecycle via pure SQL CALLs") {
    val tbl = bootstrapOrders(tmpDir("cat"), TableType.MergeOnRead)
    val base = KeyedTable.read(spark, tbl)
    val k = base.agg(min("o_orderkey")).head().getLong(0)
    KeyedTable.upsert(spark, tbl, base.filter(col("o_orderkey") === k)
      .select(base.columns.filterNot(_.startsWith("_")).map(col).toSeq: _*)
      .withColumn("o_orderstatus", lit("SQL")))

    val touched = callRows(s"CALL graft.system.compact(table => '$tbl')")
    assert(touched.nonEmpty)
    assert(graft.table.Deltas.liveCommits(spark, tbl).isEmpty)

    val tl = callRows(s"CALL graft.system.timeline('$tbl')")
    assert(tl.size === 3 && tl.exists(_.contains("compact")))

    val sp = CommitLog.commits(spark, tbl).map(_.commitTime).last
    assert(callRows(s"CALL graft.system.savepoint('$tbl', '$sp')") === Seq(sp))
    assert(KeyedTable.savepoints(spark, tbl) === Seq(sp))
    callRows(s"CALL graft.system.delete_savepoint('$tbl', '$sp')")
    assert(KeyedTable.savepoints(spark, tbl).isEmpty)

    val fsck = callRows(s"CALL graft.system.fsck('$tbl')")
    assert(fsck === Seq("clean"))

    val files = callRows(s"CALL graft.system.files('$tbl')")
    assert(files.nonEmpty && files.forall(_.contains(" bytes=")))
    intercept[Exception] { // NULL args are refused, never unboxed to 0
      spark.sql(s"CALL graft.system.clean_archive('$tbl', NULL)").collect()
    }
  }

  test("index + drop_partitions + clean_archive via SQL CALLs") {
    val tbl = bootstrapOrders(tmpDir("cat2"), TableType.CopyOnWrite)
    val statsCt = callRows(
      s"CALL graft.system.index_stats('$tbl', 'o_custkey,o_totalprice')")
    assert(statsCt.size === 1)
    val bloomCt = callRows(s"CALL graft.system.index_bloom('$tbl')")
    assert(bloomCt.size === 1)

    val month = KeyedTable.read(spark, tbl)
      .select("o_month").orderBy("o_month").head().getString(0)
    val dropped = callRows(
      s"CALL graft.system.drop_partitions('$tbl', 'o_month=$month')")
    assert(dropped === Seq(s"o_month=$month"))
    assert(KeyedTable.read(spark, tbl).filter(col("o_month") === month).count() === 0)

    val cleaned = callRows(s"CALL graft.system.clean_archive('$tbl', 0)")
    assert(cleaned.nonEmpty) // the drop's archive goes
    intercept[Exception] { // unknown procedure fails loudly
      spark.sql(s"CALL graft.system.nope('$tbl')").collect()
    }
  }

  test("update_where evaluates SET against the pre-update row; delete_where removes") {
    val tbl = bootstrapOrders(tmpDir("cat3"), TableType.CopyOnWrite)
    val before = KeyedTable.read(spark, tbl)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey").limit(1).head()
    val (k, cust, price) = (before.getLong(0), before.getLong(1), before.getDouble(2))

    // swap-style assignment: both RHS must see the OLD row
    callRows(
      s"""CALL graft.system.update_where('$tbl', 'o_orderkey = $k',
         |  'o_custkey = CAST(o_totalprice AS BIGINT); o_totalprice = CAST(o_custkey AS DOUBLE)')""".stripMargin)
    val after = KeyedTable.read(spark, tbl).filter(col("o_orderkey") === k).head()
    assert(after.getAs[Long]("o_custkey") === price.toLong)
    assert(after.getAs[Double]("o_totalprice") === cust.toDouble)

    val n = KeyedTable.read(spark, tbl).count()
    callRows(s"CALL graft.system.delete_where('$tbl', 'o_orderkey = $k')")
    assert(KeyedTable.read(spark, tbl).count() === n - 1)

    // key/partition assignment refused
    val e = intercept[Exception] {
      callRows(s"CALL graft.system.update_where('$tbl', 'true', 'o_month = ''x''')")
    }
    assert(e.getMessage.contains("row move"))
  }

  test("SHOW PROCEDURES lists the surface") {
    val names = spark.sql("SHOW PROCEDURES IN graft.system")
      .select("procedure_name").as[String].collect().toSet
    assert(Set("compact", "rollback", "fsck", "sync_agg", "timeline", "show_lock",
      "index_register", "index_unregister", "show_sync", "index_sync",
      "index_remove", "index_retrain", "index_rebuild")
      .subsetOf(names))
  }

  test("standing-index lifecycle via pure SQL CALLs: register + show_sync + " +
      "sync, takedown propagates, retrain preserves mode, rebuild " +
      "re-parameterizes, refusals are loud") {
    import graft.operators.{AnnIndex, DedupIndex}
    val dir = tmpDir("cat-index-lifecycle")
    val corpusTbl = s"$dir/corpus"
    val dedupIdx = s"$dir/dedup"
    val annIdx = s"$dir/ann"
    val emb = spark.read.parquet(sf("embeddings"))
    val docs = emb.filter(col("vec_id") >= 25)
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .withColumn("text", concat_ws(" ",
        (1 to 30).map(i => concat(lit(s"w$i-"), col("doc_id"))): _*))
    KeyedTable.create(spark, corpusTbl, docs,
      tableName = "cat_idx_corpus", keyFields = Seq("doc_id"),
      precombineField = "doc_id", partitionFields = Seq.empty,
      tableType = TableType.MergeOnRead)
    DedupIndex.bootstrap(spark, dedupIdx,
      KeyedTable.read(spark, corpusTbl), "doc_id", "text")
    AnnIndex.build(spark, annIdx, KeyedTable.read(spark, corpusTbl),
      nlist = 4, iters = 1, idCol = "doc_id", vecCol = "embedding")
    val tip0 = CommitLog.commits(spark, corpusTbl).last.commitTime

    // register both through SQL; show_sync lists them with the watermark
    assert(callRows(s"CALL graft.system.index_register('$corpusTbl', 'd', " +
      s"'kind = dedup; path = $dedupIdx; id = doc_id; text = text', '$tip0')")
      .head.startsWith("registered d"))
    assert(callRows(s"CALL graft.system.index_register('$corpusTbl', 'a', " +
      s"'kind = ann; path = $annIdx; id = doc_id; vec = embedding', '$tip0')")
      .head.startsWith("registered a"))
    val shown = callRows(s"CALL graft.system.show_sync('$corpusTbl')")
    assert(shown.head.startsWith("watermark: "), shown)
    assert(shown.head.contains("lag: 0 commit(s)"), shown)
    assert(shown.exists(_.startsWith("a: ann")), shown)
    assert(shown.exists(_.startsWith("d: dedup")), shown)

    // a corpus publish propagates through the hook; the explicit
    // index_sync spelling then reports nothing to do
    KeyedTable.delete(spark, corpusTbl, Seq(30L).toDF("doc_id"))
    assert(KeyedTable.read(spark, dedupIdx)
      .filter(col("doc_id") === 30L).isEmpty)
    assert(callRows(s"CALL graft.system.index_sync('$corpusTbl')")
      === Seq("nothing to sync"))

    // SQL takedown on the ann index: the id stops probing
    assert(callRows(s"CALL graft.system.index_remove('ann', '$annIdx', '31, 32')")
      === Seq("removed 2 id(s)"))
    assert(AnnIndex.probe(spark, annIdx, emb.filter(col("vec_id") < 1),
      k = 100000, nprobe = 4).filter(col("vec_id").isin(31L, 32L)).isEmpty)
    // dedup takedown: the ghost stops screening a verbatim re-send
    val doc33Text = docs.filter(col("doc_id") === 33L)
      .select("text").head().getString(0)
    assert(callRows(s"CALL graft.system.index_remove('dedup', '$dedupIdx', '33')")
      === Seq("removed 1 id(s)"))
    assert(DedupIndex.probe(spark, dedupIdx,
      Seq((933L, doc33Text)).toDF("doc_id", "text"), "doc_id", "text").isEmpty)

    // SQL retrain preserves the ann geometry contract (one merge commit)
    val nonCompact0 = CommitLog.commits(spark, annIdx)
      .count(_.operation != "compact")
    assert(callRows(s"CALL graft.system.index_retrain('ann', '$annIdx', " +
      "'nlist = 8; iters = 1')") === Seq("retrained ann index"))
    assert(CommitLog.commits(spark, annIdx).count(_.operation != "compact")
      === nonCompact0 + 1)
    assert(AnnIndex.centroids(spark, annIdx).count() === 8)

    // dedup "retrain" refuses loudly toward index_rebuild...
    def message(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val e1 = intercept[Exception] {
      spark.sql(s"CALL graft.system.index_retrain('dedup', '$dedupIdx', '')").collect()
    }
    assert(message(e1).contains("index_rebuild"), message(e1))
    // ...and index_rebuild re-parameterizes from the corpus table AND
    // refreshes the still-registered spec (else the next publish's sync
    // would append old-parameter entries into the rebuilt index)
    assert(callRows(s"CALL graft.system.index_rebuild('$dedupIdx', '$corpusTbl', " +
      "'text = text; num_hashes = 32')")
      === Seq("rebuilt under shingle_n=3 num_hashes=32",
        "registry spec(s) refreshed: d"))
    assert(KeyedTable.read(spark, dedupIdx)
      .select(org.apache.spark.sql.functions.size(col(DedupIndex.SigCol)))
      .collect().forall(_.getInt(0) === 32))
    val refreshedSpec = graft.operators.SyncRegistry.registered(spark, corpusTbl)
      .collectFirst { case ("d", sp: graft.operators.SyncRegistry.DedupSpec) => sp }
    assert(refreshedSpec.exists(_.numHashes === 32), s"spec: $refreshedSpec")

    // unregister through SQL; the registry empties
    callRows(s"CALL graft.system.index_unregister('$corpusTbl', 'a')")
    callRows(s"CALL graft.system.index_unregister('$corpusTbl', 'd')")
    assert(callRows(s"CALL graft.system.show_sync('$corpusTbl')")
      === Seq("no indexes registered"))

    // index_optimize: the text-index layout pass through SQL — one
    // content-neutral cluster commit, probe unchanged
    val textIdx = s"$dir/text"
    graft.operators.TextIndex.build(spark, textIdx,
      Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text")
    val tq = Seq((1L, "beta")).toDF("query_id", "qtext")
    def tProbe() = graft.operators.TextIndex
      .probe(spark, textIdx, tq, k = 10, lnIdf = false)
      .collect().map(_.toString).toSet
    val tWant = tProbe()
    assert(callRows(s"CALL graft.system.index_optimize('$textIdx', " +
      "'max_records_per_file = 100')")
      === Seq("optimized: posting partition clustered by (term, id)"))
    assert(CommitLog.commits(spark, textIdx).last.operation === "cluster")
    assert(tProbe() === tWant, "optimize must be content-neutral")

    // index_group_counts: the per-source quota probe through SQL — a
    // grouped index serves its live group tallies from stats rows alone
    val groupedIdx = s"$dir/grouped"
    graft.operators.TextIndex.build(spark, groupedIdx,
      Seq((1L, "alpha", "web"), (2L, "beta", "web"), (3L, "gamma", "news"))
        .toDF("doc_id", "text", "source"),
      "doc_id", "text", groupCol = Some("source"))
    assert(callRows(s"CALL graft.system.index_group_counts('$groupedIdx')")
      === Seq("news = 1 docs, 1 tokens", "web = 2 docs, 2 tokens"))
    val eg = intercept[Exception] {
      spark.sql(s"CALL graft.system.index_group_counts('$textIdx')").collect()
    }
    assert(message(eg).contains("not GROUPED"), message(eg))

    // index_sync_chain: the explicit depth>1 drain through SQL — on this
    // (now-empty) registry it reports the walked root and nothing to sync;
    // the multi-level semantics are pinned in SyncRegistrySpec
    assert(callRows(s"CALL graft.system.index_sync_chain('$corpusTbl')")
      === Seq(s"$corpusTbl: nothing to sync"))

    // refusals: unknown kind, malformed ids
    val e2 = intercept[Exception] {
      spark.sql(s"CALL graft.system.index_remove('what', '$annIdx', '1')").collect()
    }
    assert(message(e2).contains("unknown index kind"), message(e2))
    val e3 = intercept[Exception] {
      spark.sql(s"CALL graft.system.index_remove('ann', '$annIdx', 'abc')").collect()
    }
    assert(message(e3).contains("integers"), message(e3))
  }

  test("show_lock procedure + .locks relation expose the writer lease") {
    val tbl = bootstrapOrders(tmpDir("cat-lock"), TableType.CopyOnWrite)
    // quiescent table: ordinary writers release their lease on publish
    assert(callRows(s"CALL graft.system.show_lock('$tbl')") === Seq("no lock held"))
    assert(spark.sql(s"SELECT * FROM graft.`$tbl`.locks").count() === 0)

    // a held lease (as a concurrent writer mid-publish would hold it)
    val lease = graft.table.TableLock.tryAcquire(spark, tbl, "probe-writer").get
    try {
      val lines = callRows(s"CALL graft.system.show_lock('$tbl')")
      assert(lines.exists(_ == "owner: probe-writer"))
      assert(lines.exists(_ == s"token: ${lease.token}"))
      assert(lines.exists(_ == "state: held"))
      val row = spark.sql(
        s"SELECT owner, token, state FROM graft.`$tbl`.locks").head()
      assert(row.getString(0) === "probe-writer")
      assert(row.getLong(1) === lease.token)
      assert(row.getString(2) === "held")
      // ONE code path (GraftCatalog.lockRows): the procedure's string lines
      // must be exactly the relation's fields rendered `name: value`
      val full = spark.sql(
        s"SELECT owner, token, acquired_at, expires_at, state FROM graft.`$tbl`.locks").head()
      val rendered = Seq(
        s"owner: ${full.getString(0)}", s"token: ${full.getLong(1)}",
        s"acquired_at: ${full.getString(2)}", s"expires_at: ${full.getString(3)}",
        s"state: ${full.getString(4)}")
      assert(lines === rendered)
    } finally graft.table.TableLock.release(spark, tbl, lease)
    assert(callRows(s"CALL graft.system.show_lock('$tbl')") === Seq("no lock held"))
  }

  test("show_indexes procedure + .indexes relation expose sidecar freshness") {
    val tbl = bootstrapOrders(tmpDir("cat-idx"), TableType.CopyOnWrite)
    assert(callRows(s"CALL graft.system.show_indexes('$tbl')") === Seq("no indexes"))
    assert(spark.sql(s"SELECT * FROM graft.`$tbl`.indexes").count() === 0)

    callRows(s"CALL graft.system.index_stats('$tbl', 'o_custkey,o_totalprice')")
    callRows(s"CALL graft.system.index_bloom('$tbl')") // record-key bloom

    def rel() = spark.sql(
      s"SELECT kind, `column`, physical_column, instant, covered_files, " +
        s"live_files, fpp, bytes, auto FROM graft.`$tbl`.indexes " +
        "ORDER BY kind, physical_column").collect().toSeq
    val r0 = rel()
    assert(r0.map(r => (r.getString(0), r.getString(1))) === Seq(
      ("bloom", graft.table.MetaColumns.RecordKey),
      ("stats", "o_custkey"), ("stats", "o_totalprice")))
    r0.foreach { r =>
      assert(r.getLong(4) === r.getLong(5), s"fresh index must cover all live files: $r")
      assert(r.getLong(7) > 0, s"sidecar bytes must be positive: $r")
      assert(CommitLog.isInstant(r.getString(3)))
      assert(!r.getBoolean(8)) // index.auto not set
    }
    assert(r0.filter(_.getString(0) == "bloom").forall(r => !r.isNullAt(6) && r.getDouble(6) > 0))
    assert(r0.filter(_.getString(0) == "stats").forall(_.isNullAt(6)))

    // ONE code path (IndexDescribe.rows): the procedure's string lines are
    // exactly the relation's rows rendered
    val lines = callRows(s"CALL graft.system.show_indexes('$tbl')")
    assert(lines.sorted === r0.map(r =>
      s"${r.getString(0)} column=${r.getString(1)} physical=${r.getString(2)} " +
        s"instant=${r.getString(3)} covered_files=${r.getLong(4)}/${r.getLong(5)} " +
        s"fpp=${if (r.isNullAt(6)) "-" else r.getDouble(6).toString} " +
        s"bytes=${r.getLong(7)} auto=${r.getBoolean(8)}").sorted)

    // under index.auto, a publish refreshes the sidecars: rows stay fresh
    // (covered == live) at NEWER instants, and flag auto=true
    callRows(s"CALL graft.system.set_property('$tbl', 'index.auto', 'true')")
    val base = KeyedTable.read(spark, tbl)
    KeyedTable.upsert(spark, tbl, base
      .filter(col("o_orderkey") % 10 === 0)
      .select(base.columns.filterNot(_.startsWith("_")).map(col).toSeq: _*)
      .withColumn("o_orderstatus", lit("IX")))
    val r1 = rel()
    assert(r1.map(_.getString(2)) === r0.map(_.getString(2)))
    r1.zip(r0).foreach { case (now, before) =>
      assert(now.getBoolean(8))
      assert(now.getLong(4) === now.getLong(5), s"auto-refreshed index stale: $now")
      assert(now.getString(3) > before.getString(3), "refresh must stamp a newer instant")
    }
  }

  test("show_maintenance procedure + .maintenance relation expose hook outcomes") {
    val tbl = bootstrapOrders(tmpDir("cat-maint"), TableType.CopyOnWrite)
    assert(callRows(s"CALL graft.system.show_maintenance('$tbl')") ===
      Seq("no maintenance has run"))
    assert(spark.sql(s"SELECT * FROM graft.`$tbl`.maintenance").count() === 0)

    // enable index.auto and publish once: the hook records its outcome
    callRows(s"CALL graft.system.index_stats('$tbl', 'o_custkey')")
    callRows(s"CALL graft.system.set_property('$tbl', 'index.auto', 'true')")
    // the .properties meta relation serves the same pairs show_properties does
    assert(spark.sql(s"SELECT `key`, value FROM graft.`$tbl`.properties")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("index.auto", "true")))
    val base = KeyedTable.read(spark, tbl)
    KeyedTable.upsert(spark, tbl, base
      .filter(col("o_orderkey") % 10 === 0)
      .select(base.columns.filterNot(_.startsWith("_")).map(col).toSeq: _*)
      .withColumn("o_orderstatus", lit("MX")))

    val row = spark.sql(s"SELECT service, at, trigger, outcome, detail " +
      s"FROM graft.`$tbl`.maintenance").head()
    assert(row.getString(0) === "index.auto")
    assert(CommitLog.isInstant(row.getString(1)))
    assert(row.getString(2) === "upsert")
    assert(row.getString(3) === "ok")
    assert(row.getString(4).contains("stats="))
    // one code path: the procedure renders the same rows
    val lines = callRows(s"CALL graft.system.show_maintenance('$tbl')")
    assert(lines === Seq(s"index.auto at=${row.getString(1)} trigger=upsert " +
      s"outcome=ok detail=${row.getString(4)}"))
  }

  test("ALTER TABLE ADD COLUMNS evolves the engine schema (add-only; refusals loud)") {
    val tbl = bootstrapOrders(tmpDir("cat-alter"), TableType.CopyOnWrite)
    val before = KeyedTable.read(spark, tbl)
    val n = before.count()
    assert(!before.columns.contains("o_note"))

    spark.sql(s"ALTER TABLE graft.`$tbl` ADD COLUMNS (o_note STRING)")
    val after = KeyedTable.read(spark, tbl)
    // metadata-only: same rows, new column null-filled, one alter_schema commit
    assert(after.columns.contains("o_note"))
    assert(after.count() === n)
    assert(after.filter(col("o_note").isNotNull).count() === 0)
    assert(graft.table.CommitLog.requireState(spark, tbl).latest.operation === "alter_schema")
    // and the evolved column is writable through the ordinary upsert
    KeyedTable.upsert(spark, tbl,
      before.limit(1).drop("_hoodie_commit_time", "_hoodie_record_key", "_hoodie_partition_path")
        .withColumn("o_note", lit("patched")))
    assert(KeyedTable.read(spark, tbl).filter(col("o_note") === "patched").count() === 1)

    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$tbl` ADD COLUMNS (o_note2 STRING NOT NULL)")
    }
    assert(e2.getMessage.contains("must be nullable"))
    // a duplicate add is refused by the engine's collision check
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$tbl` ADD COLUMNS (O_NOTE STRING)")
    }
    assert(e3.getMessage.toLowerCase.contains("already exist"))
    // type changes stay refused — Spark's own analyzer check fires first
    // (NOT_SUPPORTED_CHANGE_COLUMN), before our dispatch would
    val e4 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$tbl` ALTER COLUMN o_note TYPE INT")
    }
    assert(e4.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e4.getMessage.contains("ADD / DROP / RENAME"))
  }

  test("rename_column / drop_column procedures mirror the DDL surface") {
    val tbl = bootstrapOrders(tmpDir("cat-t39-proc"), TableType.CopyOnWrite)
    assert(callRows(s"CALL graft.system.rename_column('$tbl', 'o_orderstatus', 'status')")
      === Seq("renamed o_orderstatus -> status"))
    assert(callRows(s"CALL graft.system.drop_column('$tbl', 'o_orderpriority')")
      === Seq("dropped o_orderpriority"))
    val cols = spark.sql(s"SELECT * FROM graft.`$tbl`").columns
    assert(cols.contains("status") && !cols.contains("o_orderstatus") &&
      !cols.contains("o_orderpriority"))
  }

  test(".detail meta relation: one-row identity card incl. the live drop/rename mapping") {
    val tbl = bootstrapOrders(tmpDir("cat-detail"), TableType.MergeOnRead)
    val r0 = spark.sql(s"SELECT * FROM graft.`$tbl`.detail").head()
    assert(r0.getAs[String]("table_type") === "MERGE_ON_READ")
    assert(r0.getAs[String]("key_fields") === "o_orderkey")
    assert(r0.getAs[String]("renamed_columns") === "")
    assert(r0.getAs[String]("dropped_columns") === "")
    spark.sql(s"ALTER TABLE graft.`$tbl` RENAME COLUMN o_orderstatus TO status")
    spark.sql(s"ALTER TABLE graft.`$tbl` DROP COLUMN o_orderpriority")
    val r1 = spark.sql(
      s"SELECT renamed_columns, dropped_columns, n_commits FROM graft.`$tbl`.detail").head()
    assert(r1.getString(0) === "o_orderstatus->status")
    assert(r1.getString(1) === "o_orderpriority")
    assert(r1.getLong(2) === 3L) // bootstrap + two alter_schema commits
  }

  test("ALTER TABLE DROP/RENAME COLUMN are metadata-only via the path catalog (T39)") {
    val tbl = bootstrapOrders(tmpDir("cat-t39"), TableType.CopyOnWrite)
    val n = KeyedTable.read(spark, tbl).count()

    spark.sql(s"ALTER TABLE graft.`$tbl` RENAME COLUMN o_orderstatus TO status")
    val renamed = spark.sql(s"SELECT * FROM graft.`$tbl`")
    assert(renamed.columns.contains("status") && !renamed.columns.contains("o_orderstatus"))
    assert(renamed.count() === n)
    // SQL binds the new name end-to-end (filter + projection)
    assert(spark.sql(s"SELECT status FROM graft.`$tbl` WHERE status IS NOT NULL").count() === n)

    spark.sql(s"ALTER TABLE graft.`$tbl` DROP COLUMN status")
    val dropped = spark.sql(s"SELECT * FROM graft.`$tbl`")
    assert(!dropped.columns.contains("status") && !dropped.columns.contains("o_orderstatus"))
    assert(dropped.count() === n)
    // both were metadata-only commits: physical ddl still carries the column
    val st = graft.table.CommitLog.requireState(spark, tbl)
    assert(st.latest.schemaDdl.contains("o_orderstatus"))
    assert(st.commits.count(_.operation == "alter_schema") === 2)
  }

  test("path identifiers: SELECT and row-level DML against graft.`/path`, no registration") {
    val tbl = bootstrapOrders(tmpDir("cat-path"), TableType.CopyOnWrite)
    val before = KeyedTable.read(spark, tbl).count()

    // read by path through the catalog
    val viaPath = spark.sql(s"SELECT count(*) AS c FROM graft.`$tbl`").head().getLong(0)
    assert(viaPath === before)
    // pruning+filters flow through the same V2 relation
    val one = spark.sql(
      s"SELECT o_orderkey FROM graft.`$tbl` WHERE o_orderkey % 7 = 0 ORDER BY 1 LIMIT 1")
    assert(one.count() === 1)

    // the DML rule fires on the V2 path relation too
    val doomed = KeyedTable.read(spark, tbl).filter(col("o_orderkey") % 50 === 0).count()
    assert(doomed > 0)
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE o_orderkey % 50 = 0")
    assert(KeyedTable.read(spark, tbl).count() === before - doomed)

    // a path with no graft table underneath fails loudly at analysis (the
    // catalog reports no-such-table; Spark then also refuses its
    // direct-file-query fallback), never a crash or an empty result
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`${tmpDir("cat-nope")}/absent`").collect()
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.contains("UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY") ||
      e.getMessage.toLowerCase.contains("not found"))
  }

  test("metadata tables: graft.`/path`.history / .files / .savepoints as real relations") {
    val tbl = bootstrapOrders(tmpDir("cat-meta"), TableType.CopyOnWrite)
    // one mutation so history has two rows and a savepoint exists
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE o_orderkey % 7 = 0")
    val sp = CommitLog.requireState(spark, tbl).commits.head.commitTime
    KeyedTable.savepoint(spark, tbl, sp)

    val hist = spark.sql(
      s"SELECT commit_time, operation, record_count FROM graft.`$tbl`.history ORDER BY commit_time")
    assert(hist.count() === 2)
    assert(hist.select("operation").as[String].collect().toSeq === Seq("bootstrap", "delete"))

    // typed + filterable like any relation (not CALL string rows)
    val files = spark.sql(
      s"SELECT partition_path, file_name, bytes FROM graft.`$tbl`.files WHERE bytes > 0")
    assert(files.count() > 0)
    assert(spark.sql(s"SELECT sum(bytes) AS b FROM graft.`$tbl`.files").head().getLong(0) > 0)

    val sps = spark.sql(s"SELECT instant FROM graft.`$tbl`.savepoints")
    assert(sps.as[String].collect().toSeq === Seq(sp))

    // an unknown meta table under a real path is a loud missing-table error
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$tbl`.nope").collect()
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.toLowerCase.contains("not found"))
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF on path tables") {
    val tbl = bootstrapOrders(tmpDir("cat-tt"), TableType.CopyOnWrite)
    val st0 = CommitLog.requireState(spark, tbl)
    val bootCt = st0.latest.commitTime
    val before = KeyedTable.read(spark, tbl).count()

    // mutate: one upsert, one delete — two commits after bootstrap
    val upd = KeyedTable.read(spark, tbl).filter(col("o_orderkey") % 9 === 0)
      .withColumn("o_orderstatus", lit("V"))
      .drop("_hoodie_commit_time", "_hoodie_record_key", "_hoodie_partition_path")
    KeyedTable.upsert(spark, tbl, upd)
    val midCt = CommitLog.requireState(spark, tbl).latest.commitTime
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE o_orderkey % 4 = 0")

    // VERSION AS OF the bootstrap instant: the pristine snapshot
    val v0 = spark.sql(s"SELECT * FROM graft.`$tbl` VERSION AS OF '$bootCt'")
    assert(v0.count() === before)
    assert(v0.filter(col("o_orderstatus") === "V").count() === 0)
    // VERSION AS OF the mid instant: upsert visible, delete not
    val v1 = spark.sql(s"SELECT * FROM graft.`$tbl` VERSION AS OF '$midCt'")
    assert(v1.count() === before)
    assert(v1.filter(col("o_orderstatus") === "V").count() > 0)
    // and it matches the Scala API exactly
    assert(v1.count() === KeyedTable.readAsOf(spark, tbl, midCt).count())

    // TIMESTAMP AS OF: instants are UTC yyyyMMddHHmmssSSS — convert the mid
    // instant to a session-zone timestamp literal and expect the same state
    val utc = new java.text.SimpleDateFormat("yyyyMMddHHmmssSSS")
    utc.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val millis = utc.parse(midCt).getTime
    val local = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    local.setTimeZone(java.util.TimeZone.getTimeZone(
      spark.conf.get("spark.sql.session.timeZone")))
    val ts = local.format(new java.util.Date(millis))
    val v2 = spark.sql(s"SELECT * FROM graft.`$tbl` TIMESTAMP AS OF '$ts'")
    assert(v2.count() === before)
    assert(v2.filter(col("o_orderstatus") === "V").count() > 0)

    // a pre-history version fails loudly (readAsOf's own error)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$tbl` VERSION AS OF '19700101000000000'").collect()
    }
    assert(e.getMessage.contains("No commit at or before"))

    // a non-instant version is refused loudly — 'abc' sorts ABOVE the digit
    // instants lexicographically, so passing it through would silently read
    // the current tip
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$tbl` VERSION AS OF 'abc'").collect()
    }
    assert(e2.getMessage.contains("17-digit commit instant"))
  }

  test("ALTER TABLE DROP/RENAME COLUMN on SESSION-CATALOG graft tables (T39)") {
    val tbl = bootstrapOrders(tmpDir("cat-t39-sess"), TableType.MergeOnRead)
    spark.sql("DROP TABLE IF EXISTS cat_t39_t")
    spark.sql(s"CREATE TABLE cat_t39_t USING graft LOCATION '$tbl'")
    try {
      val n = spark.table("cat_t39_t").count()
      spark.sql("ALTER TABLE cat_t39_t RENAME COLUMN o_orderstatus TO status")
      val renamed = spark.table("cat_t39_t")
      assert(renamed.columns.contains("status") && !renamed.columns.contains("o_orderstatus"))
      assert(renamed.count() === n)
      // engine and metastore stayed in lockstep (the mirror applied too)
      assert(spark.sql("DESCRIBE TABLE cat_t39_t").collect()
        .map(_.getString(0)).contains("status"))
      spark.sql("ALTER TABLE cat_t39_t DROP COLUMN status")
      val dropped = spark.table("cat_t39_t")
      assert(!dropped.columns.contains("status"))
      assert(dropped.count() === n)
      assert(CommitLog.requireState(spark, tbl)
        .commits.count(_.operation == "alter_schema") === 2)
    } finally spark.sql("DROP TABLE IF EXISTS cat_t39_t")
  }

  test("SQL time travel on SESSION-CATALOG graft tables (hint-rule rewrite)") {
    val tbl = bootstrapOrders(tmpDir("cat-tt2"), TableType.CopyOnWrite)
    spark.sql("DROP TABLE IF EXISTS cat_tt2_t")
    spark.sql(s"CREATE TABLE cat_tt2_t USING graft LOCATION '$tbl'")
    try {
      val bootCt = CommitLog.requireState(spark, tbl).latest.commitTime
      val before = spark.table("cat_tt2_t").count()
      spark.sql("DELETE FROM cat_tt2_t WHERE o_orderkey % 3 = 0")
      assert(spark.table("cat_tt2_t").count() < before)

      // VERSION AS OF through the plain session-catalog name — no path
      // catalog involved (V2SessionCatalog alone would refuse this)
      val v0 = spark.sql(s"SELECT * FROM cat_tt2_t VERSION AS OF '$bootCt'")
      assert(v0.count() === before)
      assert(spark.sql(
        s"SELECT count(*) AS c FROM spark_catalog.default.cat_tt2_t VERSION AS OF '$bootCt'")
        .head().getLong(0) === before)

      // TIMESTAMP AS OF a session-zone literal of the bootstrap instant
      val utc = new java.text.SimpleDateFormat("yyyyMMddHHmmssSSS")
      utc.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      val local = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
      local.setTimeZone(java.util.TimeZone.getTimeZone(
        spark.conf.get("spark.sql.session.timeZone")))
      val ts = local.format(new java.util.Date(utc.parse(bootCt).getTime))
      assert(spark.sql(s"SELECT * FROM cat_tt2_t TIMESTAMP AS OF '$ts'").count() === before)

      // function-valued timestamps resolve too (the hint batch pre-resolves
      // them): current_timestamp() is "now" → the post-delete tip
      val afterCount = spark.table("cat_tt2_t").count()
      assert(spark.sql(
        "SELECT * FROM cat_tt2_t TIMESTAMP AS OF current_timestamp()").count() === afterCount)

      // a non-graft table still takes Spark's own (refusing) path
      spark.sql("DROP TABLE IF EXISTS cat_tt2_plain")
      spark.sql("CREATE TABLE cat_tt2_plain USING parquet AS SELECT 1 AS x")
      try {
        val e = intercept[Exception] {
          spark.sql("SELECT * FROM cat_tt2_plain VERSION AS OF '1'").collect()
        }
        assert(e.getMessage.toLowerCase.contains("time travel"))
      } finally spark.sql("DROP TABLE IF EXISTS cat_tt2_plain")
    } finally spark.sql("DROP TABLE IF EXISTS cat_tt2_t")
  }
}
