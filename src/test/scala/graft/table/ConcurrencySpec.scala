package graft.table

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.model.{BootstrapConfig, CommitConflictException, TableType}
import graft.table.CommitLog.{CommitInfo, PartitionEntry}

/** Optimistic concurrency control (Hudi multi-writer OCC analogue):
  * disjoint-partition writers interleave freely, overlapping writers get a
  * retryable conflict, losers never leak data into reads, and fsck clears
  * their leftovers. The deterministic cases emulate a slow writer by running
  * its exact write sequence (inflight marker → delta write → publish) with
  * an instant allocated BEFORE the fast writer ran — the interleaving the
  * reference invites by launching concurrent background jobs
  * (app.py:216-223).
  */
class ConcurrencySpec extends SparkTestBase {
  import spark.implicits._

  private def bootstrapTable(
      dir: String, name: String,
      tableType: TableType = TableType.MergeOnRead): (String, String) = {
    val tbl = s"$dir/tbl"
    val in = s"$dir/in"
    spark.read.parquet(sf("orders"))
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.mode("overwrite").parquet(in)
    val boot = KeyedTable.bootstrap(spark, BootstrapConfig(
      dataFilePath = in, tablePath = tbl, tableName = name,
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = tableType))
    (tbl, boot.commitTime)
  }

  /** Emulate writer A mid-flight: marker + delta batch under instant `ct`,
    * data targeting `month`, not yet published. Returns the CommitInfo its
    * publish would carry.
    */
  private def stageDelta(
      tbl: String, ct: String, month: String, status: String,
      baseCommits: Seq[String] = Seq.empty): CommitInfo = {
    val st = CommitLog.requireState(spark, tbl)
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val dataCols = schema.fieldNames.filterNot(_.startsWith("_")).toSeq
    val logical = KeyedTable.read(spark, tbl)
    // physical columns hidden by a metadata-only drop aren't in the logical
    // read — null-fill them, as the real write path does
    val batch = dataCols.foldLeft(
      logical
        .filter(col("o_month") === month && col("o_orderkey") % 5 === 0)
        .select(dataCols.filter(logical.columns.contains).map(col): _*)
        .withColumn("o_orderstatus", lit(status))) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(schema(c).dataType))
    }
    val rows = MetaColumns.withMeta(batch, st.latest.keyFields, st.latest.partitionFields, ct)
      .select(schema.fieldNames.map(col).toSeq: _*)
      .withColumn(Deltas.DeletedCol, lit(false))
    // commit-log partition paths are hive-style ("o_month=1995-01")
    val pp = s"o_month=$month"
    CommitLog.beginInflight(spark, tbl, ct, "delta_commit", Seq(pp), baseCommits)
    Deltas.write(rows, tbl, ct, st.latest.partitionFields)
    val n = spark.read.schema(Deltas.schemaOf(schema))
      .parquet(Deltas.dir(tbl, ct).toString).count()
    CommitInfo(
      commitTime = ct, operation = "delta_commit", tableName = st.latest.tableName,
      tableType = st.latest.tableType, keyFields = st.latest.keyFields,
      precombineField = st.latest.precombineField,
      partitionFields = st.latest.partitionFields,
      partitions = Seq(PartitionEntry(pp, "delta", n)),
      recordCount = n, schemaDdl = st.latest.schemaDdl, sourcePath = None)
  }

  test("overlapping writers: loser aborts retryably, never leaks, fsck clears it") {
    val (tbl, c0) = bootstrapTable(tmpDir("occ-overlap"), "occ_overlap")
    val month = "1995-01"

    // writer A allocates its instant and stages, but is slow to publish
    val ctA = CommitLog.newCommitTime()
    val infoA = stageDelta(tbl, ctA, month, "AA")
    assert(CommitLog.inflights(spark, tbl) == Seq(ctA))

    // writer B (same partition) starts and lands first, via the public API
    val base = KeyedTable.read(spark, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(spark, tbl, base
      .filter(col("o_month") === month && col("o_orderkey") % 2 === 0)
      .select(dataCols: _*).withColumn("o_orderstatus", lit("BB")))

    // A's staged-but-uncommitted delta must be invisible to readers NOW
    assert(KeyedTable.read(spark, tbl).filter(col("o_orderstatus") === "AA").count() == 0)

    // A publishes against its stale base instant → retryable conflict
    val e = intercept[CommitConflictException] {
      CommitLog.write(spark, tbl, infoA, baseInstant = Some(c0))
    }
    assert(e.getMessage.contains("Retryable"))

    // still invisible, B's commit intact
    val snap = KeyedTable.read(spark, tbl)
    assert(snap.filter(col("o_orderstatus") === "AA").count() == 0)
    assert(snap.filter(col("o_orderstatus") === "BB").count() > 0)

    // the loser cleared its own marker when the conflict was raised; a
    // CRASHED writer leaves its marker behind — emulate one for the sweep
    assert(CommitLog.inflights(spark, tbl).isEmpty)
    val ctDead = CommitLog.newCommitTime()
    CommitLog.beginInflight(spark, tbl, ctDead, "delta_commit", Seq(s"o_month=$month"))

    // fsck reports + clears the loser's delta dir and the dead marker
    val report = KeyedTable.fsck(spark, tbl, repair = false)
    assert(report.orphanDeltas == Seq(ctA) && report.staleInflights == Seq(ctDead))
    val repaired = KeyedTable.fsck(spark, tbl)
    assert(repaired.orphanDeltas == Seq(ctA) && repaired.staleInflights == Seq(ctDead))
    assert(KeyedTable.fsck(spark, tbl, repair = false).clean)

    // the retry path: re-apply through the public API on the new tip
    KeyedTable.upsert(spark, tbl, base
      .filter(col("o_month") === month && col("o_orderkey") % 5 === 0)
      .select(dataCols: _*).withColumn("o_orderstatus", lit("AA")))
    assert(KeyedTable.read(spark, tbl).filter(col("o_orderstatus") === "AA").count() > 0)
  }

  test("disjoint writers interleave: slower writer publishes under the tip") {
    val (tbl, c0) = bootstrapTable(tmpDir("occ-disjoint"), "occ_disjoint")

    val ctA = CommitLog.newCommitTime()
    val infoA = stageDelta(tbl, ctA, "1995-02", "AA")

    val base = KeyedTable.read(spark, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(spark, tbl, base
      .filter(col("o_month") === "1995-01" && col("o_orderkey") % 2 === 0)
      .select(dataCols: _*).withColumn("o_orderstatus", lit("BB")))

    // B landed with a NEWER instant; A's publish of an older instant on a
    // disjoint partition must succeed (per-partition ordering is intact)
    CommitLog.write(spark, tbl, infoA, baseInstant = Some(c0))

    val snap = KeyedTable.read(spark, tbl)
    assert(snap.filter(col("o_orderstatus") === "AA" && col("o_month") === "1995-02").count() > 0)
    assert(snap.filter(col("o_orderstatus") === "BB" && col("o_month") === "1995-01").count() > 0)
    assert(KeyedTable.fsck(spark, tbl, repair = false).clean)
  }

  test("a concurrent schema change conflicts with EVERY in-flight writer (no silent revert)") {
    val (tbl, c0) = bootstrapTable(tmpDir("occ-schema"), "occ_schema")

    // writer A stages on a disjoint partition with the PRE-alter schema
    val ctA = CommitLog.newCommitTime()
    val infoA = stageDelta(tbl, ctA, "1995-02", "AA",
      baseCommits = CommitLog.commits(spark, tbl).map(_.commitTime))

    // an alter_schema lands while A is in flight
    KeyedTable.addColumns(spark, tbl, Seq(
      org.apache.spark.sql.types.StructField("o_note",
        org.apache.spark.sql.types.StringType)))
    val evolved = CommitLog.requireState(spark, tbl).latest.schemaDdl
    assert(evolved.contains("o_note"))

    // A's publish would stamp its STALE schemaDdl as the new latest,
    // silently dropping o_note — it must abort retryably instead
    val e = intercept[graft.model.CommitConflictException] {
      CommitLog.write(spark, tbl, infoA, baseInstant = Some(c0))
    }
    assert(e.getMessage.contains("Retryable"))
    // the added column survived; the timeline holds no stale-schema commit
    assert(CommitLog.requireState(spark, tbl).latest.schemaDdl.contains("o_note"))

    // and the retry path works: re-derived against the evolved schema,
    // the same logical write (fresh instant, fresh base) publishes fine
    KeyedTable.fsck(spark, tbl)
    val base = KeyedTable.read(spark, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(spark, tbl, base
      .filter(col("o_month") === "1995-02" && col("o_orderkey") % 5 === 0)
      .select(dataCols: _*).withColumn("o_orderstatus", lit("AA")))
    val snap = KeyedTable.read(spark, tbl)
    assert(snap.columns.contains("o_note"))
    assert(snap.filter(col("o_orderstatus") === "AA").count() > 0)
  }

  test("a metadata-only RENAME (physical ddl unchanged) still conflicts with in-flight writers") {
    val (tbl, c0) = bootstrapTable(tmpDir("occ-rename"), "occ_rename")
    val ddlBefore = CommitLog.requireState(spark, tbl).latest.schemaDdl

    val ctA = CommitLog.newCommitTime()
    val infoA = stageDelta(tbl, ctA, "1995-02", "AA",
      baseCommits = CommitLog.commits(spark, tbl).map(_.commitTime))

    // the rename lands while A is in flight: schemaDdl is IDENTICAL (the
    // mapping is the only change), so only the alter_schema operation rule
    // can catch it — A's statement resolved against the old logical names
    KeyedTable.renameColumn(spark, tbl, "o_orderstatus", "status")
    assert(CommitLog.requireState(spark, tbl).latest.schemaDdl === ddlBefore)

    val e = intercept[graft.model.CommitConflictException] {
      CommitLog.write(spark, tbl, infoA, baseInstant = Some(c0))
    }
    assert(e.getMessage.contains("Retryable"))
    KeyedTable.fsck(spark, tbl)
    assert(KeyedTable.read(spark, tbl).columns.contains("status"))
  }

  test("a NON-shedding reclaim campaign batch and a disjoint in-flight append both land; " +
      "only a SHEDDING reclaim serializes against everyone") {
    val (tbl, _) = bootstrapTable(tmpDir("occ-reclaim"), "occ_reclaim")
    KeyedTable.dropColumns(spark, tbl, Seq("o_orderpriority"))
    val afterDrop = CommitLog.requireState(spark, tbl).latest.commitTime

    // writer A (append on 1995-02) goes in flight BEFORE the campaign batch
    val ctA = CommitLog.newCommitTime()
    val infoA = stageDelta(tbl, ctA, "1995-02", "AA",
      baseCommits = CommitLog.commits(spark, tbl).map(_.commitTime))

    // the campaign rewrites a DISJOINT partition while A is in flight; the
    // other partitions still carry the column, so this run does NOT shed
    assert(KeyedTable.reclaim(spark, tbl, Some(Seq("o_month=1995-01"))) ===
      Seq("o_month=1995-01"))
    val mid = CommitLog.requireState(spark, tbl)
    assert(mid.latest.schemaDdl.contains("o_orderpriority")) // ddl intact
    assert(mid.columnMapping.dropped.contains("o_orderpriority"))

    // A publishes with the campaign batch NOVEL in its interval: disjoint
    // partitions + unchanged ddl → lands (before the partition-subset OCC
    // rule, ANY concurrent reclaim aborted every writer)
    CommitLog.write(spark, tbl, infoA, baseInstant = Some(afterDrop))
    assert(KeyedTable.read(spark, tbl)
      .filter(col("o_orderstatus") === "AA" && col("o_month") === "1995-02").count() > 0)
    assert(KeyedTable.fsck(spark, tbl, repair = false).clean)

    // --- info side, shedding: a reclaim whose commit SHEDS the ddl must
    // abort when ANY novel commit (even a disjoint append) landed — the
    // append null-fills the still-physical column into new files, which
    // invalidates the shed decision
    val st2 = CommitLog.requireState(spark, tbl)
    val physical = StructType.fromDDL(st2.latest.schemaDdl)
    val shedDdl = StructType(
      physical.filterNot(_.name == "o_orderpriority").toArray).toDDL
    def reclaimInfo(ct: String, ddl: String) = CommitInfo(
      commitTime = ct, operation = "reclaim", tableName = st2.latest.tableName,
      tableType = st2.latest.tableType, keyFields = st2.latest.keyFields,
      precombineField = st2.latest.precombineField,
      partitionFields = st2.latest.partitionFields,
      partitions = Seq(PartitionEntry("o_month=1995-03", "native", 0L)),
      recordCount = 0L, schemaDdl = ddl, sourcePath = None)
    val ctShed = CommitLog.newCommitTime()
    CommitLog.beginInflight(spark, tbl, ctShed, "reclaim", Seq("o_month=1995-03"),
      baseCommits = CommitLog.commits(spark, tbl).map(_.commitTime))
    // a disjoint public append lands while the shedding run is in flight
    val base = KeyedTable.read(spark, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(spark, tbl, base
      .filter(col("o_month") === "1995-01" && col("o_orderkey") % 7 === 0)
      .select(dataCols: _*).withColumn("o_orderstatus", lit("BB")))
    val e = intercept[CommitConflictException] {
      CommitLog.write(spark, tbl, reclaimInfo(ctShed, shedDdl),
        baseInstant = Some(st2.latest.commitTime))
    }
    assert(e.getMessage.contains("Retryable"))
    KeyedTable.fsck(spark, tbl)

    // --- info side, non-shedding: the SAME interleave with an unchanged
    // ddl is just a bounded partition rewrite — it lands
    val st3 = CommitLog.requireState(spark, tbl)
    val ctCamp = CommitLog.newCommitTime()
    CommitLog.beginInflight(spark, tbl, ctCamp, "reclaim", Seq("o_month=1995-03"),
      baseCommits = CommitLog.commits(spark, tbl).map(_.commitTime))
    KeyedTable.upsert(spark, tbl, base
      .filter(col("o_month") === "1995-01" && col("o_orderkey") % 11 === 0)
      .select(dataCols: _*).withColumn("o_orderstatus", lit("CC")))
    CommitLog.write(spark, tbl, reclaimInfo(ctCamp, st2.latest.schemaDdl),
      baseInstant = Some(st3.latest.commitTime))
    assert(CommitLog.commits(spark, tbl).exists(c =>
      c.commitTime == ctCamp && c.operation == "reclaim"))
  }

  test("a publish whose base instant left the active log aborts instead of degrading") {
    val (tbl, c0) = bootstrapTable(tmpDir("occ-basegone"), "occ_basegone")
    // one more commit so there is a non-bootstrap base to roll back
    val base = KeyedTable.read(spark, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(spark, tbl, base
      .filter(col("o_month") === "1995-02" && col("o_orderkey") % 2 === 0)
      .select(dataCols: _*).withColumn("o_orderstatus", lit("B1")))
    val b = CommitLog.requireState(spark, tbl).latest.commitTime

    // writer A bases on b, then a concurrent rollback REMOVES b
    val ctA = CommitLog.newCommitTime()
    val infoA = stageDelta(tbl, ctA, "1995-03", "AA",
      baseCommits = CommitLog.commits(spark, tbl).map(_.commitTime))
    KeyedTable.rollback(spark, tbl, c0)
    assert(!CommitLog.commits(spark, tbl).exists(_.commitTime == b))

    // A derived its images from a snapshot that no longer exists — the
    // publish must abort retryably, not fall back to overlap-only checking
    val e = intercept[graft.model.CommitConflictException] {
      CommitLog.write(spark, tbl, infoA, baseInstant = Some(b))
    }
    assert(e.getMessage.contains("no longer in the active commit log"))
    KeyedTable.fsck(spark, tbl)
    assert(KeyedTable.fsck(spark, tbl, repair = false).clean)
  }

  test("conflict detected against a commit published BELOW the writer's base instant") {
    val (tbl, c0) = bootstrapTable(tmpDir("occ-ooo"), "occ_ooo")
    val month = "1995-01"

    // slow writer C allocates its instant early and stages on month M
    val ctC = CommitLog.newCommitTime()
    val infoC = stageDelta(tbl, ctC, month, "CC", baseCommits = Seq(c0))

    // writer D lands on a DIFFERENT month with a newer instant
    val base = KeyedTable.read(spark, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(spark, tbl, base
      .filter(col("o_month") === "1995-02" && col("o_orderkey") % 2 === 0)
      .select(dataCols: _*).withColumn("o_orderstatus", lit("DD")))
    val d = CommitLog.commits(spark, tbl).map(_.commitTime).last
    assert(ctC < d)

    // writer A reads its base NOW (sees c0 and d, not C) and stages on M
    val ctA = CommitLog.newCommitTime()
    val infoA = stageDelta(tbl, ctA, month, "AA", baseCommits = Seq(c0, d))

    // C publishes: disjoint from d, legal, lands with an instant BELOW d
    CommitLog.write(spark, tbl, infoC, baseInstant = Some(c0))
    assert(CommitLog.commits(spark, tbl).map(_.commitTime).sorted.indexOf(ctC) == 1)

    // A's base instant is d > ctC — an instant-order check would miss C's
    // commit entirely; the marker's base-commit set catches it
    val e = intercept[CommitConflictException] {
      CommitLog.write(spark, tbl, infoA, baseInstant = Some(d))
    }
    assert(e.getMessage.contains(ctC))
    // A's staged delta never became visible; C's did
    val snap = KeyedTable.read(spark, tbl)
    assert(snap.filter(col("o_orderstatus") === "AA").count() == 0)
    assert(snap.filter(col("o_orderstatus") === "CC").count() > 0)
    KeyedTable.fsck(spark, tbl)
    assert(KeyedTable.fsck(spark, tbl, repair = false).clean)
  }

  test("fsck sweeps a crashed append's commit-stamped files out of shared partition dirs") {
    val (tbl, _) = bootstrapTable(tmpDir("occ-append"), "occ_append")
    val month = "1995-01"
    val pp = s"o_month=$month"
    val before = KeyedTable.read(spark, tbl).count()

    // emulate an append that died after moving files in but before publish:
    // marker present, a stamped data file interleaved in the partition dir
    val fs = CommitLog.fs(spark, tbl)
    val ct = CommitLog.newCommitTime()
    CommitLog.beginInflight(spark, tbl, ct, "bulk_insert", Seq(pp))
    val partDir = new org.apache.hadoop.fs.Path(s"$tbl/$pp")
    val existing = fs.listStatus(partDir)
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, existing, fs,
      new org.apache.hadoop.fs.Path(partDir, s"append-$ct-0.parquet"),
      false, spark.sparkContext.hadoopConfiguration)

    // the leak is visible (that's the failure mode) …
    assert(KeyedTable.read(spark, tbl).count() > before)
    // … and fsck identifies the dead writer and removes exactly its files
    val report = KeyedTable.fsck(spark, tbl)
    assert(report.staleInflights == Seq(ct))
    assert(KeyedTable.read(spark, tbl).count() == before)
    assert(KeyedTable.fsck(spark, tbl, repair = false).clean)
  }

  test("same instant cannot be staged twice") {
    val (tbl, _) = bootstrapTable(tmpDir("occ-instant"), "occ_instant")
    val ct = CommitLog.newCommitTime()
    CommitLog.beginInflight(spark, tbl, ct, "delta_commit", Seq("1995-01"))
    intercept[java.io.IOException] {
      CommitLog.beginInflight(spark, tbl, ct, "delta_commit", Seq("1995-02"))
    }
    CommitLog.clearInflight(spark, tbl, ct)
  }

  test("concurrent threads on disjoint partitions all succeed; same-partition conflicts retry to convergence") {
    val (tbl, _) = bootstrapTable(tmpDir("occ-threads"), "occ_threads")
    val base = KeyedTable.read(spark, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)

    def writer(month: String, status: String): java.util.concurrent.Future[Boolean] =
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          start.await()
          var attempts = 0
          var done = false
          while (!done) {
            attempts += 1
            assert(attempts <= 5, s"writer $status did not converge")
            try {
              KeyedTable.upsert(spark, tbl, KeyedTable.read(spark, tbl)
                .filter(col("o_month") === month && col("o_orderkey") % 3 === 0)
                .select(dataCols: _*).withColumn("o_orderstatus", lit(status)))
              done = true
            } catch {
              case _: CommitConflictException => KeyedTable.fsck(spark, tbl)
            }
          }
          true
        }
      })

    // two disjoint months and one deliberate same-month contender
    val fs = Seq(writer("1995-03", "T1"), writer("1995-04", "T2"))
    start.countDown()
    fs.foreach(_.get(300, TimeUnit.SECONDS))
    val f3 = writer("1995-03", "T3"); start.countDown(); f3.get(300, TimeUnit.SECONDS)
    pool.shutdown()

    val snap = KeyedTable.read(spark, tbl)
    // T3 overwrote T1 rows (same keys, later commit wins at read-merge)
    assert(snap.filter(col("o_orderstatus") === "T3").count() > 0)
    assert(snap.filter(col("o_orderstatus") === "T2").count() > 0)
    assert(KeyedTable.fsck(spark, tbl, repair = false).clean)
  }

  test("a rewrite yields BEFORE its swap to an earlier overlapping in-flight writer") {
    // COW table: its upserts REWRITE partitions through stageAndSwap, the
    // path the pre-swap guard protects (MOR upserts only append deltas)
    val dir = tmpDir("yield")
    val tbl = s"$dir/tbl"
    val in = s"$dir/in"
    spark.read.parquet(sf("orders"))
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.mode("overwrite").parquet(in)
    KeyedTable.bootstrap(spark, BootstrapConfig(
      dataFilePath = in, tablePath = tbl, tableName = "yield_t",
      keyFields = Seq("o_orderkey"), precombineField = "o_orderdate",
      partitionFields = Seq("o_month"), tableType = TableType.CopyOnWrite))
    val month = KeyedTable.read(spark, tbl)
      .select("o_month").orderBy("o_month").head().getString(0)
    val dataCols = KeyedTable.read(spark, tbl).columns
      .filterNot(_.startsWith("_")).map(col).toSeq

    // an EARLIER writer's marker on the same partition (a concurrent rewrite
    // mid-swap, or a dead one): the later rewrite must abort before touching
    // live data — the interleaving where the later writer swaps over the
    // earlier one's work is what poisons both archives
    val rivalCt = "19700101000000000"
    CommitLog.beginInflight(spark, tbl, rivalCt, "upsert", Seq(s"o_month=$month"))
    val batch = KeyedTable.read(spark, tbl)
      .filter(col("o_month") === month && col("o_orderkey") % 7 === 0)
      .select(dataCols: _*).withColumn("o_orderstatus", lit("Y"))
    val preRead = KeyedTable.read(spark, tbl)
      .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey").collect()

    val e = intercept[CommitConflictException] {
      KeyedTable.upsert(spark, tbl, batch)
    }
    assert(e.getMessage.contains("yields before swap"))
    // nothing leaked: no archive, no staging, reads unchanged
    assert(KeyedTable.read(spark, tbl)
      .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey").collect() === preRead)

    // clearing the rival (fsck's job for a dead writer) unblocks the retry
    KeyedTable.fsck(spark, tbl)
    KeyedTable.upsert(spark, tbl, batch)
    assert(KeyedTable.read(spark, tbl).filter(col("o_orderstatus") === "Y").count() > 0)
    assert(KeyedTable.fsck(spark, tbl, repair = false).clean)
  }

  test("file lease: atomic acquire, held blocks, expiry steals with a higher token, fsck sweeps") {
    val (tbl, _) = bootstrapTable(tmpDir("lock"), "lock_t")

    // acquire / held / release round-trip
    val l1 = TableLock.tryAcquire(spark, tbl, "writer-A").get
    assert(TableLock.tryAcquire(spark, tbl, "writer-B").isEmpty)
    assert(TableLock.stillHeld(spark, tbl, l1))
    TableLock.release(spark, tbl, l1)
    assert(TableLock.current(spark, tbl).isEmpty)

    // a foreign holder blocks the whole write path with a retryable conflict
    spark.conf.set("spark.graft.lock.acquireTimeoutMs", "400")
    try {
      val foreign = TableLock.tryAcquire(spark, tbl, "other-process").get
      val base = KeyedTable.read(spark, tbl)
      val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
      val e = intercept[CommitConflictException] {
        KeyedTable.upsert(spark, tbl, base.limit(5)
          .select(dataCols: _*).withColumn("o_orderstatus", lit("Z")))
      }
      assert(e.getMessage.contains("could not acquire the table lock"))
      assert(KeyedTable.read(spark, tbl).filter(col("o_orderstatus") === "Z").count() === 0)
      TableLock.release(spark, tbl, foreign)
    } finally spark.conf.unset("spark.graft.lock.acquireTimeoutMs")

    // an EXPIRED lease is stolen, and the thief's fencing token is higher
    spark.conf.set("spark.graft.lock.ttlMs", "1")
    val dying = TableLock.tryAcquire(spark, tbl, "dying-writer").get
    spark.conf.unset("spark.graft.lock.ttlMs")
    Thread.sleep(5)
    val thief = TableLock.tryAcquire(spark, tbl, "thief").get
    assert(thief.token > dying.token)
    assert(!TableLock.stillHeld(spark, tbl, dying)) // the fencing check the publisher runs
    TableLock.release(spark, tbl, thief)

    // fsck sweeps an expired lease a dead writer left behind
    spark.conf.set("spark.graft.lock.ttlMs", "1")
    TableLock.tryAcquire(spark, tbl, "dead-writer")
    spark.conf.unset("spark.graft.lock.ttlMs")
    Thread.sleep(5)
    val report = KeyedTable.fsck(spark, tbl, repair = false)
    assert(report.expiredLocks === Seq("dead-writer"))
    KeyedTable.fsck(spark, tbl)
    assert(TableLock.current(spark, tbl).isEmpty)
    assert(KeyedTable.fsck(spark, tbl, repair = false).clean)

    // normal writes acquire and fully release the lease
    val base = KeyedTable.read(spark, tbl)
    val dataCols = base.columns.filterNot(_.startsWith("_")).map(col).toSeq
    KeyedTable.upsert(spark, tbl, base.limit(5)
      .select(dataCols: _*).withColumn("o_orderstatus", lit("W")))
    assert(TableLock.current(spark, tbl).isEmpty)
  }

  test("lease heartbeat renewal keeps a slow publish alive past its original TTL") {
    val (tbl, _) = bootstrapTable(tmpDir("lock-renew"), "lock_renew")
    spark.conf.set("spark.graft.lock.ttlMs", "700")
    try {
      // WITHOUT renewal: the lease expires and a competitor steals — the
      // slow publisher's fencing check then aborts retryably
      val stale = TableLock.tryAcquire(spark, tbl, "no-heartbeat").get
      Thread.sleep(900)
      assert(!TableLock.stillHeld(spark, tbl, stale))
      val thief = TableLock.tryAcquire(spark, tbl, "thief").get
      assert(thief.token > stale.token)
      TableLock.release(spark, tbl, thief)

      // WITH renewal: the lease stays the live governing lease well past the
      // original TTL, competitors stay blocked the whole time
      var held = TableLock.tryAcquire(spark, tbl, "heartbeat").get
      val originalExpiry = held.expiresAt
      (1 to 5).foreach { _ =>
        Thread.sleep(300)
        val r = TableLock.renew(spark, tbl, held)
        assert(r.isDefined, "renewal of a live held lease must succeed")
        held = r.get
        assert(TableLock.tryAcquire(spark, tbl, "interloper").isEmpty)
      }
      // 1.5s elapsed > 700ms TTL, still held, expiry moved forward
      assert(TableLock.stillHeld(spark, tbl, held))
      assert(held.expiresAt > originalExpiry)
      // renewing a superseded lease refuses (the fencing semantics survive)
      assert(TableLock.renew(spark, tbl, stale).isEmpty)
      TableLock.release(spark, tbl, held)

      // the WRITE PATH heartbeat: a lease taken by the pre-swap guard is
      // auto-renewed by the background beat, so a publish slower than the
      // TTL is not fenced by its own lock
      val ct = CommitLog.newCommitTime()
      CommitLog.beginInflight(spark, tbl, ct, "upsert", Seq.empty,
        baseCommits = CommitLog.commits(spark, tbl).map(_.commitTime))
      CommitLog.assertSwapSafe(spark, tbl, ct, Seq.empty) // acquires + starts heartbeat
      try {
        Thread.sleep(1200) // > TTL: without the heartbeat this lease is dead
        val cur = TableLock.current(spark, tbl)
        assert(cur.exists(l => l.owner == ct &&
          l.expiresAt >= System.currentTimeMillis()), "heartbeat must keep the lease live")
        assert(TableLock.tryAcquire(spark, tbl, "squatter").isEmpty)
      } finally {
        CommitLog.releaseLease(spark, tbl, ct)
        CommitLog.clearInflight(spark, tbl, ct)
      }
      assert(TableLock.current(spark, tbl).isEmpty)
    } finally spark.conf.unset("spark.graft.lock.ttlMs")
  }

  test("concurrent property writers never drop each other's keys " +
      "(user set_property racing a maintenance-hook cursor write)") {
    val dir = tmpDir("props-race")
    val (tbl, _) = bootstrapTable(dir, "props_race")
    // the r10 failure shape: a hook's cursor RMW racing a user's flag RMW —
    // under last-writer-wins one silently reverts the other. 8 threads × 5
    // rounds of disjoint-key set/unset; every final key must reflect ITS
    // writer, not a stale snapshot from another's read.
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until 8).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try (1 to 5).foreach { r =>
            TableProperties.set(spark, tbl, Map(s"writer.$i" -> s"round-$r"))
          } catch { case t: Throwable => failures.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"property writers failed: ${failures.peek()}")
    val props = TableProperties.get(spark, tbl)
    (0 until 8).foreach { i =>
      assert(props.get(s"writer.$i") === Some("round-5"),
        s"writer.$i lost its final write — concurrent RMW dropped a key")
    }
    // racing set against unset of DISJOINT keys: the survivor set is exact
    val pool2 = Executors.newFixedThreadPool(2)
    val start2 = new CountDownLatch(1)
    pool2.submit(new Runnable { def run(): Unit = {
      start2.await()
      (1 to 5).foreach(_ => TableProperties.set(spark, tbl, Map("keep.me" -> "yes")))
    }})
    pool2.submit(new Runnable { def run(): Unit = {
      start2.await()
      (0 until 8).foreach(i => TableProperties.unset(spark, tbl, Seq(s"writer.$i")))
    }})
    start2.countDown()
    pool2.shutdown()
    assert(pool2.awaitTermination(60, TimeUnit.SECONDS))
    val after = TableProperties.get(spark, tbl)
    assert(after.get("keep.me") === Some("yes"))
    (0 until 8).foreach(i => assert(!after.contains(s"writer.$i")))
  }

  test("mergeRows with a PINNED base detects a commit landed after the pinned " +
      "read; an unpinned merge absorbs it silently - the TOCTOU readPinned closes") {
    Seq(TableType.MergeOnRead, TableType.CopyOnWrite).foreach { tableType =>
      val dir = tmpDir("pinned-merge")
      val (tbl, _) = bootstrapTable(dir, "pinned_merge", tableType)
      val src = spark.read.parquet(sf("orders"))
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      val one = src.orderBy("o_orderkey").limit(1)
      val noDels = one.filter(lit(false)).select("o_orderkey", "o_month")
      // the read-modify-write writer pins the snapshot its images derive from...
      val (st0, _) = KeyedTable.readPinned(spark, tbl)
      // ...and a rival lands a commit on the same partition before it publishes
      KeyedTable.upsert(spark, tbl, one)
      val committed = CommitLog.commits(spark, tbl).map(_.commitTime).toSet
      // stale-based merge: the rival's commit is NOT in the pinned base and
      // overlaps this merge's partition, so the publish aborts retryably -
      // deterministically, regardless of thread interleavings
      intercept[CommitConflictException] {
        KeyedTable.mergeRows(spark, tbl, noDels, one, base = Some(st0))
      }
      // the loser cleans up after itself: no commit, no delta batch, no
      // inflight marker, nothing for fsck to repair
      assert(CommitLog.commits(spark, tbl).map(_.commitTime).toSet === committed, tableType.name)
      assert(Deltas.liveCommits(spark, tbl).forall(committed), tableType.name)
      assert(CommitLog.inflights(spark, tbl).isEmpty, tableType.name)
      assert(KeyedTable.fsck(spark, tbl, repair = false).clean, tableType.name)
      // contrast: without the pin, mergeRows reads a FRESH base at entry - the
      // rival is absorbed and the stale images land with no conflict anywhere
      // (correct for plain merges; fatal for read-derived ones - hence the pin)
      KeyedTable.mergeRows(spark, tbl, noDels, one)
    }
  }

  test("create stamps birth properties atomically with the table - fresh AND " +
      "replace paths, so a create-then-set crash window cannot exist") {
    val dir = tmpDir("create-props")
    val tbl = s"$dir/tbl"
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    KeyedTable.create(spark, tbl, df, tableName = "birth_props",
      keyFields = Seq("k"), precombineField = "k",
      tableType = TableType.MergeOnRead,
      properties = Map("compact.auto" -> "true", "custom.stamp" -> "x"))
    assert(TableProperties.get(spark, tbl)
      === Map("compact.auto" -> "true", "custom.stamp" -> "x"))
    // replace path: the rebuild's stamps land wholesale (the old table's
    // properties travel aside with it - a rebuilt index must not inherit
    // stamps describing retired parameters)
    KeyedTable.create(spark, tbl, df, tableName = "birth_props",
      keyFields = Seq("k"), precombineField = "k",
      tableType = TableType.MergeOnRead,
      properties = Map("custom.stamp" -> "y"))
    assert(TableProperties.get(spark, tbl) === Map("custom.stamp" -> "y"))
  }

  test("concurrent maintenance hooks for different services both keep their journal rows") {
    val dir = tmpDir("maint-race")
    val (tbl, _) = bootstrapTable(dir, "maint_race")
    // two services journaling concurrently (index.auto in writer A,
    // compact.auto in writer B): without the shared mutex each stale read
    // rewrites the file minus the OTHER service's latest row
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    Seq("index.auto", "compact.auto").foreach { svc =>
      pool.submit(new Runnable { def run(): Unit = {
        start.await()
        (1 to 10).foreach(r =>
          MaintenanceLog.record(spark, tbl, svc, "upsert", "ok", s"run-$r"))
      }})
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    val rows = MaintenanceLog.read(spark, tbl)
    assert(rows.map(_.service).sorted === Seq("compact.auto", "index.auto"))
    // per-service last-writer-wins still stands: each row is ITS latest run
    rows.foreach(e => assert(e.detail === "run-10", s"${e.service} lost its tail write"))
  }
}
