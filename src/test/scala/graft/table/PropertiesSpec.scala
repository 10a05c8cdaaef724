package graft.table

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.model.{BootstrapConfig, TableType}

/** Randomized invariants (SURVEY §5): fixed-seed scenario generation, so
  * failures reproduce. Each property runs several independent random
  * scenarios over a small keyed table.
  *
  * Invariants:
  *  - upsert idempotence: re-applying a batch is a no-op on table state
  *  - precombine max-wins: the surviving row per key is the argmax of
  *    (precombine, deterministic tiebreak) across base ∪ all batches
  *  - MOR ≡ COW: any op sequence (upsert/delete/compact) yields the same
  *    logical state on both table types
  *  - resume reconciliation: deleting any partition subset and re-running
  *    with resume=true restores exactly the full count
  */
class PropertiesSpec extends SparkTestBase {
  import spark.implicits._

  case class R(id: Long, ver: Long, v: String, p: String)

  private def mkDf(rows: Seq[(Long, Long, String, String)]): DataFrame =
    rows.toDF("id", "ver", "v", "p")

  private def bootstrap(rows: Seq[(Long, Long, String, String)], tt: TableType): String = {
    val in = tmpDir("in")
    mkDf(rows).write.mode("overwrite").parquet(in)
    val table = tmpDir("tbl")
    KeyedTable.bootstrap(spark, BootstrapConfig(
      dataFilePath = in, tablePath = table, tableName = "prop_t",
      keyFields = Seq("id"), precombineField = "ver",
      partitionFields = Seq("p"), tableType = tt))
    table
  }

  private def stateOf(table: String): Seq[(Long, Long, String, String)] =
    KeyedTable.read(spark, table).select("id", "ver", "v", "p")
      .as[(Long, Long, String, String)].collect().toSeq.sorted

  private def randRows(rnd: Random, n: Int, keyRange: Int): Seq[(Long, Long, String, String)] =
    (1 to n).map { _ =>
      val id = rnd.nextInt(keyRange).toLong
      (id, rnd.nextInt(100).toLong, s"v${rnd.nextInt(1000)}", s"p${id % 3}")
    }

  test("property: upsert is idempotent on table state") {
    val rnd = new Random(11)
    for (round <- 1 to 3) {
      val base = (0 until 15).map(i => (i.toLong, 0L, s"b$i", s"p${i % 3}"))
      val table = bootstrap(base, TableType.CopyOnWrite)
      val batch = randRows(rnd, 10, 20)
      KeyedTable.upsert(spark, table, mkDf(batch))
      val once = stateOf(table)
      KeyedTable.upsert(spark, table, mkDf(batch))
      assert(stateOf(table) === once, s"round $round, batch $batch")
    }
  }

  test("property: precombine max-wins across base and batches") {
    val rnd = new Random(22)
    for (round <- 1 to 3) {
      val base = (0 until 12).map(i => (i.toLong, rnd.nextInt(50).toLong, s"b$i", s"p${i % 3}"))
      val table = bootstrap(base, TableType.CopyOnWrite)
      val batches = Seq.fill(rnd.nextInt(3) + 1)(randRows(rnd, 8, 12))
      batches.foreach(b => KeyedTable.upsert(spark, table, mkDf(b)))

      // model: fold batches in order; within a batch and against the table,
      // greater (ver, v-desc tiebreak) wins; equal-or-lower ver still
      // replaces only if it won its batch (upsert replaces matched keys
      // with the batch winner regardless of the stored version — Hudi
      // semantics: precombine orders within the batch, not vs the table)
      def batchWinners(b: Seq[(Long, Long, String, String)]) =
        b.groupBy(r => (r._1, r._4)).map { case (_, rs) => rs.maxBy(r => (r._2, r._3)) }
      val model = batches.foldLeft(
        base.map(r => (r._1, r._4) -> r).toMap) { (acc, b) =>
        acc ++ batchWinners(b).map(r => (r._1, r._4) -> r)
      }.values.toSeq.sorted
      assert(stateOf(table) === model, s"round $round")
    }
  }

  test("property: MOR and COW converge to the same state under random op sequences") {
    val rnd = new Random(33)
    for (round <- 1 to 3) {
      val base = (0 until 15).map(i => (i.toLong, 0L, s"b$i", s"p${i % 3}"))
      val tMor = bootstrap(base, TableType.MergeOnRead)
      val tCow = bootstrap(base, TableType.CopyOnWrite)
      for (_ <- 0 until rnd.nextInt(3) + 2) {
        rnd.nextInt(3) match {
          case 0 | 1 =>
            val b = randRows(rnd, 6, 18)
            KeyedTable.upsert(spark, tMor, mkDf(b))
            KeyedTable.upsert(spark, tCow, mkDf(b))
          case 2 =>
            // delete keys that exist right now (same snapshot on both)
            val del = KeyedTable.read(spark, tCow).select("id", "p")
              .orderBy("id", "p").limit(rnd.nextInt(3) + 1)
            KeyedTable.delete(spark, tMor, del)
            KeyedTable.delete(spark, tCow, del)
        }
        if (rnd.nextBoolean()) KeyedTable.compact(spark, tMor)
      }
      assert(stateOf(tMor) === stateOf(tCow), s"round $round")
    }
  }

  test("property: mergeRows yields identical states on COW and MOR and matches the relational recompute") {
    val rnd = new Random(47)
    for (round <- 1 to 4) {
      val base = (0 until 24).map(i => (i.toLong, 0L, s"b$i", s"p${i % 3}"))
      val cow = bootstrap(base, TableType.CopyOnWrite)
      val mor = bootstrap(base, TableType.MergeOnRead)

      // random single-statement merge: some deletes, some full-row images
      // (updates of existing keys + inserts of new ones), with a deliberate
      // delete∩image overlap so the image-beats-tombstone rule is exercised
      val delIds = (0 until 24).filter(_ => rnd.nextBoolean()).map(_.toLong)
      // distinct ver per image row: same-id images then have a DETERMINISTIC
      // precombine winner (dedupByKey breaks exact ties arbitrarily)
      val images = randRows(rnd, 14, 36).zipWithIndex.map { case ((id, _, v, _), i) =>
        (id, (i + 1).toLong, v, s"p${id % 3}") // ver ≥ 1: images beat base rows
      }
      val dels = mkDf(delIds.map(id => (id, 0L, "", s"p${id % 3}")))
        .select(col("id"), col("p"))
      val imgDf = mkDf(images)

      Seq(cow, mor).foreach(t => KeyedTable.mergeRows(spark, t, dels, imgDf))
      val sCow = stateOf(cow)
      val sMor = stateOf(mor)
      assert(sCow === sMor, s"round $round: COW and MOR merge states diverge")

      // relational recompute: per (id, p) the precombine-max image wins;
      // base rows survive unless deleted or replaced by an image
      val imgWinners = images.groupBy(r => (r._1, r._4)).map { case (_, rs) =>
        rs.maxBy(r => (r._2, r._3)) // (ver, v) — dedupByKey's tiebreak order
      }.toSeq
      val imgIds = imgWinners.map(r => (r._1, r._4)).toSet
      val deleted = delIds.map(id => (id, s"p${id % 3}")).toSet
      val expected = (base.filterNot(r => deleted((r._1, r._4)) || imgIds((r._1, r._4))) ++
        imgWinners).sorted
      assert(sCow === expected, s"round $round: merge state differs from recompute")

      // the statement was ONE commit on both table types
      Seq(cow, mor).foreach { t =>
        val ops = CommitLog.commits(spark, t).map(_.operation)
        assert(ops === Seq("bootstrap", "merge"))
      }
    }
  }

  test("property: readAsOf reproduces every historical state; rollback rewinds to it; CDC replays to tip") {
    val rnd = new Random(55)
    for ((tt, round) <- Seq(TableType.CopyOnWrite, TableType.MergeOnRead).zipWithIndex) {
      val base = (0 until 15).map(i => (i.toLong, 0L, s"b$i", s"p${i % 3}"))
      val table = bootstrap(base, tt)
      // history = (commitTime, logical state) after every commit
      var history = Seq(CommitLog.commits(spark, table).last.commitTime -> stateOf(table))
      for (_ <- 0 until rnd.nextInt(2) + 2) {
        rnd.nextInt(3) match {
          case 0 | 1 => KeyedTable.upsert(spark, table, mkDf(randRows(rnd, 6, 18)))
          case 2 =>
            val del = KeyedTable.read(spark, table).select("id", "p")
              .orderBy("id", "p").limit(rnd.nextInt(3) + 1)
            KeyedTable.delete(spark, table, del)
        }
        history :+= CommitLog.commits(spark, table).last.commitTime -> stateOf(table)
        if (rnd.nextBoolean()) KeyedTable.compact(spark, table)
      }
      val tip = stateOf(table)

      // 1. time travel: every recorded instant reproduces its state
      history.foreach { case (ct, st) =>
        val got = KeyedTable.readAsOf(spark, table, ct)
          .select("id", "ver", "v", "p").as[(Long, Long, String, String)]
          .collect().toSeq.sorted
        assert(got === st, s"$tt readAsOf($ct)")
      }

      // 2. CDC replay: snapshot(t) − deletes + upserts == snapshot(tip)
      val (sinceCt, sinceState) = history(rnd.nextInt(history.size))
      val changes = KeyedTable.readChanges(spark, table, sinceCt)
        .select(col("id"), col("p"), col("ver"), col("v"), col(KeyedTable.ChangeOp))
        .collect()
      val delKeys = changes.filter(_.getString(4) == "delete")
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val upserts = changes.filter(_.getString(4) == "upsert")
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(0), r.getLong(2), r.getString(3), r.getString(1)))
        .toMap
      val replayed = (sinceState.map(r => (r._1, r._4) -> r).toMap
        -- delKeys ++ upserts).values.toSeq.sorted
      assert(replayed === tip, s"$tt CDC replay since $sinceCt")

      // 3. rollback to a random instant rewinds the live table to that state
      val (rbCt, rbState) = history(rnd.nextInt(history.size))
      KeyedTable.rollback(spark, table, rbCt)
      assert(stateOf(table) === rbState, s"$tt rollback($rbCt) round $round")
    }
  }

  test("property: savepointed snapshots survive random rewrites with zero-retention cleaning") {
    val rnd = new Random(77)
    for (tt <- Seq(TableType.CopyOnWrite, TableType.MergeOnRead)) {
      val base = (0 until 15).map(i => (i.toLong, 0L, s"b$i", s"p${i % 3}"))
      val table = bootstrap(base, tt)
      var pinned = Seq.empty[(String, Seq[(Long, Long, String, String)])]
      for (_ <- 0 until 5) {
        // pin a random subset of instants as we go
        if (rnd.nextBoolean()) {
          val ct = CommitLog.commits(spark, table).last.commitTime
          KeyedTable.savepoint(spark, table, ct)
          pinned :+= ct -> stateOf(table)
        }
        rnd.nextInt(3) match {
          case 0 | 1 => KeyedTable.upsert(spark, table, mkDf(randRows(rnd, 6, 18)))
          case 2 =>
            val del = KeyedTable.read(spark, table).select("id", "p")
              .orderBy("id", "p").limit(rnd.nextInt(2) + 1)
            KeyedTable.delete(spark, table, del)
        }
        if (rnd.nextBoolean()) KeyedTable.compact(spark, table)
        // the most aggressive clean possible — only savepoints protect history
        KeyedTable.cleanArchive(spark, table, retainLast = 0)
      }
      // every pinned snapshot is still exactly reconstructable
      pinned.foreach { case (ct, st) =>
        val got = KeyedTable.readAsOf(spark, table, ct)
          .select("id", "ver", "v", "p").as[(Long, Long, String, String)]
          .collect().toSeq.sorted
        assert(got === st, s"$tt savepointed readAsOf($ct)")
      }
      // restore to the OLDEST savepoint rewinds exactly (rollback refuses
      // nothing here: all later commits are rewrites or deltas)
      pinned.headOption.foreach { case (ct, st) =>
        KeyedTable.restore(spark, table, ct)
        assert(stateOf(table) === st, s"$tt restore($ct)")
      }
    }
  }

  test("property: resume restores the full count after any partition subset is lost") {
    val rnd = new Random(44)
    val base = (0 until 30).map(i => (i.toLong, 0L, s"b$i", s"p${i % 5}"))
    val in = tmpDir("in")
    mkDf(base).write.mode("overwrite").parquet(in)
    for (round <- 1 to 3) {
      val table = tmpDir("tbl")
      val cfg = BootstrapConfig(
        dataFilePath = in, tablePath = table, tableName = "prop_t",
        keyFields = Seq("id"), precombineField = "ver", partitionFields = Seq("p"))
      KeyedTable.bootstrap(spark, cfg)
      val victims = (0 until 5).filter(_ => rnd.nextBoolean())
      victims.foreach { i =>
        val d = new java.io.File(s"$table/p=p$i")
        d.listFiles().foreach(_.delete()); d.delete()
      }
      val res = KeyedTable.bootstrap(spark, cfg.copy(resume = true))
      assert(res.tableCount === 30L, s"round $round victims $victims")
      assert(res.partitionsWritten.sorted === victims.map(i => s"p=p$i").sorted)
    }
  }
}
