package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{GraftException, TableType}
import graft.table.KeyedTable

/** Standing INVERTED INDEX as a keyed graft table — the scale leg of text
  * retrieval, the way [[DedupIndex]]/[[AnnIndex]]/[[PqIndex]] are the scale
  * legs of their operators. [[Retrieval.bm25TopK]] re-tokenizes the corpus
  * per query run: correct, but at 100 TB the O(corpus tokens) pass
  * dominates every search. Here the postings persist ONCE, and:
  *
  *  1. [[probe]] serves BM25 from STORAGE touching NOTHING sized by the
  *     corpus: the query-term filter pushes into the posting scan (`term`
  *     is a key prefix — [[optimize]]'s term-clustered layout makes the IN
  *     filter row-group/file-prunable), each posting row carries its doc's
  *     length DENORMALIZED (the textbook posting layout — one extra long
  *     per posting kills the corpus-sized doclen join outright), and
  *     (N, Σdl) come from TWO keyed stats rows maintained transactionally
  *     with every write (never a doclen-partition aggregate). The scoring
  *     core is [[Retrieval.bm25ScoreStored]], bit-identical to the
  *     recompute (spec-pinned);
  *  2. [[phraseTopK]] answers EXACT-PHRASE queries from the stored
  *     positional postings ([[Retrieval.phraseScore]] over candidate docs
  *     only, after the same pushed-IN prune) — bag-of-terms cannot;
  *  3. [[append]] (re)indexes a doc batch with REPLACE semantics: one
  *     mergeRows commit tombstones every existing posting/doclen key of the
  *     batch's ids, lands the new entries AND the updated stats rows — a
  *     re-upserted doc's REMOVED terms stop matching in the same instant
  *     its new terms start, and no probe ever sees half a doc or stale
  *     stats (plain keyed upsert could retire neither);
  *  4. [[remove]] is the takedown leg: all of an id's posting/doclen keys
  *     tombstone in one delta with the stats rows stepping down — the doc
  *     never ranks again (and stops counting toward df/N/avgdl), history
  *     stays `asOf`-able (the x67/x68 compliance posture).
  *
  * Registered as `kind = text` in the [[SyncRegistry]], the index follows
  * its corpus hands-off like the other three. Three OPTIONAL modes stamp
  * at build time and compose (write legs and probes dispatch on the
  * stamps, never on parameters): FIELDED ([[FieldsProp]], BM25F scoring
  * via [[bm25fProbe]]), GROUPED ([[GroupProp]], per-source doc/token
  * stats rows served by [[groupCounts]]), and fielded POSITIONAL
  * ([[PositionsProp]], phrase/proximity over one stamped field).
  * Layout — one table, hive-partitioned by `kind`, keyed (kind, term,
  * id):
  *  - `kind='posting'` rows (term, id = doc id, tf, dl = doc length,
  *    pos = sorted 1-based positions of the term in the doc);
  *  - `kind='doclen'` rows (term = '', id, tf = token count, terms = the
  *    doc's FORWARD list): replace-append/remove enumerate a doc's posting
  *    keys from this ONE key-addressed row instead of scanning the posting
  *    partition — the piece that keeps tombstone sets O(batch docs' rows),
  *    not O(index);
  *  - `kind='stats'` rows (term = 'n' | 'sumdl', id = 0, tf = the value):
  *    corpus size and total length, written in the SAME commit as the data
  *    they describe — asOf probes read the historical pair for free, and a
  *    crash can never strand stats out of step with postings. The stats
  *    read-modify-write is also RACE-safe by construction: every write leg
  *    reads its snapshot PINNED ([[KeyedTable.readPinned]]) and passes that
  *    state to the merge as its OCC base, and every leg touches the
  *    `kind=stats` partition — so ANY commit landing between the stats
  *    read and the publish overlaps the base and aborts the stale writer
  *    (retryable [[graft.model.CommitConflictException]]), no matter how
  *    the interleaving falls: two racing appends serialize instead of
  *    losing one side's (N, Σdl) delta.
  * Indexes built before this layout (no dl/pos columns, no stats rows)
  * must be rebuilt with [[build]] — probe and the write legs refuse them
  * loudly rather than serve silently wrong statistics.
  */
object TextIndex {

  val KindCol = "kind"
  val PostingKind = "posting"
  val DoclenKind = "doclen"
  val StatsKind = "stats"

  private val StatN = "n"
  private val StatSumDl = "sumdl"
  private val StatSumDlField = "sumdl." // fielded: one row per field
  private val StatNGroup = "n." // grouped: one per-group doc-count row
  private val StatTGroup = "nt." // grouped: one per-group token-count row

  /** Table property stamping a FIELDED index's (field name → corpus
    * column) list, `f1=c1,f2=c2`. Its presence IS the mode switch: the
    * registry sync and the write legs dispatch on it (the "derive from
    * storage" rule — a spec or parameter can go stale, the stamp cannot),
    * and the single-field probes refuse fielded tables toward
    * [[bm25fProbe]].
    */
  val FieldsProp = "text.fields"

  /** Table property stamping a GROUPED index's corpus group column (a
    * low-cardinality source/domain tag): doclen rows then carry the doc's
    * group and the stats partition holds one `n.<group>` doc-count row per
    * group value, stepped in the SAME commit as every build/append/remove —
    * the (N, Σdl) stats-row pattern generalized to its second consumer, so
    * [[groupCounts]] serves per-source quota decisions reading NOTHING
    * sized by the corpus. Like [[FieldsProp]], the stamp is the mode
    * switch: the write legs dispatch on it, never on a parameter.
    */
  val GroupProp = "text.group"

  /** Table property naming the ONE field of a FIELDED index that stores
    * positional postings (`buildFielded(positionsFor)`): phrase/proximity
    * probes then serve that field's token stream from the same standing
    * index instead of requiring a second single-field index (the README
    * two-index recipe remains the path for phrase search over SEVERAL
    * fields — per-field positional payloads for all fields would roughly
    * double the posting layout for a query class that targets one field).
    * Derive-from-storage like every mode stamp: append legs read it, the
    * probes dispatch on it.
    */
  val PositionsProp = "text.positions"

  /** The positional field of a FIELDED index, None when it stores none. */
  private[operators] def storedPositions(
      spark: SparkSession, tablePath: String): Option[String] =
    graft.table.TableProperties.get(spark, tablePath).get(PositionsProp)

  /** The stored group column of a GROUPED index, None otherwise. */
  private[operators] def storedGroup(
      spark: SparkSession, tablePath: String): Option[String] =
    graft.table.TableProperties.get(spark, tablePath).get(GroupProp)

  /** The stored field list of a FIELDED index, None for single-field. */
  private[operators] def storedFields(
      spark: SparkSession, tablePath: String): Option[Seq[(String, String)]] =
    graft.table.TableProperties.get(spark, tablePath).get(FieldsProp)
      .map(_.split(",").toSeq.map { kv =>
        val Array(f, c) = kv.split("=", 2)
        (f, c)
      })

  /** All index rows for a doc batch — ONE tokenization pass: the positional
    * postings aggregate first (localCheckpointed: doclen/forward-list rows
    * and the stats deltas all derive from the much smaller postings instead
    * of re-exploding the corpus per branch), dl denormalizes onto each
    * posting via one per-doc window sum.
    */
  private def entriesOf(
      docs: DataFrame, idCol: String, textCol: String,
      groupCol: Option[String]): DataFrame = {
    val post0 = Retrieval.tokensWithPos(docs, col(idCol), col(textCol))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("pos"))
      .localCheckpoint()
    val post = post0
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy("doc_id")))
      .select(lit(PostingKind).as(KindCol), col("term"),
        col("doc_id").as("id"), col("tf"),
        lit(null).cast("array<string>").as("terms"), col("dl"), col("pos"))
    val dl0 = post0.groupBy("doc_id")
      .agg(sum(col("tf")).as("tf"), collect_set(col("term")).as("terms"))
      .select(lit(DoclenKind).as(KindCol), lit("").as("term"),
        col("doc_id").as("id"), col("tf"), col("terms"),
        lit(null).cast("long").as("dl"),
        lit(null).cast("array<long>").as("pos"))
    groupCol match {
      case None => post.unionByName(dl0)
      case Some(g) =>
        // grouped layout: doclen rows carry the doc's group (the stats-
        // delta source for append/remove); posting rows carry null
        val grp = docs
          .select(col(idCol).as("id"), col(g).cast("string").as("grp"))
          .dropDuplicates("id")
        post.withColumn("grp", lit(null).cast("string"))
          .unionByName(dl0.join(grp, Seq("id"), "left")
            .select((dl0.columns.map(col) :+ col("grp")): _*))
    }
  }

  /** The two stats rows for (N, Σdl) — keyed (stats, 'n'|'sumdl', 0), so a
    * later commit's pair replaces the current one wholesale.
    */
  private def statsRows(spark: SparkSession, n: Long, sumDl: Long): DataFrame = {
    import spark.implicits._
    Seq((StatN, n), (StatSumDl, sumDl)).toDF("term", "tf")
      .select(lit(StatsKind).as(KindCol), col("term"), lit(0L).as("id"),
        col("tf"), lit(null).cast("array<string>").as("terms"),
        lit(null).cast("long").as("dl"),
        lit(null).cast("array<long>").as("pos"))
  }

  /** Stats rows for a GROUPED index: arbitrary (key, value) pairs with the
    * schema's `grp` column (null — stats rows have no group of their own).
    */
  private def statsRowsGrouped(
      spark: SparkSession, pairs: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("term", "tf")
      .select(lit(StatsKind).as(KindCol), col("term"), lit(0L).as("id"),
        col("tf"), lit(null).cast("array<string>").as("terms"),
        lit(null).cast("long").as("dl"),
        lit(null).cast("array<long>").as("pos"),
        lit(null).cast("string").as("grp"))
  }

  /** Per-group (doc count, Σ token count) of a doclen-row relation carrying
    * `grp` (a doclen row's tf IS its doc's token count) — the collect is
    * bounded by the number of DISTINCT group values (the stamp's contract:
    * a low-cardinality source/domain tag, never a per-doc id).
    */
  private def groupTotals(dlRows: DataFrame): Map[String, (Long, Long)] =
    dlRows.groupBy("grp")
      .agg(count(lit(1)).as("c"), coalesce(sum(col("tf")), lit(0L)).as("t"))
      .collect()
      .map(r => String.valueOf(r.get(0)) -> (r.getLong(1), r.getLong(2))).toMap

  /** The stored per-group (doc, token) counts — stats rows only. */
  private def storedGroupCounts(t: DataFrame): Map[String, (Long, Long)] = {
    val rows = t.filter(col(KindCol) === StatsKind &&
        (col("term").startsWith(StatNGroup) || col("term").startsWith(StatTGroup)))
      .select("term", "tf").collect().map(r => r.getString(0) -> r.getLong(1))
    val docs = rows.collect { case (k, v) if k.startsWith(StatNGroup) =>
      k.substring(StatNGroup.length) -> v }.toMap
    val toks = rows.collect { case (k, v) if k.startsWith(StatTGroup) =>
      k.substring(StatTGroup.length) -> v }.toMap
    (docs.keySet ++ toks.keySet).map(g =>
      g -> (docs.getOrElse(g, 0L), toks.getOrElse(g, 0L))).toMap
  }

  /** The per-group stats rows for a delta: one `n.<g>` doc-count and one
    * `nt.<g>` token-count pair per affected group.
    */
  private def groupPairs(totals: Map[String, (Long, Long)]): Seq[(String, Long)] =
    totals.toSeq.sortBy(_._1).flatMap { case (g, (c, t)) =>
      Seq((StatNGroup + g) -> c, (StatTGroup + g) -> t)
    }

  /** (#docs, Σ token count) of a doclen-row relation — exact longs. */
  private def dlTotals(dlRows: DataFrame): (Long, Long) = {
    val r = dlRows.agg(count(lit(1)), coalesce(sum(col("tf")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The stored (N, Σdl) pair — two key-addressed rows, kind-pruned; reads
    * the snapshot `t` was taken from, so asOf probes see historical stats.
    * Refuses a pre-stats-layout index (rebuild with [[build]]).
    */
  private def requireStats(t: DataFrame, tablePath: String): (Long, Long) = {
    val rows = t.filter(col(KindCol) === StatsKind).select("term", "tf")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (for (n <- rows.get(StatN); s <- rows.get(StatSumDl)) yield (n, s))
      .getOrElse(throw GraftException.config(
        s"text index at $tablePath carries no stats rows - it predates the " +
          "denormalized posting layout; rebuild it with TextIndex.build."))
  }

  /** Build ONCE from the corpus: one tokenization pass, one table create
    * (postings + doclen/forward lists + the stats pair in the bootstrap
    * commit). MOR keyed table (appends are delta commits); `compact.auto`
    * AND `layout.auto` stamp at birth — atomically with the create — like
    * every standing index: streamed appends fold into base files hands-off,
    * and once enough data commits land the posting partition re-clusters by
    * term on its own ([[graft.table.AutoLayout]]), keeping the row-group
    * prune the probes depend on without anybody scheduling [[optimize]].
    * Still run [[optimize]] once after a bulk build: the hook waits for
    * `layout.auto.commits` commits, the bulk build should not.
    */
  def build(
      spark: SparkSession, tablePath: String, corpus: DataFrame,
      idCol: String, textCol: String,
      groupCol: Option[String] = None): Unit = {
    groupCol.foreach(g => require(corpus.columns.contains(g),
      s"groupCol '$g' is not a corpus column"))
    val entries = entriesOf(corpus, idCol, textCol, groupCol).localCheckpoint()
    val dlRows = entries.filter(col(KindCol) === DoclenKind)
    val (n, sumDl) = dlTotals(dlRows)
    val stats = groupCol match {
      case None => statsRows(spark, n, sumDl)
      case Some(_) => statsRowsGrouped(spark,
        Seq(StatN -> n, StatSumDl -> sumDl) ++ groupPairs(groupTotals(dlRows)))
    }
    KeyedTable.create(spark, tablePath,
      entries.unionByName(stats),
      tableName = "graft_text_index",
      keyFields = Seq(KindCol, "term", "id"), precombineField = "id",
      partitionFields = Seq(KindCol), tableType = TableType.MergeOnRead,
      properties = Map(
        graft.table.TableProperties.CompactAuto -> "true",
        graft.table.TableProperties.LayoutAuto -> "term,id",
        graft.table.TableProperties.LayoutAutoPartitions ->
          s"$KindCol=$PostingKind") ++
        groupCol.map(GroupProp -> _))
    ()
  }

  private def readIndex(
      spark: SparkSession, tablePath: String, asOf: Option[String]): DataFrame =
    asOf.map(KeyedTable.readAsOf(spark, tablePath, _))
      .getOrElse(KeyedTable.read(spark, tablePath))

  /** The `ids`' stored doclen rows (id, terms = forward list, tf = doc
    * length, plus `extra` columns — fielded callers pull `fdl`) — one
    * kind-pruned scan semi-joined to the id set, materialized (it feeds
    * both the tombstone keys and the stats delta). Ids never indexed
    * simply contribute no rows.
    */
  private def doclenOf(
      t: DataFrame, ids: DataFrame, idCol: String,
      extra: Seq[String]): DataFrame =
    t.filter(col(KindCol) === DoclenKind)
      .select((Seq("id", "terms", "tf") ++ extra).map(col): _*)
      .join(broadcast(ids.select(col(idCol).as("id")).distinct()), Seq("id"), "left_semi")
      .localCheckpoint()

  /** Every stored key belonging to the doclen rows' ids — the tombstone set
    * for both replace-append and takedown, enumerated from the FORWARD
    * lists: cost is the ids' own rows, never a pass over the posting
    * partition (~avg-doc-length times larger).
    */
  private def keysOf(dlRows: DataFrame): DataFrame =
    dlRows.select(lit(PostingKind).as(KindCol),
        explode(col("terms")).as("term"), col("id"))
      .unionByName(dlRows.select(lit(DoclenKind).as(KindCol),
        lit("").as("term"), col("id")))

  /** (Re)index a doc batch with REPLACE semantics as ONE commit: every
    * existing posting/doclen key of the batch's ids tombstones, the new
    * entries land, and the stats pair steps to the post-batch (N, Σdl) —
    * all under one instant ([[KeyedTable.mergeRows]], images beat same-key
    * tombstones) — a re-upserted doc's removed terms stop matching in the
    * same instant its new terms start, and no probe ever sees half a doc
    * or a stats/posting mismatch.
    */
  def append(
      spark: SparkSession, tablePath: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    if (storedFields(spark, tablePath).isDefined)
      throw GraftException.config(
        s"text index at $tablePath is FIELDED - use appendFielded (the " +
          "field list rides the text.fields stamp).")
    val grouped = storedGroup(spark, tablePath)
    grouped.foreach(g => if (!docs.columns.contains(g))
      throw GraftException.config(
        s"text index at $tablePath is GROUPED by corpus column '$g' " +
          s"($GroupProp stamp) - the batch must carry it."))
    // PINNED read: the stats delta below is a function of this snapshot, so
    // the same state is the merge's OCC base - a commit racing in between
    // conflicts retryably instead of silently losing one side's (N, Σdl)
    val (st, t) = KeyedTable.readPinned(spark, tablePath)
    val dlRows = doclenOf(t, docs.select(col(idCol)), idCol,
      extra = grouped.map(_ => "grp").toSeq)
    val (oldN, oldS) = dlTotals(dlRows)
    val entries = entriesOf(docs, idCol, textCol, grouped).localCheckpoint()
    val newDl = entries.filter(col(KindCol) === DoclenKind)
    val (addN, addS) = dlTotals(newDl)
    if (oldN == 0 && addN == 0) return // empty batch against nothing indexed
    val (n0, s0) = requireStats(t, tablePath)
    val stats = grouped match {
      case None => statsRows(spark, n0 - oldN + addN, s0 - oldS + addS)
      case Some(_) =>
        // per-group counts step with the same commit: the batch ids' OLD
        // groups decrement, the batch's NEW groups increment (a re-worded
        // doc that changed source moves between the two rows)
        val cur = storedGroupCounts(t)
        val oldG = groupTotals(dlRows)
        val addG = groupTotals(newDl)
        val zero = (0L, 0L)
        statsRowsGrouped(spark,
          Seq(StatN -> (n0 - oldN + addN), StatSumDl -> (s0 - oldS + addS)) ++
            groupPairs((oldG.keySet ++ addG.keySet).map { g =>
              val (c0, t0) = cur.getOrElse(g, zero)
              val (co, to) = oldG.getOrElse(g, zero)
              val (ca, ta) = addG.getOrElse(g, zero)
              g -> (c0 - co + ca, t0 - to + ta)
            }.toMap))
    }
    KeyedTable.mergeRows(spark, tablePath, keysOf(dlRows),
      entries.unionByName(stats),
      base = Some(st))
    ()
  }

  /** Streaming twin of [[append]] ([[AnnIndex.ingestStream]]'s shape): every
    * micro-batch of `docs` (a streaming DataFrame) replace-appends into the
    * standing index — probes always see the latest ingested batch.
    * Exactly-once note: foreachBatch delivers at-least-once, and the batch
    * body is IDEMPOTENT — replace-append tombstones the batch ids' old keys
    * and lands entries (and stats: minus the ids' current contribution,
    * plus the batch's, which re-lands identically on replay) derived
    * deterministically from the batch, so a crash-replay re-lands the same
    * state.
    */
  /* (grouped indexes: each micro-batch must carry the stamped group
   * column, like any [[append]] batch) */
  def ingestStream(
      docs: DataFrame,
      indexPath: String,
      checkpointDir: String,
      idCol: String,
      textCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        if (!b.isEmpty) append(b.sparkSession, indexPath, b.toDF(), idCol, textCol)
        ()
      }
      .start()

  /** Takedown leg: tombstone every posting/doclen key of `ids` and step the
    * stats pair down — one keyed delta, O(the ids' postings). The doc never
    * ranks again and stops counting toward df/N/avgdl; history is retained,
    * not rewritten (an `asOf` probe before the removal reproduces the
    * historical ranking; pair with `cleanArchive` when the bytes must go).
    * Re-appending re-serves.
    */
  def remove(
      spark: SparkSession, tablePath: String, ids: DataFrame,
      idCol: String): Unit = storedFields(spark, tablePath) match {
    case Some(fs) => // fielded: the stats step is per-field (fdl maps)
      val names = fs.map(_._1)
      val grouped = storedGroup(spark, tablePath)
      val (st, t) = KeyedTable.readPinned(spark, tablePath)
      val dlRows = doclenOf(t, ids, idCol,
        extra = Seq("fdl") ++ grouped.map(_ => "grp"))
      val (remN, remSums) = fieldTotals(dlRows, names)
      if (remN == 0) return
      val (n0, sums0) = requireStatsFielded(t, tablePath, names)
      val extraPairs = grouped.map { _ =>
        val cur = storedGroupCounts(t)
        groupPairs(groupTotals(dlRows).map { case (g, (c, tk)) =>
          val (c0, t0) = cur.getOrElse(g, (0L, 0L))
          g -> (c0 - c, t0 - tk)
        })
      }.getOrElse(Seq.empty)
      KeyedTable.mergeRows(spark, tablePath, keysOf(dlRows),
        statsRowsFielded(spark, n0 - remN,
          names.map(f => f -> (sums0(f) - remSums(f))),
          extra = extraPairs, withGrp = grouped.isDefined,
          withPos = storedPositions(spark, tablePath).isDefined),
        base = Some(st))
      ()
    case None =>
      val grouped = storedGroup(spark, tablePath)
      val (st, t) = KeyedTable.readPinned(spark, tablePath)
      val dlRows = doclenOf(t, ids, idCol,
        extra = grouped.map(_ => "grp").toSeq)
      val (remN, remS) = dlTotals(dlRows)
      if (remN == 0) return // nothing of these ids is indexed
      val (n0, s0) = requireStats(t, tablePath)
      val stats = grouped match {
        case None => statsRows(spark, n0 - remN, s0 - remS)
        case Some(_) =>
          val cur = storedGroupCounts(t)
          val remG = groupTotals(dlRows)
          statsRowsGrouped(spark,
            Seq(StatN -> (n0 - remN), StatSumDl -> (s0 - remS)) ++
              groupPairs(remG.map { case (g, (c, tk)) =>
                val (c0, t0) = cur.getOrElse(g, (0L, 0L))
                g -> (c0 - c, t0 - tk)
              }))
      }
      KeyedTable.mergeRows(spark, tablePath, keysOf(dlRows), stats,
        base = Some(st))
      ()
  }

  // --------------------------------------------------------------- fielded

  /** The single-field probes cannot serve a fielded table (its scoring
    * needs per-field weights, and it stores no positions) — refuse with a
    * pointer instead of silently missing stats.
    */
  private def requireSingleField(
      spark: SparkSession, tablePath: String, op: String): Unit =
    if (storedFields(spark, tablePath).isDefined)
      throw GraftException.config(
        s"text index at $tablePath is FIELDED - $op serves single-field " +
          "indexes; score it with bm25fProbe(weights) (phrase/proximity " +
          "need single-field positional postings).")

  /** The POSITIONAL faces (phrase/proximity) serve single-field indexes
    * always, and fielded indexes IF built with `positionsFor` — a fielded
    * index without the stamp refuses with both remedies named.
    */
  private def requirePositional(
      spark: SparkSession, tablePath: String, op: String): Unit =
    storedFields(spark, tablePath) match {
      case None => ()
      case Some(_) =>
        if (storedPositions(spark, tablePath).isEmpty)
          throw GraftException.config(
            s"text index at $tablePath is FIELDED without positional " +
              s"postings - $op needs positions: rebuild with " +
              "buildFielded(positionsFor = <field>) or keep a single-field " +
              "positional index beside it (README two-index recipe).")
    }

  /** All index rows for a FIELDED doc batch — one tokenization pass per
    * field: per-(doc, term, field) counts aggregate once
    * (localCheckpointed), then posting rows carry `ftf` (field → tf) and
    * `fdl` (field → the doc's length in that field) DENORMALIZED — the
    * fielded twin of the single-field dl denormalization, so a probe folds
    * weights over map lookups and joins nothing corpus-sized. Doclen rows
    * keep the cross-field forward list plus the fdl map (the stats-delta
    * source for remove/re-index). No positions: fielded retrieval is
    * BM25F scoring; phrase/proximity stay on single-field indexes.
    */
  private def entriesOfFielded(
      docs: DataFrame, idCol: String, fields: Seq[(String, String)],
      groupCol: Option[String],
      posFor: Option[String]): DataFrame = {
    val wtok = fields.map { case (f, c) =>
      Retrieval.tokens(docs, col(idCol), col(c)).withColumn("field", lit(f))
    }.reduce(_ unionByName _)
    val ft = wtok.groupBy("doc_id", "term", "field")
      .agg(count(lit(1)).as("ftf"))
      .localCheckpoint()
    val post0 = ft.groupBy("doc_id", "term")
      .agg(sum(col("ftf")).as("tf"),
        map_from_entries(sort_array(collect_list(
          struct(col("field"), col("ftf"))))).as("ftf"))
    val fdl = ft.groupBy("doc_id", "field").agg(sum(col("ftf")).as("flen"))
      .groupBy("doc_id")
      .agg(sum(col("flen")).as("tf"),
        map_from_entries(sort_array(collect_list(
          struct(col("field"), col("flen"))))).as("fdl"))
      .localCheckpoint()
    val post1 = post0.join(fdl.select(col("doc_id"), col("fdl")), Seq("doc_id"))
      .select(lit(PostingKind).as(KindCol), col("term"),
        col("doc_id").as("id"), col("tf"),
        lit(null).cast("array<string>").as("terms"), col("ftf"), col("fdl"))
    val post = posFor match {
      case None => post1
      case Some(f) =>
        // positions of the ONE positional field ride the posting row —
        // 1-based within THAT field's token stream, so the fielded phrase
        // probe is bit-identical to a single-field recompute over the
        // field's column; terms absent from the field carry null (their
        // explode yields nothing)
        val c = fields.toMap.apply(f)
        val pa = Retrieval.tokensWithPos(docs, col(idCol), col(c))
          .groupBy("doc_id", "term")
          .agg(sort_array(collect_list(col("pos"))).as("pos"))
          .withColumnRenamed("doc_id", "id")
        post1.join(pa, Seq("id", "term"), "left")
          .select((post1.columns.map(col) :+ col("pos")): _*)
    }
    val dl0 = post0.groupBy("doc_id").agg(collect_set(col("term")).as("terms"))
      .join(fdl, Seq("doc_id"))
      .select(lit(DoclenKind).as(KindCol), lit("").as("term"),
        col("doc_id").as("id"), col("tf"), col("terms"),
        lit(null).cast("map<string,bigint>").as("ftf"), col("fdl"))
    val dl1 = if (posFor.isEmpty) dl0
      else dl0.withColumn("pos", lit(null).cast("array<long>"))
    groupCol match {
      case None => post.unionByName(dl1)
      case Some(g) =>
        // grouped + fielded compose: the doclen row carries the group like
        // the single-field layout (the per-group stats-delta source)
        val grp = docs
          .select(col(idCol).as("id"), col(g).cast("string").as("grp"))
          .dropDuplicates("id")
        post.withColumn("grp", lit(null).cast("string"))
          .unionByName(dl1.join(grp, Seq("id"), "left")
            .select((dl1.columns.map(col) :+ col("grp")): _*))
    }
  }

  /** The fielded stats rows: 'n' plus one 'sumdl.<field>' per field, plus
    * `extra` pairs (a grouped-fielded index's per-group doc/token counts);
    * `withGrp` emits the grouped schema's null `grp` column.
    */
  private def statsRowsFielded(
      spark: SparkSession, n: Long, sums: Seq[(String, Long)],
      extra: Seq[(String, Long)],
      withGrp: Boolean,
      withPos: Boolean): DataFrame = {
    import spark.implicits._
    val base = (((StatN, n) +: sums.map { case (f, v) => (StatSumDlField + f, v) })
      ++ extra)
      .toDF("term", "tf")
      .select(lit(StatsKind).as(KindCol), col("term"), lit(0L).as("id"),
        col("tf"), lit(null).cast("array<string>").as("terms"),
        lit(null).cast("map<string,bigint>").as("ftf"),
        lit(null).cast("map<string,bigint>").as("fdl"))
    val withP = if (withPos) base.withColumn("pos", lit(null).cast("array<long>"))
      else base
    if (withGrp) withP.withColumn("grp", lit(null).cast("string")) else withP
  }

  /** (#docs, per-field Σ length) of a doclen-row relation carrying fdl. */
  private def fieldTotals(
      dlRows: DataFrame, fields: Seq[String]): (Long, Map[String, Long]) = {
    val r = dlRows.agg(count(lit(1)).as("n"),
      fields.map(f =>
        coalesce(sum(element_at(col("fdl"), lit(f))), lit(0L)).as(s"s_$f")): _*)
      .head()
    (r.getLong(0),
      fields.zipWithIndex.map { case (f, i) => f -> r.getLong(i + 1) }.toMap)
  }

  /** The stored fielded (N, per-field Σdl); refuses a non-fielded or
    * pre-layout table.
    */
  private def requireStatsFielded(
      t: DataFrame, tablePath: String,
      fields: Seq[String]): (Long, Map[String, Long]) = {
    val rows = t.filter(col(KindCol) === StatsKind).select("term", "tf")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def need(k: String): Long = rows.getOrElse(k, throw GraftException.config(
      s"text index at $tablePath carries no '$k' stats row - not a fielded " +
        "index of these fields (or pre-layout; rebuild with buildFielded)."))
    (need(StatN), fields.map(f => f -> need(StatSumDlField + f)).toMap)
  }

  /** Build a FIELDED standing index: `fields` = (field name → corpus
    * column), stamped as [[FieldsProp]] so every later leg (append,
    * remove, registry sync, probe refusals) derives the field list from
    * STORAGE — a caller-passed list could drift, the stamp cannot.
    * Serves [[bm25fProbe]]; one tokenization pass per field. `groupCol`
    * composes the GROUPED mode ([[GroupProp]]) with the fielded layout:
    * per-group doc/token stats rows step through every fielded write leg
    * and [[groupCounts]] serves them — token counts span all fields.
    *
    * Fielded indexes store NO positions (BM25F needs none). To
    * phrase/proximity-search a fielded corpus, use the TWO-INDEX recipe
    * (README "two-index recipe"): this index for scoring plus a
    * single-field positional [[build]] over the phrase-searched column,
    * both registered on the corpus — the shared registry pull keeps them
    * consistent from the same CDC interval.
    */
  def buildFielded(
      spark: SparkSession, tablePath: String, corpus: DataFrame,
      idCol: String, fields: Seq[(String, String)],
      groupCol: Option[String] = None,
      positionsFor: Option[String] = None): Unit = {
    require(fields.nonEmpty, "buildFielded needs at least one (field, column)")
    require(fields.map(_._1).distinct.size == fields.size,
      "field names must be distinct")
    require(fields.forall { case (f, c) =>
      !f.contains("=") && !f.contains(",") && !c.contains("=") && !c.contains(",")
    }, "field/column names must not contain '=' or ','")
    groupCol.foreach(g => require(corpus.columns.contains(g),
      s"groupCol '$g' is not a corpus column"))
    positionsFor.foreach(f => require(fields.exists(_._1 == f),
      s"positionsFor '$f' is not one of the declared fields"))
    val names = fields.map(_._1)
    val entries = entriesOfFielded(corpus, idCol, fields, groupCol, positionsFor)
      .localCheckpoint()
    val dlRows = entries.filter(col(KindCol) === DoclenKind)
    val (n, sums) = fieldTotals(dlRows, names)
    KeyedTable.create(spark, tablePath,
      entries.unionByName(
        statsRowsFielded(spark, n, names.map(f => f -> sums(f)),
          extra = groupCol.map(_ => groupPairs(groupTotals(dlRows)))
            .getOrElse(Seq.empty),
          withGrp = groupCol.isDefined,
          withPos = positionsFor.isDefined)),
      tableName = "graft_text_index",
      keyFields = Seq(KindCol, "term", "id"), precombineField = "id",
      partitionFields = Seq(KindCol), tableType = TableType.MergeOnRead,
      properties = Map(
        graft.table.TableProperties.CompactAuto -> "true",
        graft.table.TableProperties.LayoutAuto -> "term,id",
        graft.table.TableProperties.LayoutAutoPartitions ->
          s"$KindCol=$PostingKind",
        FieldsProp -> fields.map { case (f, c) => s"$f=$c" }.mkString(",")) ++
        groupCol.map(GroupProp -> _) ++
        positionsFor.map(PositionsProp -> _))
    ()
  }

  /** Fielded REPLACE-append — [[append]]'s twin with the field list read
    * from the [[FieldsProp]] stamp (never a parameter: the registry sync
    * and ad-hoc callers must agree on it) and the per-field stats stepping
    * in the same single commit.
    */
  def appendFielded(
      spark: SparkSession, tablePath: String, docs: DataFrame,
      idCol: String): Unit = {
    val fs = storedFields(spark, tablePath).getOrElse(
      throw GraftException.config(
        s"text index at $tablePath is single-field - use append."))
    val names = fs.map(_._1)
    val grouped = storedGroup(spark, tablePath)
    grouped.foreach(g => if (!docs.columns.contains(g))
      throw GraftException.config(
        s"text index at $tablePath is GROUPED by corpus column '$g' " +
          s"($GroupProp stamp) - the batch must carry it."))
    val (st, t) = KeyedTable.readPinned(spark, tablePath)
    val dlRows = doclenOf(t, docs.select(col(idCol)), idCol,
      extra = Seq("fdl") ++ grouped.map(_ => "grp"))
    val (oldN, oldSums) = fieldTotals(dlRows, names)
    val entries = entriesOfFielded(docs, idCol, fs, grouped,
      storedPositions(spark, tablePath)).localCheckpoint()
    val newDl = entries.filter(col(KindCol) === DoclenKind)
    val (addN, addSums) = fieldTotals(newDl, names)
    if (oldN == 0 && addN == 0) return
    val (n0, sums0) = requireStatsFielded(t, tablePath, names)
    val extraPairs = grouped.map { _ =>
      val cur = storedGroupCounts(t)
      val oldG = groupTotals(dlRows)
      val addG = groupTotals(newDl)
      val zero = (0L, 0L)
      groupPairs((oldG.keySet ++ addG.keySet).map { g =>
        val (c0, t0) = cur.getOrElse(g, zero)
        val (co, to) = oldG.getOrElse(g, zero)
        val (ca, ta) = addG.getOrElse(g, zero)
        g -> (c0 - co + ca, t0 - to + ta)
      }.toMap)
    }.getOrElse(Seq.empty)
    KeyedTable.mergeRows(spark, tablePath, keysOf(dlRows),
      entries.unionByName(statsRowsFielded(spark, n0 - oldN + addN,
        names.map(f => f -> (sums0(f) - oldSums(f) + addSums(f))),
        extra = extraPairs, withGrp = grouped.isDefined,
        withPos = storedPositions(spark, tablePath).isDefined)),
      base = Some(st))
    ()
  }

  /** BM25F-lite against the STORED fielded postings —
    * [[Retrieval.bm25fTopK]]'s exact scoring with every corpus-sized term
    * removed: weighted tf′/dl′ fold over the denormalized ftf/fdl maps as
    * integer expressions, (N, per-field Σdl) read from the stats rows, the
    * query-term IN pushes into the posting scan. Bit-identical to the
    * recompute over the same corpus and weights (spec-pinned). `weights`
    * must cover exactly the stored fields — a partial weighting would
    * break the "df = term in ANY field" idf contract silently.
    */
  def bm25fProbe(
      spark: SparkSession, tablePath: String, queries: DataFrame,
      weights: Seq[(String, Int)], k: Int,
      k1: Double = 1.2, b: Double = 0.75, lnIdf: Boolean = true,
      asOf: Option[String] = None): DataFrame = {
    val fs = storedFields(spark, tablePath).getOrElse(
      throw GraftException.config(
        s"text index at $tablePath is single-field - use probe; bm25fProbe " +
          "serves buildFielded indexes."))
    require(weights.forall(_._2 > 0), "field weights must be positive integers")
    require(weights.map(_._1).toSet == fs.map(_._1).toSet
        && weights.size == fs.size,
      s"weights must cover exactly the stored fields: ${fs.map(_._1).mkString(",")}")
    val t = readIndex(spark, tablePath, asOf)
    val (n, sums) = requireStatsFielded(t, tablePath, fs.map(_._1))
    val sumW = weights.map { case (f, w) => w.toLong * sums(f) }.sum
    def fold(m: String) = weights.map { case (f, w) =>
      lit(w.toLong) * coalesce(element_at(col(m), lit(f)), lit(0L))
    }.reduce(_ + _)
    val post = postings(spark, tablePath, asOf, t, queries)
      .select(col("term"), col("id").as("doc_id"),
        fold("ftf").as("tf"), fold("fdl").as("dl"))
    Retrieval.bm25ScoreStored(post, queries, k, k1, b, lnIdf, n, sumW)
  }

  /** Per-group doc AND token counts of a GROUPED index, served from the
    * STATS rows alone — (group, n_docs, n_tokens), group column named
    * after the stamped corpus column. The probe's plan touches NOTHING
    * sized by the corpus: no posting scan, no doclen scan, no tokenization
    * — a kind-pruned read of the per-group stats rows maintained
    * transactionally with every build/append/remove (spec-proven by
    * vandalizing both data partitions). The x18-style per-source quota
    * decision (how much of each source do I hold / may I keep) AND the
    * x52-style token-budget mixture (how many tokens does each source
    * contribute) then cost O(groups) at probe time instead of a corpus
    * aggregate. `asOf` serves the historical counts for free (stats rows
    * are table rows). Refuses a non-grouped index loudly.
    */
  def groupCounts(
      spark: SparkSession, tablePath: String,
      asOf: Option[String] = None): DataFrame = {
    val g = storedGroup(spark, tablePath).getOrElse(
      throw GraftException.config(
        s"text index at $tablePath is not GROUPED - build it with " +
          "groupCol to maintain per-group stats rows."))
    val stats = readIndex(spark, tablePath, asOf)
      .filter(col(KindCol) === StatsKind)
    val docs = stats.filter(col("term").startsWith(StatNGroup))
      // a group whose last doc was removed keeps its stats row at 0 (keyed
      // rows persist for later deltas) - "none present" is absence here,
      // matching a GROUP BY over the live membership
      .filter(col("tf") > 0)
      .select(
        substring(col("term"), StatNGroup.length + 1, Int.MaxValue).as(g),
        col("tf").as("n_docs"))
    val toks = stats.filter(col("term").startsWith(StatTGroup))
      .select(
        substring(col("term"), StatTGroup.length + 1, Int.MaxValue).as(g),
        col("tf").as("n_tokens"))
    docs.join(toks, Seq(g)) // both O(groups) stats reads - a trivial join
  }

  /** Cluster the POSTING partition by term ([[KeyedTable.clusterSort]] —
    * a content-neutral layout rewrite, CDC/asOf treat it like any
    * cluster commit): each rewritten file covers a tight term range, so
    * the probe-side pushed IN filter prunes files/row groups by parquet
    * min/max instead of reading every posting row group. THE layout move
    * for retrieval at 100 TB — without it a selective probe still opens
    * the whole posting partition; with it, scan bytes track the query's
    * terms (spec-pinned with a before/after scan-bytes measurement). Run
    * once after bulk builds; under streamed appends the `layout.auto`
    * birth stamp re-runs this hands-off every `layout.auto.commits` data
    * commits ([[graft.table.AutoLayout]] — compaction folds deltas but
    * does not re-sort, so without the hook the clustered layout would
    * silently degrade).
    */
  def optimize(
      spark: SparkSession, tablePath: String,
      maxRecordsPerFile: Long = 0L): Unit = {
    // secondary sort by id: within a term the postings lay out in doc
    // order — tighter delta/dictionary encoding and sequential candidate
    // reads — without widening any file's term range
    KeyedTable.clusterSort(spark, tablePath, Seq("term", "id"), maxRecordsPerFile,
      partitions = Some(Seq(s"$KindCol=$PostingKind")))
    ()
  }

  /** The query side's distinct terms as a pushed-down literal IN filter:
    * parquet row-group min/max prune it (decisively so after an
    * [[optimize]] term-clustered layout pass), where a broadcast join alone
    * would still read every posting row group. The collect is bounded by
    * the QUERY's distinct terms (not the corpus vocabulary) and capped —
    * past 1000 terms the literal IN is dropped (forfeiting row-group
    * pruning) but a broadcast SEMI-join still restricts the scan output
    * before anything downstream runs, so the positional probes
    * ([[phraseTopK]]/[[proximityTopK]]) never explode a non-query
    * posting's position array. Semantics are unchanged either way: scoring
    * only ever looks at query-term postings. Probe sets that large
    * (decontamination-scale) belong on the explode+join recompute twin
    * (x24's shape, [[graft.operators.Curation.decontaminate]]), not a
    * point probe.
    */
  private def pushTerms(postAll: DataFrame, queries: DataFrame): DataFrame = {
    val qtermsDf = queries
      .select(explode(split(col(queries.columns(1)), "\\s+")).as("term"))
      .distinct()
    val qterms = qtermsDf.limit(1001).collect().map(_.getString(0)).toSeq
    if (qterms.size <= 1000) postAll.filter(col("term").isin(qterms: _*))
    else postAll.join(broadcast(qtermsDf), Seq("term"), "left_semi")
  }

  /** The query-term posting rows for a probe. On the LIVE table the whole
    * (kind = posting ∧ term ∈ Q) predicate — both key fields — routes
    * through [[KeyedTable.readWhereKeys]], landing BELOW the MOR merge:
    * with live delta batches (the steady state between [[optimize]] /
    * `layout.auto` passes under streamed appends) the old shape filtered
    * ABOVE the merge, so every posting row of the index was decoded into
    * the contested-branch joins before the query terms pruned anything.
    * `asOf` reads keep the historical-read machinery and filter above, as
    * before. Past the 1000-term cap the kind predicate still pushes below
    * the merge and the term restriction stays a broadcast semi-join
    * ([[pushTerms]]'s fallback contract).
    */
  private def postings(
      spark: SparkSession, tablePath: String, asOf: Option[String],
      t: DataFrame, queries: DataFrame): DataFrame = {
    val kindPred = col(KindCol) === PostingKind
    if (asOf.isDefined) return pushTerms(t.filter(kindPred), queries)
    val qtermsDf = queries
      .select(explode(split(col(queries.columns(1)), "\\s+")).as("term"))
      .distinct()
    val qterms = qtermsDf.limit(1001).collect().map(_.getString(0)).toSeq
    if (qterms.size <= 1000)
      KeyedTable.readWhereKeys(spark, tablePath,
        kindPred && col("term").isin(qterms: _*))
    else
      KeyedTable.readWhereKeys(spark, tablePath, kindPred)
        .join(broadcast(qtermsDf), Seq("term"), "left_semi")
  }

  /** BM25 top-k against the STORED postings — [[Retrieval.bm25TopK]]'s
    * exact scoring core with every corpus-sized term removed: postings
    * carry dl denormalized and (N, Σdl) read from the 2-row stats
    * partition, so the probe's plan never touches the doclen partition
    * (bit-identical over the same corpus, spec-pinned). No tokenization,
    * no table writes; `asOf` reproduces a historical ranking with the
    * historical stats.
    */
  def probe(
      spark: SparkSession, tablePath: String, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75, lnIdf: Boolean = true,
      asOf: Option[String] = None): DataFrame = {
    requireSingleField(spark, tablePath, "probe")
    val t = readIndex(spark, tablePath, asOf)
    val (n, sumDl) = requireStats(t, tablePath)
    val post = postings(spark, tablePath, asOf, t, queries)
      .select(col("term"), col("id").as("doc_id"), col("tf"), col("dl"))
    Retrieval.bm25ScoreStored(post, queries, k, k1, b, lnIdf, n, sumDl)
  }

  /** Exact-phrase top-k against the STORED positional postings —
    * [[Retrieval.phraseTopK]]'s core over candidate docs only: the
    * phrase's terms push into the posting scan as the same literal IN
    * ([[pushTerms]]), the surviving postings explode their position arrays
    * back to (doc, pos, term) rows, and [[Retrieval.phraseScore]] runs the
    * positional intersection — identical to the recompute by construction,
    * at O(phrase terms' postings) cost instead of O(corpus tokens).
    * `slop > 0` relaxes adjacency to the in-order ≤slop-gap band.
    */
  def phraseTopK(
      spark: SparkSession, tablePath: String, phrases: DataFrame, k: Int,
      slop: Int = 0, asOf: Option[String] = None): DataFrame = {
    requirePositional(spark, tablePath, "phraseTopK")
    val t = readIndex(spark, tablePath, asOf)
    val post = postings(spark, tablePath, asOf, t, phrases)
      .select(col("term"), col("id").as("doc_id"), col("pos"))
    Retrieval.phraseScore(
      post.select(col("doc_id"), explode(col("pos")).as("pos"), col("term")),
      phrases, k, slop)
  }

  /** Minimal-window proximity top-k against the STORED positional
    * postings — [[Retrieval.proximityTopK]]'s core over candidate docs
    * only, after the same pushed-IN prune as [[probe]]/[[phraseTopK]]:
    * cost tracks the query terms' postings, never the corpus.
    */
  def proximityTopK(
      spark: SparkSession, tablePath: String, queries: DataFrame, k: Int,
      asOf: Option[String] = None): DataFrame = {
    requirePositional(spark, tablePath, "proximityTopK")
    val t = readIndex(spark, tablePath, asOf)
    val post = postings(spark, tablePath, asOf, t, queries)
      .select(col("term"), col("id").as("doc_id"), col("pos"))
    Retrieval.proximityScore(
      post.select(col("doc_id"), explode(col("pos")).as("pos"), col("term")),
      queries, k)
  }
}
