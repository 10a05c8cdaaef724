package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, Filter, InsertAction, InsertStarAction, Join, JoinHint, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, count, lit, min, when}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType

import graft.model.GraftException
import graft.table.{CommitLog, KeyedTable, MetaColumns}

/** Native SQL row-level DML for graft tables: `DELETE FROM t WHERE ...`,
  * `UPDATE t SET ... WHERE ...`, and `MERGE INTO` typed as plain SQL
  * statements (no CALL) lower onto the engine's keyed commit paths —
  * identical semantics to the T29 predicate DML services (one predicate
  * read resolves the affected rows; SET expressions all evaluate against
  * the PRE-statement row): OCC markers, archives, CDC rows, time travel all
  * behave exactly as if the Scala API had been called. The reference's
  * runaway sweep is literally a bulk SQL UPDATE
  * (fastapi-backend/app.py:96-102); this makes that exact statement work
  * against the engine's own tables.
  *
  * Implemented as an analyzer post-hoc resolution rule (injected by
  * [[graft.functions.GraftExtensions]]) that rewrites a resolved
  * [[DeleteFromTable]]/[[UpdateTable]]/[[MergeIntoTable]] over a graft
  * relation — either the DSv2 [[GraftTable]] relation or the
  * session-catalog V1 [[GraftRelation]] — into a runnable command. Vanilla
  * Spark would otherwise reject all three statements (row-level plans exist
  * only for [[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]
  * catalogs). Every command carries the statement's OWN resolved plans and
  * expression trees and evaluates them directly — no re-rendering to SQL
  * text, so any analyzable predicate or clause expression works, including
  * IN/EXISTS subqueries (a rendered `InSubquery.sql` would not re-parse).
  */
object GraftDml {

  /** A resolved relation over a graft table, in any of the shapes the
    * analyzer produces: V2 relation, V1 LogicalRelation, or either under
    * SubqueryAlias wrappers.
    */
  private[sources] object GraftRel {
    def unapply(plan: LogicalPlan): Option[String] = plan match {
      case SubqueryAlias(_, child) => unapply(child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable => Some(t.path)
        case _ => None
      }
      case l: LogicalRelation => l.relation match {
        case g: GraftRelation => Some(g.path)
        case _ => None
      }
      case _ => None
    }
  }

  /** Meta columns are engine-stamped, never user data — any reference in a
    * DML condition or assignment value is refused loudly.
    */
  private[sources] def refuseMetaRefs(e: Expression): Unit = {
    // `references` includes subquery outer references — a correlated
    // subquery smuggling a meta column is refused like a direct reference
    val metaRefs = e.references.toSeq.map(_.name)
      .filter(graft.table.MetaColumns.all.contains).distinct
    if (metaRefs.nonEmpty)
      throw GraftException.config(
        s"DML over graft tables cannot reference meta column(s): ${metaRefs.mkString(", ")}.")
  }

  /** DELETE: the statement's own resolved Filter(condition, relation) plan
    * resolves the doomed rows; [[KeyedTable.deleteRows]] — the same core
    * the T29 predicate service uses — commits them.
    */
  final case class GraftDeleteCommand(path: String, filtered: LogicalPlan)
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      KeyedTable.deleteRows(spark, path, ColumnBridge.ofRows(spark, filtered))
      Seq.empty
    }
  }

  /** UPDATE: the statement's resolved Filter plan + assignment trees feed
    * [[KeyedTable.updateRows]] — the same core (old-row SET evaluation,
    * key/partition/meta refusals) the T29 predicate service uses.
    */
  final case class GraftUpdateCommand(
      path: String, filtered: LogicalPlan, sets: Map[String, Expression])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      KeyedTable.updateRows(spark, path, ColumnBridge.ofRows(spark, filtered),
        sets.map { case (c, e) => c -> ColumnBridge.column(e) })
      Seq.empty
    }
  }

  // ------------------------------------------------------------------ MERGE

  /** One WHEN clause, carrying the statement's RESOLVED condition and
    * assignment-value expression trees (references into the target/source
    * relation outputs). The command re-binds nothing: it builds its join
    * from the same resolved plans, so the attributes line up by exprId —
    * which is what lets subqueries, collations, and every analyzable
    * expression flow through untouched.
    */
  private[sources] final case class MergeClause(
      kind: String, // "update" | "delete" | "insert"
      cond: Option[Expression],
      sets: Seq[(String, Expression)])

  /** MERGE INTO on a graft table — the SQL spelling of the engine's core
    * keyed upsert (J4/H7), applied as ONE atomic commit
    * ([[KeyedTable.mergeRows]]): a crash or OCC conflict can never leave
    * the statement half-applied. All batches are computed (and
    * materialized) against the PRE-merge snapshot, then committed together:
    *
    *  - WHEN MATCHED UPDATE SET → a full-row image: unassigned columns
    *    carry the target row's current values, assigned columns evaluate
    *    the SET expressions (which may reference both sides) — so
    *    `SET c = NULL` writes a real NULL,
    *  - WHEN MATCHED DELETE → a tombstone for the matched row,
    *  - WHEN NOT MATCHED [BY TARGET] INSERT → a new row (values may
    *    reference the source side only; unassigned columns are NULL),
    *  - WHEN NOT MATCHED BY SOURCE UPDATE/DELETE → the same image/tombstone
    *    shapes over target rows with no source match (conditions and values
    *    may reference the target side only) — the CDC reconciliation sweep.
    *
    * Multiple clauses of a group apply SQL-style first-match-wins — per
    * (target, source) pair via the eligibility chain, AND per target row
    * across clauses (an earlier clause's (key, partition) row ids are
    * anti-joined out of later batches, so a row deleted through one source
    * row can never be resurrected by an update through another).
    * `UPDATE/INSERT *` expand by column name; UPDATE * skips key/partition
    * columns (pinned by the match condition; assigning them is a refused
    * row move). Documented divergences from strict ANSI MERGE, inherited
    * from the keyed-table contract: several source rows matching one target
    * row are precombine-resolved instead of raising a cardinality error
    * (Hudi's behavior; `spark.graft.merge.strictCardinality=true` opts into
    * the ANSI error), and an insert colliding with a same-statement delete
    * nets to the insert ([[KeyedTable.mergeRows]]). `WITH SCHEMA EVOLUTION`
    * is handled BEFORE this command exists: the analyzer's own
    * ResolveMergeIntoSchemaEvolution sees the table's
    * AUTOMATIC_SCHEMA_EVOLUTION capability, widens the table through
    * [[GraftCatalog.alterTable]] (add-only, metadata commit), and
    * re-resolves the statement — so this command always binds against the
    * final schema.
    */
  final case class GraftMergeCommand(
      path: String,
      target: LogicalPlan,
      source: LogicalPlan,
      mergeCond: Expression,
      matched: Seq[MergeClause],
      notMatched: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause])
      extends LeafRunnableCommand {

    /** Opt-in ANSI cardinality mode (default off = Hudi precombine
      * resolution). Session conf, read per statement so a migration user
      * can flip it mid-session to locate divergent merges.
      */
    private def strictCardinality(spark: SparkSession): Boolean =
      spark.conf.getOption("spark.graft.merge.strictCardinality").exists(_.toBoolean)

    /** Index of the first clause whose condition holds for this row pair
      * (SQL's per-pair first-match-wins), NULL when none applies. One
      * CASE WHEN chain instead of K eligibility predicates, so a whole
      * clause group evaluates in a single pass over the joined frame.
      */
    private def firstClauseIdx(clauses: Seq[MergeClause]): Column =
      clauses.zipWithIndex.foldRight(lit(null).cast("int")) { case ((c, i), rest) =>
        when(coalesce(c.cond.map(ColumnBridge.column).getOrElse(lit(true)), lit(false)),
          lit(i)).otherwise(rest)
      }

    override def run(spark: SparkSession): Seq[Row] = {
      val st = CommitLog.requireState(spark, path)
      val keyF = st.latest.keyFields
      val partF = st.latest.partitionFields
      // the statement resolved against the table's LOGICAL view (the scan
      // hides drops and serves renames); images go back through mergeRows,
      // which translates to the physical layout
      val schema = graft.table.KeyedTable.logicalSchemaOf(st)
      val dataSchema = StructType(schema.filterNot(f => MetaColumns.all.contains(f.name)))
      val dataCols = dataSchema.fieldNames.toSeq
      // a key/partition assignment is a row MOVE, not a patch — the same
      // refusal updateWhere makes (use upsertGlobal for moves). Checked
      // here, where the table's key config is known.
      (matched ++ notMatchedBySource).filter(_.kind == "update").foreach { c =>
        val illegal = c.sets.map(_._1).filter(n => keyF.contains(n) || partF.contains(n))
        if (illegal.nonEmpty)
          throw GraftException.config(
            s"MERGE UPDATE cannot assign key/partition column(s): ${illegal.mkString(", ")} " +
              "(a key or partition change is a row move — use upsertGlobal).")
      }
      // the source is materialized ONCE: every batch re-references it, and a
      // non-deterministic source (uuid(), rand(), a shifting view) evaluated
      // per-batch could route a row to both or neither clause — the same
      // reason Delta/Hudi materialize MERGE sources. localCheckpoint keeps
      // the plan's output attributes, so the statement's resolved
      // expressions still bind by exprId.
      val srcPlan = ColumnBridge.ofRows(spark, source).localCheckpoint()
        .queryExecution.analyzed
      def planDf(p: LogicalPlan) = ColumnBridge.ofRows(spark, p)
      val joined = planDf(Join(target, srcPlan, Inner, Some(mergeCond), JoinHint.NONE))
      val tgtOnly = planDf(Join(target, srcPlan, LeftAnti, Some(mergeCond), JoinHint.NONE))
      val srcOnly = planDf(Join(srcPlan, target, LeftAnti, Some(mergeCond), JoinHint.NONE))
      val tgtAttr: Map[String, Attribute] = target.output.map(a => a.name -> a).toMap
      def tcol(n: String): Column = ColumnBridge.column(tgtAttr(n))

      // full-row image for an update (unassigned → target's value) or an
      // insert (unassigned → NULL); assignment values cast to the column type
      def imageCols(sets: Map[String, Expression], fromTarget: Boolean): Seq[Column] =
        dataCols.map { n =>
          sets.get(n) match {
            case Some(e) => ColumnBridge.column(e).cast(schema(n).dataType).as(n)
            case None if fromTarget => tcol(n).as(n)
            case None => lit(null).cast(schema(n).dataType).as(n)
          }
        }

      // clause exclusivity must hold at TARGET-ROW granularity, not just
      // per (target, source) pair: a row matched by one source row under a
      // DELETE clause and another under an UPDATE clause would otherwise
      // land in both batches, and the image would win over the tombstone in
      // the combined commit, resurrecting the deleted row. The winning
      // clause per row is the MINIMUM applicable clause index across the
      // row's pairs (a clause-rank window), computed in ONE pass over the
      // joined frame — not K sequential claim/anti-join rounds. Row
      // identity is key PLUS partition (the engine's key scope is
      // per-partition — the same key may legally exist in two partitions,
      // and claiming on key alone would drop the other partition's row).
      val rowId = (keyF ++ partF).distinct
      val delBatches = Seq.newBuilder[DataFrame]
      val imgBatches = Seq.newBuilder[DataFrame]
      // helper-column names must not clobber a legitimate target/source
      // column (withColumn REPLACES same-name columns): suffix until unique
      // against the frame at hand
      def freshName(df: DataFrame, base: String): String = {
        val taken = df.columns.toSet
        Iterator.iterate(base)(_ + "_").dropWhile(taken.contains).next()
      }
      def applyRowClauses(rows: DataFrame, clauses: Seq[MergeClause],
          checkCardinality: Boolean): Unit = {
        if (clauses.isEmpty) return
        val clauseCol = freshName(rows, "__clause")
        val hits = rows.withColumn(clauseCol, firstClauseIdx(clauses))
          .filter(col(clauseCol).isNotNull)
        // Opt-in ANSI cardinality (spark.graft.merge.strictCardinality):
        // raise when >1 source rows each trigger a clause on one target
        // row, instead of the default precombine resolution (Hudi's
        // behavior, documented above). Runs the join once more — the
        // price of the check, paid only when it is switched on.
        if (checkCardinality && strictCardinality(spark)) {
          val dup = hits
            .groupBy(rowId.map(n => tcol(n).as(n)): _*)
            .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
            .select(rowId.map(col): _*).limit(5).collect()
          if (dup.nonEmpty)
            throw GraftException.config(
              "MERGE cardinality violation (strict mode): more than one source row " +
                s"matches and modifies the same target row, e.g. ${dup.take(5).mkString(", ")}. " +
                "Deduplicate the source, or unset spark.graft.merge.strictCardinality " +
                "to precombine-resolve the collision.")
        }
        // one materialization per clause GROUP: every clause batch below is
        // a plain filter over this checkpointed frame
        val winCol = freshName(hits, "__win")
        val winners = hits
          .withColumn(winCol,
            min(col(clauseCol)).over(
              org.apache.spark.sql.expressions.Window.partitionBy(rowId.map(tcol): _*)))
          .filter(col(clauseCol) === col(winCol))
          .localCheckpoint()
        clauses.zipWithIndex.foreach { case (c, i) =>
          val hit = winners.filter(col(clauseCol) === i)
          c.kind match {
            case "delete" =>
              delBatches += hit.select(rowId.map(n => tcol(n).as(n)): _*)
            case "update" =>
              imgBatches += hit.select(imageCols(c.sets.toMap, fromTarget = true): _*)
          }
        }
      }
      applyRowClauses(joined, matched, checkCardinality = true)
      // tgtOnly rows are target-unique (keyed table) and disjoint from
      // `joined` (inner vs anti on the same condition), so neither a
      // cardinality check nor cross-group claims apply
      applyRowClauses(tgtOnly, notMatchedBySource, checkCardinality = false)
      if (notMatched.nonEmpty) {
        // insert clauses need no window (no target row to claim): first
        // applicable clause per SOURCE row, one checkpointed pass
        val insClauseCol = freshName(srcOnly, "__clause")
        val ins = srcOnly.withColumn(insClauseCol, firstClauseIdx(notMatched))
          .filter(col(insClauseCol).isNotNull)
          .localCheckpoint()
        notMatched.zipWithIndex.foreach { case (c, i) =>
          imgBatches += ins.filter(col(insClauseCol) === i)
            .select(imageCols(c.sets.toMap, fromTarget = false): _*)
        }
      }

      def emptyOf(s: StructType) =
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
      val images = imgBatches.result().reduceOption(_ unionByName _)
        .getOrElse(emptyOf(dataSchema))
      val dels = delBatches.result().reduceOption(_ unionByName _)
        .getOrElse(emptyOf(StructType(rowId.map(n => dataSchema(n)))))
      // ONE commit: tombstones + images together — the statement is atomic
      KeyedTable.mergeRows(spark, path, dels, images)
      Seq.empty
    }
  }

  class DmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case d @ DeleteFromTable(GraftRel(path), condition) if d.resolved =>
        refuseMetaRefs(condition)
        GraftDeleteCommand(path, Filter(condition, d.table))
      case u @ UpdateTable(GraftRel(path), assignments, condition) if u.resolved =>
        condition.foreach(refuseMetaRefs)
        val sets = assignments.map { a =>
          a.key match {
            case attr: Attribute => refuseMetaRefs(a.value); attr.name -> a.value
            case other => throw GraftException.config(
              s"UPDATE on a graft table supports plain column assignments, " +
                s"got '${other.sql}' (nested-field assignment is not a keyed-row patch).")
          }
        }.toMap
        GraftUpdateCommand(path,
          Filter(condition.getOrElse(Literal.TrueLiteral), u.table), sets)
      case m: MergeIntoTable if m.resolved =>
        m.targetTable match {
          case GraftRel(path) => rewriteMerge(path, m)
          case _ => plan
        }
      case _ => plan
    }

    private def rewriteMerge(path: String, m: MergeIntoTable): LogicalPlan = {
      // On the DSv2 paths (graft.`/path` catalog tables, and session-catalog
      // tables under GraftSessionCatalog) WITH SCHEMA EVOLUTION is already
      // DONE by now — the analyzer saw AUTOMATIC_SCHEMA_EVOLUTION and
      // widened the table via the catalog's alterTable before resolving the
      // statement. Reaching here with the flag still "un-enabled" means the
      // target resolved through the V1 relation (a session without the
      // GraftSessionCatalog extension), where Spark silently ignores the
      // clause — refuse rather than silently not evolve (the statement's
      // author asked for evolution).
      if (m.withSchemaEvolution && !m.schemaEvolutionEnabled)
        throw GraftException.config(
          "MERGE WITH SCHEMA EVOLUTION on a graft table needs a DSv2-resolved target: " +
            "address it as graft.`/path/to/table`, or register " +
            "spark.sql.catalog.spark_catalog=graft.sources.GraftSessionCatalog " +
            "so session-catalog graft tables resolve through the engine's catalog.")
      val tgtAttrs = m.targetTable.outputSet
      val srcAttrs = m.sourceTable.outputSet
      val tgtNames = m.targetTable.output.map(_.name)
      val srcAttrByName = m.sourceTable.output.map(a => a.name -> a).toMap

      // `references` (not a tree collect): it includes a subquery's OUTER
      // references, so a correlated `EXISTS(... WHERE x.k = t.c)` smuggling
      // a forbidden-side column through the subquery plan still hits the
      // designed refusal instead of an opaque bind failure at run time
      def checked(e: Expression): Expression = {
        val meta = e.references.toSeq.map(_.name)
          .filter(MetaColumns.all.contains).distinct
        if (meta.nonEmpty)
          throw GraftException.config(
            s"MERGE on a graft table cannot reference meta column(s): ${meta.mkString(", ")}.")
        e
      }
      def sideOnly(e: Expression,
          forbidden: org.apache.spark.sql.catalyst.expressions.AttributeSet,
          side: String, what: String): Expression = {
        val stray = e.references.toSeq
          .filter(a => forbidden.contains(a)).map(_.name).distinct
        if (stray.nonEmpty)
          throw GraftException.config(
            s"MERGE $what may reference $side columns only; found: ${stray.mkString(", ")}.")
        checked(e)
      }
      def srcOnly(e: Expression, what: String) =
        sideOnly(e, tgtAttrs, "source", what)
      def tgtOnly(e: Expression, what: String) =
        sideOnly(e, srcAttrs, "target", what)
      def named(a: Assignment, what: String): String = a.key match {
        case attr: Attribute => attr.name
        case other => throw GraftException.config(
          s"MERGE $what supports plain column assignments, got '${other.sql}'.")
      }
      // UPDATE * must not expand to key/partition columns: their values are
      // pinned by the match condition anyway, and assigning them is the
      // refused row-move — expanding them would make UPDATE * unusable on
      // every keyed table. INSERT * keeps the full column list.
      val keyish: Set[String] = CommitLog.state(spark, path)
        .map(st => (st.latest.keyFields ++ st.latest.partitionFields).toSet)
        .getOrElse(Set.empty)
      def starSets(forUpdate: Boolean): Seq[(String, Expression)] = {
        val dataCols = tgtNames.filterNot(MetaColumns.all.contains)
          .filterNot(n => forUpdate && keyish.contains(n))
        val missing = dataCols.filterNot(srcAttrByName.contains)
        if (missing.nonEmpty)
          throw GraftException.config(
            s"MERGE * expansion: source is missing target column(s): ${missing.mkString(", ")}.")
        dataCols.map(n => n -> (srcAttrByName(n): Expression))
      }

      // Spark's analyzer resolves `UPDATE SET *` / `INSERT *` into plain
      // assignment lists expanded over the relation's FULL output — meta
      // columns included (the source must carry same-named columns for the
      // statement to analyze). STAR-generated meta and key/partition update
      // assignments are dropped (the engine stamps metas; the match pins
      // keys — keeping them would make every UPDATE * a refused row-move).
      // An EXPLICITLY written meta assignment in a non-star UPDATE still
      // hits the loud refusal below. INSERT carries no star flag, so its
      // meta assignments are dropped unconditionally (documented: the
      // engine stamps its own).
      def isMeta(a: Assignment) = a.key match {
        case attr: Attribute => MetaColumns.all.contains(attr.name)
        case _ => false
      }
      def isKeyish(a: Assignment) = a.key match {
        case attr: Attribute => keyish.contains(attr.name)
        case _ => false
      }
      def refuseMetaSets(clauses: Seq[MergeClause]): Unit =
        clauses.filter(_.kind == "update").foreach { c =>
          val illegal = c.sets.map(_._1).filter(MetaColumns.all.contains)
          if (illegal.nonEmpty)
            throw GraftException.config(
              s"MERGE UPDATE cannot assign meta column(s): ${illegal.mkString(", ")}.")
        }
      val matched = m.matchedActions.map {
        case u: UpdateAction =>
          val kept =
            if (u.fromStar) u.assignments.filterNot(a => isMeta(a) || isKeyish(a))
            else u.assignments
          MergeClause("update", u.condition.map(checked),
            kept.map(a => named(a, "UPDATE SET") -> checked(a.value)))
        case UpdateStarAction(cond) =>
          MergeClause("update", cond.map(checked), starSets(forUpdate = true))
        case DeleteAction(cond) =>
          MergeClause("delete", cond.map(checked), Seq.empty)
        case other => throw GraftException.config(
          s"MERGE matched action not supported on graft tables: $other.")
      }
      refuseMetaSets(matched)
      val notMatched = m.notMatchedActions.map {
        case InsertAction(cond, assignments) =>
          MergeClause("insert", cond.map(e => srcOnly(e, "NOT MATCHED condition")),
            assignments.filterNot(isMeta).map(a =>
              named(a, "INSERT") -> srcOnly(a.value, "INSERT values")))
        case InsertStarAction(cond) =>
          MergeClause("insert", cond.map(e => srcOnly(e, "NOT MATCHED condition")),
            starSets(forUpdate = false))
        case other => throw GraftException.config(
          s"MERGE not-matched action not supported on graft tables: $other.")
      }
      // WHEN NOT MATCHED BY SOURCE: target rows with no source match — the
      // CDC reconciliation sweep ("deactivate/drop rows that left the
      // feed"). No source row exists, so conditions and values are
      // target-side only.
      val notMatchedBySource = m.notMatchedBySourceActions.map {
        case u: UpdateAction =>
          val kept =
            if (u.fromStar) u.assignments.filterNot(a => isMeta(a) || isKeyish(a))
            else u.assignments
          MergeClause("update",
            u.condition.map(e => tgtOnly(e, "NOT MATCHED BY SOURCE condition")),
            kept.map(a => named(a, "NOT MATCHED BY SOURCE UPDATE SET") ->
              tgtOnly(a.value, "NOT MATCHED BY SOURCE values")))
        case DeleteAction(cond) =>
          MergeClause("delete",
            cond.map(e => tgtOnly(e, "NOT MATCHED BY SOURCE condition")), Seq.empty)
        case other => throw GraftException.config(
          s"MERGE not-matched-by-source action not supported on graft tables: $other.")
      }
      refuseMetaSets(notMatchedBySource)
      GraftMergeCommand(path, m.targetTable, m.sourceTable, checked(m.mergeCondition),
        matched, notMatched, notMatchedBySource)
    }
  }
}
