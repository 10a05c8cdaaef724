package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Retrain RECOMMENDATION hook (`retrain.auto` table property on a standing
  * ANN/PQ index): appends assign/encode against FROZEN trained state, so a
  * drifting corpus piles into few coarse cells and those probes degrade
  * toward scans — the skew `cellStats` surfaces, with `retrain` (T45) as
  * the remedy. This hook closes the loop OBSERVATIONALLY: when the hottest
  * cell's share of the vector partition crosses the property's threshold,
  * the publish journals a `recommend` row to `.maintenance` (surfaced by
  * `show_maintenance` / the `.maintenance` relation). It deliberately does
  * NOT auto-run the retrain — a retrain is a rewrite-scale commit over the
  * whole vector partition that an operator should schedule, not something
  * to detonate inside an ingest publish; the journal row is the pager.
  *
  * Cost control: the share check is one grouped count over the vector
  * partition's `cell` column (column-pruned, no vector bytes move) — still
  * O(index) — so it runs every `retrain.auto.every` data publishes
  * (default 8, counted in a persisted property), not every publish.
  * Opt-in: nothing happens without the property, so standing-index bench
  * probes and ordinary tables never pay the check. Balanced indexes stay
  * QUIET — no journal churn; the `recommend` row appears only when the
  * threshold is crossed and is cleared by the next below-threshold check
  * (after a retrain rebalances the cells).
  */
private[table] object RetrainAdvisor {

  /** Threshold (0, 1]: hottest-cell share of stored vectors that triggers
    * the recommendation. Set on the INDEX table, e.g. "0.5".
    */
  val Prop = "retrain.auto"

  /** Check cadence in data publishes (default 8). */
  val EveryProp = "retrain.auto.every"

  /** INTERNAL: publishes seen since the last check (hook bookkeeping). */
  val SeenProp = "retrain.auto.seen"

  private val Service = "retrain.auto"

  private val inCheck = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  def afterPublish(
      spark: SparkSession, tablePath: String, operation: String,
      props: Map[String, String]): Unit = {
    if (inCheck.get() || CommitLog.RowNeutralOps(operation)) return
    val threshold = props.get(Prop)
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption)
      .filter(t => t > 0 && t <= 1)
    if (threshold.isEmpty) return
    inCheck.set(true)
    try {
      val every = props.get(EveryProp)
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption).filter(_ > 0)
        .getOrElse(8)
      val seen = props.get(SeenProp)
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption).getOrElse(0L) + 1
      if (seen < every) {
        TableProperties.set(spark, tablePath, Map(SeenProp -> seen.toString))
        return
      }
      TableProperties.set(spark, tablePath, Map(SeenProp -> "0"))
      val st = CommitLog.requireState(spark, tablePath)
      val fields = org.apache.spark.sql.types.StructType
        .fromDDL(st.latest.schemaDdl).fieldNames.toSet
      if (!fields.contains("kind") || !fields.contains("cell")) {
        MaintenanceLog.record(spark, tablePath, Service, operation, "skipped",
          "table has no kind/cell columns - retrain.auto is for ANN/PQ index tables")
        return
      }
      // one grouped count over the cell column of the vector partition —
      // column-pruned and kind-pruned; no vector bytes move
      val counts = KeyedTable.read(spark, tablePath)
        .filter(col("kind") === "vector" && col("cell").isNotNull)
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("total"), max(col("n")).as("hottest"),
          count(lit(1)).as("n_cells"))
        .collect()(0)
      if (counts.isNullAt(0)) return // no cell-stamped vectors (flat index)
      val total = counts.getLong(0)
      val hottest = counts.getLong(1)
      val nCells = counts.getLong(2)
      val share = hottest.toDouble / math.max(1L, total)
      if (share >= threshold.get)
        MaintenanceLog.record(spark, tablePath, Service, operation, "recommend",
          f"hottest cell holds $share%.2f of $total vectors across $nCells cells " +
            f"(threshold ${threshold.get}%.2f) - schedule a retrain " +
            "(CALL graft.system.index_retrain)")
      else
        // below threshold: CLEAR a stale recommendation (a retrain happened
        // or drift receded) but never add journal churn when none exists —
        // the journal is last-outcome-per-service, so inspect THE retrain
        // entry's outcome: once an 'ok' overwrote the 'recommend', later
        // balanced checks write nothing
        if (MaintenanceLog.read(spark, tablePath)
            .find(_.service == Service).exists(_.outcome == "recommend"))
          MaintenanceLog.record(spark, tablePath, Service, operation, "ok",
            f"balanced: hottest cell holds $share%.2f of $total vectors")
    } catch {
      case e: Exception =>
        // advisory only — never fail (or slow-fail) the publish path
        System.err.println(
          s"[graft] retrain.auto check after $operation at $tablePath skipped: ${e.getMessage}")
        MaintenanceLog.record(spark, tablePath, Service, operation,
          "skipped", String.valueOf(e.getMessage))
    } finally inCheck.set(false)
  }
}
