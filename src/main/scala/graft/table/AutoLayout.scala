package graft.table

import org.apache.spark.sql.SparkSession

/** Policy-driven clustered-layout maintenance (`layout.auto` table
  * property): after each data publish, re-run [[KeyedTable.clusterSort]]
  * over the stamped sort columns once enough data commits have accumulated
  * since the last cluster rewrite — the layout twin of
  * [[AutoCompact]]. Compaction folds MOR deltas into base files but does
  * NOT re-sort them, so a sort-clustered layout (the term-clustered posting
  * partition a text index's row-group pruning depends on, a z-ordered
  * scan table) silently degrades under continuous ingest until somebody
  * remembers to re-cluster — exactly the operator-babysitting failure the
  * policy hooks exist to remove. With the stamp, the layout follows the
  * write traffic hands-off.
  *
  * Properties (stamped at birth by e.g. [[graft.operators.TextIndex.build]]):
  *  - `layout.auto` — comma-separated sort columns of the rewrite;
  *  - `layout.auto.partitions` — optional comma-separated partition
  *    restriction (a text index re-sorts only `kind=posting`);
  *  - `layout.auto.commits` — data commits since the last cluster rewrite
  *    (or bootstrap) before the hook fires; default 8;
  *  - `layout.auto.ratio` — minimum pending-rows / all-rows fraction in
  *    the target partitions (default 0.02): the rewrite costs a full
  *    partition pass, so it must be amortized against how much of the
  *    layout actually degraded — N tiny streamed batches stay below the
  *    ratio and the probes' unpruned tail stays proportionally tiny.
  *    Both triggers are computed from COMMIT METADATA alone (operation +
  *    per-partition record counts) — the check reads no data files.
  *
  * Failure posture: BEST-EFFORT like every policy hook. An un-re-sorted
  * layout is always CORRECT (just slower to probe); a cluster rewrite
  * losing OCC to a concurrent writer logs, journals to `.maintenance`, and
  * the untouched counter retries on the next publish. A hook failure never
  * fails the data publish that already landed. The ThreadLocal + operation
  * filter keep the rewrite's own `cluster` publish from re-triggering the
  * hook (and from re-counting itself — the rewrite IS the anchor the next
  * count starts from).
  */
private[table] object AutoLayout {

  private val inLayout = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  private def csv(v: String): Seq[String] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def afterPublish(
      spark: SparkSession, tablePath: String, operation: String,
      props: Map[String, String]): Unit = {
    // operations that change no logical rows never trigger the layout (and
    // never count toward it below); `cluster` is the anchor itself
    if (inLayout.get() || CommitLog.RowNeutralOps(operation)) return
    val cols = props.get(TableProperties.LayoutAuto).map(csv).getOrElse(Seq.empty)
    if (cols.isEmpty) return
    val parts = props.get(TableProperties.LayoutAutoPartitions).map(csv)
      .filter(_.nonEmpty)
    val threshold = props.get(TableProperties.LayoutAutoCommits)
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).filter(_ > 0)
      .getOrElse(8)
    val maxRecords = props.get(TableProperties.LayoutAutoMaxRecords)
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).filter(_ > 0)
      .getOrElse(0L)
    val ratio = props.get(TableProperties.LayoutAutoRatio)
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption).filter(_ >= 0)
      .getOrElse(0.02)
    inLayout.set(true)
    try {
      val cs = CommitLog.requireState(spark, tablePath).commits
      // anchor = the last layout rewrite (any cluster commit) or, before
      // one exists, the bootstrap — the counter naturally resets each time
      // the hook (or a manual optimize/sizeFiles) rewrites the layout
      val anchorC = cs
        .filter(c => c.operation == "cluster" || c.operation == "bootstrap")
        .maxBy(_.commitTime)
      val pending = cs
        .filter(c => c.commitTime > anchorC.commitTime && !CommitLog.RowNeutralOps(c.operation))
        .filter(c => parts.forall(ps => c.partitions.exists(p => ps.contains(p.path))))
      // rows a commit wrote into the TARGET partitions — the metadata proxy
      // the ratio is computed from
      def rowsIn(c: CommitLog.CommitInfo): Long = parts match {
        case Some(ps) =>
          c.partitions.filter(p => ps.contains(p.path)).map(_.recordCount).sum
        case None => c.recordCount
      }
      val pendingRows = pending.map(rowsIn).sum
      // denominator = the partition size RECORDED BY the anchor commit (a
      // cluster rewrite logs the rewritten counts; so does the bootstrap):
      // the unsorted fraction is pending over the last-clustered layout.
      // Summing every historical commit instead would drift upward with
      // replace-append churn and eventually starve the trigger for good.
      val baseRows = rowsIn(anchorC)
      if (pending.size >= threshold &&
          (baseRows == 0L || pendingRows.toDouble >= ratio * baseRows.toDouble)) {
        val touched = KeyedTable.clusterSort(spark, tablePath, cols,
          maxRecordsPerFile = maxRecords, partitions = parts)
        MaintenanceLog.record(spark, tablePath, TableProperties.LayoutAuto,
          operation, "ok",
          s"clustered=[${touched.mkString(",")}] by=[${cols.mkString(",")}] " +
            s"after ${pending.size} data commits / $pendingRows pending rows")
      } // below threshold: quiet no-op — no journal churn on every publish
    } catch {
      case e: Exception =>
        // a degraded layout stays correct; the untouched counter retries on
        // the next publish
        System.err.println(
          s"[graft] layout.auto after $operation at $tablePath skipped: ${e.getMessage}")
        MaintenanceLog.record(spark, tablePath, TableProperties.LayoutAuto,
          operation, "skipped", String.valueOf(e.getMessage))
    } finally inLayout.set(false)
  }
}
