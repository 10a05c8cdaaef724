package graft.ledger

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The `hudi_transactions` relation (app.py:41-51) as a typed Dataset with
  * the reference's query surface (SURVEY §2.7): composable history filter,
  * point lookup, and the runaway sweep expressed as a bulk-update projection
  * rather than a driver loop. Persistence reuses the keyed table (key =
  * transaction_id, precombine = start_time), so status updates are the same
  * upsert primitive as the data path (S7).
  */
object TransactionLedger {

  final case class Transaction(
      id: Long,
      transaction_id: String,
      status: String,
      transaction_data: String, // JSON blob (app.py:213); decode with from_json
      start_time: Timestamp,
      end_time: Option[Timestamp],
      app_id: Option[String],
      error_log: Option[String])

  val TimeoutMinutes = 60 // app.py:75
  val RunawayMessage = "Transaction timeout or runaway process." // app.py:78

  /** GET /bootstrap_history/ (app.py:228-244): optional LIKE on
    * transaction_id (F1) ∧ optional inclusive lower date bound (F2) ∧
    * optional exclusive upper bound at day granularity (F3), ORDER BY
    * start_time DESC (O1). One narrow scan; the sort is the only shuffle.
    */
  def history(
      txns: DataFrame,
      search: Option[String] = None,
      startDate: Option[String] = None,
      endDate: Option[String] = None): DataFrame = {
    var df = txns
    search.foreach(s => df = df.filter(col("transaction_id").contains(s)))
    startDate.foreach(d => df = df.filter(col("start_time") >= to_timestamp(lit(d))))
    endDate.foreach(d => df = df.filter(col("start_time") < date_add(to_date(lit(d)), 1)))
    df.orderBy(col("start_time").desc)
  }

  /** Point lookup by transaction id (app.py:334, O2). */
  def lookup(txns: DataFrame, transactionId: String): DataFrame =
    txns.filter(col("transaction_id") === transactionId).limit(1)

  /** Runaway sweep (app.py:90-105): PENDING rows older than the timeout
    * become FAILED with the runaway message — the reference's per-row driver
    * loop expressed as one projection. Returns the full updated relation;
    * callers persist via the keyed-table upsert.
    */
  def sweepRunaways(txns: DataFrame, now: Column): DataFrame = {
    val runaway = col("status") === "PENDING" &&
      col("start_time") <= now - expr(s"INTERVAL $TimeoutMinutes MINUTES")
    txns
      .withColumn("error_log", when(runaway, lit(RunawayMessage)).otherwise(col("error_log")))
      .withColumn("status", when(runaway, lit("FAILED")).otherwise(col("status")))
  }

  /** F10: transaction_id = "{table}-{epoch}" (app.py:209). */
  def newTransactionId(tableName: Column): Column =
    concat(tableName, lit("-"), unix_timestamp())

  /** Client-side pagination (HistoryTable.js slice, O3), two-pass: a
    * distributed top-(pageEnd) (TakeOrderedAndProject — per-partition partial
    * top-k, never a global single-partition window over the whole relation),
    * then rank the page-bounded remainder in one tiny sorted partition.
    */
  def page(sorted: DataFrame, pageIdx: Int, rowsPerPage: Int, orderCols: Seq[Column]): DataFrame = {
    val pageEnd = (pageIdx + 1) * rowsPerPage
    sorted.orderBy(orderCols: _*).limit(pageEnd)
      .coalesce(1).sortWithinPartitions(orderCols: _*)
      // non-deterministic expr: the optimizer cannot move it below the sort
      .withColumn("__rn", monotonically_increasing_id() + 1)
      .filter(col("__rn") > pageIdx * rowsPerPage && col("__rn") <= pageEnd)
      .drop("__rn")
  }
}
