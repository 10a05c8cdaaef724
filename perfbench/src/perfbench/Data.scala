package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One lineitem row as the benchmark generates it. `l_month` ("yyyy-MM" of
  * `l_shipdate`) is the partition column; the key is (l_orderkey,
  * l_linenumber); `l_shipdate` is the precombine field.
  */
final case class Line(
    orderkey: Long, partkey: Long, suppkey: Long, linenumber: Int,
    quantity: Double, extendedprice: Double, discount: Double, tax: Double,
    returnflag: String, linestatus: String, shipdateMicros: Long, month: String) {
  def key: (Long, Int) = (orderkey, linenumber)
  def toRow: Row = Row(orderkey, partkey, suppkey, linenumber, quantity, extendedprice,
    discount, tax, returnflag, linestatus, new Timestamp(shipdateMicros / 1000L), month)
}

object Line {
  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType), StructField("l_month", StringType)))
  val columns: Seq[String] = schema.fieldNames.toSeq
  val keyFields = Seq("l_orderkey", "l_linenumber")
  val precombine = "l_shipdate"
  val partitionField = "l_month"

  def fromRow(r: Row): Line = Line(
    r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey"), r.getAs[Long]("l_suppkey"),
    r.getAs[Int]("l_linenumber"), r.getAs[Double]("l_quantity"),
    r.getAs[Double]("l_extendedprice"), r.getAs[Double]("l_discount"),
    r.getAs[Double]("l_tax"), r.getAs[String]("l_returnflag"),
    r.getAs[String]("l_linestatus"),
    micros(r.getAs[Timestamp]("l_shipdate")), r.getAs[String]("l_month"))

  private def micros(t: Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L

  /** Record-key string in the engine's composite `_hoodie_record_key` form. */
  def recordKey(k: (Long, Int)): String = s"l_orderkey:${k._1},l_linenumber:${k._2}"

  /** Rows whose key is one of `keys`. */
  def keyFilter(keys: Seq[(Long, Int)]): Column =
    keys.map { case (o, l) => col("l_orderkey") === o && col("l_linenumber") === l }.reduce(_ || _)

  def collect(df: DataFrame): Seq[Line] =
    df.select(columns.map(df.col): _*).collect().map(fromRow).toSeq

  def toDf(spark: SparkSession, rows: Iterable[Line]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(_.toRow).toSeq, 4), schema)
}

/** Order-independent table checksum: count plus the sum of
  * pmod(xxhash64(data columns), P) over rows. The Spark side and the driver
  * side use the same hash function (Spark's own `XxHash64Function`), so a
  * model kept on the driver is compared exactly with what a query returns.
  */
object Checksum {
  val P = 1000000007L
  final case class Summary(count: Long, sum: Long) {
    def +(l: Line): Summary = Summary(count + 1, sum + of(l))
    def -(l: Line): Summary = Summary(count - 1, sum - of(l))
  }
  val empty: Summary = Summary(0L, 0L)

  import org.apache.spark.sql.functions._
  /** The aggregate a snapshot op runs: one row (count, checksum). */
  def aggregate(df: DataFrame): Summary = {
    val r = df.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(Line.columns.map(col): _*), lit(P))), lit(0L)))
      .collect().head
    Summary(r.getLong(0), r.getLong(1))
  }

  def of(l: Line): Long = {
    var h = 42L
    def f(v: Any, t: DataType): Unit = h = XxHash64Function.hash(v, t, h)
    f(l.orderkey, LongType); f(l.partkey, LongType); f(l.suppkey, LongType)
    f(l.linenumber, IntegerType); f(l.quantity, DoubleType); f(l.extendedprice, DoubleType)
    f(l.discount, DoubleType); f(l.tax, DoubleType)
    f(UTF8String.fromString(l.returnflag), StringType)
    f(UTF8String.fromString(l.linestatus), StringType)
    f(l.shipdateMicros, TimestampType); f(UTF8String.fromString(l.month), StringType)
    Math.floorMod(h, P)
  }

  def of(rows: Iterable[Line]): Summary = rows.foldLeft(empty)(_ + _)
}

/** Seeded lineitem generator. Rows spread over `months` monthly partitions
  * starting at 1992-01 (83 months is TPC-H's shipdate range). Each write
  * batch draws its rows from the 6 newest months plus 3 seeded older months
  * (late arrivals); ~70% are updates of existing keys, ~30% inserts of new
  * keys, and a few keys repeat inside a batch with a later precombine value,
  * so batch dedup has work.
  */
final class LineGen(seed: Long, val months: Int) {
  private val rnd = new scala.util.Random(seed)
  private val monthStart: IndexedSeq[(String, Long)] = (0 until months).map { i =>
    val d = LocalDate.of(1992, 1, 1).plusMonths(i.toLong)
    (f"${d.getYear}%04d-${d.getMonthValue}%02d",
      d.atStartOfDay().toEpochSecond(ZoneOffset.UTC) * 1000000L)
  }
  private var nextOrder = 1L
  private val Flags = Vector("R", "A", "N")
  private val Status = Vector("O", "F")

  def monthName(i: Int): String = monthStart(i)._1

  private def line(order: Long, ln: Int, m: Int): Line = {
    val q = (1 + rnd.nextInt(50)).toDouble
    Line(order, 1L + rnd.nextInt(20000), 1L + rnd.nextInt(1000), ln, q,
      Math.round(q * (900 + rnd.nextInt(1100)) * 100.0) / 100.0,
      rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
      Flags(rnd.nextInt(3)), Status(rnd.nextInt(2)),
      monthStart(m)._2 + rnd.nextInt(20 * 86400).toLong * 1000000L, monthStart(m)._1)
  }

  /** Fresh orders with 1..7 lines each until `n` rows exist. */
  def base(n: Int): Vector[Line] = {
    val out = Vector.newBuilder[Line]
    var made = 0
    while (made < n) {
      val o = nextOrder; nextOrder += 1
      val m = rnd.nextInt(months)
      val lines = math.min(1 + rnd.nextInt(7), n - made)
      (1 to lines).foreach(ln => out += line(o, ln, m))
      made += lines
    }
    out.result()
  }

  /** The months a write batch targets: the 6 newest plus 3 seeded older. */
  def batchMonths(): Seq[Int] = {
    val newest = (months - 6 until months)
    val older = rnd.shuffle((0 until months - 6).toVector).take(3)
    (newest ++ older).sorted
  }

  /** An upsert batch of ~`n` rows against `live`: 70% updates of existing
    * keys in the target months (precombine strictly later, same month), 30%
    * new keys, plus ~2% in-batch repeats carrying a later precombine.
    */
  def upsertBatch(live: Model, n: Int): Vector[Line] = {
    val ms = batchMonths()
    val targets = ms.map(monthName).toSet
    val pool = live.keysIn(targets)
    val nUpd = math.min((n * 0.7).toInt, pool.size)
    val upd = rnd.shuffle(pool).take(nUpd).map { k =>
      bump(live.get(k).get)
    }
    val ins = Vector.newBuilder[Line]
    var made = 0
    while (made < n - nUpd) {
      val o = nextOrder; nextOrder += 1
      val m = ms(rnd.nextInt(ms.size))
      val lines = math.min(1 + rnd.nextInt(7), n - nUpd - made)
      (1 to lines).foreach(ln => ins += line(o, ln, m))
      made += lines
    }
    val batch = upd ++ ins.result()
    val repeats = rnd.shuffle(batch).take(math.max(1, n / 50)).map(bump)
    batch ++ repeats
  }

  /** Keys to delete: ~`n` existing keys from the target months. */
  def deleteBatch(live: Model, n: Int): Vector[Line] = {
    val targets = batchMonths().map(monthName).toSet
    rnd.shuffle(live.keysIn(targets)).take(n).map(k => live.get(k).get)
  }

  private def bump(l: Line): Line = {
    val q = (1 + rnd.nextInt(50)).toDouble
    l.copy(quantity = q, extendedprice = Math.round(q * (900 + rnd.nextInt(1100)) * 100.0) / 100.0,
      linestatus = "F", shipdateMicros = l.shipdateMicros + (1 + rnd.nextInt(60)).toLong * 1000000L)
  }

  def shuffle[T](xs: Seq[T]): Seq[T] = rnd.shuffle(xs)
}

/** The plain model of a keyed table: latest image per (key, partition), by
  * precombine within a batch and by commit order across batches, minus
  * deletes. It keeps its count/checksum summary incrementally and remembers
  * the summary and the changed keys of every commit instant, so snapshot,
  * as-of and change reads are all checked against it.
  */
final class Model {
  private val rows = mutable.HashMap.empty[(Long, Int), Line]
  private val byMonth = mutable.HashMap.empty[String, mutable.LinkedHashSet[(Long, Int)]]
  private var sum = Checksum.empty
  /** (commit instant, summary after it, keys it changed) in commit order. */
  val history = mutable.ArrayBuffer.empty[(String, Checksum.Summary, Set[(Long, Int)])]

  def summary: Checksum.Summary = sum
  def size: Int = rows.size
  def get(k: (Long, Int)): Option[Line] = rows.get(k)
  def keysIn(months: Set[String]): Vector[(Long, Int)] =
    months.toVector.sorted.flatMap(m => byMonth.get(m).map(_.toVector).getOrElse(Vector.empty))
  def allKeys: Vector[(Long, Int)] = keysIn(byMonth.keySet.toSet)

  private def put(l: Line): Unit = {
    rows.get(l.key).foreach(remove)
    rows(l.key) = l
    byMonth.getOrElseUpdate(l.month, mutable.LinkedHashSet.empty) += l.key
    sum = sum + l
  }
  private def remove(l: Line): Unit = {
    rows.remove(l.key)
    byMonth.get(l.month).foreach(_ -= l.key)
    sum = sum - l
  }

  /** Batch dedup: the latest precombine per key wins. */
  def upsert(batch: Seq[Line]): Unit =
    batch.groupBy(_.key).values.map(_.maxBy(_.shipdateMicros)).foreach(put)
  def delete(keys: Seq[Line]): Unit = keys.foreach(l => rows.get(l.key).foreach(remove))
  def commit(instant: String, changed: Iterable[Line]): Unit =
    history += ((instant, sum, changed.map(_.key).toSet))
  def reset(): Unit = { rows.clear(); byMonth.clear(); sum = Checksum.empty; history.clear() }

  /** Keys changed by commits strictly after `instant`. */
  def changedSince(instant: String): Set[(Long, Int)] =
    history.filter(_._1 > instant).flatMap(_._3).toSet
  def summaryAt(instant: String): Checksum.Summary =
    history.filter(_._1 <= instant).lastOption.map(_._2).getOrElse(Checksum.empty)
}
