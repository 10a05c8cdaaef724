package graft.table

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.GraftException

/** File-level column statistics index — the data-skipping service behind
  * Hudi's metadata-table `column_stats` partition and Delta's file stats
  * (SURVEY §2: the scan-side complement of z-order clustering). `build`
  * reads the parquet FOOTERS of every live base file (metadata-only I/O,
  * O(#files) small reads, distributed over executors — no data scan) and
  * persists per-file min/max/null-count for the indexed columns as a
  * parquet sidecar under the commit log. `prune` answers "which files can
  * contain rows with `column` in [lo, hi]" from the sidecar alone, so a
  * selective read opens a fraction of the files — on a z-ordered 100 TB
  * table this is the difference between scanning everything and scanning
  * the few files whose range overlaps the predicate.
  *
  * Safety: pruning only ever SKIPS a file when the sidecar proves it
  * cannot match — files written after the index, files with unusable
  * footer stats, and files missing from the sidecar are always kept, so a
  * stale index degrades to a slower (never wrong) read.
  */
object StatsIndex {

  /** One sidecar row per (file, column). min/max are canonical strings that
    * round-trip exactly through a Spark cast back to `dtype` (see
    * [[render]]); `has_stats` false = footer stats unusable (always keep);
    * `all_null` true = no non-null value in the file (skip for any range
    * predicate, which null never satisfies).
    */
  final case class StatsRow(
      file: String,
      column: String,
      dtype: String,
      min_val: String,
      max_val: String,
      null_count: Long,
      row_count: Long,
      has_stats: Boolean,
      all_null: Boolean)

  final case class PruneResult(
      kept: Seq[String],
      totalFiles: Int,
      skippedFiles: Int,
      indexedAt: Option[String])

  def statsRoot(tablePath: String): Path =
    new Path(s"$tablePath/${CommitLog.LogDirName}/stats")

  def statsDir(tablePath: String, commitTime: String): Path =
    new Path(statsRoot(tablePath), commitTime)

  /** Live base data files of the table: everything under the table root
    * except the commit-log tree (deltas, archive, stats all live under
    * `.graft/`). O(#files) namenode metadata; the same listing a snapshot
    * read's file index performs.
    */
  def listBaseFiles(fs: FileSystem, tablePath: String): Seq[String] =
    listBaseFileStatuses(fs, tablePath).map(_.getPath.toString)

  /** [[listBaseFiles]] with the FileStatus kept (size-policy callers avoid a
    * second per-file stat). Implemented as a manual listStatus walk, NOT
    * `fs.listFiles(root, recursive = true)`: that returns LocatedFileStatus,
    * whose construction materializes permission/owner fields — and Hadoop's
    * local FS without native IO answers those by FORKING `ls -ld` per file
    * (the measured r14 driver hotspot: ~30% of a maintenance-loop query's
    * wall went to these forks). listStatus keeps permissions lazy and is
    * never asked for them; the walk also prunes the commit-log subtree
    * instead of listing it and filtering after.
    */
  def listBaseFileStatuses(
      fs: FileSystem, tablePath: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new Path(tablePath)
    if (!fs.exists(root)) return Seq.empty
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    def walk(dir: Path): Unit =
      fs.listStatus(dir).foreach { s =>
        if (s.isDirectory) {
          if (s.getPath.getName != CommitLog.LogDirName) walk(s.getPath)
        } else if (s.getPath.getName.endsWith(".parquet")) out += s
      }
    walk(root)
    out.result().sortBy(_.getPath.toString)
  }

  private val indexableTypes: PartialFunction[DataType, Unit] = {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType => ()
    case _: FloatType | _: DoubleType | _: DecimalType => ()
    case _: StringType | _: DateType => ()
    case _: TimestampType | _: TimestampNTZType => ()
  }

  // ----------------------------------------------------------------- build

  /** Index `columns` over the current live base files; commits an
    * `index_stats` instant whose sidecar parquet lives at
    * `.graft/stats/<instant>/`. Indexing is incremental-friendly by
    * construction: files appended later simply aren't covered (kept by
    * every prune) until the next `build` refreshes the sidecar — and a
    * refresh is INCREMENTAL when the previous index covered the same
    * columns: rows for still-live files carry over, only new files get
    * their footers read, so the steady-state refresh after an append costs
    * O(new files), not O(table). Older sidecars are cleaned inline — only
    * the newest index is ever consulted.
    */
  def build(spark: SparkSession, tablePath: String, logicalColumns: Seq[String]): String = {
    require(logicalColumns.nonEmpty, "stats index needs at least one column")
    val st = CommitLog.requireState(spark, tablePath)
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val partF = st.latest.partitionFields.toSet
    // caller-facing names are logical; files and the stored index are physical
    val columns = logicalColumns.map(KeyedTable.physicalNameOf(st.columnMapping, _))
    columns.foreach { c =>
      if (!schema.fieldNames.contains(c))
        throw GraftException.config(s"stats index column '$c' is not in the table schema")
      if (partF.contains(c))
        throw GraftException.config(
          s"stats index column '$c' is a partition column: partition values live in " +
            "directory names (pruned by the partition index), not in data-file footers")
      val dt = schema(c).dataType
      if (!indexableTypes.isDefinedAt(dt))
        throw GraftException.config(s"stats index column '$c' has unindexable type $dt")
    }

    val fs = CommitLog.fs(spark, tablePath)
    val files = listBaseFiles(fs, tablePath)
    val ct = CommitLog.newCommitTime()
    val dir = statsDir(tablePath, ct)

    import spark.implicits._
    // incremental refresh: rows of the previous sidecar whose file is still
    // live carry over untouched when the indexed column set matches —
    // clustered/compacted-away files drop out via the liveness semi-join
    // (a join, not an IN-list: the live set can be 100k+ paths)
    val prev = latestIndex(spark, tablePath)
      .filter(_ => indexedColumns(spark, tablePath).sorted == columns.distinct.sorted)
    val carried: Option[DataFrame] = prev.map { p =>
      spark.read.parquet(statsDir(tablePath, p).toString)
        .join(broadcast(files.toDF("__live")), col("file") === col("__live"), "left_semi")
    }
    val covered: Set[String] = carried
      .map(_.select("file").distinct().collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    val fresh = files.filterNot(covered)
    // nothing to do: every live file is already covered by the newest
    // same-column sidecar (rows for files removed since stay in it, which
    // is harmless — prune intersects with the LIVE listing). This makes a
    // no-base-file-change publish under index.auto cost one listing plus
    // one sidecar coverage read, with no new instant.
    if (prev.isDefined && fresh.isEmpty) return prev.get

    // ship the hadoop conf as plain entries: Configuration is not
    // serializable, and executors on a real cluster need the fs settings
    val confEntries = spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    val colTypes = columns.map(c => (c, schema(c).dataType)).toArray
    val slices = math.max(1, math.min(math.max(fresh.size, 1), spark.sparkContext.defaultParallelism))

    val scanned: DataFrame =
      if (fresh.isEmpty) spark.emptyDataset[StatsRow].toDF()
      else spark.sparkContext.parallelize(fresh, slices)
        .mapPartitions { paths =>
          val conf = new Configuration(false)
          confEntries.foreach { case (k, v) => conf.set(k, v) }
          paths.flatMap(f => fileStats(f, conf, colTypes))
        }.toDF()
    val rows = carried.fold(scanned)(c => scanned.unionByName(c))

    // the previous sidecar is an INPUT here (carried rows stream from it),
    // so land the new one before the inline cleaner below deletes it
    rows.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    writeIndexMeta(fs, dir, columns, files.size)

    CommitLog.write(spark, tablePath, CommitLog.CommitInfo(
      commitTime = ct, operation = "index_stats", tableName = st.latest.tableName,
      tableType = st.latest.tableType, keyFields = st.latest.keyFields,
      precombineField = st.latest.precombineField, partitionFields = st.latest.partitionFields,
      partitions = Seq.empty, recordCount = files.size.toLong,
      schemaDdl = st.latest.schemaDdl, sourcePath = None),
      // sidecar commit: empty partition list never OCC-conflicts, but a
      // concurrent bootstrap (wholesale replace) still aborts this publish
      baseInstant = Some(st.latest.commitTime))

    // inline cleaner: only the newest sidecar is consulted, older ones are dead
    if (fs.exists(statsRoot(tablePath)))
      fs.listStatus(statsRoot(tablePath)).map(_.getPath)
        .filter(_.getName < ct).foreach(fs.delete(_, true))
    ct
  }

  /** Incremental auto-refresh over the SAME columns the newest sidecar
    * covers ([[IndexAutoRefresh]]'s stats half): no-op without an index, or
    * when every indexed column has been dropped. Column identities are
    * re-derived through the current rename mapping, so an index built
    * before a T39 rename keeps refreshing after it.
    */
  def refresh(spark: SparkSession, tablePath: String): Option[String] =
    latestIndex(spark, tablePath).flatMap { _ =>
      val m = CommitLog.requireState(spark, tablePath).columnMapping
      val logical = indexedColumns(spark, tablePath).flatMap(p => m.logicalOf(p))
      if (logical.isEmpty) None else Some(build(spark, tablePath, logical))
    }

  /** Σ parquet-footer row counts per key over (key, file) pairs —
    * distributed metadata reads, zero data decode. Shared by commit-log
    * partition counting ([[KeyedTable]]) and bloom sizing ([[BloomIndex]]):
    * the hadoop-conf rehydration must not drift between copies.
    */
  /** Do any of `files` physically CARRY one of `columns` (parquet footer
    * schema fields)? Distributed metadata reads, zero data decode — the
    * completion test of an incremental [[KeyedTable.reclaim]] campaign:
    * the ddl can shed a dropped column only when no live file carries it.
    */
  private[table] def footerCarriesAny(
      spark: SparkSession, files: Seq[String], columns: Set[String]): Boolean = {
    if (files.isEmpty || columns.isEmpty) return false
    val confEntries = spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    val slices = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(files, slices)
      .map { f =>
        val conf = new Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
        try r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .exists(fld => columns.contains(fld.getName))
        finally r.close()
      }
      .filter(identity).take(1).nonEmpty
  }

  /** Which of the given partitions carry one of `columns` in ANY file's
    * parquet footer — [[footerCarriesAny]] batched over MANY partitions in
    * ONE distributed job, so a campaign publish inspecting K partitions
    * costs one job, not K ([[ReclaimCampaign]]'s per-publish sweep; the
    * one-job-per-partition shape absorbed thousands of tiny jobs into a
    * single publish on wide tables). Result size is bounded by the caller's
    * inspection budget.
    */
  private[table] def footerCarriers(
      spark: SparkSession, filesByPartition: Seq[(String, Seq[String])],
      columns: Set[String]): Set[String] = {
    val pairs = filesByPartition.flatMap { case (p, fs) => fs.map(p -> _) }
    if (pairs.isEmpty || columns.isEmpty) return Set.empty
    val confEntries = spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    val slices = math.max(1, math.min(pairs.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(pairs, slices)
      .map { case (part, f) =>
        val conf = new Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
        val carries = try r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .exists(fld => columns.contains(fld.getName))
        finally r.close()
        (part, carries)
      }
      .filter(_._2).map(_._1).distinct().collect().toSet
  }

  /** Footer sets up to this size are read on the driver, not by a job. */
  private val FooterDriverMax = 32

  private[table] def footerRowCounts(
      spark: SparkSession, pairs: Seq[(String, String)]): Map[String, Long] = {
    if (pairs.isEmpty) return Map.empty
    // small file sets (the steady-state compact/rewrite swap: a handful of
    // freshly-written files) read their footers ON THE DRIVER — a Spark job
    // here is pure overhead (serialize the whole hadoop conf, schedule
    // tasks, collect) that the q22b driver-gap sampler caught red-handed.
    // Large sets (a bulk rewrite on a remote FS) keep the distributed pass.
    if (pairs.size <= FooterDriverMax) {
      val conf = spark.sparkContext.hadoopConfiguration
      pairs.groupBy(_._1).map { case (key, fs) =>
        key -> fs.map { case (_, f) =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
          try r.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum
          finally r.close()
        }.sum
      }
    } else {
      val confEntries = spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray
      val slices = math.max(1, math.min(pairs.size, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(pairs, slices)
        .map { case (key, f) =>
          val conf = new Configuration(false)
          confEntries.foreach { case (k, v) => conf.set(k, v) }
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
          try (key, r.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum)
          finally r.close()
        }.reduceByKey(_ + _).collect().toMap
    }
  }

  /** Footer pass for one file: per requested column, fold row-group chunk
    * stats into a file-level min/max. Any irregularity (missing stats,
    * unexpected physical type, truncated values) degrades to
    * `has_stats = false` — never a guess.
    */
  private def fileStats(
      file: String,
      conf: Configuration,
      colTypes: Array[(String, DataType)]): Iterator[StatsRow] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      colTypes.iterator.map { case (name, dt) =>
        val chunks = blocks.flatMap(_.getColumns.asScala.filter(_.getPath.toDotString == name))
        val stats = chunks.map(_.getStatistics)
        val usable = chunks.nonEmpty && stats.forall(s => s != null && s.isNumNullsSet)
        if (!usable) StatsRow(file, name, dt.sql, null, null, -1L, rowCount, has_stats = false, all_null = false)
        else {
          val nulls = stats.map(_.getNumNulls).sum
          val withVals = stats.filter(_.hasNonNullValue)
          if (withVals.isEmpty) {
            // no chunk saw a non-null value → the column is entirely null here
            StatsRow(file, name, dt.sql, null, null, nulls, rowCount,
              has_stats = true, all_null = nulls == rowCount)
          } else {
            val mins = withVals.map(s => render(dt, s.genericGetMin.asInstanceOf[AnyRef]))
            val maxs = withVals.map(s => render(dt, s.genericGetMax.asInstanceOf[AnyRef]))
            if (mins.exists(_.isEmpty) || maxs.exists(_.isEmpty))
              StatsRow(file, name, dt.sql, null, null, nulls, rowCount, has_stats = false, all_null = false)
            else {
              // fold chunk extremes in the VALUE domain, not string order
              val ord = orderingFor(dt)
              val minV = mins.flatten.min(ord)
              val maxV = maxs.flatten.max(ord)
              StatsRow(file, name, dt.sql, minV, maxV, nulls, rowCount, has_stats = true, all_null = false)
            }
          }
        }
      }.toArray.iterator
    } finally reader.close()
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Canonical string for a footer min/max value, chosen so that
    * `cast(string as dtype)` in Spark reproduces the value EXACTLY
    * (Int/Long/Float/Double/BigDecimal `toString` round-trip; dates and
    * timestamps in ISO forms Spark's cast parses; timestamps rendered in
    * UTC with an explicit offset so a non-UTC session cannot shift them).
    * None = the runtime class does not match the declared type (schema
    * drift, int96 timestamps, …) → caller records `has_stats = false`.
    */
  private def render(dt: DataType, v: AnyRef): Option[String] = (dt, v) match {
    case (_: ByteType | _: ShortType | _: IntegerType, i: java.lang.Integer) => Some(i.toString)
    case (_: LongType, l: java.lang.Long) => Some(l.toString)
    case (_: FloatType, f: java.lang.Float) => Some(f.toString)
    case (_: DoubleType, d: java.lang.Double) => Some(d.toString)
    case (_: StringType, b: Binary) => Some(b.toStringUsingUTF8)
    case (_: DateType, i: java.lang.Integer) => Some(LocalDate.ofEpochDay(i.longValue).toString)
    case (_: TimestampNTZType, l: java.lang.Long) =>
      Some(tsFmt.format(LocalDateTime.ofEpochSecond(
        Math.floorDiv(l, 1000000L), (Math.floorMod(l, 1000000L) * 1000L).toInt, ZoneOffset.UTC)))
    case (_: TimestampType, l: java.lang.Long) =>
      Some(tsFmt.format(LocalDateTime.ofInstant(
        Instant.ofEpochSecond(Math.floorDiv(l, 1000000L), Math.floorMod(l, 1000000L) * 1000L),
        ZoneOffset.UTC)) + "+00:00")
    case (d: DecimalType, i: java.lang.Integer) =>
      Some(java.math.BigDecimal.valueOf(i.longValue, d.scale).toPlainString)
    case (d: DecimalType, l: java.lang.Long) =>
      Some(java.math.BigDecimal.valueOf(l, d.scale).toPlainString)
    case (d: DecimalType, b: Binary) =>
      Some(new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.scale).toPlainString)
    case _ => None
  }

  /** Value-domain ordering over rendered stat strings, for folding multiple
    * row-group extremes into one file extreme.
    */
  private def orderingFor(dt: DataType): Ordering[String] = dt match {
    case _: StringType => Ordering.String
    case _: DateType => Ordering.by((s: String) => LocalDate.parse(s).toEpochDay)
    case _: TimestampNTZType =>
      Ordering.by((s: String) => epochNanos(LocalDateTime.parse(s, tsFmt)))
    case _: TimestampType =>
      Ordering.by((s: String) => epochNanos(LocalDateTime.parse(s.stripSuffix("+00:00"), tsFmt)))
    case _ => Ordering.by((s: String) => BigDecimal(s))
  }

  private def epochNanos(d: LocalDateTime): Long =
    Math.addExact(Math.multiplyExact(d.toEpochSecond(ZoneOffset.UTC), 1000000000L), d.getNano.toLong)

  private def writeIndexMeta(fs: FileSystem, dir: Path, columns: Seq[String], files: Int): Unit = {
    val json = s"""{"columns":[${columns.map(c => "\"" + c + "\"").mkString(",")}],"files":$files}"""
    // underscore prefix: invisible to Spark's parquet reader of the sidecar dir
    val out = fs.create(new Path(dir, "_index.json"), false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  def indexedColumns(spark: SparkSession, tablePath: String): Seq[String] = {
    latestIndex(spark, tablePath) match {
      case None => Seq.empty
      case Some(ct) =>
        val fs = CommitLog.fs(spark, tablePath)
        val p = new Path(statsDir(tablePath, ct), "_index.json")
        if (!fs.exists(p)) Seq.empty
        else {
          val in = fs.open(p)
          val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
          finally in.close()
          node.get("columns").asScala.map(_.asText()).toSeq
        }
    }
  }

  def latestIndex(spark: SparkSession, tablePath: String): Option[String] =
    CommitLog.commits(spark, tablePath).filter(_.operation == "index_stats")
      .lastOption.map(_.commitTime)
      // the sidecar itself must still exist (rollback deletes it with the commit)
      .filter(ct => CommitLog.fs(spark, tablePath).exists(statsDir(tablePath, ct)))

  // ----------------------------------------------------------------- prune

  /** Files that can contain a row with `column` in [lower, upper] (either
    * bound optional). See the multi-range overload for semantics.
    */
  def prune(
      spark: SparkSession,
      tablePath: String,
      column: String,
      lower: Option[Any],
      upper: Option[Any]): PruneResult =
    prune(spark, tablePath, Seq((column, lower, upper)))

  /** Files that can contain a row satisfying EVERY range in `ranges` (a
    * conjunction — a file pruned by any one range is out). On a z-ordered
    * table this is where the Morton layout pays: each file has a bounded
    * range on each clustered column, so skip sets multiply across columns.
    * Skips ONLY files the sidecar proves non-overlapping: live files
    * absent from the index — appended after it was built — are kept
    * unseen. One Spark job over the small sidecar evaluates all ranges;
    * only the skip-list is collected.
    */
  def prune(
      spark: SparkSession,
      tablePath: String,
      ranges: Seq[(String, Option[Any], Option[Any])]): PruneResult = {
    require(ranges.nonEmpty, "prune needs at least one range")
    val st = CommitLog.requireState(spark, tablePath)
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val fs = CommitLog.fs(spark, tablePath)
    val live = listBaseFiles(fs, tablePath)
    latestIndex(spark, tablePath) match {
      case None => PruneResult(live, live.size, 0, None)
      case Some(ct) =>
        val sidecar = spark.read.parquet(statsDir(tablePath, ct).toString)
        val skippable = ranges.map { case (column, lower, upper) =>
          val dt = schema(column).dataType
          val lo = lower.map(v => lit(v).cast(dt))
          val hi = upper.map(v => lit(v).cast(dt))
          // a range predicate is never satisfied by null, so a proven
          // all-null file is skippable even with both bounds open
          val overlaps =
            lo.map(l => col("max_val").cast(dt) >= l).getOrElse(lit(true)) &&
            hi.map(h => col("min_val").cast(dt) <= h).getOrElse(lit(true))
          sidecar.filter(col("column") === column).filter(
            col("all_null") || (col("has_stats") && col("min_val").isNotNull && !overlaps))
            .select("file")
        }.reduce(_ unionByName _)
        val skip = skippable.distinct().collect().map(_.getString(0)).toSet
        val kept = live.filterNot(skip)
        PruneResult(kept, live.size, live.size - kept.size, Some(ct))
    }
  }
}
