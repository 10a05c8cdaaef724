package graft.table

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

import graft.model.GraftException

/** Per-file bloom filters over the record key — the Hudi BLOOM-index
  * analogue (SURVEY §2 H7/J4: upsert key location). One column-pruned scan
  * of `_hoodie_record_key` builds a bloom per base file (each scan task
  * sees one file split, so filters build map-side and merge by file — no
  * row shuffle); the sidecar parquet under the commit log is O(#files).
  * `candidateFiles` then answers "which files MIGHT contain any of these
  * keys" without touching data: a point lookup or a small global-upsert
  * batch opens the handful of files whose bloom fires instead of scanning
  * the table — on a 100 TB table the difference between a sub-second
  * probe and a full-table join.
  *
  * Safety mirrors [[StatsIndex]]: a file is only skipped when its bloom
  * PROVES (up to the fpp, which only yields false KEEPS, never false
  * skips) no key matches; files appended after the index build are kept
  * unseen, so a stale index is slower, never wrong.
  */
object BloomIndex {

  final case class BloomRow(
      file: String, column: String, key_count: Long, fpp: Double, bloom: Array[Byte])

  def bloomRoot(tablePath: String): Path =
    new Path(s"$tablePath/${CommitLog.LogDirName}/bloom")

  def bloomDir(tablePath: String, commitTime: String): Path =
    new Path(bloomRoot(tablePath), commitTime)

  /** input_file_name() URI-encodes; the fs listing does not. One canonical
    * form so sidecar keys and live listings always compare equal.
    */
  private def normalizePath(s: String): String =
    try new Path(new java.net.URI(s)).toString
    catch { case _: Exception => new Path(s).toString }

  // ----------------------------------------------------------------- build

  /** Build blooms for every live base file and commit an `index_bloom`
    * instant. `fpp` trades sidecar size for extra false-positive file
    * opens on lookup (1% ≈ 1.2 bytes/key). `column` defaults to the record
    * key; any other column makes this a SECONDARY index (Hudi
    * secondary-index analogue) — point predicates on a high-cardinality
    * non-key column prune files the min/max stats cannot (an unclustered
    * column's ranges overlap everywhere, but its per-file value SETS
    * don't). Values bloom as their canonical cast-to-string form.
    */
  def build(
      spark: SparkSession,
      tablePath: String,
      fpp: Double = 0.01,
      logicalColumn: String = MetaColumns.RecordKey): String = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val st = CommitLog.requireState(spark, tablePath)
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    // caller-facing name is logical; files and the stored index are physical
    val column = KeyedTable.physicalNameOf(st.columnMapping, logicalColumn)
    if (!schema.fieldNames.contains(column))
      throw GraftException.config(s"bloom index column '$logicalColumn' is not in the table schema")
    if (st.latest.partitionFields.contains(column))
      throw GraftException.config(
        s"bloom index column '$column' is a partition column: partition values are " +
          "pruned by the partition index, not per-file blooms")
    val fs = CommitLog.fs(spark, tablePath)
    val files = StatsIndex.listBaseFiles(fs, tablePath)
    val ct = CommitLog.newCommitTime()
    val dir = bloomDir(tablePath, ct)

    import spark.implicits._
    // incremental refresh: a base file is immutable, so its bloom never
    // changes — rows of the newest same-column sidecar whose file is still
    // live carry over untouched (same-fpp rows only: a changed fpp forces
    // a full rebuild), and only files the previous index never saw get
    // scanned. Steady-state refresh after an append costs O(new files),
    // not O(table). All-null files never produce a row, so they re-enter
    // the fresh set each refresh — harmless (their scan finds no keys).
    val prev = latestIndex(spark, tablePath, column)
    val carried: Option[DataFrame] = prev.map { p =>
      spark.read.parquet(bloomDir(tablePath, p).toString)
        .filter(col("fpp") === fpp)
        .join(broadcast(files.map(normalizePath).toDF("__live")),
          col("file") === col("__live"), "left_semi")
    }
    val covered: Set[String] = carried
      .map(_.select("file").distinct().collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    val fresh = files.filterNot(f => covered(normalizePath(f)))
    // nothing to do: every live file already has a same-fpp bloom in the
    // newest sidecar (stale rows for removed files are harmless —
    // candidateFiles intersects with the LIVE listing), so a
    // no-base-file-change publish under index.auto stamps no new instant
    if (prev.isDefined && fresh.isEmpty) return prev.get

    val scanned: DataFrame =
      if (fresh.isEmpty) spark.emptyDataset[BloomRow].toDF()
      else {
        val keyed = spark.read.schema(schema).option("basePath", tablePath)
          .parquet(fresh: _*)
          .select(input_file_name().as("f"), col(column).cast("string").as("k"))
          .filter(col("k").isNotNull) // nulls never match a point probe
        // size each bloom from the parquet FOOTER row count — O(#files)
        // metadata reads distributed over executors, no data pass (was a
        // full groupBy-count scan of the key column, doubling build I/O).
        // Footer counts include null-key rows, so a file with nulls gets a
        // slightly roomier bloom: overcounting only lowers the effective
        // fpp, never raises it.
        val counts = StatsIndex.footerRowCounts(
          spark, fresh.map(f => normalizePath(f) -> f))
        val bCounts = spark.sparkContext.broadcast(counts)
        keyed.as[(String, String)].rdd
          .mapPartitions { it =>
            // a scan task covers one file split → usually exactly one bloom
            val acc = scala.collection.mutable.HashMap.empty[String, (BloomFilter, Long)]
            it.foreach { case (rawF, k) =>
              val f = normalizePath(rawF)
              val (bf, n) = acc.getOrElseUpdate(f,
                (BloomFilter.create(math.max(1L, bCounts.value.getOrElse(f, 1L)), fpp), 0L))
              bf.putString(k)
              acc.update(f, (bf, n + 1))
            }
            acc.iterator
          }
          .reduceByKey((x, y) => (x._1.mergeInPlace(y._1), x._2 + y._2))
          .map { case (f, (bf, n)) =>
            val bos = new ByteArrayOutputStream()
            bf.writeTo(bos)
            BloomRow(f, column, n, fpp, bos.toByteArray)
          }.toDF()
        // files whose indexed column is entirely null produce no bloom row:
        // candidateFiles keeps unknown files, so they are read, never lost
      }
    // the previous sidecar is an INPUT (carried rows stream from it), so
    // land the new one before the inline cleaner below deletes it
    val rows = carried.fold(scanned)(c =>
      scanned.unionByName(c.select(scanned.columns.map(col).toSeq: _*)))

    rows.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    writeColumnMarker(fs, dir, column, files.size, fpp)

    CommitLog.write(spark, tablePath, CommitLog.CommitInfo(
      commitTime = ct, operation = "index_bloom", tableName = st.latest.tableName,
      tableType = st.latest.tableType, keyFields = st.latest.keyFields,
      precombineField = st.latest.precombineField, partitionFields = st.latest.partitionFields,
      partitions = Seq.empty, recordCount = files.size.toLong,
      schemaDdl = st.latest.schemaDdl, sourcePath = None),
      // sidecar commit: empty partition list never OCC-conflicts, but a
      // concurrent bootstrap (wholesale replace) still aborts this publish
      baseInstant = Some(st.latest.commitTime))

    // per-COLUMN inline cleaner: indexes of other columns stay live
    if (fs.exists(bloomRoot(tablePath)))
      fs.listStatus(bloomRoot(tablePath)).map(_.getPath)
        .filter(p => p.getName < ct && columnOf(fs, p).contains(column))
        .foreach(fs.delete(_, true))
    ct
  }

  private def writeColumnMarker(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path, column: String, files: Int,
      fpp: Double): Unit = {
    val json = s"""{"column":${quote(column)},"files":$files,"fpp":$fpp}"""
    // underscore prefix: invisible to the sidecar's parquet reader
    val out = fs.create(new Path(dir, "_index.json"), false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** The fpp the sidecar was built with (absent on pre-fpp markers — a
    * refresh then assumes the default and a changed fpp forces one full
    * rebuild, after which the marker carries it).
    */
  private def fppOf(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Option[Double] = {
    val p = new Path(dir, "_index.json")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
    finally in.close()
    Option(node.get("fpp")).map(_.asDouble())
  }

  /** Incremental auto-refresh of EVERY bloom index the table has, one per
    * indexed column, at each column's original fpp ([[IndexAutoRefresh]]'s
    * bloom half). Column identities are re-derived through the current
    * rename mapping; an index whose column was dropped is left as-is (its
    * sidecar keeps pruning reads as-of earlier instants and dies with its
    * next manual rebuild).
    */
  def refreshAll(spark: SparkSession, tablePath: String): Seq[String] = {
    val fs = CommitLog.fs(spark, tablePath)
    if (!fs.exists(bloomRoot(tablePath))) return Seq.empty
    val m = CommitLog.requireState(spark, tablePath).columnMapping
    val physCols = fs.listStatus(bloomRoot(tablePath)).map(_.getPath)
      .flatMap(p => columnOf(fs, p)).distinct.toSeq
    physCols.flatMap { phys =>
      m.logicalOf(phys).flatMap { logical =>
        latestIndex(spark, tablePath, phys).map { p =>
          val fpp = fppOf(fs, bloomDir(tablePath, p)).getOrElse(0.01)
          build(spark, tablePath, fpp, logical)
        }
      }
    }
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def columnOf(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Option[String] = {
    val p = new Path(dir, "_index.json")
    if (!fs.exists(p)) return Some(MetaColumns.RecordKey) // pre-marker sidecars were key-only
    val in = fs.open(p)
    val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
    finally in.close()
    Option(node.get("column")).map(_.asText())
  }

  /** Newest index commit whose sidecar still exists and indexes `column`. */
  def latestIndex(
      spark: SparkSession,
      tablePath: String,
      column: String = MetaColumns.RecordKey): Option[String] = {
    val fs = CommitLog.fs(spark, tablePath)
    CommitLog.commits(spark, tablePath).filter(_.operation == "index_bloom")
      .map(_.commitTime).reverse
      .find(ct => fs.exists(bloomDir(tablePath, ct)) &&
        columnOf(fs, bloomDir(tablePath, ct)).contains(column))
  }

  // ----------------------------------------------------------------- probe

  /** Files that might contain ANY of `keys` (record-key strings, the
    * `_hoodie_record_key` format). The probe distributes over the sidecar
    * with the keys broadcast — suited to point lookups and bounded update
    * batches; for huge key sets skip the index and scan (the caller's
    * `maxKeys` guard). No index → every live file is a candidate.
    */
  def candidateFiles(
      spark: SparkSession,
      tablePath: String,
      keys: Seq[String],
      column: String = MetaColumns.RecordKey): StatsIndex.PruneResult = {
    val fs = CommitLog.fs(spark, tablePath)
    val live = StatsIndex.listBaseFiles(fs, tablePath)
    latestIndex(spark, tablePath, column) match {
      case None => StatsIndex.PruneResult(live, live.size, 0, None)
      case Some(ct) =>
        val bKeys = spark.sparkContext.broadcast(keys.toArray)
        import spark.implicits._
        // collect the NON-candidates: provably key-free files
        val skip = spark.read.parquet(bloomDir(tablePath, ct).toString)
          .select("file", "bloom").as[(String, Array[Byte])]
          .mapPartitions { it =>
            it.filterNot { case (_, bytes) =>
              val bf = BloomFilter.readFrom(new ByteArrayInputStream(bytes))
              bKeys.value.exists(bf.mightContainString)
            }.map(_._1)
          }.collect().toSet
        val kept = live.filterNot(skip)
        StatsIndex.PruneResult(kept, live.size, live.size - kept.size, Some(ct))
    }
  }

  /** Point lookup by record key, bloom-pruned: on an indexed table this
    * opens only the files whose bloom fires. Keys are `_hoodie_record_key`
    * strings (single key field: the stringified value; composite:
    * "k1:v1,k2:v2"). METADATA_ONLY partitions fall back to the merged
    * snapshot; live MOR deltas cost only the partitions they touch (see
    * [[readByValues]]).
    */
  def readByKeys(spark: SparkSession, tablePath: String, keys: Seq[String]): DataFrame =
    readByValues(spark, tablePath, MetaColumns.RecordKey, keys)

  /** Secondary-index point lookup: rows whose `column` equals any of
    * `values` (canonical cast-to-string forms, matching how the blooms
    * were built). With a bloom index on `column`, only bloom-positive
    * files open; without one this is a filtered scan — correct either way.
    */
  def readByValues(
      spark: SparkSession, tablePath: String, column: String, values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "readByValues needs at least one value")
    val st = CommitLog.requireState(spark, tablePath)
    // `column` is the user-facing LOGICAL name; blooms and files are physical
    val physCol = KeyedTable.physicalNameOf(st.columnMapping, column)
    // METADATA_ONLY partitions sit outside the bloom/file machinery; live
    // MOR deltas only cost the partitions they TOUCH — everything else
    // keeps the bloom-pruned point lookup (the streaming-ingest posture:
    // deltas are always live somewhere on a 100 TB ingest table, and a
    // point lookup must not pay a full-table merge for them)
    if (st.metadataOnlyPartitions.nonEmpty)
      return KeyedTable.read(spark, tablePath)
        .filter(col(column).cast("string").isin(values: _*))
    val touched: Set[String] = {
      val live = Deltas.committedLive(spark, tablePath, st)
      if (live.isEmpty) Set.empty else Deltas.touchedPartitions(st, live).toSet
    }
    if (touched.nonEmpty && st.latest.partitionFields.isEmpty)
      return KeyedTable.read(spark, tablePath)
        .filter(col(column).cast("string").isin(values: _*))
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val pr = candidateFiles(spark, tablePath, values, physCol)
    val kept = pr.kept.filterNot(f =>
      touched.exists(p => f.contains(s"/${graft.table.PathCodec.escape(p)}/")))
    val pruned =
      if (kept.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).option("basePath", tablePath)
        .parquet(kept: _*)
        .select(schema.fieldNames.map(col).toSeq: _*)
    val withTouched =
      if (touched.isEmpty) pruned
      else pruned.unionByName(
        KeyedTable.readPartitionsPhysical(spark, tablePath, st, touched.toSeq))
    KeyedTable.toLogical(
      withTouched.filter(col(physCol).cast("string").isin(values: _*)),
      st.columnMapping)
  }
}
