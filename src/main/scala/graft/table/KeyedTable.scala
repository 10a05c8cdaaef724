package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.{PartitionDiscovery, SourceSniffer}
import graft.model._
import graft.ops.{Upsert, Validate}
import graft.table.CommitLog.{ColumnMapping, CommitInfo, PartitionEntry, TableState}

/** The native Hudi-shaped table (SURVEY §7.1): partitioned Parquet + JSON
  * commit log + meta-columns, implemented entirely with declarative Spark
  * plans so Catalyst/Tungsten own the physical execution.
  *
  * Scale posture (100 TB):
  *  - Data writes are single distributed jobs (`partitionBy` parquet writes);
  *    per-partition driver loops exist only for *directory renames and
  *    listings*, which are O(#partitions) namenode metadata ops, never data.
  *  - Resume detection is two grouped aggregates + joins
  *    (pyspark_script.py:199-253 rewritten per SURVEY §4), not the
  *    reference's per-partition full-scan loop.
  *  - Upserts read and rewrite ONLY the partitions the batch touches (COW
  *    with partition pruning); the merge itself is a key-shuffle anti-join.
  *  - Collected partition-value lists are bounded by #partitions (the
  *    reference collects the same lists); no row data ever reaches the
  *    driver.
  */
object KeyedTable {

  final case class BootstrapResult(
      commitTime: String,
      inputCount: Long,
      tableCount: Long,
      partitionsWritten: Seq[String],
      report: Validate.Report) {
    def logLines: Seq[String] = report.logLines
  }

  private def ppCol(partF: Seq[String]) = MetaColumns.partitionPath(partF)

  // ------------------------------------------------------------- bootstrap

  /** The main entry — mirrors pyspark_script.py:294-429's flow:
    * validate → sniff → scan → field-check → empty-check → branch
    * (fresh/regex/metadata vs resume) → write → post-validate.
    */
  def bootstrap(spark: SparkSession, cfg: BootstrapConfig): BootstrapResult = {
    cfg.validate()
    val fmt = SourceSniffer.sniff(spark, cfg.dataFilePath)
    val input = loadBootstrapInput(spark, fmt, cfg.dataFilePath)
    Validate.fieldsInSchema(input.schema, cfg)

    // one grouped agg gives the empty-check, the per-partition counts for
    // the commit log, and the resume comparison base (A1+A3 fused)
    val partCounts = partitionCounts(
      input.withColumn(MetaColumns.PartitionPath, ppCol(cfg.partitionFields)), cfg.partitionFields)
    val inputCount = partCounts.map(_._2).sum
    if (inputCount == 0L)
      throw GraftException.config("Input DataFrame is empty. Nothing to write.")

    val existing = existingPartitions(spark, cfg.tablePath, cfg.partitionFields)
    val ct = CommitLog.newCommitTime()
    val isResume = cfg.resume && existing.nonEmpty && cfg.partitionRegex.isEmpty &&
      cfg.bootstrapType == BootstrapType.FullRecord

    // dry_run (backend.py:24-28): full validation + planning, zero writes —
    // reports exactly the partitions a real run would write
    if (cfg.dryRun) {
      val planned =
        if (isResume && cfg.partitionFields.nonEmpty)
          resumeTargets(spark, cfg, existing, partCounts)
        else partCounts.map(_._1)
      return BootstrapResult(ct, inputCount, 0L, planned,
        Validate.Report(inputCount, 0L, Seq.empty))
    }

    val written: Seq[String] =
      if (isResume) resumeWrite(spark, cfg, input, existing, partCounts, ct)
      else freshWrite(spark, cfg, input, partCounts, ct)

    val table = read(spark, cfg.tablePath)
    val report = Validate.postBootstrap(input, table)
    if (!report.ok)
      throw GraftException.config(
        "ERROR - Post-bootstrap validation failed: " + report.issues.mkString(" "))
    BootstrapResult(ct, report.inputCount, report.tableCount, written, report)
  }

  /** Merged-schema cache for bootstrap inputs, keyed on the input's full
    * file listing (path, length, mtime — any file change invalidates):
    * schema-merge inference reads every file's footer in its own Spark
    * job, and repeated bootstraps from the same immutable input (retries,
    * re-runs, resume chains) re-paid that job each time. Only the
    * footer-bearing columnar formats participate — csv/json inference
    * samples data rows, which `.schema(...)` would skip with different
    * option semantics.
    */
  private val inputSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def loadBootstrapInput(
      spark: SparkSession, fmt: String, path: String): DataFrame = {
    if (fmt != "parquet" && fmt != "orc")
      return spark.read.option("mergeSchema", "true").format(fmt).load(path)
    val fs = CommitLog.fs(spark, path)
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq(st)
      else fs.listStatus(p).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s))
    }
    val key = fmt + "|" + path + "|" + walk(new Path(path))
      .map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(";")
    val hit = inputSchemaCache.get(key)
    if (hit != null) spark.read.schema(hit).format(fmt).load(path)
    else {
      val df = spark.read.option("mergeSchema", "true").format(fmt).load(path)
      if (inputSchemaCache.size > 1024) inputSchemaCache.clear()
      inputSchemaCache.put(key, df.schema)
      df
    }
  }

  /** Create a keyed table directly from a DataFrame — the CTAS /
    * DataFrameWriter path of the SQL surface ([[graft.sources.GraftDataSource]]).
    * Equivalent to a FULL_RECORD bootstrap of `df` (wholesale replace +
    * 'bootstrap' commit); the reference reaches the same state only through
    * its file-based bootstrap (pyspark_script.py:294-429), so this is the
    * write-surface twin of [[bootstrap]] for callers that already hold a
    * plan instead of a path.
    *
    * `properties` are birth stamps written INTO the staging dir before the
    * promote rename, so they are atomic with the table itself: there is no
    * crash window in which a committed table exists without the stamps its
    * later write legs dispatch on (a fielded text index's `text.fields`,
    * the standing indexes' `compact.auto`/parameter stamps) — the
    * create-then-set two-step the standing-index builds used to run had
    * exactly that window.
    */
  def create(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      tableName: String,
      keyFields: Seq[String],
      precombineField: String,
      partitionFields: Seq[String] = Seq.empty,
      tableType: TableType = TableType.CopyOnWrite,
      properties: Map[String, String] = Map.empty): Seq[String] = {
    Validate.fieldsInSchema(df.schema, keyFields, precombineField, partitionFields)
    val partCounts = partitionCounts(
      df.withColumn(MetaColumns.PartitionPath, ppCol(partitionFields)), partitionFields)
    if (partCounts.map(_._2).sum == 0L)
      throw GraftException.config("Input DataFrame is empty. Nothing to write.")
    val ct = CommitLog.newCommitTime()
    val fs = CommitLog.fs(spark, tablePath)
    // stage the whole write NEXT TO the table and swap with renames: the
    // input plan may read FROM this very table (INSERT OVERWRITE t
    // SELECT ... FROM t), so deleting before writing would destroy the
    // source mid-plan; staging also means a crash mid-write leaves the old
    // table intact
    val staging = new Path(s"$tablePath.staging-create-$ct")
    fs.delete(staging, true)
    writeData(df, keyFields, partitionFields, ct, staging.toString,
      mode = "overwrite", dynamicOverwrite = false)
    TableProperties.writeInitial(spark, staging.toString, properties)
    val tp = new Path(tablePath)
    val priorCommits = CommitLog.commits(spark, tablePath)
    if (fs.exists(tp)) {
      // Replace an existing table without a delete-then-rename window (a
      // crash between the two would lose table AND commit log with nothing
      // for fsck to restore). Marker first — in the OLD log, so a crashed
      // create is fsck-visible and concurrent rewriters' swap guards see the
      // bootstrap coming; then the guard (any commit landed since this
      // create read its base, or any older in-flight writer, aborts the
      // overwrite instead of silently clobbering them); then the old table
      // moves ASIDE to `<table>.replaced-<ct>` and staging promotes. fsck's
      // sibling sweep restores `.replaced-<ct>` when no committed table
      // landed, and deletes it once one did.
      CommitLog.beginInflight(spark, tablePath, ct, "bootstrap", partCounts.map(_._1),
        baseCommits = priorCommits.map(_.commitTime))
      try CommitLog.assertSwapSafe(spark, tablePath, ct, partCounts.map(_._1),
        isBootstrap = true)
      catch { case e: Throwable => fs.delete(staging, true); throw e }
      // the lease stays HELD through the renames (releasing it first would
      // re-open the window a concurrent writer could publish into the old
      // log moments before its directory is destroyed); any failure below
      // releases it, and the publish's finally releases it on success
      try {
        val replaced = new Path(s"$tablePath.replaced-$ct")
        fs.delete(replaced, true)
        if (!fs.rename(tp, replaced))
          throw GraftException.unexpected(s"Could not move previous table aside at $tablePath")
        if (!fs.rename(staging, tp)) {
          fs.rename(replaced, tp) // restore the old table before failing
          fs.delete(staging, true)
          throw GraftException.unexpected(s"Could not move staged table into place at $tablePath")
        }
        // the lease file travelled aside with the old log; re-materialize it
        // at the new location (fencing out any interloper of the sub-ms
        // rename window) so the publish validates against a held lock
        CommitLog.transplantLease(spark, tablePath, ct)
        writeCreateCommit(spark, tablePath, ct, df, tableName, keyFields, precombineField,
          partitionFields, tableType, partCounts)
        fs.delete(replaced, true)
      } catch { case e: Throwable =>
        CommitLog.releaseLease(spark, tablePath, ct); throw e
      }
    } else {
      if (!fs.rename(staging, tp))
        throw GraftException.unexpected(s"Could not move staged table into place at $tablePath")
      writeCreateCommit(spark, tablePath, ct, df, tableName, keyFields, precombineField,
        partitionFields, tableType, partCounts)
    }
    partCounts.map(_._1)
  }

  private def writeCreateCommit(
      spark: SparkSession, tablePath: String, ct: String, df: DataFrame,
      tableName: String, keyFields: Seq[String], precombineField: String,
      partitionFields: Seq[String], tableType: TableType,
      partCounts: Seq[(String, Long)]): Unit =
    CommitLog.write(spark, tablePath, CommitInfo(
      commitTime = ct, operation = "bootstrap", tableName = tableName,
      tableType = tableType.name, keyFields = keyFields,
      precombineField = precombineField, partitionFields = partitionFields,
      partitions = partCounts.map(pc => PartitionEntry(pc._1, "native", pc._2)),
      recordCount = partCounts.map(_._2).sum,
      schemaDdl = MetaColumns.withMeta(df, keyFields, partitionFields, ct).schema.toDDL,
      sourcePath = None), baseInstant = None)

  /** Fresh (non-resume) write: FULL_RECORD overwrite (S5/H3), METADATA_ONLY
    * registration (H1/H2), or the regex split (H4) sending matching
    * partitions to `regexMode` and the rest to the opposite mode.
    */
  private def freshWrite(
      spark: SparkSession,
      cfg: BootstrapConfig,
      input: DataFrame,
      partCounts: Seq[(String, Long)],
      ct: String): Seq[String] = {
    val fs = CommitLog.fs(spark, cfg.tablePath)
    val schemaDdl = MetaColumns
      .withMeta(input, cfg.keyFields, cfg.partitionFields, ct).schema.toDDL

    def entryOf(mode: String)(pc: (String, Long)) = PartitionEntry(pc._1, mode, pc._2)

    val (nativeCounts, metaCounts) = cfg.bootstrapType match {
      case BootstrapType.FullRecord if cfg.partitionRegex.isEmpty => (partCounts, Nil)
      case BootstrapType.MetadataOnly if cfg.partitionRegex.isEmpty => (Nil, partCounts)
      case _ =>
        // H4: full-match regex over the partition-path string
        val re = ("^(?:" + cfg.partitionRegex.get + ")$").r
        val (matching, rest) = partCounts.partition(pc => re.matches(pc._1))
        if (cfg.regexMode == BootstrapType.FullRecord) (matching, rest) else (rest, matching)
    }

    // a fresh bootstrap replaces the table wholesale
    fs.delete(new Path(cfg.tablePath), true)
    CommitLog.beginInflight(spark, cfg.tablePath, ct, "bootstrap",
      (nativeCounts ++ metaCounts).map(_._1))

    if (nativeCounts.nonEmpty) {
      val nativeSet = nativeCounts.map(_._1).toSet
      val slice =
        if (metaCounts.isEmpty) input
        else input.filter(ppCol(cfg.partitionFields).isin(nativeSet.toSeq: _*))
      writeData(slice, cfg.keyFields, cfg.partitionFields, ct, cfg.tablePath,
        mode = "append", dynamicOverwrite = false)
    }

    CommitLog.write(spark, cfg.tablePath, CommitInfo(
      commitTime = ct, operation = "bootstrap", tableName = cfg.tableName,
      tableType = cfg.tableType.name, keyFields = cfg.keyFields,
      precombineField = cfg.precombineField, partitionFields = cfg.partitionFields,
      partitions = nativeCounts.map(entryOf("native")) ++ metaCounts.map(entryOf("metadata_only")),
      recordCount = partCounts.map(_._2).sum, schemaDdl = schemaDdl,
      sourcePath = if (metaCounts.nonEmpty) Some(cfg.dataFilePath) else None),
      // wholesale replace: the pre-existing log (if any) was just deleted, so
      // no base snapshot participates — strict monotonic guard applies
      baseInstant = None)

    (nativeCounts ++ metaCounts).map(_._1)
  }

  /** Resume path (J1/J2 → S6): missing partitions via anti-join against the
    * bounded existing-partition list; incomplete via ONE grouped count per
    * side + inner join; selected partitions rewritten with dynamic partition
    * overwrite so re-runs are idempotent (the reference's plain append would
    * duplicate rows in incomplete partitions).
    */
  private def resumeWrite(
      spark: SparkSession,
      cfg: BootstrapConfig,
      input: DataFrame,
      existing: Seq[String],
      partCounts: Seq[(String, Long)],
      ct: String): Seq[String] = {
    if (cfg.partitionFields.isEmpty)
      return freshWrite(spark, cfg, input, partCounts, ct) // resume is partition-wise only

    val base = CommitLog.state(spark, cfg.tablePath).map(_.latest.commitTime)
    val toWrite = resumeTargets(spark, cfg, existing, partCounts)
    if (toWrite.isEmpty) return Seq.empty // "No missing or incomplete partitions found."

    CommitLog.beginInflight(spark, cfg.tablePath, ct, "resume", toWrite,
      baseCommits = CommitLog.state(spark, cfg.tablePath)
        .map(_.commits.map(_.commitTime)).getOrElse(Seq.empty))
    val slice = input.filter(ppCol(cfg.partitionFields).isin(toWrite: _*))
    writeData(slice, cfg.keyFields, cfg.partitionFields, ct, cfg.tablePath,
      mode = "overwrite", dynamicOverwrite = true)

    val countsByP = partCounts.toMap
    CommitLog.write(spark, cfg.tablePath, CommitInfo(
      commitTime = ct, operation = "resume", tableName = cfg.tableName,
      tableType = cfg.tableType.name, keyFields = cfg.keyFields,
      precombineField = cfg.precombineField, partitionFields = cfg.partitionFields,
      partitions = toWrite.map(p => PartitionEntry(p, "native", countsByP.getOrElse(p, 0L))),
      recordCount = toWrite.map(countsByP.getOrElse(_, 0L)).sum,
      schemaDdl = MetaColumns.withMeta(input, cfg.keyFields, cfg.partitionFields, ct).schema.toDDL,
      sourcePath = None), baseInstant = base)
    toWrite
  }

  /** The resume plan (J1+J2): missing partitions plus partitions whose table
    * count diverges from the input count. Shared by the real resume write and
    * the dry-run report, so the plan IS the execution's partition set.
    * getOrElse(0): a partition dir that exists but holds zero rows is
    * incomplete, not complete — it would otherwise escape both checks.
    */
  private def resumeTargets(
      spark: SparkSession,
      cfg: BootstrapConfig,
      existing: Seq[String],
      partCounts: Seq[(String, Long)]): Seq[String] = {
    val existingSet = existing.toSet
    val missing = partCounts.map(_._1).filterNot(existingSet)
    val tableCounts = partitionCounts(read(spark, cfg.tablePath), cfg.partitionFields).toMap
    val incomplete = partCounts.collect {
      case (p, n) if existingSet(p) && tableCounts.getOrElse(p, 0L) != n => p
    }
    (missing ++ incomplete).distinct.sorted
  }

  // ----------------------------------------------------------------- write

  private def writeData(
      df: DataFrame,
      keyF: Seq[String],
      partF: Seq[String],
      ct: String,
      dest: String,
      mode: String,
      dynamicOverwrite: Boolean): Unit = {
    val withMeta = clusterByPartition(MetaColumns.withMeta(df, keyF, partF, ct), partF)
    val w = withMeta.write.mode(mode).format("parquet")
      .option("partitionOverwriteMode", if (dynamicOverwrite) "dynamic" else "static")
    (if (partF.nonEmpty) w.partitionBy(partF: _*) else w).save(dest)
  }

  /** Shuffle rows onto their partition value before a partitioned write:
    * without this every task opens a writer in every partition it sees —
    * tasks × partitions small files, the classic small-file bomb that
    * cripples reads at scale. One hash shuffle buys one file per partition
    * per non-empty task. (Heavily skewed single partitions can be re-split
    * afterwards with [[cluster]]'s maxRecordsPerFile.)
    */
  private def clusterByPartition(df: DataFrame, partF: Seq[String]): DataFrame =
    if (partF.isEmpty) df else df.repartition(partF.map(col): _*)

  // ------------------------------------------------------------------ read

  /** S4: read the live table snapshot. Native partitions come from the
    * directory tree (schema enforced from the commit log so partition-column
    * dtypes survive the dir-name round trip); METADATA_ONLY partitions are
    * served straight from the registered source files with meta-columns
    * synthesized on the fly — zero-copy bootstrap reads. On a MERGE_ON_READ
    * table with live delta batches, partitions the deltas touch are merged at
    * read time ([[Deltas.merge]]); every other partition streams straight
    * from base parquet with no shuffle.
    */
  def read(spark: SparkSession, tablePath: String): DataFrame = {
    val st = CommitLog.requireState(spark, tablePath)
    toLogical(snapshot(spark, tablePath, st, restrictTo = None), st.columnMapping)
  }

  /** Snapshot read PINNED to its commit-log state: returns the state the
    * snapshot resolved against alongside the DataFrame, so a read-modify-
    * write caller can derive its batch from the read and hand the SAME
    * state to [[mergeRows]] as the OCC base. Without the pin there is a
    * TOCTOU window: mergeRows re-reads the state at its own entry, so a
    * commit landing between the caller's read and the merge is silently
    * absorbed into the base and its effects overwritten with no conflict
    * anywhere — exactly the race the standing text index's incremental
    * (N, Σdl) stats rows must not lose.
    */
  def readPinned(spark: SparkSession, tablePath: String): (TableState, DataFrame) = {
    val st = CommitLog.requireState(spark, tablePath)
    (st, toLogical(snapshot(spark, tablePath, st, restrictTo = None), st.columnMapping))
  }

  /** Physical snapshot (no drop/rename view applied) — internal machinery
    * (global index scans, compaction, sync staging) works on the physical
    * layout.
    */
  private def readPhysical(spark: SparkSession, tablePath: String): DataFrame =
    snapshot(spark, tablePath, CommitLog.requireState(spark, tablePath), restrictTo = None)

  /** Physical restricted snapshot for sibling table services (BloomIndex's
    * hybrid point lookup merges only the delta-touched partitions).
    */
  private[table] def readPartitionsPhysical(
      spark: SparkSession, tablePath: String, st: TableState,
      partitions: Seq[String]): DataFrame =
    snapshot(spark, tablePath, st, restrictTo = Some(partitions.toSet))

  // ---------------------------------------- metadata-only drop/rename (T39)

  /** LOGICAL view of a physical frame: hide dropped physical columns,
    * rename aliased ones. Identity when no mapping is active. All drops +
    * renames apply ATOMICALLY in one select projection: a sequential
    * withColumnRenamed fold corrupts the frame when a rename chain reuses a
    * vacated name (aliases {y→z, x→y}: applying x→y while physical y is
    * still present duplicates the column, and Map iteration order makes it
    * nondeterministic).
    */
  private[table] def toLogical(df: DataFrame, m: ColumnMapping): DataFrame = {
    if (m.isEmpty) return df
    val kept = df.columns.filterNot(m.dropped.contains).toIndexedSeq
    val noop = kept.length == df.columns.length &&
      !kept.exists(c => m.aliases.get(c).exists(_ != c))
    if (noop) df
    else df.select(kept.map(c =>
      col(quoteIdent(c)).as(m.aliases.get(c).filter(_ != c).getOrElse(c))): _*)
  }

  /** Backtick-quote a column name so `col` resolves it literally (no
    * struct-field dotting) inside the atomic mapping projections.
    */
  private def quoteIdent(c: String): String = "`" + c.replace("`", "``") + "`"

  /** The logical schema a mapping serves over a physical one. */
  private[graft] def logicalSchema(physical: StructType, m: ColumnMapping): StructType =
    if (m.isEmpty) physical
    else StructType(physical.filterNot(f => m.dropped.contains(f.name))
      .map(f => m.aliases.get(f.name).filter(_ != f.name)
        .map(l => f.copy(name = l)).getOrElse(f)).toArray)

  /** The logical schema of a table state (data + meta columns). */
  private[graft] def logicalSchemaOf(st: TableState): StructType =
    logicalSchema(StructType.fromDDL(st.latest.schemaDdl), st.columnMapping)

  /** Write-side translation: a batch arrives with LOGICAL column names;
    * rename aliased ones back to their physical home. A batch column that
    * names a HIDDEN physical column (dropped, or renamed away) without
    * being a current logical name is refused loudly — silently writing into
    * a hidden column would resurrect dropped data; re-introduce the name
    * with `ALTER TABLE ADD COLUMNS` (which allocates a fresh physical
    * column) first.
    */
  private def toPhysical(m: ColumnMapping, batch: DataFrame): DataFrame = {
    if (m.isEmpty) return batch
    val l2p = m.logicalToPhysical
    val bad = batch.columns.filter(c => m.hidden(c) && !l2p.contains(c))
    if (bad.nonEmpty)
      throw GraftException.config(
        s"write references column(s) hidden by a metadata-only drop/rename: " +
          s"${bad.mkString(", ")}. Use the current logical names; to re-introduce a " +
          "dropped name, ALTER TABLE ADD COLUMNS first (it allocates a fresh physical column).")
    // atomic projection, mirroring toLogical: a logical batch may carry a
    // name another rename vacated (write after {y→z, x→y} carries both z
    // and y), which a sequential withColumnRenamed fold would collide
    if (!batch.columns.exists(c => l2p.get(c).exists(_ != c))) batch
    else batch.select(batch.columns.toIndexedSeq.map(c =>
      col(quoteIdent(c)).as(l2p.getOrElse(c, c))): _*)
  }

  /** Resolve a user-facing (logical) column name to its physical home. */
  private[table] def physicalNameOf(m: ColumnMapping, logical: String): String =
    m.logicalToPhysical.getOrElse(logical,
      if (m.hidden(logical))
        throw GraftException.config(s"Unknown column '$logical' (dropped or renamed).")
      else logical)

  /** Hudi read-optimized query mode: base files only, live MOR delta
    * batches NOT merged — the state as of the last compaction. Trades
    * freshness for scan cost (plain columnar read, no merge window), which
    * is the standard analytics/ETL read against a streaming-ingest MOR
    * table; on a COW table (or a compacted MOR) it equals [[read]].
    */
  def readOptimized(spark: SparkSession, tablePath: String): DataFrame = {
    val st = CommitLog.requireState(spark, tablePath)
    toLogical(readBase(spark, tablePath, st, exclude = Set.empty, restrictTo = None),
      st.columnMapping)
  }

  private def snapshot(
      spark: SparkSession,
      tablePath: String,
      st: TableState,
      restrictTo: Option[Set[String]],
      keyPred: Option[Column] = None): DataFrame = {
    // keyPred lands BELOW the MOR merge — directly above the base and delta
    // scans, where Catalyst pushes it into the parquet reader (PushedFilters)
    // — instead of above the merge window, which would force every row of
    // the table through the contested-branch joins/window first. Correct
    // exactly because the merge resolves winners per (partition, key): a
    // predicate constant within each key group (one over key/partition
    // fields is) keeps or drops the whole group atomically on both sides,
    // so filter-below-merge ≡ filter-above-merge. Callers guarantee the
    // predicate references only key (and/or partition) fields.
    def f(df: DataFrame) = keyPred.map(df.filter).getOrElse(df)
    val live = Deltas.committedLive(spark, tablePath, st)
    if (live.isEmpty) return f(readBase(spark, tablePath, st, exclude = Set.empty, restrictTo))
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val deltaParts = Deltas.touchedPartitions(st, live)
      .filter(p => restrictTo.forall(_.contains(p)))
    val plain = f(readBase(spark, tablePath, st, exclude = deltaParts.toSet, restrictTo))
    val baseTouched = f(readPartitions(spark, tablePath, st, deltaParts))
    // restrict via the partition COLUMNS (not the stored _hoodie_partition_path
    // data column): an expression over partition columns prunes at the file
    // index, so a restricted read opens only the needed delta partition dirs
    val deltas = f(Deltas.read(spark, tablePath, schema, live)
      .filter(restrictTo match {
        case Some(ps) if st.latest.partitionFields.nonEmpty =>
          ppCol(st.latest.partitionFields).isin(ps.toSeq: _*)
        case Some(ps) => col(MetaColumns.PartitionPath).isin(ps.toSeq: _*)
        case None => lit(true)
      }))
    plain.unionByName(Deltas.merge(baseTouched, deltas, st.latest.precombineField))
  }

  /** Snapshot read restricted by a predicate over the table's KEY fields —
    * the point-lookup primitive for standing-index probes. Equivalent to
    * `read(...).filter(pred)` (KeyFilteredReadSpec pins this), but the
    * predicate is applied below the MOR merge (see [[snapshot]]): a probe
    * for K candidate keys scans O(row groups containing those keys) of the
    * base files — decisively so after a key-sorted [[compact]] layout —
    * instead of decoding every row of the table into the merge. `pred`
    * must reference only key and/or partition fields, by PHYSICAL name
    * (internal callers; index tables carry no column mapping).
    */
  private[graft] def readWhereKeys(
      spark: SparkSession, tablePath: String, pred: Column): DataFrame = {
    val st = CommitLog.requireState(spark, tablePath)
    toLogical(snapshot(spark, tablePath, st, restrictTo = None, keyPred = Some(pred)),
      st.columnMapping)
  }

  /** Base-file read (no delta merge), optionally excluding / restricted to a
    * partition set. Directories are truth for native partitions: a partition
    * whose dir was removed out-of-band is missing (the resume path re-detects
    * it), not a read error. O(#partitions) existence checks — metadata only.
    */
  private def readBase(
      spark: SparkSession,
      tablePath: String,
      st: TableState,
      exclude: Set[String],
      restrictTo: Option[Set[String]] = None): DataFrame = {
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val keyF = st.latest.keyFields
    val partF = st.latest.partitionFields
    val cols = schema.fieldNames.map(col).toSeq
    def keep(p: String) = !exclude(p) && restrictTo.forall(_.contains(p))

    val fs = CommitLog.fs(spark, tablePath)
    val native = st.nativePartitions.filter(keep)
      .filter(p => fs.exists(new Path(s"$tablePath/${PathCodec.escape(p)}")))
    val metaOnly = st.metadataOnlyPartitions.filter(keep)
    val parts = Seq.newBuilder[DataFrame]

    if (partF.isEmpty) {
      if (st.nativePartitions.nonEmpty && keep(""))
        parts += spark.read.schema(schema).parquet(tablePath).select(cols: _*)
    } else if (native.nonEmpty) {
      parts += spark.read.schema(schema).option("basePath", tablePath)
        .parquet(native.map(p => s"$tablePath/${PathCodec.escape(p)}"): _*)
        .select(cols: _*)
    }
    if (metaOnly.nonEmpty) {
      val src = st.sourcePath.getOrElse(
        throw GraftException.unexpected(s"metadata_only partitions without sourcePath at $tablePath"))
      val mct = st.commits.find(_.sourcePath.isDefined).map(_.commitTime).getOrElse(st.latest.commitTime)
      val dataSchema = StructType(schema.filterNot(f => MetaColumns.all.contains(f.name)))
      val raw = readSource(spark, src, dataSchema, partF,
        wanted = if (native.isEmpty && exclude.isEmpty && restrictTo.isEmpty) None else Some(metaOnly))
      parts += MetaColumns.withMeta(raw, keyF, partF, mct).select(cols: _*)
    }
    parts.result() match {
      case Nil => spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case dfs => dfs.reduce(_ unionByName _)
    }
  }

  /** Restricted snapshot read: only `partitions`, with the same delta-merge
    * semantics as [[read]]. The restriction bounds file listing and scan to
    * the given partitions — the primitive incremental consumers (e.g.
    * [[IncrementalAgg]]) use to touch O(changed) data on a huge table.
    */
  def readPartitions(
      spark: SparkSession, tablePath: String, partitions: Seq[String]): DataFrame = {
    val st = CommitLog.requireState(spark, tablePath)
    toLogical(snapshot(spark, tablePath, st, restrictTo = Some(partitions.toSet)),
      st.columnMapping)
  }

  /** Incremental query (Hudi `hoodie.datasource.query.type=incremental`
    * analogue): rows whose commit time is strictly greater than
    * `sinceCommitTime`. The commit log bounds the scan to partitions some
    * commit after `sinceCommitTime` actually touched — on a 100 TB table an
    * incremental poll reads only the freshly-written partitions, not the
    * table. COW-rewritten-but-unchanged rows keep their original commit time
    * (see [[upsert]]), so they do not reappear; deletes are not surfaced
    * (matching Hudi incremental-query semantics pre-CDC).
    */
  def readIncremental(spark: SparkSession, tablePath: String, sinceCommitTime: String): DataFrame = {
    val st = CommitLog.requireState(spark, tablePath)
    toLogical(readIncrementalPhysical(spark, tablePath, st, sinceCommitTime), st.columnMapping)
  }

  private def readIncrementalPhysical(
      spark: SparkSession, tablePath: String, st: TableState,
      sinceCommitTime: String): DataFrame = {
    val interval = st.commits.filter(_.commitTime > sinceCommitTime)
    // FAST PATH — the steady-state CDC/incremental shape (a follower
    // polling a streaming-ingest MOR table): when every data commit in
    // the interval is a LIVE MOR delta batch, rows with a newer commit
    // time exist ONLY in those delta dirs, and the winner for any key
    // they touch is the newest interval row — commit times are strictly
    // monotonic, so interval rows beat every pre-interval row of the same
    // key, and the (commit time DESC, precombine DESC) order within the
    // interval matches [[Deltas.merge]] exactly. A deleted winner
    // suppresses its key (the key is absent from the snapshot), never
    // falls through to an older image. The general path below pays a full
    // snapshot merge of every touched partition to re-derive exactly
    // this — O(touched partitions) scan per pull where the interval is
    // O(changes); on an unpartitioned corpus that was a full-table scan
    // per sync-hook pull. Guard: every interval commit must be one of
    //  - an all-"delta"-entry batch of a KNOWN delta operation whose batch
    //    dir is resolvable — live, or stashed under the archive of the
    //    first later compaction that absorbed it (the readChanges
    //    deletes-leg rule): compaction preserves the winning row's commit
    //    time, so every interval-stamped row still exists verbatim in the
    //    absorbed batch, tombstones included. Without the archive hop a
    //    follower polling less often than the compaction cadence NEVER got
    //    the fast path;
    //  - a "compact"/"cluster" rewrite (content-neutral: rows keep their
    //    producing commit's time, so the rewrite introduces no
    //    interval-stamped rows of its own);
    //  - an explicitly allowlisted zero-entry commit (metadata-only, or a
    //    data op that touched nothing). The allowlist — not a bare
    //    `partitions.isEmpty` — is what keeps a FUTURE data-affecting
    //    operation that records no partition entries from silently passing
    //    the guard and corrupting incremental results.
    // Anything else (COW rewrites, bulk inserts, partition drops, cleaned
    // archives, unknown ops) falls back to the snapshot path.
    val live = Deltas.committedLive(spark, tablePath, st).toSet
    val fs = CommitLog.fs(spark, tablePath)
    val deltaOps = Set("delta_commit", "delete", "merge", "upsert_global")
    val emptyOk = deltaOps ++ Set("alter_schema", "index_stats", "index_bloom")
    val resolved: Seq[Option[Option[String]]] = interval.map { c =>
      // None = fall back; Some(None) = admitted, no dir; Some(Some(d)) = batch dir
      if (c.partitions.isEmpty)
        if (emptyOk(c.operation)) Some(None) else None
      else if (c.operation == "compact" || c.operation == "cluster") Some(None)
      else if (deltaOps(c.operation) && c.partitions.forall(_.mode == "delta"))
        deltaBatchDir(fs, tablePath, st, live, c.commitTime).map(d => Some(d))
      else None
    }
    val deltaOnly = st.latest.tableType == TableType.MergeOnRead.name &&
      interval.nonEmpty && resolved.forall(_.isDefined)
    if (deltaOnly) {
      val schema = StructType.fromDDL(st.latest.schemaDdl)
      val dirs = resolved.flatMap(_.flatten)
      if (dirs.isEmpty)
        return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(MetaColumns.PartitionPath), col(MetaColumns.RecordKey))
        .orderBy(col(MetaColumns.CommitTime).desc, col(st.latest.precombineField).desc)
      return Deltas.readDirs(spark, schema, dirs)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && !col(Deltas.DeletedCol))
        .drop("__rn", Deltas.DeletedCol)
    }
    val touchedSince = interval.flatMap(_.partitions.map(_.path)).distinct
    val restrict = if (st.latest.partitionFields.isEmpty) None else Some(touchedSince.toSet)
    snapshot(spark, tablePath, st, restrict)
      .filter(col(MetaColumns.CommitTime) > sinceCommitTime)
  }

  /** The directory of committed delta batch `ct`: live, else stashed under
    * the archive of the first later compaction that absorbed it. None once
    * archive retention has cleaned it.
    */
  private def deltaBatchDir(
      fs: org.apache.hadoop.fs.FileSystem, tablePath: String, st: TableState,
      live: Set[String], ct: String): Option[String] =
    if (live.contains(ct)) Some(Deltas.dir(tablePath, ct).toString)
    else st.commits.filter(x => x.operation == "compact" && x.commitTime > ct)
      .collectFirst {
        case x if Archive.archivedDeltaCommits(fs, tablePath, x.commitTime).contains(ct) =>
          new Path(Archive.deltasDir(tablePath, x.commitTime), ct).toString
      }

  /** Column carried by [[readChanges]]: 'upsert' | 'delete'. */
  val ChangeOp = "_change_op"

  /** CDC-style incremental read: every change after `sinceCommitTime`, with
    * a `_change_op` column. 'upsert' rows carry their current full image
    * (insert vs update is not distinguished, and intermediate images of a
    * twice-updated key are collapsed to the latest — Hudi's incremental-query
    * semantics, plus deletes); 'delete' rows carry the removed row's key and
    * partition columns — from MOR tombstones (live, or stashed by a later
    * compaction), or for COW delete commits the full before-image
    * reconstructed from the commit's archived pre-image anti-joined against
    * the post-delete state. `_hoodie_commit_time` is the change's commit on
    * every emitted row. Each delete commit costs one partition-pruned
    * read, bounded by its touched partitions.
    */
  def readChanges(spark: SparkSession, tablePath: String, sinceCommitTime: String): DataFrame = {
    val st = CommitLog.requireState(spark, tablePath)
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val keyF = st.latest.keyFields
    val partF = st.latest.partitionFields
    val cols = schema.fieldNames.map(col).toSeq
    val fs = CommitLog.fs(spark, tablePath)

    val upserts = readIncrementalPhysical(spark, tablePath, st, sinceCommitTime)
      .select(cols: _*).withColumn(ChangeOp, lit("upsert"))

    val live = Deltas.committedLive(spark, tablePath, st).toSet
    // commits that can REMOVE rows: deletes and global upserts (a partition
    // move removes the old-partition copy). Plain delta_commit upsert
    // batches written by THIS version never carry tombstones and so don't
    // gate the retention horizon — but they are still scanned best-effort
    // when reachable, because tables written before the upsert_global
    // operation name existed recorded global-move tombstones under
    // delta_commit. MOR vs COW is decided by the commit's table type, not
    // its partition list — a zero-row MOR delete has no entries.
    val deletes: Seq[DataFrame] = st.commits
      .filter(c => c.commitTime > sinceCommitTime &&
        Set("delete", "upsert_global", "merge", "delta_commit", "delete_partition").contains(c.operation))
      .flatMap { c =>
        // a partition drop archives whole dirs on BOTH table types, so its
        // before-image always comes from the COW-style archive diff below
        val isMorBatch = c.tableType == TableType.MergeOnRead.name &&
          c.operation != "delete_partition"
        if (isMorBatch) {
          // tombstone rows live in the commit's delta batch
          deltaBatchDir(fs, tablePath, st, live, c.commitTime) match {
            case Some(d) => Some(Deltas.readDirs(spark, schema, Seq(d))
              .filter(col(Deltas.DeletedCol)).select(cols: _*))
            case None if c.operation == "delta_commit" =>
              None // legacy-format batch already cleaned: best-effort only
            case None => throw GraftException.config(
              s"Cannot read changes since $sinceCommitTime: the delta batch of commit " +
                s"${c.commitTime} (${c.operation}) was cleaned (archive retention exceeded).")
          }
        } else if (c.operation == "delta_commit") None
        else Some {
          // COW delete: before-image = archived pre-image rows whose key is
          // absent from the post-delete state of the touched partitions
          if (!Archive.exists(fs, tablePath, c.commitTime))
            throw GraftException.config(
              s"Cannot read changes since $sinceCommitTime: pre-image of delete commit " +
                s"${c.commitTime} was cleaned (archive retention exceeded).")
          // only partitions that actually had a pre-image (a delete aimed at
          // a partition with no base dir replaced nothing); for an
          // unpartitioned table the pre-image is the archive data dir itself
          // — escape("") must never reach Path construction
          val touched =
            if (partF.isEmpty)
              if (fs.exists(Archive.dataDir(tablePath, c.commitTime))) Seq("") else Seq.empty
            else c.partitions.map(_.path).filter(p => fs.exists(
              new Path(Archive.dataDir(tablePath, c.commitTime), PathCodec.escape(p))))
          if (touched.isEmpty)
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          else {
            val pre =
              if (partF.isEmpty) spark.read.schema(schema)
                .parquet(Archive.dataDir(tablePath, c.commitTime).toString).select(cols: _*)
              else spark.read.schema(schema)
                .option("basePath", Archive.dataDir(tablePath, c.commitTime).toString)
                .parquet(touched.map(p =>
                  s"${Archive.dataDir(tablePath, c.commitTime)}/${PathCodec.escape(p)}"): _*)
                .select(cols: _*)
            val post = readAsOf(spark, tablePath, c.commitTime)
              .filter(if (partF.isEmpty) lit(true) else ppCol(partF).isin(touched: _*))
            pre.join(post.select((keyF ++ partF).map(col): _*), keyF ++ partF, "left_anti")
              .withColumn(MetaColumns.CommitTime, lit(c.commitTime))
          }
        }
      }
    toLogical(deletes.foldLeft(upserts)((acc, d) =>
      acc.unionByName(d.withColumn(ChangeOp, lit("delete")))), st.columnMapping)
  }

  /** Hudi GLOBAL-index upsert (GLOBAL_SIMPLE shape): record keys are unique
    * TABLE-WIDE, so an update whose partition value changed MOVES the row —
    * the old partition's copy is removed in the same commit. Key→partition
    * resolution is a join against the live table's key/partition projection:
    * a full-table two-column columnar scan plus one key shuffle, exactly
    * GLOBAL_SIMPLE's documented cost (GLOBAL_BLOOM would trade the scan for
    * per-file bloom probes); everything after is bounded by the touched
    * (old ∪ new) partitions. COW: one rewrite commit; MOR: one delta batch
    * carrying tombstones for the moved rows plus the upserts.
    */
  def upsertGlobal(spark: SparkSession, tablePath: String, updates: DataFrame): Seq[String] = {
    val st = CommitLog.requireState(spark, tablePath)
    val keyF = st.latest.keyFields
    val partF = st.latest.partitionFields
    val precombine = st.latest.precombineField
    if (partF.isEmpty) return upsert(spark, tablePath, updates) // global == non-global
    val phys = toPhysical(st.columnMapping, updates)

    val (evolved, padded) = evolveSchema(st, phys)
    // global semantics: ONE winner per key table-wide (no partition scoping)
    val updDeduped = Upsert.dedupByKey(padded, keyF, precombine)
    val ct = CommitLog.newCommitTime()
    val updMeta = MetaColumns.withMeta(updDeduped, keyF, partF, ct)
      .select(evolved.fieldNames.map(col).toSeq: _*)

    // where does each incoming key live today? (the global index lookup) —
    // bloom-pruned to candidate files when an index exists and the batch is
    // small enough to probe; otherwise the full snapshot join
    val cur = globalIndexScan(spark, tablePath, st, updMeta)
      .select((keyF ++ partF).map(col) :+ col(MetaColumns.PartitionPath).as("__old_pp"): _*)
    val moved = cur.join(
        updMeta.select(keyF.map(col) :+ col(MetaColumns.PartitionPath).as("__new_pp"): _*), keyF)
      .filter(col("__old_pp") =!= col("__new_pp"))
      .persist()
    // MOR: one batch of the new images + tombstones at the old locations.
    // COW: the key-ONLY anti-join removes the key wherever it lives; the
    // moved rows' old partitions join the rewrite. Committed under its own
    // operation name (not upsert/delta_commit): readChanges surfaces the
    // old-partition removals of a move as delete events, and ordinary
    // upsert batches never gate the CDC retention horizon.
    val out = writeRows(spark, tablePath, st, ct, "upsert_global", evolved,
      images = Some(updMeta), removed = Some(moved.select((keyF ++ partF).map(col): _*)),
      antiJoinKeys = keyF)
    moved.unpersist()
    out
  }

  /** The "where do these keys live" scan behind [[upsertGlobal]]. With a
    * bloom index and a boundable batch, only the candidate base files are
    * opened (an inner join on keys cannot lose rows to bloom pruning —
    * false positives open extra files, false negatives don't exist). Any
    * complication — live MOR deltas, METADATA_ONLY partitions, no index,
    * or a probe set too large to broadcast — falls back to the snapshot.
    */
  private val MaxBloomProbeKeys = 100000

  private def globalIndexScan(
      spark: SparkSession,
      tablePath: String,
      st: TableState,
      updMeta: DataFrame): DataFrame = {
    if (Deltas.committedLive(spark, tablePath, st).nonEmpty || st.metadataOnlyPartitions.nonEmpty ||
        BloomIndex.latestIndex(spark, tablePath).isEmpty)
      return readPhysical(spark, tablePath)
    val ks = updMeta.select(MetaColumns.RecordKey).distinct().limit(MaxBloomProbeKeys + 1)
      .collect().map(_.getString(0)).toSeq
    if (ks.size > MaxBloomProbeKeys) return readPhysical(spark, tablePath)
    val pr = BloomIndex.candidateFiles(spark, tablePath, ks)
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    if (pr.kept.isEmpty) readPhysical(spark, tablePath).filter(lit(false)) // empty relation
    else spark.read.schema(schema).option("basePath", tablePath).parquet(pr.kept: _*)
      .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** Read (a subset of) a registered source. Hive-layout sources are read by
    * partition directory (pruned at the file index); flat sources carry the
    * partition columns in-file, so a subset becomes a pushable-ish filter on
    * the partition columns.
    */
  private def readSource(
      spark: SparkSession,
      src: String,
      dataSchema: StructType,
      partF: Seq[String],
      wanted: Option[Seq[String]]): DataFrame = {
    val layout = if (partF.isEmpty) PartitionDiscovery.Layout(isPartitioned = false, Nil)
      else PartitionDiscovery.discover(spark, src)
    val hive = layout.isPartitioned && layout.partitionFields == partF
    (hive, wanted) match {
      case (true, Some(ps)) =>
        spark.read.schema(dataSchema).option("basePath", src)
          .parquet(ps.map(p => s"$src/${PathCodec.escape(p)}"): _*)
      case (true, None) =>
        spark.read.schema(dataSchema).option("basePath", src).parquet(src)
      case (false, w) =>
        val df = spark.read.schema(dataSchema).parquet(src)
        w.fold(df)(ps => df.filter(ppCol(partF).isin(ps: _*)))
    }
  }

  /** Null-pad `df` to carry every field of `schema`, projected in schema
    * order — the one alignment rule for base rows, tombstones, and batches.
    */
  private def padToSchema(df: DataFrame, schema: StructType): DataFrame =
    schema.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d else d.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(schema.fieldNames.map(col).toSeq: _*)

  /** Row-level write core behind [[upsert]], [[delete]], [[mergeRows]] and
    * [[upsertGlobal]]: `images` (meta-stamped full rows in `schema` order)
    * replace or insert rows, `removed` (key + partition columns) names rows
    * to delete. MOR: one delta batch of the images plus a tombstone per
    * removed row. COW: one rewrite of the touched partitions — base rows
    * anti-joined on `antiJoinKeys` against the images and removed rows
    * (key + partition under the default non-global index; key alone under
    * the global index, which is exactly what removes a moved row from its
    * old partition), plus the images. Returns the touched partitions.
    */
  private def writeRows(
      spark: SparkSession,
      tablePath: String,
      st: TableState,
      ct: String,
      operation: String,
      schema: StructType,
      images: Option[DataFrame],
      removed: Option[DataFrame],
      antiJoinKeys: Seq[String]): Seq[String] = {
    val keyF = st.latest.keyFields
    val partF = st.latest.partitionFields
    if (st.latest.tableType == TableType.MergeOnRead.name) {
      val dataSchema = StructType(schema.filterNot(f => MetaColumns.all.contains(f.name)))
      val tombs = removed.map(r => MetaColumns.withMeta(padToSchema(r, dataSchema), keyF, partF, ct)
        .select(schema.fieldNames.map(col).toSeq: _*)
        .withColumn(Deltas.DeletedCol, lit(true)))
      val rows = (images.map(_.withColumn(Deltas.DeletedCol, lit(false))) ++ tombs)
        .reduce(_ unionByName _)
      return deltaBatchCommit(spark, tablePath, st, ct, operation, rows, schema)
    }
    val touched = touchedPartitions(partF, (images ++ removed).toSeq: _*)
    val ids = (images ++ removed).map(_.select(antiJoinKeys.map(col): _*)).reduce(_ unionByName _)
    // removed rows may repeat (a delete batch naming a row twice)
    val kept = padToSchema(readPartitions(spark, tablePath, st, touched), schema)
      .join(if (removed.isEmpty) ids else ids.distinct(), antiJoinKeys, "left_anti")
    rewriteCommit(spark, tablePath, st, ct, operation,
      images.fold(kept)(kept.unionByName), touched, schema.toDDL)
    touched
  }

  /** The rewrite tail every partition-replacing write publishes through (COW
    * row writes, compaction, clustering): inflight marker, stage + swap
    * `rows` into `targets`, publish with the swapped-in row counts.
    */
  private def rewriteCommit(
      spark: SparkSession,
      tablePath: String,
      st: TableState,
      ct: String,
      operation: String,
      rows: DataFrame,
      targets: Seq[String],
      schemaDdl: String,
      writeOptions: Map[String, String] = Map.empty,
      preShaped: Boolean = false): Unit = {
    CommitLog.beginInflight(spark, tablePath, ct, operation, targets,
      baseCommits = st.commits.map(_.commitTime))
    val counts = stageAndSwap(spark, tablePath, rows, st.latest.partitionFields, targets, ct,
      writeOptions, preShaped)
    publishRewrite(spark, tablePath, st, commitOf(st, ct, operation,
      targets.map(p => PartitionEntry(p, "native", counts.getOrElse(p, 0L))), schemaDdl))
  }

  /** The delta-batch tail every MOR row write publishes through: land
    * `rows` as one delta batch under `.graft/deltas/<ct>/` — no base file is
    * read or rewritten, so a write costs O(|batch|) regardless of table
    * size; readers merge it ([[Deltas.merge]]) and [[compact]] folds it into
    * base files. Touched partitions aren't known until the delta files
    * exist, so the inflight marker records only the instant and operation;
    * publish validates the real paths, and a losing publish deletes the
    * batch ([[publishRewrite]]). Returns the touched partitions.
    */
  private def deltaBatchCommit(
      spark: SparkSession,
      tablePath: String,
      st: TableState,
      ct: String,
      operation: String,
      rows: DataFrame,
      schema: StructType): Seq[String] = {
    CommitLog.beginInflight(spark, tablePath, ct, operation, Seq.empty,
      baseCommits = st.commits.map(_.commitTime))
    val counts = writeDeltaCounted(spark, rows, tablePath, ct, st.latest.partitionFields, schema)
    publishRewrite(spark, tablePath, st, commitOf(st, ct, operation,
      counts.map { case (p, n) => PartitionEntry(p, "delta", n) }, schema.toDDL))
    counts.map(_._1)
  }

  /** A commit of `operation` at `ct` over `entries`, every other field
    * taken from the base state `st`.
    */
  private def commitOf(
      st: TableState,
      ct: String,
      operation: String,
      entries: Seq[PartitionEntry],
      schemaDdl: String): CommitInfo =
    CommitInfo(
      commitTime = ct, operation = operation, tableName = st.latest.tableName,
      tableType = st.latest.tableType, keyFields = st.latest.keyFields,
      precombineField = st.latest.precombineField, partitionFields = st.latest.partitionFields,
      partitions = entries, recordCount = entries.map(_.recordCount).sum,
      schemaDdl = schemaDdl, sourcePath = None)

  /** The sorted partition paths the rows of `frames` belong to, from one
    * distinct collect bounded by #touched partitions ("" when unpartitioned).
    */
  private def touchedPartitions(partF: Seq[String], frames: DataFrame*): Seq[String] =
    if (partF.isEmpty) Seq("")
    else frames.map(_.select(ppCol(partF).as("__pp"))).reduce(_ unionByName _).distinct()
      .collect().map(_.getString(0)).toSeq.sorted

  // ------------------------------------------------------ incremental write

  /** J4/H7 upsert: within-batch precombine dedup, then COW-rewrite of ONLY
    * the touched partitions via a staging write + directory swap (a direct
    * overwrite would read and clobber the same path). Unchanged rows keep
    * their original `_hoodie_commit_time`.
    *
    * Key scoping follows Hudi's default (non-global) index: a record key is
    * unique within its partition path. An update whose partition value
    * differs from the stored row's is an insert into the new partition; the
    * old row is not visited (that's Hudi's GLOBAL_* index behavior, which the
    * reference never enables).
    */
  def upsert(spark: SparkSession, tablePath: String, updates: DataFrame): Seq[String] = {
    val st = CommitLog.requireState(spark, tablePath)
    val keyF = st.latest.keyFields
    val partF = st.latest.partitionFields
    val ct = CommitLog.newCommitTime()

    val (evolved, padded) = evolveSchema(st, toPhysical(st.columnMapping, updates))
    val updDeduped = Upsert.dedupByKey(padded, keyF, st.latest.precombineField, partF)
    val updMeta = MetaColumns.withMeta(updDeduped, keyF, partF, ct)
      .select(evolved.fieldNames.map(col).toSeq: _*)

    // anti-join on key AND partition columns: under the non-global index a
    // key is unique per partition, so a batch inserting key k into partition
    // B must not displace the base row (k, A) — matching delete() and
    // Deltas.merge, which already scope keys by partition path
    writeRows(spark, tablePath, st, ct,
      if (st.latest.tableType == TableType.MergeOnRead.name) "delta_commit" else "upsert",
      evolved, images = Some(updMeta), removed = None, antiJoinKeys = keyF ++ partF)
  }

  /** Partial-update upsert (Hudi `OverwriteNonDefaultsWithLatestAvroPayload`
    * analogue, Delta `MERGE ... UPDATE SET c = coalesce(src.c, tgt.c)`
    * shape): for matched (key, partition) rows, NULL columns in the batch
    * PRESERVE the table's current value and non-null columns overwrite;
    * unmatched keys insert as-is (their null columns stay null). The patch
    * is resolved EAGERLY against the touched partitions' merged snapshot,
    * so the written batch carries full rows — every read path (snapshot,
    * MOR delta merge, time travel, CDC, sync) is untouched and both table
    * types inherit the semantics through the ordinary [[upsert]]. Cost: one
    * restricted snapshot read of the touched partitions + one key-shuffle
    * left join — bounded by the batch's partitions, never table size.
    * Patch batches cannot evolve the schema (unknown columns are refused:
    * a "patch" with a column the table lacks is almost always a typo).
    */
  def upsertPartial(spark: SparkSession, tablePath: String, updates: DataFrame): Seq[String] = {
    val st = CommitLog.requireState(spark, tablePath)
    val keyF = st.latest.keyFields
    val partF = st.latest.partitionFields
    val precombine = st.latest.precombineField
    // the whole patch computation runs in LOGICAL column space (batch names,
    // validation, the base join below all use the user-facing view); the
    // final upsert translates to the physical layout
    val schema = logicalSchemaOf(st)
    val dataCols = schema.fieldNames.filterNot(MetaColumns.all.contains).toSeq

    val unknown = updates.columns.filterNot(dataCols.contains)
    if (unknown.nonEmpty)
      throw GraftException.config(
        s"upsertPartial batch carries unknown column(s): ${unknown.mkString(", ")} " +
          "(patch writes cannot evolve the schema).")
    val joinKeys = keyF ++ partF
    val missing = (joinKeys :+ precombine).distinct.filterNot(updates.columns.contains)
    if (missing.nonEmpty)
      throw GraftException.config(
        s"upsertPartial batch must carry key/partition/precombine column(s): ${missing.mkString(", ")}.")

    val padded = dataCols.foldLeft(updates) { (df, c) =>
      if (df.columns.contains(c)) df.withColumn(c, col(c).cast(schema(c).dataType))
      else df.withColumn(c, lit(null).cast(schema(c).dataType))
    }.select(dataCols.map(col): _*)
    val batch = Upsert.dedupByKey(padded, keyF, precombine, partF)

    val touched = touchedPartitions(partF, batch)

    val baseSel = joinKeys.map(col) ++
      dataCols.filterNot(joinKeys.contains).map(c => col(c).as(s"__b_$c"))
    val patched = batch
      .join(readPartitions(spark, tablePath, touched).select(baseSel: _*), joinKeys, "left")
      .select(dataCols.map(c =>
        if (joinKeys.contains(c)) col(c)
        else coalesce(col(c), col(s"__b_$c")).as(c)): _*)
    upsert(spark, tablePath, patched)
  }

  /** Atomic mixed write — the single-commit core behind SQL `MERGE INTO`
    * (and a library call in its own right): apply `deleteKeys` (rows
    * carrying the key + partition columns of rows to remove) and `images`
    * (full replacement/insert rows over the table's data columns) in ONE
    * commit. MOR: one delta batch carrying tombstones + images — the shape
    * [[upsertGlobal]]'s move batch already writes; COW: one staged rewrite
    * of the union of touched partitions. Either frame may be empty; when
    * both are, nothing commits. A crash or OCC conflict therefore can never
    * leave a statement half-applied: readers and fsck see either the whole
    * commit or none of it.
    *
    * Conflicts inside one commit resolve in the order MERGE's sequential
    * clause semantics imply (deletes, then updates, then inserts): an image
    * sharing a (key, partition) row id with a tombstone WINS — a delete +
    * re-insert of the same row in one statement nets to the insert — and
    * images sharing a row id precombine-resolve
    * ([[graft.ops.Upsert.dedupByKey]]). Merge batches cannot evolve the
    * schema (the statement resolved against the current one, so an unknown
    * column is a bug, not an evolution).
    *
    * `base` pins the OCC base to a state the CALLER captured (a
    * [[readPinned]] the batch was derived from): any commit that landed
    * after that read and overlaps this merge's partitions then aborts the
    * publish retryably, instead of being silently absorbed into a fresher
    * base read here — the read-modify-write race guard for callers whose
    * images are functions of what they read (the text index's stats rows).
    * None = read the state at entry (plain merges that derive nothing from
    * a prior snapshot).
    */
  def mergeRows(
      spark: SparkSession,
      tablePath: String,
      deleteKeys: DataFrame,
      logicalImages: DataFrame,
      base: Option[TableState] = None): Seq[String] = {
    val st = base.getOrElse(CommitLog.requireState(spark, tablePath))
    val keyF = st.latest.keyFields
    val partF = st.latest.partitionFields
    val precombine = st.latest.precombineField
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val dataSchema = StructType(schema.filterNot(f => MetaColumns.all.contains(f.name)))
    val rowId = (keyF ++ partF).distinct

    // image columns arrive under their logical names (the DML layer binds
    // the statement against the logical view); write to the physical homes
    val images = toPhysical(st.columnMapping, logicalImages)
    val unknown = images.columns.filterNot(dataSchema.fieldNames.contains)
    if (unknown.nonEmpty)
      throw GraftException.config(
        s"merge images carry unknown column(s): ${unknown.mkString(", ")} " +
          "(merge writes cannot evolve the schema).")
    val missingK = rowId.filterNot(deleteKeys.columns.contains)
    if (missingK.nonEmpty)
      throw GraftException.config(
        s"merge deleteKeys must carry key/partition column(s): ${missingK.mkString(", ")}.")

    // align images to the table's data schema (cast present columns,
    // null-pad absent ones) and precombine-dedup per (key, partition)
    val aligned = padToSchema(
      dataSchema.fields.filter(f => images.columns.contains(f.name)).foldLeft(images) {
        (df, f) => df.withColumn(f.name, col(f.name).cast(f.dataType))
      }, dataSchema)
    val img = Upsert.dedupByKey(aligned, keyF, precombine, partF).localCheckpoint()
    val dels = deleteKeys.select(rowId.map(col): _*).distinct()
      .join(img.select(rowId.map(col): _*), rowId, "left_anti").localCheckpoint()
    if (img.isEmpty && dels.isEmpty) return Seq.empty

    val ct = CommitLog.newCommitTime()
    val imgMeta = MetaColumns.withMeta(img, keyF, partF, ct)
      .select(schema.fieldNames.map(col).toSeq: _*)
    writeRows(spark, tablePath, st, ct, "merge", schema,
      images = Some(imgMeta), removed = Some(dels), antiJoinKeys = rowId)
  }

  /** Predicate delete (SQL `DELETE FROM ... WHERE` semantics): remove every
    * row matching `predicate`, a SQL boolean expression over table columns.
    * One snapshot read pruned by the predicate and projected to key +
    * partition columns resolves the doomed keys; the ordinary key-wise
    * [[delete]] does the rest (COW partition rewrite / MOR tombstones), so
    * cost is bounded by the partitions the predicate actually hits.
    */
  def deleteWhere(spark: SparkSession, tablePath: String, predicate: String): Seq[String] =
    deleteRows(spark, tablePath, read(spark, tablePath).filter(expr(predicate)))

  /** Row-level core behind [[deleteWhere]] AND the SQL `DELETE FROM`
    * statement rewrite: `rows` is any frame of matching table rows (a
    * predicate-filtered snapshot read, or the statement's own resolved
    * Filter plan — which may carry subqueries no predicate string could).
    * One shared implementation so the two surfaces cannot drift.
    */
  def deleteRows(spark: SparkSession, tablePath: String, rows: DataFrame): Seq[String] = {
    val st = CommitLog.requireState(spark, tablePath)
    val keyF = st.latest.keyFields
    val partF = st.latest.partitionFields
    // materialized once (key+partition columns only): the emptiness probe,
    // delete's touched-partition collect, and its anti-join all reuse the
    // resolved keys instead of re-running the predicate scan
    val keys = rows.select((keyF ++ partF).map(col): _*).localCheckpoint()
    if (keys.isEmpty) Seq.empty else delete(spark, tablePath, keys)
  }

  /** Predicate update (SQL `UPDATE ... SET ... WHERE` semantics, the
    * reference's runaway-sweep bulk update §2.7 as a table service): apply
    * `sets` (column → SQL expression, evaluated over the matching row) to
    * every row matching `predicate`, via one predicate-pruned snapshot read
    * + the ordinary [[upsert]]. Key, partition, and meta columns cannot be
    * assigned — a partition/key change is a row MOVE, which is
    * [[upsertGlobal]]'s contract, not an in-place update.
    */
  def updateWhere(
      spark: SparkSession,
      tablePath: String,
      predicate: String,
      sets: Map[String, String]): Seq[String] =
    updateRows(spark, tablePath, read(spark, tablePath).filter(expr(predicate)),
      sets.map { case (c, e) => c -> expr(e) })

  /** Row-level core behind [[updateWhere]] AND the SQL `UPDATE` statement
    * rewrite (`rows` as in [[deleteRows]]; `sets` as Columns so the
    * statement path can pass its own resolved assignment trees). One shared
    * implementation so the two surfaces cannot drift.
    */
  def updateRows(
      spark: SparkSession,
      tablePath: String,
      rows: DataFrame,
      sets: Map[String, Column]): Seq[String] = {
    require(sets.nonEmpty, "update needs at least one SET assignment")
    val st = CommitLog.requireState(spark, tablePath)
    val keyF = st.latest.keyFields
    val partF = st.latest.partitionFields
    val illegal = sets.keys.filter(c =>
      keyF.contains(c) || partF.contains(c) || MetaColumns.all.contains(c))
    if (illegal.nonEmpty)
      throw GraftException.config(
        s"UPDATE cannot assign key/partition/meta column(s): ${illegal.mkString(", ")} " +
          "(a key or partition change is a row move — use upsertGlobal).")
    // assignments and the row projection bind against the LOGICAL view
    // (`rows` is a logical snapshot read); upsert translates to physical
    val schema = logicalSchemaOf(st)
    val dataCols = schema.fieldNames.filterNot(MetaColumns.all.contains).toSeq
    val unknown = sets.keys.filterNot(dataCols.contains)
    if (unknown.nonEmpty)
      throw GraftException.config(
        s"UPDATE SET references unknown column(s): ${unknown.mkString(", ")}.")
    // one projection so every SET expression evaluates against the OLD row
    // (SQL UPDATE semantics — assignments must not see each other);
    // materialized once so the emptiness probe and upsert's passes reuse it
    val updates = rows
      .select(dataCols.map(c =>
        sets.get(c).map(e => e.cast(schema(c).dataType).as(c)).getOrElse(col(c))): _*)
      .localCheckpoint()
    if (updates.isEmpty) Seq.empty else upsert(spark, tablePath, updates)
  }

  /** Add-column schema evolution (Hudi's default evolution rule on write):
    * batch columns not in the table schema are appended (nullable); type
    * changes are rejected; batch-missing columns are null-padded (Hudi's
    * overwrite-latest payload replaces the whole row). Returns the evolved
    * full schema (meta columns kept last) and the batch aligned to its data
    * columns. Old base/delta files simply null-fill the new columns at read
    * time — no rewrite of untouched data, which is what makes evolution
    * affordable on a 100 TB table.
    */
  private def evolveSchema(st: TableState, batch: DataFrame): (StructType, DataFrame) = {
    import org.apache.spark.sql.types.{DataType, DateType, NumericType, TimestampNTZType, TimestampType}
    // same-family coercion (numeric↔numeric, datetime↔datetime) casts the
    // batch to the table's declared type; cross-family changes are rejected
    def coercible(from: DataType, to: DataType): Boolean = (from, to) match {
      case (a, b) if a == b => true
      case (_: NumericType, _: NumericType) => true
      case (a, b) if Seq(a, b).forall(t =>
        t == TimestampType || t == TimestampNTZType || t == DateType) => true
      case _ => false
    }
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val metaF = schema.filter(f => MetaColumns.all.contains(f.name))
    val dataF = schema.filterNot(f => MetaColumns.all.contains(f.name))
    val coerced = dataF.foldLeft(batch) { (df, f) =>
      df.schema.find(_.name == f.name) match {
        case Some(bf) if bf.dataType == f.dataType => df
        // nullability-only difference (e.g. the batch's ARRAY<STRING> with
        // containsNull=false vs the DDL-round-tripped declared type with
        // containsNull=true): the same type — normalize with a cast.
        // catalogString does not encode nullability, which is exactly the
        // comparison wanted here.
        case Some(bf) if bf.dataType.catalogString == f.dataType.catalogString =>
          df.withColumn(f.name, col(f.name).cast(f.dataType))
        case Some(bf) if coercible(bf.dataType, f.dataType) =>
          df.withColumn(f.name, col(f.name).cast(f.dataType))
        case Some(bf) =>
          throw GraftException.config(
            s"Schema evolution cannot change type of '${f.name}' from ${f.dataType.sql} to ${bf.dataType.sql}.")
        case None => df
      }
    }
    val newF = coerced.schema
      .filterNot(f => dataF.exists(_.name == f.name) || MetaColumns.all.contains(f.name))
      .map(_.copy(nullable = true))
    val evolvedData = dataF ++ newF
    val padded = evolvedData.foldLeft(coerced) { (df, f) =>
      if (df.columns.contains(f.name)) df else df.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(evolvedData.map(f => col(f.name)).toSeq: _*)
    (StructType((evolvedData ++ metaF).toArray), padded)
  }

  /** Explicit add-only schema evolution as a METADATA-ONLY commit — the DDL
    * face of the same rule [[evolveSchema]] applies on write (T21): new
    * columns append nullable after the existing data columns (meta columns
    * stay last), existing files are untouched and null-fill the new columns
    * at read time, so the operation is O(1) data work at any table size.
    * Serves `MERGE ... WITH SCHEMA EVOLUTION` (the analyzer evolves the
    * table through [[graft.sources.GraftCatalog.alterTable]] before binding
    * the statement) and any future ALTER TABLE ADD COLUMNS surface.
    *
    * Columns must be nullable (old rows HAVE no value — a NOT NULL add would
    * make every existing row invalid) and must not collide with existing
    * data/meta columns under the session's case-resolution rules. The commit
    * carries an empty partition list (sidecar-style: never OCC-conflicts
    * with data writes; a concurrent bootstrap still aborts it).
    */
  def addColumns(
      spark: SparkSession,
      tablePath: String,
      newCols: Seq[org.apache.spark.sql.types.StructField]): StructType =
    alterSchema(spark, tablePath, adds = newCols)

  /** ONE atomic schema-evolution commit carrying any mix of ADD, DROP, and
    * RENAME COLUMN: every change is validated against the EVOLVING logical
    * schema first (adds, then drops, then renames), and only then is a
    * single `alter_schema` commit stamped — so a multi-change
    * `ALTER TABLE` either applies completely or not at all (a refused
    * rename can no longer leave earlier adds/drops committed). Returns the
    * evolved PHYSICAL schema.
    */
  def alterSchema(
      spark: SparkSession,
      tablePath: String,
      adds: Seq[org.apache.spark.sql.types.StructField] = Seq.empty,
      drops: Seq[String] = Seq.empty,
      renames: Seq[(String, String)] = Seq.empty): StructType = {
    require(adds.nonEmpty || drops.nonEmpty || renames.nonEmpty,
      "alterSchema needs at least one change")
    val st = CommitLog.requireState(spark, tablePath)
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def norm(n: String) = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    var schema = StructType.fromDDL(st.latest.schemaDdl)
    var m = st.columnMapping
    if (adds.nonEmpty) {
      val (s2, m2) = planAddColumns(schema, m, adds, norm)
      schema = s2; m = m2
    }
    if (drops.nonEmpty) m = planDropColumns(st, schema, m, drops)
    renames.foreach { case (from, to) => m = planRename(st, schema, m, from, to, norm) }
    alterSchemaCommit(spark, tablePath, st, schema.toDDL, m)
    schema
  }

  /** Pure planning half of ADD COLUMNS: validates against the logical
    * namespace of (schema, m) and returns the evolved physical schema +
    * mapping without committing.
    */
  private def planAddColumns(
      schema: StructType,
      m: ColumnMapping,
      newCols: Seq[org.apache.spark.sql.types.StructField],
      norm: String => String): (StructType, ColumnMapping) = {
    val metaF = schema.filter(f => MetaColumns.all.contains(f.name))
    val dataF = schema.filterNot(f => MetaColumns.all.contains(f.name))
    // collisions are judged against the LOGICAL namespace (what users see);
    // a hidden physical name (dropped / renamed away) is free to re-use —
    // the column then lives under a FRESH physical name via an alias, so a
    // re-add after a drop (possibly under a new type) can never read the
    // dropped column's old file data
    val logicalNames = logicalSchema(schema, m).fieldNames.map(norm).toSet
    val clash = newCols.map(_.name).filter(n => logicalNames.contains(norm(n)))
    if (clash.nonEmpty)
      throw GraftException.config(
        s"addColumns: column(s) already exist: ${clash.mkString(", ")}.")
    val dupes = newCols.map(c => norm(c.name)).diff(newCols.map(c => norm(c.name)).distinct)
    if (dupes.nonEmpty)
      throw GraftException.config(
        s"addColumns: duplicate new column name(s): ${dupes.distinct.mkString(", ")}.")
    val notNull = newCols.filterNot(_.nullable).map(_.name)
    if (notNull.nonEmpty)
      throw GraftException.config(
        s"addColumns: new column(s) must be nullable (existing rows null-fill): " +
          s"${notNull.mkString(", ")}.")
    // fresh physical names must dodge BOTH namespaces: physical schema
    // names AND current alias targets (logical names) — a fresh 'x__2'
    // colliding with an alias target 'x__2' would duplicate the logical
    // column the moment toLogical projects
    val physicalTaken = scala.collection.mutable.Set[String](
      (schema.fieldNames ++ m.aliases.values).map(norm).toIndexedSeq: _*)
    var aliases = m.aliases
    val physCols = newCols.map { f =>
      if (!physicalTaken.contains(norm(f.name))) {
        physicalTaken += norm(f.name); f
      } else {
        val fresh = Iterator.from(2).map(i => s"${f.name}__$i")
          .dropWhile(n => physicalTaken.contains(norm(n))).next()
        physicalTaken += norm(fresh)
        aliases = aliases + (fresh -> f.name)
        f.copy(name = fresh)
      }
    }
    val evolved = StructType((dataF ++ physCols ++ metaF).toArray)
    (evolved, ColumnMapping(aliases, m.dropped))
  }

  /** Metadata-only column DROP (T39): hide `columns` (logical names) from
    * every read — files are untouched (O(1) data work at any size), the
    * physical column stays in `schemaDdl` and new rows null-fill it. Key,
    * partition, and precombine columns cannot be dropped (they address
    * rows); re-adding the same name later allocates a fresh physical column
    * (see [[addColumns]]), so the dropped data can never resurface under
    * the new name. Undo = rollback of the alter_schema commit.
    */
  def dropColumns(spark: SparkSession, tablePath: String, columns: Seq[String]): Unit =
    alterSchema(spark, tablePath, drops = columns)

  /** Pure planning half of DROP COLUMNS (see [[alterSchema]]). */
  private def planDropColumns(
      st: TableState,
      schema: StructType,
      m: ColumnMapping,
      columns: Seq[String]): ColumnMapping = {
    require(columns.nonEmpty, "dropColumns needs at least one column")
    val protectedCols =
      (st.latest.keyFields ++ st.latest.partitionFields :+ st.latest.precombineField).toSet
    val bad = columns.filter(c => protectedCols.contains(c) || MetaColumns.all.contains(c))
    if (bad.nonEmpty)
      throw GraftException.config(
        s"dropColumns: cannot drop key/partition/precombine/meta column(s): ${bad.mkString(", ")}.")
    val phys = columns.map(c => c -> physicalNameOf(m, c)).toMap
    val missing = columns.filter(c => !schema.fieldNames.contains(phys(c)))
    if (missing.nonEmpty)
      throw GraftException.config(s"dropColumns: unknown column(s): ${missing.mkString(", ")}.")
    ColumnMapping(m.aliases -- phys.values, (m.dropped ++ phys.values).distinct)
  }

  /** Metadata-only column RENAME (T39): `from` (current logical name) is
    * served as `to` from this commit on — a read-time alias over the
    * unchanged physical column, O(1) data work. Time travel before this
    * commit serves the OLD name (the mapping is part of the instant's
    * state). Key/partition/precombine columns cannot be renamed; `to` must
    * be free in the logical namespace.
    */
  def renameColumn(spark: SparkSession, tablePath: String, from: String, to: String): Unit =
    alterSchema(spark, tablePath, renames = Seq(from -> to))

  /** Pure planning half of RENAME COLUMN (see [[alterSchema]]). */
  private def planRename(
      st: TableState,
      schema: StructType,
      m: ColumnMapping,
      from: String,
      to: String,
      norm: String => String): ColumnMapping = {
    val protectedCols =
      (st.latest.keyFields ++ st.latest.partitionFields :+ st.latest.precombineField).toSet
    if (protectedCols.contains(from) || MetaColumns.all.contains(from))
      throw GraftException.config(
        s"renameColumn: cannot rename key/partition/precombine/meta column '$from'.")
    val physFrom = physicalNameOf(m, from)
    if (!schema.fieldNames.contains(physFrom) || m.dropped.contains(physFrom))
      throw GraftException.config(s"renameColumn: unknown column '$from'.")
    val logicalNames = logicalSchema(schema, m).fieldNames.map(norm).toSet
    if (logicalNames.contains(norm(to)))
      throw GraftException.config(
        s"renameColumn: column '$to' already exists.")
    val aliases =
      if (to == physFrom) m.aliases - physFrom // renamed back to its physical name
      else m.aliases + (physFrom -> to)
    ColumnMapping(aliases, m.dropped)
  }

  /** Shared alter_schema commit tail: one metadata-only commit stamping the
    * (possibly unchanged) physical ddl and the FULL current column mapping.
    * Serializes against every in-flight writer (CommitLog's alter_schema
    * OCC rule).
    */
  private def alterSchemaCommit(
      spark: SparkSession, tablePath: String, st: TableState,
      schemaDdl: String, mapping: ColumnMapping): Unit = {
    val ct = CommitLog.newCommitTime()
    CommitLog.beginInflight(spark, tablePath, ct, "alter_schema", Seq.empty,
      baseCommits = st.commits.map(_.commitTime))
    CommitLog.write(spark, tablePath, CommitInfo(
      commitTime = ct, operation = "alter_schema", tableName = st.latest.tableName,
      tableType = st.latest.tableType, keyFields = st.latest.keyFields,
      precombineField = st.latest.precombineField,
      partitionFields = st.latest.partitionFields,
      partitions = Seq.empty, recordCount = st.latest.recordCount,
      schemaDdl = schemaDdl, sourcePath = None,
      columnMapping = Some(mapping)),
      baseInstant = Some(st.latest.commitTime))
  }

  /** Write one delta batch and return its per-partition counts for the
    * commit log. Unpartitioned tables need only the batch total, which an
    * `observe` collects from the WRITE JOB itself — the former read-back
    * count was a second job re-reading the just-written files, paid on
    * every MOR upsert/delete/merge (the standing indexes are all
    * unpartitioned, so every index append in a sync-hook loop paid it).
    * Partitioned tables keep the read-back (per-partition-path counts
    * cannot ride a global observe); it is column-pruned to the partition
    * path alone.
    */
  private def writeDeltaCounted(
      spark: SparkSession,
      rows: DataFrame,
      tablePath: String,
      ct: String,
      partF: Seq[String],
      schema: StructType): Seq[(String, Long)] = {
    val obs = org.apache.spark.sql.Observation()
    Deltas.write(if (partF.isEmpty) rows.observe(obs, count(lit(1)).as("n")) else rows,
      tablePath, ct, partF)
    if (partF.isEmpty) Seq("" -> obs.get("n").asInstanceOf[Long])
    else partitionCounts(
      spark.read.schema(Deltas.schemaOf(schema)).parquet(Deltas.dir(tablePath, ct).toString), partF)
  }

  /** Hudi `delete` operation. `keys` must carry the key columns and (for
    * partitioned tables) the partition columns — key scope is per-partition,
    * matching the non-global index semantics of [[upsert]]. COW: anti-join
    * rewrite of ONLY the touched partitions; MOR: a delta batch of
    * tombstones, O(|keys|).
    */
  def delete(spark: SparkSession, tablePath: String, keys: DataFrame): Seq[String] = {
    val st = CommitLog.requireState(spark, tablePath)
    val ct = CommitLog.newCommitTime()
    val tableSchema = StructType.fromDDL(st.latest.schemaDdl)
    // MOR tombstones are full delta rows: the keys are coerced to the
    // table's types and null-padded to its layout, so all delta files of a
    // table share it (a delete never evolves the schema)
    val (schema, ids) =
      if (st.latest.tableType == TableType.MergeOnRead.name)
        evolveSchema(st, keys.select(keys.columns
          .filter(c => tableSchema.fieldNames.contains(c)).map(col).toSeq: _*))
      else (tableSchema, keys)
    writeRows(spark, tablePath, st, ct, "delete", schema, images = None, removed = Some(ids),
      antiJoinKeys = st.latest.keyFields ++ st.latest.partitionFields)
  }

  /** MOR compaction: fold every live delta batch into the base files of the
    * partitions it touches, then drop the absorbed deltas. Winning rows keep
    * the commit time of the delta that produced them, so incremental readers
    * see compaction as a no-op. Swap-first/delete-after: a killed compaction
    * re-runs from intact deltas (the merge is idempotent).
    */
  def compact(spark: SparkSession, tablePath: String): Seq[String] = {
    val st = CommitLog.requireState(spark, tablePath)
    // committed only: folding an uncommitted orphan batch into base files
    // would durably commit a dead/conflicted writer's data
    val live = Deltas.committedLive(spark, tablePath, st)
    if (live.isEmpty) return Seq.empty
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val partF = st.latest.partitionFields
    val ct = CommitLog.newCommitTime()

    val touched = Deltas.touchedPartitions(st, live)
    val merged = Deltas.merge(
      readPartitions(spark, tablePath, st, touched),
      Deltas.read(spark, tablePath, schema, live),
      st.latest.precombineField)
    // sort-on-write (guide §6): compaction is a full rewrite of the touched
    // partitions anyway, so lay the new base files out by record key — row
    // groups then carry tight key min/max stats and a probe-side pushed IN
    // ([[readWhereKeys]]) prunes decode instead of scanning the table. The
    // standing unpartitioned index tables (dedup/ANN/PQ) are the payoff:
    // every probe between compactions row-group-prunes. Partitioned tables
    // sort within the existing one-shuffle partition clustering (zero new
    // exchanges); unpartitioned tables range-partition by key. The range
    // sampler re-executes the merge column-pruned to the key columns (the
    // anti-join streams base keys, the window sees only contested rows),
    // which costs less task time than caching the merged frame so sampler
    // and write share one execution. Sorting costs ~0.1 s wall per
    // compaction at ×4 over no key layout, bought back by every probe's
    // row-group pruning (OPTIMIZATION_r15.md O3 and its layout A/B).
    val keyCols = st.latest.keyFields.map(col)
    val doSort = keyCols.nonEmpty
    val shaped =
      if (!doSort) merged
      else if (partF.isEmpty)
        merged.repartitionByRange(keyCols: _*).sortWithinPartitions(keyCols: _*)
      else merged.repartition(partF.map(col): _*)
        .sortWithinPartitions(partF.map(col) ++ keyCols: _*)
    rewriteCommit(spark, tablePath, st, ct, "compact", shaped, touched, st.latest.schemaDdl,
      preShaped = doSort)

    // absorbed delta batches move into this compaction's archive (not
    // deleted): readAsOf before the compaction re-merges them, and rolling
    // the compaction back re-exposes them
    val fs = CommitLog.fs(spark, tablePath)
    live.foreach(c => Archive.stashDelta(fs, tablePath, ct, c, Deltas.dir(tablePath, c)))
    touched
  }

  final case class FsckReport(
      orphanStaging: Seq[String],
      orphanDeltas: Seq[String],
      abortedRewrites: Seq[String],
      staleInflights: Seq[String] = Seq.empty,
      createSiblings: Seq[String] = Seq.empty,
      expiredLocks: Seq[String] = Seq.empty) {
    def clean: Boolean = orphanStaging.isEmpty && orphanDeltas.isEmpty &&
      abortedRewrites.isEmpty && staleInflights.isEmpty && createSiblings.isEmpty &&
      expiredLocks.isEmpty
  }

  /** Crashed-create recovery: [[create]] stages at `<table>.staging-create-
    * <ct>` and moves the old table aside to `<table>.replaced-<ct>` before
    * promoting, so every crash window leaves either a healthy table or a
    * restorable sibling. Here:
    *  - if the table path is missing its commit log (a crash after the old
    *    table moved aside, before the new bootstrap commit landed), the
    *    NEWEST `.replaced-<ct>` pre-image is restored wholesale — the
    *    half-promoted data had no commit, so by the no-JSON-means-
    *    uncommitted rule the create never happened;
    *  - every remaining sibling (stale stagings from any crash window;
    *    replaced pre-images once a committed table exists) is swept.
    * Returns the sibling names seen. Runs before the main fsck body, which
    * needs a readable commit log.
    */
  private def recoverCreateSiblings(
      spark: SparkSession, tablePath: String, repair: Boolean): Seq[String] = {
    val fs = CommitLog.fs(spark, tablePath)
    val tp = new Path(tablePath)
    val parent = tp.getParent
    if (parent == null || !fs.exists(parent)) return Seq.empty
    val name = tp.getName
    def siblings() = fs.listStatus(parent).map(_.getPath).toSeq.filter { p =>
      p.getName.startsWith(s"$name.staging-create-") ||
        p.getName.startsWith(s"$name.replaced-")
    }
    val seen = siblings().map(_.getName)
    if (seen.isEmpty || !repair) return seen
    if (CommitLog.commits(spark, tablePath).isEmpty) {
      siblings().filter(_.getName.startsWith(s"$name.replaced-")).sortBy(_.getName)
        .lastOption.foreach { r =>
          if (fs.exists(tp)) fs.delete(tp, true)
          fs.rename(r, tp)
          // the restored pre-image's commit JSONs land at the same paths the
          // replaced table's once held — drop any cached parses of those
          CommitLog.invalidate(tablePath)
        }
    }
    siblings().foreach(p => fs.delete(p, true))
    seen
  }

  /** Crash-recovery sweep (Hudi "rollback of failed commits" analogue). A
    * writer that died mid-commit can leave, in increasing severity:
    *  (a) a `staging-<ct>` directory (death before the swap),
    *  (b) a delta dir whose commit JSON never landed (death between
    *      Deltas.write and CommitLog.write),
    *  (c) an `archive/<ct>` of a rewrite whose commit JSON never landed —
    *      some partitions may already be swapped, some only stashed.
    * Because the commit JSON is the LAST write of every path, "no JSON"
    * always means "not committed", and repair restores the pre-commit
    * state: archived pre-images move back (half-swapped replacements are
    * deleted), stashed delta batches of an aborted compaction return to the
    * live set (their own commits are intact), and orphan staging/delta dirs
    * are removed, along with the `<ct>.inflight.json` markers of writers
    * that died or lost an OCC conflict ([[CommitLog.write]]). Pure FS
    * metadata ops. `repair = false` only reports.
    * Run fsck before a new writer starts, not concurrently with one —
    * OCC protects commit publication, not recovery sweeps.
    */
  def fsck(spark: SparkSession, tablePath: String, repair: Boolean = true): FsckReport = {
    // first: crashed-create siblings — the main body needs a readable log,
    // which this step restores if a create died between move-aside and commit
    val createSiblings = recoverCreateSiblings(spark, tablePath, repair)
    val st = CommitLog.requireState(spark, tablePath)
    val fs = CommitLog.fs(spark, tablePath)
    val committed = st.commits.map(_.commitTime).toSet
    val log = CommitLog.logDir(tablePath)
    val staging = fs.listStatus(log).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("staging-")).toSeq
    val orphanDeltas = Deltas.liveCommits(spark, tablePath).filterNot(committed)
    val aborted = Archive.commits(fs, tablePath).filterNot(committed)
    // inflight markers of dead or OCC-conflicted writers: no commit JSON ever
    // landed for them (publish clears the marker of a successful commit)
    val staleInflights = CommitLog.inflights(spark, tablePath).filterNot(committed)
    // an EXPIRED writer lease is a dead writer's; a live one belongs to a
    // writer in flight and is left alone (don't fsck concurrently anyway)
    val expiredLock = TableLock.expired(spark, tablePath)
    if (repair) {
      // aborted rewrites first: restoring may re-expose stashed deltas whose
      // commits ARE in the log (they must not be swept as orphans below)
      aborted.foreach(ct => undoAbortedRewrite(spark, tablePath, st, ct))
      staging.foreach(p => fs.delete(p, true))
      orphanDeltas.foreach(c => fs.delete(Deltas.dir(tablePath, c), true))
      staleInflights.foreach { ct =>
        // an aborted append interleaved commit-stamped `append-<ct>-*` files
        // into shared partition dirs — the marker's partitions bound the sweep
        CommitLog.inflightInfo(spark, tablePath, ct).foreach { case (opName, parts) =>
          if (opName == WriteOperation.Insert.name || opName == WriteOperation.BulkInsert.name) {
            val dirs =
              if (parts.forall(_.isEmpty)) Seq(new Path(tablePath))
              else parts.map(p => new Path(s"$tablePath/${PathCodec.escape(p)}"))
            dirs.filter(fs.exists).foreach(d =>
              fs.listStatus(d)
                .filter(f => f.isFile && f.getPath.getName.startsWith(s"append-$ct-"))
                .foreach(f => fs.delete(f.getPath, false)))
          }
        }
        CommitLog.clearInflight(spark, tablePath, ct)
      }
      expiredLock.foreach(l => TableLock.release(spark, tablePath, l))
    }
    FsckReport(staging.map(_.getName), orphanDeltas, aborted, staleInflights, createSiblings,
      expiredLock.map(_.owner).toSeq)
  }

  /** Undo ONE aborted rewrite `ct` (no commit JSON): remove swapped-in
    * content with no pre-image — a partition the aborted rewrite CREATED, or
    * its uniquely-named root files, which are in no committed state and not
    * stashed — restore stashed pre-images, re-expose stashed delta batches,
    * and drop the archive dir. Shared by [[fsck]] and the OCC conflict
    * self-heal in [[publishRewrite]]: a losing writer must not leave its
    * uncommitted merge visible (hiding the winner's committed data) until a
    * repair sweep happens to run.
    */
  private def undoAbortedRewrite(
      spark: SparkSession, tablePath: String, st: TableState, ct: String): Unit = {
    val fs = CommitLog.fs(spark, tablePath)
    def hidden(n: String) = n.startsWith(".") || n.startsWith("_")
    // leaf units under `p`: FILES at the top level (unpartitioned root
    // data) and deepest dirs with no subdirectories (partition leaves —
    // nested for multi-level partition schemes, so restoring renames the
    // LEAF, never a shared parent that also holds untouched siblings)
    def leaves(p: Path, rel: String): Seq[(String, Path)] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filterNot(e => rel.isEmpty && hidden(e.getPath.getName))
        .flatMap { e =>
          val r = if (rel.isEmpty) e.getPath.getName else s"$rel/${e.getPath.getName}"
          if (e.isFile) Seq(r -> e.getPath)
          else if (fs.listStatus(e.getPath).exists(_.isDirectory)) leaves(e.getPath, r)
          else Seq(r -> e.getPath)
        }
    val stashed = leaves(Archive.dataDir(tablePath, ct), "")
    val stashedRels = stashed.map(_._1).toSet
    if (st.latest.partitionFields.nonEmpty) {
      val known = st.nativePartitions.map(PathCodec.escape).toSet
      leaves(new Path(tablePath), "")
        .filter { case (r, p) => !known(r) && !stashedRels(r) && fs.isDirectory(p) }
        .foreach { case (_, p) => fs.delete(p, true) }
    } else {
      fs.listStatus(new Path(tablePath)).filter(_.isFile)
        .filterNot(e => hidden(e.getPath.getName))
        .filterNot(e => stashedRels(e.getPath.getName))
        .foreach(e => fs.delete(e.getPath, false))
    }
    stashed.foreach { case (r, src) =>
      val dest = new Path(tablePath, r)
      if (fs.exists(dest)) fs.delete(dest, true)
      if (!fs.exists(dest.getParent)) fs.mkdirs(dest.getParent)
      fs.rename(src, dest)
    }
    Archive.archivedDeltaCommits(fs, tablePath, ct).foreach { dc =>
      val dst = Deltas.dir(tablePath, dc)
      if (!fs.exists(dst)) {
        if (!fs.exists(dst.getParent)) fs.mkdirs(dst.getParent)
        fs.rename(new Path(Archive.deltasDir(tablePath, ct), dc), dst)
      }
    }
    fs.delete(Archive.dir(tablePath, ct), true)
  }

  /** Publish a rewrite commit; on an OCC conflict, immediately undo the
    * swap this writer performed (restore the pre-images it archived — the
    * winner's committed data among them) before rethrowing, so a losing
    * writer's uncommitted rows are never visible past the exception. The
    * retry contract in [[graft.model.CommitConflictException]] still holds;
    * fsck remains the backstop for writers that die without reaching this.
    */
  private def publishRewrite(
      spark: SparkSession, tablePath: String, st: TableState, info: CommitInfo): Unit =
    try CommitLog.write(spark, tablePath, info, Some(st.latest.commitTime))
    catch {
      case e: CommitConflictException =>
        val fs = CommitLog.fs(spark, tablePath)
        // only a writer that actually swapped (and therefore archived — every
        // stageAndSwap stashes or marks) has anything to restore; running the
        // undo without an archive would treat live data as swapped-in content
        if (Archive.exists(fs, tablePath, info.commitTime))
          undoAbortedRewrite(spark, tablePath,
            CommitLog.requireState(spark, tablePath), info.commitTime)
        // a MOR delta-batch conflict instead leaves its (uncommitted,
        // reader-invisible) batch behind — clean that up too
        fs.delete(Deltas.dir(tablePath, info.commitTime), true)
        throw e
    }

  /** Inline compaction policy (Hudi NUM_COMMITS / byte-ratio strategy
    * analogue): compact when the live delta batch count reaches
    * `maxDeltaCommits` OR live delta bytes exceed `maxDeltaRatio` of base
    * bytes. The decision reads only FS metadata (directory sizes), so a
    * writer can call this after every delta commit for Hudi-style inline
    * compaction without ever scanning data below the thresholds. Returns
    * the compacted partitions, or None when below thresholds.
    */
  def compactIfNeeded(
      spark: SparkSession,
      tablePath: String,
      maxDeltaRatio: Double = 0.10,
      maxDeltaCommits: Int = 10): Option[Seq[String]] = {
    val fs = CommitLog.fs(spark, tablePath)
    val live = Deltas.committedLive(spark, tablePath, CommitLog.requireState(spark, tablePath))
    if (live.isEmpty) return None
    if (live.size >= maxDeltaCommits) return Some(compact(spark, tablePath))
    val deltaBytes = live.map(c =>
      fs.getContentSummary(Deltas.dir(tablePath, c)).getLength).sum
    val baseBytes = StatsIndex.listBaseFileStatuses(fs, tablePath)
      .map(_.getLen).sum
    if (deltaBytes >= maxDeltaRatio * math.max(1L, baseBytes))
      Some(compact(spark, tablePath))
    else None
  }

  /** Rollback (Hudi restore-to-instant analogue): undo every commit AFTER
    * `toCommitTime`, newest first. A live delta batch is undone by deleting
    * its directory; a rewrite commit (COW upsert/delete, compact, cluster,
    * materialize) is undone by swapping its archived pre-image back in —
    * partitions it replaced are restored, partitions it created are removed,
    * and a compaction re-exposes the delta batches it absorbed. Refused for
    * append-type commits (insert/bulk_insert — their rows are interleaved
    * into shared files), resume/bootstrap overwrites, and rewrites whose
    * archive was cleaned. O(#rolled-back partitions) rename metadata ops,
    * no data rewrite.
    */
  def rollback(spark: SparkSession, tablePath: String, toCommitTime: String): Seq[String] = {
    val st = CommitLog.requireState(spark, tablePath)
    val doomed = st.commits.filter(_.commitTime > toCommitTime)
    if (doomed.isEmpty) return Seq.empty
    val fs = CommitLog.fs(spark, tablePath)
    val liveDeltas = Deltas.liveCommits(spark, tablePath).toSet
    // a delta batch absorbed by a doomed compaction is re-exposed when that
    // compaction is undone (the loop runs newest-first), so it counts as
    // undoable even though it is neither live nor self-archived now
    val reExposed = doomed.filter(_.operation == "compact")
      .flatMap(c => Archive.archivedDeltaCommits(fs, tablePath, c.commitTime)).toSet

    val blocked = doomed.filterNot(c =>
      c.operation.startsWith("index_") || // undone by dropping the sidecar — no pre-image needed
        c.operation == "alter_schema" || // metadata-only: undone by dropping the commit JSON
        liveDeltas.contains(c.commitTime) || reExposed.contains(c.commitTime) ||
        Archive.exists(fs, tablePath, c.commitTime))
    if (blocked.nonEmpty)
      throw GraftException.config(
        s"Cannot roll back past commit(s) ${blocked.map(c => s"${c.commitTime}(${c.operation})").mkString(", ")}: " +
          "no archived pre-image (append-type commit, resume/bootstrap overwrite, or archive cleaned).")

    doomed.reverse.foreach { c => // newest first: each step undoes one commit
      // checked live at undo time: an earlier iteration (a compaction undo)
      // may have re-exposed this commit's delta directory
      if (c.operation.startsWith("index_")) {
        // data files were never touched — just drop the sidecar
        fs.delete(StatsIndex.statsDir(tablePath, c.commitTime), true)
        fs.delete(BloomIndex.bloomDir(tablePath, c.commitTime), true)
      } else if (c.operation == "alter_schema") {
        // metadata-only: the commit JSON delete below undoes the evolution
        // (the schema fold reads latest.schemaDdl; no file carried the
        // column unless a LATER write did — and that write is also doomed)
        ()
      } else if (fs.exists(Deltas.dir(tablePath, c.commitTime))) {
        fs.delete(Deltas.dir(tablePath, c.commitTime), true)
      } else {
        if (c.partitionFields.isEmpty) {
          fs.listStatus(new Path(tablePath)).filter(_.isFile)
            .filterNot(f => f.getPath.getName.startsWith(".") || f.getPath.getName.startsWith("_"))
            .foreach(f => fs.delete(f.getPath, false))
          val ad = Archive.dataDir(tablePath, c.commitTime)
          if (fs.exists(ad)) fs.listStatus(ad).filter(_.isFile)
            .foreach(f => fs.rename(f.getPath, new Path(tablePath, f.getPath.getName)))
        } else {
          c.partitions.filter(e => e.mode == "native" || e.mode == "dropped").foreach { e =>
            val liveDir = new Path(s"$tablePath/${PathCodec.escape(e.path)}")
            val arch = new Path(Archive.dataDir(tablePath, c.commitTime), PathCodec.escape(e.path))
            // replaced partition → restore pre-image; created partition
            // (no pre-image) → remove
            if (fs.exists(liveDir)) fs.delete(liveDir, true)
            if (fs.exists(arch)) {
              if (!fs.exists(liveDir.getParent)) fs.mkdirs(liveDir.getParent)
              fs.rename(arch, liveDir)
            }
          }
        }
        Archive.archivedDeltaCommits(fs, tablePath, c.commitTime).foreach { dc =>
          val destD = Deltas.dir(tablePath, dc)
          if (!fs.exists(destD.getParent)) fs.mkdirs(destD.getParent)
          fs.rename(new Path(Archive.deltasDir(tablePath, c.commitTime), dc), destD)
        }
        fs.delete(Archive.dir(tablePath, c.commitTime), true)
      }
      fs.delete(new Path(s"$tablePath/${CommitLog.LogDirName}/${c.commitTime}.commit.json"), false)
    }
    // commit JSONs were deleted: drop their cached parses (coarse-mtime FS
    // could otherwise serve a stale parse for a recreated same-size file)
    CommitLog.invalidate(tablePath)
    // savepoints of destroyed commits would dangle: savepoints() would list
    // them, cleanArchive would keep using them as a retention horizon, and a
    // later restore to one would fail deep in the rollback layer — drop them
    // with the commits they pinned
    savepoints(spark, tablePath).filter(_ > toCommitTime)
      .foreach(sp => deleteSavepoint(spark, tablePath, sp))
    doomed.map(_.commitTime)
  }

  /** Time-travel read (Hudi `as.of.instant` analogue): the table as of
    * commit `asOf` (inclusive). Base files per partition come from the live
    * tree when nothing rewrote the partition since, otherwise from the
    * pre-image archived by the FIRST rewrite after `asOf` (between `asOf`
    * and that rewrite only append-type commits can have touched the
    * partition, and their rows are removed by the `_hoodie_commit_time`
    * filter). MOR delta batches at or before `asOf` — live, or archived by a
    * later compaction — are merged on top, exactly like a live snapshot.
    * Fails explicitly when the needed pre-image was cleaned
    * ([[cleanArchive]] retention) or the history was reset (re-bootstrap /
    * resume overwrite). Reads only the asOf partition set, pruned at the
    * file index per source root.
    */
  /** Stats-index-pruned range read: rows with `column` in [lower, upper]
    * (either bound optional; nulls never qualify, matching SQL range
    * semantics). File skipping comes from [[StatsIndex.prune]] — on a
    * z-ordered table a selective range opens a fraction of the base files,
    * the scan shape that keeps a 100 TB point-range query interactive. The
    * residual predicate is always applied, so pruning can only make the
    * read cheaper, never change its answer; with no index built this is a
    * plain filtered snapshot. Live MOR delta batches force the unpruned
    * merge path (delta rows are invisible to the file index) — compact
    * first to restore skipping.
    */
  def readBetween(
      spark: SparkSession,
      tablePath: String,
      column: String,
      lower: Option[Any],
      upper: Option[Any]): DataFrame =
    readWhere(spark, tablePath, Seq((column, lower, upper)))

  /** Conjunctive multi-range read — every range must hold. On a z-ordered
    * table each file carries a bounded range on EACH clustered column, so
    * pruning multiplies across the ranges (the whole point of the Morton
    * layout over a linear sort). `logicalInLists` adds conjunctive IN-list
    * membership predicates — each prunes through the column's bloom sidecar
    * (one multi-value probe) when one exists.
    */
  def readWhere(
      spark: SparkSession,
      tablePath: String,
      logicalRanges: Seq[(String, Option[Any], Option[Any])],
      logicalInLists: Seq[(String, Seq[Any])] = Seq.empty): DataFrame = {
    require(logicalRanges.nonEmpty || logicalInLists.nonEmpty,
      "readWhere needs at least one range or IN-list")
    require(logicalInLists.forall(_._2.nonEmpty), "empty IN-list matches nothing — refuse loudly")
    val st = CommitLog.requireState(spark, tablePath)
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    // user-facing column names are logical; the stats index and the files
    // are physical
    val ranges = logicalRanges.map { case (c, lo, hi) =>
      (physicalNameOf(st.columnMapping, c), lo, hi)
    }
    val inLists = logicalInLists.map { case (c, vs) =>
      (physicalNameOf(st.columnMapping, c), vs)
    }
    val pred = (ranges.map { case (column, lower, upper) =>
      val dt = schema(column).dataType
      Seq(
        lower.map(v => col(column) >= lit(v).cast(dt)),
        upper.map(v => col(column) <= lit(v).cast(dt))).flatten
        .reduceOption(_ && _).getOrElse(col(column).isNotNull)
    } ++ inLists.map { case (column, vs) =>
      val dt = schema(column).dataType
      col(column).isin(vs.map(v => lit(v).cast(dt)): _*)
    }).reduce(_ && _)
    val cols = schema.fieldNames.map(col).toSeq
    // Live MOR deltas don't forfeit pruning table-wide: only the partitions
    // the deltas TOUCH need the merged snapshot; every other partition keeps
    // the stats-pruned base-file scan. On a streaming-ingest table (deltas
    // always live somewhere) this is the difference between a pruned range
    // read and a full-table merge at 100 TB. Unpartitioned tables have one
    // "partition" — touched means everything, the plain snapshot.
    val liveDeltas = Deltas.committedLive(spark, tablePath, st)
    val touched: Set[String] =
      if (liveDeltas.isEmpty) Set.empty
      else Deltas.touchedPartitions(st, liveDeltas).toSet
    if (liveDeltas.nonEmpty && st.latest.partitionFields.isEmpty)
      return toLogical(snapshot(spark, tablePath, st, restrictTo = None).filter(pred),
        st.columnMapping)
    def inTouched(f: String) = touched.exists(p => f.contains(s"/${PathCodec.escape(p)}/"))
    val pruned =
      if (ranges.nonEmpty) StatsIndex.prune(spark, tablePath, ranges)
      else { // IN-list-only read: stats ranges don't apply, start from live
        val live = StatsIndex.listBaseFiles(CommitLog.fs(spark, tablePath), tablePath)
        StatsIndex.PruneResult(live, live.size, 0, None)
      }
    // Point and IN-list predicates additionally prune through any bloom
    // sidecar on their column: per-file value SETS beat min/max ranges on
    // unclustered columns (whose ranges overlap everywhere), so a SQL
    // `WHERE key = x` / `key IN (...)` opens only bloom-positive files with
    // no API change. Both prunes only drop files that PROVABLY lack the
    // value. Restricted to values whose JVM render equals Spark's
    // cast-to-string (how the blooms were built) — a mismatched render
    // could only produce a false NEGATIVE, which a bloom must never have;
    // one unsafe value disables the probe for its whole predicate.
    def bloomForm(v: Any): Option[String] = v match {
      case x @ (_: Long | _: Int | _: Short | _: Byte | _: Boolean) => Some(x.toString)
      case s: String => Some(s)
      case _ => None
    }
    val probes: Seq[(String, Seq[Option[String]])] =
      ranges.collect { case (c, Some(lo), Some(hi)) if lo == hi => (c, Seq(bloomForm(lo))) } ++
        inLists.map { case (c, vs) => (c, vs.map(bloomForm)) }
    val kept: Seq[String] = probes.foldLeft(pruned.kept) {
      case (acc, (c, vs)) if vs.forall(_.isDefined) &&
          BloomIndex.latestIndex(spark, tablePath, c).isDefined =>
        val candidates =
          BloomIndex.candidateFiles(spark, tablePath, vs.flatten, c).kept.toSet
        acc.filter(candidates)
      case (acc, _) => acc
    }
    val parts = Seq.newBuilder[DataFrame]
    val keptUntouched = kept.filterNot(inTouched)
    if (keptUntouched.nonEmpty)
      parts += spark.read.schema(schema).option("basePath", tablePath)
        .parquet(keptUntouched: _*).select(cols: _*)
    // METADATA_ONLY partitions are served from source files the stats
    // index does not cover — always read (and residually filtered); the
    // delta-touched ones ride the merged snapshot below instead
    val metaOnly = st.metadataOnlyPartitions.filterNot(touched)
    if (metaOnly.nonEmpty)
      parts += readBase(spark, tablePath, st,
        exclude = st.nativePartitions.toSet ++ touched, restrictTo = Some(metaOnly.toSet))
    if (touched.nonEmpty)
      parts += snapshot(spark, tablePath, st, restrictTo = Some(touched)).select(cols: _*)
    toLogical(parts.result() match {
      case Nil => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema).filter(pred)
      case dfs => dfs.reduce(_ unionByName _).filter(pred)
    }, st.columnMapping)
  }

  def readAsOf(spark: SparkSession, tablePath: String, asOf: String): DataFrame = {
    val all = CommitLog.commits(spark, tablePath)
    val past = all.filter(_.commitTime <= asOf)
    if (past.isEmpty)
      throw GraftException.config(s"No commit at or before instant $asOf.")
    val later = all.filter(_.commitTime > asOf)
    later.find(c => c.operation == "bootstrap" || c.operation == "resume").foreach(c =>
      throw GraftException.config(
        s"Cannot read as of $asOf: commit ${c.commitTime} (${c.operation}) overwrote the table outside the archive."))

    val st = CommitLog.stateOf(past)
    val fs = CommitLog.fs(spark, tablePath)
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val partF = st.latest.partitionFields
    val cols = schema.fieldNames.map(col).toSeq
    val cannot = s"Cannot read as of $asOf"

    val parts = Seq.newBuilder[DataFrame]
    if (partF.isEmpty) {
      if (st.nativePartitions.nonEmpty) {
        val root = preImageRoot(fs, tablePath, later, "", cannot)
          .map(_.toString).getOrElse(tablePath)
        parts += spark.read.schema(schema).parquet(root).select(cols: _*)
      }
    } else {
      // group partitions by the root holding their asOf state → one pruned
      // multi-dir scan per root
      val byRoot = st.nativePartitions.flatMap { p =>
        preImageRoot(fs, tablePath, later, p, cannot) match {
          case Some(root) => Some(root.toString -> p)
          case None =>
            // directory truth, like readBase: an out-of-band-deleted dir is
            // a missing partition, not an error
            if (fs.exists(new Path(s"$tablePath/${PathCodec.escape(p)}")))
              Some(tablePath -> p)
            else None
        }
      }.groupBy(_._1)
      byRoot.foreach { case (root, ps) =>
        parts += spark.read.schema(schema).option("basePath", root)
          .parquet(ps.map { case (_, p) => s"$root/${PathCodec.escape(p)}" }: _*)
          .select(cols: _*)
      }
      val metaOnly = st.metadataOnlyPartitions
      if (metaOnly.nonEmpty) {
        val src = st.sourcePath.getOrElse(
          throw GraftException.unexpected(s"metadata_only partitions without sourcePath at $tablePath"))
        val mct = st.commits.find(_.sourcePath.isDefined).map(_.commitTime).getOrElse(st.latest.commitTime)
        val dataSchema = StructType(schema.filterNot(f => MetaColumns.all.contains(f.name)))
        parts += MetaColumns.withMeta(
          readSource(spark, src, dataSchema, partF, Some(metaOnly)),
          st.latest.keyFields, partF, mct).select(cols: _*)
      }
    }
    val base0 = parts.result() match {
      case Nil => spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case dfs => dfs.reduce(_ unionByName _)
    }
    // rows appended into surviving files after asOf drop out here
    val base = base0.filter(col(MetaColumns.CommitTime) <= asOf)

    // deltas at asOf: live committed and ≤ asOf, or stashed by a post-asOf
    // compaction (an orphan dir of a dead/conflicted writer is no commit)
    val committedSet = all.map(_.commitTime).toSet
    val liveDirs = Deltas.liveCommits(spark, tablePath)
      .filter(c => c <= asOf && committedSet(c))
      .map(c => c -> Deltas.dir(tablePath, c).toString)
    val archDirs = later.filter(_.operation == "compact").flatMap { c =>
      Archive.archivedDeltaCommits(fs, tablePath, c.commitTime).filter(_ <= asOf)
        .map(dc => dc -> new Path(Archive.deltasDir(tablePath, c.commitTime), dc).toString)
    }
    val deltaDirs = (liveDirs ++ archDirs).sortBy(_._1)
    // the drop/rename view AS OF the instant: pre-rename instants serve the
    // old logical names (stateOf(past) folds only past commits' mappings)
    if (deltaDirs.isEmpty) return toLogical(base, st.columnMapping)

    val deltaCts = deltaDirs.map(_._1).toSet
    val touched = past.filter(c => deltaCts.contains(c.commitTime))
      .flatMap(_.partitions.map(_.path)).distinct
    val deltas = Deltas.readDirs(spark, schema, deltaDirs.map(_._2))
    val inTouched =
      if (partF.isEmpty) lit(true)
      else ppCol(partF).isin(touched: _*)
    toLogical(base.filter(!inTouched).unionByName(
      Deltas.merge(base.filter(inTouched), deltas, st.latest.precombineField)),
      st.columnMapping)
  }

  /** The commit timeline as a DataFrame (Hudi `show_commits` analogue):
    * one row per commit with operation, record count, touched-partition
    * count, and schema — the observability surface an operator of the table
    * polls. Built from the O(#commits) JSON log, no data scan.
    */
  def timeline(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    CommitLog.requireState(spark, tablePath).commits
      .map(c => (c.commitTime, c.operation, c.tableType, c.recordCount,
        c.partitions.size.toLong, c.partitions.map(_.recordCount).sum))
      .toDF("commit_time", "operation", "table_type", "record_count",
        "n_partitions", "partition_rows")
  }

  /** Commit operations that replace partition data through stageAndSwap and
    * therefore archive a pre-image — the commits time travel, rollback, and
    * savepoint retention reason about.
    */
  private val RewriteOps = Set("upsert", "upsert_global", "merge", "delete", "compact",
    "cluster", "materialize", "delete_partition", "reclaim")

  /** The archive data root holding partition `p` as it stood before the
    * commits `later`: the pre-image of the FIRST of them that replaced or
    * dropped `p`. None when none did (the live dir still holds that state).
    * Throws when archive retention has cleaned the pre-image; `cannot`
    * opens the message.
    */
  private def preImageRoot(
      fs: org.apache.hadoop.fs.FileSystem, tablePath: String, later: Seq[CommitInfo],
      p: String, cannot: String): Option[Path] =
    later.find(c => RewriteOps(c.operation) &&
      c.partitions.exists(e => e.path == p && (e.mode == "native" || e.mode == "dropped")))
      .map { c =>
        val root = Archive.dataDir(tablePath, c.commitTime)
        if (!fs.exists(if (p.isEmpty) root else new Path(root, PathCodec.escape(p))))
          throw GraftException.config(
            s"$cannot: pre-image of partition '$p' (archived by commit ${c.commitTime}) " +
              "has been cleaned — archive retention exceeded.")
        root
      }

  val ArchiveRetention = 10

  /** Hudi-cleaner analogue: keep the pre-images of the newest `retainLast`
    * archived rewrite commits, drop older ones (bounding archive storage to
    * retainLast × replaced-partition data). readAsOf / rollback past the
    * horizon fail explicitly. Auto-run inline after every rewrite commit,
    * like Hudi's inline cleaner. Returns the cleaned commit times.
    */
  def cleanArchive(
      spark: SparkSession, tablePath: String, retainLast: Int = ArchiveRetention): Seq[String] = {
    val fs = CommitLog.fs(spark, tablePath)
    val candidates = Archive.commits(fs, tablePath).dropRight(retainLast)
    val sps = savepoints(spark, tablePath)
    // Precise savepoint pinning: readAsOf(S) serves partition p from the
    // FIRST rewrite after S that touched p (between S and that rewrite only
    // append-type commits can have touched p), and serves delta commits ≤ S
    // from the post-S compaction that stashed them. So per savepoint S, pin:
    //   - per partition native at S, the first post-S rewrite touching it;
    //   - every post-S compaction holding archived delta batches ≤ S.
    // Second-and-later rewrites of an already-pinned partition are cleanable
    // even under a live savepoint — archive growth stays bounded by
    // #partitions-at-S per savepoint, not by write traffic. [[restore]] is
    // written against exactly this retention set (it swaps straight to the
    // state at S instead of undoing commits one by one). Archives at or
    // before S describe strictly older states and are never needed for S.
    val pinned: Set[String] =
      if (sps.isEmpty || candidates.isEmpty) Set.empty
      else {
        val all = CommitLog.commits(spark, tablePath)
        sps.iterator.flatMap { sp =>
          val atS = CommitLog.stateOf(all.filter(_.commitTime <= sp))
          val unseen = scala.collection.mutable.Set[String](atS.nativePartitions: _*)
          all.filter(_.commitTime > sp).flatMap { c =>
            val isFirst = RewriteOps(c.operation) && {
              val hit = c.partitions.exists(e =>
                (e.mode == "native" || e.mode == "dropped") && unseen.contains(e.path))
              c.partitions.foreach(e =>
                if (e.mode == "native" || e.mode == "dropped") unseen.remove(e.path))
              hit
            }
            val pinsDeltas = c.operation == "compact" &&
              Archive.archivedDeltaCommits(fs, tablePath, c.commitTime).exists(_ <= sp)
            if (isFirst || pinsDeltas) Some(c.commitTime) else None
          }
        }.toSet
      }
    val old = candidates.filterNot(pinned)
    old.foreach(ct => fs.delete(Archive.dir(tablePath, ct), true))
    old
  }

  /** Hudi `show_fsview` analogue: the live base-file layout as a DataFrame
    * — (partition_path, file_name, bytes) per parquet file, from pure
    * FileSystem metadata (no data read). The observability twin of
    * [[sizeFiles]]: `files().groupBy("partition_path").count()` is how an
    * operator decides whether sizing is due.
    */
  def files(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val st = CommitLog.requireState(spark, tablePath)
    val fs = CommitLog.fs(spark, tablePath)
    val partF = st.latest.partitionFields
    val candidates = if (partF.isEmpty) Seq("") else st.nativePartitions
    candidates.flatMap { p =>
      val dir = if (p.isEmpty) new Path(tablePath)
        else new Path(s"$tablePath/${PathCodec.escape(p)}")
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => (p, f.getPath.getName, f.getLen)).toSeq
    }.toDF("partition_path", "file_name", "bytes")
  }

  // ------------------------------------------------------------- savepoints

  private def savepointDir(tablePath: String): Path =
    new Path(s"$tablePath/${CommitLog.LogDirName}/savepoints")

  /** Hudi savepoint analogue: pin commit `instant` so archive cleaning
    * never makes it unreadable — `readAsOf(instant)` (and `rollback` to it)
    * keep working no matter how many rewrites follow. Fails fast if the
    * instant is not a commit or its snapshot is already unservable (archive
    * cleaned / overwritten by a later bootstrap). O(1) metadata: a marker
    * file; the pin itself is enforced by [[cleanArchive]].
    */
  def savepoint(spark: SparkSession, tablePath: String, instant: String): String = {
    val st = CommitLog.requireState(spark, tablePath)
    if (!st.commits.exists(_.commitTime == instant))
      throw GraftException.config(s"Cannot savepoint $instant: no such commit.")
    readAsOf(spark, tablePath, instant) // servability probe — throws if not reconstructable
    val fs = CommitLog.fs(spark, tablePath)
    val d = savepointDir(tablePath)
    if (!fs.exists(d)) fs.mkdirs(d)
    fs.create(new Path(d, instant), true).close()
    instant
  }

  /** Savepointed instants, ascending. */
  def savepoints(spark: SparkSession, tablePath: String): Seq[String] = {
    val fs = CommitLog.fs(spark, tablePath)
    val d = savepointDir(tablePath)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).filter(_.isFile).map(_.getPath.getName).toSeq.sorted
  }

  /** Unpin a savepoint. The next clean (inline after any rewrite, or
    * explicit) may then drop the archives that served it.
    */
  def deleteSavepoint(spark: SparkSession, tablePath: String, instant: String): Unit = {
    val fs = CommitLog.fs(spark, tablePath)
    fs.delete(new Path(savepointDir(tablePath), instant), false)
  }

  /** Hudi restore: roll the table back to a SAVEPOINTED instant. Unlike
    * [[rollback]] (which undoes commits one at a time and therefore needs
    * EVERY doomed rewrite's archive), restore swaps each partition straight
    * to its state at the savepoint — the pre-image archived by the FIRST
    * post-savepoint rewrite that touched it — which is exactly the set
    * [[cleanArchive]]'s savepoint pinning guarantees to retain. Between the
    * savepoint and that first rewrite only append-type commits could have
    * touched the partition, and those are refused (their rows interleave
    * into shared files), so the first pre-image IS the savepointed state.
    * O(#partitions) rename metadata ops, no data rewrite.
    */
  def restore(spark: SparkSession, tablePath: String, instant: String): Seq[String] = {
    if (!savepoints(spark, tablePath).contains(instant))
      throw GraftException.config(
        s"Cannot restore to $instant: not a savepoint (use rollback for unpinned instants).")
    val all = CommitLog.commits(spark, tablePath)
    val later = all.filter(_.commitTime > instant)
    if (later.isEmpty) return Seq.empty
    val fs = CommitLog.fs(spark, tablePath)

    val blocked = later.filter(c => !RewriteOps(c.operation) &&
      !c.operation.startsWith("index_") && c.operation != "delta_commit")
    if (blocked.nonEmpty)
      throw GraftException.config(
        s"Cannot restore to $instant past commit(s) " +
          s"${blocked.map(c => s"${c.commitTime}(${c.operation})").mkString(", ")}: " +
          "append-type or overwrite commits cannot be undone by directory swaps.")

    val atS = CommitLog.stateOf(all.filter(_.commitTime <= instant))
    val now = CommitLog.stateOf(all)
    val partF = atS.latest.partitionFields
    val cannot = s"Cannot restore to $instant"

    if (partF.isEmpty) {
      preImageRoot(fs, tablePath, later, "", cannot).foreach { ad =>
        fs.listStatus(new Path(tablePath)).filter(_.isFile)
          .filterNot(f => f.getPath.getName.startsWith(".") || f.getPath.getName.startsWith("_"))
          .foreach(f => fs.delete(f.getPath, false))
        fs.listStatus(ad).filter(_.isFile)
          .foreach(f => fs.rename(f.getPath, new Path(tablePath, f.getPath.getName)))
      }
    } else {
      // partitions that came into existence after the savepoint disappear
      (now.nativePartitions.toSet -- atS.nativePartitions.toSet).foreach(p =>
        fs.delete(new Path(s"$tablePath/${PathCodec.escape(p)}"), true))
      // partitions native at the savepoint: swap in the first post-savepoint
      // pre-image; partitions no rewrite touched are already the S state
      atS.nativePartitions.foreach { p =>
        preImageRoot(fs, tablePath, later, p, cannot).foreach { root =>
          val arch = new Path(root, PathCodec.escape(p))
          val liveDir = new Path(s"$tablePath/${PathCodec.escape(p)}")
          if (fs.exists(liveDir)) fs.delete(liveDir, true)
          if (!fs.exists(liveDir.getParent)) fs.mkdirs(liveDir.getParent)
          fs.rename(arch, liveDir)
        }
      }
    }

    // delta batches after the savepoint vanish; batches ≤ S absorbed by a
    // post-S compaction are re-exposed from that compaction's archive
    Deltas.liveCommits(spark, tablePath).filter(_ > instant)
      .foreach(c => fs.delete(Deltas.dir(tablePath, c), true))
    later.filter(_.operation == "compact").foreach { c =>
      Archive.archivedDeltaCommits(fs, tablePath, c.commitTime).filter(_ <= instant).foreach { dc =>
        val destD = Deltas.dir(tablePath, dc)
        if (!fs.exists(destD.getParent)) fs.mkdirs(destD.getParent)
        fs.rename(new Path(Archive.deltasDir(tablePath, c.commitTime), dc), destD)
      }
    }

    later.foreach { c =>
      fs.delete(StatsIndex.statsDir(tablePath, c.commitTime), true)
      fs.delete(BloomIndex.bloomDir(tablePath, c.commitTime), true)
      fs.delete(Archive.dir(tablePath, c.commitTime), true)
      fs.delete(new Path(s"$tablePath/${CommitLog.LogDirName}/${c.commitTime}.commit.json"), false)
    }
    // see rollback: deleted commit JSONs must not linger in the parse cache
    CommitLog.invalidate(tablePath)
    savepoints(spark, tablePath).filter(_ > instant)
      .foreach(sp => deleteSavepoint(spark, tablePath, sp))
    later.map(_.commitTime)
  }

  /** Clustering (Hudi clustering / OPTIMIZE analogue): rewrite partitions
    * with rows range-partitioned and sorted by `sortCols`, bounding file row
    * counts — the small-file + data-skipping service a streaming-ingest
    * table needs at scale. Sorted files give parquet min/max pruning on
    * `sortCols`; `maxRecordsPerFile` splits oversized outputs. Live deltas
    * are compacted first so clustering sees the merged rows.
    */
  def cluster(
      spark: SparkSession,
      tablePath: String,
      sortCols: Seq[String],
      maxRecordsPerFile: Long = 0L,
      partitions: Option[Seq[String]] = None): Seq[String] = {
    // user-facing column names are logical; the rewrite works on physical rows
    val physCols = toPhysicalNames(spark, tablePath, sortCols)
    clusterBy(spark, tablePath, maxRecordsPerFile, partitions) { (rows, partF) =>
      val sortKeys = (partF ++ physCols).map(col)
      rows.repartitionByRange(sortKeys: _*).sortWithinPartitions(sortKeys: _*)
    }
  }

  /** Resolve user-facing (logical) column names to their physical homes. */
  private def toPhysicalNames(
      spark: SparkSession, tablePath: String, cols: Seq[String]): Seq[String] = {
    val m = CommitLog.requireState(spark, tablePath).columnMapping
    cols.map(physicalNameOf(m, _))
  }

  /** Z-order clustering (Hudi z-order / Delta OPTIMIZE ZORDER analogue):
    * rewrite partitions laid out along the Morton curve of `zCols`, giving
    * every file a bounded range on EACH clustered column — selective filters
    * on any of them prune most files via parquet min/max, where a linear
    * sort serves only its leading column. See [[graft.ops.ZOrder]].
    */
  def clusterZ(
      spark: SparkSession,
      tablePath: String,
      zCols: Seq[String],
      maxRecordsPerFile: Long = 0L,
      partitions: Option[Seq[String]] = None): Seq[String] = {
    val physCols = toPhysicalNames(spark, tablePath, zCols)
    clusterBy(spark, tablePath, maxRecordsPerFile, partitions) { (rows, partF) =>
      graft.ops.ZOrder.layout(rows, physCols, leadingKeys = partF.map(col))
    }
  }

  /** Linear-sort clustering (Hudi sort clustering / Delta OPTIMIZE without
    * ZORDER): range-partition + sort on `sortCols`, giving tight per-file
    * min/max on the LEADING column — the right layout when one column
    * dominates the filter workload (z-order trades per-column tightness
    * for multi-column coverage). Any column type sorts, including strings,
    * which z-order cannot take.
    */
  def clusterSort(
      spark: SparkSession,
      tablePath: String,
      sortCols: Seq[String],
      maxRecordsPerFile: Long = 0L,
      partitions: Option[Seq[String]] = None): Seq[String] = {
    require(sortCols.nonEmpty, "clusterSort needs at least one sort column")
    val physCols = toPhysicalNames(spark, tablePath, sortCols)
    clusterBy(spark, tablePath, maxRecordsPerFile, partitions) { (rows, partF) =>
      val keys = (partF ++ physCols).map(col)
      rows.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
    }
  }

  /** File-sizing service (Hudi small-file management / Delta OPTIMIZE
    * compaction analogue): find partitions whose base layout is degenerate
    * — more parquet files than the ideal ceil(bytes/targetFileBytes) plus
    * `slackFiles` — and rewrite ONLY those into ~targetFileBytes files.
    * Selection is pure FileSystem metadata (names + lengths, no data read);
    * the rewrite runs through the cluster machinery (compact-first,
    * archive, a "cluster" commit), so time travel, CDC, and rollback treat
    * it like any layout rewrite. Steady-state cost tracks the badly-laid-
    * out fraction of the table, not table size — the property that keeps
    * continuous ingest viable at 100 TB: every append adds a file per
    * touched partition, and without sizing, scans eventually drown in
    * per-file open/footer overhead.
    *
    * The rewrite's `maxRecordsPerFile` derives from the offenders' own
    * observed on-disk bytes/record (output is parquet again, so compression
    * is comparable), so files land near the byte target without a
    * configured record count.
    */
  def sizeFiles(
      spark: SparkSession,
      tablePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      slackFiles: Int = 1): Seq[String] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val st = CommitLog.requireState(spark, tablePath)
    val fs = CommitLog.fs(spark, tablePath)
    val partF = st.latest.partitionFields

    def baseFiles(p: String): Array[FileStatus] = {
      val dir = if (p.isEmpty) new Path(tablePath)
        else new Path(s"$tablePath/${PathCodec.escape(p)}")
      if (!fs.exists(dir)) Array.empty
      else fs.listStatus(dir).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    }

    val candidates = if (partF.isEmpty) Seq("") else st.nativePartitions
    val offenders = candidates.map(p => (p, baseFiles(p)))
      .filter { case (_, files) =>
        files.nonEmpty && {
          val ideal = math.max(1L,
            math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toLong)
          files.length > ideal + slackFiles
        }
      }
    if (offenders.isEmpty) return Seq.empty

    val parts = offenders.map(_._1)
    val bytes = offenders.flatMap(_._2).map(_.getLen).sum
    // one count job over just the offender partitions. readPartitions is a
    // BASE-FILE read (no delta merge) — deliberately so: the byte numerator
    // above is base-file bytes, and mixing a delta-merged row count into the
    // denominator would skew bytesPerRow low and overshoot targetFileBytes
    // on a MOR table with live deltas. clusterBy's compact-first may add the
    // delta rows to the rewrite afterwards; that only shifts file COUNT, the
    // per-file byte target still holds.
    val rowCount = math.max(1L, readPartitions(spark, tablePath, st, parts).count())
    val bytesPerRow = math.max(1L, bytes / rowCount)
    val maxRecords = math.max(1L, targetFileBytes / bytesPerRow)
    clusterBy(spark, tablePath, maxRecords, Some(parts))(
      (rows, pf) => clusterByPartition(rows, pf))
  }

  /** Partition-level retention drop: archive-rename the partition dirs and
    * commit `delete_partition` — O(#partitions) metadata operations, ZERO
    * data read or rewrite, which is what makes TTL enforcement viable on a
    * 100 TB table (a key-wise delete would rewrite everything it touches).
    * Fully integrated with the table services: `readAsOf` before the drop
    * serves the archived pre-image, `rollback` restores it, `readChanges`
    * surfaces every dropped row as a delete event (so `TableSync` copies
    * converge), and a later write simply re-creates the partition.
    * Refuses METADATA_ONLY partitions (no local dir to archive —
    * materialize first) and partitions with live delta batches (compact
    * first), keeping "the archive holds the whole pre-image" invariant.
    */
  def dropPartitions(
      spark: SparkSession, tablePath: String, partitions: Seq[String]): Seq[String] = {
    require(partitions.nonEmpty, "dropPartitions needs at least one partition")
    val st = CommitLog.requireState(spark, tablePath)
    val partF = st.latest.partitionFields
    if (partF.isEmpty)
      throw GraftException.config("dropPartitions requires a partitioned table")
    val modes = st.partitionModes
    val missing = partitions.filterNot(modes.contains)
    if (missing.nonEmpty)
      throw GraftException.config(s"Cannot drop unknown partition(s): ${missing.mkString(", ")}")
    val notNative = partitions.filter(p => modes(p) != "native")
    if (notNative.nonEmpty)
      throw GraftException.config(
        s"Cannot drop non-native partition(s) ${notNative.mkString(", ")}: " +
          "materialize METADATA_ONLY partitions / compact delta-only partitions first.")
    val live = Deltas.committedLive(spark, tablePath, st)
    if (live.nonEmpty) {
      val clash = partitions.toSet intersect Deltas.touchedPartitions(st, live).toSet
      if (clash.nonEmpty)
        throw GraftException.config(
          s"Cannot drop partition(s) with live delta batches (compact first): ${clash.toSeq.sorted.mkString(", ")}")
    }
    val fs = CommitLog.fs(spark, tablePath)
    val ct = CommitLog.newCommitTime()
    CommitLog.beginInflight(spark, tablePath, ct, "delete_partition", partitions.sorted,
      baseCommits = st.commits.map(_.commitTime))
    Archive.mark(fs, tablePath, ct)
    partitions.foreach { p =>
      val dir = new Path(s"$tablePath/${PathCodec.escape(p)}")
      if (fs.exists(dir)) Archive.stash(fs, tablePath, ct, PathCodec.escape(p), dir)
    }
    // recordCount 0: counting would defeat the O(metadata) contract
    publishRewrite(spark, tablePath, st, commitOf(st, ct, "delete_partition",
      partitions.sorted.map(p => PartitionEntry(p, "dropped", 0L)), st.latest.schemaDdl))
    cleanArchive(spark, tablePath)
    partitions.sorted
  }

  /** Physical reclamation of dropped columns (the deep-clean half of T39's
    * metadata-only DROP; Delta `REORG TABLE ... APPLY (PURGE)` analogue):
    * rewrite every native partition WITHOUT the hidden physical columns and
    * shed them from the ddl + mapping in the SAME commit — after it, no
    * live file carries the dropped bytes. Runs on the cluster machinery
    * (compact-first, archived pre-images, one rewrite commit), so
    * `readAsOf` before the DROP still serves the old view from the archive
    * until retention cleans it, `rollback` undoes the rewrite, and CDC
    * emits no change events (rows keep their commit times). OCC: only a
    * run that SHEDS the ddl serializes against every concurrent writer (a
    * racing disjoint append would land a file still null-filling the
    * column the ddl just shed); a NON-shedding campaign run conflicts by
    * partition overlap like any other rewrite, so bounded campaign batches
    * land under live disjoint writers — exactly when a 100 TB table needs
    * them. Refuses METADATA_ONLY partitions (their files
    * live in a source tree the table does not own — reads already mask the
    * column there; materialize first for a physical purge). No-op without
    * reclaimable columns.
    *
    * `partitions = None` rewrites the whole table in one commit — the floor
    * for physically shedding a column in one shot. At 100 TB that is a
    * scheduled CAMPAIGN instead: pass partition subsets run by run (each a
    * bounded rewrite commit; files written after the DROP never carry the
    * column, so the campaign converges), and the ddl + mapping shed
    * automatically on the run after which NO live file still carries a
    * hidden column — tested exactly via distributed parquet-footer schema
    * reads of the untouched partitions, zero data decode. Mixed file
    * schemas mid-campaign are safe: every read imposes the ddl schema, and
    * files already shed of the column null-fill it (it is dropped anyway).
    */
  def reclaim(
      spark: SparkSession,
      tablePath: String,
      partitions: Option[Seq[String]] = None): Seq[String] = {
    compact(spark, tablePath) // live delta batches carry the column too
    val st = CommitLog.requireState(spark, tablePath)
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val m = st.columnMapping
    val hidden = m.dropped.filter(schema.fieldNames.contains)
    if (hidden.isEmpty) return Seq.empty
    val metaOnly = st.metadataOnlyPartitions
    if (metaOnly.nonEmpty)
      throw GraftException.config(
        s"reclaim: METADATA_ONLY partition(s) ${metaOnly.sorted.take(3).mkString(", ")} read " +
          "from source files the table does not own — materialize them first.")
    val partF = st.latest.partitionFields
    val newSchema = StructType(schema.filterNot(f => hidden.contains(f.name)).toArray)
    val newMapping = ColumnMapping(m.aliases, m.dropped.filterNot(hidden.contains))
    partitions.foreach { ps =>
      require(ps.nonEmpty, "reclaim: empty partition list (pass None for the whole table)")
      if (partF.isEmpty)
        throw GraftException.config(
          "reclaim: partition subsets need a partitioned table (an unpartitioned " +
            "table reclaims in one run).")
      val unknown = ps.filterNot(st.nativePartitions.contains)
      if (unknown.nonEmpty)
        throw GraftException.config(
          s"reclaim: unknown or non-native partition(s): ${unknown.sorted.mkString(", ")}.")
    }
    val targets = partitions.getOrElse(if (partF.isEmpty) Seq("") else st.nativePartitions)
    if (targets.isEmpty) {
      // no data files anywhere: shedding the ddl is metadata-only
      alterSchemaCommit(spark, tablePath, st, newSchema.toDDL, newMapping)
      return Seq.empty
    }
    val rows = readPartitions(spark, tablePath, st, targets).drop(hidden: _*)
    val ct = CommitLog.newCommitTime()
    // its own tail, not rewriteCommit: the ddl and mapping it publishes are
    // decided between the swap and the publish
    CommitLog.beginInflight(spark, tablePath, ct, "reclaim", targets,
      baseCommits = st.commits.map(_.commitTime))
    val counts = stageAndSwap(spark, tablePath, rows, partF, targets, ct)
    // the rewritten partitions are clean by construction; the ddl sheds the
    // columns iff no live file OUTSIDE the rewritten set still carries one
    val fs = CommitLog.fs(spark, tablePath)
    val targetSet = targets.toSet
    val outside = st.nativePartitions.filterNot(targetSet).flatMap { p =>
      val dir = new Path(s"$tablePath/${PathCodec.escape(p)}")
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir)
        .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
          !f.getPath.getName.startsWith("_"))
        .map(_.getPath.toString).toSeq
    }
    val shed = !StatsIndex.footerCarriesAny(spark, outside, hidden.toSet)
    publishRewrite(spark, tablePath, st, commitOf(st, ct, "reclaim",
      targets.map(p => PartitionEntry(p, "native", counts.getOrElse(p, 0L))),
      if (shed) newSchema.toDDL else st.latest.schemaDdl)
      .copy(columnMapping = if (shed) Some(newMapping) else None))
    targets
  }

  private def clusterBy(
      spark: SparkSession,
      tablePath: String,
      maxRecordsPerFile: Long,
      partitions: Option[Seq[String]])(
      shape: (DataFrame, Seq[String]) => DataFrame): Seq[String] = {
    compact(spark, tablePath)
    val st = CommitLog.requireState(spark, tablePath)
    val partF = st.latest.partitionFields
    val ct = CommitLog.newCommitTime()
    val targets = partitions.getOrElse(if (partF.isEmpty) Seq("") else st.nativePartitions)
    if (targets.isEmpty) return Seq.empty

    val clustered = shape(readPartitions(spark, tablePath, st, targets), partF)
    rewriteCommit(spark, tablePath, st, ct, "cluster", clustered, targets, st.latest.schemaDdl,
      writeOptions = if (maxRecordsPerFile > 0) Map("maxRecordsPerFile" -> maxRecordsPerFile.toString)
        else Map.empty,
      preShaped = true)
    targets
  }

  /** H5 bulk_insert (straight append, no index lookup/dedup) and H7 insert
    * (within-batch key dedup, then append). Metadata-only partitions the
    * batch touches are materialized first so the source isn't double-read.
    */
  def append(
      spark: SparkSession,
      tablePath: String,
      batch: DataFrame,
      op: WriteOperation = WriteOperation.BulkInsert): Seq[String] = {
    val st = CommitLog.requireState(spark, tablePath)
    val keyF = st.latest.keyFields
    val partF = st.latest.partitionFields
    val phys = toPhysical(st.columnMapping, batch)
    val rows = op match {
      case WriteOperation.Insert => Upsert.dedupByKey(phys, keyF, st.latest.precombineField, partF)
      case _ => phys
    }
    val touched = touchedPartitions(partF, rows)

    // materialize commits its OWN instant, so this append's instant must be
    // issued AFTER it — the commit log refuses non-increasing instants.
    // Re-read the tip afterwards so materialize's own commit (this writer's)
    // is part of the append's base, not a false OCC conflict.
    materialize(spark, tablePath, st, touched.filter(st.partitionModes.get(_).contains("metadata_only")))
    val baseState = CommitLog.requireState(spark, tablePath)
    val base = baseState.latest.commitTime
    val ct = CommitLog.newCommitTime()
    CommitLog.beginInflight(spark, tablePath, ct, op.name, touched,
      baseCommits = baseState.commits.map(_.commitTime))
    val rowsMeta = MetaColumns.withMeta(rows, keyF, partF, ct)

    // stage first, then move files in under commit-stamped names
    // (`append-<ct>-N.parquet`): appended rows interleave into SHARED
    // partition dirs, so without an identifying name an aborted append
    // (OCC loss or crash before publish) would leak uncommitted rows into
    // every read with nothing able to find them again. The stamped names
    // make the abort paths exact: a conflict deletes its own files below,
    // and fsck sweeps `append-<ct>-*` for inflight markers with no commit.
    val fs = CommitLog.fs(spark, tablePath)
    val stagingDir = new Path(s"$tablePath/${CommitLog.LogDirName}/staging-append-$ct")
    val w = clusterByPartition(rowsMeta, partF).write.mode("overwrite").format("parquet")
    (if (partF.nonEmpty) w.partitionBy(partF: _*) else w).save(stagingDir.toString)
    val staged = touched.flatMap { p =>
      val dir = if (p.isEmpty) stagingDir else new Path(stagingDir, PathCodec.escape(p))
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .toSeq.map(p -> _.getPath)
    }
    val moved = staged.zipWithIndex.map { case ((p, src), i) =>
      val destDir = if (p.isEmpty) new Path(tablePath)
        else new Path(s"$tablePath/${PathCodec.escape(p)}")
      if (!fs.exists(destDir)) fs.mkdirs(destDir)
      val dest = new Path(destDir, s"append-$ct-$i.parquet")
      fs.rename(src, dest)
      dest
    }

    val counts =
      if (moved.isEmpty) Map.empty[String, Long]
      else partitionCounts(spark.read.parquet(moved.map(_.toString): _*), partF).toMap
    try CommitLog.write(spark, tablePath, CommitInfo(
      commitTime = ct, operation = op.name, tableName = st.latest.tableName,
      tableType = st.latest.tableType, keyFields = keyF,
      precombineField = st.latest.precombineField, partitionFields = partF,
      partitions = touched.map(p => PartitionEntry(p, "native", counts.getOrElse(p, 0L))),
      recordCount = counts.values.sum, schemaDdl = st.latest.schemaDdl, sourcePath = None),
      baseInstant = Some(base))
    catch {
      case e: CommitConflictException =>
        moved.foreach(fs.delete(_, false))
        fs.delete(stagingDir, true)
        throw e
    }
    fs.delete(stagingDir, true)
    touched
  }

  /** Copy METADATA_ONLY partitions into native storage (what Hudi does on
    * first update to a bootstrapped partition).
    */
  private def materialize(
      spark: SparkSession, tablePath: String, st: TableState, parts: Seq[String]): Unit = {
    if (parts.isEmpty) return
    val ct = CommitLog.newCommitTime()
    // its own tail, not rewriteCommit: a materialize records zero counts
    CommitLog.beginInflight(spark, tablePath, ct, "materialize", parts,
      baseCommits = st.commits.map(_.commitTime))
    val slice = readPartitions(spark, tablePath, st, parts) // already carries meta cols
    stageAndSwap(spark, tablePath, slice, st.latest.partitionFields, parts, ct)
    publishRewrite(spark, tablePath, st, commitOf(st, ct, "materialize",
      parts.map(p => PartitionEntry(p, "native", 0L)), st.latest.schemaDdl))
  }

  /** Read only the given partitions of the live table (native from their
    * dirs, metadata-only from the source) — the partition-pruning that keeps
    * upserts proportional to the touched data, not the table.
    */
  private def readPartitions(
      spark: SparkSession, tablePath: String, st: TableState, parts: Seq[String]): DataFrame = {
    val schema = StructType.fromDDL(st.latest.schemaDdl)
    val partF = st.latest.partitionFields
    val cols = schema.fieldNames.map(col).toSeq
    if (partF.isEmpty) {
      // unpartitioned: the whole table is the single (base) partition;
      // deltas are layered on by the caller, never here
      return readBase(spark, tablePath, st, exclude = Set.empty)
    }
    val fs = CommitLog.fs(spark, tablePath)
    val native = parts.filter(p => st.partitionModes.get(p).contains("native"))
      .filter(p => fs.exists(new Path(s"$tablePath/${PathCodec.escape(p)}")))
    val metaOnly = parts.filter(p => st.partitionModes.get(p).contains("metadata_only"))
    val dfs = Seq.newBuilder[DataFrame]
    if (native.nonEmpty)
      dfs += spark.read.schema(schema).option("basePath", tablePath)
        .parquet(native.map(p => s"$tablePath/${PathCodec.escape(p)}"): _*).select(cols: _*)
    if (metaOnly.nonEmpty) {
      val src = st.sourcePath.get
      val mct = st.commits.find(_.sourcePath.isDefined).map(_.commitTime).getOrElse(st.latest.commitTime)
      val dataSchema = StructType(schema.filterNot(f => MetaColumns.all.contains(f.name)))
      dfs += MetaColumns.withMeta(
        readSource(spark, src, dataSchema, partF, Some(metaOnly)),
        st.latest.keyFields, partF, mct).select(cols: _*)
    }
    dfs.result() match {
      case Nil => spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case xs => xs.reduce(_ unionByName _)
    }
  }

  /** Write `df` (which may READ from `tablePath`) into the touched partitions
    * of `tablePath`: stage under the commit-log dir (hidden from parquet
    * discovery), then swap each partition directory — O(#partitions) rename
    * metadata ops, no data copy.
    */
  private def stageAndSwap(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      partF: Seq[String],
      touched: Seq[String],
      ct: String,
      writeOptions: Map[String, String] = Map.empty,
      preShaped: Boolean = false): Map[String, Long] = {
    val fs = CommitLog.fs(spark, tablePath)
    val staging = s"$tablePath/${CommitLog.LogDirName}/staging-$ct"
    // cluster() pre-shapes its own output (range partitioning + sort);
    // everything else gets the one-file-per-partition shuffle
    val shaped = if (preShaped) df else clusterByPartition(df, partF)
    val w = shaped.write.mode("overwrite").format("parquet").options(writeOptions)
    (if (partF.nonEmpty) w.partitionBy(partF: _*) else w).save(staging)

    // pre-swap OCC guard: a writer doomed to lose at publish aborts HERE,
    // with only its staging to discard — after the swap, losing requires
    // the undo self-heal, which a second overlapping swapper can poison
    try CommitLog.assertSwapSafe(spark, tablePath, ct, touched)
    catch { case e: Throwable => fs.delete(new Path(staging), true); throw e }

    // the guard left the cross-process lease HELD (released by the
    // publish's finally); a failure anywhere between here and the publish
    // must release it too, or the table stays write-blocked — for every
    // process including this writer's own retries — until the TTL expires
    try stageAndSwapHeld(spark, fs, tablePath, staging, partF, touched, ct)
    catch { case e: Throwable =>
      CommitLog.releaseLease(spark, tablePath, ct); throw e
    }
  }

  private def stageAndSwapHeld(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String,
      staging: String,
      partF: Seq[String],
      touched: Seq[String],
      ct: String): Map[String, Long] = {
    // replaced data is ARCHIVED (renamed under .graft/archive/<ct>), not
    // deleted — the pre-images are what readAsOf and rollback-across-rewrites
    // restore from; cleanArchive bounds their number
    Archive.mark(fs, tablePath, ct)
    if (partF.isEmpty) {
      // swap the root data files
      fs.listStatus(new Path(tablePath)).filter(_.isFile)
        .filterNot(f => f.getPath.getName.startsWith(".") || f.getPath.getName.startsWith("_"))
        .foreach(f => Archive.stash(fs, tablePath, ct, f.getPath.getName, f.getPath))
      fs.listStatus(new Path(staging)).filter(_.isFile)
        .filterNot(f => f.getPath.getName.startsWith(".") || f.getPath.getName.startsWith("_"))
        .foreach(f => fs.rename(f.getPath, new Path(tablePath, f.getPath.getName)))
    } else {
      touched.foreach { p =>
        val dest = new Path(s"$tablePath/${PathCodec.escape(p)}")
        val src = new Path(s"$staging/${PathCodec.escape(p)}")
        if (fs.exists(dest)) Archive.stash(fs, tablePath, ct, PathCodec.escape(p), dest)
        if (fs.exists(src)) {
          if (!fs.exists(dest.getParent)) fs.mkdirs(dest.getParent)
          fs.rename(src, dest)
        }
      }
    }
    fs.delete(new Path(staging), true)
    cleanArchive(spark, tablePath)
    // per-partition counts for the commit log, from parquet FOOTERS of the
    // swapped-in partitions — O(#files) metadata reads; re-reading the
    // just-written data through a count job would decode every row a
    // second time
    if (partF.isEmpty) Map("" -> footerCounts(spark, fs,
      Seq("" -> new Path(tablePath))).values.sum)
    else {
      val existing = touched.filter(p => fs.exists(new Path(s"$tablePath/${PathCodec.escape(p)}")))
      if (existing.isEmpty) Map.empty
      else footerCounts(spark, fs,
        existing.map(p => p -> new Path(s"$tablePath/${PathCodec.escape(p)}")))
    }
  }

  // ------------------------------------------------------------- utilities

  /** Per-key row counts from the parquet FOOTERS of each directory's
    * visible files — metadata reads distributed over executors, zero data
    * decode. Keys with no files drop out (matching a grouped count).
    */
  private def footerCounts(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      dirs: Seq[(String, Path)]): Map[String, Long] = {
    val files = dirs.flatMap { case (key, dir) =>
      fs.listStatus(dir).filter(_.isFile)
        .filterNot(f => f.getPath.getName.startsWith(".") || f.getPath.getName.startsWith("_"))
        .map(f => (key, f.getPath.toString))
    }
    StatsIndex.footerRowCounts(spark, files)
  }

  /** Per-partition counts as ONE grouped aggregate (A3 fused with A1),
    * sorted by partition path, grouped on `df`'s partition-path meta column.
    */
  private def partitionCounts(df: DataFrame, partF: Seq[String]): Seq[(String, Long)] =
    if (partF.isEmpty) Seq("" -> df.count())
    else df.groupBy(col(MetaColumns.PartitionPath)).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)

  /** M5: existing partitions = directory listing (unescaped) ∪ commit-log
    * registrations (covers metadata-only partitions with no dirs).
    */
  def existingPartitions(
      spark: SparkSession, tablePath: String, partF: Seq[String]): Seq[String] = {
    val fromDirs = PartitionDiscovery.existingPartitions(spark, tablePath, partF.size)
      .map(PathCodec.unescape)
    // the log only vouches for metadata-only partitions (no dirs by design);
    // for native partitions the directory is truth — a deleted dir is missing
    val fromLog = CommitLog.state(spark, tablePath)
      .map(_.metadataOnlyPartitions).getOrElse(Seq.empty)
    (fromDirs ++ fromLog).distinct.sorted.filter(_.nonEmpty)
  }
}
