package graft.sources

import java.util.{Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, Metadata, MetadataBuilder, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.GraftException
import graft.table.KeyedTable

/** SQL maintenance surface: a [[ProcedureCatalog]] exposing every table
  * service as `CALL graft.system.<proc>(...)` — the Iceberg-style procedure
  * catalog, so operators of a deployment never need the Scala API for
  * compaction, retention, savepoints, repair, or layout maintenance. The
  * reference drives these flows through its HTTP backend (app.py:216-223
  * background jobs); SQL CALL is the engine-native equivalent. Register
  * with `spark.sql.catalog.graft=graft.sources.GraftCatalog` (preset by
  * [[graft.Sessions]]).
  *
  * Every procedure returns its outcome as rows of one `result` STRING
  * column (touched partitions, cleaned instants, report lines), so `CALL`
  * output is inspectable in plain SQL. Procedure args are table PATHS, not
  * catalog names — the same addressing every other engine surface uses.
  */
class GraftCatalog extends CatalogPlugin with ProcedureCatalog with TableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  override def defaultNamespace(): Array[String] = Array("system")

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.all.keys.toSeq.sorted
      .map(n => Identifier.of(Array("system"), n)).toArray

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val ok = ident.namespace.isEmpty || ident.namespace.sameElements(Array("system"))
    if (!ok)
      throw GraftException.config(s"Unknown procedure namespace: ${ident.namespace.mkString(".")}")
    GraftProcedures.all.getOrElse(ident.name.toLowerCase(java.util.Locale.ROOT),
      throw GraftException.config(s"Unknown procedure: ${ident.name}"))
  }

  // ---- path-addressed tables: SELECT/INSERT/DELETE/UPDATE/MERGE against
  // `graft.`/path/to/table`` with no CREATE TABLE registration — the
  // Delta-style path identifier, completing the SQL addressing story (every
  // other engine surface takes paths too). The identifier's single
  // backquoted name IS the path.

  private def isPathLike(s: String): Boolean =
    s.startsWith("/") || s.contains("://")

  private def pathOf(ident: Identifier): String = {
    val looksLikePath = ident.namespace.isEmpty && isPathLike(ident.name)
    if (!looksLikePath)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    ident.name
  }

  /** Iceberg-style metadata tables: `graft.`/path`.history` / `.files` /
    * `.savepoints` — the observability surface as real relations (typed
    * columns, filterable, joinable), not CALL string rows. The identifier
    * parses as namespace=[path], name=<meta table>.
    */
  private def metaTableOf(ident: Identifier): Option[Table] = {
    if (ident.namespace.length != 1 || !isPathLike(ident.namespace.head)) return None
    val spark = SparkSession.active
    val path = ident.namespace.head
    if (!graft.table.CommitLog.exists(spark, path)) return None
    val name = ident.name.toLowerCase(java.util.Locale.ROOT)
    val df = name match {
      case "history" => KeyedTable.timeline(spark, path)
      case "files" => KeyedTable.files(spark, path)
      case "savepoints" =>
        import spark.implicits._
        KeyedTable.savepoints(spark, path).toDF("instant")
      case "locks" =>
        // writer-lease observability: who holds the table, until when —
        // zero rows when no lease file exists (lock never taken / cleaned).
        // Same rows as the show_lock procedure (GraftCatalog.lockRows — ONE
        // code path, so the two surfaces cannot drift)
        import spark.implicits._
        GraftCatalog.lockRows(spark, path)
          .toDF("owner", "token", "acquired_at", "expires_at", "state")
      case "properties" =>
        // the table's key/value properties as a typed relation — the same
        // pairs show_properties renders (TableProperties.get, one source)
        import spark.implicits._
        graft.table.TableProperties.get(spark, path).toSeq.sorted
          .toDF("key", "value")
      case "maintenance" =>
        // last outcome of each best-effort maintenance hook (index.auto /
        // compact.auto / campaign.reclaim) — the SAME rows show_maintenance
        // serves (graft.table.MaintenanceLog.read — one code path)
        import spark.implicits._
        graft.table.MaintenanceLog.read(spark, path)
          .map(e => (e.service, e.at, e.trigger, e.outcome, e.detail))
          .toDF("service", "at", "trigger", "outcome", "detail")
      case "indexes" =>
        // index-sidecar observability: what is indexed, how fresh, how big —
        // the SAME rows the show_indexes procedure serves
        // (graft.table.IndexDescribe.rows — one code path, no drift)
        import spark.implicits._
        graft.table.IndexDescribe.rows(spark, path).toDF()
      case "detail" =>
        // DESCRIBE DETAIL analogue: the table's one-row identity card —
        // config, size, tip, and the live drop/rename mapping. Pure commit-
        // log metadata, no data scan.
        import spark.implicits._
        val st = graft.table.CommitLog.requireState(spark, path)
        val m = st.columnMapping
        Seq((st.latest.tableName, st.latest.tableType,
            st.latest.keyFields.mkString(","), st.latest.precombineField,
            st.latest.partitionFields.mkString(","),
            (st.nativePartitions.size + st.metadataOnlyPartitions.size +
              st.deltaOnlyPartitions.size).toLong,
            st.latest.recordCount, st.latest.commitTime, st.commits.size.toLong,
            m.aliases.toSeq.sorted.map { case (p, l) => s"$p->$l" }.mkString(","),
            m.dropped.sorted.mkString(",")))
          .toDF("table_name", "table_type", "key_fields", "precombine_field",
            "partition_fields", "n_partitions", "record_count", "latest_commit",
            "n_commits", "renamed_columns", "dropped_columns")
      case _ => return None
    }
    Some(new GraftMetaTable(s"graft:$path#$name", df))
  }

  override def loadTable(ident: Identifier): Table =
    metaTableOf(ident).getOrElse {
      val path = pathOf(ident)
      if (!graft.table.CommitLog.exists(SparkSession.active, path))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
      val params = Map("path" -> path)
      new GraftTable(GraftDataSource.readOptions(params), params, None)
    }

  /** SQL time travel, `SELECT ... FROM graft.`/path` VERSION AS OF i` —
    * `i` is an engine commit instant (the `yyyyMMddHHmmssSSS` strings the
    * timeline reports); any instant between two commits reads the earlier
    * one, [[KeyedTable.readAsOf]]'s inclusive contract.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident)
    if (!graft.table.CommitLog.exists(SparkSession.active, path))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    GraftCatalog.requireInstant(version)
    val params = Map("path" -> path, "asOf" -> version)
    new GraftTable(GraftDataSource.readOptions(params), params, None)
  }

  /** SQL time travel, `TIMESTAMP AS OF ts`: Spark hands the timestamp as
    * microseconds since epoch; the engine's instants are UTC
    * `yyyyMMddHHmmssSSS` strings, so formatting the wall-clock millisecond
    * in UTC yields a string whose lexicographic order matches time order —
    * readAsOf's `commitTime <= asOf` then picks the last commit at or
    * before the timestamp.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadTable(ident, GraftCatalog.microsToInstant(timestamp))

  /** Paths are not enumerable; the namespace listing is empty by design. */
  override def listTables(namespace: Array[String]): Array[Identifier] = Array.empty

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    throw GraftException.config(
      "graft path tables are created by writing data (df.write.format(\"graft\") / CTAS " +
        "over a LOCATION), not by CREATE TABLE against the path catalog.")

  /** Add-only schema evolution (T21's rule as DDL): top-level nullable
    * AddColumn changes land as one metadata-only `alter_schema` commit
    * ([[KeyedTable.addColumns]]); existing files null-fill at read time.
    * This is what `MERGE ... WITH SCHEMA EVOLUTION` calls — the analyzer's
    * ResolveMergeIntoSchemaEvolution computes the column adds from the
    * merge source's schema and applies them here before binding the
    * statement. DROP COLUMN / RENAME COLUMN apply as metadata-only
    * read-time masks/aliases (T39 — files untouched); type changes and
    * nested changes are refused loudly (they would rewrite data).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = pathOf(ident)
    val spark = SparkSession.active
    if (!graft.table.CommitLog.exists(spark, path))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    GraftCatalog.applySchemaChanges(spark, path, changes)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    throw GraftException.config(
      "DROP TABLE is not supported on graft path tables — delete the path, or use " +
        "drop_partitions/delete_where for data removal with history.")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw GraftException.config("RENAME TABLE is not supported on graft path tables.")
}

object GraftCatalog {
  /** Epoch-micros → the engine's UTC `yyyyMMddHHmmssSSS` instant encoding
    * (whose lexicographic order is time order). Shared by the path
    * catalog's TIMESTAMP AS OF overload and the session-catalog
    * time-travel rule ([[GraftTimeTravel]]).
    */
  private[sources] def microsToInstant(micros: Long): String =
    graft.table.CommitLog.instantOfMillis(Math.floorDiv(micros, 1000L))

  /** VERSION AS OF takes an engine instant, and instants compare
    * lexicographically — an arbitrary string that happens to sort above the
    * digits (`'abc'`, `'latest'`) would silently read the CURRENT tip
    * instead of erroring. Refuse anything that is not the fixed-width
    * instant encoding.
    */
  private[sources] def requireInstant(version: String): Unit =
    if (!graft.table.CommitLog.isInstant(version))
      throw GraftException.config(
        s"VERSION AS OF on a graft table takes a 17-digit commit instant " +
          s"(yyyyMMddHHmmssSSS, as reported by the timeline), got '$version'. " +
          "For wall-clock time travel use TIMESTAMP AS OF.")

  /** The ONE source of writer-lease observability rows, shared by the
    * `.locks` meta relation (typed columns) and the `show_lock` procedure
    * (string projection): (owner, token, acquired_at, expires_at, state).
    * Empty when no lease file exists.
    */
  private[sources] def lockRows(
      spark: SparkSession, path: String): Seq[(String, Long, String, String, String)] = {
    val now = System.currentTimeMillis()
    graft.table.TableLock.current(spark, path).toSeq.map(l => (l.owner, l.token,
      graft.table.CommitLog.instantOfMillis(l.acquiredAt),
      graft.table.CommitLog.instantOfMillis(l.expiresAt),
      if (l.expiresAt > now) "held" else "expired"))
  }

  /** The one ALTER TABLE dispatch for graft tables, shared by the path
    * catalog and the session-catalog extension: top-level nullable ADD
    * COLUMN (T21/T37), plus metadata-only DROP COLUMN / RENAME COLUMN
    * (T39 — read-time mask/alias, files untouched). Type changes, position
    * moves, and nested changes stay refused.
    */
  private[sources] def applySchemaChanges(
      spark: SparkSession, path: String, changes: Seq[TableChange]): Unit = {
    val adds = Seq.newBuilder[StructField]
    val drops = Seq.newBuilder[String]
    val renames = Seq.newBuilder[(String, String)]
    changes.foreach {
      case a: TableChange.AddColumn if a.fieldNames.length == 1 =>
        if (!a.isNullable)
          throw GraftException.config(
            s"ALTER TABLE ADD COLUMN ${a.fieldNames.head}: new columns must be nullable " +
              "(existing rows null-fill).")
        if (a.position != null)
          throw GraftException.config(
            s"ALTER TABLE ADD COLUMN ${a.fieldNames.head}: column positions are fixed " +
              "(new columns append after the existing data columns).")
        adds += StructField(a.fieldNames.head, a.dataType, nullable = true,
          metadata = Option(a.comment).map(c =>
            new MetadataBuilder().putString("comment", c).build())
            .getOrElse(Metadata.empty))
      case d: TableChange.DeleteColumn if d.fieldNames.length == 1 =>
        drops += d.fieldNames.head
      case r: TableChange.RenameColumn if r.fieldNames.length == 1 =>
        renames += (r.fieldNames.head -> r.newName())
      case other => throw GraftException.config(
        s"ALTER TABLE on a graft table supports top-level ADD / DROP / RENAME COLUMN " +
          s"only (type changes rewrite data, which the engine refuses); got: $other.")
    }
    val a = adds.result(); val d = drops.result(); val r = renames.result()
    // ONE alter_schema commit for the whole statement: every change is
    // validated against the evolving logical schema before anything is
    // stamped, so a refused rename can't leave earlier adds/drops committed
    if (a.nonEmpty || d.nonEmpty || r.nonEmpty)
      KeyedTable.alterSchema(spark, path, adds = a, drops = d, renames = r)
  }
}

/** Session-catalog override — the Delta pattern: registered as
  * `spark.sql.catalog.spark_catalog` (a [[DelegatingCatalogExtension]]), it
  * forwards every call to the built-in session catalog EXCEPT `alterTable`
  * on graft-provider tables. Those route their ADD COLUMN changes into the
  * ENGINE first ([[KeyedTable.addColumns]] at the table's location — one
  * metadata-only `alter_schema` commit) and then mirror into the metastore,
  * so the commit-log schema and the catalog schema can never diverge.
  *
  * This is the piece that makes `MERGE ... WITH SCHEMA EVOLUTION` and
  * `ALTER TABLE ... ADD COLUMNS` work on session-catalog graft tables
  * (`CREATE TABLE t USING graft LOCATION ...`): Spark's
  * ResolveMergeIntoSchemaEvolution calls `alterTable` on the resolving
  * catalog; without this routing the metastore would evolve while the
  * provider kept serving the commit-log schema, and the analyzer's
  * re-resolution would fail on the residual diff.
  */
class GraftSessionCatalog
    extends org.apache.spark.sql.connector.catalog.DelegatingCatalogExtension {

  import scala.jdk.CollectionConverters._

  /** The delegate's answer for a graft-provider table is a V1Table, which
    * would push the whole resolution onto the V1 fallback (the builtin
    * session catalog special-cases TableProvider sources; an OVERRIDDEN
    * spark_catalog's return is taken as authoritative). Re-wrap it as the
    * engine's own DSv2 [[GraftTable]] — exactly what DataSourceV2Utils
    * would have built — so session-catalog tables keep the V2 face
    * (pushdown, row-level DML, automatic schema evolution) under this
    * extension. A graft entry whose location holds no committed table yet
    * (a just-declared CTAS target mid-statement) keeps the CATALOG's
    * declared schema as the provided one, exactly like the provider's
    * getTable CTAS handshake; the first write then creates the table.
    * Tables of other providers pass through untouched.
    */
  override def loadTable(ident: Identifier): Table = {
    val t = super.loadTable(ident)
    graftParams(t) match {
      case Some(params) =>
        val provided = Option(t.schema()).filter(_.nonEmpty)
        org.apache.spark.sql.graftbridge.CatalogBridge.v1TableOf(t) match {
          // carry the metastore entry so the streaming paths
          // (writeStream.toTable / readStream.table) can take the V1
          // fallback onto the path-addressed sink/source
          case Some(ct) =>
            new GraftCatalogBackedTable(
              GraftDataSource.readOptions(params), params, provided, ct)
          case None =>
            new GraftTable(GraftDataSource.readOptions(params), params, provided)
        }
      case _ => t
    }
  }

  private def graftParams(t: Table): Option[Map[String, String]] = {
    val props = t.properties.asScala
    val isGraft = props.get(TableCatalog.PROP_PROVIDER).exists(_.equalsIgnoreCase("graft"))
    if (!isGraft) None
    else props.get(TableCatalog.PROP_LOCATION).map { loc =>
      val opts = props.collect {
        case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX) =>
          k.stripPrefix(TableCatalog.OPTION_PREFIX) -> v
      }.toMap
      opts + ("path" -> loc)
    }
  }

  /** ADD COLUMN on a graft table evolves the ENGINE first (one metadata-only
    * `alter_schema` commit at the table's location), then mirrors into the
    * metastore — if the mirror fails the table is still consistent, because
    * reads serve the provider's commit-log schema. This is the call Spark's
    * ResolveMergeIntoSchemaEvolution makes for
    * `MERGE ... WITH SCHEMA EVOLUTION`, and the path `ALTER TABLE ... ADD
    * COLUMNS` takes, as do `ALTER TABLE DROP/RENAME COLUMN` (T39 —
    * metadata-only read-time mask/alias in the engine, then mirrored to the
    * metastore so both serve the same logical view). Type changes remain
    * refused (they would rewrite data); metastore-only changes (table
    * properties, column comments) pass straight through to the delegate.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val existing =
      try Some(super.loadTable(ident))
      catch { case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException => None }
    existing.flatMap(graftParams).foreach { params =>
      val (schemaChanges, _) = changes.partition {
        case _: TableChange.AddColumn | _: TableChange.DeleteColumn |
             _: TableChange.RenameColumn | _: TableChange.UpdateColumnType |
             _: TableChange.UpdateColumnNullability |
             _: TableChange.UpdateColumnPosition => true
        case _ => false // properties / comments: metastore-only, delegate
      }
      if (schemaChanges.nonEmpty)
        GraftCatalog.applySchemaChanges(SparkSession.active, params("path"), schemaChanges)
    }
    super.alterTable(ident, changes: _*)
    loadTable(ident)
  }
}

private[sources] object GraftProcedures {

  private val outSchema = StructType.fromDDL("result STRING")

  /** One-in / strings-out procedure scaffold: binds positionally against the
    * declared parameters, converts UTF8Strings, and returns the body's lines
    * through a [[LocalScan]] (procedure outcomes are bounded metadata lists,
    * never data-sized).
    */
  private def proc(
      procName: String, params: Seq[(String, DataType)], doc: String)(
      body: (SparkSession, Seq[Any]) => Seq[String]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = doc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = doc
        override def parameters(): Array[ProcedureParameter] =
          params.map { case (n, t) => ProcedureParameter.in(n, t).build() }.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): JIterator[Scan] = {
          val args = params.zipWithIndex.map { case ((n, t), i) =>
            // no procedure here takes an optional argument, and a silently
            // unboxed NULL (null.asInstanceOf[Int] == 0) would turn e.g.
            // clean_archive(t, NULL) into retain-nothing — refuse loudly
            if (input.isNullAt(i))
              throw GraftException.config(s"$procName argument '$n' must not be NULL.")
            input.get(i, t) match {
              case s: UTF8String => s.toString
              case v => v
            }
          }
          val outRows: Array[InternalRow] = body(SparkSession.active, args)
            .map(s => InternalRow(UTF8String.fromString(s)): InternalRow).toArray
          java.util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = outRows
            override def readSchema(): StructType = outSchema
          }).iterator()
        }
      }
    }

  private def csv(s: Any): Seq[String] =
    s.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Split `col = expr; col2 = expr2` on semicolons OUTSIDE single-quoted
    * SQL string literals (an expr like `note = 'a;b'` must stay whole), then
    * on the first '=' of each piece.
    */
  private[sources] def parseAssignments(s: String): Map[String, String] = {
    val pieces = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    s.foreach { ch =>
      if (ch == '\'') { inQuote = !inQuote; cur += ch }
      else if (ch == ';' && !inQuote) { pieces += cur.toString; cur.clear() }
      else cur += ch
    }
    pieces += cur.toString
    pieces.result().map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i <= 0) throw GraftException.config(
        s"assignment must be 'key = value', got '$kv'.")
      kv.take(i).trim -> kv.drop(i + 1).trim
    }.toMap
  }

  val all: Map[String, UnboundProcedure] = Seq(
    proc("compact", Seq("table" -> StringType),
      "Fold MOR delta batches into base files") { (s, a) =>
      KeyedTable.compact(s, a(0).toString)
    },
    proc("reclaim", Seq("table" -> StringType),
      "Physically rewrite dropped columns out of every file and shed them " +
        "from the schema (REORG ... APPLY (PURGE) analogue)") { (s, a) =>
      val parts = KeyedTable.reclaim(s, a(0).toString)
      if (parts.isEmpty) Seq("nothing to reclaim")
      else Seq(s"reclaimed ${parts.size} partition(s)")
    },
    proc("reclaim_partitions", Seq("table" -> StringType, "partitions" -> StringType),
      "Bounded reclaim run over a comma-separated partition subset — the " +
        "100 TB campaign shape; the schema sheds automatically on the run " +
        "after which no live file still carries a dropped column") { (s, a) =>
      val ps = a(1).toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val parts = KeyedTable.reclaim(s, a(0).toString, Some(ps))
      if (parts.isEmpty) Seq("nothing to reclaim")
      else Seq(s"reclaimed ${parts.size} partition(s)")
    },
    proc("compact_if_needed", Seq("table" -> StringType),
      "Inline compaction policy: compact when delta count/bytes exceed thresholds") { (s, a) =>
      KeyedTable.compactIfNeeded(s, a(0).toString).getOrElse(Seq("not needed"))
    },
    proc("clean_archive", Seq("table" -> StringType, "retain_last" -> IntegerType),
      "Drop archived pre-images beyond the retention window (savepoints stay pinned)") { (s, a) =>
      KeyedTable.cleanArchive(s, a(0).toString, a(1).asInstanceOf[Int])
    },
    proc("rollback", Seq("table" -> StringType, "instant" -> StringType),
      "Undo every commit after the instant (within archive retention)") { (s, a) =>
      KeyedTable.rollback(s, a(0).toString, a(1).toString)
    },
    proc("savepoint", Seq("table" -> StringType, "instant" -> StringType),
      "Pin a commit against archive cleaning") { (s, a) =>
      Seq(KeyedTable.savepoint(s, a(0).toString, a(1).toString))
    },
    proc("delete_savepoint", Seq("table" -> StringType, "instant" -> StringType),
      "Unpin a savepoint") { (s, a) =>
      KeyedTable.deleteSavepoint(s, a(0).toString, a(1).toString)
      Seq(a(1).toString)
    },
    proc("restore", Seq("table" -> StringType, "instant" -> StringType),
      "Swap the table back to a savepointed instant") { (s, a) =>
      KeyedTable.restore(s, a(0).toString, a(1).toString)
    },
    proc("fsck", Seq("table" -> StringType),
      "Repair crashed-writer leftovers; reports what was swept") { (s, a) =>
      val r = KeyedTable.fsck(s, a(0).toString)
      if (r.clean) Seq("clean")
      else r.orphanStaging.map(p => s"orphan_staging: $p") ++
        r.orphanDeltas.map(p => s"orphan_delta: $p") ++
        r.abortedRewrites.map(p => s"aborted_rewrite: $p") ++
        r.staleInflights.map(p => s"stale_inflight: $p")
    },
    proc("size_files", Seq("table" -> StringType, "target_bytes" -> LongType),
      "Rewrite small-file partitions toward the target file size") { (s, a) =>
      KeyedTable.sizeFiles(s, a(0).toString, a(1).asInstanceOf[Long])
    },
    proc("drop_partitions", Seq("table" -> StringType, "partitions" -> StringType),
      "Archive-drop whole partitions (comma-separated paths) — O(metadata) TTL") { (s, a) =>
      KeyedTable.dropPartitions(s, a(0).toString, csv(a(1)))
    },
    proc("cluster_sort", Seq("table" -> StringType, "columns" -> StringType),
      "Linear-sort clustering on the given columns") { (s, a) =>
      KeyedTable.clusterSort(s, a(0).toString, csv(a(1)))
    },
    proc("cluster_zorder", Seq("table" -> StringType, "columns" -> StringType),
      "Z-order clustering on the given columns") { (s, a) =>
      KeyedTable.clusterZ(s, a(0).toString, csv(a(1)))
    },
    proc("index_stats", Seq("table" -> StringType, "columns" -> StringType),
      "Build the file-level min/max stats index for the given columns") { (s, a) =>
      Seq(graft.table.StatsIndex.build(s, a(0).toString, csv(a(1))))
    },
    proc("index_bloom", Seq("table" -> StringType),
      "Build the per-file record-key bloom index") { (s, a) =>
      Seq(graft.table.BloomIndex.build(s, a(0).toString))
    },
    proc("sync_table", Seq("src" -> StringType, "dst" -> StringType, "since" -> StringType),
      "Incrementally replicate the source's change feed into the destination") { (s, a) =>
      Seq(graft.table.TableSync.sync(s, a(0).toString, a(1).toString, a(2).toString))
    },
    proc("sync_agg", Seq("table" -> StringType, "dest" -> StringType,
      "group_cols" -> StringType, "sum_cols" -> StringType),
      "Bring an incrementally-maintained aggregate rollup up to the table tip") { (s, a) =>
      val r = graft.table.IncrementalAgg.sync(s, a(0).toString, a(1).toString, csv(a(2)), csv(a(3)))
      s"watermark: ${r.watermark}" +: r.touched
    },
    proc("delete_where", Seq("table" -> StringType, "predicate" -> StringType),
      "Delete every row matching the SQL predicate (DELETE FROM ... WHERE)") { (s, a) =>
      KeyedTable.deleteWhere(s, a(0).toString, a(1).toString)
    },
    proc("update_where", Seq("table" -> StringType, "predicate" -> StringType,
      "assignments" -> StringType),
      "Apply 'col = expr; col2 = expr2' to rows matching the SQL predicate " +
        "(UPDATE ... SET ... WHERE); all expressions see the pre-update row") { (s, a) =>
      KeyedTable.updateWhere(s, a(0).toString, a(1).toString,
        parseAssignments(a(2).toString))
    },
    proc("timeline", Seq("table" -> StringType),
      "The commit timeline (instant, operation, record count) as rows") { (s, a) =>
      graft.table.CommitLog.commits(s, a(0).toString)
        .map(c => s"${c.commitTime} ${c.operation} records=${c.recordCount} partitions=${c.partitions.size}")
    },
    proc("files", Seq("table" -> StringType),
      "fsview: one row per live base file (partition, name, bytes)") { (s, a) =>
      KeyedTable.files(s, a(0).toString).collect().toSeq
        .map(r => s"${r.getString(0)} ${r.getString(1)} bytes=${r.getLong(2)}")
    },
    proc("savepoints", Seq("table" -> StringType),
      "Savepointed instants, ascending") { (s, a) =>
      KeyedTable.savepoints(s, a(0).toString)
    },
    proc("rename_column", Seq("table" -> StringType,
        "from" -> StringType, "to" -> StringType),
      "Metadata-only column rename (T39): read-time alias, files untouched") { (s, a) =>
      KeyedTable.renameColumn(s, a(0).toString, a(1).toString, a(2).toString)
      Seq(s"renamed ${a(1)} -> ${a(2)}")
    },
    proc("drop_column", Seq("table" -> StringType, "column" -> StringType),
      "Metadata-only column drop (T39): hidden at read time, files untouched") { (s, a) =>
      KeyedTable.dropColumns(s, a(0).toString, Seq(a(1).toString))
      Seq(s"dropped ${a(1)}")
    },
    proc("set_property", Seq("table" -> StringType,
        "key" -> StringType, "value" -> StringType),
      "Set a table property (e.g. 'index.auto'='true' to refresh stats/bloom " +
        "index sidecars incrementally with every commit)") { (s, a) =>
      graft.table.TableProperties.set(s, a(0).toString,
        Map(a(1).toString -> a(2).toString))
      Seq(s"${a(1)} = ${a(2)}")
    },
    proc("unset_property", Seq("table" -> StringType, "key" -> StringType),
      "Remove a table property") { (s, a) =>
      graft.table.TableProperties.unset(s, a(0).toString, Seq(a(1).toString))
      Seq(s"unset ${a(1)}")
    },
    proc("show_properties", Seq("table" -> StringType),
      "The table's properties, 'key = value' per row") { (s, a) =>
      val props = graft.table.TableProperties.get(s, a(0).toString)
      if (props.isEmpty) Seq("no properties set")
      else props.toSeq.sortBy(_._1).map { case (k, v) => s"$k = $v" }
    },
    proc("show_indexes", Seq("table" -> StringType),
      "Every live index sidecar: kind, column, build instant, covered vs " +
        "live files (freshness), fpp, bytes, auto-maintained") { (s, a) =>
      // a string projection of the SAME rows the `.indexes` meta relation
      // serves (graft.table.IndexDescribe.rows) — one code path, no drift
      val rows = graft.table.IndexDescribe.rows(s, a(0).toString)
      if (rows.isEmpty) Seq("no indexes")
      else rows.map(r =>
        s"${r.kind} column=${Option(r.column).getOrElse("<dropped>")} " +
          s"physical=${r.physical_column} instant=${r.instant} " +
          s"covered_files=${r.covered_files}/${r.live_files} " +
          s"fpp=${r.fpp.map(_.toString).getOrElse("-")} bytes=${r.bytes} " +
          s"auto=${r.auto}")
    },
    proc("show_maintenance", Seq("table" -> StringType),
      "Last outcome of each best-effort maintenance hook (index.auto, " +
        "compact.auto, campaign.reclaim): when, after what publish, ok/skipped, detail") { (s, a) =>
      // a string projection of the SAME rows the `.maintenance` meta
      // relation serves (graft.table.MaintenanceLog.read) — one code path
      val rows = graft.table.MaintenanceLog.read(s, a(0).toString)
      if (rows.isEmpty) Seq("no maintenance has run")
      else rows.map(e =>
        s"${e.service} at=${e.at} trigger=${e.trigger} outcome=${e.outcome} " +
          s"detail=${e.detail}")
    },
    proc("index_register", Seq("corpus" -> StringType, "name" -> StringType,
        "spec" -> StringType, "basis" -> StringType),
      "Register a standing dedup/ann/pq/text index on its corpus table: " +
        "every later data publish propagates the corpus's deletes/upserts " +
        "to it through one checkpointed CDC pull (T47). spec is assignments " +
        "like 'kind = dedup; path = /idx; id = doc_id; text = text' (pq " +
        "geometry derives from the stored codebooks); basis is the corpus " +
        "instant the index was built from ('' = corpus tip)") { (s, a) =>
      val p = parseAssignments(a(2).toString)
      def need(k: String) = p.getOrElse(k, throw GraftException.config(
        s"index_register spec needs '$k = ...' (got: ${a(2)})"))
      def num(k: String, d: Int) = p.get(k).map(_.trim.toInt).getOrElse(d)
      val spec = need("kind") match {
        case "dedup" => graft.operators.SyncRegistry.DedupSpec(
          need("path"), need("id"), need("text"),
          num("shingle_n", 3), num("num_hashes", 16))
        case "ann" => graft.operators.SyncRegistry.AnnSpec(
          need("path"), p.getOrElse("id", "vec_id"), p.getOrElse("vec", "embedding"))
        case "pq" => graft.operators.SyncRegistry.PqSpec(
          need("path"), p.getOrElse("id", "vec_id"), p.getOrElse("vec", "embedding"))
        case "text" => graft.operators.SyncRegistry.TextSpec(
          need("path"), need("id"), need("text"))
        case k => throw GraftException.config(
          s"unknown index kind '$k' (dedup | ann | pq | text)")
      }
      val basis = Option(a(3).toString.trim).filter(_.nonEmpty)
      graft.operators.SyncRegistry.register(s, a(0).toString, a(1).toString, spec, basis)
      Seq(s"registered ${a(1)}: ${spec.describe}")
    },
    proc("index_unregister", Seq("table" -> StringType, "name" -> StringType),
      "Drop a registered index from the sync registry (the index table " +
        "itself is untouched)") { (s, a) =>
      graft.operators.SyncRegistry.unregister(s, a(0).toString, a(1).toString)
      Seq(s"unregistered ${a(1)}")
    },
    proc("show_sync", Seq("table" -> StringType),
      "The table's derived-index sync registry: shared watermark (with " +
        "commits-behind-tip lag) + one row per registered index") { (s, a) =>
      val regs = graft.operators.SyncRegistry.registered(s, a(0).toString)
      if (regs.isEmpty) Seq("no indexes registered")
      else {
        val wm = graft.streaming.ChangeStream.readWatermark(
          graft.table.CommitLog.fs(s, a(0).toString),
          graft.operators.SyncRegistry.checkpointDir(a(0).toString))
        // lag in DATA commits, not instants: the operator question is "how
        // many publishes have not reached the indexes" (> 0 means a hook
        // apply failed and is retrying — see the index.sync journal row).
        // Maintenance commits past the watermark (compaction, clustering,
        // index sidecars) are skipped by the hook BY DESIGN and must not
        // read as failed applies
        val commits = graft.table.CommitLog.commits(s, a(0).toString)
        val lag = wm.map(w => commits.count(c =>
          c.commitTime > w && !graft.table.CommitLog.RowNeutralOps(c.operation)))
        val head = s"watermark: ${wm.getOrElse("<none>")}" +
          lag.map(l => s" (lag: $l commit(s) behind tip)").getOrElse("")
        head +: regs.map { case (n, sp) => s"$n: ${sp.describe}" }
      }
    },
    proc("index_sync", Seq("table" -> StringType),
      "Pull the corpus's next CDC interval once and apply it to every " +
        "registered index (the publish hook's explicit spelling — e.g. to " +
        "drain a lagging registry without writing data)") { (s, a) =>
      graft.operators.SyncRegistry.syncNow(s, a(0).toString) match {
        case Some((p, names)) =>
          Seq(s"synced (${p.sinceExclusive},${p.upToInclusive}] to [${names.mkString(",")}]")
        case None => Seq("nothing to sync")
      }
    },
    proc("index_remove", Seq("kind" -> StringType, "index" -> StringType,
        "ids" -> StringType),
      "Takedown on a standing index: tombstone the comma-separated ids' " +
        "entries (dedup: signature+shingles; ann: vector rows; pq: code and " +
        "vector rows) — one keyed delta, history stays asOf-able") { (s, a) =>
      val path = a(1).toString
      val ids = csv(a(2))
      if (ids.isEmpty) throw GraftException.config(
        "index_remove needs a non-empty comma-separated id list.")
      def longs = ids.map(x => try x.toLong catch {
        case _: NumberFormatException => throw GraftException.config(
          s"index_remove ids for ann/pq indexes must be integers, got '$x'.")
      })
      import org.apache.spark.sql.{functions => F}
      a(0).toString match {
        case "dedup" =>
          val st = graft.table.CommitLog.requireState(s, path)
          val idCol = st.latest.keyFields.head
          val dt = StructType.fromDDL(st.latest.schemaDdl)(idCol).dataType
          graft.operators.DedupIndex.remove(s, path,
            s.createDataset(ids)(org.apache.spark.sql.Encoders.STRING)
              .toDF(idCol).select(F.col(idCol).cast(dt)), idCol)
        case "ann" => graft.operators.AnnIndex.remove(s, path,
          s.createDataset(longs)(org.apache.spark.sql.Encoders.scalaLong).toDF("id"), "id")
        case "pq" => graft.operators.PqIndex.remove(s, path,
          s.createDataset(longs)(org.apache.spark.sql.Encoders.scalaLong).toDF("id"), "id")
        case "text" =>
          // the text index is keyed (kind, term, id): type the ids by the
          // stored id column, then let remove enumerate the posting keys
          val dt = StructType.fromDDL(
            graft.table.CommitLog.requireState(s, path).latest.schemaDdl)("id").dataType
          graft.operators.TextIndex.remove(s, path,
            s.createDataset(ids)(org.apache.spark.sql.Encoders.STRING)
              .toDF("id").select(F.col("id").cast(dt)), "id")
        case k => throw GraftException.config(
          s"unknown index kind '$k' (dedup | ann | pq | text)")
      }
      Seq(s"removed ${ids.size} id(s)")
    },
    proc("index_retrain", Seq("kind" -> StringType, "index" -> StringType,
        "params" -> StringType),
      "Re-fit a standing index's trained state in place as ONE commit (T45): " +
        "ann params 'nlist = ...; iters = ...' (0 keeps the list count), pq " +
        "adds 'dim = ...' (required), 'm', 'codebook_size'. A dedup index " +
        "has no retrain — its parameters ARE its model; use index_rebuild") { (s, a) =>
      val p = if (a(2).toString.trim.isEmpty) Map.empty[String, String]
        else parseAssignments(a(2).toString)
      def num(k: String, d: Int) = p.get(k).map(_.trim.toInt).getOrElse(d)
      val path = a(1).toString
      a(0).toString match {
        case "ann" =>
          graft.operators.AnnIndex.retrain(s, path,
            nlist = num("nlist", 0), iters = num("iters", 2))
          Seq("retrained ann index")
        case "pq" =>
          val dim = p.get("dim").map(_.trim.toInt).getOrElse(
            throw GraftException.config("pq index_retrain params need 'dim = <int>'."))
          graft.operators.PqIndex.retrain(s, path, dim, num("m", 8),
            num("codebook_size", 16), num("iters", 2), num("nlist", 0))
          Seq("retrained pq index")
        case "dedup" => throw GraftException.config(
          "a dedup index has no retrain — its parameters ARE its model and " +
            "it stores no raw text; CALL graft.system.index_rebuild instead.")
        case k => throw GraftException.config(
          s"unknown index kind '$k' (dedup | ann | pq)")
      }
    },
    proc("index_rebuild", Seq("index" -> StringType, "corpus" -> StringType,
        "params" -> StringType),
      "Re-parameterize a standing dedup index in place as ONE commit from " +
        "its corpus table: params 'text = <corpus text col>' (required), " +
        "'id', 'shingle_n', 'num_hashes' (defaults: index key / stored " +
        "stamps). Flip probe-side parameters with the commit") { (s, a) =>
      val path = a(0).toString
      val p = if (a(2).toString.trim.isEmpty) Map.empty[String, String]
        else parseAssignments(a(2).toString)
      val props = graft.table.TableProperties.get(s, path)
      val idCol = p.getOrElse("id",
        graft.table.CommitLog.requireState(s, path).latest.keyFields.head)
      val textCol = p.getOrElse("text", throw GraftException.config(
        "index_rebuild params need 'text = <corpus text column>'."))
      val shingleN = p.get("shingle_n")
        .orElse(props.get(graft.operators.DedupIndex.ShingleNProp))
        .map(_.trim.toInt).getOrElse(3)
      val numHashes = p.get("num_hashes")
        .orElse(props.get(graft.operators.DedupIndex.NumHashesProp))
        .map(_.trim.toInt).getOrElse(16)
      graft.operators.DedupIndex.rebuild(s, path,
        KeyedTable.read(s, a(1).toString), idCol, textCol, shingleN, numHashes)
      // the corpus is in hand here (unlike the library-level rebuild), so
      // refresh any registry spec pointing at this index — otherwise the
      // next publish's sync would append OLD-parameter entries into the
      // just-rebuilt index
      val refreshed = graft.operators.SyncRegistry.registered(s, a(1).toString)
        .collect {
          case (n, d: graft.operators.SyncRegistry.DedupSpec)
              if new org.apache.hadoop.fs.Path(d.indexPath).toString ==
                new org.apache.hadoop.fs.Path(path).toString =>
            graft.operators.SyncRegistry.register(s, a(1).toString, n,
              d.copy(shingleN = shingleN, numHashes = numHashes))
            n
        }
      Seq(s"rebuilt under shingle_n=$shingleN num_hashes=$numHashes") ++
        (if (refreshed.nonEmpty)
          Seq(s"registry spec(s) refreshed: ${refreshed.mkString(",")}")
        else Seq.empty)
    },
    proc("index_sync_chain", Seq("table" -> StringType),
      "Drain a REGISTRY CHAIN (depth > 1): breadth-first over the table's " +
        "registered indexes, syncing each level's registry once — the " +
        "publish hook deliberately stops at depth 1; schedule this walk " +
        "when indexes stack on indexes. One row per walked table") { (s, a) =>
      graft.operators.SyncRegistry.syncChain(s, a(0).toString).map {
        case (p, Some((pull, names))) =>
          s"$p: synced (${pull.sinceExclusive},${pull.upToInclusive}] -> [${names.mkString(",")}]"
        case (p, None) => s"$p: nothing to sync"
      }
    },
    proc("index_optimize", Seq("index" -> StringType, "params" -> StringType),
      "Cluster a standing text index's posting partition by (term, id) — " +
        "a content-neutral layout rewrite that makes probe-side query-term " +
        "filters row-group-prunable. Params: 'max_records_per_file = <n>' " +
        "(optional). Run after bulk builds and periodically under streamed " +
        "appends (compaction folds deltas but does not re-sort)") { (s, a) =>
      val p = if (a(1).toString.trim.isEmpty) Map.empty[String, String]
        else parseAssignments(a(1).toString)
      val maxRec = p.get("max_records_per_file").map(_.trim.toLong).getOrElse(0L)
      graft.operators.TextIndex.optimize(s, a(0).toString, maxRec)
      Seq("optimized: posting partition clustered by (term, id)")
    },
    proc("index_group_counts", Seq("index" -> StringType),
      "Per-group doc AND token counts of a GROUPED standing text index, " +
        "served from its stats rows alone (O(groups) probe, zero corpus " +
        "reads) — the per-source quota / token-budget primitive. One " +
        "'<group> = <n_docs> docs, <n_tokens> tokens' row per live group, " +
        "group-sorted") { (s, a) =>
      val gc = graft.operators.TextIndex.groupCounts(s, a(0).toString)
      gc.orderBy(gc.columns.head).collect()
        .map(r => s"${r.getString(0)} = ${r.getLong(1)} docs, ${r.getLong(2)} tokens")
        .toSeq
    },
    proc("show_lock", Seq("table" -> StringType),
      "The table's current writer lease (owner = the writer's commit instant), " +
        "or 'no lock held'") { (s, a) =>
      // a string projection of the SAME rows the `.locks` meta relation
      // serves (GraftCatalog.lockRows) — one code path, no drift
      GraftCatalog.lockRows(s, a(0).toString) match {
        case Seq((owner, token, acquiredAt, expiresAt, state)) =>
          Seq(s"owner: $owner", s"token: $token", s"acquired_at: $acquiredAt",
            s"expires_at: $expiresAt", s"state: $state")
        case _ => Seq("no lock held")
      }
    },
  ).map(p => p.name() -> p).toMap
}
