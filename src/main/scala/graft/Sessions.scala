package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession configuration for Verify/Bench/tests. Kept in one
  * place so the oracle (UTC, nanos handling) and the scale posture (AQE,
  * shuffle partitions sized to local cores — not the 200 default) are
  * identical everywhere.
  */
object Sessions {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // the engine's SQL surface (graft_* functions) — same Catalyst trees
      // as the Column API, injected into the FunctionRegistry
      .withExtensions(new graft.functions.GraftExtensions)
      // SQL maintenance surface: CALL graft.system.compact(...) etc.
      .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
      // session-catalog extension (the Delta pattern): ALTER TABLE ADD
      // COLUMNS / MERGE WITH SCHEMA EVOLUTION on `USING graft` tables route
      // their column adds through the engine's alter_schema commit, keeping
      // metastore and commit-log schemas in lockstep
      .config("spark.sql.catalog.spark_catalog",
        classOf[graft.sources.GraftSessionCatalog].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      // File-listing placement (guide §2.1/§6): above this many paths Spark
      // runs a distributed listing JOB whose results ship as serialized
      // FileStatus rows — and Hadoop's local FS, lacking native IO, answers
      // each status's permission field by FORKING `ls -ld` per file (the
      // measured r14 driver-gap hotspot: Shell.runCommand owned ~30% of the
      // q42b wall). Driver-side listing of a few hundred local dirs is
      // microseconds and forks nothing. Deployments whose FS is remote
      // (HDFS/S3), where distributed listing is the right trade again,
      // restore the Spark default of 32 with `Main --conf
      // spark.sql.sources.parallelPartitionDiscovery.threshold=32` (applied
      // after this builder) or `.config` on the returned builder.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      // Literal IN lists push into parquet as per-value predicates up to
      // this many values; past it Spark degrades the pushed filter to a
      // min/max RANGE (SPARK-32792), which prunes nothing for scattered
      // candidate-id lookups (the standing-index probe shape). Row-group
      // stats/dictionary evaluation of a ~1k-value IN is metadata-only —
      // microseconds per row group against the full decode it saves.
      // Overridden like the listing threshold above (`Main --conf` or
      // `.config` on the builder).
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); Spark only reads it as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // INT64 micros, not the deprecated INT96: footers then carry usable
      // min/max for timestamp columns (StatsIndex) and every modern reader
      // agrees on the encoding
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
