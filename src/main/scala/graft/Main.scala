package graft

import graft.model._

/** CLI mirroring the reference job's argv surface (pyspark_script.py:294-315,
  * assembled by app.py:144-158). Prints the same observable log contract:
  * the two count lines on success, one taxonomy-prefixed error line on
  * failure; exit code 1 on failure (app.py:177-182 keys off exit code).
  *
  * Usage:
  *   graft.Main --data-file-path=... --output-path=... --table-name=...
  *     --key-field=k1,k2 --precombine-field=f [--partition-field=p1,p2]
  *     [--table-type=COPY_ON_WRITE] [--bootstrap-type=FULL_RECORD]
  *     [--partition-regex=RE] [--regex-mode=METADATA_ONLY] [--resume=true]
  *     [--dry-run=true] [--conf k=v]...
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = scala.collection.mutable.Map[String, String]()
    val confs = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--conf" if i + 1 < args.length =>
          args(i + 1).split("=", 2) match {
            case Array(k, v) => confs(k) = v
            case _ =>
          }
          i += 2
        case a if a.startsWith("--") && a.contains("=") =>
          val Array(k, v) = a.drop(2).split("=", 2)
          opts(k) = v
          i += 1
        case _ => i += 1
      }
    }
    def req(k: String): String = opts.getOrElse(k,
      { System.err.println(s"Configuration Error: missing --$k"); sys.exit(1) })
    def csv(s: String): Seq[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSeq // pyspark_script.py:127

    val cfg = BootstrapConfig(
      dataFilePath = req("data-file-path"),
      tablePath = req("output-path"),
      tableName = req("table-name"),
      keyFields = csv(req("key-field")),
      precombineField = req("precombine-field"),
      partitionFields = opts.get("partition-field").map(csv).getOrElse(Seq.empty),
      tableType = opts.get("table-type").map(TableType.parse).getOrElse(TableType.CopyOnWrite),
      bootstrapType = opts.get("bootstrap-type").map(BootstrapType.parse)
        .getOrElse(BootstrapType.FullRecord),
      partitionRegex = opts.get("partition-regex"),
      regexMode = opts.get("regex-mode").map(BootstrapType.parse)
        .getOrElse(BootstrapType.MetadataOnly),
      resume = opts.get("resume").exists(_.equalsIgnoreCase("true")),
      dryRun = opts.get("dry-run").exists(_.equalsIgnoreCase("true")), // backend.py:24-28
      sparkConfig = confs.toMap)

    // H9: arbitrary user confs pass through to the session
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = Sessions.builder(s"local[$cpus]", cpus)
    cfg.sparkConfig.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val result = Engine.bootstrap(spark, cfg)
    result.logLines.foreach(println)
    spark.stop()
    if (!result.success) sys.exit(1)
  }
}
