package graft.jobs

import org.apache.spark.sql.SparkSession

/** `spark-submit` entry point (SURVEY §3.1): `-p/--path <file>` or
  * `-c/--config <yaml-string>` (mutually exclusive) and `-h/--help`,
  * matching the reference CLI (`cli_parser/CliParser.java:19-63`). The
  * loaded config's `jobRunMode` selects ONCE (sync, print the report, exit)
  * or CONTINUOUS (schedule discovery + upload polls until interrupted).
  */
object SyncCli {

  final case class CliArgs(
      configFilePath: Option[String] = None,
      configYaml: Option[String] = None,
      helpRequested: Boolean = false)

  val usage: String =
    """usage: graft.jobs.SyncCli [-p|--path <file>] [-c|--config <yaml>] [-h|--help]
      | -p,--path <file>    The file path to the configuration file
      | -c,--config <yaml>  The YAML configuration string
      | -h,--help           Display help information""".stripMargin

  /** Pure argument parse — Left(error) on misuse. */
  def parseArgs(args: Array[String]): Either[String, CliArgs] = {
    var out = CliArgs()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-h" | "--help" => out = out.copy(helpRequested = true)
        case "-p" | "--path" =>
          if (i + 1 >= args.length) return Left("Missing argument for option: p")
          out = out.copy(configFilePath = Some(args(i + 1))); i += 1
        case "-c" | "--config" =>
          if (i + 1 >= args.length) return Left("Missing argument for option: c")
          out = out.copy(configYaml = Some(args(i + 1))); i += 1
        case other => return Left(s"Unrecognized option: $other")
      }
      i += 1
    }
    if (out.configFilePath.isDefined && out.configYaml.isDefined)
      Left("Cannot specify both file path and config string.")
    else Right(out)
  }

  /** JSON-argv embedding (SURVEY §3.3 — the reference Glue wrapper's
    * contract, `lakeview-glue/.../GlueWrapperMain.java:6-19`): platforms
    * whose unit of work is "call a function with a JSON string" invoke the
    * sync as `SyncCli.runJson(spark, "[\"-c\", \"<yaml>\"]")`. Returns
    * "SUCCESS" or throws — a failed sync must fail the enclosing job, like
    * the wrapper's propagated exception. Driver-side by design: the sync
    * itself launches no Spark job (the extractor below the jobs layer takes
    * only a Hadoop `Configuration`), but the optional catalog hook writes
    * parquet and runs DDL through the session, which must happen on the
    * driver.
    */
  def runJson(spark: SparkSession, argJson: String): String = {
    val argv = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(argJson, classOf[Array[String]])
    if (argv == null) throw new IllegalArgumentException("argJson must be a JSON array")
    val cli = parseArgs(argv).fold(e => throw new IllegalArgumentException(e), identity)
    if (cli.helpRequested) return usage
    val loaded = loadConfig(cli).fold(e => throw new IllegalArgumentException(e), identity)
    val report = runBatch(spark, loaded)
    if (!report.allSucceeded)
      throw new IllegalStateException(
        s"sync failed for ${report.failures.size} table(s): ${report.failures}")
    "SUCCESS"
  }

  /** The config `-p` (file) or `-c` (YAML string) names; Left when neither. */
  private def loadConfig(cli: CliArgs): Either[String, ConfigLoader.Loaded] =
    (cli.configFilePath, cli.configYaml) match {
      case (Some(p), _) => Right(ConfigLoader.loadFile(p))
      case (_, Some(y)) => Right(ConfigLoader.loadString(y))
      case _ => Left("One of -p or -c is required.")
    }

  /** One ONCE or ONCE_WITH_RETRY sync. Any other mode is refused, not
    * silently downgraded: CONTINUOUS runs only through [[main]] or
    * `ContinuousSync`.
    */
  private def runBatch(spark: SparkSession, loaded: ConfigLoader.Loaded): LakeViewSync.SyncReport =
    loaded.jobRunMode match {
      case "ONCE_WITH_RETRY" => LakeViewSync.runOnceWithRetry(spark, loaded.sync)
      case "ONCE" => LakeViewSync.runOnce(spark, loaded.sync)
      case other => throw new IllegalArgumentException(s"jobRunMode $other: expected ONCE or " +
        "ONCE_WITH_RETRY (CONTINUOUS runs through SyncCli.main or ContinuousSync)")
    }

  def main(args: Array[String]): Unit = {
    val parsed = parseArgs(args)
    parsed match {
      case Right(cli) if cli.helpRequested => println(usage)
      case _ => parsed.flatMap(loadConfig) match {
        case Left(err) =>
          System.err.println(err); System.err.println(usage); sys.exit(2)
        case Right(loaded) =>
          val spark = SparkSession.builder().appName("graft-lakeview-sync").getOrCreate()
          // sinkConfig.metricsPort: Prometheus exposition for the whole run
          // (reference Main.start brings its HTTPServer up before the job)
          val metricsServer = loaded.metricsPort.map(SyncMetrics.global.serve)
          if (loaded.jobRunMode == "CONTINUOUS") {
            val cs = new LakeViewSync.ContinuousSync(spark, loaded.sync, loaded.cadence)
            val scheduler = cs.start()
            scheduler.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.DAYS)
          } else {
            val report = runBatch(spark, loaded)
            println(s"tablesDiscovered=${report.tablesDiscovered} " +
              s"tablesSynced=${report.tablesSynced} filesMirrored=${report.filesMirrored} " +
              s"allSucceeded=${report.allSucceeded}")
            // ONCE lingers so a scraper can collect the final counters
            // (reference waitTimeBeforeShutdown, 120 s default)
            metricsServer.foreach { srv =>
              Thread.sleep(loaded.shutdownLingerSeconds * 1000L)
              srv.stop(0)
            }
            if (!report.allSucceeded) sys.exit(1)
          }
      }
    }
  }
}
