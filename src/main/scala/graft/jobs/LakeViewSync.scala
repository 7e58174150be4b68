package graft.jobs

import java.time.{Clock, Duration, Instant}
import java.util.concurrent.{Callable, Executors, ScheduledExecutorService, TimeUnit}

import scala.util.control.NonFatal

import graft.model.{HudiTable, UploadStrategy}
import graft.operators.{TableDiscovery, TimelineMirror}
import graft.sources.HoodiePropertiesReader
import org.apache.spark.sql.SparkSession

/** Library entry point mirroring the reference's sync-tool shape (SURVEY
  * §3.2, `lakeview-sync-tool/.../LakeviewSyncTool.java:88-110`): one call
  * runs discovery -> properties -> mirror with checkpoints, returning the
  * AND-fold of per-table success (G9,
  * `TableMetadataUploaderService.java:85-97`).
  *
  * Tables run in parallel, at most `tableBatchSize` in flight (G7: 20, cap
  * 50 — `constants/MetadataExtractorConstants.java:42-46`; the reference
  * fans tables out over its executor, `TableMetadataUploaderService.java:82-98`).
  * It is a bound, not a barrier: a finished table's slot takes the next
  * table at once, so a slow table never holds up the tables behind it.
  *
  * Inside a table, [[TimelineMirror.mirrorTable]] keeps the reference's
  * per-batch contract: a timeline batch's copies run concurrently on the
  * shared [[graft.sources.IoPool]]; the batch's checkpoint upsert waits for
  * all of them (the barrier between batches); and the LSM trailer
  * (manifest_N, then _version_) is copied after the snapshot's parquets,
  * one file after the other (T5). Discovery lists its BFS levels on the
  * same pool, so a sync tick launches no Spark job. Pool tasks never wait
  * on other work, so the table threads here cannot deadlock that pool.
  *
  * Layering: only the jobs layer (this object, [[SyncCli]],
  * [[MetastoreSync]]) holds a `SparkSession`. Every extractor operator and
  * source gets the session's Hadoop `Configuration` (so `spark.hadoop.*`
  * settings reach storage); the session itself serves only the catalog hook.
  */
object LakeViewSync {

  final case class SyncConfig(
      basePaths: Seq[TableDiscovery.BasePath],
      excludePatterns: Seq[String] = Nil,
      mirrorRoot: String,
      checkpointDir: String,
      maxBatchSize: Int = 20,
      tableBatchSize: Int = 20,
      strategy: UploadStrategy = UploadStrategy.BlockOnIncompleteCommit,
      // §3.2 post-sync catalog chaining (reference LakeviewGlueSyncTool /
      // LakeviewHiveSyncTool): invoked per successfully mirrored table
      metastore: Option[MetastoreSync] = None)

  /** T7 failure taxonomy (reference `MetadataExtractorUtils.java:12-30` +
    * `MetricsConstants.MetadataUploadFailureReasons`), mapped onto the
    * Hadoop-FS exception surface instead of cloud-SDK exception classes.
    */
  object FailureReason {
    val RateLimiting = "RATE_LIMITING"
    val NoSuchKey = "NO_SUCH_KEY"
    val AccessDenied = "ACCESS_DENIED"
    val Unknown = "UNKNOWN"

    def classify(ex: Throwable): String = {
      // walk the cause chain like the reference's getCause checks
      Iterator.iterate(ex)(_.getCause).takeWhile(_ != null).take(8).map {
        case _: java.io.FileNotFoundException => NoSuchKey
        case _: org.apache.hadoop.security.AccessControlException => AccessDenied
        case e if e.getMessage != null &&
          e.getMessage.toLowerCase.matches(".*(rate limit|slowdown|throttl|too many requests|429).*") =>
          RateLimiting
        case _ => Unknown
      }.find(_ != Unknown).getOrElse(Unknown)
    }
  }

  final case class SyncReport(
      tablesDiscovered: Long,
      tablesSynced: Long,
      filesMirrored: Long,
      allSucceeded: Boolean,
      failures: Map[String, String] = Map.empty) // tableUri -> FailureReason

  /** ONCE mode (reference JobRunMode.ONCE). */
  def runOnce(spark: SparkSession, config: SyncConfig): SyncReport = {
    val tables: Seq[HudiTable] =
      TableDiscovery.discover(spark.sparkContext.hadoopConfiguration, config.basePaths,
        config.excludePatterns).sortBy(_.absoluteTableUri)
    syncTables(spark, config, tables)
  }

  /** Mirror a known table set, at most `tableBatchSize` tables in flight
    * (G7/G8), joined in table order; a fatal error stops the queued tables
    * and fails the run. Used by both ONCE and CONTINUOUS modes.
    *
    * Duplicate tableIds (e.g. the same path reached via two base paths)
    * dedup last-wins with a warning (J3, reference
    * `TableMetadataUploaderService.java:334-386`). `propsCache` memoizes
    * successful `hoodie.properties` reads across runs (J5) — CONTINUOUS
    * clears it on each discovery tick, bounding staleness to the discovery
    * cadence.
    */
  def syncTables(spark: SparkSession, config: SyncConfig, tables: Seq[HudiTable],
      propsCache: Option[scala.collection.concurrent.Map[String, graft.model.HudiProperties]] = None,
      metrics: SyncMetrics = SyncMetrics.global): SyncReport = {
    val conf = spark.sparkContext.hadoopConfiguration
    val byId = tables.map(t => t.tableId -> t).toMap // last-wins on duplicates
    if (byId.size < tables.size)
      System.err.println(s"[lakeview-sync] ${tables.size - byId.size} duplicate tableId(s) dropped (last wins)")
    val deduped = byId.values.toSeq.sortBy(_.absoluteTableUri)
    val window = math.max(1, math.min(config.tableBatchSize, 50))
    val pool = Executors.newFixedThreadPool(window)
    try {
      // all tables queued at once: a freed thread takes the next one (G7)
      val futures = deduped.map { table =>
        pool.submit(new Callable[Either[(String, String), Long]] {
          def call(): Either[(String, String), Long] =
            try {
              val props = propsCache.flatMap(_.get(table.tableId)).getOrElse {
                val p = HoodiePropertiesReader.read(conf,
                  s"${table.absoluteTableUri}/.hoodie/hoodie.properties")
                if (p.failureReason == null) propsCache.foreach(_.put(table.tableId, p))
                p
              }
              if (props.failureReason == null) {
                val r = TimelineMirror.mirrorTable(conf, table, props,
                  config.mirrorRoot, config.checkpointDir,
                  config.maxBatchSize, config.strategy)
                // chained catalog sync runs inside the table's isolation:
                // a hook failure fails this table, not the run
                config.metastore.foreach(_.register(spark, table, props,
                  s"${config.mirrorRoot.stripSuffix("/")}/${table.tableId}"))
                Right(r.filesMirrored.toLong)
              } else Left(table.absoluteTableUri -> FailureReason.NoSuchKey)
            } catch {
              // failure isolates the table, not the run (T7,
              // MetadataExtractorUtils.java:12-30)
              case NonFatal(e) =>
                System.err.println(s"[lakeview-sync] ${table.absoluteTableUri} failed: ${e.getMessage}")
                Left(table.absoluteTableUri -> FailureReason.classify(e))
              // a fatal error fails the run: no queued table starts after it
              case fatal: Throwable => pool.shutdownNow(); throw fatal
            }
        })
      }
      var files = 0L
      var ok = 0L
      var failures = Map.empty[String, String]
      futures.foreach { f =>
        f.get() match {
          case Right(n) =>
            files += n; ok += 1
            metrics.inc(SyncMetrics.MetadataUploadSuccess)
          case Left(kv) =>
            failures += kv
            metrics.inc(SyncMetrics.TableMetadataProcessingFailure, kv._2)
        }
      }
      metrics.tablesProcessedGauge.set(ok)
      SyncReport(deduped.size, ok, files, allSucceeded = ok == deduped.size, failures)
    } finally pool.shutdownNow()
  }

  /** ONCE_WITH_RETRY (reference JobRunMode.ONCE_WITH_RETRY +
    * `TableDiscoveryAndUploadJob.java:94-139`): re-run a failed sync up to
    * `maxRuns` attempts, but stop early when the pull model's next scheduled
    * cron execution is less than `minIntervalMinutes` away — the next
    * scheduled run will cover it.
    */
  def runOnceWithRetry(
      spark: SparkSession,
      config: SyncConfig,
      maxRuns: Int = 5,
      cronSchedule: String = "0 */1 * * *",
      minIntervalMinutes: Int = 10,
      clock: Clock = Clock.systemUTC(),
      runner: (SparkSession, SyncConfig) => SyncReport = runOnce): SyncReport = {
    val firstRunStart = clock.instant()
    def shouldRunAgain: Boolean = {
      val next = CronSchedule.nextExecution(CronSchedule.parse(cronSchedule), firstRunStart)
      Duration.between(firstRunStart, next).toMinutes >= minIntervalMinutes
    }
    var attempt = 1
    var report = runner(spark, config)
    while (!report.allSucceeded && attempt < maxRuns && shouldRunAgain) {
      attempt += 1
      report = runner(spark, config)
    }
    report
  }

  /** CONTINUOUS mode cadence (reference
    * `TableDiscoveryAndUploadJob.java:63-139` with defaults from
    * `MetadataExtractorConstants.java:37-48`): discovery re-runs every
    * `discoveryIntervalMinutes`, the processing poll fires every
    * `processPollSeconds` but actually uploads only when
    * `uploadIntervalMinutes` have passed since the previous upload run
    * started (the upload gate).
    */
  final case class ContinuousConfig(
      discoveryIntervalMinutes: Int = 30,
      processPollSeconds: Int = 30,
      uploadIntervalMinutes: Int = 5)

  /** Long-running scheduler state machine. The `discoverTick`/`processTick`
    * steps are public and clock-injected so specs can drive the cadence
    * deterministically; `start()` wires them onto a 2-thread scheduler
    * exactly like the reference.
    */
  final class ContinuousSync(
      spark: SparkSession,
      config: SyncConfig,
      cadence: ContinuousConfig = ContinuousConfig(),
      clock: Clock = Clock.systemUTC(),
      metrics: SyncMetrics = SyncMetrics.global) {

    private val lock = new Object
    private var tablesToProcess: Seq[HudiTable] = Nil
    private var previousUploadRunStart: Instant = Instant.EPOCH
    // J5: memoized hoodie.properties reads, invalidated each discovery tick
    private val propsCache =
      scala.collection.concurrent.TrieMap.empty[String, graft.model.HudiProperties]

    /** Discovery tick: refresh the shared table set (runs on its own cadence
      * so slow discovery never blocks upload polls).
      */
    def discoverTick(): Unit =
      try {
        val tables = TableDiscovery.discover(spark.sparkContext.hadoopConfiguration,
          config.basePaths, config.excludePatterns).sortBy(_.absoluteTableUri)
        propsCache.clear()
        lock.synchronized { tablesToProcess = tables }
        metrics.tablesDiscoveredGauge.set(tables.size)
        metrics.inc(SyncMetrics.TableDiscoverySuccess)
      } catch {
        // a failed discovery keeps the previous table set (reference
        // TableDiscoveryAndUploadJob.discoverTables exceptionally-branch)
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[lakeview-sync] discovery failed: ${e.getMessage}")
          metrics.inc(SyncMetrics.TableDiscoveryFailure, FailureReason.classify(e))
      }

    /** Processing tick: upload gate + sync. Returns None when the gate
      * suppresses the run (reference `processTables`,
      * `TableDiscoveryAndUploadJob.java:165-198`).
      */
    def processTick(): Option[SyncReport] = {
      val runStart = clock.instant()
      if (Duration.between(previousUploadRunStart, runStart).toMinutes <
        cadence.uploadIntervalMinutes) None
      else {
        val tables = lock.synchronized(tablesToProcess)
        if (tables.isEmpty) None
        else {
          val report = syncTables(spark, config, tables, Some(propsCache), metrics)
          metrics.inc(
            if (report.allSucceeded) SyncMetrics.TableSyncSuccess
            else SyncMetrics.TableSyncFailure)
          previousUploadRunStart = runStart
          Some(report)
        }
      }
    }

    /** Schedule both ticks at fixed rate; caller owns shutdown. */
    def start(): ScheduledExecutorService = {
      val scheduler = Executors.newScheduledThreadPool(2)
      scheduler.scheduleAtFixedRate(() => discoverTick(), 0,
        cadence.discoveryIntervalMinutes.toLong, TimeUnit.MINUTES)
      scheduler.scheduleAtFixedRate(() => processTick(), 0,
        cadence.processPollSeconds.toLong, TimeUnit.SECONDS)
      scheduler
    }
  }
}
