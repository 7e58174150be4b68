package graft

import java.nio.file.{Files, Paths}

import graft.jobs.{ConfigLoader, LakeViewSync, SyncCli}
import graft.model.UploadStrategy
import org.scalatest.funsuite.AnyFunSuite

/** ConfigV1 YAML loading (S12/§3.1) + CLI parse rules, shaped after the
  * reference's `ConfigLoaderTest` fixtures and `CliParser` contract.
  */
class ConfigCliSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val root = "target/tmp/config-fixture"

  private def write(path: String, content: String = ""): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private def rmTree(dir: String): Unit = {
    val r = Paths.get(dir)
    if (Files.exists(r)) {
      import scala.jdk.CollectionConverters._
      Files.walk(r).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  private def fixtureYaml(mirror: String, cp: String, dbUri: String): String =
    s"""version: V1
       |
       |sinkConfig:
       |  mirrorRoot: $mirror
       |  checkpointDir: $cp
       |
       |metadataExtractorConfig:
       |  jobRunMode: ONCE
       |  uploadStrategy: BLOCK_ON_INCOMPLETE_COMMIT
       |  tableDiscoveryIntervalMinutes: 30
       |  tableMetadataUploadIntervalMinutes: 5
       |  processTableMetadataSyncDurationSeconds: 30
       |  pathExclusionPatterns:
       |    - .*/excluded
       |  parserConfig:
       |    - lake: lake1
       |      databases:
       |        - name: database1
       |          basePaths:
       |            - $dbUri
       |""".stripMargin

  test("reference-shaped ConfigV1 YAML parses into a working runOnce") {
    Seq(root, s"$root-mirror", s"$root-cp").foreach(rmTree)
    write(s"$root/db/t1/.hoodie/hoodie.properties",
      "hoodie.table.name=t1\nhoodie.table.type=COPY_ON_WRITE\n")
    Seq("900.commit.requested", "900.commit.inflight", "900.commit")
      .foreach(f => write(s"$root/db/t1/.hoodie/$f"))
    // excluded subtree must be pruned by pathExclusionPatterns
    write(s"$root/db/excluded/.hoodie/hoodie.properties", "hoodie.table.name=no\n")
    val dbUri = s"file:///${Paths.get(root).toAbsolutePath.toString.stripPrefix("/")}/db"
    val loaded = ConfigLoader.loadString(
      fixtureYaml(s"$root-mirror", s"$root-cp", dbUri))
    assert(loaded.jobRunMode == "ONCE")
    assert(loaded.sync.strategy == UploadStrategy.BlockOnIncompleteCommit)
    assert(loaded.cadence == LakeViewSync.ContinuousConfig(30, 30, 5))
    assert(loaded.sync.basePaths ==
      Seq(graft.operators.TableDiscovery.BasePath("lake1", "database1", dbUri)))

    val r = LakeViewSync.runOnce(spark, loaded.sync)
    assert(r.tablesDiscovered == 1 && r.allSucceeded && r.filesMirrored == 4)
  }

  test("runJson: the JSON-argv embedding syncs and returns SUCCESS (§3.3)") {
    val jroot = s"$root-json"
    Seq(jroot, s"$jroot-mirror", s"$jroot-cp").foreach(rmTree)
    write(s"$jroot/db/t1/.hoodie/hoodie.properties",
      "hoodie.table.name=t1\nhoodie.table.type=COPY_ON_WRITE\n")
    Seq("900.commit.requested", "900.commit.inflight", "900.commit")
      .foreach(f => write(s"$jroot/db/t1/.hoodie/$f"))
    val dbUri = s"file:///${Paths.get(jroot).toAbsolutePath.toString.stripPrefix("/")}/db"
    val yaml = fixtureYaml(s"$jroot-mirror", s"$jroot-cp", dbUri)
    val argJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(Array("-c", yaml))
    assert(SyncCli.runJson(spark, argJson) == "SUCCESS")
    // mirrored timeline exists under the mirror root
    assert(Files.exists(Paths.get(s"$jroot-mirror")))
    // malformed argv and failed syncs throw instead of returning
    intercept[IllegalArgumentException](SyncCli.runJson(spark, "[\"--bogus\"]"))
  }

  test("sinkConfig.file splices a second document (credential-splice analogue)") {
    rmTree(root)
    write(s"$root/sink.yaml", "mirrorRoot: /m\ncheckpointDir: /c\n")
    val yaml =
      s"""version: V1
         |sinkConfig:
         |  file: $root/sink.yaml
         |metadataExtractorConfig:
         |  parserConfig:
         |    - lake: l
         |      databases:
         |        - name: d
         |          basePaths: [ "file:///tmp/x" ]
         |""".stripMargin
    val loaded = ConfigLoader.loadString(yaml)
    assert(loaded.sync.mirrorRoot == "/m" && loaded.sync.checkpointDir == "/c")
    assert(loaded.jobRunMode == "CONTINUOUS") // reference default
  }

  test("sinkConfig wires the metastore hook, metrics port, and shutdown linger") {
    val yaml =
      s"""version: V1
         |sinkConfig:
         |  mirrorRoot: /tmp/x-mirror
         |  checkpointDir: /tmp/x-cp
         |  metastoreDatabase: lakeview_cfg
         |  metricsPort: 0
         |  shutdownLingerSeconds: 1
         |metadataExtractorConfig:
         |  jobRunMode: ONCE
         |  parserConfig:
         |    - lake: lake1
         |      databases:
         |        - name: db1
         |          basePaths:
         |            - file:///tmp/x/db1
         |""".stripMargin
    val loaded = ConfigLoader.loadString(yaml)
    assert(loaded.sync.metastore.exists(_.isInstanceOf[graft.jobs.SparkCatalogSync]))
    assert(loaded.metricsPort.contains(0))
    assert(loaded.shutdownLingerSeconds == 1)
    // absent by default — no hook, no server, reference's 120 s linger
    val plain = ConfigLoader.loadString(yaml
      .replace("  metastoreDatabase: lakeview_cfg\n", "")
      .replace("  metricsPort: 0\n", "")
      .replace("  shutdownLingerSeconds: 1\n", ""))
    assert(plain.sync.metastore.isEmpty && plain.metricsPort.isEmpty)
    assert(plain.shutdownLingerSeconds == 120)
  }

  test("validation: unsupported version, missing sink fields, non-positive intervals") {
    val ok = fixtureYaml("/m", "/c", "file:///tmp/x")
    intercept[UnsupportedOperationException] {
      ConfigLoader.loadString(ok.replace("version: V1", "version: V9"))
    }
    val e1 = intercept[IllegalArgumentException] {
      ConfigLoader.loadString(ok.replace("  mirrorRoot: /m\n", ""))
    }
    assert(e1.getMessage.contains("mirrorRoot"))
    val e2 = intercept[IllegalArgumentException] {
      ConfigLoader.loadString(
        ok.replace("tableDiscoveryIntervalMinutes: 30", "tableDiscoveryIntervalMinutes: 0"))
    }
    assert(e2.getMessage.contains("tableDiscoveryIntervalMinutes"))
    intercept[IllegalArgumentException] {
      ConfigLoader.loadString(ok.replace("            - file:///tmp/x\n", ""))
    }
  }

  test("hot-reload: override document deep-merges over base, bad fetch keeps previous") {
    rmTree(s"$root-hotreload")
    val base = fixtureYaml("/m", "/c", "file:///tmp/x")
    val overridePath = s"$root-hotreload/override.yaml"
    write(overridePath,
      """metadataExtractorConfig:
        |  tableMetadataUploadIntervalMinutes: 9
        |""".stripMargin)
    val refresher = new graft.jobs.ConfigRefresher(base, overridePath,
      spark.sparkContext.hadoopConfiguration)
    assert(refresher.current.cadence.uploadIntervalMinutes == 5) // base until refresh
    refresher.refresh()
    assert(refresher.current.cadence.uploadIntervalMinutes == 9) // override wins
    assert(refresher.current.cadence.discoveryIntervalMinutes == 30) // base preserved
    assert(refresher.current.sync.mirrorRoot == "/m")
    // the override changes on disk; next refresh picks it up
    write(overridePath,
      """metadataExtractorConfig:
        |  tableMetadataUploadIntervalMinutes: 7
        |""".stripMargin)
    refresher.refresh()
    assert(refresher.current.cadence.uploadIntervalMinutes == 7)
    // a broken override fetch propagates; callers (start loop) keep previous
    Files.delete(Paths.get(overridePath))
    intercept[Exception](refresher.refresh())
    assert(refresher.current.cadence.uploadIntervalMinutes == 7)
  }

  test("sync-tool hoodie.* properties build a working SyncConfig (§3.2)") {
    val p = new java.util.Properties()
    p.setProperty("hoodie.meta.sync.lakeview.mirror_root", "/mr")
    p.setProperty("hoodie.meta.sync.lakeview.checkpoint_dir", "/cd")
    p.setProperty(
      "hoodie.meta.sync.lakeview.metadata_extractor.lakes.lake1.databases.db1.base_paths",
      "s3://b/t1,s3://b/t2")
    p.setProperty(
      "hoodie.meta.sync.lakeview.metadata_extractor.lakes.lake2.databases.db2.base_paths",
      "gs://c/t3")
    p.setProperty("hoodie.meta.sync.lakeview.metadata_extractor.path_exclusion_patterns",
      ".*/tmp,.*/scratch")
    p.setProperty("hoodie.meta.sync.lakeview.upload_strategy", "CONTINUE_ON_INCOMPLETE_COMMIT")
    val cfg = graft.jobs.SyncToolConfig.fromProperties(p)
    assert(cfg.basePaths.toSet == Set(
      graft.operators.TableDiscovery.BasePath("lake1", "db1", "s3://b/t1"),
      graft.operators.TableDiscovery.BasePath("lake1", "db1", "s3://b/t2"),
      graft.operators.TableDiscovery.BasePath("lake2", "db2", "gs://c/t3")))
    assert(cfg.excludePatterns == Seq(".*/tmp", ".*/scratch"))
    assert(cfg.strategy == UploadStrategy.ContinueOnIncompleteCommit)

    // single-table fallback: the table the sync tool was invoked on
    val single = new java.util.Properties()
    single.setProperty("hoodie.meta.sync.lakeview.mirror_root", "/mr")
    single.setProperty("hoodie.meta.sync.lakeview.checkpoint_dir", "/cd")
    single.setProperty("hoodie.base.path", "s3://b/solo")
    single.setProperty("hoodie.database.name", "analytics")
    assert(graft.jobs.SyncToolConfig.fromProperties(single).basePaths ==
      Seq(graft.operators.TableDiscovery.BasePath("default", "analytics", "s3://b/solo")))

    intercept[IllegalArgumentException] {
      graft.jobs.SyncToolConfig.fromProperties(new java.util.Properties())
    }
  }

  test("duplicate tableIds dedup last-wins (J3); properties cache is honored (J5)") {
    val jroot = s"$root-j35"
    Seq(jroot, s"$jroot-mirror", s"$jroot-cp").foreach(rmTree)
    write(s"$jroot/db/tbl/.hoodie/hoodie.properties",
      "hoodie.table.name=tbl\nhoodie.table.type=COPY_ON_WRITE\n")
    Seq("100.commit.requested", "100.commit.inflight", "100.commit")
      .foreach(f => write(s"$jroot/db/tbl/.hoodie/$f"))
    val uri = s"file:///${Paths.get(jroot).toAbsolutePath.toString.stripPrefix("/")}/db/tbl"
    val t = graft.operators.TableDiscovery
      .discover(spark.sparkContext.hadoopConfiguration,
        Seq(graft.operators.TableDiscovery.BasePath("l", "d", uri)))
      .head
    val cfg = LakeViewSync.SyncConfig(basePaths = Nil,
      mirrorRoot = s"$jroot-mirror", checkpointDir = s"$jroot-cp")

    // same tableId twice -> mirrored once, counted once
    val r = LakeViewSync.syncTables(spark, cfg, Seq(t, t.copy(lakeName = "other")))
    assert(r.tablesDiscovered == 1 && r.tablesSynced == 1 && r.filesMirrored == 4)

    // J5: a populated cache short-circuits the properties read — the table
    // syncs even after hoodie.properties is deleted from storage
    val cache = scala.collection.concurrent.TrieMap(
      t.tableId -> graft.model.HudiProperties("tbl", "COPY_ON_WRITE", 6, 1))
    Files.delete(Paths.get(s"$jroot/db/tbl/.hoodie/hoodie.properties"))
    val r2 = LakeViewSync.syncTables(spark, cfg, Seq(t), Some(cache))
    assert(r2.allSucceeded, s"cache not honored: ${r2.failures}")
  }

  test("cron next-execution and ONCE_WITH_RETRY stop rule") {
    import graft.jobs.CronSchedule
    val hourly = CronSchedule.parse("0 */1 * * *")
    assert(CronSchedule.nextExecution(hourly,
      java.time.Instant.parse("2026-03-01T10:30:00Z")) ==
      java.time.Instant.parse("2026-03-01T11:00:00Z"))
    assert(CronSchedule.nextExecution(CronSchedule.parse("15 2 * * *"),
      java.time.Instant.parse("2026-03-01T03:00:00Z")) ==
      java.time.Instant.parse("2026-03-02T02:15:00Z"))
    // exactly on a boundary: next execution is strictly after
    assert(CronSchedule.nextExecution(hourly,
      java.time.Instant.parse("2026-03-01T11:00:00Z")) ==
      java.time.Instant.parse("2026-03-01T12:00:00Z"))

    val cfg = LakeViewSync.SyncConfig(basePaths = Nil, mirrorRoot = "/m", checkpointDir = "/c")
    var calls = 0
    def failingRunner(s: org.apache.spark.sql.SparkSession, c: LakeViewSync.SyncConfig) = {
      calls += 1
      LakeViewSync.SyncReport(1, 0, 0, allSucceeded = false)
    }
    // next hourly run is 55 min away (>= 10): retries up to maxRuns
    val farClock = java.time.Clock.fixed(
      java.time.Instant.parse("2026-03-01T10:05:00Z"), java.time.ZoneOffset.UTC)
    LakeViewSync.runOnceWithRetry(spark, cfg, maxRuns = 3, clock = farClock,
      runner = failingRunner)
    assert(calls == 3)
    // next hourly run is 5 min away (< 10): no retry, the scheduled run covers it
    calls = 0
    val nearClock = java.time.Clock.fixed(
      java.time.Instant.parse("2026-03-01T10:55:00Z"), java.time.ZoneOffset.UTC)
    LakeViewSync.runOnceWithRetry(spark, cfg, maxRuns = 3, clock = nearClock,
      runner = failingRunner)
    assert(calls == 1)
    // success on the second attempt stops the loop
    calls = 0
    def flakyRunner(s: org.apache.spark.sql.SparkSession, c: LakeViewSync.SyncConfig) = {
      calls += 1
      LakeViewSync.SyncReport(1, if (calls >= 2) 1 else 0, 0, allSucceeded = calls >= 2)
    }
    val r = LakeViewSync.runOnceWithRetry(spark, cfg, maxRuns = 5, clock = farClock,
      runner = flakyRunner)
    assert(calls == 2 && r.allSucceeded)
  }

  test("CLI: -p/-c exclusive, -h, unknown options (CliParser contract)") {
    assert(SyncCli.parseArgs(Array("-p", "/x.yaml")) ==
      Right(SyncCli.CliArgs(configFilePath = Some("/x.yaml"))))
    assert(SyncCli.parseArgs(Array("--config", "version: V1")) ==
      Right(SyncCli.CliArgs(configYaml = Some("version: V1"))))
    assert(SyncCli.parseArgs(Array("-h")).exists(_.helpRequested))
    assert(SyncCli.parseArgs(Array("-p", "/x", "-c", "y")).isLeft)
    assert(SyncCli.parseArgs(Array("-z")).isLeft)
    assert(SyncCli.parseArgs(Array("-p")).isLeft)
  }
}
