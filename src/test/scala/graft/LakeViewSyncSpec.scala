package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.jobs.LakeViewSync
import graft.operators.TableDiscovery
import org.scalatest.funsuite.AnyFunSuite

/** Local FS that throws on the first N listStatus calls — fault injection
  * for the T6 retry wiring. Registered under the `flaky://` scheme via
  * `fs.flaky.impl`; Hadoop instantiates it reflectively.
  */
class FlakyFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flaky"
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    FlakyFileSystem.maybeFail()
    super.listStatus(f)
  }
}

object FlakyFileSystem {
  val remainingFaults = new java.util.concurrent.atomic.AtomicInteger(0)
  val faultsInjected = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def maybeFail(): Unit =
    if (remainingFaults.getAndDecrement() > 0) {
      faultsInjected.incrementAndGet()
      throw new java.io.IOException("injected transient fault")
    }
}

/** The library entry point end-to-end: discovery -> properties -> mirror for
  * a multi-table lake in one call, with per-table failure isolation.
  */
class LakeViewSyncSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val root = "target/tmp/sync-fixture"

  private def write(path: String, content: String = ""): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private def rmTree(dir: String): Unit = {
    val r = Paths.get(dir)
    if (Files.exists(r)) {
      Files.walk(r).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  test("runOnce syncs every discovered table and reports the fold") {
    Seq(root, s"$root-mirror", s"$root-cp").foreach(rmTree)
    // two healthy tables
    for (t <- Seq("alpha", "beta")) {
      write(s"$root/db/$t/.hoodie/hoodie.properties",
        s"hoodie.table.name=$t\nhoodie.table.type=COPY_ON_WRITE\n")
      write(s"$root/db/$t/.hoodie/500.commit.requested")
      write(s"$root/db/$t/.hoodie/500.commit.inflight")
      write(s"$root/db/$t/.hoodie/500.commit")
    }
    val base = TableDiscovery.BasePath("lake", "db",
      s"file:///${Paths.get(root).toAbsolutePath.toString.stripPrefix("/")}/db")
    val cfg = LakeViewSync.SyncConfig(
      basePaths = Seq(base),
      mirrorRoot = s"$root-mirror",
      checkpointDir = s"$root-cp")

    val r1 = LakeViewSync.runOnce(spark, cfg)
    assert(r1.tablesDiscovered == 2 && r1.tablesSynced == 2 && r1.allSucceeded)
    // properties + 3-file group per table
    assert(r1.filesMirrored == 2 * 4)

    // second run: incremental no-op
    val r2 = LakeViewSync.runOnce(spark, cfg)
    assert(r2.filesMirrored == 0 && r2.allSucceeded)
  }

  test("metastore hook registers mirrored timelines queryable via spark.sql") {
    val mroot = s"$root-metastore"
    Seq(mroot, s"$mroot-mirror", s"$mroot-cp").foreach(rmTree)
    write(s"$mroot/db/alpha/.hoodie/hoodie.properties",
      "hoodie.table.name=alpha\nhoodie.table.type=COPY_ON_WRITE\n")
    // one complete commit group plus a V9 completed deltacommit
    Seq("500.commit.requested", "500.commit.inflight", "500.commit",
      "600.deltacommit.requested", "600.deltacommit.inflight", "600_700.deltacommit")
      .foreach(f => write(s"$mroot/db/alpha/.hoodie/$f"))
    val base = TableDiscovery.BasePath("lake", "db",
      s"file:///${Paths.get(mroot).toAbsolutePath.toString.stripPrefix("/")}/db")
    val cfg = LakeViewSync.SyncConfig(
      basePaths = Seq(base),
      mirrorRoot = s"$mroot-mirror",
      checkpointDir = s"$mroot-cp",
      metastore = Some(new graft.jobs.SparkCatalogSync("lakeview_test")))
    val r = LakeViewSync.runOnce(spark, cfg)
    assert(r.allSucceeded && r.tablesSynced == 1)
    // the mirrored timeline is queryable BY NAME, like after a Glue/Hive sync
    val rows = spark.sql(
      """SELECT ts, completion_ts, action, state FROM lakeview_test.alpha_timeline
        |WHERE is_instant ORDER BY filename""".stripMargin).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getString(2)).toSet == Set("commit", "deltacommit"))
    val v9 = rows.find(r => r.getString(0) == "600" && r.getString(3) == "completed").get
    assert(v9.getString(1) == "700", "V9 completion ts survives the catalog parse")
    // non-instant mirror content (hoodie.properties) is carried but flagged
    val props = spark.sql(
      "SELECT count(*) FROM lakeview_test.alpha_timeline WHERE NOT is_instant").head().getLong(0)
    assert(props == 1)
    // a second sync re-registers idempotently and stays queryable
    val r2 = LakeViewSync.runOnce(spark, cfg)
    assert(r2.allSucceeded)
    assert(spark.sql("SELECT count(*) FROM lakeview_test.alpha_timeline WHERE is_instant")
      .head().getLong(0) == 6)
  }

  /** Deterministic clock for driving the continuous-mode cadence. */
  private final class TestClock(start: java.time.Instant) extends java.time.Clock {
    private var now = start
    def advance(d: java.time.Duration): Unit = now = now.plus(d)
    override def instant(): java.time.Instant = now
    override def getZone: java.time.ZoneId = java.time.ZoneOffset.UTC
    override def withZone(z: java.time.ZoneId): java.time.Clock = this
  }

  test("continuous mode: discovery picks up new tables, upload gate suppresses premature syncs") {
    val croot = s"$root-cont"
    Seq(croot, s"$croot-mirror", s"$croot-cp").foreach(rmTree)
    write(s"$croot/db/alpha/.hoodie/hoodie.properties",
      "hoodie.table.name=alpha\nhoodie.table.type=COPY_ON_WRITE\n")
    Seq("500.commit.requested", "500.commit.inflight", "500.commit")
      .foreach(f => write(s"$croot/db/alpha/.hoodie/$f"))
    val base = TableDiscovery.BasePath("lake", "db",
      s"file:///${Paths.get(croot).toAbsolutePath.toString.stripPrefix("/")}/db")
    val cfg = LakeViewSync.SyncConfig(
      basePaths = Seq(base),
      mirrorRoot = s"$croot-mirror",
      checkpointDir = s"$croot-cp")
    val clock = new TestClock(java.time.Instant.parse("2026-01-01T00:00:00Z"))
    val cs = new LakeViewSync.ContinuousSync(spark, cfg,
      LakeViewSync.ContinuousConfig(uploadIntervalMinutes = 5), clock)

    // cycle 1: discover + first upload (gate open: EPOCH baseline)
    cs.discoverTick()
    val r1 = cs.processTick()
    assert(r1.exists(r => r.tablesDiscovered == 1 && r.tablesSynced == 1))

    // a new table lands between cycles
    write(s"$croot/db/beta/.hoodie/hoodie.properties",
      "hoodie.table.name=beta\nhoodie.table.type=COPY_ON_WRITE\n")
    Seq("600.commit.requested", "600.commit.inflight", "600.commit")
      .foreach(f => write(s"$croot/db/beta/.hoodie/$f"))

    // premature poll (1 min < 5 min): the upload gate suppresses the run
    clock.advance(java.time.Duration.ofMinutes(1))
    assert(cs.processTick().isEmpty)

    // cycle 2: discovery sees beta; once the gate reopens the sync covers it
    cs.discoverTick()
    clock.advance(java.time.Duration.ofMinutes(5))
    val r2 = cs.processTick()
    assert(r2.exists(r => r.tablesDiscovered == 2 && r.tablesSynced == 2))
    assert(r2.exists(_.filesMirrored == 4)) // only beta's props + 3-file group
  }

  test("continuous soak: 3 discovery cycles, table appears mid-run, checkpoints monotone, no re-mirrors") {
    val sroot = s"$root-soak"
    Seq(sroot, s"$sroot-mirror", s"$sroot-cp").foreach(rmTree)
    def commitGroup(table: String, ts: Int): Unit =
      Seq(s"$ts.commit.requested", s"$ts.commit.inflight", s"$ts.commit")
        .foreach(f => write(s"$sroot/db/$table/.hoodie/$f"))
    write(s"$sroot/db/alpha/.hoodie/hoodie.properties",
      "hoodie.table.name=alpha\nhoodie.table.type=COPY_ON_WRITE\n")
    commitGroup("alpha", 100)
    val base = TableDiscovery.BasePath("lake", "db",
      s"file:///${Paths.get(sroot).toAbsolutePath.toString.stripPrefix("/")}/db")
    val cfg = LakeViewSync.SyncConfig(basePaths = Seq(base),
      mirrorRoot = s"$sroot-mirror", checkpointDir = s"$sroot-cp")
    val clock = new TestClock(java.time.Instant.parse("2026-01-01T00:00:00Z"))
    val cs = new LakeViewSync.ContinuousSync(spark, cfg,
      LakeViewSync.ContinuousConfig(uploadIntervalMinutes = 5), clock)
    val conf = spark.sparkContext.hadoopConfiguration

    var mirrored = 0L
    var lastCp = Map.empty[String, java.math.BigInteger]
    // after every successful poll: accumulate mirrored-file counts and
    // assert each table's active checkpoint never regresses
    def poll(): Option[LakeViewSync.SyncReport] = {
      val r = cs.processTick()
      r.foreach { rep =>
        assert(rep.allSucceeded, rep.failures.toString)
        mirrored += rep.filesMirrored
        TableDiscovery.discover(spark.sparkContext.hadoopConfiguration, Seq(base), Nil).foreach { t =>
          graft.operators.CheckpointStore
            .loadTable(conf, cfg.checkpointDir, t.tableId)
            .get(graft.model.TimelineType.Active)
            .filter(_.lastUploadedFile.nonEmpty)
            .foreach { cp =>
              val commitId = new java.math.BigInteger(
                cp.lastUploadedFile.split("[._]")(0))
              lastCp.get(t.tableId).foreach { prev =>
                assert(commitId.compareTo(prev) >= 0,
                  s"checkpoint regressed for ${t.tableId}: $prev -> $commitId")
              }
              lastCp += t.tableId -> commitId
            }
        }
      }
      r
    }

    // cycle 1: alpha synced
    cs.discoverTick()
    assert(poll().exists(_.filesMirrored == 4))
    // polls inside the gate window do nothing
    clock.advance(java.time.Duration.ofMinutes(1))
    assert(poll().isEmpty)

    // alpha grows a commit group; beta appears mid-run (not yet discovered)
    commitGroup("alpha", 200)
    write(s"$sroot/db/beta/.hoodie/hoodie.properties",
      "hoodie.table.name=beta\nhoodie.table.type=COPY_ON_WRITE\n")
    commitGroup("beta", 300)
    // gate reopens pre-discovery: only alpha's NEW group mirrors (3 files)
    clock.advance(java.time.Duration.ofMinutes(5))
    assert(poll().exists(_.filesMirrored == 3))

    // cycle 2: discovery picks beta up; its props + group mirror once
    cs.discoverTick()
    clock.advance(java.time.Duration.ofMinutes(5))
    assert(poll().exists(r => r.tablesDiscovered == 2 && r.filesMirrored == 4))

    // cycle 3: nothing new anywhere — sync runs, mirrors nothing
    cs.discoverTick()
    clock.advance(java.time.Duration.ofMinutes(5))
    assert(poll().exists(r => r.tablesSynced == 2 && r.filesMirrored == 0))

    // no duplicate mirror writes across the whole soak: every file landed
    // exactly once, so the cumulative count equals the distinct tree size
    val treeFiles = Files.walk(Paths.get(s"$sroot-mirror")).iterator().asScala
      .count(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
    assert(mirrored == treeFiles.toLong,
      s"cumulative filesMirrored=$mirrored vs distinct files on disk=$treeFiles")
  }

  test("sync survives one transient storage fault via the retry wiring (T6)") {
    val troot = s"$root-flaky"
    Seq(troot, s"$troot-mirror", s"$troot-cp").foreach(rmTree)
    write(s"$troot/db/gamma/.hoodie/hoodie.properties",
      "hoodie.table.name=gamma\nhoodie.table.type=COPY_ON_WRITE\n")
    Seq("800.commit.requested", "800.commit.inflight", "800.commit")
      .foreach(f => write(s"$troot/db/gamma/.hoodie/$f"))
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setClass("fs.flaky.impl", classOf[FlakyFileSystem],
      classOf[org.apache.hadoop.fs.FileSystem])
    val base = TableDiscovery.BasePath("lake", "db",
      s"flaky:///${Paths.get(troot).toAbsolutePath.toString.stripPrefix("/")}/db")
    val cfg = LakeViewSync.SyncConfig(
      basePaths = Seq(base),
      mirrorRoot = s"$troot-mirror",
      checkpointDir = s"$troot-cp")
    FlakyFileSystem.faultsInjected.set(0)
    FlakyFileSystem.remainingFaults.set(1)
    val r = LakeViewSync.runOnce(spark, cfg)
    assert(FlakyFileSystem.faultsInjected.get() == 1, "fault was not exercised")
    assert(r.tablesDiscovered == 1 && r.allSucceeded && r.filesMirrored == 4)
  }

  test("failure taxonomy classifies the Hadoop-FS exception surface (T7)") {
    import LakeViewSync.FailureReason
    assert(FailureReason.classify(new java.io.FileNotFoundException("x")) == FailureReason.NoSuchKey)
    assert(FailureReason.classify(
      new RuntimeException(new org.apache.hadoop.security.AccessControlException("denied")))
      == FailureReason.AccessDenied)
    assert(FailureReason.classify(new java.io.IOException("503 SlowDown: throttled"))
      == FailureReason.RateLimiting)
    assert(FailureReason.classify(new IllegalStateException("boom")) == FailureReason.Unknown)
  }

  test("metrics registry records gauges, successes, and tagged failures (G11)") {
    import graft.jobs.SyncMetrics
    val mroot = s"$root-metrics"
    Seq(mroot, s"$mroot-mirror", s"$mroot-cp").foreach(rmTree)
    for (t <- Seq("ok1", "gone")) {
      write(s"$mroot/db/$t/.hoodie/hoodie.properties",
        s"hoodie.table.name=$t\nhoodie.table.type=COPY_ON_WRITE\n")
      write(s"$mroot/db/$t/.hoodie/100.commit.requested")
      write(s"$mroot/db/$t/.hoodie/100.commit.inflight")
      write(s"$mroot/db/$t/.hoodie/100.commit")
    }
    val base = TableDiscovery.BasePath("lake", "db",
      s"file:///${Paths.get(mroot).toAbsolutePath.toString.stripPrefix("/")}/db")
    val cfg = LakeViewSync.SyncConfig(basePaths = Seq(base),
      mirrorRoot = s"$mroot-mirror", checkpointDir = s"$mroot-cp")
    val m = new SyncMetrics
    val cs = new LakeViewSync.ContinuousSync(spark, cfg, clock = java.time.Clock.systemUTC(),
      metrics = m)
    cs.discoverTick()
    assert(m.tablesDiscoveredGauge.get() == 2)
    assert(m.count(SyncMetrics.TableDiscoverySuccess) == 1)
    rmTree(s"$mroot/db/gone/.hoodie") // break one table before upload
    val r = cs.processTick()
    assert(r.exists(!_.allSucceeded))
    assert(m.count(SyncMetrics.MetadataUploadSuccess) == 1)
    assert(m.count(SyncMetrics.TableMetadataProcessingFailure,
      LakeViewSync.FailureReason.NoSuchKey) == 1)
    assert(m.count(SyncMetrics.TableSyncFailure) == 1)
    assert(m.tablesProcessedGauge.get() == 1)
    assert(m.snapshot.contains("lakeView_table_metadata_processing_failure{reason=NO_SUCH_KEY}"))
  }

  test("a failing table isolates and is reported with a reason; healthy tables still sync") {
    val froot = s"$root-fail"
    Seq(froot, s"$froot-mirror", s"$froot-cp").foreach(rmTree)
    for (t <- Seq("good", "broken")) {
      write(s"$froot/db/$t/.hoodie/hoodie.properties",
        s"hoodie.table.name=$t\nhoodie.table.type=COPY_ON_WRITE\n")
      write(s"$froot/db/$t/.hoodie/700.commit.requested")
      write(s"$froot/db/$t/.hoodie/700.commit.inflight")
      write(s"$froot/db/$t/.hoodie/700.commit")
    }
    val base = TableDiscovery.BasePath("lake", "db",
      s"file:///${Paths.get(froot).toAbsolutePath.toString.stripPrefix("/")}/db")
    val cfg = LakeViewSync.SyncConfig(
      basePaths = Seq(base),
      mirrorRoot = s"$froot-mirror",
      checkpointDir = s"$froot-cp")
    // discover first, then break `broken` before the sync reads properties
    val tables = graft.operators.TableDiscovery.discover(spark.sparkContext.hadoopConfiguration, cfg.basePaths)
    rmTree(s"$froot/db/broken/.hoodie")
    val r = LakeViewSync.syncTables(spark, cfg, tables)
    assert(r.tablesSynced == 1 && !r.allSucceeded)
    assert(r.failures.size == 1 &&
      r.failures.values.head == LakeViewSync.FailureReason.NoSuchKey)
  }

  /** A `mocks3://` lake of one-commit tables `t1`…`tn` for the table-window
    * specs; `onRegister` runs in the metastore hook, which each mirrored
    * table calls last.
    */
  private def storeSync(bucket: String, n: Int, tableBatchSize: Int)(
      onRegister: graft.model.HudiTable => Unit): (LakeViewSync.SyncConfig, Seq[graft.model.HudiTable]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mocks3.impl", classOf[MockObjectStoreFs].getName)
    Seq(bucket, s"$bucket-mirror", s"$bucket-cp").foreach(MockObjectStoreFs.clear)
    def put(uri: String, content: String = ""): Unit = {
      val p = new org.apache.hadoop.fs.Path(uri)
      val out = p.getFileSystem(conf).create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    for (i <- 1 to n) {
      put(s"mocks3://$bucket/db/t$i/.hoodie/hoodie.properties",
        s"hoodie.table.name=t$i\nhoodie.table.type=COPY_ON_WRITE\n")
      Seq("100.commit.requested", "100.commit.inflight", "100.commit")
        .foreach(f => put(s"mocks3://$bucket/db/t$i/.hoodie/$f"))
    }
    val hook = new graft.jobs.MetastoreSync {
      def register(s: org.apache.spark.sql.SparkSession, table: graft.model.HudiTable,
          props: graft.model.HudiProperties, dir: String): Unit = onRegister(table)
    }
    val cfg = LakeViewSync.SyncConfig(
      basePaths = Seq(TableDiscovery.BasePath("lake", "db", s"mocks3://$bucket/db")),
      mirrorRoot = s"mocks3://$bucket-mirror", checkpointDir = s"mocks3://$bucket-cp",
      tableBatchSize = tableBatchSize, metastore = Some(hook))
    (cfg, TableDiscovery.discover(conf, cfg.basePaths, Nil))
  }

  private def tableOf(uri: String): Option[String] = "/db/(t\\d+)/".r.findFirstMatchIn(uri).map(_.group(1))

  test("tableBatchSize bounds tables in flight: a freed slot takes the next table at once") {
    val bucket = "window-lake"
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val (cfg, tables) = storeSync(bucket, 4, tableBatchSize = 2) { t =>
      events.add(s"end ${t.absoluteTableUri.split('/').last}")
    }
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // a table starts at its first storage call; t1's two reads of its
    // properties (the sync's, then the mirror's copy) are slow
    MockObjectStoreFs.delayWhen = { uri =>
      tableOf(uri).filter(started.add).foreach(t => events.add(s"start $t"))
      if (uri == s"mocks3://$bucket/db/t1/.hoodie/hoodie.properties") 600L else 0L
    }
    val r = try LakeViewSync.syncTables(spark, cfg, tables)
      finally MockObjectStoreFs.delayWhen = _ => 0L
    val log = events.asScala.toSeq
    val ends = log.filter(_.startsWith("end ")).map(_.stripPrefix("end "))
    assert(ends.indexOf("t3") < ends.indexOf("t1") && ends.indexOf("t4") < ends.indexOf("t1"),
      s"quick tables waited for the slow one: $log")
    val inFlight = log.scanLeft(0)((n, e) => if (e.startsWith("start ")) n + 1 else n - 1)
    assert(log.count(_.startsWith("start ")) == 4 && inFlight.max == 2, s"events: $log")
    // the outcome does not depend on the order tables finish in
    assert(r == LakeViewSync.SyncReport(4, 4, 16, allSucceeded = true))
    val files = Seq("hoodie.properties", "100.commit.requested", "100.commit.inflight", "100.commit")
    assert(MockObjectStoreFs.writes(s"$bucket-mirror").toSet ==
      tables.flatMap(t => files.map(f => s"/${t.tableId}/active/$f")).toSet)
  }

  test("a fatal error in a table fails the run, and no queued table starts after it") {
    val bucket = "fatal-lake"
    final class InjectedVmError extends VirtualMachineError("injected fatal error")
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val (cfg, _) = storeSync(bucket, 3, tableBatchSize = 1) { t =>
      if (t.absoluteTableUri.endsWith("/t1")) { events.add("fatal"); throw new InjectedVmError }
    }
    MockObjectStoreFs.delayWhen = { uri => events.add(uri); 0L }
    val e = try intercept[Throwable](LakeViewSync.runOnce(spark, cfg))
      finally {
        Thread.sleep(200) // time for any table still running to call the store
        MockObjectStoreFs.delayWhen = _ => 0L
      }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[InjectedVmError]))
    val log = events.asScala.toSeq
    assert(log.contains("fatal"))
    val after = log.dropWhile(_ != "fatal").drop(1)
    assert(!after.exists(u => tableOf(u).exists(Set("t2", "t3"))), s"calls after the fatal error: $after")
  }
}
