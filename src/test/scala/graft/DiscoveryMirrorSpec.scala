package graft

import java.nio.file.{Files, Paths}

import graft.model.{Checkpoint, TimelineType, UploadStrategy}
import graft.operators.{CheckpointStore, TableDiscovery, TimelineMirror}
import graft.sources.{FsListing, HoodiePropertiesReader, LsmManifestReader}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end over a synthesized lake on local FS: discovery (D1-D5) ->
  * hoodie.properties (S5) -> mirror with commit-atomic batching + per-batch
  * checkpoints (T2/T3) -> resume is a no-op. Shapes mirror the reference's
  * TableDiscoveryServiceTest / TimelineCommitInstantsUploaderTest scenarios.
  */
class DiscoveryMirrorSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private def conf = spark.sparkContext.hadoopConfiguration
  private val root = "target/tmp/lake-fixture"

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

  private def mkLake(): Unit = {
    rmTree(root)
    Seq("-mirror", "-cp", "-mirror2", "-cp2").foreach(s => rmTree(root + s))
    // table 1: V1 layout, complete + incomplete commits, archived files
    write(s"$root/db1/trips/.hoodie/hoodie.properties",
      "hoodie.table.name=trips\nhoodie.table.type=COPY_ON_WRITE\n")
    Seq("100.commit.requested", "100.commit.inflight", "100.commit",
      "200.deltacommit.requested", "200.deltacommit.inflight", "200.deltacommit",
      "300.commit.requested", "300.commit.inflight" // incomplete tail
    ).foreach(f => write(s"$root/db1/trips/.hoodie/$f"))
    Seq(".commits_.archive.2_1-0-1", ".commits_.archive.10_1-0-1",
      ".commits_.archive.9_1-0-1")
      .foreach(f => write(s"$root/db1/trips/.hoodie/archived/$f"))
    // table 2: nested two levels down
    write(s"$root/db1/nested/deep/users/.hoodie/hoodie.properties",
      "hoodie.table.name=users\nhoodie.table.type=MERGE_ON_READ\n" +
        "hoodie.table.version=8\nhoodie.timeline.layout.version=2\n")
    write(s"$root/db1/nested/deep/users/.hoodie/timeline/400.commit.requested")
    write(s"$root/db1/nested/deep/users/.hoodie/timeline/400.commit.inflight")
    write(s"$root/db1/nested/deep/users/.hoodie/timeline/400_401.commit")
    write(s"$root/db1/nested/deep/users/.hoodie/timeline/history/_version_", "2")
    write(s"$root/db1/nested/deep/users/.hoodie/timeline/history/manifest_2",
      """{"files":[{"fileName":"1_2_3.parquet","fileLen":10},{"fileName":"4_5_6.parquet","fileLen":20}]}""")
    write(s"$root/db1/nested/deep/users/.hoodie/timeline/history/1_2_3.parquet", "x")
    write(s"$root/db1/nested/deep/users/.hoodie/timeline/history/4_5_6.parquet", "y")
    // excluded subtree + non-table noise
    write(s"$root/db1/scratch/.hoodie/hoodie.properties", "hoodie.table.name=no\n")
    write(s"$root/db1/plain/readme.txt", "not a table")
  }

  private def base = TableDiscovery.BasePath("lake1", "db1", s"file:///${Paths.get(root).toAbsolutePath.toString.stripPrefix("/")}/db1")

  test("discovery finds nested tables, prunes exclusions, derives UUIDv3 ids") {
    mkLake()
    val tables = TableDiscovery.discover(conf, Seq(base), Seq(".*/scratch"))
    val names = tables.map(_.absoluteTableUri.split("/").last).sorted.toSeq
    assert(names == Seq("trips", "users"))
    tables.foreach { t =>
      assert(t.tableId ==
        graft.functions.InstantFunctions.uuidV3(t.absoluteTableUri))
      assert(t.lakeName == "lake1" && t.databaseName == "db1")
    }
  }

  test("pinned tableId via path#id suffix requires exactly one discovered table") {
    mkLake()
    // path IS the table root: one table discovered, id pinned
    val pinned = base.copy(uri = base.uri + "/trips#my-fixed-id")
    val tables = TableDiscovery.discover(conf, Seq(pinned))
    assert(tables.length == 1 && tables.head.tableId == "my-fixed-id")
    assert(tables.head.absoluteTableUri.endsWith("/trips"))

    // pinned path holding SEVERAL tables contributes nothing
    // (TableDiscoveryService exactly-one rule)
    val ambiguous = base.copy(uri = base.uri + "#other-id")
    assert(TableDiscovery.discover(conf, Seq(ambiguous)).isEmpty)

    // pinned path with a single table in a subdirectory pins that table
    val viaParent = base.copy(uri = base.uri + "/nested#deep-id")
    val deep = TableDiscovery.discover(conf, Seq(viaParent))
    assert(deep.length == 1 && deep.head.tableId == "deep-id")
    assert(deep.head.absoluteTableUri.endsWith("/users"))
  }

  test("one pinned path under two databases pins its table once per config, in config order") {
    mkLake()
    val uri = base.uri + "/trips#my-fixed-id"
    val configs = Seq(base.copy(databaseName = "dbZ", uri = uri), base.copy(databaseName = "dbA", uri = uri))
    val tables = TableDiscovery.discover(conf, configs)
    assert(tables.map(t => t.databaseName -> t.tableId) == Seq("dbZ" -> "my-fixed-id", "dbA" -> "my-fixed-id"))
    assert(tables.forall(_.absoluteTableUri.endsWith("/trips")))
  }

  test("manifest reader: whitespace version, unknown JSON fields, empty files, missing manifest") {
    // ports LSMTimelineManifestReaderTest corner cases: _version_ parses
    // with surrounding whitespace, unknown manifest fields are ignored,
    // an empty files array is an empty (not failed) snapshot, and a missing
    // manifest file propagates as a fast failure (FileNotFound is terminal,
    // not retried)
    val dir = java.nio.file.Files.createTempDirectory("lsm-corner").toString
    write(s"$dir/_version_", " 3 \n")
    write(s"$dir/manifest_3",
      """{"files":[{"fileName":"a.parquet","fileLen":1,"extra":true}],"unknown":{"x":1}}""")
    val snap = LsmManifestReader.latestSnapshot(conf, s"file://$dir")
    assert(snap.version == 3 && snap.parquetFileNames == Seq("a.parquet"))

    write(s"$dir/manifest_4", """{"files":[]}""")
    assert(LsmManifestReader.readManifest(conf, s"file://$dir", 4).parquetFileNames.isEmpty)

    val t0 = System.nanoTime()
    intercept[java.io.FileNotFoundException](
      LsmManifestReader.readManifest(conf, s"file://$dir", 9))
    assert((System.nanoTime() - t0) / 1e9 < 2.0) // no retry backoff on missing key
  }

  test("invalid base path contributes an empty set, not a failure") {
    val bad = TableDiscovery.BasePath("lake1", "db1", "file:///this-is-some-invalid-path")
    assert(TableDiscovery.discover(conf, Seq(bad)).isEmpty)
  }

  test("properties read with defaults and failure sentinel") {
    mkLake()
    val ok = HoodiePropertiesReader.read(conf,
      s"${base.cleanUri}/trips/.hoodie/hoodie.properties")
    assert(ok.tableName == "trips" && ok.tableType == "COPY_ON_WRITE")
    assert(ok.tableVersion == 6 && ok.timelineLayoutVersion == 1) // defaults
    val v8 = HoodiePropertiesReader.read(conf,
      s"${base.cleanUri}/nested/deep/users/.hoodie/hoodie.properties")
    assert(v8.tableVersion == 8 && v8.timelineLayoutVersion == 2)
    val bad = HoodiePropertiesReader.read(conf, s"${base.cleanUri}/nope/hoodie.properties")
    assert(bad.failureReason != null)
  }

  test("V1 mirror: archived numeric order, commit-atomic active batches, checkpoint, idempotent resume") {
    mkLake()
    val mirrorRoot = s"$root-mirror"
    val cpDir = s"$root-cp"
    val tables = TableDiscovery.discover(conf, Seq(base), Seq(".*/scratch"))
    val trips = tables.find(_.absoluteTableUri.endsWith("trips")).get
    val props = HoodiePropertiesReader.read(conf,
      s"${trips.absoluteTableUri}/.hoodie/hoodie.properties")

    val r1 = TimelineMirror.mirrorTable(conf, trips, props, mirrorRoot, cpDir)
    // archived: 3 files in 2 batches; active: properties + 2 complete groups
    // (7 files), blocked at the incomplete 300.commit group
    assert(r1.filesMirrored == 3 + 7)
    val mirroredActive = FsListing.listDir(conf,
      s"$mirrorRoot/${trips.tableId}/active").map(_.filename).sorted
    assert(!mirroredActive.exists(_.startsWith("300.")))
    assert(mirroredActive.contains("hoodie.properties"))
    val cp = CheckpointStore.load(conf, cpDir)((trips.tableId, TimelineType.Active))
    assert(cp.archivedCommitsProcessed && cp.lastUploadedFile == "200.deltacommit")

    // resume: nothing new below the incomplete group => no new files
    val r2 = TimelineMirror.mirrorTable(conf, trips, props, mirrorRoot, cpDir)
    assert(r2.filesMirrored == 0)

    // completing the commit unblocks exactly that group
    write(s"$root/db1/trips/.hoodie/300.commit")
    val r3 = TimelineMirror.mirrorTable(conf, trips, props, mirrorRoot, cpDir)
    assert(r3.filesMirrored == 3)
  }

  test("non-blocking mirror: skips incomplete group, records watermark, re-includes on completion") {
    mkLake()
    val mirrorRoot = s"$root-mirror-nb"
    val cpDir = s"$root-cp-nb"
    rmTree(mirrorRoot); rmTree(cpDir)
    // timeline: complete 100, INCOMPLETE 200 (missing completed), complete 300
    val hoodie = s"$root/db1/trips/.hoodie"
    rmTree(s"$root/db1/trips")
    write(s"$hoodie/hoodie.properties",
      "hoodie.table.name=trips\nhoodie.table.type=COPY_ON_WRITE\n")
    Seq("100.commit.requested", "100.commit.inflight", "100.commit",
      "200.deltacommit.requested", "200.deltacommit.inflight",
      "300.commit.requested", "300.commit.inflight", "300.commit")
      .foreach(f => write(s"$hoodie/$f"))

    val tables = TableDiscovery.discover(conf, Seq(base), Seq(".*/scratch"))
    val trips = tables.find(_.absoluteTableUri.endsWith("trips")).get
    val props = HoodiePropertiesReader.read(conf,
      s"${trips.absoluteTableUri}/.hoodie/hoodie.properties")

    val r1 = TimelineMirror.mirrorTable(conf, trips, props, mirrorRoot, cpDir,
      strategy = UploadStrategy.ContinueOnIncompleteCommit)
    val active = FsListing.listDir(conf,
      s"$mirrorRoot/${trips.tableId}/active").map(_.filename)
    // 100 and 300 groups mirrored; incomplete 200 skipped
    assert(active.count(_.startsWith("100.")) == 3)
    assert(active.count(_.startsWith("300.")) == 3)
    assert(!active.exists(_.startsWith("200.")))
    // watermark = min(incomplete ts) - 1 (G5/T4)
    assert(r1.checkpoint.firstIncompleteCommitFile == "199")

    // the 200 group completes later with a NEWER modified time; non-blocking
    // resume re-lists from the watermark and re-includes the whole group
    Thread.sleep(1100)
    write(s"$hoodie/200.deltacommit")
    Seq("200.deltacommit.requested", "200.deltacommit.inflight").foreach { f =>
      Files.setLastModifiedTime(Paths.get(s"$hoodie/$f"),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    }
    val r2 = TimelineMirror.mirrorTable(conf, trips, props, mirrorRoot, cpDir,
      strategy = UploadStrategy.ContinueOnIncompleteCommit)
    val active2 = FsListing.listDir(conf,
      s"$mirrorRoot/${trips.tableId}/active").map(_.filename)
    assert(active2.count(_.startsWith("200.")) == 3, s"got: ${active2.sorted}")
    assert(r2.checkpoint.firstIncompleteCommitFile == null ||
      r2.checkpoint.firstIncompleteCommitFile.isEmpty)
  }

  test("V2/LSM mirror: manifest anti-join with ordered trailer") {
    mkLake()
    val mirrorRoot = s"$root-mirror2"
    val cpDir = s"$root-cp2"
    val tables = TableDiscovery.discover(conf, Seq(base), Seq(".*/scratch"))
    val users = tables.find(_.absoluteTableUri.endsWith("users")).get
    val props = HoodiePropertiesReader.read(conf,
      s"${users.absoluteTableUri}/.hoodie/hoodie.properties")
    val r = TimelineMirror.mirrorTable(conf, users, props, mirrorRoot, cpDir)
    val archived = FsListing.listDir(conf,
      s"$mirrorRoot/${users.tableId}/archived").map(_.filename).sorted
    assert(archived == Seq("1_2_3.parquet", "4_5_6.parquet", "_version_", "manifest_2").sorted)
    // V9 completed instant (400_401.commit) mirrored in the active phase
    val active = FsListing.listDir(conf,
      s"$mirrorRoot/${users.tableId}/active").map(_.filename)
    assert(active.contains("400_401.commit"))
    assert(r.checkpoint.lastArchivedManifestVersion == 2)
  }

  test("crash mid-archived-phase resumes from the Archived checkpoint row (F3)") {
    mkLake()
    val mirrorRoot = s"$root-mirror-f3"
    val cpDir = s"$root-cp-f3"
    rmTree(mirrorRoot); rmTree(cpDir)
    val tables = TableDiscovery.discover(conf, Seq(base), Seq(".*/scratch"))
    val trips = tables.find(_.absoluteTableUri.endsWith("trips")).get
    val props = HoodiePropertiesReader.read(conf,
      s"${trips.absoluteTableUri}/.hoodie/hoodie.properties")

    // simulate a crash after archived batch 1 ([idx2, idx9] copied,
    // checkpointed) and before batch 2: only the Archived row exists
    CheckpointStore.upsert(conf, cpDir, trips.tableId, TimelineType.Archived,
      Checkpoint(1, new java.sql.Timestamp(1000L), ".commits_.archive.9_1-0-1",
        null, archivedCommitsProcessed = false))

    val r = TimelineMirror.mirrorTable(conf, trips, props, mirrorRoot, cpDir)
    // archived resume copies ONLY idx 10 (not 2 or 9); active copies
    // properties + 2 complete groups = 7 files
    assert(r.filesMirrored == 1 + 7, s"got ${r.filesMirrored}")
    val archived = FsListing.listDir(conf,
      s"$mirrorRoot/${trips.tableId}/archived").map(_.filename)
    assert(archived == Seq(".commits_.archive.10_1-0-1"))
  }

  test("V2/LSM incremental mirror after compaction copies ONLY net-new files") {
    mkLake()
    val mirrorRoot = s"$root-mirror2i"
    val cpDir = s"$root-cp2i"
    rmTree(mirrorRoot); rmTree(cpDir)
    val tables = TableDiscovery.discover(conf, Seq(base), Seq(".*/scratch"))
    val users = tables.find(_.absoluteTableUri.endsWith("users")).get
    val props = HoodiePropertiesReader.read(conf,
      s"${users.absoluteTableUri}/.hoodie/hoodie.properties")

    val r1 = TimelineMirror.mirrorTable(conf, users, props, mirrorRoot, cpDir)
    assert(r1.checkpoint.lastArchivedManifestVersion == 2)

    // unchanged manifest => a sync is a complete no-op
    val r2 = TimelineMirror.mirrorTable(conf, users, props, mirrorRoot, cpDir)
    assert(r2.filesMirrored == 0)

    // compaction merges the two L0 parquets into one L1 file and a new L0
    // lands; manifest_3 references ONLY those two (reference
    // TimelineCommitInstantsUploaderTest incremental-after-compaction case)
    val hist = s"$root/db1/nested/deep/users/.hoodie/timeline/history"
    write(s"$hist/compacted_1_6.parquet", "z")
    write(s"$hist/7_8_9.parquet", "w")
    write(s"$hist/manifest_3",
      """{"files":[{"fileName":"compacted_1_6.parquet","fileLen":30},{"fileName":"7_8_9.parquet","fileLen":5}]}""")
    write(s"$hist/_version_", "3")

    val r3 = TimelineMirror.mirrorTable(conf, users, props, mirrorRoot, cpDir)
    // ONLY the 2 net-new parquets + manifest_3 + _version_; the bootstrap
    // parquets are NOT re-copied
    assert(r3.filesMirrored == 4, s"expected 4 files, got ${r3.filesMirrored}")
    assert(r3.checkpoint.lastArchivedManifestVersion == 3)
    val archived = FsListing.listDir(conf,
      s"$mirrorRoot/${users.tableId}/archived").map(_.filename)
    assert(Seq("compacted_1_6.parquet", "7_8_9.parquet", "manifest_3").forall(archived.contains))
  }

  test("manifest reader: missing _version_ means empty snapshot; anti-join diff") {
    val snap = LsmManifestReader.latestSnapshot(conf, s"$root/nonexistent/history")
    assert(snap.version == 0 && snap.parquetFileNames.isEmpty)
    val diff = LsmManifestReader.newFiles(
      graft.model.ManifestSnapshot(3, Seq("a.parquet", "b.parquet", "c.parquet")),
      graft.model.ManifestSnapshot(2, Seq("b.parquet")))
    assert(diff == Seq("a.parquet", "c.parquet"))
  }

  test("checkpoint JSON round-trips the reference Jackson shape") {
    val c = Checkpoint(7, java.sql.Timestamp.from(java.time.Instant.parse("2024-07-23T10:15:30Z")),
      "200.deltacommit", null, archivedCommitsProcessed = true, 3)
    val j = CheckpointStore.toJson(c)
    assert(j.contains(""""checkpointTimestamp":"2024-07-23T10:15:30Z""""))
    assert(CheckpointStore.fromJson(j) == c)
  }

  test("listing: prefix + startAfter seek semantics (Azure-normalized)") {
    mkLake()
    val all = FsListing.listDir(conf, s"${base.cleanUri}/trips/.hoodie")
    assert(all.exists(_.filename == "archived") && all.exists(_.isDirectory))
    val after = FsListing.listDir(conf, s"${base.cleanUri}/trips/.hoodie", startAfter = "100.commit.requested")
    assert(!after.exists(_.filename == "100.commit.inflight"))
    assert(after.exists(_.filename == "200.deltacommit"))
    val pref = FsListing.listDir(conf, s"${base.cleanUri}/trips/.hoodie", prefix = "200")
    assert(pref.map(_.filename).forall(_.startsWith("200")))
  }
}
