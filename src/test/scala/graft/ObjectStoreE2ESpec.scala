package graft

import graft.model.TimelineType
import graft.operators.{CheckpointStore, TableDiscovery, TimelineMirror}
import graft.sources.{FsListing, HoodiePropertiesReader}
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The full sync dataflow over a FOREIGN Hadoop scheme with object-store
  * semantics (`mocks3://`, [[MockObjectStoreFs]]): discovery, properties
  * read, commit-atomic mirror, checkpoint resume, and the driver-side
  * `listDirs` all resolve the store through `Path.getFileSystem` — the
  * exact seam a real s3a/gs/abfss deployment uses — rather than
  * short-circuiting onto local files. Catches scheme-portability bugs
  * local-FS specs cannot: authority handling, write-visibility
  * at stream close, and reliance on local listing order (this store lists
  * in strict lexicographic key order, like S3).
  */
class ObjectStoreE2ESpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSpec.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.mocks3.impl", classOf[MockObjectStoreFs].getName)
    s
  }
  private def conf = spark.sparkContext.hadoopConfiguration

  private val bucket = "mocks3://warehouse"

  private def put(uri: String, content: String = ""): Unit = {
    val p = new Path(uri)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    out.write(content.getBytes("UTF-8"))
    out.close()
  }

  private def mkLake(): Unit = {
    MockObjectStoreFs.clear("warehouse")
    put(s"$bucket/lake/db1/trips/.hoodie/hoodie.properties",
      "hoodie.table.name=trips\nhoodie.table.type=COPY_ON_WRITE\n")
    Seq("100.commit.requested", "100.commit.inflight", "100.commit",
      "200.deltacommit.requested", "200.deltacommit.inflight", "200.deltacommit",
      "300.commit.requested", "300.commit.inflight" // incomplete tail
    ).foreach(f => put(s"$bucket/lake/db1/trips/.hoodie/$f"))
    Seq(".commits_.archive.2_1-0-1", ".commits_.archive.10_1-0-1")
      .foreach(f => put(s"$bucket/lake/db1/trips/.hoodie/archived/$f"))
    put(s"$bucket/lake/db1/noise/readme.txt", "not a table")
  }

  private def base =
    TableDiscovery.BasePath("lake1", "db1", s"$bucket/lake/db1")

  test("discovery, properties, mirror, and resume run end-to-end on the object store") {
    mkLake()
    val tables = TableDiscovery.discover(conf, Seq(base))
    assert(tables.length == 1)
    val trips = tables.head
    assert(trips.absoluteTableUri == s"$bucket/lake/db1/trips")

    val props = HoodiePropertiesReader.read(conf,
      s"${trips.absoluteTableUri}/.hoodie/hoodie.properties")
    assert(props.tableName == "trips" && props.failureReason == null)

    // mirror INTO the object store as well — byte copy + checkpoint JSON
    // both ride create()/open() PUT-at-close semantics
    val mirrorRoot = s"$bucket/mirror"
    val cpDir = s"$bucket/checkpoints"
    val r1 = TimelineMirror.mirrorTable(conf, trips, props, mirrorRoot, cpDir)
    // archived: 2 files; active: properties + 2 complete groups (7 files)
    assert(r1.filesMirrored == 2 + 7, s"got ${r1.filesMirrored}")
    val active = FsListing.listDir(conf,
      s"$mirrorRoot/${trips.tableId}/active").map(_.filename)
    assert(active.contains("hoodie.properties") && !active.exists(_.startsWith("300.")))
    val cp = CheckpointStore.load(conf, cpDir)((trips.tableId, TimelineType.Active))
    assert(cp.lastUploadedFile == "200.deltacommit")

    // resume against the store is a no-op; completing the group unblocks it
    assert(TimelineMirror.mirrorTable(conf, trips, props, mirrorRoot, cpDir).filesMirrored == 0)
    put(s"$bucket/lake/db1/trips/.hoodie/300.commit")
    assert(TimelineMirror.mirrorTable(conf, trips, props, mirrorRoot, cpDir).filesMirrored == 3)

    // mirrored bytes round-trip (S8/S9 through open/create, not local IO)
    val fs = new Path(bucket).getFileSystem(conf)
    val in = fs.open(new Path(s"$mirrorRoot/${trips.tableId}/active/hoodie.properties"))
    val bytes = new Array[Byte](4096)
    val n = in.read(bytes)
    in.close()
    assert(new String(bytes, 0, n, "UTF-8").contains("hoodie.table.name=trips"))
  }

  test("listDirs lists every dir once, together, on the driver with no Spark job") {
    mkLake()
    val hoodie = s"$bucket/lake/db1/trips/.hoodie"
    val dirs = Seq(hoodie, s"$hoodie/archived", s"$bucket/lake/db1/noise")
    val before = MockObjectStoreFs.calls("warehouse")
    MockObjectStoreFs.callDelayMs = 200L
    val (ds, jobs) =
      try JobCount.of(spark)(FsListing.listDirs(spark, dirs))
      finally MockObjectStoreFs.callDelayMs = 0L
    assert(jobs == 0)
    // the listing is done when listDirs returns: one list per dir, together
    assert(MockObjectStoreFs.callsSince("warehouse", before) == Map("list" -> 3L))
    assert(MockObjectStoreFs.peakInFlight("warehouse") == dirs.size)
    val byDir = ds.collect().groupBy(_._1).view.mapValues(_.map(_._2.filename).toSeq).toMap
    assert(byDir(hoodie).contains("100.commit"))
    assert(byDir(s"$hoodie/archived").toSet ==
      Set(".commits_.archive.2_1-0-1", ".commits_.archive.10_1-0-1"))
    assert(byDir(s"$bucket/lake/db1/noise") == Seq("readme.txt"))
    // reading the relation lists nothing again
    assert(MockObjectStoreFs.callsSince("warehouse", before) == Map("list" -> 3L))
  }

  test("listDirs surfaces a failing dir's listing as its own exception") {
    mkLake()
    val archived = s"$bucket/lake/db1/trips/.hoodie/archived"
    MockObjectStoreFs.failWhen = _ == archived
    val e =
      try intercept[org.apache.hadoop.security.AccessControlException](
        FsListing.listDirs(spark, Seq(s"$bucket/lake/db1/trips/.hoodie", archived)))
      finally MockObjectStoreFs.failWhen = _ => false
    assert(e.getMessage.contains(archived))
  }

  test("listing order is lexicographic (S3 contract), and the batcher handles it") {
    mkLake()
    val names = FsListing.listDir(conf,
      s"$bucket/lake/db1/trips/.hoodie").map(_.filename)
    assert(names == names.sorted, s"store must list in key order, got $names")
    // lexicographic order puts archive idx 10 BEFORE idx 2 — the numeric
    // archived sort (O3) must not rely on listing order
    val archived = FsListing.listDir(conf,
      s"$bucket/lake/db1/trips/.hoodie/archived").map(_.filename)
    assert(archived == Seq(".commits_.archive.10_1-0-1", ".commits_.archive.2_1-0-1"))
  }

  test("structured streaming file source drives the continuous path on the store") {
    import spark.implicits._
    import graft.streaming.TimelineStream
    import org.apache.spark.sql.streaming.Trigger
    mkLake()
    // every leg of the streaming job lives on the object store: the lake
    // being watched, the event objects a discovery tick emits, the file
    // source that ingests them, the streaming CHECKPOINT (offsets + the
    // flatMapGroupsWithState state store hand-off), and the parquet sink
    // with its _spark_metadata log — the full continuous-sync dataflow the
    // driver-loop path runs, as one Structured Streaming job against
    // mocks3:// (reference continuous mode,
    // TableDiscoveryAndUploadJob.java:63-79)
    val eventsDir = s"$bucket/stream/events"
    val ckptDir = s"$bucket/stream/ckpt"
    val outDir = s"$bucket/stream/out"

    val hoodieDir = s"$bucket/lake/db1/trips/.hoodie"
    def activeListing(): Seq[(String, Long)] =
      FsListing.listDir(conf, hoodieDir)
        .filter(_.filename.matches("""\d+(_\d+)?(\.[a-z]{1,20}){1,2}"""))
        .map(f => f.filename -> f.lastModifiedAt.getTime)

    // one discovery tick: emit the instant files NOT yet delivered as an
    // event-JSON object (the incremental listing a checkpointed discovery
    // pass produces — re-delivering an already-emitted completed group
    // would wrongly re-open its state)
    var delivered = Set.empty[String]
    def tick(name: String): Unit = {
      val fresh = activeListing().filterNot(f => delivered.contains(f._1))
      delivered ++= fresh.map(_._1)
      put(s"$eventsDir/$name", fresh.map { case (f, t) =>
        s"""{"tableId":"trips","filename":"$f","eventTime":"${new java.sql.Timestamp(t)}"}"""
      }.mkString("\n"))
    }

    def runOnce(): Unit = {
      val events = spark.readStream
        .schema("tableId STRING, filename STRING, eventTime TIMESTAMP")
        .json(eventsDir)
        .as[TimelineStream.InstantEvent]
      val q = TimelineStream.completedGroups(events)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "streaming batch did not finish in 120s")
    }
    def completedTs(): Seq[String] =
      spark.read.parquet(outDir).select("ts").collect().map(_.getString(0)).sorted.toSeq

    // tick 1: groups 100 and 200 are complete, 300 is requested+inflight —
    // the stream must emit the two complete groups and HOLD 300 as state
    tick("b0.json")
    runOnce()
    assert(completedTs() == Seq("100", "200"))

    // the lake completes the 300 group; the next tick delivers only the new
    // file, and the restarted query recovers 300's partial state from the
    // object-store checkpoint to emit the completion
    put(s"$hoodieDir/300.commit")
    tick("b1.json")
    runOnce()
    assert(completedTs() == Seq("100", "200", "300"))
  }

  test("object-store semantics: immutable objects, PUT visibility at close") {
    MockObjectStoreFs.clear("warehouse")
    val fs = new Path(bucket).getFileSystem(conf)
    intercept[UnsupportedOperationException](fs.append(new Path(s"$bucket/x")))
    val out = fs.create(new Path(s"$bucket/dir/obj"), true)
    out.write("abc".getBytes)
    assert(!fs.exists(new Path(s"$bucket/dir/obj"))) // not visible mid-write
    out.close()
    assert(fs.exists(new Path(s"$bucket/dir/obj")))
    assert(fs.getFileStatus(new Path(s"$bucket/dir")).isDirectory) // implicit prefix
  }
}
