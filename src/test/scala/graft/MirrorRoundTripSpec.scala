package graft

import graft.model.{Checkpoint, HudiProperties, HudiTable, TimelineType}
import graft.operators.{CheckpointStore, TimelineMirror}
import graft.sources.{FsListing, HoodiePropertiesReader, LsmManifestReader}
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The storage round-trip budget of every step on the sync path, counted
  * per call kind on the object store ([[MockObjectStoreFs]]): a copied file
  * is one `open` on the lake plus one `create` on the mirror, a checkpoint
  * upsert is `create` + `delete` + `rename`, and an absent directory or
  * marker costs the one call that finds it absent — no `mkdirs`, no
  * existence probes.
  */
class MirrorRoundTripSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSpec.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.mocks3.impl", classOf[MockObjectStoreFs].getName)
    s
  }
  private def conf = spark.sparkContext.hadoopConfiguration

  private val Lake = "rt-lake"
  private val Mirror = "rt-mirror"
  private val Cp = "rt-cp"

  private def put(uri: String, content: String = ""): Unit = {
    val p = new Path(uri)
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Calls `body` makes on each bucket, by kind (kinds with no call left out). */
  private def callsOf[T](buckets: String*)(body: => T): (T, Map[String, Map[String, Long]]) = {
    val before = buckets.map(b => b -> MockObjectStoreFs.calls(b)).toMap
    val out = body
    out -> buckets.map { b =>
      val now = MockObjectStoreFs.calls(b)
      b -> now.map { case (k, v) => k -> (v - before(b).getOrElse(k, 0L)) }.filter(_._2 > 0)
    }.toMap
  }

  /** Empty buckets, then a V1 table with 2 archived files and an active
    * timeline of properties + 2 complete groups + an incomplete tail.
    */
  private def mkV1Table(): (HudiTable, HudiProperties) = {
    Seq(Lake, Mirror, Cp).foreach(MockObjectStoreFs.clear)
    val tableUri = s"mocks3://$Lake/db1/trips"
    put(s"$tableUri/.hoodie/hoodie.properties",
      "hoodie.table.name=trips\nhoodie.table.type=COPY_ON_WRITE\n")
    Seq("100.commit.requested", "100.commit.inflight", "100.commit",
      "200.deltacommit.requested", "200.deltacommit.inflight", "200.deltacommit",
      "300.commit.requested", "300.commit.inflight" // incomplete tail
    ).foreach(f => put(s"$tableUri/.hoodie/$f"))
    Seq(".commits_.archive.2_1-0-1", ".commits_.archive.10_1-0-1")
      .foreach(f => put(s"$tableUri/.hoodie/archived/$f"))
    val props = HoodiePropertiesReader.read(conf, s"$tableUri/.hoodie/hoodie.properties")
    (HudiTable(tableUri, "db1", "lake1", "trips-id"), props)
  }

  test("a fresh V1 mirror costs one open and one create per copied file, and no mkdirs or status") {
    val (table, props) = mkV1Table()

    val (r, calls) = callsOf(Lake, Mirror, Cp) {
      TimelineMirror.mirrorTable(conf, table, props, s"mocks3://$Mirror", s"mocks3://$Cp")
    }
    // archived: 2 files; active: properties + 2 complete groups
    val n = 2L + 7
    assert(r.filesMirrored == n)
    // the lake: one listing per timeline dir, one open per copied file
    assert(calls(Lake) == Map("list" -> 2L, "open" -> n))
    // the mirror: one create per copied file, nothing else
    assert(calls(Mirror) == Map("create" -> n))
    // checkpoints: one listing (no checkpoint yet), then per upsert
    // create + delete + rename — after the archived batch, at the end of
    // the archived phase, and after the one active batch
    assert(calls(Cp) == Map("list" -> 1L, "create" -> 3L, "delete" -> 3L, "rename" -> 3L))
    val cp = CheckpointStore.loadTable(conf, s"mocks3://$Cp", table.tableId)
    assert(cp(TimelineType.Active).lastUploadedFile == "200.deltacommit")
  }

  test("a checkpoint upsert is create + delete + rename, fresh or overwriting") {
    MockObjectStoreFs.clear(Cp)
    val store = s"mocks3://$Cp"
    val c1 = Checkpoint(1, new java.sql.Timestamp(1000L), "100.commit", null,
      archivedCommitsProcessed = true)
    val expected = Map("create" -> 1L, "delete" -> 1L, "rename" -> 1L)
    val (_, fresh) = callsOf(Cp)(CheckpointStore.upsert(conf, store, "t1", TimelineType.Active, c1))
    assert(fresh(Cp) == expected)
    val c2 = c1.copy(batchId = 2, lastUploadedFile = "200.commit")
    val (_, overwrite) = callsOf(Cp)(CheckpointStore.upsert(conf, store, "t1", TimelineType.Active, c2))
    assert(overwrite(Cp) == expected)
    assert(CheckpointStore.loadTable(conf, store, "t1") == Map(TimelineType.Active -> c2))
  }

  test("an absent dir, checkpoint or version marker costs one call and reads as absent") {
    MockObjectStoreFs.clear(Lake)
    val (listed, listCalls) = callsOf(Lake)(FsListing.listDir(conf, s"mocks3://$Lake/no/such/dir"))
    assert(listed.isEmpty && listCalls(Lake) == Map("list" -> 1L))
    val (cps, cpCalls) = callsOf(Lake)(CheckpointStore.loadTable(conf, s"mocks3://$Lake/cp", "t1"))
    assert(cps.isEmpty && cpCalls(Lake) == Map("list" -> 1L))
    val (version, versionCalls) =
      callsOf(Lake)(LsmManifestReader.latestVersion(conf, s"mocks3://$Lake/t/.hoodie/timeline/history"))
    assert(version.isEmpty && versionCalls(Lake) == Map("open" -> 1L))
  }

  test("one transient fault on a checkpoint create is retried, and the table mirrors with its checkpoints") {
    val (table, props) = mkV1Table()
    val faults = new java.util.concurrent.atomic.AtomicInteger(1)
    MockObjectStoreFs.transientFaultWhen = (kind, uri) =>
      kind == "create" && uri.startsWith(s"mocks3://$Cp/") && faults.getAndDecrement() > 0
    val (r, calls) =
      try callsOf(Cp)(TimelineMirror.mirrorTable(conf, table, props, s"mocks3://$Mirror", s"mocks3://$Cp"))
      finally MockObjectStoreFs.transientFaultWhen = (_, _) => false
    assert(r.filesMirrored == 9)
    // the archived batch's upsert failed on its create and ran again whole
    assert(calls(Cp) == Map("list" -> 1L, "create" -> 4L, "delete" -> 3L, "rename" -> 3L))
    val cps = CheckpointStore.loadTable(conf, s"mocks3://$Cp", table.tableId)
    assert(cps(TimelineType.Archived).lastUploadedFile == ".commits_.archive.10_1-0-1")
    assert(cps(TimelineType.Active) == r.checkpoint)
    assert(r.checkpoint.lastUploadedFile == "200.deltacommit" && r.checkpoint.archivedCommitsProcessed)
  }

  test("a malformed properties value or version marker fails on its one open, without retries") {
    MockObjectStoreFs.clear(Lake)
    val tableUri = s"mocks3://$Lake/db1/bad"
    put(s"$tableUri/.hoodie/hoodie.properties",
      "hoodie.table.name=bad\nhoodie.table.type=COPY_ON_WRITE\nhoodie.table.version=abc\n")
    val (props, propsCalls) =
      callsOf(Lake)(HoodiePropertiesReader.read(conf, s"$tableUri/.hoodie/hoodie.properties"))
    assert(props.failureReason == "NumberFormatException")
    assert(propsCalls(Lake) == Map("open" -> 1L))
    // a V2 table whose `_version_` is not a number: the table fails
    put(s"$tableUri/.hoodie/timeline/history/_version_", "x")
    val v2 = HudiProperties("bad", "COPY_ON_WRITE", timelineLayoutVersion = 2)
    val (_, versionCalls) = callsOf(Lake)(intercept[NumberFormatException](
      TimelineMirror.mirrorTable(conf, HudiTable(tableUri, "db1", "lake1", "bad-id"), v2,
        s"mocks3://$Mirror", s"mocks3://$Cp")))
    assert(versionCalls(Lake) == Map("open" -> 1L))
  }
}
