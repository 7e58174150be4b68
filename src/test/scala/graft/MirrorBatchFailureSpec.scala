package graft

import scala.jdk.CollectionConverters._

import graft.jobs.{LakeViewSync, SyncMetrics}
import graft.model.{HudiTable, TimelineType}
import graft.operators.CheckpointStore
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** A batch's copies run concurrently, and the checkpoint is the barrier
  * between batches: a failed copy fails the table with its classified
  * reason, the checkpoint stays at the last whole batch, and a rerun
  * mirrors exactly the expected objects. On an LSM table the trailer
  * (manifest_N, then _version_) lands after every parquet of the snapshot,
  * and not at all when a parquet fails.
  */
class MirrorBatchFailureSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSpec.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.mocks3.impl", classOf[MockObjectStoreFs].getName)
    s
  }
  private def conf = spark.sparkContext.hadoopConfiguration

  private val Lake = "bf-lake"
  private val Mirror = "bf-mirror"
  private val Cp = "bf-cp"

  private def put(uri: String, content: String = ""): Unit = {
    val p = new Path(uri)
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def objects(bucket: String): Set[String] =
    MockObjectStoreFs.bucket(bucket).asScala.collect { case (k, e) if !e.isDir => k }.toSet

  private def sync(table: HudiTable, maxBatchSize: Int = 20): LakeViewSync.SyncReport =
    LakeViewSync.syncTables(spark, LakeViewSync.SyncConfig(basePaths = Nil,
      mirrorRoot = s"mocks3://$Mirror", checkpointDir = s"mocks3://$Cp",
      maxBatchSize = maxBatchSize), Seq(table), metrics = new SyncMetrics)

  private def withFault[T](when: String => Boolean)(body: => T): T = {
    MockObjectStoreFs.failWhen = when
    try body finally MockObjectStoreFs.failWhen = _ => false
  }

  test("a failed copy in the second active batch fails the table and keeps batch 1's checkpoint") {
    Seq(Lake, Mirror, Cp).foreach(MockObjectStoreFs.clear)
    val tableUri = s"mocks3://$Lake/db1/trips"
    put(s"$tableUri/.hoodie/hoodie.properties",
      "hoodie.table.name=trips\nhoodie.table.type=COPY_ON_WRITE\n")
    val instants = Seq(100, 200, 300).flatMap(ts =>
      Seq(s"$ts.commit.requested", s"$ts.commit.inflight", s"$ts.commit"))
    instants.foreach(f => put(s"$tableUri/.hoodie/$f"))
    val table = HudiTable(tableUri, "db1", "lake1", "trips-id")
    // batch size 4: [properties + 100], [200], [300]
    val report = withFault(_.endsWith("/.hoodie/200.commit.inflight"))(sync(table, maxBatchSize = 4))
    assert(!report.allSucceeded)
    assert(report.failures == Map(tableUri -> LakeViewSync.FailureReason.AccessDenied))
    val cp = CheckpointStore.loadTable(conf, s"mocks3://$Cp", table.tableId)(TimelineType.Active)
    assert(cp.batchId == 1 && cp.lastUploadedFile == "100.commit")
    // batch 3 never started
    assert(!objects(Mirror).exists(_.contains("/300.")))

    val rerun = sync(table, maxBatchSize = 4)
    assert(rerun.allSucceeded && rerun.filesMirrored == 6)
    val expected = ("hoodie.properties" +: instants).map(f => s"/${table.tableId}/active/$f").toSet
    assert(objects(Mirror) == expected)
    val done = CheckpointStore.loadTable(conf, s"mocks3://$Cp", table.tableId)(TimelineType.Active)
    assert(done.batchId == 3 && done.lastUploadedFile == "300.commit")
  }

  test("LSM trailer lands after every parquet of the snapshot, and not at all when one fails") {
    Seq(Lake, Mirror, Cp).foreach(MockObjectStoreFs.clear)
    val tableUri = s"mocks3://$Lake/db1/users"
    val hoodie = s"$tableUri/.hoodie"
    put(s"$hoodie/hoodie.properties",
      "hoodie.table.name=users\nhoodie.table.type=MERGE_ON_READ\n" +
        "hoodie.table.version=8\nhoodie.timeline.layout.version=2\n")
    Seq("400.commit.requested", "400.commit.inflight", "400_401.commit")
      .foreach(f => put(s"$hoodie/timeline/$f"))
    val parquets = (1 to 8).map(i => s"${i}_${i + 1}_0.parquet")
    parquets.foreach(f => put(s"$hoodie/timeline/history/$f", f))
    put(s"$hoodie/timeline/history/manifest_2",
      parquets.map(f => s"""{"fileName":"$f","fileLen":1}""").mkString("{\"files\":[", ",", "]}"))
    put(s"$hoodie/timeline/history/_version_", "2")
    val table = HudiTable(tableUri, "db1", "lake1", "users-id")
    val archived = s"/${table.tableId}/archived"

    val failed = withFault(_.endsWith(s"/history/${parquets(5)}"))(sync(table))
    assert(failed.failures == Map(tableUri -> LakeViewSync.FailureReason.AccessDenied))
    assert(!objects(Mirror).exists(k => k.endsWith("/manifest_2") || k.endsWith("/_version_")))
    assert(CheckpointStore.loadTable(conf, s"mocks3://$Cp", table.tableId).isEmpty)

    MockObjectStoreFs.clear(Mirror)
    val ok = sync(table)
    // the snapshot, its trailer, and the active timeline's one group
    assert(ok.allSucceeded && ok.filesMirrored == parquets.size + 2 + 3)
    val order = MockObjectStoreFs.writes(Mirror).filter(_.startsWith(archived + "/"))
      .map(_.stripPrefix(archived + "/"))
    assert(order.toSet == (parquets :+ "manifest_2" :+ "_version_").toSet)
    assert(order.takeRight(2) == Seq("manifest_2", "_version_"), s"write order: $order")
    val cp = CheckpointStore.loadTable(conf, s"mocks3://$Cp", table.tableId)(TimelineType.Active)
    assert(cp.lastArchivedManifestVersion == 2)
  }
}
