package graft

import graft.jobs.{LakeViewSync, SyncMetrics}
import graft.operators.TableDiscovery
import org.apache.hadoop.fs.Path
import org.apache.hadoop.security.AccessControlException
import org.scalatest.funsuite.AnyFunSuite

/** A listing that fails in a discovery level fails the discovery, once the
  * level's other listings have finished, with the level's first failure in
  * frontier order: `runOnce` throws it, and a continuous discovery tick
  * counts it by reason and keeps the previous table set.
  */
class DiscoveryFailureSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSpec.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.mocks3.impl", classOf[MockObjectStoreFs].getName)
    s
  }

  private val Lake = "df-lake"
  private val Mirror = "df-mirror"
  private val Cp = "df-cp"

  private def put(uri: String, content: String = ""): Unit = {
    val p = new Path(uri)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** db1..db3 under one base path, one table each. */
  private def mkLake(): Unit = {
    Seq(Lake, Mirror, Cp).foreach(MockObjectStoreFs.clear)
    (1 to 3).foreach { d =>
      put(s"mocks3://$Lake/lake/db$d/t$d/.hoodie/hoodie.properties",
        s"hoodie.table.name=t$d\nhoodie.table.type=COPY_ON_WRITE\n")
      Seq("100.commit.requested", "100.commit.inflight", "100.commit")
        .foreach(f => put(s"mocks3://$Lake/lake/db$d/t$d/.hoodie/$f"))
    }
  }

  private val cfg = LakeViewSync.SyncConfig(
    basePaths = Seq(TableDiscovery.BasePath("lake1", "db", s"mocks3://$Lake/lake")),
    mirrorRoot = s"mocks3://$Mirror", checkpointDir = s"mocks3://$Cp")

  private def withFault[T](when: String => Boolean)(body: => T): T = {
    MockObjectStoreFs.failWhen = when
    try body finally MockObjectStoreFs.failWhen = _ => false
  }

  private val dbDirs = Set(2, 3).map(d => s"mocks3://$Lake/lake/db$d")

  test("runOnce rethrows the level's first failed listing after the level's other listings") {
    mkLake()
    val before = MockObjectStoreFs.calls(Lake)
    val e = withFault(dbDirs) {
      intercept[AccessControlException](LakeViewSync.runOnce(spark, cfg))
    }
    assert(e.getMessage.endsWith(s"mocks3://$Lake/lake/db2"))
    // the base path, then all three dbs; no table dir below them
    assert(MockObjectStoreFs.callsSince(Lake, before) == Map("list" -> 4L))
    assert(MockObjectStoreFs.calls(Mirror).isEmpty && MockObjectStoreFs.calls(Cp).isEmpty)
  }

  test("a failed discovery tick counts ACCESS_DENIED and keeps the previous table set") {
    mkLake()
    val metrics = new SyncMetrics
    val cs = new LakeViewSync.ContinuousSync(spark, cfg, metrics = metrics)
    cs.discoverTick()
    withFault(dbDirs)(cs.discoverTick())
    assert(metrics.count(SyncMetrics.TableDiscoverySuccess) == 1)
    assert(metrics.count(SyncMetrics.TableDiscoveryFailure,
      LakeViewSync.FailureReason.AccessDenied) == 1)
    assert(metrics.tablesDiscoveredGauge.get == 3)
    // the process tick syncs the table set of the successful tick
    val r = cs.processTick()
    assert(r.exists(rep => rep.allSucceeded && rep.tablesDiscovered == 3 && rep.filesMirrored == 12))
  }
}
