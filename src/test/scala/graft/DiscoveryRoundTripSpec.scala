package graft

import graft.jobs.LakeViewSync
import graft.operators.TableDiscovery
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Discovery's storage round trips on the object store
  * ([[MockObjectStoreFs]]): one `list` per visited directory and no other
  * call, excluded subtrees never listed, a BFS level's listings in flight
  * together — and a sync tick launches no Spark job.
  */
class DiscoveryRoundTripSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSpec.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.mocks3.impl", classOf[MockObjectStoreFs].getName)
    s
  }
  private def conf = spark.sparkContext.hadoopConfiguration

  private val Lake = "drt-lake"
  private val Mirror = "drt-mirror"
  private val Cp = "drt-cp"

  private def put(uri: String, content: String = ""): Unit = {
    val p = new Path(uri)
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def table(path: String): Unit = {
    put(s"mocks3://$Lake/$path/.hoodie/hoodie.properties",
      s"hoodie.table.name=${path.split("/").last}\nhoodie.table.type=COPY_ON_WRITE\n")
    Seq("100.commit.requested", "100.commit.inflight", "100.commit")
      .foreach(f => put(s"mocks3://$Lake/$path/.hoodie/$f"))
  }

  /** Four databases; the widest BFS level is level 1, with five dirs:
    * db1/t1, db1/t2, db2/t3, db3/nested and db4/plain.
    */
  private def mkLake(): Unit = {
    Seq(Lake, Mirror, Cp).foreach(MockObjectStoreFs.clear)
    Seq("db1/t1", "db1/t2", "db2/t3", "db2/scratch/t4", "db3/nested/t5").foreach(table)
    put(s"mocks3://$Lake/db4/plain/readme.txt", "not a table")
  }

  private val basePaths =
    (1 to 4).map(d => TableDiscovery.BasePath("lake1", s"db$d", s"mocks3://$Lake/db$d"))
  private val excludes = Seq(".*/scratch")

  test("discovery lists each visited dir once, never an excluded subtree, a level's dirs together") {
    mkLake()
    val before = MockObjectStoreFs.calls(Lake)
    // any call under the excluded subtree fails the discovery
    MockObjectStoreFs.failWhen = _.contains("/scratch")
    MockObjectStoreFs.callDelayMs = 200L
    val tables =
      try TableDiscovery.discover(conf, basePaths, excludes)
      finally {
        MockObjectStoreFs.failWhen = _ => false
        MockObjectStoreFs.callDelayMs = 0L
      }
    assert(tables.map(_.absoluteTableUri.stripPrefix(s"mocks3://$Lake/")) ==
      Seq("db1/t1", "db1/t2", "db2/t3", "db3/nested/t5"))
    // 4 dbs, then t1, t2, t3, nested and plain, then nested/t5
    assert(MockObjectStoreFs.callsSince(Lake, before) == Map("list" -> 10L))
    assert(MockObjectStoreFs.peakInFlight(Lake) == 5)
  }

  test("a full and a no-op sync tick launch no Spark job") {
    mkLake()
    val cfg = LakeViewSync.SyncConfig(basePaths = basePaths, excludePatterns = excludes,
      mirrorRoot = s"mocks3://$Mirror", checkpointDir = s"mocks3://$Cp")
    val ((full, noop), jobs) = JobCount.of(spark)(
      (LakeViewSync.runOnce(spark, cfg), LakeViewSync.runOnce(spark, cfg)))
    assert(full.allSucceeded && full.tablesSynced == 4 && full.filesMirrored == 16)
    assert(noop.allSucceeded && noop.filesMirrored == 0)
    assert(jobs == 0)
  }
}
