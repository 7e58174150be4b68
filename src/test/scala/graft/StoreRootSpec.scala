package graft

import java.io.File
import java.nio.file.{Files, StandardOpenOption}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.operators._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared store lifecycle: keys change with the source table, the
  * format version and the tag, and are distinct across kinds; a crashed
  * build is redone from an empty stage without reading its leftovers;
  * concurrent ensures of one root build once; publishing replaces only
  * what the build wrote.
  */
class StoreRootSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private val Kinds = Seq(DupGraph.Kind, MinHashIndex.Kind, TextIndex.Kind,
    MediaGraph.Kind, KmvStore.Kind, IvfIndex.Kind, PqIndex.Kind, SqIndex.Kind)

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A writable copy of the sf0.001 tables the stores derive from. */
  private def corpus(): String = {
    val dir = tmp("storeroot_corpus")
    for (t <- Kinds.map(_.table).distinct)
      Files.copy(new File(s"$sf/$t.parquet").toPath, new File(s"$dir/$t.parquet").toPath)
    dir
  }

  test("keys change with table bytes, mtime, version and tag; distinct across kinds") {
    assert(Kinds.map(_.name).distinct.size == Kinds.size)
    val shared = corpus()
    val keys = Kinds.map(StoreRoot.key(spark, shared, _))
    assert(keys.distinct.size == Kinds.size)
    assert(keys.map(_.split('/').last).distinct.size == Kinds.size,
      "the hashes themselves must differ across kinds")
    for (kind <- Kinds) {
      val dir = corpus()
      def key(k: StoreKind = kind, tag: String = "") = StoreRoot.key(spark, dir, k, tag)
      val k0 = key()
      assert(key() == k0, s"${kind.name}: key must be stable")
      assert(k0.startsWith(s"${System.getProperty("java.io.tmpdir")}/graft-${kind.name}/"))
      assert(key(k = kind.copy(version = kind.version + 1)) != k0, s"${kind.name}: version")
      assert(key(tag = "other") != k0, s"${kind.name}: tag")
      val table = new File(s"$dir/${kind.table}.parquet")
      val mtime = table.lastModified()
      assert(table.setLastModified(mtime + 60000))
      assert(key() != k0, s"${kind.name}: mtime")
      assert(table.setLastModified(mtime))
      assert(key() == k0)
      Files.write(table.toPath, Array[Byte](0), StandardOpenOption.APPEND)
      assert(table.setLastModified(mtime))
      assert(key() != k0, s"${kind.name}: bytes")
    }
  }

  private def docs = Tables.t(spark, sf, "documents").select("doc_id", "text", "source")

  private def search(root: String) = {
    val qids = docs.filter(col("source") === "src0")
      .select(col("doc_id").as("qid")).orderBy(col("qid")).limit(4)
    TextIndex.search(spark, root, qids, 5).collect().map(_.toString).toSet
  }

  test("a crashed build is redone: stale stage and partial target are never read") {
    val root = new Path(tmp("storeroot_crash"), "idx")
    val stage = DirSwap.stagePath(root)
    def junk(p: Path) = {
      val out = fs.create(p)
      try out.writeBytes("not parquet") finally out.close()
    }
    // the crash state: a stale stage holding an entry no build writes, and
    // a half-written target — postings without doclens, no marker — whose
    // data file is junk, so any read of it would throw
    junk(new Path(stage, "extra/part-00000.parquet"))
    junk(new Path(root, "postings/part-00000.parquet"))
    var runs = 0
    StoreRoot.ensureAt(spark, root.toString) { p => runs += 1; TextIndex.build(docs, p) }
    assert(runs == 1 && StoreRoot.ready(spark, root.toString))
    assert(!fs.exists(stage), "the stage must not outlive the publish")
    assert(!fs.exists(new Path(root, "extra")), "stale stage content was published")
    assert(!fs.exists(new Path(root, "postings/part-00000.parquet")))
    for (d <- Seq(root, root.getParent))
      assert(fs.listStatus(d).forall(!_.getPath.getName.startsWith(".")),
        s"staging or swap leftovers under $d")
    val ref = tmp("storeroot_crash_ref")
    TextIndex.build(docs, ref)
    val got = search(root.toString)
    CacheTracker.releaseAll()
    assert(got.nonEmpty && got == search(ref))
    CacheTracker.releaseAll()
  }

  test("two concurrent ensures of one root build once and read one store") {
    val emb = Tables.t(spark, sf, "embeddings")
    val root = new Path(tmp("storeroot_race"), "idx").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val runs = (1 to 2).map(_ => Future {
      barrier.await()
      StoreRoot.ensureAt(spark, root) { p =>
        builds.incrementAndGet()
        IvfIndex.build(emb, p, nCells = 4, iters = 1)
      }
    })
    assert(runs.map(Await.result(_, 10.minutes)) == Seq(root, root))
    assert(builds.get == 1)
    val ref = tmp("storeroot_race_ref")
    IvfIndex.build(emb, ref, nCells = 4, iters = 1)
    def snap(d: String) = (
      spark.read.parquet(s"$d/centroids").orderBy("cell").collect().map(_.toString).toSeq,
      spark.read.parquet(s"$d/vectors").select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap)
    assert(snap(root) == snap(ref))
  }

  test("publishing replaces only what the build wrote: nested stores survive") {
    val root = new Path(tmp("storeroot_nested"), "graph").toString
    def write(p: String) = spark.range(3).write.parquet(p)
    StoreRoot.ensureAt(spark, s"$root/sig")(p => write(s"$p/signatures"))
    StoreRoot.ensureAt(spark, root)(p => write(s"$p/edges"))
    StoreRoot.ensureAt(spark, s"$root/sig_x")(p => write(s"$p/signatures"))
    for (sub <- Seq("sig", "sig_x")) {
      assert(StoreRoot.ready(spark, s"$root/$sub"), sub)
      assert(spark.read.parquet(s"$root/$sub/signatures").count() == 3, sub)
    }
    assert(StoreRoot.ready(spark, root))
    assert(spark.read.parquet(s"$root/edges").count() == 3)
  }

  test("dataFiles lists flat and partitioned parquet, skipping hidden entries") {
    import spark.implicits._
    val flat = tmp("storeroot_flat")
    val parts = tmp("storeroot_parts")
    assert(!StoreRoot.hasData(spark, s"$flat/absent"))
    Seq(1L, 2L).toDF("x").coalesce(1).write.mode("overwrite").parquet(flat)
    Seq((1L, 0L, 0), (2L, 1L, 3)).toDF("x", "batch_id", "cell")
      .write.mode("overwrite").partitionBy("cell", "batch_id").parquet(parts)
    fs.mkdirs(new Path(parts, "_temporary/0"))
    fs.create(new Path(parts, "_temporary/0/part-9.parquet")).close()
    fs.create(new Path(parts, ".cell=9.stage/part-9.parquet")).close()
    assert(StoreRoot.dataFiles(spark, flat).size == 1)
    val got = StoreRoot.dataFiles(spark, parts).map(_.getParent.toString).toSeq
    assert(got.size == 2 && got.forall(_.contains("/batch_id=")), got)
    assert(StoreRoot.hasData(spark, flat) && StoreRoot.hasData(spark, parts))
  }
}
