package graft

import graft.operators.{IvfIndex, StoreRoot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persistent IVF index: build-once determinism, probe correctness
  * against an unpruned reference, and the property that makes it an index
  * at all — probes reach the vector store through partition pruning, so a
  * probe reads only the probed cells' files.
  */
class IvfIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def emb = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")

  test("probe equals the unpruned reference and prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    IvfIndex.build(emb, dir, nCells = 8, iters = 2)
    // 8 cells materialized as hive partitions
    val cellDirs = new java.io.File(s"$dir/vectors").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length == 8, s"got ${cellDirs.toSeq}")

    val queries = emb.filter(col("vec_id") < 5)
    val got = IvfIndex.probe(spark, dir, queries, k = 5, nProbe = 2)
    val gotRows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(3), r.getInt(4))).toSet
    assert(gotRows.nonEmpty)
    // every query returns k rows (corpus is dense enough at sf0.001)
    val perQuery = got.groupBy("q_id").count().collect().map(_.getLong(1))
    assert(perQuery.forall(_ == 5L))

    // the scan must carry a partition filter on cell — the file-level seek
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"expected cell partition pruning in:\n$plan")

    // unpruned reference: identical ranking math over the FULL store
    val cent = spark.read.parquet(s"$dir/centroids")
    val all = spark.read.parquet(s"$dir/vectors")
    val q = Tables.spread(queries, "vec_id")
      .select(col("vec_id").as("q_id"),
        expr(graft.functions.TextFunctions.quantizeS("embedding")).as("qa"))
      .withColumn("na", expr("long_dot(qa, qa)"))
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("cell"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("dist", expr("long_l2(qa, ce)"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= 2)
      .select(col("q_id"), col("qa"), col("na"), col("cell"))
    val wr = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
    val want = probes.join(all, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id"), expr("round(c, 6)"), col("rn"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(gotRows == want,
      s"pruned-only: ${gotRows -- want}; reference-only: ${want -- gotRows}")
  }

  test("append routes new vectors to frozen centroids: store equals assignTo over the union") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    val old = emb.filter(col("vec_id") % 10 =!= 0)
    val fresh = emb.filter(col("vec_id") % 10 === 0)
    IvfIndex.build(old, dir, nCells = 8, iters = 2)
    val centBefore = spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    IvfIndex.append(fresh, dir)
    // centroids are untouched — append never retrains
    val centAfter = spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    assert(centAfter == centBefore)
    // the store's (vec_id, cell) content is exactly the frozen-centroid
    // assignment of the FULL corpus — i.e. probes see appended vectors as
    // if they had been present at build time
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell").cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stored = pairs(spark.read.parquet(s"$dir/vectors"))
    val want = pairs(IvfIndex.assignTo(spark, dir, emb))
    assert(stored.size == want.size)
    assert(stored == want)
  }

  test("an appended duplicate vector is probe-visible at cosine 1") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_append_probe").toString
    IvfIndex.build(emb.filter(col("vec_id") < 100), dir, nCells = 4, iters = 2)
    // clone vector 3 under a fresh id and append it
    val clone = emb.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(100000L))
    IvfIndex.append(clone, dir)
    val top = IvfIndex.probe(spark, dir, emb.filter(col("vec_id") === 3), k = 1, nProbe = 1)
      .collect()
    assert(top.length == 1)
    assert(top.head.getLong(1) == 100000L, s"got ${top.toSeq}")
    assert(top.head.getDouble(3) == 1.0)
  }

  test("cellStats reports store occupancy and flags an appended hot cell") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_stats").toString
    IvfIndex.build(emb.filter(col("vec_id") < 200), dir, nCells = 4, iters = 2)
    val before = IvfIndex.cellStats(spark, dir).collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    assert(before.values.sum == 200L)
    // skew the corpus: 50 clones of vector 7 land in one cell
    val clones = emb.filter(col("vec_id") === 7)
      .crossJoin(spark.range(50).select((col("id") + 200000L).as("nid")))
      .select(col("nid").as("vec_id"), col("embedding"))
    IvfIndex.append(clones, dir)
    val after = IvfIndex.cellStats(spark, dir).collect()
      .map(r => (r.get(0).toString.toLong, r.getLong(1), r.getDouble(2)))
    assert(after.map(_._2).sum == 250L)
    // exactly one cell absorbed all 50 clones, and share reflects it
    val grown = after.filter { case (c, n, _) => n == before(c) + 50 }
    assert(grown.length == 1, s"got ${after.toSeq} vs $before")
    assert(math.abs(grown.head._3 - grown.head._2.toDouble / 250.0) < 1e-12)
  }

  test("ensure builds once, wipes partial attempts, and is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_ensure").toString + "/idx"
    val old = emb.filter(col("vec_id") % 10 =!= 0)
    assert(!StoreRoot.ready(spark, dir))
    // a partial attempt (build without the marker) must be wiped and redone
    IvfIndex.build(old.filter(col("vec_id") < 50), dir, nCells = 4, iters = 1)
    var runs = 0
    StoreRoot.ensureAt(spark, dir) { stage =>
      runs += 1
      IvfIndex.build(old, stage, nCells = 8, iters = 2)
      IvfIndex.append(emb.filter(col("vec_id") % 10 === 0), stage)
    }
    assert(runs == 1 && StoreRoot.ready(spark, dir))
    assert(spark.read.parquet(s"$dir/vectors").count() == emb.count())
    // second ensure is a no-op
    StoreRoot.ensureAt(spark, dir) { _ => runs += 1 }
    assert(runs == 1)
  }

  test("rebuilding the index reproduces identical logical content") {
    val d1 = java.nio.file.Files.createTempDirectory("ivf_a").toString
    val d2 = java.nio.file.Files.createTempDirectory("ivf_b").toString
    IvfIndex.build(emb, d1, nCells = 4, iters = 2)
    IvfIndex.build(emb, d2, nCells = 4, iters = 2)
    def snap(d: String) = spark.read.parquet(s"$d/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    assert(snap(d1) == snap(d2))
    def members(d: String) = spark.read.parquet(s"$d/vectors")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toLong).toMap
    assert(members(d1) == members(d2))
  }
}
