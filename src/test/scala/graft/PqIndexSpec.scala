package graft

import graft.operators.{PqIndex, StoreRoot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persistent PQ index: frozen-codebook append semantics (the property
  * that makes train-once/encode-forever sound), ADC probe correctness
  * against an in-memory reference, and — for the cell-partitioned IVF-PQ
  * layout — partition pruning at the code scan.
  */
class PqIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def emb = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")

  test("frozen-codebook append == encode-over-union; codebooks untouched") {
    val dir = java.nio.file.Files.createTempDirectory("pq_append").toString
    val old = emb.filter(col("vec_id") % 10 =!= 0)
    val fresh = emb.filter(col("vec_id") % 10 === 0)
    PqIndex.build(old, dir)
    val cbBefore = PqIndex.codebooks(spark, dir)
      .orderBy("m", "cell").collect().map(_.toString).toSeq
    PqIndex.append(fresh, dir)
    // append never retrains
    val cbAfter = PqIndex.codebooks(spark, dir)
      .orderBy("m", "cell").collect().map(_.toString).toSeq
    assert(cbAfter == cbBefore)
    // stored codes == encoding the UNION with the old corpus's codebooks:
    // appended vectors are code-identical to having arrived at build time
    def codeMap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "m", "code").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val stored = codeMap(PqIndex.codes(spark, dir))
    val sub = graft.analytics.SimilarityQueries.pqSubspaces(
      Tables.spread(emb, "vec_id").select(col("vec_id"),
        expr(graft.functions.TextFunctions.quantizeS("embedding")).as("qe")))
    val want = codeMap(graft.analytics.SimilarityQueries
      .pqAssign(sub, PqIndex.codebooks(spark, dir))
      .select(col("vec_id"), col("m"), col("cell").as("code")))
    assert(stored.size == want.size)
    assert(stored == want)
  }

  test("adcScores matches an in-memory ADC reference") {
    val dir = java.nio.file.Files.createTempDirectory("pq_adc").toString
    PqIndex.build(emb, dir)
    val q = Tables.spread(emb, "vec_id").filter(col("vec_id") < 3)
      .select(col("vec_id"),
        expr(graft.functions.TextFunctions.quantizeS("embedding")).as("qe"))
    val got = PqIndex.adcScores(spark, dir, q).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    // reference: explicit per-subspace LUT sum over the stored artifacts
    val cb = PqIndex.codebooks(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2)).toMap
    val codes = PqIndex.codes(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
      .groupBy(_._1._1).view.mapValues(_.map { case ((_, m), c) => m -> c }.toMap).toMap
    val qsub = graft.analytics.SimilarityQueries.pqSubspaces(q).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Long](2)).toMap
    for (((qid, vid), adot) <- got) {
      val want = (0 until 4).map { m =>
        val sq = qsub((qid, m)); val ce = cb((m, codes(vid)(m)))
        sq.zip(ce).map { case (a, b) => a * b }.sum
      }.sum
      assert(adot == want, s"($qid,$vid)")
      assert(vid != qid)
    }
  }

  test("cell-partitioned store prunes the code scan to probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("pq_cells").toString
    // coarse cells: vec_id % 4 — deterministic, 4 partitions
    val coarse = Tables.spread(emb, "vec_id")
      .select(col("vec_id"), (col("vec_id") % 4).cast("int").as("cell"))
    PqIndex.build(emb, dir, Some(coarse))
    val cellDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length == 4, s"got ${cellDirs.toSeq}")
    val q = Tables.spread(emb, "vec_id").filter(col("vec_id") < 2)
      .select(col("vec_id"),
        expr(graft.functions.TextFunctions.quantizeS("embedding")).as("qe"))
    val pruned = PqIndex.adcScores(spark, dir, q, cells = Some(Seq(1, 2)))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"expected cell partition pruning in:\n$plan")
    // pruned scores = full scores restricted to members of the pruned cells
    val full = PqIndex.adcScores(spark, dir, q).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val keep = full.filter { case ((_, vid), _) => vid % 4 == 1 || vid % 4 == 2 }
    val got = pruned.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == keep)
  }

  test("ensure wipes a partial build and is a no-op once ready") {
    val dir = java.nio.file.Files.createTempDirectory("pq_ensure").toString + "/idx"
    // simulate a crashed build: codes written, no ready marker
    PqIndex.build(emb.filter(col("vec_id") < 50), dir)
    assert(!StoreRoot.ready(spark, dir))
    StoreRoot.ensureAt(spark, dir)(PqIndex.build(emb.filter(col("vec_id") < 100), _))
    assert(StoreRoot.ready(spark, dir))
    val n1 = PqIndex.codes(spark, dir).select("vec_id").distinct().count()
    assert(n1 == 100L, "partial build must be wiped and rebuilt")
    // no-op when ready: the store keeps its content
    StoreRoot.ensureAt(spark, dir)(_ => fail("buildF must not run on a ready index"))
    assert(PqIndex.codes(spark, dir).select("vec_id").distinct().count() == 100L)
  }
}
