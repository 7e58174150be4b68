package graft

import graft.operators.{SqIndex, StoreRoot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persistent SQ8 index: store scoring must equal the in-query
  * pipeline, appends encode with the FROZEN training stats (append ≡
  * encode-over-union under those stats — never a silent re-train),
  * takedown makes deleted vectors unreturnable, and a killed build
  * re-runs via the ready marker.
  */
class SqIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def emb = Tables.t(spark, sf, "embeddings")

  private def q(df: org.apache.spark.sql.DataFrame) =
    df.select(col("vec_id"),
      expr(graft.functions.TextFunctions.quantizeS("embedding")).as("qe"))

  test("store scoring equals the in-query SQ8 pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("sq_idx").toString
    SqIndex.build(emb, dir)
    val queries = q(emb).filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("qe").as("qq"))
    val got = SqIndex.scores(spark, dir, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // in-memory reference: same stats + encode + reconstruction math
    val vecs = q(emb).collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val dim = vecs.values.head.length
    val mnl = (0 until dim).map(j => vecs.values.map(_(j)).min).toArray
    val mxl = (0 until dim).map(j => vecs.values.map(_(j)).max).toArray
    def code(v: Array[Long], j: Int): Long =
      if (mxl(j) == mnl(j)) 0L
      else math.min(255L, math.max(0L, (v(j) - mnl(j)) * 255 / (mxl(j) - mnl(j))))
    def ip510(qq: Array[Long], v: Array[Long]): Long =
      (0 until dim).map(j =>
        qq(j) * (510 * mnl(j) + (2 * code(v, j) + 1) * (mxl(j) - mnl(j)))).sum
    val want = (for {
      qid <- vecs.keys.filter(_ < 3)
      vid <- vecs.keys if vid != qid
    } yield (qid, vid) -> ip510(vecs(qid), vecs(vid))).toMap
    graft.CacheTracker.releaseAll()
    assert(got.nonEmpty && got == want)
  }

  test("append encodes with frozen stats: store ≡ encode-over-union") {
    val dir = java.nio.file.Files.createTempDirectory("sq_idx_app").toString
    val a = emb.filter(col("vec_id") % 10 =!= 0)
    val b = emb.filter(col("vec_id") % 10 === 0)
    SqIndex.build(a, dir)
    val statsBefore = SqIndex.stats(spark, dir).collect()(0).toString
    SqIndex.append(b, dir)
    assert(SqIndex.stats(spark, dir).collect()(0).toString == statsBefore,
      "append must not re-train the stats")
    // reference: one build on slice A's stats, encoding A ∪ B — the
    // append path must produce exactly that code set
    val ref = java.nio.file.Files.createTempDirectory("sq_idx_ref").toString
    SqIndex.build(a, ref)
    SqIndex.append(b, ref)
    def codeSet(p: String) = SqIndex.codes(spark, p)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = codeSet(dir)
    assert(got.keySet == emb.select("vec_id").collect().map(_.getLong(0)).toSet)
    assert(got == codeSet(ref))
    graft.CacheTracker.releaseAll()
  }

  test("takedown: deleted vectors are unreturnable; survivors byte-stable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sq_idx_del").toString
    SqIndex.build(emb, dir)
    val ids = Seq(7L, 11L).toDF("vec_id")
    SqIndex.delete(spark, dir, ids)
    val left = SqIndex.codes(spark, dir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!left.contains(7L) && !left.contains(11L))
    val queries = q(emb).filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("qe").as("qq"))
    val scored = SqIndex.scores(spark, dir, queries)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!scored.contains(7L) && !scored.contains(11L))
    graft.CacheTracker.releaseAll()
  }

  test("streaming ingestion: first batch trains, replays are exactly-once") {
    import graft.streaming.EmbeddingStream
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sq_idx_stream").toString
    def batchDf(ids: Seq[Long]) = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("vecId"), col("embedding"),
        lit(java.sql.Timestamp.valueOf("2024-07-23 10:00:00")).as("eventTime"))
    EmbeddingStream.sqIngestBatch(batchDf(Seq(0L, 1L, 2L, 3L)), 0L, dir)
    val statsAfterTrain = SqIndex.stats(spark, dir).collect()(0).toString
    EmbeddingStream.sqIngestBatch(batchDf(Seq(10L, 11L)), 1L, dir)
    // stats froze at batch 0; batch 1 encoded through them
    assert(SqIndex.stats(spark, dir).collect()(0).toString == statsAfterTrain)
    val ids = SqIndex.codes(spark, dir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 2L, 3L, 10L, 11L))
    val n = SqIndex.codes(spark, dir).count()
    // at-least-once replay of batch 1: same store, no duplicate codes
    EmbeddingStream.sqIngestBatch(batchDf(Seq(10L, 11L)), 1L, dir)
    assert(SqIndex.codes(spark, dir).count() == n)
    // and the appended codes are score-visible with everything stored
    val queries = q(emb).filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("qe").as("qq"))
    val scored = SqIndex.scores(spark, dir, queries)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(scored == Set(1L, 2L, 3L, 10L, 11L))
    graft.CacheTracker.releaseAll()
  }

  test("streaming ingestion: an EMPTY first batch must not freeze stats") {
    import graft.streaming.EmbeddingStream
    val dir = java.nio.file.Files.createTempDirectory("sq_idx_empty").toString
    def batchDf(ids: Seq[Long]) = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("vecId"), col("embedding"),
        lit(java.sql.Timestamp.valueOf("2024-07-23 10:00:00")).as("eventTime"))
    // an empty micro-batch arriving first (idle source at stream start) is
    // a no-op: no stats frozen, no store created
    EmbeddingStream.sqIngestBatch(batchDf(Nil), 0L, dir)
    assert(!StoreRoot.hasData(spark, s"$dir/stats"))
    // the first NON-empty batch bootstraps; codes must be non-degenerate
    // (a frozen-empty-stats store would encode everything to code 0)
    EmbeddingStream.sqIngestBatch(batchDf(Seq(0L, 1L, 2L, 3L)), 1L, dir)
    assert(StoreRoot.hasData(spark, s"$dir/stats"))
    val distinctCodes = SqIndex.codes(spark, dir)
      .select(expr("aggregate(code, 0L, (a, x) -> a + x)").as("s"))
      .collect().map(_.getLong(0)).toSet
    assert(distinctCodes.size > 1, s"degenerate codes: $distinctCodes")
    // trainStats itself refuses an empty frame outright
    val err = intercept[IllegalArgumentException] {
      SqIndex.trainStats(batchDf(Nil)
        .select(col("vecId").as("vec_id"), col("embedding")),
        java.nio.file.Files.createTempDirectory("sq_idx_refuse").toString)
    }
    assert(err.getMessage.contains("empty"))
    graft.CacheTracker.releaseAll()
  }

  test("ensure: a killed build (no ready marker) is wiped and re-run") {
    val dir = java.nio.file.Files.createTempDirectory("sq_idx_crash").toString
    // simulate a partial build: stats written, no codes, no marker
    StoreRoot.ensureAt(spark, dir)(SqIndex.build(emb.filter(col("vec_id") < 10), _))
    assert(StoreRoot.ready(spark, dir))
    // marker removal forces a full rebuild on next ensure
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, StoreRoot.Marker), false)
    StoreRoot.ensureAt(spark, dir)(SqIndex.build(emb, _))
    assert(StoreRoot.ready(spark, dir))
    assert(SqIndex.codes(spark, dir).count() == emb.count())
    graft.CacheTracker.releaseAll()
  }
}
