package graft

import graft.operators.{StoreRoot, TextIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persistent BM25 inverted index: search from the store must equal
  * the from-scratch in-memory ranking, frozen-scheme append must equal a
  * build over the union (including the re-derived N/avgdl/df statistics),
  * and the stored side must enter the plan from the posting parquet — not
  * a re-tokenization of the corpus.
  */
class TextIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables.t(spark, sf, "documents").select("doc_id", "text", "source")

  private def qids = docs.filter(col("source") === "src0")
    .select(col("doc_id").as("qid")).orderBy(col("qid")).limit(4)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "doc_id", "n_terms", "score_micro", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet

  test("search from the store equals the from-scratch ranking") {
    val dir = java.nio.file.Files.createTempDirectory("text_index").toString
    TextIndex.build(docs, dir)
    val fromStore = rows(TextIndex.search(spark, dir, qids, 5))
    val fromScratch = rows(analytics.TextQueries.bm25RankedFrom(
      analytics.TextQueries.bm25Postings(docs), qids, 5))
    CacheTracker.releaseAll()
    assert(fromStore.nonEmpty, "fixture must produce ranked results")
    assert(fromStore == fromScratch, "store and recompute diverged")
  }

  test("append equals build-over-union, appended docs immediately searchable") {
    val dirInc = java.nio.file.Files.createTempDirectory("text_index_inc").toString
    val dirAll = java.nio.file.Files.createTempDirectory("text_index_all").toString
    TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0), dirInc)
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0), dirInc)
    TextIndex.build(docs, dirAll)
    val inc = rows(TextIndex.search(spark, dirInc, qids, 5))
    val all = rows(TextIndex.search(spark, dirAll, qids, 5))
    CacheTracker.releaseAll()
    assert(inc == all, "append diverged from build-over-union")
    // appended docs appear as candidates: at least one result doc is from
    // the appended slice (doc_id % 3 == 0) — the statistics and postings
    // both see them
    assert(inc.exists(_._2 % 3 == 0), s"no appended doc ranked in $inc")
  }

  test("ensure is idempotent and the search plan reads the posting store") {
    val dir = java.nio.file.Files.createTempDirectory("text_index_plan").toString
    StoreRoot.ensureAt(spark, dir)(TextIndex.build(docs, _))
    val marker = new java.io.File(s"$dir/postings/_SUCCESS")
    val mtime = marker.lastModified()
    StoreRoot.ensureAt(spark, dir)(TextIndex.build(docs, _)) // must not rebuild
    assert(marker.lastModified() == mtime, "ensure rebuilt a completed index")

    val plan = TextIndex.search(spark, dir, qids, 5)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("FileScan parquet") && l.contains("postings")),
      s"expected a posting-store scan in:\n$plan")
    // the qids side legitimately scans the corpus table (ids only); what
    // must NOT appear is the tokenize -> bigram lineage being re-run
    assert(!plan.contains("split(trim("),
      s"corpus re-tokenization leaked into the search plan:\n$plan")
  }

  test("appendBatch: replayed batch is exactly-once; batches accumulate and match flat build") {
    val dirB = java.nio.file.Files.createTempDirectory("text_index_batch").toString
    val dirF = java.nio.file.Files.createTempDirectory("text_index_flat").toString
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 =!= 0)
    TextIndex.appendBatch(b0, dirB, 0L)
    TextIndex.appendBatch(b1, dirB, 1L)
    // at-least-once replay of batch 1: must rewrite its own partition,
    // never double-count its terms
    TextIndex.appendBatch(b1, dirB, 1L)
    assert(StoreRoot.hasData(spark, dirB), "partitioned index must count as existing")
    TextIndex.build(docs, dirF)
    val batched = rows(TextIndex.search(spark, dirB, qids, 5))
    val flat = rows(TextIndex.search(spark, dirF, qids, 5))
    CacheTracker.releaseAll()
    assert(batched == flat, "batch-accumulated index diverged from flat build")
  }

  test("searchableContinuous: streamed docs are searchable from the store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.DocumentStream.DocEvent
    val dir = java.nio.file.Files.createTempDirectory("text_index_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("text_index_stream_ck").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DocEvent]
    val q = graft.streaming.DocumentStream.searchableContinuous(ms.toDS(), dir, ckpt)
    try {
      val ts = java.sql.Timestamp.valueOf("2024-07-23 10:00:00")
      // fillers keep every query bigram's df under the N/2 stopword prune
      val fillers = (10L to 17L).map(i =>
        DocEvent(i, s"junk$i filler$i noise$i padding$i blank$i", ts))
      ms.addData(fillers :+
        DocEvent(1L, "orange mango kiwi papaya lychee guava", ts) :+
        DocEvent(2L, "orange mango something entirely different here", ts): _*)
      q.processAllAvailable()
      ms.addData(DocEvent(3L, "orange mango kiwi papaya other trailing words", ts))
      q.processAllAvailable()
      val res = rows(TextIndex.search(spark, dir,
        Seq(1L).toDF("qid"), 2))
      CacheTracker.releaseAll()
      // doc 3 (arrived in the second micro-batch) shares more query bigrams
      // than doc 2 and must rank first — appended batches are live
      assert(res.nonEmpty, "no results from the streamed index")
      val top = res.minBy(_._5)
      assert(top._2 == 3L, s"expected streamed doc 3 to rank first, got $res")
    } finally q.stop()
  }
}
