package graft

import java.sql.Timestamp

import graft.functions.TextFunctions._
import graft.jobs.CorpusCuration.CurationConfig
import graft.operators.MinHashIndex
import graft.streaming.DocumentStream
import graft.streaming.DocumentStream.DocEvent
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming curation: each micro-batch runs the stateless batch-curation
  * stages (quality / repetition / eval-set decontamination, identical
  * floor-form arithmetic), dedups survivors against the persistent MinHash
  * index, and lands PII-scrubbed text — with first-drop attribution
  * surfaced per batch and idempotent replay.
  */
class StreamCurationSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private val textA = "the winter summer autumn spring ocean forest desert tundra and valley is wide"
  private val textC = "the copper silver golden bronze iron marble granite quartz and slate is dense"
  private val textPii =
    "the contact is john@example.com or https://example.com/page and call 555-123-4567 now"

  private def doc(id: Long, text: String, t: String) =
    DocEvent(id, text, Timestamp.valueOf(t))

  private def batchDf(docs: DocEvent*) = {
    import spark.implicits._
    docs.toDF()
  }

  /** Eval-set shingle table: distinct trigram hashes of one benchmark doc. */
  private def benchShingles(text: String) = {
    import spark.implicits._
    Seq(text).toDF("text")
      .select(explode(expr(
        s"array_distinct(shingle3_hash(${tokenHashesS(tokensS("text"))}))")).as("h"))
  }

  private def lakeRows(lake: String): Map[Long, String] =
    spark.read.parquet(lake).select("docId", "text").collect()
      .map(r => r.getAs[Long]("docId") -> r.getAs[String]("text")).toMap

  private def indexIds(idx: String): Set[Long] =
    MinHashIndex.signatures(spark, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("stages drop their targets; survivors land scrubbed; replay is idempotent") {
    val idx = java.nio.file.Files.createTempDirectory("cur_idx").toString
    val lake = java.nio.file.Files.createTempDirectory("cur_lake").toString
    val bench = benchShingles("alpha bravo charlie delta echo foxtrot golf hotel")

    // batch 0: one doc per stage + two keepers
    val r0 = DocumentStream.curateBatch(
      batchDf(
        doc(1, "x x x x x x x x", "2024-07-23 10:00:00"), // quality
        doc(2, "the the the quick brown fox jumps over lazy dog the the",
          "2024-07-23 10:00:05"), // repetition (passes quality)
        doc(21, "the quick charlie delta echo of river stone and mountain is vast to see",
          "2024-07-23 10:00:10"), // shares (charlie delta echo) with the eval set
        doc(30, textA, "2024-07-23 10:00:15"),
        doc(31, textA + " extra", "2024-07-23 10:00:20"), // in-batch near-dup of 30
        doc(7, textPii, "2024-07-23 10:00:25")),
      batchId = 0, indexPath = idx, lakePath = lake,
      cfg = CurationConfig(), benchShingles = Some(bench))
    assert(r0 == DocumentStream.CurationBatchReport(
      batchId = 0, input = 6, droppedQuality = 1, droppedRepetition = 1,
      droppedContamination = 1, droppedDuplicate = 1, landed = 2))
    assert(lakeRows(lake).keySet == Set(30L, 7L))
    assert(indexIds(idx) == Set(30L, 7L))
    val scrubbed = lakeRows(lake)(7L)
    assert(scrubbed.contains("[EMAIL]") && scrubbed.contains("[URL]") &&
      scrubbed.contains("[PHONE]"))
    assert(!scrubbed.contains("@") && !scrubbed.contains("example.com"))

    // batch 1: 40 re-crawls stored 30 (duplicate vs INDEX), 42 is fresh
    val b1 = batchDf(
      doc(40, textA, "2024-07-23 11:00:00"),
      doc(42, textC, "2024-07-23 11:00:10"))
    val r1 = DocumentStream.curateBatch(b1, batchId = 1, indexPath = idx,
      lakePath = lake, cfg = CurationConfig(), benchShingles = Some(bench))
    assert(r1.droppedDuplicate == 1 && r1.landed == 1)
    assert(lakeRows(lake).keySet == Set(30L, 7L, 42L))
    assert(indexIds(idx) == Set(30L, 7L, 42L))

    // at-least-once replay of batch 1: identical end state, no duplicates
    DocumentStream.curateBatch(b1, batchId = 1, indexPath = idx,
      lakePath = lake, cfg = CurationConfig(), benchShingles = Some(bench))
    assert(lakeRows(lake).keySet == Set(30L, 7L, 42L))
    assert(spark.read.parquet(lake).count() == 3)
    assert(MinHashIndex.signatures(spark, idx).count() == 3)
  }

  test("stateless verdicts match the batch CorpusCuration.flag arithmetic") {
    import spark.implicits._
    // no benchmark slice (ids chosen % 20 != 0), no pairs: only the
    // stateless stages fire in both paths
    val docs = Seq(
      (1L, "x x x x x x x x"),
      (2L, "the the the quick brown fox jumps over lazy dog the the"),
      (7L, textPii)).toDF("doc_id", "text")
    val batchReasons = graft.jobs.CorpusCuration
      .flag(docs, Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
      .select("doc_id", "reason").collect()
      .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[String]("reason"))).toMap
    val idx = java.nio.file.Files.createTempDirectory("cur_p_idx").toString
    val lake = java.nio.file.Files.createTempDirectory("cur_p_lake").toString
    val r = DocumentStream.curateBatch(
      batchDf(
        doc(1, "x x x x x x x x", "2024-07-23 10:00:00"),
        doc(2, "the the the quick brown fox jumps over lazy dog the the",
          "2024-07-23 10:00:05"),
        doc(7, textPii, "2024-07-23 10:00:10")),
      batchId = 0, indexPath = idx, lakePath = lake)
    assert(batchReasons == Map(1L -> Some("quality"), 2L -> Some("repetition"),
      7L -> None))
    assert(r.droppedQuality == 1 && r.droppedRepetition == 1 && r.landed == 1)
  }

  test("landed scores, lake schema and index rows equal the definitions they carry") {
    val idx = java.nio.file.Files.createTempDirectory("cur_pin_idx").toString
    val lake = java.nio.file.Files.createTempDirectory("cur_pin_lake").toString
    val raw = batchDf(
      doc(1, "x x x x x x x x", "2024-07-23 10:00:00"), // quality
      doc(30, textA, "2024-07-23 10:00:05"),
      doc(31, textA + " extra", "2024-07-23 10:00:10"), // near-dup of 30
      doc(42, textC, "2024-07-24 09:00:00"),
      doc(7, textPii, "2024-07-24 09:00:05")) // lands scrubbed
    DocumentStream.curateBatch(raw, batchId = 0, indexPath = idx, lakePath = lake)
    // scores are of the RAW text, although the lake holds the scrubbed one
    val (landed, expected) = StreamPins.landedVsScored(spark, lake, raw)
    assert(landed.keySet == Set(30L, 42L, 7L))
    assert(landed == expected)
    assert(StreamPins.lakeSchema(spark, lake) == StreamPins.LakeSchema)
    val (indexed, signed) = StreamPins.indexedVsSigned(spark, idx, 0L, raw)
    assert(indexed.map(_._1) == Set(30L, 42L, 7L))
    assert(indexed == signed)
  }

  test("a curation batch tokenizes each document once") {
    val idx = java.nio.file.Files.createTempDirectory("cur_tok_idx").toString
    val lake = java.nio.file.Files.createTempDirectory("cur_tok_lake").toString
    val bench = benchShingles("alpha bravo charlie delta echo foxtrot golf hotel")
    DocumentStream.curateBatch(batchDf(doc(30, textA, "2024-07-23 10:00:00")),
      batchId = 0, indexPath = idx, lakePath = lake, benchShingles = Some(bench))
    // a batch against a stored index: verdicts, signing, pairs, landing
    // and index fold, each output at most one tokenization deep (the
    // repartition keeps the optimizer from folding the projection over the
    // local rows)
    val depth = StreamPins.tokenizationsPerLineage(spark) {
      DocumentStream.curateBatch(
        batchDf(
          doc(40, textA, "2024-07-23 11:00:00"),
          doc(42, textC, "2024-07-23 11:00:05"),
          doc(7, textPii, "2024-07-23 11:00:10")).repartition(2),
        batchId = 1, indexPath = idx, lakePath = lake, benchShingles = Some(bench))
    }
    assert(depth == 1)
  }

  test("curateContinuous drives the same semantics from a streaming query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("cur_s_idx").toString
    val lake = java.nio.file.Files.createTempDirectory("cur_s_lake").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cur_s_ckpt").toString
    val reports = scala.collection.mutable.ArrayBuffer.empty[DocumentStream.CurationBatchReport]
    val ms = MemoryStream[DocEvent]
    val q = DocumentStream.curateContinuous(ms.toDS(), idx, lake, ckpt,
      onBatch = r => reports.synchronized { reports += r })
    try {
      ms.addData(
        doc(30, textA, "2024-07-23 10:00:00"),
        doc(1, "x x x x x x x x", "2024-07-23 10:00:05"))
      q.processAllAvailable()
      ms.addData(
        doc(40, textA, "2024-07-23 11:00:00"), // near-dups stored 30
        doc(42, textC, "2024-07-23 11:00:10"))
      q.processAllAvailable()
      assert(lakeRows(lake).keySet == Set(30L, 42L))
      assert(indexIds(idx) == Set(30L, 42L))
      val rep = reports.synchronized(reports.toList).sortBy(_.batchId)
      assert(rep.map(_.landed) == List(1, 1))
      assert(rep.head.droppedQuality == 1 && rep(1).droppedDuplicate == 1)
    } finally q.stop()
  }
}
