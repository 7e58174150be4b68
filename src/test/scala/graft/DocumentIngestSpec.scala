package graft

import java.sql.Timestamp

import graft.operators.MinHashIndex
import graft.streaming.DocumentStream
import graft.streaming.DocumentStream.DocEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Continuous ingestion against the persistent MinHash index: each batch
  * dedups against the whole indexed corpus (stored doc wins, smaller id
  * wins in-batch), survivors land in the lake AND fold into the index, and
  * a replayed batch rewrites its own partitions without duplicating rows.
  */
class DocumentIngestSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private val textA = "alpha beta gamma delta epsilon zeta eta theta"
  private val textB = "one two three four five six seven eight"
  private val textC = "red orange yellow green blue indigo violet ultra"

  private def doc(id: Long, text: String, t: String) =
    DocEvent(id, text, Timestamp.valueOf(t))

  private def batchDf(docs: DocEvent*) = {
    import spark.implicits._
    docs.toDF()
  }

  private def lakeIds(lake: String): Set[Long] =
    spark.read.parquet(lake).select("docId").collect().map(_.getLong(0)).toSet

  private def indexIds(idx: String): Set[Long] =
    MinHashIndex.signatures(spark, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("batches dedup against the index; stored wins, smaller id wins in-batch") {
    val idx = java.nio.file.Files.createTempDirectory("ingest_idx").toString
    val lake = java.nio.file.Files.createTempDirectory("ingest_lake").toString

    // bootstrap batch: 1 and 2 are near-dups (drop 2), 3 is distinct
    DocumentStream.ingestBatch(
      batchDf(
        doc(1, textA, "2024-07-23 10:00:00"),
        doc(2, textA + " iota", "2024-07-23 10:00:10"),
        doc(3, textB, "2024-07-23 10:00:20")),
      batchId = 0, indexPath = idx, lakePath = lake)
    assert(lakeIds(lake) == Set(1L, 3L))
    assert(indexIds(idx) == Set(1L, 3L))

    // second batch: 10 re-crawls stored 1 (dropped), 11 is fresh, 12
    // near-dups 11 in-batch (dropped)
    val b1 = batchDf(
      doc(10, textA, "2024-07-23 11:00:00"),
      doc(11, textC, "2024-07-23 11:00:10"),
      doc(12, textC + " extra", "2024-07-23 11:00:20"))
    DocumentStream.ingestBatch(b1, batchId = 1, indexPath = idx, lakePath = lake)
    assert(lakeIds(lake) == Set(1L, 3L, 11L))
    assert(indexIds(idx) == Set(1L, 3L, 11L))

    // at-least-once replay of batch 1: identical end state, no duplicates
    DocumentStream.ingestBatch(b1, batchId = 1, indexPath = idx, lakePath = lake)
    assert(lakeIds(lake) == Set(1L, 3L, 11L))
    assert(indexIds(idx) == Set(1L, 3L, 11L))
    assert(MinHashIndex.signatures(spark, idx).count() == 3)
    assert(spark.read.parquet(lake).count() == 3)
  }

  test("landed scores, lake schema and index rows equal the definitions they carry") {
    val idx = java.nio.file.Files.createTempDirectory("ingest_pin_idx").toString
    val lake = java.nio.file.Files.createTempDirectory("ingest_pin_lake").toString
    val b0 = batchDf(
      doc(1, textA, "2024-07-23 10:00:00"),
      doc(2, textA + " iota", "2024-07-23 10:00:10"), // near-dup of 1
      doc(3, "the " + textB + " and the end", "2024-07-24 09:00:00"))
    DocumentStream.ingestBatch(b0, batchId = 0, indexPath = idx, lakePath = lake)
    val b1 = batchDf(
      doc(10, textA, "2024-07-23 11:00:00"), // re-crawl of stored 1
      doc(11, textC, "2024-07-23 11:00:10"))
    DocumentStream.ingestBatch(b1, batchId = 1, indexPath = idx, lakePath = lake)
    val (landed, expected) = StreamPins.landedVsScored(spark, lake, b0.union(b1))
    assert(landed.keySet == Set(1L, 3L, 11L))
    assert(landed == expected)
    assert(StreamPins.lakeSchema(spark, lake) == StreamPins.LakeSchema)
    for ((batchId, ids) <- Seq(0L -> Set(1L, 3L), 1L -> Set(11L))) {
      val (indexed, signed) = StreamPins.indexedVsSigned(spark, idx, batchId, b0.union(b1))
      assert(indexed.map(_._1) == ids)
      assert(indexed == signed)
    }
  }

  test("an ingestion batch tokenizes each document once") {
    val idx = java.nio.file.Files.createTempDirectory("ingest_tok_idx").toString
    val lake = java.nio.file.Files.createTempDirectory("ingest_tok_lake").toString
    DocumentStream.ingestBatch(batchDf(doc(1, textA, "2024-07-23 10:00:00")),
      batchId = 0, indexPath = idx, lakePath = lake)
    // a batch against a stored index, each output at most one
    // tokenization deep (the repartition keeps the optimizer from folding
    // the projection over the local rows)
    val depth = StreamPins.tokenizationsPerLineage(spark) {
      DocumentStream.ingestBatch(
        batchDf(
          doc(10, textA, "2024-07-23 11:00:00"),
          doc(11, textC, "2024-07-23 11:00:10")).repartition(2),
        batchId = 1, indexPath = idx, lakePath = lake)
    }
    assert(depth == 1)
  }

  test("ingestContinuous drives the same semantics from a streaming query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("ingest_s_idx").toString
    val lake = java.nio.file.Files.createTempDirectory("ingest_s_lake").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_s_ckpt").toString
    val ms = MemoryStream[DocEvent]
    val q = DocumentStream.ingestContinuous(ms.toDS(), idx, lake, ckpt)
    try {
      ms.addData(
        doc(1, textA, "2024-07-23 10:00:00"),
        doc(2, textA + " iota", "2024-07-23 10:00:10"))
      q.processAllAvailable()
      ms.addData(
        doc(10, textA, "2024-07-23 11:00:00"),
        doc(11, textC, "2024-07-23 11:00:10"))
      q.processAllAvailable()
      assert(lakeIds(lake) == Set(1L, 11L))
      assert(indexIds(idx) == Set(1L, 11L))
      // the index is batch-partitioned: survivors carry their batch's id
      val parts = MinHashIndex.signatures(spark, idx)
        .select("batch_id", "doc_id").collect()
        .map(r => (r.getLong(1), r.getAs[Number](0).longValue())).toMap
      assert(parts == Map(1L -> 0L, 11L -> 1L))
    } finally q.stop()
  }
}
