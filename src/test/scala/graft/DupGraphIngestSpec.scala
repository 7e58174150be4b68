package graft

import java.sql.Timestamp

import graft.operators.{DupGraph, StoreRoot}
import graft.streaming.DocumentStream
import graft.streaming.DocumentStream.DocEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persistent dup graph under streaming ingestion: each micro-batch's
  * verified new-touching edges fold into the batch-partitioned edge store
  * ([[DupGraph.appendBatch]]), the accumulated store equals a from-scratch
  * pairs run over everything ingested (under-cap), an at-least-once replay
  * rewrites its own partition bit-for-bit instead of duplicating edges —
  * including the poisoned replay whose first attempt already folded the
  * batch's signatures — and graph consumers read fresh edges after every
  * batch.
  */
class DupGraphIngestSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private val tA = "alpha beta gamma delta epsilon zeta eta theta"
  private val tB = "one two three four five six seven eight"
  private val tC = "red orange yellow green blue indigo violet ultra"

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def edgeSet(path: String): Set[(Long, Long, Double)] =
    DupGraph.edges(spark, path)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("accumulated store equals from-scratch pairs; replay is exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_ingest").toString
    val b0 = df(1L -> tA, 2L -> (tA + " iota"), 3L -> tB)
    val b1 = df(4L -> (tA + " kappa"), 5L -> (tB + " extra"))
    val b2 = df(6L -> tC, 7L -> (tC + " violet"))

    DupGraph.appendBatch(b0, dir, 0L)
    assert(StoreRoot.hasData(spark, dir))
    // graph queries are fresh after the FIRST batch already
    assert(edgeSet(dir).map(e => (e._1, e._2)) == Set((1L, 2L)))

    DupGraph.appendBatch(b1, dir, 1L)
    DupGraph.appendBatch(b2, dir, 2L)

    // from-scratch reference: the symmetric pipeline over everything
    // ingested (no bucket here is anywhere near the cap)
    val all = b0.unionByName(b1).unionByName(b2)
    val sig = graft.CacheTracker.track(
      graft.analytics.DedupQueries.signatureRows(all)
        .select("doc_id", "hs", "sig")
        .persist())
    val want = graft.analytics.DedupQueries.minhashPairsFromSig(sig)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.CacheTracker.releaseAll()

    assert(want.exists(p => p._1 != 1L || p._2 != 2L),
      "fixture must produce cross-batch pairs")
    val got = edgeSet(dir)
    assert(got == want)
    val n = DupGraph.edges(spark, dir).count()

    // plain replay (crash before any write landed): same store, no dups
    DupGraph.appendBatch(b1, dir, 1L)
    assert(edgeSet(dir) == want)
    assert(DupGraph.edges(spark, dir).count() == n)

    // poisoned replay: batch 2's signatures are ALREADY in the sig store
    // (crash after both writes, checkpoint commit lost) — the anti-join
    // guard must keep the recomputed partition identical, not empty and
    // not doubled
    DupGraph.appendBatch(b2, dir, 2L)
    assert(edgeSet(dir) == want)
    assert(DupGraph.edges(spark, dir).count() == n)
  }

  test("graphContinuous maintains the store from a streaming query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dupgraph_ckpt").toString
    val ms = MemoryStream[DocEvent]
    val q = DocumentStream.graphContinuous(ms.toDS(), dir, ckpt)
    try {
      ms.addData(
        DocEvent(1, tA, Timestamp.valueOf("2024-07-23 10:00:00")),
        DocEvent(2, tB, Timestamp.valueOf("2024-07-23 10:00:10")))
      q.processAllAvailable()
      // no near-dups yet; the store exists but holds no edges
      assert(StoreRoot.hasData(spark, dir))
      assert(edgeSet(dir).isEmpty)
      ms.addData(
        DocEvent(10, tA + " iota", Timestamp.valueOf("2024-07-23 11:00:00")),
        DocEvent(11, tB + " nine", Timestamp.valueOf("2024-07-23 11:00:10")))
      q.processAllAvailable()
      // the second micro-batch's docs paired against the FIRST batch's
      // stored signatures — the graph is fresh without any rebuild
      assert(edgeSet(dir).map(e => (e._1, e._2)) == Set((1L, 10L), (2L, 11L)))
      // and the edges are batch-partitioned for exactly-once replay
      val parts = DupGraph.edges(spark, dir)
        .select("doc_a", "batch_id").collect()
        .map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap
      assert(parts == Map(1L -> 1L, 2L -> 1L))
    } finally q.stop()
  }

  test("graphContinuous(maintainLabels) keeps the label store fresh per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dupgraph_lblstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dupgraph_lblckpt").toString
    val ms = MemoryStream[DocEvent]
    val q = DocumentStream.graphContinuous(ms.toDS(), dir, ckpt, maintainLabels = true)
    try {
      ms.addData(
        DocEvent(1, tA, Timestamp.valueOf("2024-07-23 10:00:00")),
        DocEvent(2, tA + " iota", Timestamp.valueOf("2024-07-23 10:00:10")),
        DocEvent(3, tB, Timestamp.valueOf("2024-07-23 10:00:20")))
      q.processAllAvailable()
      def lbls = DupGraph.labels(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lbls == Map(1L -> 1L, 2L -> 1L))
      // second batch joins doc 3's component into existence and extends 1's
      ms.addData(
        DocEvent(10, tA + " kappa", Timestamp.valueOf("2024-07-23 11:00:00")),
        DocEvent(11, tB + " nine", Timestamp.valueOf("2024-07-23 11:00:10")))
      q.processAllAvailable()
      assert(lbls == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 3L -> 3L, 11L -> 3L))
    } finally q.stop()
  }
}
