package graft

import java.sql.Timestamp

import graft.operators.{KmvStore, MediaGraph, StoreRoot}
import graft.streaming.DocumentStream
import graft.streaming.DocumentStream.DocEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming maintenance of the round-10 stores: media fingerprints and
  * KMV sketches fold in per micro-batch through foreachBatch, the
  * accumulated stores equal their one-shot batch builds, and the queries
  * they serve stay fresh after every batch.
  */
class MediaStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("mediaContinuous: stream-fed store equals the one-shot build") {
    import spark.implicits._
    val dir = tmp("media_stream")
    val ckpt = tmp("media_stream_ckpt")
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val (h0, h1) = rows.partition(_._1 % 2 == 0)
    def evs(rs: Array[(Long, String)]) = rs.map { case (id, t) =>
      DocEvent(id, t, Timestamp.valueOf("2024-07-23 10:00:00")) }.toSeq

    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[DocEvent]
    val q = DocumentStream.mediaContinuous(ms.toDS(), dir, ckpt)
    try {
      ms.addData(evs(h0)); q.processAllAvailable()
      // queries are fresh after the first batch already
      assert(StoreRoot.hasData(spark, dir))
      ms.addData(evs(h1)); q.processAllAvailable()
    } finally q.stop()

    val flat = tmp("media_flat")
    MediaGraph.build(spark, "/root/testdata/sf0.001", flat)
    for ((get, cols) <- Seq(
        ((p: String) => MediaGraph.phash(spark, p), Seq("doc_id", "h")),
        ((p: String) => MediaGraph.audio(spark, p), Seq("doc_id", "h")),
        ((p: String) => MediaGraph.frames(spark, p), Seq("doc_id", "fi", "h")))) {
      val f = get(flat).select(cols.map(col): _*)
      val s = get(dir).select(cols.map(col): _*)
      assert(s.exceptAll(f).isEmpty && f.exceptAll(s).isEmpty)
    }
  }

  test("kmvContinuous: stream-fed sketches merge to the from-scratch sketch") {
    val dir = tmp("kmv_stream")
    val ckpt = tmp("kmv_stream_ckpt")
    val ev = Tables.t(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
    import spark.implicits._
    val rows = ev.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))
    val (h0, h1) = rows.partition(_._2 % 2 == 0)

    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, Long, Long)]
    val q = DocumentStream.kmvContinuous(
      ms.toDS().toDF("event_type", "user_id", "ts_us")
        .withColumn("ts", expr("timestamp_micros(ts_us)")), dir, ckpt)
    try {
      ms.addData(h0.toSeq); q.processAllAvailable()
      ms.addData(h1.toSeq); q.processAllAvailable()
    } finally q.stop()

    val flat = tmp("kmv_flat_twin")
    KmvStore.build(spark, "/root/testdata/sf0.001", flat)
    val streamed = KmvStore.typeSketches(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val oneShot = KmvStore.typeSketches(spark, flat)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == oneShot && streamed.nonEmpty)
  }
}
