package graft

import java.sql.Timestamp

import graft.operators.{IvfIndex, StoreRoot}
import graft.streaming.EmbeddingStream
import graft.streaming.EmbeddingStream.{IngestReport, VecEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Continuous embedding ingestion into the persistent IVF index: the first
  * batch bootstraps (trains) the coarse centroids, every batch appends
  * through frozen-centroid routing under its own (cell, batch_id)
  * partitions, replays rewrite instead of duplicating, appended vectors
  * are probe-visible, and the per-batch report carries the cell-occupancy
  * drift signal.
  */
class EmbeddingIngestSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def emb = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")

  private def events(df: org.apache.spark.sql.DataFrame, t: String) =
    df.select(col("vec_id").as("vecId"), col("embedding"))
      .withColumn("eventTime", lit(Timestamp.valueOf(t)))

  private def storedIds(idx: String): Set[Long] =
    spark.read.parquet(s"$idx/vectors").select("vec_id")
      .collect().map(_.getLong(0)).toSet

  test("bootstrap trains centroids; batches append frozen; replay is idempotent") {
    val idx = java.nio.file.Files.createTempDirectory("emb_ingest").toString
    val b0 = events(emb.filter(col("vec_id") < 60), "2024-07-23 10:00:00")
    val r0 = EmbeddingStream.ingestBatch(b0, batchId = 0, indexPath = idx, nCells = 4)
    assert(StoreRoot.hasData(spark, s"$idx/centroids"))
    assert(r0 == IngestReport(0, 60, r0.occupiedCells, r0.maxCellShare))
    assert(r0.occupiedCells <= 4 && r0.maxCellShare <= 1.0)
    val centAfterB0 = spark.read.parquet(s"$idx/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq

    val b1 = events(emb.filter(col("vec_id") >= 60 && col("vec_id") < 100),
      "2024-07-23 11:00:00")
    val r1 = EmbeddingStream.ingestBatch(b1, batchId = 1, indexPath = idx, nCells = 4)
    assert(r1.nVectorsStored == 100)
    // frozen centroids: the bootstrap batch trained them, batch 1 didn't
    val centAfterB1 = spark.read.parquet(s"$idx/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    assert(centAfterB1 == centAfterB0)

    // at-least-once replay of batch 1: same store, no duplicates
    val r1b = EmbeddingStream.ingestBatch(b1, batchId = 1, indexPath = idx, nCells = 4)
    assert(r1b.nVectorsStored == 100)
    assert(spark.read.parquet(s"$idx/vectors").count() == 100)
    assert(storedIds(idx) == (0L until 100L).toSet)
    // the store content equals the frozen-centroid assignment of the union
    val stored = spark.read.parquet(s"$idx/vectors")
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = IvfIndex.assignTo(spark, idx, emb.filter(col("vec_id") < 100))
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored == want)
  }

  test("an ingested duplicate vector is probe-visible at cosine 1") {
    val idx = java.nio.file.Files.createTempDirectory("emb_ingest_probe").toString
    EmbeddingStream.ingestBatch(
      events(emb.filter(col("vec_id") < 80), "2024-07-23 10:00:00"),
      batchId = 0, indexPath = idx, nCells = 4)
    val clone = events(
      emb.filter(col("vec_id") === 7).withColumn("vec_id", lit(70000L)),
      "2024-07-23 11:00:00")
    EmbeddingStream.ingestBatch(clone, batchId = 1, indexPath = idx, nCells = 4)
    val top = IvfIndex.probe(spark, idx, emb.filter(col("vec_id") === 7),
      k = 1, nProbe = 1).collect()
    assert(top.length == 1)
    assert(top.head.getLong(1) == 70000L, s"got ${top.toSeq}")
    assert(top.head.getDouble(3) == 1.0)
  }

  test("the drift report flags a hot cell as skewed batches arrive") {
    val idx = java.nio.file.Files.createTempDirectory("emb_ingest_drift").toString
    val r0 = EmbeddingStream.ingestBatch(
      events(emb.filter(col("vec_id") < 100), "2024-07-23 10:00:00"),
      batchId = 0, indexPath = idx, nCells = 4)
    // 150 clones of one vector: all land in a single frozen cell
    val clones = events(
      emb.filter(col("vec_id") === 11)
        .crossJoin(spark.range(150).select((col("id") + 5000L).as("nid")))
        .select(col("nid").as("vec_id"), col("embedding")),
      "2024-07-23 11:00:00")
    val r1 = EmbeddingStream.ingestBatch(clones, batchId = 1, indexPath = idx, nCells = 4)
    assert(r1.nVectorsStored == 250)
    assert(r1.maxCellShare > r0.maxCellShare,
      s"hot-cell share must rise: ${r0.maxCellShare} -> ${r1.maxCellShare}")
    assert(r1.maxCellShare > 0.6)
  }

  test("ingestContinuous drives the same semantics from a streaming query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("emb_ingest_s").toString
    val ckpt = java.nio.file.Files.createTempDirectory("emb_ingest_s_ckpt").toString
    val reports = scala.collection.mutable.ArrayBuffer.empty[IngestReport]
    val rows = emb.filter(col("vec_id") < 40).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val ms = MemoryStream[VecEvent]
    val q = EmbeddingStream.ingestContinuous(ms.toDS(), idx, ckpt, nCells = 4,
      onBatch = r => reports.synchronized { reports += r })
    try {
      ms.addData(rows.take(25).map { case (id, e) =>
        VecEvent(id, e, Timestamp.valueOf("2024-07-23 10:00:00")) }.toSeq)
      q.processAllAvailable()
      ms.addData(rows.drop(25).map { case (id, e) =>
        VecEvent(id, e, Timestamp.valueOf("2024-07-23 11:00:00")) }.toSeq)
      q.processAllAvailable()
      assert(storedIds(idx) == (0L until 40L).toSet)
      // batch lineage is visible in the partition layout
      val byBatch = spark.read.parquet(s"$idx/vectors")
        .select(col("vec_id"), col("batch_id").cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byBatch.values.toSet == Set(0L, 1L))
      assert(reports.synchronized(reports.map(_.nVectorsStored).toSeq) == Seq(25L, 40L))
    } finally q.stop()
  }
}
