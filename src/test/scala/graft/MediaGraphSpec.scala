package graft

import graft.operators.{MediaGraph, StoreRoot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persistent media-fingerprint store: a build-once set of per-asset
  * hashes (image dHash, audio envelope, video frame hashes) that the mm
  * pair/cluster registry rows read instead of re-deriving the decode →
  * fingerprint pipeline per query. Pins (1) store ≡ recompute for every
  * modality, (2) batch-driven ingestion with idempotent replay, (3) delete
  * propagation including the phash table's derived twin rows.
  */
class MediaGraphSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docsAt(d: String) =
    Tables.t(spark, d, "documents").select("doc_id", "text")

  test("stored fingerprints equal a from-scratch derivation per modality") {
    val path = tmp("mediagraph_build")
    StoreRoot.ensureAt(spark, path)(MediaGraph.build(spark, sf, _))
    val docs = docsAt(sf)
    assert(MediaGraph.phash(spark, path)
      .exceptAll(MediaGraph.phashFrom(docs)).isEmpty)
    assert(MediaGraph.phashFrom(docs)
      .exceptAll(MediaGraph.phash(spark, path)).isEmpty)
    assert(MediaGraph.audio(spark, path)
      .exceptAll(MediaGraph.audioFrom(docs)).isEmpty)
    assert(MediaGraph.frames(spark, path)
      .exceptAll(MediaGraph.framesFrom(docs)).isEmpty)
    assert(MediaGraph.framesFrom(docs)
      .exceptAll(MediaGraph.frames(spark, path)).isEmpty)
    // ensure on a completed store is a no-op (the build never runs)
    StoreRoot.ensureAt(spark, path)(_ => fail("a completed store must not be rebuilt"))
  }

  test("registry mm rows plan store scans, not per-query fingerprint derivation") {
    // the read-side contract of the store: the pair plan scans the
    // mediagraph parquet and contains NO dHash recompute (the 56-bit
    // aggregate over the resampled pixel grid) and no documents-table scan
    val df = SparkEntry.registry("mm_phash_pairs").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-mediagraph"), "plan must scan the media store")
    assert(!plan.contains("sequence(0, 55"), "plan must not re-derive dHash")
    assert(!plan.contains("documents.parquet"), "plan must not re-read the corpus")
    graft.CacheTracker.releaseAll()
  }

  test("batch-driven store: two batches == one build; replay idempotent") {
    val flat = tmp("mediagraph_flat")
    val batched = tmp("mediagraph_batched")
    val docs = docsAt(sf)
    MediaGraph.build(spark, sf, flat)
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    MediaGraph.appendBatch(b0, batched, 0L)
    assert(StoreRoot.hasData(spark, batched))
    MediaGraph.appendBatch(b1, batched, 1L)
    // replay of batch 1 rewrites exactly its own partition — no dupes
    MediaGraph.appendBatch(b1, batched, 1L)
    for ((get, cols) <- Seq(
        ((p: String) => MediaGraph.phash(spark, p), Seq("doc_id", "h")),
        ((p: String) => MediaGraph.audio(spark, p), Seq("doc_id", "h")),
        ((p: String) => MediaGraph.frames(spark, p), Seq("doc_id", "fi", "h")))) {
      val f = get(flat).select(cols.map(col): _*)
      val b = get(batched).select(cols.map(col): _*)
      assert(b.exceptAll(f).isEmpty && f.exceptAll(b).isEmpty)
    }
  }

  private def pairsOf(path: String) =
    graft.analytics.MultimodalQueries
      .phashPairsFromHashes(MediaGraph.phash(spark, path))
      .select(col("doc_a"), col("doc_b"))

  private def labelMap(path: String): Map[Long, Long] =
    MediaGraph.labels(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def fromScratch(path: String): Map[Long, Long] = {
    val m = graft.operators.ConnectedComponents
      .components(pairsOf(path), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheTracker.releaseAll()
    m
  }

  test("label tier: bootstrap == from-scratch; indexed row plans a label scan") {
    val sfDir = sf
    val path = StoreRoot.ensure(spark, sfDir, MediaGraph.Kind)(MediaGraph.build(spark, sfDir, _))
    MediaGraph.ensureLabels(spark, path)
    assert(labelMap(path) == fromScratch(path))
    // the read-side contract: the indexed row's plan is a label-bucket
    // scan + aggregate — no banded pair join, no components iteration,
    // no fingerprint derivation
    val df = SparkEntry.registry("mm_phash_clusters_indexed").fn(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("phash_labels"), "plan must scan the label tier")
    assert(!plan.contains("16383"), "plan must not run the banded pair join")
    assert(!plan.contains("sequence(0, 55"), "plan must not re-derive dHash")
    // and it answers EXACTLY what the per-query components row answers
    val solve = SparkEntry.registry("mm_phash_clusters").fn(spark, sfDir)
    assert(df.exceptAll(solve).isEmpty && solve.exceptAll(df).isEmpty)
    graft.CacheTracker.releaseAll()
  }

  test("label tier follows appends and deletes (maintained == from-scratch)") {
    val path = tmp("mediagraph_lbl")
    val docs = docsAt(sf)
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    MediaGraph.appendBatch(b0, path, 0L)
    MediaGraph.refreshLabels(spark, path, b0.select("doc_id"))
    assert(labelMap(path) == fromScratch(path))
    MediaGraph.appendBatch(b1, path, 1L)
    MediaGraph.refreshLabels(spark, path, b1.select("doc_id"))
    assert(labelMap(path) == fromScratch(path))
    // replay of batch 1's refresh: identity remap, store unchanged
    MediaGraph.refreshLabels(spark, path, b1.select("doc_id"))
    assert(labelMap(path) == fromScratch(path))
    // takedown: the deleted doc AND its twin leave the tier, touched
    // components recompute over the post-delete pair set
    val victim = MediaGraph.phash(spark, path)
      .filter(col("doc_id") >= 0 && col("doc_id") % 5 === 0)
      .agg(min(col("doc_id"))).collect()(0).getLong(0)
    import spark.implicits._
    MediaGraph.delete(spark, path, Seq(victim).toDF("doc_id"))
    val after = labelMap(path)
    assert(!after.contains(victim) && !after.contains(-(victim + 1L)))
    assert(after == fromScratch(path))
  }

  test("delete propagates to all tables, twins follow their source doc") {
    val path = tmp("mediagraph_del")
    MediaGraph.build(spark, sf, path)
    // pick a doc that HAS a twin (doc_id % 5 == 0, long enough body)
    val victim = MediaGraph.phash(spark, path)
      .filter(col("doc_id") >= 0 && col("doc_id") % 5 === 0)
      .agg(min(col("doc_id"))).collect()(0).getLong(0)
    import spark.implicits._
    MediaGraph.delete(spark, path, Seq(victim).toDF("doc_id"))
    assert(MediaGraph.phash(spark, path)
      .filter(col("doc_id") === victim || col("doc_id") === -(victim + 1L))
      .isEmpty)
    assert(MediaGraph.audio(spark, path).filter(col("doc_id") === victim).isEmpty)
    assert(MediaGraph.frames(spark, path).filter(col("doc_id") === victim).isEmpty)
    // survivors untouched
    assert(MediaGraph.phash(spark, path).count() > 0)
  }
}
