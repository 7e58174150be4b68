package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent MinHash signature index: tokenize a corpus once, dedup every
  * later batch against it incrementally.
  *
  * `dedup_minhash_lsh` re-derives every document's signature on every run —
  * fine for a one-shot sweep, wrong for the pipeline a 100 TB corpus
  * actually runs: the corpus is deduplicated ONCE, and each arriving crawl
  * batch must be checked against it (and against itself) without paying the
  * tokenize → hash → shingle → minhash CPU for the 100 TB again. [[build]]
  * persists the per-doc signature rows (doc_id, shingle-hash set `hs`,
  * 16-lane minhash `sig`, token count `n_tok` — a small fraction of corpus
  * bytes, and the ONLY thing dedup needs from a document); [[newPairs]]
  * signatures just the new batch and runs the band equi-join / hot-bucket
  * star / exact-Jaccard-verify pipeline over (stored ∪ new), keeping pairs
  * that touch a new doc; [[append]] then folds the batch into the index for
  * the next arrival.
  *
  * Scale shape: the stored side enters the band join straight from a
  * columnar scan of the signature parquet (band keys are a cheap slice of
  * the stored `sig` array — no re-tokenization, verified in the spec by
  * plan inspection); candidate generation stays per-bucket (never
  * all-pairs) with the same `BandBucketCap` star guard as the batch
  * pipeline, so a new doc landing in a 50+-way boilerplate bucket pairs
  * with the bucket's representative instead of exploding.
  *
  * Keying and build-once readiness are [[StoreRoot]]'s; a batch-driven
  * index ([[appendBatch]]) is ready once it holds data.
  */
object MinHashIndex {

  /** Bump when the signature scheme changes ([[graft.functions.TextFunctions]]
    * K / band layout / hash constants) — stale persisted signatures would
    * otherwise silently join against incompatible new-batch signatures.
    */
  val FormatVersion = 1

  /** Registry store key ([[StoreRoot.key]]). */
  val Kind = StoreKind("minhash-index", "documents", FormatVersion)

  private def sigDir(indexPath: String) = s"$indexPath/signatures"

  /** Overwrite the index with `docs`' signatures. */
  def build(docs: DataFrame, indexPath: String): Unit = write(docs, indexPath, SaveMode.Overwrite)

  /** Fold a processed batch into the index (call after [[newPairs]] so the
    * next batch dedups against this one too).
    */
  def append(docs: DataFrame, indexPath: String): Unit = write(docs, indexPath, SaveMode.Append)

  /** [[append]] for at-least-once callers (streaming `foreachBatch`): the
    * batch's signatures land under their own `batch_id=N` partition via
    * dynamic partition overwrite, so a REPLAYED batch rewrites exactly its
    * own partition instead of double-inserting signatures. An index driven
    * through this method must use it for EVERY write including the first
    * (mixing flat [[build]] output and partitioned batches under one root
    * would give partition discovery conflicting directory depths).
    */
  def appendBatch(docs: DataFrame, indexPath: String, batchId: Long): Unit = {
    signatureRows(docs)
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(sigDir(indexPath))
  }

  private def write(docs: DataFrame, indexPath: String, mode: SaveMode): Unit =
    signatureRows(docs).write.mode(mode).parquet(sigDir(indexPath))

  /** `docs`' signature rows (doc_id, hs, sig, n_tok) in the index's storage
    * schema, with the native functions installed on their session — the
    * one path by which the stores and streams outside the query registry
    * compute signatures.
    */
  private[graft] def signatureRows(docs: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    graft.analytics.DedupQueries.signatureRows(docs)
  }

  /** The stored signature rows (doc_id, hs, sig, n_tok). */
  def signatures(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(sigDir(indexPath))

  /** Remove a set of doc_ids from the index (retention / takedown): the
    * next [[newPairs]] batch can no longer collide with them — identical
    * to an index they were never ingested into, because signature rows are
    * independent per doc (no cross-doc statistics to re-derive). Batch-
    * partitioned stores rewrite only the partitions holding deleted docs.
    */
  def delete(spark: SparkSession, indexPath: String, ids: DataFrame): Unit =
    StoreDelete(spark, sigDir(indexPath), "doc_id", ids, Seq("batch_id"))

  /** Verified near-dup pairs (doc_a < doc_b, exact Jaccard `j` >= 0.5)
    * between the new batch and the indexed corpus, and within the new batch
    * itself. Pairs of two already-indexed docs are excluded — they were
    * reported when their own batch arrived. Cap/star semantics are computed
    * over (stored ∪ new), exactly as a from-scratch run over the combined
    * corpus would.
    */
  def newPairs(newDocs: DataFrame, indexPath: String): DataFrame = {
    val spark = newDocs.sparkSession
    // persisted: the new batch's signature rows feed the union AND the
    // new-doc flag joins below, and their lineage is the whole signature
    // CPU for the batch
    val newSig = graft.CacheTracker.track(
      signatureRows(newDocs)
        .select("doc_id", "hs", "sig")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val stored = signatures(spark, indexPath).select("doc_id", "hs", "sig")
    // the union is deliberately NOT persisted: its stored side is a bare
    // columnar scan, so each consumer's column pruning reaches the parquet
    // reader — the band explode reads only (doc_id, sig), 16 small longs,
    // and only the two Jaccard-verify sides ever decode the fat hs arrays.
    // A persist here would materialize hs for every consumer (measured
    // ~1.5x the whole query at 32x)
    val all = stored.unionByName(newSig)
    // asymmetric candidate generation: the new-touching restriction is
    // pushed INTO the band join (new-side memberships × bucket) instead of
    // filtering the symmetric pipeline's output, so stored×stored
    // candidates are never generated, let alone Jaccard-verified — the
    // difference between "incremental" meaning less CPU and meaning the
    // same CPU plus a filter
    graft.analytics.DedupQueries
      .minhashPairsTouchingFromSig(all, newSig.select("doc_id"))
      .select(col("doc_a"), col("doc_b"), col("j"))
  }
}
