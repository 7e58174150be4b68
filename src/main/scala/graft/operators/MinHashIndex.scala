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
  * that touch a new doc; [[appendBatch]] then folds the batch into the
  * index for the next arrival.
  *
  * Scale shape: the stored side enters the pair step straight from a
  * columnar scan of the signature parquet (band keys are a cheap slice of
  * the stored `sig` array — no re-tokenization, verified in the spec by
  * plan inspection); candidate generation stays per-bucket (never
  * all-pairs) with the same `BandBucketCap` star guard as the batch
  * pipeline, so a new doc landing in a 50+-way boilerplate bucket pairs
  * with the bucket's representative instead of exploding. The pair step
  * has two tiers (`DedupQueries.minhashPairsTouchingFromSig`): while
  * (stored ∪ new) holds at most `MinhashLocalRows` (200k) signature rows
  * and `MinhashLocalShingles` (16M) shingles, it is ONE [[LocalTier]]
  * task — a streaming micro-batch against a small index is bound by a
  * distributed join's per-job fixed cost, not by data — and above either
  * bound the distributed band join runs.
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
  def build(docs: DataFrame, indexPath: String): Unit =
    signatureRows(docs).write.mode(SaveMode.Overwrite).parquet(sigDir(indexPath))

  /** Fold a processed batch into the index, after its pairs, so the next
    * batch dedups against this one too. It takes the batch's signature
    * rows (doc_id, hs, sig, n_tok) — the rows its pairs came from, so a
    * batch is signed once — and lands them under their own
    * `batch_id=N` partition via dynamic partition overwrite, so a
    * REPLAYED batch (streaming `foreachBatch` is at-least-once) rewrites
    * exactly its own partition instead of double-inserting signatures. An
    * index driven through this method must use it for EVERY write
    * including the first (mixing flat [[build]] output and partitioned
    * batches under one root would give partition discovery conflicting
    * directory depths).
    */
  def appendBatch(batchSig: DataFrame, indexPath: String, batchId: Long): Unit = {
    require(batchSig.columns.toSeq == Seq("doc_id", "hs", "sig", "n_tok"),
      s"appendBatch takes signature rows, got ${batchSig.columns.mkString(", ")}")
    batchSig
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(sigDir(indexPath))
  }

  /** `docs`' signature rows (doc_id, hs, sig, n_tok), the index schema. */
  private[graft] def signatureRows(docs: DataFrame): DataFrame =
    graft.analytics.DedupQueries.signatureRows(docs)

  /** The stored signature rows (doc_id, hs, sig, n_tok), plus `batch_id`
    * on an [[appendBatch]] index. The read takes the storage schema rather
    * than inferring it, which runs a footer-reading Spark job; partition
    * columns are still discovered from the directory names.
    */
  def signatures(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.schema("doc_id BIGINT, hs ARRAY<BIGINT>, sig ARRAY<BIGINT>, n_tok INT")
      .parquet(sigDir(indexPath))

  /** Remove a set of doc_ids from the index (retention / takedown): the
    * next [[newPairs]] batch can no longer collide with them — identical
    * to an index they were never ingested into, because signature rows are
    * independent per doc (no cross-doc statistics to re-derive). Batch-
    * partitioned stores rewrite only the partitions holding deleted docs.
    */
  def delete(spark: SparkSession, indexPath: String, ids: DataFrame): Unit =
    StoreDelete(spark, sigDir(indexPath), "doc_id", ids, Seq("batch_id"))

  /** A batch's signature rows (doc_id, hs, sig, n_tok), persisted: its
    * tokenize → minhash lineage is the whole signature CPU of the batch,
    * and it feeds both [[newPairsFromSig]] and [[appendBatch]].
    */
  private[graft] def batchSignatures(docs: DataFrame): DataFrame =
    graft.CacheTracker.track(signatureRows(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Verified near-dup pairs (doc_a < doc_b, exact Jaccard `j` >= 0.5)
    * between the new batch and the indexed corpus, and within the new batch
    * itself. Pairs of two already-indexed docs are excluded — they were
    * reported when their own batch arrived. Cap/star semantics are computed
    * over (stored ∪ new), exactly as a from-scratch run over the combined
    * corpus would.
    */
  def newPairs(newDocs: DataFrame, indexPath: String): DataFrame =
    newPairsFromSig(batchSignatures(newDocs), indexPath)

  /** [[newPairs]] of a batch already signed ([[batchSignatures]]) — the one
    * incremental pair entry every caller goes through. A missing or empty
    * index is an empty stored side (the first batch bootstraps it), and the
    * stored side anti-joins the batch's own ids out, so a replayed batch
    * whose first attempt already folded its signatures sees exactly the
    * pre-batch corpus: doubled signature rows would otherwise duplicate
    * verify output and inflate bucket sizes past the cap.
    */
  private[graft] def newPairsFromSig(batchSig: DataFrame, indexPath: String,
      localRows: Long = graft.analytics.DedupQueries.MinhashLocalRows): DataFrame = {
    val spark = batchSig.sparkSession
    val batch = batchSig.select("doc_id", "hs", "sig")
    // deliberately NOT persisted: the stored side is a bare columnar scan,
    // so each consumer's column pruning reaches the parquet reader — the
    // row count reads no column, and on the distributed tier the band
    // explode reads only (doc_id, sig)
    val all =
      if (StoreRoot.hasData(spark, indexPath))
        signatures(spark, indexPath).select("doc_id", "hs", "sig")
          .join(broadcast(batch.select("doc_id")), Seq("doc_id"), "left_anti")
          .unionByName(batch)
      else batch
    // asymmetric candidate generation: the new-touching restriction is
    // pushed INTO candidate generation, so stored×stored candidates are
    // never generated, let alone Jaccard-verified
    graft.analytics.DedupQueries.minhashPairsTouchingFromSig(all, batch.select("doc_id"), localRows)
  }
}
