package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent near-duplicate graph: run the MinHash+LSH verify pipeline
  * ONCE, store the verified edge list, and let every graph consumer read a
  * two-column parquet scan.
  *
  * The dup graph is the shared substrate of a whole query family — degree
  * stats, triangle counts, PageRank, duplicate clusters — and each of those
  * re-deriving the full tokenize → shingle → minhash → band-join →
  * Jaccard-verify pipeline per query is the single largest avoidable cost
  * in the suite (the verify pipeline dominates; the graph algorithms
  * themselves are cheap next to it). At 100 TB the asymmetry is extreme:
  * edges are a few hundred bytes per near-dup pair while the pipeline
  * re-reads and re-hashes the whole corpus, so a build-once edge store is
  * the only shape that scales. Keying and build-once readiness are
  * [[StoreRoot]]'s.
  *
  * Stored schema: (doc_a BIGINT, doc_b BIGINT, j DOUBLE) with
  * doc_a < doc_b and exact Jaccard j >= 0.5 — `j` rides along so consumers
  * wanting a stricter threshold filter the scan instead of rebuilding.
  */
object DupGraph {

  /** Bump when the edge semantics change (signature scheme in
    * [[graft.functions.TextFunctions]], band layout, bucket cap, or the
    * j >= 0.5 verify threshold) — stale stored edges would otherwise
    * silently answer graph queries for a different graph.
    */
  val FormatVersion = 1

  /** Registry store key ([[StoreRoot.key]]). */
  val Kind = StoreKind("dupgraph", "documents", FormatVersion)

  private def edgeDir(indexPath: String) = s"$indexPath/edges"

  /** Run the full LSH verify pipeline over `dir`'s documents and overwrite
    * the stored edge list.
    */
  def build(spark: SparkSession, dir: String, indexPath: String): Unit = {
    graft.functions.VectorExpressions.register(spark)
    graft.analytics.DedupQueries.minhashPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("j"))
      .write.mode(SaveMode.Overwrite).parquet(edgeDir(indexPath))
    // the pipeline's tracked shingle/band persists are builder-internal;
    // drop them now — the store is the long-lived artifact, not the caches
    graft.CacheTracker.releaseAll()
  }

  /** Stored edge row count from parquet FOOTERS — no Spark job (round 12,
    * the `embeddingRowsHint` move): the graph queries' local-vs-distributed
    * tier switch needs only a row count, and running `e.count()` per query
    * added a full job/stage launch to every graph row's critical path.
    * Sums the record counts of the edge dir's [[StoreRoot.dataFiles]];
    * deletes rewrite files, so footers stay exact. None when the
    * listing/footers are unreadable — callers fall back to counting.
    */
  def edgeRowsHint(spark: SparkSession, indexPath: String): Option[Long] =
    scala.util.Try {
      val conf = spark.sparkContext.hadoopConfiguration
      StoreRoot.dataFiles(spark, edgeDir(indexPath)).map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try rd.getRecordCount finally rd.close()
      }.sum
    }.toOption

  /** The stored verified edges (doc_a < doc_b, j >= 0.5) — a bare columnar
    * scan; consumers that only need structure prune to (doc_a, doc_b). A
    * batch-driven graph whose batches found no pairs yet has no edge files
    * at all (dynamic overwrite writes nothing for an empty batch) — that
    * reads as the empty edge set, not an error.
    */
  def edges(spark: SparkSession, indexPath: String): DataFrame =
    // an empty-batch dynamic overwrite can leave the root dir with a
    // commit marker but zero data files — only a store with actual
    // parquet is readable
    if (StoreRoot.hasData(spark, edgeDir(indexPath))) spark.read.parquet(edgeDir(indexPath))
    // the empty fallback mirrors the PARTITIONED layout (batch_id
    // included): consumers selecting batch_id must see the same schema
    // whether the store is empty or populated
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_a", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_b", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("j", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.LongType))))

  /** [[build]] plus a co-located [[MinHashIndex]] signature store, the
    * from-scratch form of the store [[appendBatch]] grows one batch at a
    * time. Layout: `indexPath/sig/…` (signatures), `indexPath/edges/…`.
    */
  def buildFrom(docs: DataFrame, indexPath: String): Unit = {
    val spark = docs.sparkSession
    MinHashIndex.build(docs, s"$indexPath/sig")
    graft.analytics.DedupQueries.minhashPairsFromSig(
        MinHashIndex.signatures(spark, s"$indexPath/sig")
          .select(col("doc_id"), col("hs"), col("sig")))
      .select(col("doc_a"), col("doc_b"), col("j"))
      .write.mode(SaveMode.Overwrite).parquet(edgeDir(indexPath))
    graft.CacheTracker.releaseAll()
  }

  /** Fold a document batch into the store incrementally: the asymmetric
    * pipeline ([[MinHashIndex.newPairsFromSig]] — new-side band
    * memberships against (stored ∪ new) buckets, stored-stored candidates
    * never generated) yields the batch's verified new-touching edges,
    * which land under their own `batch_id=N` partition via dynamic
    * partition overwrite; the co-located signature store then folds the
    * batch in through [[MinHashIndex.appendBatch]] (same idempotence), so
    * the NEXT batch dedups against this one too and a REPLAYED batch
    * rewrites exactly its own partitions instead of double-inserting
    * edges.
    *
    * Semantics: the store is an append-only edge LOG — the union of each
    * batch's sightings under the bucket statistics in force when it
    * arrived. While every bucket stays under the cap this equals a
    * from-scratch [[buildFrom]] exactly (`GraphQueriesSpec`,
    * `DupGraphIngestSpec`); once a bucket crosses the cap, a rebuild
    * would retroactively re-shape that bucket's OLD pairs into a star,
    * whereas the log keeps the richer already-verified pairs and adds the
    * new star sightings — connected components and dedup decisions only
    * ever gain edges, never lose verified ones, which is the property an
    * incremental curation pipeline needs (earlier dedup decisions must not
    * silently un-happen). Replay determinism is
    * [[MinHashIndex.newPairsFromSig]]'s: its stored side anti-joins the
    * batch's own doc_ids out, so a replay whose first attempt already
    * folded the signatures sees exactly the pre-batch corpus. The batch is
    * signed once, for its pairs and its index rows. A graph driven through
    * this method must use it for EVERY write including the first (as
    * [[MinHashIndex.appendBatch]]: flat and partitioned layouts must not
    * mix under one root).
    */
  def appendBatch(newDocs: DataFrame, indexPath: String, batchId: Long): Unit = {
    val sigPath = s"$indexPath/sig"
    val batchSig = MinHashIndex.batchSignatures(newDocs)
    MinHashIndex.newPairsFromSig(batchSig, sigPath)
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(edgeDir(indexPath))
    MinHashIndex.appendBatch(batchSig, sigPath, batchId)
    graft.CacheTracker.releaseAll()
  }

  /** Remove a set of doc_ids from the graph (retention / takedown): every
    * edge TOUCHING a deleted doc drops — an edge is evidence about two
    * documents, and serving it after either endpoint's deletion leaks that
    * the deleted text near-duplicated the survivor. Connected components
    * over the surviving edges equal components computed on a graph the
    * docs never joined, minus any connectivity they alone provided (a
    * star's hub deletion correctly splits its clique — those pairs were
    * only ever sighted through the hub). Propagates to the co-located
    * signature store so future [[appendBatch]] batches can no longer
    * collide with deleted docs either.
    *
    * Label-store propagation: a maintained label store must not keep
    * serving rows for deleted docs, nor keep SURVIVOR components merged
    * through a deleted bridge doc. The surgical form (no full-graph
    * closure): only the components whose stored label a deleted doc
    * carried can change, so components recompute over the surviving edges
    * of exactly those components — touched-component mass, never corpus
    * mass. Survivors left edge-less by the delete drop out of the store
    * entirely, preserving the pinned invariant labels ≡ from-scratch
    * components of the surviving edge log (`DupGraphLabelsSpec`).
    */
  def delete(spark: SparkSession, indexPath: String, ids: DataFrame): Unit = {
    // the surgical label recompute below assumes the label store is CURRENT
    // with the edge log — an unfolded appendBatch (edges written,
    // refreshLabels not yet run) would otherwise leave an unlabeled doc
    // bridging a touched and an untouched component labeled from the
    // touched subgraph only. Folding the full edge log first restores
    // currency: when labels ARE current the contraction collapses every
    // edge (a = b) and the refresh is a no-op after one edge-mass join —
    // acceptable on the takedown path, and it also catches unfolded edges
    // between two already-labeled components (which no unlabeled-doc scan
    // would see).
    if (labelsExist(spark, indexPath))
      refreshLabels(spark, indexPath,
        edges(spark, indexPath).select(col("doc_a"), col("doc_b")))
    // snapshot the touched-component survivor set BEFORE any store file is
    // rewritten — a lazy plan over files being replaced is a self-read race
    val touchedSurvivors =
      LabelStore.snapshotTouched(spark, labelDir(indexPath), ids)
    StoreDelete(spark, edgeDir(indexPath), Seq("doc_a", "doc_b"), ids, Seq("batch_id"))
    MinHashIndex.delete(spark, s"$indexPath/sig", ids)
    LabelStore.applyDelete(spark, labelDir(indexPath), ids, touchedSurvivors,
      edges(spark, indexPath).select(col("doc_a"), col("doc_b")))
  }

  // ---- incremental component labels: contracted-graph maintenance --------
  // The maintenance machinery itself lives in [[LabelStore]] (extracted in
  // round 11 so the media fingerprint graph carries the same tier); this
  // store keeps thin delegates bound to its `indexPath/labels` root.

  private def labelDir(indexPath: String) = s"$indexPath/labels"

  /** Whether a label store exists (any bucket partition with data). */
  def labelsExist(spark: SparkSession, indexPath: String): Boolean =
    StoreRoot.hasData(spark, labelDir(indexPath))

  /** Current component labels (doc_id, lbl) — one row per doc that appears
    * in the graph; lbl = min doc_id of its component (the
    * [[ConnectedComponents.components]] contract, maintained incrementally).
    */
  def labels(spark: SparkSession, indexPath: String): DataFrame =
    LabelStore.labels(spark, labelDir(indexPath))

  /** Fold a batch's verified edges into the label store
    * ([[LabelStore.refresh]]); the bootstrap path folds in whatever the
    * edge log already holds, so label maintenance can be adopted mid-life
    * on an existing store.
    */
  def refreshLabels(spark: SparkSession, indexPath: String,
      newEdges: DataFrame): Unit =
    LabelStore.refresh(spark, labelDir(indexPath), newEdges,
      edges(spark, indexPath).select(col("doc_a"), col("doc_b")))
}
