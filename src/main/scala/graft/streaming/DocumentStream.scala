package graft.streaming

import java.sql.Timestamp

import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming form of the LLM-training-data document pipeline: the batch
  * text/dedup operators re-expressed over an unbounded document stream.
  * At 100 TB ingestion is a continuous drip from crawlers, not a one-shot
  * batch; these shapes keep all state bounded by watermark so the pipeline
  * runs indefinitely:
  *
  *   - scoring is a stateless projection (whole-stage codegen, no state);
  *   - exact dedup keys state by content hash and expires it at the
  *     watermark horizon — the cross-batch window in which a re-crawl of
  *     the same page is dropped;
  *   - corpus stats are a watermarked event-time window aggregate whose
  *     state is one row per open window.
  */
object DocumentStream {

  /** One ingested document (the streaming row). */
  final case class DocEvent(docId: Long, text: String, eventTime: Timestamp)

  /** Stateless per-document enrichment: token count plus the same floor-form
    * quality score as batch `txt_quality_score` (identical constants and
    * rounding, so a document scores the same whether it arrives in a
    * backfill batch or on the stream).
    */
  def scored(docs: Dataset[DocEvent]): DataFrame = scoreCols(docs.toDF())

  /** The scoring projection itself — shared by [[scored]] and [[toLake]]
    * (which scores AFTER the dedup so dropped duplicates are never
    * tokenized).
    */
  private def scoreCols(df: DataFrame): DataFrame =
    df.withColumn("t", expr(tokensS("text")))
      .withColumn("n_tokens", expr("size(t)"))
      .withColumn("stop_ratio", expr(stopRatioS("t")))
      .withColumn("distinct_ratio", expr(distinctRatioS("t")))
      .withColumn("len_score", expr(lenScoreS("text")))
      .withColumn("quality", expr(QualityS))
      .drop("t")

  /** Cross-micro-batch exact dedup on the content hash. State is one entry
    * per distinct hash seen inside the watermark horizon and is dropped as
    * event time advances past it (`dropDuplicatesWithinWatermark`), so the
    * store never grows beyond `rate x horizon` regardless of stream age;
    * the only shuffle is the hash-key exchange. First sighting wins and is
    * emitted immediately (no aggregation barrier).
    */
  def dedupExact(docs: Dataset[DocEvent], watermarkDelay: String = "10 minutes"): DataFrame =
    docs.toDF()
      .withColumn("content_hash", md5(trim(col("text"))))
      .withWatermark("eventTime", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Event-time windowed corpus health: volume, token throughput, and mean
    * quality per window — the streaming twin of `txt_corpus_rollup`.
    */
  def windowedCorpusStats(
      docs: Dataset[DocEvent],
      windowLen: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    scored(docs)
      .withWatermark("eventTime", watermarkDelay)
      .groupBy(window(col("eventTime"), windowLen))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        avg(col("quality")).as("avg_quality"))

  /** Stream → layout-optimized lake: each micro-batch of deduped, scored,
    * quality-filtered documents lands layout-clean files via
    * [[graft.operators.LakeLayout]] into the streaming lake's OWN
    * `day=... / batch_id=N` partition tree — NOT the flat `day=...` tree
    * batch curation writes: mixing the two under one root would give
    * Spark's partition discovery conflicting directory depths.
    * foreachBatch because the layout needs a per-batch repartition+sort the
    * file-sink API can't express. foreachBatch alone is only at-least-once
    * (a batch whose files commit before the checkpoint write fails is
    * replayed), so the write is made idempotent with the batch id: each
    * batch lands under a trailing `batch_id=N` partition via DYNAMIC
    * partition overwrite — a replayed batch rewrites exactly its own
    * `day=* / batch_id=N` directories instead of appending duplicates.
    * Returns the started query.
    */
  def toLake(
      docs: Dataset[DocEvent],
      path: String,
      checkpointDir: String,
      minQuality: Double = 0.0,
      watermarkDelay: String = "10 minutes"): org.apache.spark.sql.streaming.StreamingQuery = {
    val deduped = scoreCols(dedupExact(docs, watermarkDelay))
    deduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(batch, batchId, path, minQuality)
      }
      .start()
  }

  /** Continuous crawl ingestion against the PERSISTENT MinHash signature
    * index ([[graft.operators.MinHashIndex]]): each micro-batch is
    * near-dup-checked against the ENTIRE indexed corpus at exact-Jaccard
    * precision, duplicates are dropped, and the survivors land in the lake
    * AND fold into the index for the next batch. Where [[dedupExact]]
    * remembers exact matches for a watermark horizon, here the dedup state
    * IS the signature store, so the horizon is the full corpus history and
    * survives restarts with no state-store migration — a new query against
    * the same index resumes exactly.
    *
    * Drop policy (deterministic): a batch doc that near-dups a STORED doc
    * is dropped (the corpus keeps its first sighting); for in-batch pairs
    * the smaller doc_id survives. Exactly-once: the lake write partitions
    * by `batch_id` with dynamic overwrite ([[landBatch]]) and the index
    * write does the same ([[graft.operators.MinHashIndex.appendBatch]]),
    * so a replayed batch rewrites its own partitions bit-for-bit instead
    * of duplicating rows.
    */
  def ingestContinuous(
      docs: Dataset[DocEvent],
      indexPath: String,
      lakePath: String,
      checkpointDir: String,
      minQuality: Double = 0.0): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[DocEvent], batchId: Long) =>
        ingestBatch(batch.toDF(), batchId, indexPath, lakePath, minQuality)
      }
      .start()

  /** Continuous retrieval indexing: every micro-batch's documents land in
    * the persistent BM25 inverted index ([[graft.operators.TextIndex
    * .appendBatch]] — postings + doc lengths under the batch's own
    * `batch_id` partition, dynamic-overwrite, so foreachBatch's
    * at-least-once replay is exactly-once on the store) and are
    * immediately searchable, with BM25 statistics re-derived over the
    * whole accumulated corpus at query time. The streaming twin of the
    * batch `txt_bm25_indexed` build — a retrieval corpus that GROWS with
    * the crawl instead of being re-indexed from scratch.
    */
  def searchableContinuous(
      docs: Dataset[DocEvent],
      indexPath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[DocEvent], batchId: Long) =>
        graft.operators.TextIndex.appendBatch(
          batch.toDF().select(col("docId").as("doc_id"), col("text")),
          indexPath, batchId)
      }
      .start()

  /** Continuous dup-graph maintenance: every micro-batch's verified
    * new-touching near-dup edges fold into the persistent
    * [[graft.operators.DupGraph]] edge store and its co-located signature
    * index ([[graft.operators.DupGraph.appendBatch]] — both writes land
    * under the batch's own `batch_id=N` partition via dynamic overwrite,
    * so foreachBatch's at-least-once replay is exactly-once on the store).
    * Every batch doc is indexed — the graph AUDITS duplication structure
    * (degree stats, clusters, PageRank stay fresh as the crawl lands)
    * while the keep/drop decision stays with [[ingestContinuous]] /
    * [[curateContinuous]]; a store that only indexed survivors could never
    * answer "how duplicated was the raw crawl". While every band bucket
    * stays under the cap the accumulated store equals a from-scratch
    * [[graft.analytics.DedupQueries.minhashPairs]] run over everything
    * ingested (`DupGraphIngestSpec` pins it), with the edge-log semantics
    * of [[graft.operators.DupGraph.appendBatch]].
    */
  def graphContinuous(
      docs: Dataset[DocEvent],
      graphPath: String,
      checkpointDir: String,
      maintainLabels: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[DocEvent], batchId: Long) =>
        val spark = batch.sparkSession
        graft.operators.DupGraph.appendBatch(
          batch.toDF().select(col("docId").as("doc_id"), col("text")),
          graphPath, batchId)
        // opt-in co-maintained component labels: fold exactly this batch's
        // verified edges (partition-pruned read of the batch_id written
        // above) through the contracted-graph update, so cluster consumers
        // read labels without re-running closure over the whole edge log.
        // Replay-safe end to end: appendBatch rewrites its own partition
        // and refreshLabels is idempotent on already-folded edges.
        if (maintainLabels)
          graft.operators.DupGraph.refreshLabels(spark, graphPath,
            graft.operators.DupGraph.edges(spark, graphPath)
              .filter(col("batch_id") === batchId)
              .select(col("doc_a"), col("doc_b")))
      }
      .start()

  /** Continuous media fingerprinting: every micro-batch's assets land in
    * the persistent [[graft.operators.MediaGraph]] store (image dHash,
    * audio envelope hash, video frame hashes — each under the batch's own
    * `batch_id=N` partition via dynamic overwrite, so foreachBatch's
    * at-least-once replay is exactly-once on the store). The streaming
    * twin of the batch [[graft.operators.MediaGraph.build]]: the mm
    * pair/cluster queries stay fresh as assets arrive, and no query ever
    * re-decodes the media corpus (`MediaGraphSpec` pins batch-driven ≡
    * one-shot build; the fingerprints here are the deterministic stand-in
    * decodes — a real-codec deployment maps
    * [[graft.operators.Multimodal]] decode output through the same store
    * schema).
    */
  def mediaContinuous(
      docs: Dataset[DocEvent],
      mediaPath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[DocEvent], batchId: Long) =>
        graft.operators.MediaGraph.appendBatch(
          batch.toDF().select(col("docId").as("doc_id"), col("text")),
          mediaPath, batchId)
        // keep the media label tier current at stream time: the batch's
        // new-touching pairs fold through the contracted-graph refresh
        // (idempotent under replay — an identity remap rewrites the same
        // rows), so mm_phash_clusters_indexed answers freshly between
        // micro-batches without a per-query components solve
        graft.operators.MediaGraph.refreshLabels(batch.sparkSession,
          mediaPath, batch.toDF().select(col("docId").as("doc_id")))
      }
      .start()

  /** Continuous KMV sketch maintenance over an event stream: each
    * micro-batch's per-(type, day) bottom-k slices fold into the
    * persistent [[graft.operators.KmvStore]] (batch_id dynamic overwrite =
    * exactly-once under replay; slices may span batches arbitrarily — the
    * read-side merge is exact by mergeability, `KmvStoreSpec`). The
    * sketch-serving tier a 100 TB deployment answers audience-overlap
    * questions from, maintained at stream time.
    */
  def kmvContinuous(
      events: DataFrame,
      sketchPath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.KmvStore.appendBatch(batch, sketchPath, batchId)
      }
      .start()

  /** The per-micro-batch body of [[ingestContinuous]] — exposed so dedup
    * semantics and the replay path are directly testable without a running
    * query.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, indexPath: String,
      lakePath: String, minQuality: Double = 0.0): Unit = {
    val b = batch.select(col("docId").as("doc_id"), col("text"), col("eventTime"))
    val batchSig = graft.operators.MinHashIndex.batchSignatures(b)
    // persisted: the lake landing and the index fold both read it
    val survivors = graft.CacheTracker.track(indexSurvivors(b, batchSig, indexPath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    landBatch(scoreCols(survivors), batchId, lakePath, minQuality)
    indexAppend(batchSig, survivors, indexPath, batchId)
    // a dedicated ingestion job owns its session: release the signature
    // projections this batch persisted (they are weak-ref tracked, so a
    // shared-session caller that skips this merely waits for GC)
    graft.CacheTracker.releaseAll()
  }

  /** Near-dup dedup of a (doc_id, text, eventTime) micro-batch against the
    * persistent index — the shared core of [[ingestBatch]] and
    * [[curateBatch]]. `batchSig` is the batch's one signature frame
    * ([[graft.operators.MinHashIndex.batchSignatures]]); its pairs come
    * from [[graft.operators.MinHashIndex.newPairsFromSig]], which
    * bootstraps from a missing or empty index and solves a batch whose
    * (stored ∪ new) signatures fit the local bound in one
    * [[graft.operators.LocalTier]] task. Returns the surviving rows as
    * (docId, text, eventTime). Drop policy as documented on
    * [[ingestContinuous]]: stored doc wins a batch-stored pair, smaller id
    * wins an in-batch pair.
    */
  private def indexSurvivors(b: DataFrame, batchSig: DataFrame, indexPath: String): DataFrame = {
    val pairs = graft.operators.MinHashIndex.newPairsFromSig(batchSig, indexPath)
    // every pair touches >= 1 batch doc, so its doc_a is in the batch
    // whenever its doc_b is not: drop doc_b if it is a batch doc (the
    // larger id of an in-batch pair, or the batch side of a stored-batch
    // one), else doc_a (the corpus keeps its first sighting). Both joins
    // broadcast — a doc_id the batch holds twice only repeats a drop
    val drops = pairs
      .join(broadcast(batchSig.select(col("doc_id").as("doc_b"), lit(true).as("b_new"))),
        Seq("doc_b"), "left")
      .select(when(col("b_new"), col("doc_b")).otherwise(col("doc_a")).as("doc_id"))
    b.join(broadcast(drops), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("docId"), col("text"), col("eventTime"))
  }

  /** Fold the survivors' rows of the batch's signature frame into the
    * index, so each doc is signed once per batch; the broadcast semi-join
    * keeps the frame's partitions and row order.
    */
  private def indexAppend(batchSig: DataFrame, survivors: DataFrame, indexPath: String,
      batchId: Long): Unit =
    graft.operators.MinHashIndex.appendBatch(
      batchSig.join(broadcast(survivors.select(col("docId").as("doc_id"))),
        Seq("doc_id"), "left_semi"),
      indexPath, batchId)

  /** Per-batch curation report — the stream metric surface of
    * [[curateContinuous]]: first-drop counts per stage plus the landed
    * size. A rising duplicate share means the crawl frontier is circling;
    * a rising contamination share means the eval set is leaking into the
    * crawl.
    */
  final case class CurationBatchReport(
      batchId: Long,
      input: Long,
      droppedQuality: Long,
      droppedRepetition: Long,
      droppedContamination: Long,
      droppedDuplicate: Long,
      landed: Long)

  /** Streaming twin of the batch [[graft.jobs.CorpusCuration]] pipeline:
    * every micro-batch runs the STATELESS curation stages (quality,
    * repetition, and — when an eval-set shingle table is supplied —
    * decontamination) with the exact batch arithmetic (same floor-form
    * thresholds from the shared [[graft.functions.TextFunctions]]
    * definitions), then near-dup-dedups the survivors against the
    * persistent MinHash index (full-corpus-history horizon, as
    * [[ingestContinuous]]), and lands PII-SCRUBBED text in the lake.
    *
    * Stage order mirrors the batch funnel (quality -> repetition ->
    * contamination -> duplicate; first drop wins). The batch pipeline's
    * benchmark-holdout stage has no stream analog — holdout is a property
    * of a fixed corpus — but decontamination does: the eval set is small
    * and static, so its shingle table broadcasts into every micro-batch as
    * a stateless filter. The index stores only signatures of the RAW text
    * (hashes, not content), while the lake gets the scrubbed text — PII
    * never lands.
    *
    * Exactly-once: lake and index writes are batch_id-partitioned dynamic
    * overwrites, so at-least-once replays rewrite their own partitions.
    *
    * @param benchShingles eval-set decontamination table with a bigint
    *                      column `h` of distinct trigram hashes (as
    *                      produced by the shingle pipeline); None disables
    *                      the stage
    */
  def curateContinuous(
      docs: Dataset[DocEvent],
      indexPath: String,
      lakePath: String,
      checkpointDir: String,
      cfg: graft.jobs.CorpusCuration.CurationConfig =
        graft.jobs.CorpusCuration.CurationConfig(),
      benchShingles: Option[DataFrame] = None,
      onBatch: CurationBatchReport => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[DocEvent], batchId: Long) =>
        onBatch(curateBatch(batch.toDF(), batchId, indexPath, lakePath, cfg, benchShingles))
      }
      .start()

  /** Continuous takedown: a stream of removal requests (doc ids) applied
    * per micro-batch to the WHOLE derived surface of an ingestion pipeline
    * — the signature index (future batches can no longer collide with
    * removed docs), the BM25 retrieval index if one is maintained (removed
    * docs can no longer be served, every survivor's scoring re-normalizes),
    * and the curated lake itself. The streaming half of the
    * [[graft.operators.StoreDelete]] retention story: a takedown that
    * arrives as an event is effective at the next micro-batch boundary,
    * with each store rewriting only the partitions that held the removed
    * docs. Idempotent under foreachBatch's at-least-once replay — deleting
    * an already-deleted id rewrites nothing — so a replayed request batch
    * converges to the same store state.
    */
  def takedownContinuous(
      requests: Dataset[Long],
      indexPath: String,
      lakePath: String,
      checkpointDir: String,
      textIndexPath: Option[String] = None,
      mediaIndexPath: Option[String] = None,
      dupGraphPath: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    requests.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Long], _: Long) =>
        takedownBatch(batch.toDF("doc_id"), indexPath, lakePath,
          textIndexPath, mediaIndexPath, dupGraphPath)
      }
      .start()

  /** The per-micro-batch body of [[takedownContinuous]] — exposed so the
    * propagation set and replay idempotence are directly testable.
    * Optional stores extend the propagation surface: the media-fingerprint
    * store ([[graft.operators.MediaGraph.delete]] — phash incl. derived
    * twins, audio, frame hashes) and the dup graph
    * ([[graft.operators.DupGraph.delete]] — edges, co-located signatures,
    * AND the maintained component labels, which recompute surgically for
    * the touched components).
    */
  def takedownBatch(ids: DataFrame, indexPath: String, lakePath: String,
      textIndexPath: Option[String] = None,
      mediaIndexPath: Option[String] = None,
      dupGraphPath: Option[String] = None): Unit = {
    val spark = ids.sparkSession
    graft.operators.MinHashIndex.delete(spark, indexPath, ids)
    textIndexPath.foreach(graft.operators.TextIndex.delete(spark, _, ids))
    mediaIndexPath.foreach(graft.operators.MediaGraph.delete(spark, _, ids))
    dupGraphPath.foreach(graft.operators.DupGraph.delete(spark, _, ids))
    // the lake lands docs as (docId, …) partitioned by (day, batch_id)
    graft.operators.StoreDelete(spark, lakePath, "docId", ids, Seq("day", "batch_id"))
  }

  /** The per-micro-batch body of [[curateContinuous]] — exposed so stage
    * semantics and the replay path are directly testable. The near-dup
    * stage signs the batch's stage survivors once
    * ([[graft.operators.MinHashIndex.batchSignatures]]): that frame feeds
    * the pair step — one [[graft.operators.LocalTier]] task while the
    * (stored ∪ new) signatures stay within `DedupQueries.MinhashLocalRows`
    * rows and `MinhashLocalShingles` shingles, the distributed band join
    * above — and its survivors' rows fold into the index.
    */
  def curateBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      lakePath: String,
      cfg: graft.jobs.CorpusCuration.CurationConfig =
        graft.jobs.CorpusCuration.CurationConfig(),
      benchShingles: Option[DataFrame] = None): CurationBatchReport = {
    graft.functions.VectorExpressions.register(batch.sparkSession)
    val b = batch.select(col("docId").as("doc_id"), col("text"), col("eventTime"))
    // stateless signals first: the cheapest verdicts run before any
    // signature or index cost is paid for a doc that was never going to
    // survive them (one codegen'd projection, no shuffle)
    val sig = b
      .withColumn("t", expr(tokensS("text")))
      .withColumn("th", expr(tokenHashesS("t")))
      .withColumn("tri", expr("array_distinct(shingle3_hash(th))"))
      .withColumn("n_tokens", expr("cast(size(t) as bigint)"))
      .withColumn("stop_ratio", expr(stopRatioS("t")))
      .withColumn("distinct_ratio", expr(distinctRatioS("t")))
      .withColumn("len_score", expr(lenScoreS("text")))
      .withColumn("quality", expr(QualityS))
      .withColumn("dup_trigram_frac", expr(
        "if(size(th) < 3, cast(0.0 as double), " +
          "floor((1 - size(tri) / size(shingle3_hash(th))) * 1e6 + 0.5) / 1e6)"))
      .withColumn("top_token_frac",
        expr("floor(max_elem_count(th) / n_tokens * 1e6 + 0.5) / 1e6"))
    val withContam = benchShingles match {
      case Some(bs) =>
        val hits = sig.select(col("doc_id"), explode(col("tri")).as("h"))
          .join(broadcast(bs.select(col("h"))), "h")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        sig.join(hits, Seq("doc_id"), "left")
          .withColumn("contam_frac", expr(
            "floor(coalesce(n_hits, 0) / greatest(size(tri), 1) * 1e6 + 0.5) / 1e6"))
      case None => sig.withColumn("contam_frac", lit(0.0))
    }
    val pre = graft.CacheTracker.track(withContam
      .withColumn("reason",
        when(col("quality") < cfg.minQuality, "quality")
          .when(col("top_token_frac") > cfg.maxTopTokenFrac ||
            col("dup_trigram_frac") > cfg.maxDupTrigramFrac, "repetition")
          .when(col("contam_frac") > cfg.minContamFrac, "contamination"))
      .select(col("doc_id"), col("text"), col("eventTime"), col("reason"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val counts = graft.jobs.CorpusCuration.reasonCounts(pre)
    val surv = pre.filter(col("reason").isNull)
      .select(col("doc_id"), col("text"), col("eventTime"))
    val survSig = graft.operators.MinHashIndex.batchSignatures(surv)
    val survivors = graft.CacheTracker.track(
      indexSurvivors(surv, survSig, indexPath)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val landed = survivors.count()
    // score on the raw text (identical to the batch pipeline), scrub in
    // the final landing projection
    landBatch(scoreCols(survivors).withColumn("text", expr(scrubS("text"))),
      batchId, lakePath, minQuality = 0.0)
    indexAppend(survSig, survivors, indexPath, batchId)
    graft.CacheTracker.releaseAll()
    CurationBatchReport(batchId, counts.values.sum, counts("quality"),
      counts("repetition"), counts("contamination"),
      counts("kept") - landed, landed)
  }

  /** The idempotent per-micro-batch landing [[toLake]] runs — exposed so the
    * replay path (same batchId twice) is directly testable.
    */
  def landBatch(batch: DataFrame, batchId: Long, path: String,
      minQuality: Double): Unit = {
    val kept = batch.filter(col("quality") >= minQuality)
      .withColumn("day", to_date(col("eventTime")))
      .withColumn("batch_id", lit(batchId))
    graft.operators.LakeLayout.write(kept, path,
      graft.operators.LakeLayout.LayoutConfig(
        Seq("day", "batch_id"), Seq(col("quality"))),
      mode = "overwrite",
      options = Map("partitionOverwriteMode" -> "dynamic"))
  }
}
