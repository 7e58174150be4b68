package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent media-fingerprint store — the [[DupGraph]] move applied to
  * binary assets: decode + fingerprint each asset ONCE, store the tiny
  * per-asset hashes, and let every media-dedup query read a columnar scan
  * instead of re-deriving the full decode → hash pipeline.
  *
  * The asymmetry is the same one that motivated [[DupGraph]], but stronger:
  * a perceptual hash is 8 bytes per image, an audio envelope hash 8 bytes
  * per track, and video frame hashes ~20 bytes per frame — while the
  * pipeline that produces them re-reads and re-decodes the whole media
  * corpus. At 100 TB of binaries the store is bytes-per-asset; the
  * pipeline is the corpus. Before this store the four mm pair/cluster rows
  * were the heaviest scale rows in the suite precisely because each
  * re-derived its fingerprints per query.
  *
  * Three co-located tables under one root:
  *   - `phash`  (doc_id, h)      — 56-bit image dHash (incl. the registry
  *     fixture's derived perturbed twins; a real-codec deployment feeds
  *     [[Multimodal.phashImage]] output here instead)
  *   - `audio`  (doc_id, h)      — 56-bit audio envelope hash (`audio_fp56`)
  *   - `frames` (doc_id, fi, h)  — per-video frame content hashes. Stored
  *     UNCAPPED: the boilerplate document-frequency cap depends on
  *     corpus-wide frame counts, so it must be computed over the CURRENT
  *     store at read time — capping at build would freeze df at the build
  *     batch's statistics and break append consistency.
  *
  * [[build]] overwrites, [[appendBatch]] folds a new asset batch in
  * idempotently (batch_id dynamic partition overwrite — a replayed batch
  * rewrites exactly its own partition), and [[delete]] propagates
  * takedowns to all three tables. Keying and build-once readiness are
  * [[StoreRoot]]'s.
  */
object MediaGraph {

  /** Bump when any fingerprint semantics change (dHash packing, audio
    * flattening constants, frame stride, the twin derivation) — stale
    * stored hashes would otherwise silently answer for a different scheme.
    */
  val FormatVersion = 1

  /** Registry store key ([[StoreRoot.key]]). */
  val Kind = StoreKind("mediagraph", "documents", FormatVersion)

  private def sub(indexPath: String, t: String) = s"$indexPath/$t"

  // ---- fingerprint derivations (shared by build and appendBatch) ----------
  // These ARE the stand-in decodes the registry queries historically ran
  // inline (MultimodalQueries pre-round-10); a real-binary deployment swaps
  // them for graft.operators.Multimodal.{phashImage, audioFingerprint,
  // videoFrameHashes} over payload bytes — the store schema and every
  // downstream query are identical either way.

  /** 56-bit image dHash over the 8x8 body resample, PLUS the registry
    * fixture's derived near-identical twins (every 5th doc perturbed one
    * mid-body character, id → −(id+1)) so the differential gates exercise
    * real banded candidates. Input: (doc_id, text).
    */
  def phashFrom(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("body", trim(col("text")))
      .filter(length(col("body")) >= 2)
      .select(col("doc_id"), col("body"))
    val pert = base.filter(col("doc_id") % 5 === 0)
      .select((-(col("doc_id") + lit(1L))).as("doc_id"),
        expr("concat(substring(body, 1, length(body) div 2 - 1), 'z', " +
          "substring(body, length(body) div 2 + 1))").as("body"))
    base.unionByName(pert)
      .withColumn("pix", expr("transform(sequence(0, 63), i -> " +
        "ascii(substring(body, cast(1 + (cast(i as bigint) * (length(body) - 1)) div 63 as int), 1)))"))
      .select(col("doc_id"), expr("aggregate(sequence(0, 55), cast(0 as bigint), (a, i) -> " +
        "a + if(element_at(pix, cast((i div 7) * 8 + (i % 7) + 1 as int)) > " +
        "element_at(pix, cast((i div 7) * 8 + (i % 7) + 2 as int)), " +
        "shiftleft(cast(1 as bigint), i), cast(0 as bigint)))").as("h"))
  }

  /** 56-bit audio envelope hash via the native `audio_fp56` expression
    * (VectorExpressions must be registered). Input: (doc_id, text).
    */
  def audioFrom(docs: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    docs.withColumn("body", trim(col("text")))
      .filter(length(col("body")) >= 64)
      .select(col("doc_id"), expr("audio_fp56(body)").as("h"))
  }

  /** Per-video frame content hashes: contiguous 32-unit slices, rolling
    * string hash per frame. Input: (doc_id, text); output (doc_id, fi, h).
    */
  def framesFrom(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.strHashS
    graft.Tables.spread(docs.select("doc_id", "text"), "doc_id")
      .withColumn("body", trim(col("text")))
      .select(col("doc_id"), col("body"),
        explode(expr("if(length(body) = 0, cast(array() as array<int>), " +
          "sequence(1, cast(ceil(length(body) / 32.0) as int)))")).as("fi"))
      .select(col("doc_id"), col("fi"),
        expr(strHashS("substring(body, (fi - 1) * 32 + 1, 32)")).as("h"))
  }

  /** Fingerprint the whole corpus at `dir` and overwrite the store. The
    * documents table is read once per modality, never per query again.
    */
  def build(spark: SparkSession, dir: String, indexPath: String): Unit = {
    val docs = graft.Tables.t(spark, dir, "documents").select("doc_id", "text")
    phashFrom(docs).write.mode(SaveMode.Overwrite).parquet(sub(indexPath, "phash"))
    audioFrom(docs).write.mode(SaveMode.Overwrite).parquet(sub(indexPath, "audio"))
    framesFrom(docs).write.mode(SaveMode.Overwrite).parquet(sub(indexPath, "frames"))
  }

  /** Read one table, tolerating an EMPTY one: a modality none of the
    * corpus qualifies for (every doc too short for the audio fingerprint,
    * say) has no data files at all — an empty-batch dynamic overwrite
    * writes nothing, and a flat overwrite of an empty frame may leave only
    * the commit marker — and that reads as the empty typed frame, not a
    * schema-inference error (the [[DupGraph.edges]] convention).
    */
  private def read(spark: SparkSession, indexPath: String, t: String,
      cols: Seq[String]): DataFrame =
    if (StoreRoot.hasData(spark, sub(indexPath, t)))
      spark.read.parquet(sub(indexPath, t)).select(cols.map(col): _*)
    else {
      import org.apache.spark.sql.types._
      val fields = cols.map {
        case "fi" => StructField("fi", IntegerType)
        case c => StructField(c, LongType)
      }
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(fields))
    }

  /** Stored image hashes (doc_id, h). */
  def phash(spark: SparkSession, indexPath: String): DataFrame =
    read(spark, indexPath, "phash", Seq("doc_id", "h"))

  /** Stored audio hashes (doc_id, h). */
  def audio(spark: SparkSession, indexPath: String): DataFrame =
    read(spark, indexPath, "audio", Seq("doc_id", "h"))

  /** Stored video frame hashes (doc_id, fi, h) — uncapped; consumers apply
    * the boilerplate df cap over the store scan.
    */
  def frames(spark: SparkSession, indexPath: String): DataFrame =
    read(spark, indexPath, "frames", Seq("doc_id", "fi", "h"))

  /** Fold a new asset batch in for at-least-once callers: each modality's
    * batch fingerprints land under their own `batch_id=N` partition via
    * dynamic partition overwrite, so a replayed batch rewrites exactly its
    * own partition instead of double-inserting. As with
    * [[MinHashIndex.appendBatch]], a store driven through this method must
    * use it for EVERY write including the first — flat and partitioned
    * layouts must not mix under one root.
    */
  def appendBatch(newDocs: DataFrame, indexPath: String, batchId: Long): Unit = {
    val docs = newDocs.select("doc_id", "text")
    writeBatch(indexPath, batchId, phashFrom(docs), audioFrom(docs),
      framesFrom(docs))
  }

  private def writeBatch(indexPath: String, batchId: Long, phash: DataFrame,
      audio: DataFrame, frames: DataFrame): Unit =
    Seq("phash" -> phash, "audio" -> audio, "frames" -> frames)
      .foreach { case (t, df) =>
        df.withColumn("batch_id", lit(batchId))
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(sub(indexPath, t))
      }

  /** Fold a batch of REAL media assets in: `assets` is (doc_id BIGINT,
    * media_type STRING in image|audio|video, payload BINARY), decoded with
    * the actual JDK codecs ([[Multimodal.phashImage]] /
    * [[Multimodal.audioFingerprint]] / [[Multimodal.videoFrameHashes]])
    * into the SAME store schema and 56-bit packing the stand-in build
    * emits — every downstream pair/cluster query is identical either way.
    * Payloads no codec accepts are skipped (the decoders return None), so
    * the ingest is total over a dirty crawl. Decoding is a narrow
    * per-partition pass over columnar binary — no shuffle; the store rows
    * are bytes-per-asset while the payloads never leave this stage.
    * Same batch_id idempotence contract as [[appendBatch]].
    */
  def appendAssets(assets: DataFrame, indexPath: String, batchId: Long): Unit = {
    val spark = assets.sparkSession
    import spark.implicits._
    val ds = assets
      .select(col("doc_id").cast("long"), col("media_type"), col("payload"))
      .as[(Long, String, Array[Byte])]
    val ph = ds.filter(_._2 == "image")
      .flatMap { case (id, _, p) => Multimodal.phashImage(p).map(h => (id, h)) }
      .toDF("doc_id", "h")
    val au = ds.filter(_._2 == "audio")
      .flatMap { case (id, _, p) => Multimodal.audioFingerprint(p).map(h => (id, h)) }
      .toDF("doc_id", "h")
    val fr = ds.filter(_._2 == "video")
      .flatMap { case (id, _, p) =>
        Multimodal.videoFrameHashes(p).toSeq.flatMap(_.zipWithIndex.map {
          case (h, i) => (id, i + 1, h)
        })
      }
      .toDF("doc_id", "fi", "h")
    writeBatch(indexPath, batchId, ph, au, fr)
  }

  // ---- perceptual-hash component labels: the DupGraph label tier ----------
  // mm_phash_clusters solves connected components over the banded pair set
  // per query; the maintained label tier ([[LabelStore]] over the verified
  // hamming <= 6 pair graph) answers cluster membership from a bucket scan
  // with NO per-query solve — the same asymmetry dedup_clusters_indexed
  // eliminated for text in round 10. The pair set is DERIVED (banded join
  // over stored hashes — bytes-per-asset, never corpus bytes), so the
  // "edge log" here is the phash table itself.

  private def labelRoot(indexPath: String) = s"$indexPath/phash_labels"

  /** The verified perceptual-hash pair set of the CURRENT store — the
    * derived edge set every label operation runs against.
    */
  private def phashPairs(spark: SparkSession, indexPath: String): DataFrame =
    graft.analytics.MultimodalQueries
      .phashPairsFromHashes(phash(spark, indexPath))
      .select(col("doc_a"), col("doc_b"))

  /** Whether the label tier exists. */
  def labelsExist(spark: SparkSession, indexPath: String): Boolean =
    StoreRoot.hasData(spark, labelRoot(indexPath))

  /** Current component labels (doc_id, lbl) over the phash pair graph. */
  def labels(spark: SparkSession, indexPath: String): DataFrame =
    LabelStore.labels(spark, labelRoot(indexPath))

  /** Bootstrap the label tier from the current store when absent. */
  def ensureLabels(spark: SparkSession, indexPath: String): Unit =
    if (!labelsExist(spark, indexPath))
      LabelStore.refresh(spark, labelRoot(indexPath),
        phashPairs(spark, indexPath).limit(0), phashPairs(spark, indexPath))

  /** Fold an appended batch's doc ids into the label tier: the batch's
    * new-touching pairs (its docs AND their derived twins) come from the
    * banded join over the CURRENT store — band statistics over the whole
    * union, exactly as a from-scratch solve would see them — and feed the
    * contracted-graph refresh. Cost is the banded join over stored hash
    * rows (bytes-per-asset), never a corpus decode.
    */
  def refreshLabels(spark: SparkSession, indexPath: String,
      newDocIds: DataFrame): Unit = {
    val base = newDocIds.select(col(newDocIds.columns.head).as("doc_id")).distinct()
    val nid = broadcast(base.unionByName(
      base.select((-(col("doc_id") + lit(1L))).as("doc_id"))))
    val touching = phashPairs(spark, indexPath)
      .join(nid.select(col("doc_id").as("doc_a"), lit(true).as("ma")),
        Seq("doc_a"), "left")
      .join(nid.select(col("doc_id").as("doc_b"), lit(true).as("mb")),
        Seq("doc_b"), "left")
      .filter(coalesce(col("ma"), lit(false)) || coalesce(col("mb"), lit(false)))
      .select(col("doc_a"), col("doc_b"))
    LabelStore.refresh(spark, labelRoot(indexPath), touching,
      phashPairs(spark, indexPath))
  }

  /** Remove a set of doc_ids from all three tables (retention / takedown).
    * The phash table's derived twin rows follow their source doc (twin id
    * = −(id+1)); deleting ids that never had a twin is a harmless no-op.
    * The label tier follows: touched components recompute surgically over
    * the post-delete pair set ([[LabelStore.applyDelete]]), with a
    * currency-restoring refresh first (appendBatch without refreshLabels
    * must not corrupt the takedown path — the [[DupGraph.delete]] rule).
    */
  def delete(spark: SparkSession, indexPath: String, ids: DataFrame): Unit = {
    val base = ids.select(col(ids.columns.head).as("doc_id")).distinct()
    val withTwins = base.unionByName(
      base.select((-(col("doc_id") + lit(1L))).as("doc_id")))
    if (labelsExist(spark, indexPath))
      LabelStore.refresh(spark, labelRoot(indexPath),
        phashPairs(spark, indexPath), phashPairs(spark, indexPath))
    val touchedSurvivors =
      LabelStore.snapshotTouched(spark, labelRoot(indexPath), withTwins)
    StoreDelete(spark, sub(indexPath, "phash"), "doc_id", withTwins, Seq("batch_id"))
    StoreDelete(spark, sub(indexPath, "audio"), "doc_id", base, Seq("batch_id"))
    StoreDelete(spark, sub(indexPath, "frames"), "doc_id", base, Seq("batch_id"))
    LabelStore.applyDelete(spark, labelRoot(indexPath), withTwins,
      touchedSurvivors, phashPairs(spark, indexPath))
  }
}
