package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent scalar-quantization (SQ8) index — the store form of
  * `sim_sq8_topk`'s pipeline, completing the compression-store family
  * beside [[MinHashIndex]] (signatures), [[IvfIndex]] (cells),
  * [[PqIndex]] (subspace codes) and [[TextIndex]] (postings):
  *
  *   - `stats/`: ONE row of per-lane (min, max) BIGINT arrays — the whole
  *     "codebook" is 2·dim integers, trained by a single
  *     map-side-combined aggregate and FROZEN at build (appends encode
  *     with the training stats, so stored codes stay mutually comparable
  *     — same frozen-parameter discipline as [[PqIndex]]'s codebooks);
  *   - `codes/`: (vec_id, code ARRAY<BIGINT> of [0, 255] lane codes) —
  *     64 B/vector at dim 64, the 4×-over-float32 always-applicable
  *     compression tier.
  *
  * Scoring reconstructs asymmetrically in exact 510-scaled BIGINTs
  * (510·x̂_j = 510·mn_j + (2c_j+1)·(mx_j−mn_j)): the stored codes are the
  * ONLY corpus-sized read, stats + queries broadcast. Store arithmetic is
  * bit-identical to the in-query pipeline, so the registry query's DuckDB
  * oracle is unchanged by reading the store (`SqIndexSpec` pins it, plus
  * append ≡ encode-over-union under frozen stats, and takedown). Keying
  * and build-once readiness are [[StoreRoot]]'s.
  */
object SqIndex {

  /** Bump when the quantization or reconstruction scheme changes. */
  val FormatVersion = 1

  /** Registry store key ([[StoreRoot.key]]). */
  val Kind = StoreKind("sq-index", "embeddings", FormatVersion)

  private def statsDir(p: String) = s"$p/stats"
  private def codeDir(p: String) = s"$p/codes"

  private def encode(vecs: DataFrame, stats: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        expr("transform(sequence(1, size(qe)), j -> " +
          "least(cast(255 as bigint), greatest(cast(0 as bigint), " +
          "if(element_at(mxl, j) = element_at(mnl, j), cast(0 as bigint), " +
          "((element_at(qe, j) - element_at(mnl, j)) * 255) div " +
          "(element_at(mxl, j) - element_at(mnl, j))))))").as("code"))

  /** Train per-lane stats on `emb` and encode it; overwrites the store. */
  def build(emb: DataFrame, indexPath: String): Unit = {
    trainStats(emb, indexPath)
    encode(QuantizedVectors.of(emb), stats(emb.sparkSession, indexPath))
      .write.mode(SaveMode.Overwrite).parquet(codeDir(indexPath))
  }

  /** Cell-partitioned build for the IVF-SQ8 composition: stats train
    * GLOBALLY over `q` (an already-quantized (vec_id, qe) frame) — so flat
    * SQ8's recall carries over unchanged — and codes land under `cell=N`
    * partitions keyed by the caller's coarse assignment (vec_id, cell),
    * the [[PqIndex.buildFromQuantized]] layout with SQ8 lanes instead of
    * subspace codes. Probes partition-prune the code scan to the probed
    * cells' files; scoring stays the asymmetric 510-scaled reconstruction
    * dot of the flat store.
    */
  def buildFromQuantized(q: DataFrame, indexPath: String,
      coarseCells: DataFrame): Unit = {
    trainStatsFromQuantized(q, indexPath)
    encode(q, stats(q.sparkSession, indexPath))
      .join(coarseCells, "vec_id")
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(codeDir(indexPath))
  }

  /** Encode a new batch with the FROZEN training stats and append. */
  def append(emb: DataFrame, indexPath: String): Unit =
    encode(QuantizedVectors.of(emb), stats(emb.sparkSession, indexPath))
      .write.mode(SaveMode.Append).parquet(codeDir(indexPath))

  /** [[append]] for at-least-once callers (streaming `foreachBatch`): the
    * batch's codes land under their own `batch_id=N` partition via dynamic
    * overwrite, so a REPLAYED batch — frozen stats make its encoding
    * deterministic — rewrites exactly its own partition instead of
    * double-inserting. A store driven through this method must use it for
    * EVERY code write including the first (plus [[trainStats]] once):
    * mixed flat/partitioned layouts under one root break discovery.
    */
  def appendBatch(emb: DataFrame, indexPath: String, batchId: Long): Unit =
    encode(QuantizedVectors.of(emb), stats(emb.sparkSession, indexPath))
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(codeDir(indexPath))

  /** Train and persist ONLY the per-lane stats (the bootstrap step of a
    * batch-driven store: first micro-batch trains, every batch then
    * encodes through [[appendBatch]]).
    */
  def trainStats(emb: DataFrame, indexPath: String): Unit =
    trainStatsFromQuantized(QuantizedVectors.of(emb), indexPath)

  /** [[trainStats]] over an already-quantized (vec_id, qe) frame. */
  def trainStatsFromQuantized(emb: DataFrame, indexPath: String): Unit = {
    // A zero-row training frame would freeze EMPTY per-lane arrays (every
    // later encode's element_at -> null -> clamped 0, silently degenerate
    // codes forever). Refuse: the caller must wait for a non-empty batch.
    require(!emb.isEmpty,
      s"SqIndex.trainStats: refusing to freeze stats from an empty frame at $indexPath")
    val st = emb
      .select(posexplode(col("qe")).as(Seq("j", "v")))
      .groupBy(col("j")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(j, mn))), s -> s.mn)").as("mnl"),
        expr("transform(array_sort(collect_list(struct(j, mx))), s -> s.mx)").as("mxl"))
    st.coalesce(1).write.mode(SaveMode.Overwrite).parquet(statsDir(indexPath))
  }

  /** The frozen per-lane stats row (mnl, mxl). */
  def stats(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(statsDir(indexPath))

  /** The stored codes (vec_id, code). */
  def codes(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(codeDir(indexPath))

  /** Asymmetric reconstruction dot of every stored code against each query
    * in `queries` (q_id, qq = quantized query lanes): (q_id, vec_id,
    * ip510), the query itself excluded.
    */
  def scores(spark: SparkSession, indexPath: String, queries: DataFrame): DataFrame =
    codes(spark, indexPath)
      .crossJoin(broadcast(stats(spark, indexPath)))
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr("cast(aggregate(transform(sequence(1, size(code)), j -> " +
          "element_at(qq, j) * (510 * element_at(mnl, j) + " +
          "(2 * element_at(code, j) + 1) * (element_at(mxl, j) - element_at(mnl, j)))), " +
          "cast(0 as bigint), (a, x) -> a + x) as bigint)").as("ip510"))

  /** Remove vectors (retention / takedown): code rows are independent per
    * doc, so post-delete scoring ≡ never-ingested. Frozen stats stay (they
    * are training parameters, not per-doc data).
    */
  def delete(spark: SparkSession, indexPath: String, ids: DataFrame): Unit =
    StoreDelete(spark, codeDir(indexPath), "vec_id", ids, Seq("batch_id"))
}
