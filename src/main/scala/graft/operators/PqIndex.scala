package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent product-quantization index: train codebooks ONCE, encode and
  * append forever, probe many times.
  *
  * The in-query PQ pipeline (`sim_pq_topk`) re-trains its codebooks on
  * every run — two Lloyd rounds over the training sample, the dominant
  * cost of the query and pure waste at deployment scale: a 100 TB
  * embedding corpus trains codebooks on a sample once, then only ever
  * ENCODES (one argmin pass per arriving batch) and PROBES (additive
  * lookups against stored codes). This operator persists both artifacts:
  *
  *   - `codebooks/` — (m, cell, ce): PqM×PqK rows, broadcast at probe;
  *   - `codes/` — (vec_id, m, code) long-form PQ codes, optionally
  *     Hive-partitioned by a caller-supplied coarse `cell` — the IVF-PQ
  *     layout, where partition pruning seeks to the probed cells' files
  *     and the ADC scan then reads PqM small ints per candidate instead
  *     of the full vector (~64× fewer bytes). Cells prune IO; codes
  *     shrink what's read — the actual large-scale ANN composition.
  *
  * [[append]] encodes new batches with FROZEN codebooks — the stored
  * corpus is never re-encoded or re-shuffled, and `PqIndexSpec` pins
  * frozen-codebook append ≡ encode-over-union. Codebooks drift as the
  * corpus moves (same monitoring story as [[IvfIndex.cellStats]]); rebuild
  * when ADC recall sags.
  *
  * Training/encoding arithmetic is shared with
  * [[graft.analytics.SimilarityQueries]] (pqSubspaces / pqTrainCodebooks /
  * pqAssign), so stored artifacts are bit-identical to the in-query
  * pipeline's and the DuckDB oracles verify store-reading queries
  * unchanged. Keying and build-once readiness are [[StoreRoot]]'s.
  */
object PqIndex {

  /** Bump when the store layout or encoding scheme changes (subspace
    * count, codebook training, or the caller-managed coarse layer) — a
    * READY store of an older layout must never satisfy [[StoreRoot.ensure]] for a
    * consumer expecting the new one.
    */
  val FormatVersion = 2

  /** Registry store key ([[StoreRoot.key]]). */
  val Kind = StoreKind("pq-index", "embeddings", FormatVersion)

  private def cbDir(p: String) = s"$p/codebooks"
  private def codeDir(p: String) = s"$p/codes"

  /** Encode (vec_id, m, sqe) sub-vectors against `cb` → (vec_id, m, code). */
  private def encode(sub: DataFrame, cb: DataFrame): DataFrame =
    graft.analytics.SimilarityQueries.pqAssign(sub, cb)
      .select(col("vec_id"), col("m"), col("cell").as("code"))

  /** Train codebooks on `emb`'s deterministic sample and encode the whole
    * corpus. `coarseCells` (vec_id, cell), when given, partitions the code
    * store by that coarse assignment (the IVF-PQ layout).
    */
  def build(emb: DataFrame, indexPath: String,
      coarseCells: Option[DataFrame] = None): Unit =
    buildFromQuantized(QuantizedVectors.of(emb), indexPath, coarseCells)

  /** [[build]] over an already-quantized vector table (vec_id, qe) — the
    * residual-encoding path, where the caller subtracts each vector's
    * coarse centroid before encoding (classic IVF-PQ: residuals have far
    * less variance than raw vectors, so the same codebook budget buys a
    * finer quantization).
    */
  def buildFromQuantized(vecs: DataFrame, indexPath: String,
      coarseCells: Option[DataFrame] = None): Unit = {
    val spark = vecs.sparkSession
    val sub = graft.analytics.SimilarityQueries.pqSubspaces(vecs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.analytics.SimilarityQueries.pqTrainCodebooks(sub)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(cbDir(indexPath))
    // encode against the STORED codebooks (not the in-memory lineage) so a
    // build and any later append go through byte-identical centroid rows
    val codes = encode(sub, codebooks(spark, indexPath))
    writeCodes(codes, coarseCells, indexPath, SaveMode.Overwrite)
    sub.unpersist(blocking = false)
  }

  /** Encode a new batch with the FROZEN stored codebooks and append its
    * codes — no retraining, no touch of the stored corpus.
    */
  def append(emb: DataFrame, indexPath: String,
      coarseCells: Option[DataFrame] = None): Unit =
    appendFromQuantized(QuantizedVectors.of(emb), indexPath, coarseCells)

  /** [[append]] over an already-quantized (e.g. residual) vector table. */
  def appendFromQuantized(vecs: DataFrame, indexPath: String,
      coarseCells: Option[DataFrame] = None): Unit = {
    val spark = vecs.sparkSession
    val sub = graft.analytics.SimilarityQueries.pqSubspaces(vecs)
    val codes = encode(sub, codebooks(spark, indexPath))
    writeCodes(codes, coarseCells, indexPath, SaveMode.Append)
  }

  private def writeCodes(codes: DataFrame, coarseCells: Option[DataFrame],
      indexPath: String, mode: SaveMode): Unit = coarseCells match {
    case Some(cc) =>
      codes.join(cc.select(col("vec_id"), col("cell")), "vec_id")
        .write.mode(mode).partitionBy("cell").parquet(codeDir(indexPath))
    case None =>
      codes.write.mode(mode).parquet(codeDir(indexPath))
  }

  /** Stored codebooks (m, cell, ce) — PqM×PqK rows. */
  /** Remove a set of vec_ids from the code store (retention / takedown):
    * ADC scans can never rank them again; codebooks stay frozen (they are
    * trained statistics, not per-vector state — same freeze contract as
    * [[append]]). Cell-partitioned stores rewrite only affected cells.
    */
  def delete(spark: SparkSession, indexPath: String, ids: DataFrame): Unit =
    StoreDelete(spark, codeDir(indexPath), "vec_id", ids, Seq("cell"))

  def codebooks(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(cbDir(indexPath))

  /** Stored codes (vec_id, m, code [, cell]). */
  def codes(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(codeDir(indexPath))

  /** ADC scores of every stored vector against `queries` (vec_id, qe):
    * per-query (m, code) → partial-dot lookup tables from the
    * full-precision query sub-vectors against the stored codebooks, then
    * PqM additive lookups per (query, candidate) — map-side combined. The
    * corpus side reads ONLY the code store; `cells`, when given, prunes
    * the cell-partitioned store to the probed partitions first.
    */
  def adcScores(spark: SparkSession, indexPath: String, queries: DataFrame,
      cells: Option[Seq[Int]] = None): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val qsub = graft.analytics.SimilarityQueries.pqSubspaces(queries)
    val lut = qsub.join(broadcast(codebooks(spark, indexPath)), Seq("m"))
      .withColumn("pd", expr("long_dot(sqe, ce)"))
      .select(col("vec_id").as("q_id"), col("m"), col("cell").as("code"), col("pd"))
    val base = codes(spark, indexPath)
    val pruned = cells match {
      case Some(cs) => base.filter(col("cell").isin(cs: _*))
      case None => base
    }
    pruned.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adot"))
  }
}
