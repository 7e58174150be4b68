package graft.operators

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent IVF (inverted-file) ANN index: build once, probe many.
  *
  * `sim_ivf_topk` demonstrates the IVF *query shape* end-to-end, but it
  * re-derives centroids and cell assignments on every run. A 100 TB
  * similarity deployment amortizes that: [[build]] trains coarse centroids
  * (deterministic Lloyd iterations over exact integer arithmetic) and
  * writes the corpus PARTITIONED BY CELL, so [[probe]] reads only the
  * `nProbe / nCells` fraction of the index files — Spark's partition
  * pruning is the "inverted file" seek, verified in the spec via the scan's
  * partition filters.
  *
  * Layout under `indexPath`:
  *   - `centroids/` — (cell, ce: array<bigint>) — tiny, broadcast at probe
  *   - `vectors/cell=N/…` — (vec_id, qe, nrm) Hive-partitioned by cell
  *
  * Determinism: quantized round(x*1e6) BIGINT vectors; init centroids are
  * the `nCells` smallest vec_ids; every argmin breaks ties on cell id —
  * rebuilt indexes have deterministic LOGICAL content (identical centroid
  * rows and cell memberships, what `IvfIndexSpec` asserts); the parquet
  * file layout and row order under `partitionBy` still vary with task
  * parallelism, as for any distributed write.
  *
  * Keying and build-once readiness are [[StoreRoot]]'s.
  *
  * It is also the repo's one coarse quantizer: [[nearest]] (argmin
  * assignment), [[means]] (per-lane integer centroids), [[lloyd]]
  * (training rounds) and [[nearestCells]] (the per-query probe window).
  * Callers: this store; the IVF-PQ, residual IVF-PQ and IVF-SQ8 stores and
  * probes, the PQ codebooks (`pqTrainCodebooks`/`pqAssign`, grouped by
  * subspace), `sim_ivf_topk`, `sim_ivf_recall` and `sim_cluster_stats` in
  * [[graft.analytics.SimilarityQueries]], and `dedup_semantic` in
  * [[graft.analytics.DedupQueries]].
  */
object IvfIndex {

  /** Bump when the store layout or assignment scheme changes (centroid
    * training, quantization, the `cell`/`batch_id` partitioning) — a ready
    * store of an older layout must never serve a consumer expecting the
    * new one.
    */
  val FormatVersion = 1

  /** Registry store key ([[StoreRoot.key]]). */
  val Kind = StoreKind("ivf-index", "embeddings", FormatVersion)

  /** Assign every row of `vecs` (vec_id, by…, `vec`, …) to its nearest
    * centroid of `cent` (by…, cell, ce): exact integer L2², ties on cell id.
    * The argmin is min(struct(dist, cell)) under groupBy, so partial
    * aggregation combines map-side and the vectors × centroids product is
    * reduced before its shuffle (a per-vector window would shuffle it
    * whole). The centroid table broadcasts; `by` keys (PQ's subspace `m`)
    * join it per group, and with none it cross-joins. Returns
    * (vec_id, by…, carry…, cell); carried columns are constant per
    * vector, so first() is deterministic.
    */
  private[graft] def nearest(vecs: DataFrame, cent: DataFrame,
      carry: Seq[String] = Seq("qe", "nrm"), by: Seq[String] = Nil,
      vec: String = "qe"): DataFrame = {
    val keys = "vec_id" +: by
    val aggs = carry.map(c => first(col(c)).as(c)) :+
      min(struct(col("dist"), col("cell"))).as("mn")
    (if (by.isEmpty) vecs.crossJoin(broadcast(cent)) else vecs.join(broadcast(cent), by))
      .withColumn("dist", expr(s"long_l2($vec, ce)"))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((keys ++ carry).map(col) :+ col("mn.cell").as("cell"): _*)
  }

  /** Per-lane integer mean (round(sum / count), the oracles' arithmetic)
    * of `vec` over each `by` group — posexplode + groupBy(by…, lane), so
    * no row ever holds a whole group. Returns (by…, ce).
    */
  private[graft] def means(vecs: DataFrame, by: Seq[String], vec: String = "qe"): DataFrame =
    vecs
      .select(by.map(col) :+ posexplode(col(vec)).as(Seq("j", "v")): _*)
      .groupBy((by :+ "j").map(col): _*)
      .agg(expr("cast(round(sum(v) / count(1)) as bigint)").as("cj"))
      .groupBy(by.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("j"), col("cj")))),
        x => x.getField("cj")).as("ce"))

  /** `iters` Lloyd rounds from `init` (by…, cell, ce): [[nearest]], then
    * [[means]]. An empty cell (no member) keeps its previous centroid, so
    * the cell count never shrinks between rounds. `by` trains one
    * independent codebook per group in the same passes (PQ's subspaces);
    * with none it is the IVF coarse layer.
    */
  private[graft] def lloyd(vecs: DataFrame, init: DataFrame, iters: Int,
      by: Seq[String] = Nil, vec: String = "qe"): DataFrame = {
    val keys = by :+ "cell"
    (1 to iters).foldLeft(init) { (cent, _) =>
      val updated = means(nearest(vecs, cent, Seq(vec), by, vec), keys, vec)
      cent.select(keys.map(col) :+ col("ce").as("prev"): _*)
        .join(updated, keys, "left")
        .select(keys.map(col) :+ coalesce(col("ce"), col("prev")).as("ce"): _*)
    }
  }

  /** Each query's `nProbe` nearest cells: `q` (q_id, `vec`, …) × the
    * broadcast centroid table (cell, ce), ranked per query on (L2², cell)
    * — a window over |Q| × nCells rows, never over the corpus. Returns
    * q's columns plus cell, ce, dist and the probe rank `prn`.
    */
  private[graft] def nearestCells(q: DataFrame, cent: DataFrame, vec: String,
      nProbe: Int): DataFrame = {
    val wp = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("cell"))
    q.crossJoin(broadcast(cent))
      .withColumn("dist", expr(s"long_l2($vec, ce)"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= nProbe)
  }

  /** Train `nCells` coarse centroids with `iters` Lloyd rounds and write
    * the index. Init = the `nCells` smallest vec_ids (deterministic).
    */
  def build(emb: DataFrame, indexPath: String, nCells: Int = 16, iters: Int = 2): Unit = {
    val vecs = QuantizedVectors.normed(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trainCentroids(vecs, indexPath, nCells, iters)
    val centLoaded = emb.sparkSession.read.parquet(s"$indexPath/centroids")
    nearest(vecs, centLoaded)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexPath/vectors")
    vecs.unpersist(blocking = false)
  }

  /** The training half of [[build]]: Lloyd-iterate `nCells` centroids over
    * an already-quantized vector table and write ONLY `centroids/` — the
    * streaming-ingestion bootstrap, where the first micro-batch trains the
    * coarse layer and every batch (including that first one) lands its
    * vectors through the replay-idempotent [[appendBatch]].
    */
  def trainCentroids(vecs: DataFrame, indexPath: String,
      nCells: Int = 16, iters: Int = 2): Unit = {
    // deterministic init: TakeOrderedAndProject keeps the nCells smallest
    // vec_ids; their vec_id-sorted list numbers them 0.. by position
    val init = vecs.orderBy(col("vec_id")).limit(nCells)
      .agg(array_sort(collect_list(struct(col("vec_id"), col("qe")))).as("init"))
      .select(posexplode(col("init")).as(Seq("cell", "v")))
      .select(col("cell"), col("v.qe").as("ce"))
    lloyd(vecs, init, iters)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/centroids")
  }

  /** Fold a new vector batch into an existing index WITHOUT retraining:
    * each vector is assigned to its nearest STORED centroid and appended
    * into that cell's partition directory. This is the maintenance path a
    * 100 TB similarity deployment actually runs — the corpus trains
    * centroids once, and each arriving embedding batch pays one
    * assignment pass over itself (batch × nCells broadcast argmin), never
    * a re-shuffle or rewrite of the stored corpus. Probes see appended
    * vectors exactly as if they had been present at build time under the
    * same centroids (spec-checked store-content equality).
    *
    * Frozen centroids drift as the corpus distribution moves; watch
    * [[cellStats]] — when occupancy skew grows, [[build]] a fresh index.
    */
  def append(emb: DataFrame, indexPath: String): Unit = {
    val spark = emb.sparkSession
    val cent = spark.read.parquet(s"$indexPath/centroids")
    nearest(QuantizedVectors.normed(emb), cent)
      .write.mode(SaveMode.Append).partitionBy("cell").parquet(s"$indexPath/vectors")
  }

  /** [[append]] for at-least-once callers (streaming `foreachBatch`): the
    * batch's vectors land under their own `batch_id=N` sub-partitions of
    * each cell via dynamic partition overwrite, so a REPLAYED batch —
    * frozen centroids make its assignment deterministic — rewrites exactly
    * its own (cell, batch_id) partitions instead of double-inserting.
    * Probes prune on the leading `cell` level exactly as with [[append]];
    * an index driven through this method must use it for EVERY vector
    * write including the bootstrap batch (mixed partition depths under one
    * store would break partition discovery).
    */
  def appendBatch(emb: DataFrame, indexPath: String, batchId: Long): Unit = {
    val spark = emb.sparkSession
    val cent = spark.read.parquet(s"$indexPath/centroids")
    nearest(QuantizedVectors.normed(emb), cent)
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "batch_id")
      .parquet(s"$indexPath/vectors")
  }

  /** Remove a set of vec_ids from the index (retention / takedown): probes
    * can never return them again, and every other vector's probe result is
    * unchanged (assignments are per-vector under the frozen centroids — no
    * cross-vector state to re-derive). Only the cell partitions holding
    * deleted vectors rewrite (the same file-level pruning the probe path
    * uses). Centroids stay frozen — mass deletion shifts the corpus
    * distribution exactly like mass append does, and the same [[cellStats]]
    * drift monitor covers it.
    */
  def delete(spark: SparkSession, indexPath: String, ids: DataFrame): Unit =
    StoreDelete(spark, s"$indexPath/vectors", "vec_id", ids, Seq("cell", "batch_id"))

  /** Which cell each of `emb`'s vectors lands in under the STORED
    * centroids — (vec_id, cell). The routing decision [[append]] persists,
    * exposed for inspection and for the spec's store≡assignment proof.
    */
  def assignTo(spark: SparkSession, indexPath: String, emb: DataFrame): DataFrame =
    nearest(QuantizedVectors.normed(emb), spark.read.parquet(s"$indexPath/centroids"))
      .select(col("vec_id"), col("cell"))

  /** Per-cell occupancy of the vector store — (cell, n, share). Reads only
    * the partition column plus row counts, so it stays metadata-cheap at
    * any corpus size. The drift monitor for [[append]]: a rising max share
    * means frozen centroids no longer fit the corpus and the hot cell's
    * probe cost is growing — time to rebuild.
    */
  def cellStats(spark: SparkSession, indexPath: String): DataFrame = {
    val counts = spark.read.parquet(s"$indexPath/vectors")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n"))).first().getLong(0).toDouble
    counts.withColumn("share", col("n") / lit(total)).orderBy(col("cell"))
  }

  /** Probe the index: each query ranks cells against the (broadcast-sized)
    * centroid table, and ONLY the union of the top-`nProbe` cells is read
    * from the partitioned store — the `isin` filter prunes at the file
    * level, so a probe touches ~`nProbe/nCells` of the index bytes no
    * matter how large the corpus. Returns (q_id, vec_id, cell, cosine, rn)
    * top-`k` rows per query.
    */
  def probe(spark: SparkSession, indexPath: String, queries: DataFrame,
      k: Int = 5, nProbe: Int = 2): DataFrame = {
    val cent = spark.read.parquet(s"$indexPath/centroids")
    val q = QuantizedVectors.normed(queries)
      .select(col("vec_id").as("q_id") +: QuantizedVectors.Cosine.probe: _*)
    val probes = nearestCells(q, cent, "qa", nProbe)
      .select(col("q_id"), col("qa"), col("na"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the probed cell set is queries x nProbe ids — metadata-scale by
    // construction, and as literals it reaches the scan as a partition
    // filter (the file-level seek a native IVF does with its inverted file)
    val cells = probes.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    // the persist shares `probes` between the cell collect above and the
    // final join (recomputing it would re-run the query quantization +
    // centroid window). Weak-ref tracked: callers that drain
    // CacheTracker after their action (Bench/Verify/streaming jobs do)
    // release it deterministically; anyone else waits for GC
    graft.CacheTracker.track(probes)
    val idx = spark.read.parquet(s"$indexPath/vectors")
      .filter(col("cell").isin(ArraySeq.unsafeWrapArray(cells): _*))
    QuantizedVectors.topK(
        broadcast(probes).join(idx, Seq("cell")).filter(col("vec_id") =!= col("q_id")), k)
      .select(col("q_id"), col("vec_id"), col("cell"),
        expr("round(c, 6)").as("cosine"), col("rn"))
  }
}
