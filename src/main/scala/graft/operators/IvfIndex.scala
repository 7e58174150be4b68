package graft.operators

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

  private[graft] def quantized(emb: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(emb.sparkSession)
    graft.Tables.spread(emb, "vec_id")
      .select(col("vec_id"),
        expr(graft.functions.TextFunctions.quantizeS("embedding")).as("qe"))
      .withColumn("nrm", expr("long_dot(qe, qe)"))
  }

  /** Assign every vector to its nearest centroid (exact integer L2²,
    * ties on cell id) — map-side-combined argmin, the sim_ivf_topk shape.
    */
  private def assign(vecs: DataFrame, cent: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cent))
      .withColumn("dist", expr("long_l2(qe, ce)"))
      .groupBy(col("vec_id"))
      .agg(first(col("qe")).as("qe"), first(col("nrm")).as("nrm"),
        min(struct(col("dist"), col("cell"))).as("m"))
      .select(col("vec_id"), col("qe"), col("nrm"), col("m.cell").as("cell"))

  /** Per-dimension integer mean of each cell's members — posexplode +
    * groupBy(cell, dim), so no row ever holds a whole cell.
    */
  private def means(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("qe")).as(Seq("j", "v")))
      .groupBy(col("cell"), col("j"))
      .agg(expr("cast(round(sum(v) / count(1)) as bigint)").as("cj"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("cj")))),
        x => x.getField("cj")).as("ce"))

  /** Train `nCells` coarse centroids with `iters` Lloyd rounds and write
    * the index. Init = the `nCells` smallest vec_ids (deterministic);
    * empty cells keep their previous centroid.
    */
  def build(emb: DataFrame, indexPath: String, nCells: Int = 16, iters: Int = 2): Unit = {
    val vecs = quantized(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trainCentroids(vecs, indexPath, nCells, iters)
    val centLoaded = emb.sparkSession.read.parquet(s"$indexPath/centroids")
    assign(vecs, centLoaded)
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
    // vec_ids; the row_number window then runs over nCells rows only
    var cent = vecs.orderBy(col("vec_id")).limit(nCells)
      .withColumn("cell",
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int"))
      .select(col("cell"), col("qe").as("ce"))
    for (_ <- 1 to iters) {
      val updated = means(assign(vecs, cent))
      // empty cells (no member) fall back to the previous centroid so the
      // cell count never shrinks between rounds
      cent = cent.select(col("cell"), col("ce").as("prev"))
        .join(updated, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("ce"), col("prev")).as("ce"))
    }
    cent.coalesce(1).write.mode("overwrite").parquet(s"$indexPath/centroids")
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
    assign(quantized(emb), cent)
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
    assign(quantized(emb), cent)
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
    assign(quantized(emb), spark.read.parquet(s"$indexPath/centroids"))
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
    val q = quantized(queries)
      .select(col("vec_id").as("q_id"), col("qe").as("qa"), col("nrm").as("na"))
    val wp = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("cell"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("dist", expr("long_l2(qa, ce)"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= nProbe)
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
      .filter(col("cell").isin(cells: _*))
    val wr = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
    broadcast(probes)
      .join(idx, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cell"),
        expr("round(c, 6)").as("cosine"), col("rn"))
  }
}
