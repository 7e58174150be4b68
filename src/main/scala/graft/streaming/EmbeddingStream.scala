package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming form of the embedding near-dup pipeline: the batch
  * hyperplane-LSH operator (`dedup_embedding_lsh`) re-expressed over an
  * unbounded vector stream. At 100 TB embeddings arrive continuously from
  * an encoding fleet, not as a one-shot table; the same blocking design
  * carries over — the stream is keyed by the LSH bucket, so state and
  * shuffle are per-bucket, and pair generation is bounded by bucket
  * occupancy (FIFO-capped), never all-pairs.
  *
  * Vectors are quantized to round(x*1e6) BIGINTs exactly like the batch
  * queries, so a pair's cosine is the same integer arithmetic whether it
  * is found on the stream or in a backfill batch — the parity the spec
  * asserts.
  */
object EmbeddingStream {

  /** One embedded item (the streaming row). */
  final case class VecEvent(vecId: Long, embedding: Seq[Float], eventTime: Timestamp)

  /** A near-duplicate sighting on the stream: `vecB` arrived after `vecA`
    * and landed in the same hyperplane bucket with cosine >= the threshold
    * (rounded to 6 decimals like the batch output).
    */
  final case class VecNearDup(vecA: Long, vecB: Long, cosine: Double)

  /** Per-bucket state: member ids, stride-`dim` flattened quantized
    * vectors, and per-member integer norms. Primitive-only Seqs (tighter
    * state encoding) and public (the state-encoder's deserializer cannot
    * call a private constructor).
    */
  final case class VecBucketState(ids: Seq[Long], vecsFlat: Seq[Long], norms: Seq[Long])

  /** Streaming hyperplane-LSH near-dup detection. Each vector hashes to a
    * 2^planes-bucket key (`hyperplane_key`, the same native expression and
    * weight family as batch); the stream is keyed by the bucket, and a
    * bucket's state holds its most recent `bucketCap` members — FIFO
    * eviction bounds the store at `buckets x cap x dim` longs regardless
    * of stream age, the streaming analog of the batch bucket-occupancy
    * contract (`SimilarityQueries.planesFor` scales `planes` to hold
    * occupancy constant as the fleet grows). An arriving vector is scored
    * against its bucket's members by exact integer dot product and emits a
    * pair per cosine >= `cosThreshold`. Re-sent vecIds are ignored
    * (idempotent replay inside the cap window).
    */
  def nearDupPairs(
      vecs: Dataset[VecEvent],
      // RESTART-STABLE default (env override or the fixed default — never
      // the mutable session-resolved count): state is keyed by the bucket,
      // so a restarted stream must hash identically or its checkpointed
      // state is orphaned. Parity with batch still survives an
      // SPARK_GRAFT_LSH_PLANES override, which pins both sides.
      planes: Int = graft.analytics.SimilarityQueries.pinnedPlanes,
      cosThreshold: Double = 0.4,
      bucketCap: Int = 50): Dataset[VecNearDup] = {
    val spark = vecs.sparkSession
    graft.functions.VectorExpressions.register(spark)
    import spark.implicits._
    val keyed = vecs.toDF()
      .withColumn("qe", expr(graft.functions.TextFunctions.quantizeS("embedding")))
      .withColumn("nrm", expr("long_dot(qe, qe)"))
      .withColumn("bucket", expr(s"hyperplane_key(qe, $planes)"))
      .select(col("bucket"), col("vecId"), col("qe"), col("nrm"))
      .as[(Long, Long, Seq[Long], Long)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[(Long, Long, Seq[Long], Long)],
         state: GroupState[VecBucketState]) => {
          var ids = state.getOption.map(_.ids.toVector).getOrElse(Vector.empty[Long])
          var flat = state.getOption.map(_.vecsFlat.toVector).getOrElse(Vector.empty[Long])
          var norms = state.getOption.map(_.norms.toVector).getOrElse(Vector.empty[Long])
          val out = Seq.newBuilder[VecNearDup]
          it.foreach { case (_, id, qe, nrm) =>
            if (!ids.contains(id)) {
              val dim = qe.length
              // stride guard: the flattened state is only addressable when
              // every stored vector shares the arriving dimension — a dim
              // change (encoder migration) would silently misalign every
              // offset and score garbage. Treat it as a new epoch: drop the
              // old-dim members and let the bucket refill at the new dim.
              if (ids.nonEmpty && flat.length != ids.length * dim) {
                ids = Vector.empty; flat = Vector.empty; norms = Vector.empty
              }
              var i = 0
              while (i < ids.length) {
                val off = i * dim
                var dot = 0L
                var j = 0
                while (j < dim) { dot += flat(off + j) * qe(j); j += 1 }
                val c = dot / (math.sqrt(norms(i).toDouble) * math.sqrt(nrm.toDouble))
                if (c >= cosThreshold) {
                  // same 6-decimal rounding as the batch round(c, 6)
                  val r = BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                  out += VecNearDup(math.min(ids(i), id), math.max(ids(i), id), r)
                }
                i += 1
              }
              ids = ids :+ id
              flat = flat ++ qe
              norms = norms :+ nrm
              if (ids.length > bucketCap) { // FIFO eviction bounds state
                ids = ids.drop(1)
                flat = flat.drop(dim)
                norms = norms.drop(1)
              }
            }
          }
          state.update(VecBucketState(ids, flat, norms))
          out.result().iterator
        })
  }

  /** Per-batch ingestion report — the stream metric surface of
    * [[ingestContinuous]]: batch size plus the [[graft.operators.IvfIndex
    * .cellStats]] drift signal (occupied cells and the hottest cell's
    * corpus share). A rising `maxCellShare` means the frozen bootstrap
    * centroids no longer fit the arriving distribution — rebuild time.
    */
  final case class IngestReport(
      batchId: Long, nVectorsStored: Long, occupiedCells: Long, maxCellShare: Double)

  /** Continuous embedding ingestion into a persistent [[graft.operators
    * .IvfIndex]]: the FIRST micro-batch trains the coarse centroids
    * (bootstrap — a deployment would train on a backfill sample; the
    * stream freezes routing from then on), and EVERY batch lands through
    * frozen-centroid [[graft.operators.IvfIndex.appendBatch]] — dynamic
    * (cell, batch_id) partition overwrite, so foreachBatch's at-least-once
    * replays rewrite exactly their own partitions and the store stays
    * exactly-once. Appended vectors are probe-visible immediately (same
    * centroids they'd have had at build time). After each batch the cell-
    * occupancy drift report goes to `onBatch` — wire it to a metrics gauge
    * or alert; the default drops it.
    */
  def ingestContinuous(
      vecs: Dataset[VecEvent],
      indexPath: String,
      checkpointDir: String,
      nCells: Int = 16,
      onBatch: IngestReport => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[VecEvent], batchId: Long) =>
        onBatch(ingestBatch(batch.toDF(), batchId, indexPath, nCells))
      }
      .start()

  /** The per-micro-batch body of [[ingestContinuous]] — exposed so replay
    * idempotence and probe visibility are directly testable without a
    * running query.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, indexPath: String,
      nCells: Int = 16): IngestReport = {
    import graft.operators.{IvfIndex, QuantizedVectors, StoreRoot}
    val spark = batch.sparkSession
    val emb = batch.select(col("vecId").as("vec_id"), col("embedding"))
    if (!StoreRoot.hasData(spark, s"$indexPath/centroids"))
      IvfIndex.trainCentroids(QuantizedVectors.normed(emb), indexPath, nCells)
    IvfIndex.appendBatch(emb, indexPath, batchId)
    val stats = IvfIndex.cellStats(spark, indexPath)
      .agg(count(lit(1)), sum(col("n")), max(col("share"))).first()
    IngestReport(batchId, stats.getLong(1), stats.getLong(0), stats.getDouble(2))
  }

  /** One micro-batch of SQ8 ingestion into a persistent [[graft.operators
    * .SqIndex]] — the compressed-codes twin of [[ingestBatch]], for a
    * caller's `foreachBatch`: the FIRST non-empty batch trains the
    * per-lane (min, max) stats (bootstrap; a deployment trains on a
    * backfill sample) and every batch encodes through the frozen stats
    * into its own `batch_id=N` partition (dynamic overwrite — a replayed
    * batch rewrites only itself, and frozen stats make the replayed
    * encoding deterministic). Appended codes are score-visible
    * immediately and mutually comparable with everything stored.
    */
  def sqIngestBatch(batch: DataFrame, batchId: Long, indexPath: String): Unit = {
    import graft.operators.{SqIndex, StoreRoot}
    val spark = batch.sparkSession
    val emb = batch.select(col("vecId").as("vec_id"), col("embedding"))
    // An EMPTY first micro-batch must not bootstrap: frozen empty-lane
    // stats would degenerate every later encode. The first NON-empty
    // batch trains; empty batches before it are no-ops. The isEmpty
    // probe only runs pre-bootstrap, so steady state pays nothing.
    if (!StoreRoot.hasData(spark, s"$indexPath/stats")) {
      if (emb.isEmpty) return
      SqIndex.trainStats(emb, indexPath)
    }
    SqIndex.appendBatch(emb, indexPath, batchId)
  }

  /** Streaming takedown across the VECTOR-side derived surface — the
    * embedding twin of [[DocumentStream.takedownContinuous]], closing the
    * right-to-be-forgotten story symmetrically: one entry point that
    * propagates each micro-batch of vec_ids to every ANN store built from
    * the fleet's embeddings (IVF cells, PQ codes, SQ8 codes) plus an
    * optional raw vector lake, instead of requiring callers to remember
    * per-store `delete` calls. Each store's delete is the partition-pruned
    * [[graft.operators.StoreDelete]] rewrite (only partitions holding
    * deleted keys are touched), so a takedown batch costs the affected
    * partitions, never a store rebuild — and replaying the same batch is
    * idempotent (deleting already-absent ids rewrites nothing).
    */
  def takedownContinuous(
      requests: Dataset[Long],
      checkpointDir: String,
      ivfPath: Option[String] = None,
      pqPath: Option[String] = None,
      sqPath: Option[String] = None,
      lakePath: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    requests.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Long], _: Long) =>
        takedownBatch(batch.toDF("vec_id"), ivfPath, pqPath, sqPath, lakePath)
      }
      .start()

  /** The per-micro-batch body of [[takedownContinuous]] — exposed so the
    * propagation set and replay idempotence are directly testable.
    */
  def takedownBatch(ids: DataFrame,
      ivfPath: Option[String] = None,
      pqPath: Option[String] = None,
      sqPath: Option[String] = None,
      lakePath: Option[String] = None): Unit = {
    val spark = ids.sparkSession
    ivfPath.foreach(graft.operators.IvfIndex.delete(spark, _, ids))
    pqPath.foreach(graft.operators.PqIndex.delete(spark, _, ids))
    sqPath.foreach(graft.operators.SqIndex.delete(spark, _, ids))
    // a raw vector lake lands (vecId, …) under (day, batch_id) like the
    // document lake; partition columns absent from a store are ignored
    lakePath.foreach(graft.operators.StoreDelete(spark, _, "vecId", ids,
      Seq("day", "batch_id")))
  }

  /** Event-time windowed embedding-fleet health: vectors per window and
    * mean/min quantized norm — the drift signal an encoding fleet is
    * monitored by (a norm collapse means the encoder degenerated).
    */
  def windowedNormStats(
      vecs: Dataset[VecEvent],
      windowLen: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val spark = vecs.sparkSession
    graft.functions.VectorExpressions.register(spark)
    vecs.toDF()
      .withColumn("qe", expr(graft.functions.TextFunctions.quantizeS("embedding")))
      .withColumn("nrm", expr("long_dot(qe, qe)"))
      .withWatermark("eventTime", watermarkDelay)
      .groupBy(window(col("eventTime"), windowLen))
      .agg(count(lit(1)).as("n_vecs"),
        avg(sqrt(col("nrm"))).as("avg_norm"),
        min(sqrt(col("nrm"))).as("min_norm"))
  }
}
