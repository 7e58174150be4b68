package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent KMV (bottom-k minimum values) sketch store: per-(event_type,
  * day) distinct-activity sketches, built once per slice and MERGED at read
  * time — the 100 TB shape `evt_kmv_overlap` documents ("keep per-shard
  * sketches, answer any pairwise overlap later without touching the corpus
  * again"), made real.
  *
  * Why (type, day) slices: KMV sketches are losslessly mergeable —
  * bottom-k(bottom-k(A) ∪ bottom-k(B)) = bottom-k(A ∪ B) (the theorem
  * `KmvOverlapSpec` pins) — so the finest slice the pipeline appends is
  * also the unit of retention, and ANY rollup (per type, per week, whole
  * corpus) is a distinct + bottom-k over stored sketch rows: ≤ 64 longs per
  * slice, never a corpus re-scan. A day of events costs its own slice
  * sketches to ingest; every overlap question afterwards reads sketch
  * bytes.
  *
  * Stored schema: (event_type, day, h) with ≤ [[K]] rows per (type, day) —
  * h is the triple-iterated Lehmer hash of the (user, day) activity entity,
  * matching `evt_kmv_overlap` bit-for-bit so store-answered estimates
  * hash-match the from-scratch oracle.
  *
  * Deletes: [[deleteDays]] drops whole day slices (the retention shape —
  * expire old activity). DOCUMENTED LIMITATION: a sketch is lossy, so a
  * USER-level takedown cannot subtract one entity from stored rows; the
  * affected (type, day) slices must be re-sketched from the surviving
  * corpus ([[rebuildDays]]) — bounded by the user's active days, never the
  * store.
  *
  * Keying and build-once readiness are [[StoreRoot]]'s.
  */
object KmvStore {

  /** Bump when sketch semantics change (entity encoding, hash, k). */
  val FormatVersion = 1

  /** Registry store key ([[StoreRoot.key]]). */
  val Kind = StoreKind("kmvstore", "events", FormatVersion)

  /** Sketch width (matches evt_kmv_overlap's k). */
  val K = 64

  private def rowDir(indexPath: String) = s"$indexPath/sketches"

  /** Per-(type, day) bottom-[[K]] sketch rows of an events frame. The only
    * corpus-sized stage anywhere in the store's life: one distinct + the
    * bounded top-K typed aggregate (partial phase caps every map task at K
    * entries per group — no per-group sort ever sees the corpus).
    */
  def sketchRows(events: DataFrame): DataFrame = {
    graft.functions.SketchAggregators.register(events.sparkSession)
    events
      .select(col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")).as("day"),
        (col("user_id") * 65536L +
          datediff(col("ts").cast("date"), lit("1970-01-01"))).as("ent"))
      .distinct()
      .withColumn("h", expr(s"(48271L * ((48271L * ((48271L * ent + 11) % ${MPv}L) " +
        s"+ 11) % ${MPv}L) + 11) % ${MPv}L"))
      .groupBy(col("event_type"), col("day"))
      .agg(expr("top64_by_long(-h, h)").as("tk"))
      .select(col("event_type"), col("day"), explode(col("tk")).as("x"))
      .select(col("event_type"), col("day"), col("x._2").as("h"))
  }

  private val MPv = graft.functions.TextFunctions.MP

  /** Sketch the whole corpus at `dir` and overwrite the store. */
  def build(spark: SparkSession, dir: String, indexPath: String): Unit =
    sketchRows(graft.Tables.t(spark, dir, "events"))
      .write.mode(SaveMode.Overwrite).parquet(rowDir(indexPath))

  /** Raw stored sketch rows (event_type, day, h). */
  def rows(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(rowDir(indexPath))
      .select(col("event_type"), col("day"), col("h"))

  /** Per-type sketches merged from the stored slices: distinct h per type,
    * bottom-[[K]] through the same bounded aggregate. Input mass is sketch
    * rows (≤ types × days × K), never the corpus — THE read-side dividend.
    * Mergeability makes this EXACTLY the sketch a from-scratch pass over
    * the type's whole entity set would build (`KmvStoreSpec` pins it).
    */
  def typeSketches(spark: SparkSession, indexPath: String): DataFrame = {
    graft.functions.SketchAggregators.register(spark)
    rows(spark, indexPath)
      .select(col("event_type"), col("h")).distinct()
      .groupBy(col("event_type"))
      .agg(expr("top64_by_long(-h, h)").as("tk"))
      .select(col("event_type"), explode(col("tk")).as("x"))
      .select(col("event_type"), col("x._2").as("h"))
  }

  /** Fold a new event batch in (at-least-once callers): the batch's slice
    * sketches land under `batch_id=N` via dynamic partition overwrite —
    * replay rewrites exactly its own partition. A (type, day) spanning two
    * batches stores two partial sketches; [[typeSketches]]' read-side merge
    * is exact by mergeability. Must be used for EVERY write including the
    * first (flat and partitioned layouts must not mix).
    */
  def appendBatch(newEvents: DataFrame, indexPath: String, batchId: Long): Unit =
    sketchRows(newEvents)
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(rowDir(indexPath))

  /** Drop whole day slices (retention). `days` is a one-column frame of day
    * numbers (days since 1970-01-01, the stored encoding).
    */
  def deleteDays(spark: SparkSession, indexPath: String, days: DataFrame): Unit =
    StoreDelete(spark, rowDir(indexPath), "day", days, Seq("batch_id"))

  /** Re-sketch specific days from a surviving corpus (the user-takedown
    * path: rebuild the affected slices from post-delete events, then drop
    * the stale ones). Batch-driven stores only, and `batchId` must be
    * FRESH: appendBatch's dynamic overwrite would replace an existing
    * batch's whole partition with only the rebuilt days' sketches,
    * silently dropping its other day slices — asserted here rather than
    * documented-and-hoped.
    *
    * Staged for crash safety: the rebuilt slices land under the new batch
    * partition FIRST, and only then do the stale day rows leave the OTHER
    * partitions ([[StoreDelete.scoped]] with `batch_id =!= batchId`). A
    * crash between the steps leaves the store temporarily serving both the
    * old and new rows for those days (stale-but-complete reads — the
    * read-side bottom-k merge still answers) and a re-run with the same
    * batchId converges: the append idempotently rewrites the same
    * partition, the scoped delete never touches it.
    */
  def rebuildDays(survivingEvents: DataFrame, indexPath: String,
      days: DataFrame, batchId: Long): Unit = {
    val spark = survivingEvents.sparkSession
    val part = s"${rowDir(indexPath)}/batch_id=$batchId"
    // a re-run after a crash legitimately finds its own partition; only a
    // partition holding rows for OTHER days marks a reused foreign batch id
    if (StoreRoot.hasData(spark, part)) {
      val dayList = days.select(col(days.columns.head).as("day")).distinct()
      val foreign = spark.read.parquet(part)
        .join(broadcast(dayList), Seq("day"), "left_anti")
      require(foreign.isEmpty,
        s"rebuildDays batchId=$batchId already holds other days' slices — " +
          "pass a fresh batch id (dynamic overwrite would drop them)")
    }
    val dayList = broadcast(days.select(col(days.columns.head).as("day")).distinct())
    appendBatch(
      survivingEvents.join(dayList,
        datediff(col("ts").cast("date"), lit("1970-01-01")) === col("day"))
        .drop("day"),
      indexPath, batchId)
    StoreDelete.scoped(spark, rowDir(indexPath), Seq("day"), days,
      Seq("batch_id"), col("batch_id") =!= lit(batchId))
  }
}
