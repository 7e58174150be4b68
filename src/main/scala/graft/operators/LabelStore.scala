package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Generic incrementally-maintained component-label store — the
  * contracted-graph machinery [[DupGraph]] introduced, extracted so every
  * persistent pair substrate (text dup graph, media fingerprint graph) can
  * carry a label tier without re-implementing the maintenance.
  *
  * Connected components are THE consumer of a pair store (clusters,
  * canonical selection, leakage splits, soft weights), and recomputing them
  * from the full edge set per query re-pays closure over the whole graph.
  * The incremental form exploits what a label store already knows: every
  * stored component is internally connected, so for maintenance it can be
  * CONTRACTED to its label. A new batch's edges project onto the contracted
  * node space (stored endpoint → its label, new endpoint → itself),
  * components run on that TINY graph (new-edge-mass nodes, not corpus), and
  * the result is a label remap (old lbl → merged lbl) plus labels for the
  * new docs. Min-label semantics compose exactly: a stored label is the min
  * of its old component, so the contracted component's min is the true
  * global min (`DupGraphLabelsSpec` pins N-batch maintenance ≡ from-scratch
  * components; `MediaGraphSpec` pins the media tier).
  *
  * Store layout: parquet under `root` partitioned by
  * bkt = doc_id % [[Buckets]], and every update applies as a bucket-wise
  * copy-on-write upsert — only buckets holding a relabeled or new doc are
  * rewritten (the Hudi COW shape, apt for an engine mirroring a Hudi
  * metadata tool). Per-batch cost is O(new edges + relabeled rows +
  * touched-bucket rewrite), never a full-graph closure.
  */
object LabelStore {

  /** Bucket count: bounds the blast radius of one upsert (a touched bucket
    * rewrites ~1/64 of the store) while keeping the driver-side
    * touched-bucket list trivially small.
    */
  val Buckets = 64

  /** Current component labels (doc_id, lbl) — one row per doc that appears
    * in the graph; lbl = min doc_id of its component (the
    * [[ConnectedComponents.components]] contract, maintained incrementally).
    */
  def labels(spark: SparkSession, root: String): DataFrame =
    if (StoreRoot.hasData(spark, root))
      spark.read.parquet(root).select(col("doc_id"), col("lbl"))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lbl", org.apache.spark.sql.types.LongType))))

  /** Fold a batch's edges (doc_a, doc_b) into the store. Bootstrap (no
    * store yet) labels `allEdges` — the substrate's FULL current edge set,
    * evaluated only on that path, so maintenance can be adopted mid-life —
    * directly; steady state contracts stored components to their labels,
    * solves components over (contracted new edges), and applies the remap +
    * new-doc labels as a bucket-pruned upsert. Idempotent under replay:
    * re-applying an already-folded batch yields an identity remap and
    * rewrites the same rows to the same values.
    */
  def refresh(spark: SparkSession, root: String, newEdges: DataFrame,
      allEdges: => DataFrame): Unit = {
    val ne = newEdges.select(col("doc_a"), col("doc_b")).distinct()
    if (!StoreRoot.hasData(spark, root)) {
      val seed = ne.unionByName(
        allEdges.select(col("doc_a"), col("doc_b"))).distinct()
      val lbls = ConnectedComponents.components(seed, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("lbl"))
      writeBuckets(spark, root, lbls)
      return
    }
    val stored = spark.read.parquet(root)
    // contract endpoints to stored labels (AQE elects broadcast for a
    // steady-state small batch and shuffles when a recrawl makes the batch
    // corpus-sized), then SHRINK before solving: an edge whose endpoints
    // contract to the same label is pure within-component redundancy, and
    // a recrawl batch collapses thousands of clique edges onto one
    // contracted pair — the component solve should only ever see the
    // merge SIGNAL, not the batch's edge mass (measured 600k raw → ~40k
    // contracted-distinct on the 32× recrawl probe).
    val la = stored.select(col("doc_id").as("doc_a"), col("lbl").as("la"))
    val lb = stored.select(col("doc_id").as("doc_b"), col("lbl").as("lb"))
    val contracted = ne
      .join(la, Seq("doc_a"), "left")
      .join(lb, Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("a"),
        coalesce(col("lb"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val comp = ConnectedComponents.components(contracted, "a", "b")
    // stored labels whose component merged: (old lbl -> new lbl)
    val remap = comp.filter(col("id") =!= col("lbl"))
      .select(col("id").as("old"), col("lbl").as("nw"))
    val changed = stored.join(broadcast(remap), stored("lbl") === col("old"))
      .select(stored("doc_id"), col("nw").as("lbl"))
    // docs the graph has never seen take their contracted-component label
    val neIds = ne.select(col("doc_a").as("doc_id"))
      .unionByName(ne.select(col("doc_b").as("doc_id"))).distinct()
    val newRows = neIds
      .join(stored.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("lbl"))
    upsertBuckets(spark, root, stored, changed.unionByName(newRows))
  }

  /** Delete phase 1 — BEFORE the substrate's files rewrite: snapshot
    * (localCheckpoint) the touched-component SURVIVOR set. Only the
    * components whose stored label a deleted doc carried can change, so
    * the later recompute is bounded by touched-component mass; the
    * snapshot must be taken off the pre-delete store because a lazy plan
    * over files being replaced is a self-read race.
    */
  def snapshotTouched(spark: SparkSession, root: String,
      ids: DataFrame): Option[DataFrame] =
    if (!StoreRoot.hasData(spark, root)) None
    else {
      val stored = spark.read.parquet(root).select(col("doc_id"), col("lbl"))
      val del = broadcast(
        ids.select(col(ids.columns.head).as("doc_id")).distinct())
      val touchedLbls = stored.join(del, Seq("doc_id")).select(col("lbl")).distinct()
      Some(stored.join(broadcast(touchedLbls), Seq("lbl"))
        .join(del, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).localCheckpoint(true))
    }

  /** Delete phase 2 — AFTER the substrate rewrote: recompute the touched
    * components over `survivingEdges` (the substrate's post-delete pair
    * set) and upsert. Rows to REMOVE are the deleted ids plus touched
    * survivors the delete left edge-less (from-scratch components only
    * know docs with edges), preserving the pinned invariant labels ≡
    * from-scratch components of the surviving pair set.
    */
  def applyDelete(spark: SparkSession, root: String, ids: DataFrame,
      touchedSurvivors: Option[DataFrame], survivingEdges: => DataFrame): Unit =
    touchedSurvivors.foreach { surv =>
      // surviving edges within the touched components: both endpoints of a
      // surviving edge sat in the SAME old component, so one endpoint's
      // membership implies the other's — a single semi-join suffices
      val se = survivingEdges.select(col("doc_a"), col("doc_b"))
        .join(surv.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      val comp = ConnectedComponents.components(se, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("lbl")).localCheckpoint(true)
      val dropIds = ids.select(col(ids.columns.head).as("doc_id")).distinct()
        .unionByName(surv.join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti"))
      StoreDelete(spark, root, Seq("doc_id"), dropIds, Seq("bkt"))
      // rows to REWRITE: recomputed labels of the surviving members
      if (StoreRoot.hasData(spark, root))
        upsertBuckets(spark, root, spark.read.parquet(root), comp)
      else if (!comp.isEmpty) writeBuckets(spark, root, comp)
      surv.unpersist(blocking = false)
      comp.unpersist(blocking = false)
    }

  private def bkt = pmod(col("doc_id"), lit(Buckets)).cast("int")

  private def writeBuckets(spark: SparkSession, root: String,
      rows: DataFrame): Unit =
    // one file per bucket: without the bkt repartition every shuffle task
    // writes a sliver into every bucket dir (64 buckets × tasks tiny
    // files), and the per-refresh read pays file-open count, not bytes
    rows.withColumn("bkt", bkt)
      .repartition(Buckets, col("bkt"))
      .write.mode(SaveMode.Overwrite).partitionBy("bkt")
      .parquet(root)

  /** Bucket-wise copy-on-write upsert: rewrite exactly the buckets holding
    * an upserted doc (survivors of those buckets carried over, everything
    * else untouched). The merged rows materialize (localCheckpoint) before
    * the dynamic overwrite so no lazy plan reads files being replaced.
    */
  private def upsertBuckets(spark: SparkSession, root: String,
      stored: DataFrame, up: DataFrame): Unit = {
    val upB = up.withColumn("bkt", bkt)
    val touched = upB.select(col("bkt")).distinct().collect().map(_.getInt(0))
    if (touched.isEmpty) return
    val keep = stored.filter(col("bkt").isin(touched.toSeq: _*))
      .join(upB.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lbl"), col("bkt"))
    val merged = keep.unionByName(upB).localCheckpoint(true)
    merged.repartition(Buckets, col("bkt"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bkt")
      .parquet(root)
    // the checkpointed blocks served their overwrite-barrier purpose; a
    // long-running maintenance stream must not accumulate one block set
    // per micro-batch in executor storage
    merged.unpersist(blocking = false)
  }
}
