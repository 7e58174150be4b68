package graft

import org.apache.spark.sql.Dataset

/** Registry of DataFrames persisted inside query builders.
  *
  * Query fns persist shared projections (shingle signatures, quantized
  * vectors) whose lineage is the dominant cost of the query — but the
  * builder returns a lazy DataFrame, so the consuming action (and therefore
  * the right unpersist point) happens in the caller. Builders register each
  * persist here; harnesses call [[releaseAll]] after the action completes,
  * so a long-lived session running registry queries repeatedly never
  * accumulates dead cached projections. Deliberately NOT a memo cache:
  * reusing a projection across repeated runs would let benchmark passes skip
  * the signature pipeline they are supposed to measure.
  */
object CacheTracker {
  // WEAK references: a non-harness caller that never calls releaseAll must
  // not leak — once its result is unreachable, Spark's ContextCleaner
  // auto-unpersists on GC exactly as it would without the tracker, and the
  // cleared entry is dropped at the next drain. Harnesses that do call
  // releaseAll get the prompt, deterministic release.
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[
    java.lang.ref.WeakReference[Dataset[_]]]()
  private val liveRdds = new java.util.concurrent.ConcurrentLinkedQueue[
    java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]()

  /** Register a persisted Dataset for later release; returns it unchanged. */
  def track[T <: Dataset[_]](df: T): T = {
    live.add(new java.lang.ref.WeakReference[Dataset[_]](df)); df
  }

  /** [[track]] + EAGER materialization (one count() over the freshly
    * persisted frame). For a cached frame consumed by several independent
    * downstream stages, lazy materialization is a measured trap: AQE
    * launches the consumer stages CONCURRENTLY over the still-cold cache
    * and each recomputes the full lineage — profiled on txt_dsir_weights,
    * whose persisted (doc, token, k) projection executed its tokenize
    * pipeline 4× per run (once per consumer stage) despite the persist.
    * Block-level caching dedupes nothing across concurrently RUNNING
    * stages; forcing the build with one action before the consuming action
    * restores build-once/read-many. Use where profiling shows ≥2
    * independent consumers; a chain with one consumer needs no eager step.
    */
  def eager[T <: Dataset[_]](df: T): T = {
    track(df)
    df.count()
    df
  }


  /** Register a persisted RDD (the connected-components lineage-cut
    * snapshots — `spark.catalog.clearCache()` does NOT drop RDD-level
    * persists, so untracked they would accumulate across a query sweep).
    */
  def trackRdd[T <: org.apache.spark.rdd.RDD[_]](rdd: T): T = {
    liveRdds.add(new java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]](rdd)); rdd
  }

  /** Unpersist every still-reachable tracked Dataset/RDD and clear the
    * registry (GC-collected entries are simply dropped). Datasets go newest
    * first: Spark re-plans the cached frames built over a frame it uncaches,
    * so a frame tracked later (built over an earlier one) is dropped before
    * what it reads — the oldest-first order cost 0.3–0.6 s per streaming
    * curation batch (`DocumentStream.curateBatch`, sf0.01 documents).
    */
  def releaseAll(): Unit = {
    var held = List.empty[Dataset[_]]
    var d = live.poll()
    while (d != null) {
      val ds = d.get(); if (ds != null) held = ds :: held
      d = live.poll()
    }
    held.foreach(_.unpersist(blocking = false))
    var r = liveRdds.poll()
    while (r != null) {
      val rdd = r.get(); if (rdd != null) rdd.unpersist(blocking = false)
      r = liveRdds.poll()
    }
  }
}
