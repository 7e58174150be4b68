package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion propagation for the persistent derived stores (retention /
  * right-to-be-forgotten): remove a set of keys from a parquet store
  * WITHOUT rebuilding it.
  *
  * A 100 TB curation pipeline accumulates derived artifacts keyed by
  * document — MinHash signatures, BM25 postings, IVF cell vectors, dup-graph
  * edges. A takedown or retention window must reach ALL of them, and
  * "rebuild the store from the filtered corpus" costs a full-corpus pass
  * per store. This helper is the partition-pruned alternative:
  *
  *   - Partitioned stores (batch_id, cell, or nested cell/batch_id) rewrite
  *     ONLY the partitions that hold deleted keys — dynamic partition
  *     overwrite, the [[MinHashIndex.appendBatch]] idempotence machinery
  *     reused for removal. Deleting a crawl batch's worth of docs touches
  *     that batch's partitions, not the store.
  *   - Flat stores rewrite via stage-then-swap (write survivors beside the
  *     store, rename into place) — the small-store fallback; partitioned
  *     layouts are the scale path.
  *
  * Partitions left EMPTY by a delete are removed explicitly: dynamic
  * partition overwrite only replaces partitions it writes rows for, so a
  * fully-deleted partition would otherwise silently keep its stale files —
  * the one failure shape that turns "deleted" into "still served".
  *
  * The survivor set is materialized (localCheckpoint) before any file of
  * the store is replaced: a lazy plan still reading the files being
  * overwritten is the classic self-overwrite corruption.
  */
object StoreDelete {

  /** Drop every row of the parquet store at `dir` where ANY of `keyCols`
    * appears in `ids` (a tiny one-column frame — broadcast). `partCols` is
    * the store's partition layout in directory order; columns absent from
    * the schema are ignored, and with none present the store
    * stage-and-swaps whole. No-op on an absent store or an empty hit set.
    */
  def apply(spark: SparkSession, dir: String, keyCols: Seq[String],
      ids: DataFrame, partCols: Seq[String]): Unit =
    scoped(spark, dir, keyCols, ids, partCols, lit(true))

  /** [[apply]] restricted to rows satisfying `scope` (a boolean predicate
    * over the store's columns, partition columns included): rows OUTSIDE
    * the scope are never deleted even when their keys match. The staged
    * rebuild shape needs this — [[KmvStore.rebuildDays]] writes the rebuilt
    * slices under a fresh batch partition FIRST, then deletes the stale
    * day rows from every OTHER partition (`batch_id =!= fresh`), so a
    * crash between the two steps only ever leaves extra stale rows, never
    * lost slices.
    */
  def scoped(spark: SparkSession, dir: String, keyCols: Seq[String],
      ids: DataFrame, partCols: Seq[String], scope: Column): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // before anything else, repair a crashed prior flat-store swap (store
    // missing, its `.old` copy aside) — otherwise the absent-store bail
    // below would treat a recoverable store as gone
    if (root.getParent != null) DirSwap.recoverIn(fs, root.getParent)
    // an absent store, or one with no data files anywhere (an empty-frame
    // overwrite leaves only the commit marker; an empty-batch dynamic
    // overwrite may leave just the bare dir), holds nothing to delete —
    // and reading it would die on schema inference
    if (!StoreRoot.hasData(spark, dir)) return
    val full = spark.read.parquet(dir)
    val del = broadcast(ids.select(col(ids.columns.head).as("__del_id")).distinct())
    // rows outside `scope` survive unconditionally: drop = (key ∈ ids) ∧ scope
    def dropMatches(df: DataFrame): DataFrame =
      keyCols.foldLeft(df.filter(scope))((d, kc) =>
        d.join(del, d(kc) === del("__del_id"), "left_anti"))
        .unionByName(df.filter(!scope))
    val present = partCols.filter(full.columns.contains)
    if (present.nonEmpty) {
      // top-level partitions actually holding deleted keys — everything
      // else is untouched (file-level pruning on the partitioned read).
      // Pruning keys on the leading partition column keeps the filter a
      // pushed-down isin; nested layouts rewrite the affected top-level
      // partition's subtree.
      val pc0 = present.head
      val affected = keyCols
        .map(kc => full.filter(scope)
          .join(del, full(kc) === del("__del_id")).select(col(pc0)))
        .reduce(_ union _)
        .distinct().collect().map(_.get(0))
      if (affected.isEmpty) return
      val subset = full.filter(col(pc0).isin(affected.toSeq: _*))
      // full partition tuples in scope BEFORE the rewrite — needed to spot
      // partitions the delete empties entirely
      val before = subset.select(present.map(col): _*)
        .distinct().collect().map(_.toSeq)
      val survivors = dropMatches(subset).localCheckpoint(true)
      survivors.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(present: _*)
        .parquet(dir)
      val after = survivors.select(present.map(col): _*)
        .distinct().collect().map(_.toSeq).toSet
      before.filterNot(after.contains).foreach { tuple =>
        val sub = present.zip(tuple).map { case (c, v) => s"$c=$v" }.mkString("/")
        fs.delete(new Path(root, sub), true)
      }
      survivors.unpersist(blocking = false)
    } else {
      val survivors = dropMatches(full)
      // dot-prefixed stage + rename-rename-delete swap (DirSwap): the
      // pre-round-8 delete-then-rename order had a window where the only
      // copy of the store sat at a non-dot sibling — a crash there lost
      // the store from reads
      val staged = DirSwap.stagePath(root)
      fs.delete(staged, true)
      survivors.write.mode(SaveMode.Overwrite).parquet(staged.toString)
      DirSwap.swapInto(fs, staged, root)
    }
  }

  /** Single-key convenience form. */
  def apply(spark: SparkSession, dir: String, keyCol: String, ids: DataFrame,
      partCols: Seq[String]): Unit =
    apply(spark, dir, Seq(keyCol), ids, partCols)
}
