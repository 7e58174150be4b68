package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The candidate-pair idioms of the dedup, video and graph rows, written
  * once at the Dataset level: ids that share a posting key (a shingle or
  * frame hash, a graph center) pair up, after keys held by more than a cap
  * of rows are dropped as boilerplate. Each helper builds exactly the plan
  * its callers wrote by hand, so a row moved onto it keeps every exchange,
  * join strategy and cache. The caps stay the callers' constants.
  */
object CappedKeyPairs {

  /** `rows` minus every row whose `key` is held by more than `cap` rows
    * (a key held by exactly `cap` stays). An anti-join against the over-cap
    * key set rather than a count window: the counts combine map-side, the
    * set is tiny and broadcasts, and the posting list is never
    * shuffle-sorted.
    */
  def dropHot(rows: DataFrame, key: String, cap: Int): DataFrame = {
    val hot = rows.groupBy(col(key)).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(col(key))
    rows.join(hot, Seq(key), "left_anti")
  }

  /** [[dropHot]], then one bucket per kept `key`: (key, ds = SORTED array
    * of `value`). Round 12's replacement for the posting-list SELF-JOIN
    * (guide §2.3 "aggregate before you shuffle"): the `e ⋈ e ON h AND
    * id <` shape shuffle-sorted the posting list on both sides of a
    * SortMergeJoin; grouping pays ONE exchange into an ObjectHashAggregate
    * and pairs come from a bounded array expression downstream. The cap
    * runs BEFORE the grouping, so a boilerplate key never materializes a
    * collect_list buffer.
    */
  private def groups(rows: DataFrame, key: String, value: Column, cap: Int): DataFrame =
    dropHot(rows, key, cap)
      .groupBy(col(key)).agg(sort_array(collect_list(value)).as("ds"))

  /** All pairs (doc_a < doc_b) within each sorted id array `ds`: C(|ds|, 2)
    * rows per bucket from a nested transform (no join, no sort; ascending
    * `ds` ≡ the self-join's `x.id < y.id`). The caller bounds |ds|.
    */
  def pairsFromGroups(grouped: DataFrame): DataFrame =
    grouped.filter(size(col("ds")) >= 2)
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), " +
          "b -> named_struct('doc_a', a, 'doc_b', b))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))

  /** Matches of postings (doc_id, pos, h) under a cap on postings per h:
    * (doc_a < doc_b, pa = doc_a's pos, diag = pa − doc_b's pos), from each
    * bucket's sorted (doc_id, pos) array. Same-doc entries are filtered, so
    * a shingle repeating inside one doc never matches itself.
    */
  def positionalPairs(postings: DataFrame, cap: Int): DataFrame =
    groups(postings, "h", struct(col("doc_id"), col("pos")), cap)
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(filter(slice(ds, i + 2, size(ds)), y -> y.doc_id != x.doc_id), " +
          "y -> named_struct('doc_a', x.doc_id, 'doc_b', y.doc_id, " +
          "'pa', x.pos, 'diag', x.pos - y.pos))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.pa").as("pa"), col("p.diag").as("diag"))

  /** Per-doc shingle sets (doc_id, hs) under a cap on docs per shingle:
    * one row per pair sharing a kept shingle, with doc_a < doc_b, `shared`
    * and each side's kept set size `na` / `nb` — one universe for both
    * counts, so any Jaccard or containment over them is consistent.
    * Deliberately NOT persisted: the pair counts and the set sizes share
    * the bucket exchange via AQE's ReuseExchange, so the map side runs
    * once with no cache to race on (ngram_jaccard 64×: 8.05 s lazy /
    * 11.7 s eager persist / 6.07 s none).
    */
  def sharedCounts(sh: DataFrame, cap: Int): DataFrame = {
    val grouped = groups(sh.select(col("doc_id"), explode(col("hs")).as("h")),
      "h", col("doc_id"), cap)
    val n = grouped.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    pairsFromGroups(grouped)
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"))
      .join(n.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
  }

  /** `m` plus `grp`, the gaps-and-islands run id: on one (a, b, diag)
    * diagonal, consecutive `pos` values share `pos − row_number()`, so
    * grouping by (a, b, diag, grp) gives one row per maximal run.
    */
  def runIds(m: DataFrame, pos: String, a: String = "doc_a", b: String = "doc_b")
      : DataFrame =
    m.withColumn("grp", col(pos) -
      row_number().over(Window.partitionBy(col(a), col(b), col("diag")).orderBy(col(pos))))
}
