package graft

import graft.operators.CappedKeyPairs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[CappedKeyPairs]] against the plain forms it replaces — a count-window
  * cap, a posting self-join and a hand-rolled run split — on crafted
  * frames: a key held by exactly `cap` rows stays and one held by
  * `cap + 1` goes, pairs are strictly `a < b`, a shingle repeating inside
  * one doc never pairs with itself, and a gap splits a run.
  */
class CappedKeyPairsSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val cap = 3

  /** Rows whose key is held by at most `cap` rows, by count window. */
  private def capByWindow(rows: DataFrame, key: String): DataFrame =
    rows.withColumn("df", count(lit(1)).over(Window.partitionBy(col(key))))
      .filter(col("df") <= cap).drop("df")

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** Postings (doc_id, pos, h): h = 10 in exactly `cap` docs, h = 20 in
    * `cap + 1` docs, h = 30 twice inside doc 1 and once in doc 2, h = 40
    * in one doc only.
    */
  private def postings: DataFrame = {
    import spark.implicits._
    Seq((1L, 1, 10L), (2L, 4, 10L), (3L, 2, 10L),
      (1L, 2, 20L), (2L, 2, 20L), (3L, 3, 20L), (4L, 1, 20L),
      (1L, 3, 30L), (1L, 7, 30L), (2L, 5, 30L),
      (4L, 2, 40L)).toDF("doc_id", "pos", "h")
  }

  test("dropHot keeps a key held by exactly cap rows and drops one held by cap + 1") {
    val got = CappedKeyPairs.dropHot(postings, "h", cap)
    assert(rowsOf(got.select("doc_id", "pos", "h")) ==
      rowsOf(capByWindow(postings, "h").select("doc_id", "pos", "h")))
    val keys = got.select("h").distinct().collect().map(_.getLong(0)).toSet
    assert(keys == Set(10L, 30L, 40L))
  }

  test("pairsFromGroups equals the a < b self-join within each group") {
    import spark.implicits._
    val e = Seq((1, 5L), (1, 2L), (1, 9L), (2, 2L), (2, 5L), (3, 7L))
      .toDF("k", "id")
    val got = CappedKeyPairs.pairsFromGroups(
      e.groupBy(col("k")).agg(sort_array(collect_list(col("id"))).as("ds")))
    val want = e.as("x").join(e.as("y"),
        col("x.k") === col("y.k") && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
    assert(rowsOf(got) == rowsOf(want))
    assert(got.collect().forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("sharedCounts equals the capped posting self-join with per-doc set sizes") {
    import spark.implicits._
    // shingle 1 sits in exactly `cap` docs, shingle 2 in `cap + 1`
    val sh = Seq(
      (1L, Seq(1L, 2L, 5L, 6L)), (2L, Seq(1L, 2L, 5L)), (3L, Seq(1L, 2L, 7L)),
      (4L, Seq(2L, 6L)), (5L, Seq(8L))).toDF("doc_id", "hs")
    val e = capByWindow(sh.select(col("doc_id"), explode(col("hs")).as("h")), "h")
    val n = e.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val want = e.as("x").join(e.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(n.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
    val cols = Seq("doc_a", "doc_b", "shared", "na", "nb").map(col)
    val got = CappedKeyPairs.sharedCounts(sh, cap).select(cols: _*)
    assert(rowsOf(got) == rowsOf(want.select(cols: _*)))
    // doc 4 shares only the over-cap shingle 2 and shingle 6 (with doc 1)
    assert(rowsOf(got).contains(Seq(1L, 4L, 1L, 3L, 1L)))
    assert(got.collect().forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("positionalPairs equals the capped positional self-join; a repeat never pairs with itself") {
    val pc = capByWindow(postings, "h")
    val want = pc.as("x").join(pc.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.pos").as("pa"), (col("x.pos") - col("y.pos")).as("diag"))
    val got = CappedKeyPairs.positionalPairs(postings, cap)
    val rows = rowsOf(got)
    assert(rows == rowsOf(want))
    // h = 30 sits twice in doc 1: both postings pair with doc 2's, never
    // with each other
    assert(rows.contains(Seq(1L, 2L, 3, -2)) && rows.contains(Seq(1L, 2L, 7, 2)))
    assert(got.collect().forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("runIds gives consecutive positions one id and splits a run at a gap") {
    import spark.implicits._
    val m = Seq(
      ("a", "b", 0, 1), ("a", "b", 0, 2), ("a", "b", 0, 3),
      ("a", "b", 0, 5), ("a", "b", 0, 6),
      ("a", "b", 4, 2), ("a", "c", 0, 4)).toDF("vid_a", "vid_b", "diag", "fa")
    val got = CappedKeyPairs.runIds(m, "fa", "vid_a", "vid_b")
      .groupBy(col("vid_a"), col("vid_b"), col("diag"), col("grp"))
      .agg(min(col("fa")).as("first"), count(lit(1)).as("len"))
      .select("vid_a", "vid_b", "diag", "first", "len")
    // reference: maximal runs of consecutive positions per (pair, diag)
    val want = m.collect().toSeq
      .groupBy(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSeq.flatMap { case ((a, b, d), rs) =>
        val ps = rs.map(_.getInt(3)).sorted
        val starts = ps.zipWithIndex.collect {
          case (p, i) if i == 0 || ps(i - 1) != p - 1 => i }
        starts.zip(starts.drop(1) :+ ps.size).map { case (s, e) =>
          Seq[Any](a, b, d, ps(s), (e - s).toLong) }
      }.sortBy(_.mkString("|"))
    assert(rowsOf(got) == want)
    assert(want.contains(Seq("a", "b", 0, 1, 3L)) && want.contains(Seq("a", "b", 0, 5, 2L)))
  }
}
