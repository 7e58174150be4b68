package graft

import graft.analytics.DedupQueries
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The incremental MinHash pair step's two tiers
  * (`DedupQueries.minhashPairsTouchingFromSig`): the single-task local
  * solve and the distributed band join must return the same multiset of
  * (doc_a, doc_b, j) rows on every shape the star guard, the new-touching
  * restriction and the verify can meet. Signatures are built by hand, so
  * each case lands in exactly the buckets it names.
  */
class MinHashTierSpec extends AnyFunSuite {
  import MinHashTierSpec.bothTiers

  private lazy val spark = SparkSpec.spark

  /** A 16-lane signature: `bands` pins band b's four lanes to the key
    * given, every other lane is unique to (`id`, `salt`).
    */
  private def sigOf(id: Long, bands: Map[Int, Long], salt: Long = 0L): Seq[Long] =
    (0 until 16).map(l => bands.get(l / 4).getOrElse(1000000L * (id + 1) + 1000L * salt + l))

  /** Shingles {0..19} plus `extra` of the doc's own: j of two such docs is
    * 20 / (20 + extra_a + extra_b), so small extras pass the 0.5 verify.
    */
  private def hsOf(id: Long, extra: Int): Seq[Long] =
    (0L until 20L) ++ (0 until extra).map(k => 10000L * (id + 1) + k)

  private def frame(rows: Seq[(Long, Seq[Long], Seq[Long])]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "hs", "sig")
  }

  test("hot buckets over the cap: a new rep pulls the bucket, a new member its rep") {
    val cap = DedupQueries.BandBucketCap
    // bucket A (band 0): rep 100 is new, members stored; bucket B (band 1):
    // rep 300 stored, member 330 new; both over the cap
    val a = (100L until 100L + cap + 5).map(i => (i, hsOf(i, (i % 25).toInt), sigOf(i, Map(0 -> 7L))))
    val b = (300L until 300L + cap + 5).map(i => (i, hsOf(i, (i % 25).toInt), sigOf(i, Map(1 -> 9L))))
    val out = bothTiers(frame(a ++ b), Seq(100L, 330L))
    val pairs = out.map(p => (p._1, p._2)).toSet
    // star only: every pair hangs off a rep, never member × member
    assert(out.nonEmpty && out.forall(p => p._1 == 100L || p._1 == 300L))
    assert(pairs.contains((300L, 330L)))
    assert(pairs.exists(p => p._1 == 100L && p._2 > 130L), "new rep pairs with stored members")
    assert(!pairs.exists(p => p._1 == 300L && p._2 != 330L), "stored rep × stored member leaked")
  }

  test("new-new and new-stored pairs under the cap; stored-stored never") {
    val rows = Seq(
      (1L, hsOf(1, 2), sigOf(1, Map(2 -> 5L))),
      (2L, hsOf(2, 3), sigOf(2, Map(2 -> 5L))),
      (3L, hsOf(3, 1), sigOf(3, Map(2 -> 5L, 3 -> 6L))),
      (4L, hsOf(4, 0), sigOf(4, Map(3 -> 6L))),
      (5L, hsOf(5, 30), sigOf(5, Map(3 -> 6L))))
    val out = bothTiers(frame(rows), Seq(2L, 4L))
    val pairs = out.map(p => (p._1, p._2))
    assert(pairs == Seq((1L, 2L), (2L, 3L), (3L, 4L)), s"got $out")
  }

  test("a doc_id present twice pairs once per row combination") {
    val rows = Seq(
      (7L, hsOf(7, 1), sigOf(7, Map(0 -> 11L))),
      (7L, hsOf(7, 4), sigOf(7, Map(1 -> 12L), salt = 1)),
      (8L, hsOf(8, 2), sigOf(8, Map(0 -> 11L, 1 -> 12L))))
    val out = bothTiers(frame(rows), Seq(8L))
    assert(out.map(p => (p._1, p._2)) == Seq((7L, 8L), (7L, 8L)), s"got $out")
    assert(out.map(_._3).distinct.size == 2)
  }

  test("empty shingle sets share every bucket but never pair") {
    val maxSig = Seq.fill(16)(Long.MaxValue)
    val rows = Seq((20L, Seq.empty[Long], maxSig), (21L, Seq.empty[Long], maxSig),
      (22L, hsOf(22, 0), maxSig))
    assert(bothTiers(frame(rows), Seq(21L, 22L)).isEmpty)
  }

  test("bootstrap: every doc new is the symmetric pipeline") {
    val cap = DedupQueries.BandBucketCap
    val rows = (0L until cap + 10).map(i => (i, hsOf(i, (i % 30).toInt), sigOf(i, Map(0 -> 3L)))) ++
      (200L until 210L).map(i => (i, hsOf(i, (i % 7).toInt), sigOf(i, Map(2 -> 4L))))
    val sig = frame(rows)
    val out = bothTiers(sig, rows.map(_._1))
    val symmetric = DedupQueries.minhashPairsFromSig(sig)
      .select("doc_a", "doc_b", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    CacheTracker.releaseAll()
    assert(out.nonEmpty && out == symmetric)
  }
}

object MinHashTierSpec {

  type Out = Seq[(Long, Long, Double)]

  /** One tier's rows, the tier forced through the row bound. */
  def tier(sig: DataFrame, newIds: Seq[Long], local: Boolean): Out = {
    val spark = SparkSpec.spark
    import spark.implicits._
    val out = DedupQueries.minhashPairsTouchingFromSig(sig, newIds.toDF("doc_id"),
      localRows = if (local) Long.MaxValue else -1L,
      localShingles = Long.MaxValue)
      .select("doc_a", "doc_b", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    CacheTracker.releaseAll()
    out
  }

  /** Both tiers' rows, after asserting they are the same multiset. */
  def bothTiers(sig: DataFrame, newIds: Seq[Long]): Out = {
    val local = tier(sig, newIds, local = true)
    val dist = tier(sig, newIds, local = false)
    org.scalatest.Assertions.assert(local == dist, s"\nlocal:       $local\ndistributed: $dist")
    local
  }
}
