package graft

import graft.operators.ConnectedComponents
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Connected components on shapes the clique-like oracle data doesn't
  * exercise: long chains (many rounds), disjoint components, cycles, giant
  * skewed stars, and seeded random graphs — on BOTH tiers (single-task
  * union-find below the edge threshold, distributed large-star/small-star
  * rounds above it, forced here with `localSolveEdges = 0`).
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def comps(edges: Seq[(Long, Long)], localSolveEdges: Long): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    ConnectedComponents.components(df, "src", "dst", localSolveEdges = localSolveEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  for ((tier, threshold) <- Seq(("local union-find", 4000000L), ("distributed loop", 0L))) {

    test(s"$tier: a 12-hop chain collapses to its minimum id") {
      val chain = (1L to 12L).sliding(2).map(p => (p(1), p(0))).toSeq // 12->11->...->1
      val got = comps(chain, threshold)
      assert(got.size == 12 && got.values.forall(_ == 1L))
    }

    test(s"$tier: disjoint components keep separate representatives; cycles terminate") {
      val edges = Seq(
        (1L, 2L), (2L, 3L), (3L, 1L), // cycle {1,2,3}
        (10L, 11L),                   // pair {10,11}
        (20L, 21L), (21L, 22L),       // path {20,21,22}
        (-7L, -3L), (-3L, 4L))        // negative ids, as phash/common-neighbor ids are
      val got = comps(edges, threshold)
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L,
        -7L -> -7L, -3L -> -7L, 4L -> -7L))
    }
  }

  test("empty edge set yields an empty labeling") {
    import spark.implicits._
    val df = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(ConnectedComponents.components(df, "src", "dst").count() == 0)
  }

  test("a non-BIGINT id column is rejected naming its type") {
    import spark.implicits._
    val df = Seq(("a", "b")).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](
      ConnectedComponents.components(df, "src", "dst"))
    assert(e.getMessage.contains("STRING"), e.getMessage)
  }

  private def iterateRounds(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    import spark.implicits._
    val df = edges.toDF("a", "b")
    val und = df.union(df.select(col("b").as("a"), col("a").as("b")))
    val (labels, rounds) = ConnectedComponents.iterateWithRounds(und, maxIter = 20)
    (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("large-star/small-star: a giant star plus a long chain converges fast " +
    "and matches the local tier") {
    // the skewed shape the distributed tier exists for: one vertex (0)
    // directly linked to 1000 others — a giant boilerplate dup cluster —
    // plus a 64-hop chain (the deep-diameter worst case) as one component
    val star = (1L to 1000L).map(v => (0L, v))
    val chain = (2000L to 2064L).sliding(2).map(p => (p(0), p(1))).toSeq
    val edges = star ++ chain ++ Seq((1000L, 2000L)) // join the two shapes
    val (got, rounds) = iterateRounds(edges)
    assert(got.size == 1066 && got.values.forall(_ == 0L))
    // star heights halve per round: far fewer rounds than the 65-hop
    // diameter (label propagation without jumping would need ~65)
    assert(rounds <= 10, s"took $rounds rounds")
    val local = comps(edges, localSolveEdges = Long.MaxValue)
    assert(got == local)
  }

  test("hybrid hand-off: one star round contracts the graph, union-find finishes") {
    import spark.implicits._
    // 3 disjoint triangles: 18 directed edges > cut, one round collapses
    // them to 6 star edges <= cut, so the local tier takes over
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 22L), (22L, 20L))
    val df = edges.toDF("a", "b")
    val und = df.union(df.select(col("b").as("a"), col("a").as("b")))
    val (labels, rounds) =
      ConnectedComponents.iterateWithRounds(und, maxIter = 20, localCut = 10L)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rounds == 1, s"expected hand-off after round 1, ran $rounds")
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("large-star/small-star matches the local tier on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 200
      val edges = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val (got, rounds) = iterateRounds(edges)
      val local = comps(edges, localSolveEdges = Long.MaxValue)
      assert(got == local, s"trial $trial mismatch")
      assert(rounds <= 12, s"trial $trial took $rounds rounds")
    }
  }
}
