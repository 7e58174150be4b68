package graft

import graft.analytics.DedupQueries
import graft.operators.{DupGraph, StoreRoot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two claims the graph family's docs make:
  *
  *  1. the persistent [[DupGraph]] store serves EXACTLY the edge set a
  *     from-scratch MinHash+LSH verify run produces (store ≡ recompute) —
  *     the correctness contract that lets every graph query read a
  *     2-column parquet scan instead of re-deriving the pipeline;
  *  2. the degree-ordered oriented wedge enumeration in `graph_triangles`
  *     counts exactly the triangles the naive a<b<c three-way self-join
  *     finds — property-tested over seeded random graphs, where celebrity
  *     nodes, ties in degree, chains, and cliques all occur.
  */
class GraphQueriesSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  test("DupGraph store equals a from-scratch recompute (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val path = java.nio.file.Files
      .createTempDirectory("graft-dupgraph-spec").toString
    DupGraph.build(spark, d, path)
    assert(StoreRoot.hasData(spark, path))

    val stored = DupGraph.edges(spark, path)
      .select(col("doc_a"), col("doc_b"),
        expr("floor(j * 1e6 + 0.5) / 1e6").as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fresh = DedupQueries.minhashPairs(spark, d)
      .select(col("doc_a"), col("doc_b"),
        expr("floor(j * 1e6 + 0.5) / 1e6").as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    CacheTracker.releaseAll()
    assert(stored.nonEmpty, "edge store must hold real pairs")
    assert(stored === fresh)
  }

  test("ensure is a no-op on a completed store") {
    val d = "/root/testdata/sf0.001"
    val path = java.nio.file.Files
      .createTempDirectory("graft-dupgraph-spec2").toString
    StoreRoot.ensureAt(spark, path)(DupGraph.build(spark, d, _))
    val edgeFile = new java.io.File(s"$path/edges")
    val before = edgeFile.listFiles().map(f => f.getName -> f.lastModified).toMap
    StoreRoot.ensureAt(spark, path)(DupGraph.build(spark, d, _))
    val after = edgeFile.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after === before, "a completed store must not be rebuilt")
  }

  test("incremental append equals rebuild while buckets stay under cap") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, d, "documents").select("doc_id", "text")
    val incPath = java.nio.file.Files
      .createTempDirectory("graft-dupgraph-inc").toString
    val fullPath = java.nio.file.Files
      .createTempDirectory("graft-dupgraph-full").toString
    def edgeSet(p: String) = DupGraph.edges(spark, p)
      .select(col("doc_a"), col("doc_b"),
        expr("floor(j * 1e6 + 0.5) / 1e6").as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // grow an empty store batch by batch: 90% first, then the 10% batch
    DupGraph.appendBatch(docs.filter(col("doc_id") % 10 =!= 0), incPath, 0)
    DupGraph.appendBatch(docs.filter(col("doc_id") % 10 === 0), incPath, 1)
    // rebuild from scratch over the full corpus
    DupGraph.buildFrom(docs, fullPath)
    val inc = edgeSet(incPath)
    val full = edgeSet(fullPath)
    assert(full.nonEmpty)
    assert(inc === full)
    // the second batch folded against the first: degrees agree too
    val incDeg = DupGraph.edges(spark, incPath)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("n"))
      .groupBy("n").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullDeg = DupGraph.edges(spark, fullPath)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("n"))
      .groupBy("n").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incDeg === fullDeg)
  }

  /** Naive triangle count: enumerate a<b<c directly over the edge set. */
  private def naiveTriangles(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val tris = for {
      (a, b) <- es.toSeq
      c <- es.collect { case (`b`, x) => x }
      if es.contains((a, c))
    } yield Seq(a, b, c)
    tris.flatten.groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  /** The production enumeration, run through the registry query on a
    * corpus whose dup graph is exactly `edges` — instead, replicate the
    * oriented-wedge logic over an arbitrary edge DataFrame (same code
    * shape as graph_triangles, which is keyed to the documents table).
    */
  private def orientedTriangles(edges: Set[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toSeq.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("doc_a", "doc_b")
    val arcs = e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = arcs.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    val withDeg = e
      .join(deg.select(col("node").as("doc_a"), col("degree").as("da")), "doc_a")
      .join(deg.select(col("node").as("doc_b"), col("degree").as("db")), "doc_b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    val dirE = withDeg.select(
      when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("src"),
      when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dstDeg"))
    val d1 = dirE.select(col("src"), col("dst").as("v"), col("dstDeg").as("dv"))
    val d2 = dirE.select(col("src"), col("dst").as("w"), col("dstDeg").as("dw"))
    val wedges = d1.join(d2, Seq("src"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    wedges.join(dirE.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("degree-ordered wedge enumeration == naive a<b<c on random graphs") {
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 6) {
      val n = 6 + rnd.nextInt(12)
      val p = 0.15 + rnd.nextDouble() * 0.45
      val edges = (for {
        a <- 0L until n
        b <- (a + 1) until n
        if rnd.nextDouble() < p
      } yield (a, b)).toSet
      if (edges.nonEmpty) {
        val naive = naiveTriangles(edges)
        val oriented = orientedTriangles(edges)
        assert(oriented === naive, s"trial $trial (n=$n, p=$p) diverged")
      }
    }
  }

  test("wedge enumeration handles a clique plus pendant chain (ties in degree)") {
    // K5 (every node degree 4 — maximal ties) with a 3-node tail
    val k5 = (for { a <- 0L until 5; b <- (a + 1) until 5 } yield (a, b)).toSet
    val chain = Set((4L, 5L), (5L, 6L), (6L, 7L))
    val edges = k5 ++ chain
    val naive = naiveTriangles(edges)
    val oriented = orientedTriangles(edges)
    assert(oriented === naive)
    // triangles containing a fixed K5 node = C(4,2) = 6
    assert(naive(0L) === 6L)
  }

  test("single-task tier == distributed rounds (LPA, PageRank, k-core) on random graphs") {
    import spark.implicits._
    import graft.analytics.GraphQueries
    val rnd = new scala.util.Random(20260817L)
    for (trial <- 1 to 3) {
      val n = 10 + rnd.nextInt(20)
      val p = 0.10 + rnd.nextDouble() * 0.30
      val es = (for {
        a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < p
      } yield (a, b)).toSeq
      if (es.nonEmpty) {
        val e = es.toDF("doc_a", "doc_b")
        val sym = e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionByName(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val symArr = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toArray
        val (symSrc, symDst) = (symArr.map(_._1), symArr.map(_._2))

        // LPA: distributed rounds run over self-loop-extended arcs; the
        // local tier applies the self-vote in code
        val withSelf = sym.unionByName(
          sym.select(col("src")).distinct().select(col("src"), col("src").as("dst")))
        val distLpa = GraphQueries.lpaRounds(withSelf, GraphQueries.LpaIters)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val locLpa = GraphQueries.lpaLocal(symSrc, symDst, GraphQueries.LpaIters)
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(locLpa === distLpa, s"LPA diverged (trial $trial, n=$n, p=$p)")

        // PageRank: integer fixed-point — tiers must be bit-equal
        val distPr = GraphQueries.pagerankDistributed(e)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val locPr = GraphQueries.pagerankLocal(symSrc, symDst, GraphQueries.PrIters)
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(locPr === distPr, s"PageRank diverged (trial $trial, n=$n, p=$p)")

        // k-core peeling
        val distKc = GraphQueries.kcoreRounds(sym,
            GraphQueries.KcoreK, GraphQueries.KcoreIters)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val locKc = GraphQueries.kcoreLocal(symSrc, symDst,
            GraphQueries.KcoreK, GraphQueries.KcoreIters)
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(locKc === distKc, s"k-core diverged (trial $trial, n=$n, p=$p)")
        CacheTracker.releaseAll()
      }
    }
  }
}
