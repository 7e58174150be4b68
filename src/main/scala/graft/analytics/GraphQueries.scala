package graft.analytics

import graft.QuerySpec
import graft.operators.LocalTier
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the verified near-duplicate graph (nodes = docs,
  * edges = MinHash+LSH pairs with Jaccard >= 0.5 from
  * [[DedupQueries.minhashPairs]]) — the dup-graph structure queries a
  * curation pipeline runs after candidate generation: degree distribution
  * (how duplicated is the corpus), per-node triangle counts / clustering
  * coefficients (boilerplate cliques vs chain-shaped false positives), and
  * PageRank centrality (pick the canonical representative of a dup
  * neighborhood by structural importance rather than min-id).
  *
  * Scale design (100 TB):
  *   - the edge list is NOT re-derived per query: every query reads the
  *     build-once [[graft.operators.DupGraph]] store (a two-column pruned
  *     parquet scan; `GraphQueriesSpec` pins store ≡ recompute), so the
  *     tokenize → minhash → band-join → verify pipeline — which dominates
  *     any single graph query's cost and re-reads the whole corpus — runs
  *     once per corpus, not once per query;
  *   - the stored edges arrive from the LSH pipeline already skew-guarded
  *     (band-bucket cap + star emission), so no degenerate clique inflates
  *     these plans' inputs quadratically;
  *   - triangle counting orients each edge from its lower-(degree, id)
  *     endpoint to the higher one and enumerates wedges only at each
  *     edge's SMALLER endpoint — the standard degree-ordered algorithm:
  *     per-node wedge work is O(min-degree^2), so a celebrity node of
  *     degree d costs O(d) oriented edges, never O(d^2) wedges. The result
  *     set is identical to naive a<b<c enumeration (the oracle states the
  *     naive form; `GraphQueriesSpec` pins the equivalence);
  *   - PageRank runs a FIXED number of synchronous power iterations as
  *     repeated (edge join ranks -> groupBy dst) shuffles on the node key —
  *     Spark's shuffle partitioning handles any node count, the per-
  *     iteration state is one (node, rank) row per node, and the adjacency
  *     projection persists once for all iterations. Arithmetic is integer
  *     fixed-point (rank mass scaled by 1e12, contributions via integer
  *     division) so Spark and the unrolled-CTE DuckDB oracle agree
  *     bit-for-bit — no floating-point drift across partitionings.
  */
object GraphQueries {

  /** Fixed-point scale: total rank mass = 1e12. */
  val Scale = 1000000000000L

  /** Damping 0.85 split as integers: base share = 0.15 * Scale. */
  val BaseMass = 150000000000L

  /** Synchronous power iterations (fixed — both engines unroll the same). */
  val PrIters = 8

  /** Synchronous label-propagation rounds (fixed — both engines unroll the
    * same; synchronous LPA can oscillate on bipartite shapes, so the
    * operator's CONTRACT is the round-`LpaIters` labels, not a fixpoint).
    */
  val LpaIters = 4

  /** One synchronous LPA round per iteration over symmetrized `arcs`
    * (src, dst) WITH self-loops included: each node adopts the MODE of its
    * neighbors' labels plus its own, ties broken by the smallest label.
    * The self-vote is load-bearing, not a convention: without it a
    * synchronous pair {a,b} SWAPS labels every round (the classic LPA
    * two-cycle on bipartite shapes), so any even round count returns every
    * pair to singletons — measured exactly that way on the sf0.01 dup
    * graph (45 communities over 47 nodes) before the self-vote, 23 genuine
    * communities after. The mode is computed as `min(struct(-count,
    * label))` — two map-side-combinable aggregates, no window, so per-task
    * state is bounded by live (node, label) pairs and a hub's vote list
    * never sorts on one executor. `arcs` should be persisted
    * pre-partitioned on `dst` (the per-round join key) and must already
    * contain the (node, node) self-arcs.
    */
  private[graft] def lpaRounds(arcs: DataFrame, iters: Int): DataFrame = {
    var lbl = arcs.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (i <- 1 to iters) {
      lbl = arcs.join(lbl.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("src").as("node"), col("m.l").as("lbl"))
      // bounded-depth lineage, as in pagerank: cached plan replaces the
      // unrolled join chain every 2 rounds
      if (i % 2 == 0 && i < iters)
        lbl = graft.CacheTracker.track(lbl
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }
    lbl
  }

  /** CSR adjacency over primitive arrays: sorted distinct node ids
    * ([[LocalTier.sortedIds]], so node INDEX order ≡ node ID order —
    * tie-breaks on index replay tie-breaks on id), per-node offsets,
    * neighbor indices. No boxing anywhere: 4 B per arc (neighbor
    * index) + 20 B per node (id, degree, offset, cursor) + the id sort's
    * 8 B per arc of scratch.
    */
  private[graft] def buildCsr(src: Array[Long], dst: Array[Long])
      : (Array[Long], Array[Int], Array[Int]) = {
    val ids = LocalTier.sortedIds(src)
    def idx(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    val deg = new Array[Int](ids.length)
    var i = 0
    while (i < src.length) { deg(idx(src(i))) += 1; i += 1 }
    val off = new Array[Int](ids.length + 1)
    i = 0
    while (i < ids.length) { off(i + 1) = off(i) + deg(i); i += 1 }
    val pos = java.util.Arrays.copyOf(off, ids.length)
    val nbr = new Array[Int](src.length)
    i = 0
    while (i < src.length) {
      val s = idx(src(i)); nbr(pos(s)) = idx(dst(i)); pos(s) += 1; i += 1
    }
    (ids, off, nbr)
  }

  /** Whether LPA / PageRank / k-core run on [[LocalTier]]: 2 × the edge
    * store's footer row count ([[graft.operators.DupGraph.edgeRowsHint]];
    * counted only when footers are unreadable) against
    * [[graft.operators.ConnectedComponents.LocalSolveEdgesDefault]]. The
    * tiers are bit-equal integer arithmetic (`GraphQueriesSpec` pins it).
    */
  private def underLocalThreshold(s: SparkSession, d: String, e: DataFrame,
      name: String): Boolean = {
    val path = graft.operators.StoreRoot.key(s, d, graft.operators.DupGraph.Kind)
    val n = graft.operators.DupGraph.edgeRowsHint(s, path).getOrElse(e.count())
    LocalTier.fits(name, n * 2,
      graft.operators.ConnectedComponents.LocalSolveEdgesDefault)
  }

  /** [[lpaRounds]] in one task: symmetric arcs in, (node, community,
    * community_size) out; the self-vote is applied in code instead of via
    * materialized self-loop arcs — identical votes, identical tie-break.
    */
  private[graft] def lpaLocal(src: Array[Long], dst: Array[Long], iters: Int)
      : Iterator[org.apache.spark.sql.Row] = {
    val (ids, off, nbr) = buildCsr(src, dst)
    val n = ids.length
    var lbl = Array.tabulate(n)(identity) // label = node index; ids sorted,
    // so index comparison ≡ id comparison and tie-breaks are identical
    var scratch = new Array[Int](0)
    for (_ <- 1 to iters) {
      val next = new Array[Int](n)
      var v = 0
      while (v < n) {
        val d = off(v + 1) - off(v)
        if (scratch.length < d + 1) scratch = new Array[Int](d + 1)
        var i = 0
        while (i < d) { scratch(i) = lbl(nbr(off(v) + i)); i += 1 }
        scratch(d) = lbl(v) // the self-vote (the withSelf arc)
        java.util.Arrays.sort(scratch, 0, d + 1)
        // mode with smallest-label tie-break: first run of max length in
        // the ascending scan (strict > keeps the earliest = smallest)
        var bestL = -1; var bestC = 0
        var i2 = 0
        while (i2 <= d) {
          var j = i2
          while (j <= d && scratch(j) == scratch(i2)) j += 1
          if (j - i2 > bestC) { bestC = j - i2; bestL = scratch(i2) }
          i2 = j
        }
        next(v) = bestL
        v += 1
      }
      lbl = next
    }
    val sizes = new Array[Long](n)
    var v = 0
    while (v < n) { sizes(lbl(v)) += 1; v += 1 }
    (0 until n).iterator.map(v =>
      org.apache.spark.sql.Row(ids(v), ids(lbl(v)), sizes(lbl(v))))
  }

  /** PageRank's [[PrIters]] fixed-point rounds in one task: symmetric arcs
    * in, (node, rank_e12) out — the same integer arithmetic as the
    * distributed rounds (sum of `r div deg` over incoming arcs, then
    * `BaseMass/n + (85·m) div 100`), which is order-independent, so the
    * tiers are bit-equal.
    */
  private[graft] def pagerankLocal(src: Array[Long], dst: Array[Long], iters: Int)
      : Iterator[org.apache.spark.sql.Row] = {
    val (ids, off, nbr) = buildCsr(src, dst)
    val n = ids.length
    val r = Array.fill(n)(Scale / n)
    for (_ <- 1 to iters) {
      val m = new Array[Long](n)
      var v = 0
      while (v < n) {
        val d = off(v + 1) - off(v)
        val c = r(v) / d // contribution r div deg, same per arc
        var i = off(v)
        while (i < off(v + 1)) { m(nbr(i)) += c; i += 1 }
        v += 1
      }
      // every node of a symmetrized arc set has an inbound arc, so the
      // old map-keyed update touched exactly these n nodes
      v = 0
      while (v < n) { r(v) = BaseMass / n + (85L * m(v)) / 100L; v += 1 }
    }
    (0 until n).iterator.map(v => org.apache.spark.sql.Row(ids(v), r(v)))
  }

  /** [[kcoreRounds]] in one task: symmetric arcs in, (node, core_degree)
    * out — `iters` synchronous peels against the previous round's alive
    * set, then the survivors' induced degrees (nodes whose final induced
    * degree is 0 drop, as the distributed join+aggregate form does).
    */
  private[graft] def kcoreLocal(src: Array[Long], dst: Array[Long], k: Int, iters: Int)
      : Iterator[org.apache.spark.sql.Row] = {
    val (ids, off, nbr) = buildCsr(src, dst)
    val n = ids.length
    var alive = Array.fill(n)(true)
    def induced(v: Int, in: Array[Boolean]): Long = {
      var c = 0L
      var i = off(v)
      while (i < off(v + 1)) { if (in(nbr(i))) c += 1; i += 1 }
      c
    }
    for (_ <- 1 to iters) {
      val next = new Array[Boolean](n)
      var v = 0
      while (v < n) {
        if (alive(v) && induced(v, alive) >= k) next(v) = true
        v += 1
      }
      alive = next
    }
    val fin = alive
    (0 until n).iterator.flatMap { v =>
      if (!fin(v)) Iterator.empty
      else {
        val c = induced(v, fin)
        if (c > 0) Iterator.single(org.apache.spark.sql.Row(ids(v), c))
        else Iterator.empty
      }
    }
  }

  /** graph_common_neighbors: wedge centers above this degree are excluded
    * from candidate generation — a hub's wedge fan-out is degree² and a
    * star rep's neighborhood is its whole bucket (no discriminative
    * signal). Degrees in the Jaccard denominator stay full-graph.
    */
  val CnHubCap = 50

  /** k-core threshold: the K=2 core keeps exactly the nodes lying on a
    * cycle/clique through surviving neighbors — boilerplate template
    * families — and peels pairwise-only matches.
    */
  val KcoreK = 2

  /** Synchronous peeling rounds (fixed — both engines unroll the same; the
    * contract is the round-KcoreIters alive set, like [[LpaIters]]).
    */
  val KcoreIters = 6

  /** `iters` synchronous peeling rounds over symmetrized `sym` (src, dst)
    * arcs: each round drops every node whose degree within the CURRENT
    * alive set is below `k`, then reports the survivors with their
    * induced degree. Only the one-row-per-node alive frame shuffles per
    * round (two endpoint semi-joins against the pre-partitioned arcs +
    * one aggregate); lineage is cut every 2 rounds as pagerank/LPA do.
    */
  private[graft] def kcoreRounds(sym: DataFrame, k: Int, iters: Int): DataFrame = {
    def induced(alive: DataFrame): DataFrame =
      sym.join(alive.select(col("node").as("src")), "src")
        .join(alive.select(col("node").as("dst")), "dst")
        .groupBy(col("src")).agg(count(lit(1)).as("c"))
    var alive = sym.select(col("src").as("node")).distinct()
    for (i <- 1 to iters) {
      alive = induced(alive).filter(col("c") >= k)
        .select(col("src").as("node"))
      // TRUE lineage cut (localCheckpoint, the k-center move), not a
      // persist: `alive` feeds induced() at BOTH endpoints, so the
      // logical plan doubles per round — 2^iters without a cut, which
      // blows up plan stringification long before execution. Cutting
      // every 2 rounds keeps each segment's plan at 4 copies of a
      // one-row-per-node frame.
      if (i % 2 == 0 && i < iters)
        alive = graft.CacheTracker.track(alive.localCheckpoint(true))
    }
    induced(alive)
      .select(col("src").as("node"), col("c").as("core_degree"))
  }

  /** The distributed PageRank rounds (graphs past the local threshold):
    * adjacency persists PRE-PARTITIONED on the join key — every iteration
    * joins adj on `src`, and an InMemoryRelation keeps its child's hash
    * partitioning, so the (larger) adjacency side never re-shuffles; only
    * the one-row-per-node rank state moves each round. Node count is a
    * driver scalar off the persisted degrees (one tiny action) — a
    * per-iteration broadcast cross-join would add a BroadcastExchange to
    * all unrolled stages. Lineage is cut every 2 rounds: the cached plan
    * substitutes an InMemoryRelation leaf, so the optimizer and scheduler
    * see a bounded-depth tree instead of an 8-join chain (materialization
    * stays lazy — one cascading action at the end).
    */
  private[graft] def pagerankDistributed(e: DataFrame): DataFrame = {
    val deg = graft.CacheTracker.track(degrees(e)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val adj = graft.CacheTracker.track(
      arcs(e).join(deg.withColumnRenamed("node", "src"), "src")
        .repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val n = deg.count()
    var ranks = deg.select(col("node"), lit(Scale / n).as("r"))
    for (i <- 1 to PrIters) {
      ranks = adj.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("r div degree").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
        .select(col("dst").as("node"),
          expr(s"${BaseMass / n} + (85 * m) div 100").as("r"))
      if (i % 2 == 0 && i < PrIters)
        ranks = graft.CacheTracker.track(ranks
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }
    ranks.select(col("node"), col("r").as("rank_e12")).orderBy(col("node"))
  }

  /** Undirected near-dup edges (doc_a < doc_b), Jaccard-verified — read
    * from the persistent [[graft.operators.DupGraph]] store (built on first
    * use per corpus), so each graph query's input is a 2-column parquet
    * scan instead of the full LSH pipeline.
    */
  private def edges(s: SparkSession, d: String): DataFrame =
    graft.operators.DupGraph.edges(s, DedupQueries.registryGraph(s, d))
      .select(col("doc_a"), col("doc_b"))

  /** Oracle prefix: `v(doc_a, doc_b, j)` -> undirected edge list `e`. */
  private val OracleEdges =
    s"""WITH ${DedupQueries.MinhashPairsCte},
       |e AS (SELECT doc_a, doc_b FROM v WHERE j >= 0.5)""".stripMargin

  /** Symmetrized (src, dst) arcs — every undirected edge both ways. */
  private def arcs(e: DataFrame): DataFrame =
    e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))

  private def degrees(e: DataFrame): DataFrame =
    arcs(e).groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))

  val all: Map[String, QuerySpec] = Map(

    // ----- degree distribution of the near-dup graph -----------------------
    // Two map-side-combinable aggregations (node -> degree -> histogram);
    // nothing materializes beyond one row per node then one per distinct
    // degree. min_node pins values, not just counts.
    "graph_degree_stats" -> QuerySpec(
      (s, d) => {
        degrees(edges(s, d))
          .groupBy(col("degree"))
          .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
          .orderBy(col("degree"))
      },
      Some(s"""$OracleEdges,
             |sym AS (SELECT doc_a AS node FROM e UNION ALL SELECT doc_b FROM e),
             |deg AS (SELECT node, COUNT(*) AS degree FROM sym GROUP BY node)
             |SELECT degree, COUNT(*) AS n_nodes, MIN(node) AS min_node
             |FROM deg GROUP BY degree ORDER BY degree""".stripMargin)
    ),

    // ----- per-node triangles + clustering coefficient ---------------------
    // Degree-ordered orientation (see object doc); the oracle enumerates
    // the same triangles naively as a<b<c three-way self-join — identical
    // result set, quadratic wedge cost only in the oracle.
    "graph_triangles" -> QuerySpec(
      (s, d) => {
        // e is a 2-column scan of the DupGraph store — cheap enough to read
        // twice (degrees + the orientation join); persisting it would cost
        // more than the second scan
        val e = edges(s, d)
        val deg = graft.CacheTracker.track(degrees(e)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val withDeg = e
          .join(deg.select(col("node").as("doc_a"), col("degree").as("da")), "doc_a")
          .join(deg.select(col("node").as("doc_b"), col("degree").as("db")), "doc_b")
        // orient a->b iff (deg, id)(a) < (deg, id)(b)
        val aFirst: Column = col("da") < col("db") ||
          (col("da") === col("db") && col("doc_a") < col("doc_b"))
        val dirE = graft.CacheTracker.track(withDeg.select(
          when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("src"),
          when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("dst"),
          when(aFirst, col("db")).otherwise(col("da")).as("dstDeg"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        // wedges at the smaller endpoint, out-neighbors ordered v < w by
        // (deg, id); the closing oriented edge is then exactly (v, w)
        val d1 = dirE.select(col("src"), col("dst").as("v"), col("dstDeg").as("dv"))
        val d2 = dirE.select(col("src"), col("dst").as("w"), col("dstDeg").as("dw"))
        val wedges = d1.join(d2, Seq("src"))
          .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
        val tri = wedges.join(dirE.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
        val tcnt = tri
          .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
        deg.join(tcnt, Seq("node"), "left")
          .select(col("node"), col("degree"),
            coalesce(col("triangles"), lit(0L)).as("triangles"),
            when(col("degree") >= 2, expr(
              "floor(2 * coalesce(triangles, 0) / (degree * (degree - 1)) * 1e6 + 0.5) / 1e6"))
              .otherwise(lit(0.0)).as("clust"))
          .orderBy(col("node"))
      },
      Some(s"""$OracleEdges,
             |tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
             |  FROM e e1 JOIN e e2 ON e2.doc_a = e1.doc_b
             |  JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
             |tn AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
             |  UNION ALL SELECT c FROM tri),
             |tcnt AS (SELECT node, COUNT(*) AS triangles FROM tn GROUP BY node),
             |sym AS (SELECT doc_a AS node FROM e UNION ALL SELECT doc_b FROM e),
             |deg AS (SELECT node, COUNT(*) AS degree FROM sym GROUP BY node)
             |SELECT d.node, d.degree, COALESCE(t.triangles, 0) AS triangles,
             |  CASE WHEN d.degree >= 2 THEN
             |    floor(2 * COALESCE(t.triangles, 0) / (d.degree * (d.degree - 1)) * 1e6 + 0.5) / 1e6
             |  ELSE 0.0 END AS clust
             |FROM deg d LEFT JOIN tcnt t USING (node) ORDER BY node""".stripMargin)
    ),

    // ----- fixed-point PageRank over the near-dup graph --------------------
    // All arithmetic is BIGINT: r0 = Scale/N; each iteration r' =
    // BaseMass/N + (85 * sum(r_src div deg_src)) div 100 over incoming
    // arcs. Every node of this graph has degree >= 1 (edge-derived), so no
    // dangling-mass term. The oracle unrolls the same iterations as chained
    // CTEs — integer ops make the comparison exact, not approximate.
    "graph_pagerank" -> QuerySpec(
      (s, d) => {
        val e = edges(s, d)
        if (underLocalThreshold(s, d, e, "graph_pagerank"))
          LocalTier.pairs(arcs(e), Seq("node", "rank_e12"))(
            pagerankLocal(_, _, PrIters)).orderBy(col("node"))
        else pagerankDistributed(e)
      },
      Some {
        val iters = (1 to PrIters).map { i =>
          s"""pr$i AS (SELECT a.dst AS node,
             |  $BaseMass // n.n + (85 * CAST(SUM(p.r // a.degree) AS BIGINT)) // 100 AS r
             |  FROM pr${i - 1} p JOIN adj a ON a.src = p.node CROSS JOIN n
             |  GROUP BY a.dst, n.n)""".stripMargin
        }.mkString(",\n")
        s"""$OracleEdges,
           |sym AS (SELECT doc_a AS src, doc_b AS dst FROM e
           |  UNION ALL SELECT doc_b, doc_a FROM e),
           |deg AS (SELECT src AS node, COUNT(*) AS degree FROM sym GROUP BY src),
           |adj AS (SELECT s.src, s.dst, d.degree FROM sym s JOIN deg d ON d.node = s.src),
           |n AS (SELECT COUNT(*) AS n FROM deg),
           |pr0 AS (SELECT node, $Scale // n.n AS r FROM deg CROSS JOIN n),
           |$iters
           |SELECT node, r AS rank_e12 FROM pr$PrIters ORDER BY node""".stripMargin
      }
    ),

    // ----- label-propagation communities (synchronous, deterministic) ------
    // Raghavan et al. 2007 over the near-dup graph: communities denser than
    // connected components (a chain of borderline pairs is ONE component
    // but its ends land in different label-propagation communities), the
    // granularity at which a curation pipeline picks canonical documents.
    // Synchronous rounds with neighbor-mode adoption and smallest-label
    // tie-break make the result independent of execution order — the
    // property plain asynchronous LPA lacks — and both engines unroll the
    // SAME LpaIters rounds, so the oracle replays training exactly.
    // Scale: per round, one shuffle-join of the rank-state against the
    // dst-pre-partitioned adjacency (only the one-row-per-node label frame
    // moves) + two partial aggregates; no windows anywhere.
    "graph_label_prop" -> QuerySpec(
      (s, d) => {
        val e = edges(s, d)
        if (underLocalThreshold(s, d, e, "graph_label_prop"))
          LocalTier.pairs(arcs(e), Seq("node", "community", "community_size"))(
            lpaLocal(_, _, LpaIters)).orderBy(col("node"))
        else {
          val sym = arcs(e)
          val withSelf = sym.unionByName(
            sym.select(col("src")).distinct().select(col("src"), col("src").as("dst")))
          val adj = graft.CacheTracker.track(withSelf
            .repartition(col("dst"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          val lbl = lpaRounds(adj, LpaIters)
          val sizes = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
          lbl.join(sizes, "lbl")
            .select(col("node"), col("lbl").as("community"), col("community_size"))
            .orderBy(col("node"))
        }
      },
      Some {
        val iters = (1 to LpaIters).map { i =>
          s"""l$i AS (SELECT src AS node, lbl FROM (
             |  SELECT s.src, p.lbl, COUNT(*) AS c,
             |    ROW_NUMBER() OVER (PARTITION BY s.src
             |      ORDER BY COUNT(*) DESC, p.lbl) AS rn
             |  FROM sym s JOIN l${i - 1} p ON p.node = s.dst
             |  GROUP BY s.src, p.lbl) z WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""$OracleEdges,
           |sym0 AS (SELECT doc_a AS src, doc_b AS dst FROM e
           |  UNION ALL SELECT doc_b, doc_a FROM e),
           |sym AS (SELECT src, dst FROM sym0
           |  UNION ALL SELECT DISTINCT src, src AS dst FROM sym0),
           |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
           |$iters,
           |sz AS (SELECT lbl, COUNT(*) AS community_size FROM l$LpaIters GROUP BY lbl)
           |SELECT l.node, l.lbl AS community, sz.community_size
           |FROM l$LpaIters l JOIN sz ON sz.lbl = l.lbl ORDER BY l.node""".stripMargin
      }
    ),

    // ----- k-core decomposition: peel the dup graph to its dense core ------
    // Seidman 1983 / the distributed peeling form (Montresor et al. 2013):
    // iteratively remove nodes with fewer than K neighbors in the SURVIVING
    // subgraph until stable. On a near-dup graph the K=2 core separates
    // boilerplate CLIQUES (template families — every member stays: each
    // node keeps >= 2 surviving neighbors) from incidental pairwise
    // matches (degree-1 chains peel away round by round), which is the
    // structure a curation owner keys "delete all but one" decisions on —
    // components alone can't tell a clique from a chain of borderline
    // pairs. Contract mirrors graph_label_prop: the round-KcoreIters alive
    // set (both engines unroll the SAME rounds; on every gate corpus the
    // peel reaches fixpoint well inside the budget — round counts measured
    // stable at sf0.01/0.1), reported with each survivor's induced degree.
    // Scale: per round, the one-row-per-node alive frame semi-joins the
    // src-pre-partitioned adjacency twice (src + dst endpoint filters) and
    // re-aggregates — only node-sized state ever shuffles, the edge scan
    // stays cached and pruned, and lineage is cut every 2 rounds exactly
    // as pagerank/LPA do. No windows anywhere.
    "graph_kcore" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val e = edges(s, d)
        if (underLocalThreshold(s, d, e, "graph_kcore"))
          LocalTier.pairs(arcs(e), Seq("node", "core_degree"))(
            kcoreLocal(_, _, KcoreK, KcoreIters)).orderBy(col("node"))
        else {
          val sym = graft.CacheTracker.track(arcs(e)
            .repartition(col("src"))
            .persist(MEMORY_AND_DISK))
          kcoreRounds(sym, KcoreK, KcoreIters).orderBy(col("node"))
        }
      },
      Some {
        val rounds = (1 to KcoreIters).map { i =>
          s"""d$i AS (SELECT s.src AS node, COUNT(*) AS c FROM sym s
             |  JOIN a${i - 1} x ON s.src = x.node
             |  JOIN a${i - 1} y ON s.dst = y.node GROUP BY s.src),
             |a$i AS (SELECT node FROM d$i WHERE c >= $KcoreK)""".stripMargin
        }.mkString(",\n")
        s"""$OracleEdges,
           |sym AS (SELECT doc_a AS src, doc_b AS dst FROM e
           |  UNION ALL SELECT doc_b, doc_a FROM e),
           |a0 AS (SELECT DISTINCT src AS node FROM sym),
           |$rounds
           |SELECT s.src AS node, COUNT(*) AS core_degree FROM sym s
           |  JOIN a$KcoreIters x ON s.src = x.node
           |  JOIN a$KcoreIters y ON s.dst = y.node
           |GROUP BY s.src ORDER BY node""".stripMargin
      }
    ),

    // ----- common-neighbor link prediction over the containment graph ------
    // The classic structural link-prediction primitive (Liben-Nowell &
    // Kleinberg 2003): two documents that share graph neighbors but are
    // NOT themselves connected are the graph's best guesses for missing
    // relations. Run over the CONTAINMENT graph (excerpt → parent edges,
    // the dedup_containment_pairs rule) this surfaces exactly the
    // fragmented-document shape a curation pipeline wants reassembled:
    // two DISJOINT excerpts of one source are never each other's near-dup
    // or containment pair — every pairwise metric scores them unrelated —
    // but both connect to the parent, so the open wedge predicts the
    // link. The sf0.01 differential derives two non-overlapping excerpt
    // pseudo-docs per sampled parent in-query (tokens 1-12 → −(2·id+1),
    // tokens 7-18 → −(2·id+2) — overlapping enough to share a parent,
    // disjoint enough to fail the containment rule against each other;
    // negative ids can never collide with real non-negative doc_ids at
    // ANY corpus size, and the parities keep the two sets disjoint),
    // so the oracle verifies real predicted links, not 0 = 0. Score =
    // neighbor-set Jaccard cn / (deg_a + deg_b − cn) as the exact integer
    // micro-ratio.
    //
    // Scale design: wedges enumerate at the CENTER vertex, and centers
    // with degree > CnHubCap are excluded from wedge generation (a hub's
    // wedge fan-out is degree², and a boilerplate hub's neighborhood
    // carries no discriminative signal — the standard common-neighbor
    // sparsification). Degrees in the denominator stay FULL-graph, so the
    // score is exact for every pair the capped wedge pass surfaces; the
    // final top-20 is a group-limit over candidate pairs bounded by
    // Σ_under-cap deg(v)².
    "graph_common_neighbors" -> QuerySpec(
      (s, d) => {
        val base = graft.Tables.t(s, d, "documents").select("doc_id", "text")
        def excerpt(par: Long, from: Int) = base.filter(col("doc_id") % 17 === 0)
          .withColumn("t", expr(graft.functions.TextFunctions.tokensS("text")))
          .select((-(col("doc_id") * 2 + par)).as("doc_id"),
            expr(s"array_join(slice(t, $from, 12), ' ')").as("text"))
        // real docs' shingle sets come from the persisted signature store
        // (dedup_ngram_jaccard's move), and — round 12 — the two derived
        // excerpt slices ride their own signature tier (deterministic
        // derivations of the corpus; see DedupQueries.excerptSignatures),
        // so no leg of this query tokenizes text per run. Shingling is
        // per-row, so store ∪ derived == withShingles over the whole union
        // and the containment edge set is identical (oracle recomputes).
        val sh = DedupQueries.registrySignatures(s, d).select("doc_id", "hs")
          .unionByName(DedupQueries.excerptSignatures(s, d, "exc_cn",
            excerpt(1L, 1).unionByName(excerpt(2L, 7))).select("doc_id", "hs"))
        // e: EAGER cache (round 12) — three independent consumers (arcs,
        // degrees, the final anti-join) over the whole containment
        // pipeline, the provably-heavy case for a forced build; deg stays
        // lazy (its lineage on top of the cached e is two cheap
        // aggregates, and the A/B measured eager-vs-lazy as a wash there).
        val e = graft.CacheTracker.eager(
          DedupQueries.containmentEdgesFromShingles(sh)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val und = arcs(e)
        val deg = graft.CacheTracker.track(degrees(e)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val centers = und.select(col("src").as("ctr"), col("dst").as("x"))
          .join(broadcast(deg.filter(col("degree") > CnHubCap)
            .select(col("node").as("ctr"))), Seq("ctr"), "left_anti")
        // round 12: wedge pairs from each under-cap center's SORTED
        // neighbor array (bounded by CnHubCap) instead of the centers
        // self-join — one exchange + a C(deg,2) array explode replaces the
        // second exchange and both SortMergeJoin sorts; ascending order ≡
        // the old p.x < q.x predicate (guide §2.3/§2.4). Map-side partial
        // aggregation of the (doc_a, doc_b) counts is unchanged.
        val cn = graft.operators.CappedKeyPairs.pairsFromGroups(
          centers.groupBy(col("ctr"))
            .agg(sort_array(collect_list(col("x"))).as("ds")))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("cn"))
          .join(e, Seq("doc_a", "doc_b"), "left_anti")
        cn.join(deg.select(col("node").as("doc_a"), col("degree").as("da")), "doc_a")
          .join(deg.select(col("node").as("doc_b"), col("degree").as("db")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("cn"),
            expr("cn * 1000000 div (da + db - cn)").as("jac_micro"))
          .orderBy(col("jac_micro").desc, col("doc_a"), col("doc_b"))
          .limit(20)
      },
      Some(s"""WITH basetok AS (SELECT doc_id, text, ${graft.functions.TextFunctions.tokensD("text")} AS t FROM documents),
             |u AS (SELECT doc_id, text FROM documents
             |  UNION ALL SELECT -(doc_id * 2 + 1) AS doc_id,
             |    array_to_string(t[1 : 12], ' ') AS text
             |  FROM basetok WHERE doc_id % 17 = 0
             |  UNION ALL SELECT -(doc_id * 2 + 2) AS doc_id,
             |    array_to_string(t[7 : 18], ' ') AS text
             |  FROM basetok WHERE doc_id % 17 = 0),
             |toks AS (SELECT doc_id, ${graft.functions.TextFunctions.tokensD("text")} AS t FROM u),
             |th AS (SELECT doc_id, ${graft.functions.TextFunctions.tokenHashesD("t")} AS th FROM toks),
             |sh AS (SELECT doc_id, list_distinct(${graft.functions.TextFunctions.shingleHashesD("th")}) AS hs FROM th),
             |ei AS (SELECT doc_id, h FROM (SELECT doc_id, unnest(hs) AS h FROM sh) z
             |  QUALIFY COUNT(*) OVER (PARTITION BY h) <= ${DedupQueries.ShingleDfCap}),
             |c AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared
             |  FROM ei x JOIN ei y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
             |nn AS (SELECT doc_id, COUNT(*) AS n FROM ei GROUP BY doc_id),
             |e AS (SELECT c.doc_a, c.doc_b FROM c
             |  JOIN nn na ON c.doc_a = na.doc_id JOIN nn nb ON c.doc_b = nb.doc_id
             |  WHERE c.shared / least(na.n, nb.n) >= 0.8
             |    AND c.shared / (na.n + nb.n - c.shared) < 0.6),
             |sym AS (SELECT doc_a AS src, doc_b AS dst FROM e
             |  UNION ALL SELECT doc_b, doc_a FROM e),
             |deg AS (SELECT src AS node, COUNT(*) AS degree FROM sym GROUP BY src),
             |ctrs AS (SELECT s.src AS ctr, s.dst AS x FROM sym s
             |  JOIN deg ON deg.node = s.src WHERE deg.degree <= $CnHubCap),
             |cn AS (SELECT p.x AS doc_a, q.x AS doc_b, COUNT(*) AS cn
             |  FROM ctrs p JOIN ctrs q ON p.ctr = q.ctr AND p.x < q.x
             |  GROUP BY 1, 2),
             |cand AS (SELECT cn.* FROM cn
             |  LEFT JOIN e ON cn.doc_a = e.doc_a AND cn.doc_b = e.doc_b
             |  WHERE e.doc_a IS NULL)
             |SELECT c.doc_a, c.doc_b, c.cn,
             |  c.cn * 1000000 // (da.degree + db.degree - c.cn) AS jac_micro
             |FROM cand c JOIN deg da ON da.node = c.doc_a
             |  JOIN deg db ON db.node = c.doc_b
             |ORDER BY jac_micro DESC, c.doc_a, c.doc_b LIMIT 20""".stripMargin)
    )
  )
}
