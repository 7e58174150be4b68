package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit of headline registry queries: the properties that
  * decide 100 TB behavior must hold in the executed plan, not just in
  * intent — filters reach the parquet scan, scans read only referenced
  * columns, small sides broadcast, and the hot path stays inside
  * whole-stage codegen. A regression in any of these passes every
  * value-correctness check while multiplying cluster cost.
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("pricing summary: shipdate filter is pushed to the lineitem scan") {
    val p = plan("rel_agg_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected shipdate pushdown in:\n$p")
  }

  test("pricing summary: scan reads only referenced lineitem columns") {
    val p = plan("rel_agg_pricing_summary")
    // 16-column table, 6 referenced; the widest columns must not be read
    assert(!p.contains("l_comment") && !p.contains("l_partkey"),
      s"scan reads unreferenced columns in:\n$p")
  }

  test("revenue by segment: customer dimension join broadcasts") {
    val p = plan("rel_join_revenue_by_segment")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dim join in:\n$p")
  }

  test("benchmark decontamination: n-gram set is broadcast, corpus not shuffled to it") {
    val p = plan("dedup_contamination")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast bench join in:\n$p")
  }

  test("exact-span dedup: posting-list self-join is an equi-join, never cartesian") {
    val p = plan("dedup_span")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span self-join degenerated to all-pairs in:\n$p")
  }

  // the recall rows share one ground-truth leg: the probe queries (left)
  // broadcast against the whole corpus projection under `vec_id <> q_id`
  private val groundTruthJoin =
    """BroadcastNestedLoopJoin BuildLeft, Inner, NOT \(vec_id#\d+L = q_id#\d+L\)""".r

  for ((family, row) <- Seq(
      "LSH" -> "sim_lsh_recall",
      "IVF" -> "sim_ivf_recall",
      "PQ" -> "sim_pq_recall",
      "IVF-PQ" -> "sim_ivfpq_recall",
      "IVF-SQ8" -> "sim_ivfsq_recall",
      "residual IVF-PQ" -> "sim_ivfpq_residual_recall"))
    test(s"$family recall: probe queries broadcast against the corpus projection") {
      val p = plan(row)
      assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe joins in:\n$p")
      assert(groundTruthJoin.findFirstIn(p).nonEmpty,
        s"expected the ground truth to broadcast the probe queries in:\n$p")
      assert(!p.contains("CartesianProduct"), s"unexpected cartesian in:\n$p")
    }

  // the one coarse-quantizer argmin (IvfIndex.nearest): a partial-then-final
  // min(struct(dist, …)) aggregate fed by a broadcast centroid join, and no
  // window ranking the vectors x centroids product (the only windows over
  // dist are the per-query probe windows)
  for ((name, p) <- Seq[(String, () => String)](
      "sim_ivf_topk" -> (() => plan("sim_ivf_topk")),
      "sim_ivf_recall" -> (() => plan("sim_ivf_recall")),
      "dedup_semantic" -> (() => plan("dedup_semantic")),
      "IvfIndex.nearest" -> { () =>
        val v = operators.QuantizedVectors.normed(Tables.t(spark, dir, "embeddings"))
        operators.IvfIndex.nearest(v,
          v.filter(org.apache.spark.sql.functions.col("vec_id") < 4)
            .selectExpr("cast(vec_id as int) AS cell", "qe AS ce"))
          .queryExecution.executedPlan.toString
      },
      "IvfIndex.nearest by m" -> { () =>
        val sub = analytics.SimilarityQueries.pqSubspaces(
          operators.QuantizedVectors.of(Tables.t(spark, dir, "embeddings")))
        operators.IvfIndex.nearest(sub,
          sub.filter(org.apache.spark.sql.functions.col("vec_id") < 4)
            .selectExpr("m", "cast(vec_id as int) AS cell", "sqe AS ce"),
          Seq("sqe"), by = Seq("m"), vec = "sqe")
          .queryExecution.executedPlan.toString
      }))
    test(s"nearest-centroid argmin: $name merges a map-side min(struct) over a broadcast join") {
      val pl = p()
      val lines = pl.linesIterator.toVector
      val partial = lines.indexWhere(_.contains("partial_min(struct(dist"))
      assert(partial >= 0, s"expected a partial argmin aggregate in:\n$pl")
      assert(lines.exists(l => """[^_]min\(struct\(dist""".r.findFirstIn(l).nonEmpty),
        s"expected the final argmin merge in:\n$pl")
      val join = lines.drop(partial + 1).find(_.contains("Join"))
      assert(join.exists(j => j.contains("Broadcast") && j.contains("BuildRight")),
        s"expected the centroid side broadcast under the argmin, got $join in:\n$pl")
      assert(!lines.exists(l => l.contains("Window") && l.contains("[dist#") &&
          !l.contains("[q_id#")),
        s"a window ranks the vectors x centroids product in:\n$pl")
    }

  test("kNN classify: candidates come from the bucket equi-join") {
    val p = plan("sim_knn_classify")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bucket join degenerated to all-pairs in:\n$p")
  }

  test("type affinity: pair join keys on user_id, per-type totals broadcast") {
    val p = plan("evt_type_affinity")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast totals join in:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian in:\n$p")
  }

  test("source overlap: inverted-index join is an equi-join on the word") {
    val p = plan("txt_source_overlap")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast vocab joins in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"word join degenerated to all-pairs in:\n$p")
  }

  test("grouping sets: one Expand feeding one partial-aggregated shuffle") {
    val p = plan("rel_grouping_sets")
    assert(p.contains("Expand"), s"expected Expand for the grouping lattice in:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"grouping-sets aggregate should shuffle exactly once in:\n$p")
  }

  test("minhash-union sketch: signatures combine map-side before the shuffle") {
    val p = plan("txt_source_minhash_sim")
    assert(p.contains("partial_minhash_union"),
      s"expected partial sketch aggregation before the exchange in:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian in:\n$p")
  }

  test("cluster stats: centroid table broadcasts back to the vectors") {
    val p = plan("sim_cluster_stats")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast centroid join in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unexpected all-pairs join in:\n$p")
  }

  test("ngram-jaccard self-join keeps the AQE-skew-eligible sort-merge shape") {
    // skew mitigation must be available (it rewrites SMJ/SHJ, not BHJ) …
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    // … and the join must take that shape at scale. At sf0.001 AQE folds the
    // tiny sides to broadcast, which hides the scale shape — disable the
    // broadcast thresholds to see the plan a 100 TB corpus would get.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"posting-list self-join is not in a skew-eligible shape:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"self-join degenerated to all-pairs in:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("ivf topk: quantized projection cached once, centroid broadcast reused") {
    spark.catalog.clearCache()
    val df = SparkEntry.queries("sim_ivf_topk")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the centroid/assignment/probe consumers must read the cached
    // projection, not re-run the scan + quantization lineage
    assert(p.contains("InMemoryTableScan"),
      s"expected consumers to read the cached projection in:\n$p")
    spark.catalog.clearCache()
  }

  test("multi-table embedding LSH: both tables are bucket equi-joins over one cached projection") {
    spark.catalog.clearCache()
    val df = SparkEntry.queries("dedup_embedding_lsh_multi")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"table join degenerated to all-pairs in:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"expected the four join sides to read the cached projection in:\n$p")
    spark.catalog.clearCache()
  }

  test("simhash: candidate generation stays a band equi-join") {
    val p = plan("dedup_simhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band join degenerated to all-pairs in:\n$p")
  }

  test("compaction backlog: 1-row aggregate joins as broadcast, never cartesian") {
    val p = plan("tl_compaction_backlog")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the 1-row last-compaction side to broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian in:\n$p")
  }

  test("incremental dedup: stored∪new band join stays an equi-join over the index scan") {
    spark.catalog.clearCache()
    val df = SparkEntry.queries("dedup_incremental")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental band join degenerated to all-pairs in:\n$p")
    // the corpus side must arrive from the persisted signature store
    assert(p.contains("signatures"), s"expected a signature-store scan in:\n$p")
    spark.catalog.clearCache()
  }

  test("semantic dedup: centroids broadcast, pair generation is a cell equi-join") {
    val p = plan("dedup_semantic")
    // the vectors x centroids argmin may print as BroadcastNestedLoopJoin
    // (a hinted crossJoin against the #labels-row centroid table); the
    // in-cell pair join must stay an equi-join on the cell key
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian in:\n$p")
    assert(p.contains("cell"), s"expected the cell equi-join key in:\n$p")
  }

  test("semantic kmeans dedup: pairs come from the cell-partitioned store scan") {
    val p = plan("dedup_semantic_kmeans")
    // steady-state shape: the corpus arrives from the persisted IVF vector
    // store (not a re-quantization of the raw parquet), the tiny centroid
    // table broadcasts for the drop rule, and pair generation stays an
    // equi-join on the cell key
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian in:\n$p")
    assert(p.contains("vectors"), s"expected the IVF vector-store scan in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast centroid join in:\n$p")
  }

  test("edit-distance dedup: candidates come from the fingerprint equi-join") {
    val p = plan("dedup_edit_distance")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fingerprint block join degenerated to all-pairs in:\n$p")
  }

  test("curation funnel: no all-pairs joins; drop lists broadcast back") {
    val df = SparkEntry.queries("txt_curation_funnel")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    CacheTracker.releaseAll()
    // the chain composes the pair pipeline + CC + signal joins: nothing in
    // it may degenerate to an unhinted all-pairs join, and the benchmark /
    // drop-list joins back to the corpus must be broadcasts
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$p")
  }

  test("pii scrub: one codegen'd projection, no join, no extra shuffle") {
    val df = SparkEntry.queries("txt_pii_scrub")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"scrub chain must be join-free:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregation in:\n$p")
    // the scrub + counting projection pipelines inside whole-stage codegen
    assert(p.contains("*(1)"), s"expected codegen spans in:\n$p")
  }

  test("vocab coverage: the only window runs over the count-class table, not the vocab") {
    val df = SparkEntry.queries("txt_vocab_coverage")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the window's child must be the (count -> classes) aggregate, i.e. the
    // cumulative never sees per-token rows; a rank over the vocabulary
    // would put Window directly over the token-level aggregate
    val wi = p.indexOf("Window")
    assert(wi >= 0, s"expected a window over count classes in:\n$p")
    assert(!p.contains("row_number"), s"no vocab-sized rank may appear in:\n$p")
  }

  test("Q5 star join: one fact-fact shuffle, every dimension broadcast, date pushed down") {
    val df = SparkEntry.queries("rel_local_supplier_volume")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"expected the date filter at the orders scan in:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"expected 4 broadcast dimension joins in:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian in:\n$p")
    // lineitem ⋈ orders is the only join allowed to shuffle both inputs
    assert("Exchange hashpartitioning\\((l_orderkey|o_orderkey)".r.findAllIn(p).length <= 2,
      s"more than the one fact-fact shuffle pair in:\n$p")
  }

  test("bm25: scoring is a broadcast hash join over the index, never keyed on the term") {
    spark.catalog.clearCache()
    val df = SparkEntry.queries("txt_bm25_search")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // query terms + idf must broadcast to the corpus tf side; a shuffle
    // keyed on the Zipf-skewed term would appear as an exchange on `w`
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast query-term join in:\n$p")
    // (the 1-row stats crossJoin legitimately prints as a broadcast
    // nested-loop; only a true cartesian would be a defect)
    assert(!p.contains("CartesianProduct"), s"scoring degenerated to all-pairs in:\n$p")
    // term-keyed exchanges may only carry partial-combined query-term df
    // counts (<= |query vocab| keys after map-side combine) — every one
    // must sit above a partial aggregate, never move raw posting rows
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning(w#")).foreach {
      case (_, i) =>
        val below = lines.slice(i + 1, i + 4).mkString("\n")
        assert(below.contains("HashAggregate"),
          s"term-keyed exchange at line $i moves raw posting rows (no partial agg below it) in:\n$p")
    }
    spark.catalog.clearCache()
  }

  test("heavy hitters: MG sketch partial-aggregates before the single-group shuffle") {
    spark.catalog.clearCache()
    val df = SparkEntry.queries("txt_heavy_hitters")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_mg63"),
      s"expected map-side partial MG aggregation in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected candidate set to broadcast for the exact re-count in:\n$p")
    spark.catalog.clearCache()
  }

  test("aggregation pipeline runs inside whole-stage codegen") {
    // AQE annotates codegen spans only in the finalized plan: execute first
    val df = SparkEntry.queries("rel_agg_pricing_summary")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen spans print as "*(n)" stage prefixes in the simple format
    assert(p.contains("*(1)"), s"expected codegen spans in:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregation in:\n$p")
  }

  test("SQ8 topk: per-lane stats and the query set broadcast; corpus never self-joins") {
    val p = plan("sim_sq8_topk")
    // both cross joins (1-row stats, |Q|-row queries) must be BROADCAST
    // nested loops — a non-broadcast CartesianProduct would shuffle the
    // corpus against itself
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast cross joins in:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus-side cartesian in:\n$p")
    // the only ENSURE_REQUIREMENTS exchanges allowed are the dim-sized
    // per-lane stats aggregate (64 keys) and the |Q|-partition ranking
    // window — never an exchange keyed on the corpus vec_id (the spread
    // repartition is REPARTITION_BY_NUM, executed once into the cache)
    val corpusShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(vec_id") && l.contains("ENSURE_REQUIREMENTS"))
    assert(corpusShuffles == 0, s"corpus keyed-shuffle in:\n$p")
  }

  test("attribution: the touch-window join is the native interval exec") {
    val p = plan("evt_attribution")
    assert(p.contains("IntervalJoin"), s"expected IntervalJoinExec in:\n$p")
    assert(p.contains("Exchange hashpartitioning"),
      s"expected co-partitioning exchanges in:\n$p")
  }

  test("bigram perplexity: cost lookup pre-aggregates before the hot/cold join") {
    val p = plan("txt_bigram_perplexity")
    // the (doc, bigram, k) pre-aggregation must appear UNDER the join:
    // partial_count over the exploded bigrams, then the join reads the
    // aggregated rows — a plan joining raw exploded occurrences would
    // carry explode directly into the join input
    assert(p.contains("partial_count"),
      s"expected map-side pre-aggregation in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the hot-vocab head to broadcast in:\n$p")
  }
}
