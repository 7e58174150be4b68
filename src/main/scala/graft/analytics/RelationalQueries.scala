package graft.analytics

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Generic relational operator surface (SURVEY §2.9: the standard-taxonomy
  * operators the engine supplies via Spark built-ins), exercised over the
  * driver-provided TPC-H-ish tables.
  *
  * Determinism discipline for the DuckDB oracle:
  *   - double SUMs go through DECIMAL(18,s) so accumulation order (which
  *     differs between Spark partial aggregation and DuckDB) cannot change
  *     the result; final cast back to DOUBLE keeps schemas simple;
  *   - every query ends in a total ORDER BY with tie-breaking keys;
  *   - sort columns avoid NULLs, or the oracle says NULLS FIRST to match
  *     Spark's asc_nulls_first default.
  *
  * At 100 TB these shapes hold up: aggregations are partial (map-side
  * combine) before the shuffle, dimension joins are broadcast, fact-fact
  * joins shuffle on the join key, and window functions partition on
  * high-cardinality keys so no single partition explodes.
  */
object RelationalQueries {

  private def li(s: SparkSession, d: String) = Tables.t(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables.t(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables.t(s, d, "customer")
  private def nat(s: SparkSession, d: String) = Tables.t(s, d, "nation")
  private def reg(s: SparkSession, d: String) = Tables.t(s, d, "region")
  private def part(s: SparkSession, d: String) = Tables.t(s, d, "part")
  private def supp(s: SparkSession, d: String) = Tables.t(s, d, "supplier")

  /** Exact sum of a 2-decimal double column: decimal accumulation, double out. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  val all: Map[String, QuerySpec] = Map(

    // ----- aggregation with partial (map-side) combine: TPC-H Q1 shape -----
    "rel_agg_pricing_summary" -> QuerySpec(
      (s, d) => {
        li(s, d)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast(DecimalType(18, 4))).cast("double").as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  SUM(l_quantity) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
             |  COUNT(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    ),

    // ----- broadcast dim join + fact-fact shuffle join ---------------------
    "rel_join_revenue_by_segment" -> QuerySpec(
      (s, d) => {
        val revenue = (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))
        li(s, d)
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            sum(revenue).cast("double").as("revenue"),
            countDistinct(col("o_orderkey")).as("n_orders"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             |  COUNT(DISTINCT o_orderkey) AS n_orders
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)
    ),

    // ----- multi-hop broadcast join chain (snowflake dims) -----------------
    "rel_join_customer_geo" -> QuerySpec(
      (s, d) => {
        cust(s, d)
          .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(reg(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            count(lit(1)).as("n_customers"),
            dsum(col("c_acctbal")).as("total_acctbal"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name, COUNT(*) AS n_customers,
             |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name
             |ORDER BY r_name, n_name""".stripMargin)
    ),

    // ----- semi join (EXISTS) ----------------------------------------------
    "rel_semi_join_parts_sold" -> QuerySpec(
      (s, d) => {
        part(s, d)
          .join(li(s, d).select(col("l_partkey")).distinct(),
            col("p_partkey") === col("l_partkey"), "left_semi")
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_parts"))
          .orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand, COUNT(*) AS n_parts
             |FROM part
             |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
             |GROUP BY p_brand
             |ORDER BY p_brand""".stripMargin)
    ),

    // ----- anti join (NOT EXISTS) ------------------------------------------
    "rel_anti_join_idle_customers" -> QuerySpec(
      (s, d) => {
        cust(s, d)
          .join(ord(s, d).filter(year(col("o_orderdate")) === 1995)
            .select(col("o_custkey")).distinct(),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_mktsegment"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_mktsegment
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND EXTRACT(YEAR FROM o_orderdate) = 1995)
             |ORDER BY c_custkey""".stripMargin)
    ),

    // ----- window: per-group top-k (rank + filter) -------------------------
    "rel_window_topk_orders" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        ord(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) q
             |WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin)
    ),

    // ----- window: running aggregate over an explicit frame ----------------
    "rel_window_running_qty" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        li(s, d)
          .filter(col("l_suppkey") % 7 === 0)
          .withColumn("running_qty", sum(col("l_quantity")).over(w))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("running_qty"))
          .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |  SUM(l_quantity) OVER (PARTITION BY l_suppkey
             |    ORDER BY l_shipdate, l_orderkey, l_linenumber
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
             |FROM lineitem
             |WHERE l_suppkey % 7 = 0
             |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)
    ),

    // ----- rollup (hierarchical subtotals) ---------------------------------
    "rel_rollup_geo_counts" -> QuerySpec(
      (s, d) => {
        cust(s, d)
          .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(reg(s, d)), col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
      },
      Some("""SELECT r_name, n_name, COUNT(*) AS n_customers
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name)
             |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)
    ),

    // ----- cube -------------------------------------------------------------
    "rel_cube_order_stats" -> QuerySpec(
      (s, d) => {
        ord(s, d)
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
             |FROM orders
             |GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    ),

    // ----- explicit grouping sets: a lattice rollup/cube can't express ------
    // {(status, year), (year), ()} — per-year detail and totals WITHOUT the
    // per-status marginals a cube would add. Same single-shuffle Expand
    // plan as rollup/cube; grouping columns are non-null in the source, so
    // the null pattern identifies each set. Spark side goes through
    // spark.sql: the DataFrame API exposes only rollup/cube, GROUPING SETS
    // is SQL surface in both engines.
    "rel_grouping_sets" -> QuerySpec(
      (s, d) => {
        ord(s, d).createOrReplaceTempView("orders_gs")
        s.sql("""SELECT o_orderstatus, year(o_orderdate) AS order_year,
                |  COUNT(*) AS n_orders
                |FROM orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus, year(o_orderdate)),
                |  (year(o_orderdate)), ())
                |ORDER BY o_orderstatus NULLS FIRST, order_year NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus, EXTRACT(YEAR FROM o_orderdate) AS order_year,
             |  COUNT(*) AS n_orders
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus, EXTRACT(YEAR FROM o_orderdate)),
             |  (EXTRACT(YEAR FROM o_orderdate)), ())
             |ORDER BY o_orderstatus NULLS FIRST, order_year NULLS FIRST""".stripMargin)
    ),

    // ----- set ops -----------------------------------------------------------
    "rel_set_except" -> QuerySpec(
      (s, d) => {
        val with95 = ord(s, d).filter(year(col("o_orderdate")) === 1995)
          .select(col("o_custkey").as("custkey"))
        val building = cust(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("custkey"))
        with95.except(building).orderBy(col("custkey"))
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
             |EXCEPT
             |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             |ORDER BY custkey""".stripMargin)
    ),

    "rel_set_intersect" -> QuerySpec(
      (s, d) => {
        val a = ord(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey"))
        val b = ord(s, d).filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey"))
        a.intersect(b).orderBy(col("custkey"))
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
             |INTERSECT
             |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
             |ORDER BY custkey""".stripMargin)
    ),

    // ----- distinct aggregation ---------------------------------------------
    "rel_distinct_agg" -> QuerySpec(
      (s, d) => {
        li(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
             |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // ----- scalar string functions ------------------------------------------
    "rel_scalar_strings" -> QuerySpec(
      (s, d) => {
        part(s, d)
          .select(
            col("p_partkey"),
            upper(col("p_name")).as("name_upper"),
            length(col("p_name")).as("name_len"),
            substring(col("p_name"), 1, 5).as("name_prefix"),
            regexp_extract(col("p_brand"), "#(\\d+)", 1).cast("int").as("brand_num"),
            concat_ws("|", col("p_type"), col("p_brand")).as("type_brand"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey, UPPER(p_name) AS name_upper,
             |  LENGTH(p_name) AS name_len, SUBSTR(p_name, 1, 5) AS name_prefix,
             |  CAST(regexp_extract(p_brand, '#(\d+)', 1) AS INT) AS brand_num,
             |  p_type || '|' || p_brand AS type_brand
             |FROM part ORDER BY p_partkey""".stripMargin)
    ),

    // ----- scalar date functions ---------------------------------------------
    "rel_scalar_dates" -> QuerySpec(
      (s, d) => {
        ord(s, d)
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).as("o_year"),
            month(col("o_orderdate")).as("o_month"),
            dayofmonth(col("o_orderdate")).as("o_day"),
            date_trunc("month", col("o_orderdate")).as("o_month_start"),
            datediff(col("o_orderdate").cast("date"),
              lit("1995-01-01").cast("date")).as("days_since_epoch95"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
             |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS o_month,
             |  CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS o_day,
             |  date_trunc('month', o_orderdate) AS o_month_start,
             |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch95
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),

    // ----- exact percentiles --------------------------------------------------
    "rel_percentiles" -> QuerySpec(
      (s, d) => {
        li(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            // floor-truncation: see tl_partition_insights note on round ties
            expr("floor(percentile(l_extendedprice, 0.5) * 100) / 100").as("p50"),
            expr("floor(percentile(l_extendedprice, 0.9) * 100) / 100").as("p90"),
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  floor(quantile_cont(l_extendedprice, 0.5) * 100) / 100 AS p50,
             |  floor(quantile_cont(l_extendedprice, 0.9) * 100) / 100 AS p90,
             |  MIN(l_extendedprice) AS min_price,
             |  MAX(l_extendedprice) AS max_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // ----- mergeable approximate percentiles (the 100 TB percentile path) ---
    // Exact percentile is a full sort per group; approx_percentile is
    // Spark's mergeable quantile sketch (Greenwald-Khanna), map-side
    // combined like any partial aggregate — #groups × sketch moves across
    // the wire, never the column. The raw estimate is engine-specific
    // (DuckDB's approx_quantile is a different sketch), so the HASHABLE
    // contract is accuracy: run the sketch AND the exact percentile, output
    // the exact values plus `within_1pct` = both estimates within 1% of
    // exact — which the oracle can state too (for it, trivially true). A
    // drifting sketch now FAILS the driver hash gate; ApproxAccuracySpec
    // keeps the per-row bound assertions.
    "rel_percentiles_approx" -> QuerySpec(
      (s, d) => {
        li(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("p50_est"),
            expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("p90_est"),
            expr("percentile(l_extendedprice, 0.5)").as("ep50"),
            expr("percentile(l_extendedprice, 0.9)").as("ep90"),
            count(lit(1)).as("n_rows"))
          .select(col("l_returnflag"), col("n_rows"),
            // floor-truncation: see the rel_percentiles note on round ties
            expr("floor(ep50 * 100) / 100").as("p50"),
            expr("floor(ep90 * 100) / 100").as("p90"),
            (abs(col("p50_est") - col("ep50")) <= col("ep50") * 0.01 &&
              abs(col("p90_est") - col("ep90")) <= col("ep90") * 0.01)
              .as("within_1pct"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
             |  floor(quantile_cont(l_extendedprice, 0.5) * 100) / 100 AS p50,
             |  floor(quantile_cont(l_extendedprice, 0.9) * 100) / 100 AS p90,
             |  abs(quantile_cont(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
             |      <= quantile_cont(l_extendedprice, 0.5) * 0.01
             |    AND abs(quantile_cont(l_extendedprice, 0.9) - quantile_cont(l_extendedprice, 0.9))
             |      <= quantile_cont(l_extendedprice, 0.9) * 0.01 AS within_1pct
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // ----- histogram via bucketed floor arithmetic -----------------------------
    "rel_histogram_order_value" -> QuerySpec(
      (s, d) => {
        ord(s, d)
          .withColumn("bucket",
            least(floor(col("o_totalprice") / 25000.0), lit(19)).cast("int"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy(col("bucket"))
      },
      Some("""SELECT CAST(LEAST(FLOOR(o_totalprice / 25000.0), 19) AS INT) AS bucket,
             |  COUNT(*) AS n_orders
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)
    ),

    // ----- pivot (conditional aggregation) --------------------------------------
    "rel_pivot_status_by_year" -> QuerySpec(
      (s, d) => {
        ord(s, d)
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
          .orderBy(col("o_year"))
      },
      Some("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
             |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
             |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin)
    ),

    // ----- global top-k with deterministic tie-break ------------------------------
    "rel_global_topk" -> QuerySpec(
      (s, d) => {
        ord(s, d)
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(25)
          .select(col("o_orderkey"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin)
    ),

    // ----- correlated-style scalar subquery (avg comparison) -----------------------
    "rel_above_avg_orders" -> QuerySpec(
      (s, d) => {
        val o = ord(s, d)
        // exact decimal sum / count => order-independent average
        val stats = o.groupBy(col("o_custkey").as("k"))
          .agg((dsum(col("o_totalprice")) / count(lit(1))).as("cust_avg"))
        o.join(broadcast(stats), col("o_custkey") === col("k"))
          .filter(col("o_totalprice") > col("cust_avg") * 1.5)
          .select(col("o_orderkey"), col("o_custkey"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey FROM orders o
             |JOIN (SELECT o_custkey AS k,
             |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS cust_avg
             |      FROM orders GROUP BY 1) s ON o.o_custkey = s.k
             |WHERE o_totalprice > cust_avg * 1.5
             |ORDER BY o_orderkey""".stripMargin)
    ),

    // ----- pairwise correlation matrix, exact-integer accumulation ----------
    // Pearson correlation across the lineitem measures — the profiling
    // query every BI layer runs, but built so two engines agree to the
    // bit: corr() accumulates doubles in engine-specific order (Welford
    // vs sum-of-products), so the built-in can drift in the last ulp.
    // Here the measures quantize to exact BIGINTs (prices carry <= 2
    // decimals, rates <= 4 by construction), ALL moment sums accumulate
    // as DECIMAL(38,0) / HUGEINT integers (order-free), and the textbook
    // n·Σab − Σa·Σb formula evaluates in exact integer arithmetic with
    // ONE double conversion at the end. One map-side-combined aggregate
    // over the fact table produces every moment; the 6-pair matrix
    // unfolds from that single row.
    "rel_correlation_matrix" -> QuerySpec(
      (s, d) => {
        val q = li(s, d).select(
          expr("cast(round(l_quantity * 100) as bigint)").as("a1"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("a2"),
          expr("cast(round(l_discount * 10000) as bigint)").as("a3"),
          expr("cast(round(l_tax * 10000) as bigint)").as("a4"))
        val names = Map(1 -> "quantity", 2 -> "extendedprice", 3 -> "discount", 4 -> "tax")
        val pairs = for (i <- 1 to 4; j <- (i + 1) to 4) yield (i, j)
        val moments =
          (1 to 4).flatMap(i => Seq(
            sum(expr(s"cast(a$i as decimal(38,0))")).as(s"s$i"),
            sum(expr(s"cast(a$i * a$i as decimal(38,0))")).as(s"ss$i"))) ++
          pairs.map { case (i, j) =>
            sum(expr(s"cast(a$i * a$j as decimal(38,0))")).as(s"p${i}_$j") }
        val agg = q.agg(count(lit(1)).cast("decimal(38,0)").as("n"), moments: _*)
        val rows = pairs.map { case (i, j) =>
          s"struct('${names(i)}' as col_a, '${names(j)}' as col_b, " +
            s"floor(cast(n * p${i}_$j - s$i * s$j as double) / " +
            s"sqrt(cast(n * ss$i - s$i * s$i as double) * " +
            s"cast(n * ss$j - s$j * s$j as double)) * 1e6 + 0.5) / 1e6 as corr)"
        }.mkString("array(", ", ", ")")
        agg.select(explode(expr(rows)).as("r"))
          .select(col("r.col_a"), col("r.col_b"), col("r.corr"))
          .orderBy(col("col_a"), col("col_b"))
      },
      Some {
        val names = Map(1 -> "quantity", 2 -> "extendedprice", 3 -> "discount", 4 -> "tax")
        val pairs = for (i <- 1 to 4; j <- (i + 1) to 4) yield (i, j)
        val sel = pairs.map { case (i, j) =>
          s"""SELECT '${names(i)}' AS col_a, '${names(j)}' AS col_b,
             |  floor(CAST(n * p${i}_$j - s$i * s$j AS DOUBLE) /
             |    sqrt(CAST(n * ss$i - s$i * s$i AS DOUBLE) *
             |         CAST(n * ss$j - s$j * s$j AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS corr
             |FROM m""".stripMargin
        }.mkString("\n UNION ALL ")
        s"""WITH q AS (SELECT
           |    CAST(round(l_quantity * 100) AS BIGINT) AS a1,
           |    CAST(round(l_extendedprice * 100) AS BIGINT) AS a2,
           |    CAST(round(l_discount * 10000) AS BIGINT) AS a3,
           |    CAST(round(l_tax * 10000) AS BIGINT) AS a4
           |  FROM lineitem),
           |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           |    ${(1 to 4).map(i =>
                  s"CAST(SUM(CAST(a$i AS HUGEINT)) AS HUGEINT) AS s$i, " +
                  s"CAST(SUM(CAST(a$i AS HUGEINT) * a$i) AS HUGEINT) AS ss$i").mkString(", ")},
           |    ${pairs.map { case (i, j) =>
                  s"CAST(SUM(CAST(a$i AS HUGEINT) * a$j) AS HUGEINT) AS p${i}_$j" }.mkString(", ")}
           |  FROM q)
           |SELECT col_a, col_b, corr FROM ($sel) z
           |ORDER BY col_a, col_b""".stripMargin
      }
    ),

    // ----- TPC-H Q5 analog: 6-table star join, local-supplier volume --------
    // The classic join-ordering stress: two fact tables (lineitem, orders)
    // and four dimensions, with the customer-nation = supplier-nation
    // equality closing the star into a cycle. The Spark-first plan: the
    // date filter pushes into the orders scan (pruning the fact join's
    // build side BEFORE the shuffle), lineitem ⋈ orders shuffles on the
    // order key (the only fact-fact edge), and every dimension — customer,
    // supplier, nation, region — broadcasts, so the nation-equality cycle
    // closes map-side without a second fact shuffle. Exact DECIMAL revenue
    // per the family's discipline.
    "rel_local_supplier_volume" -> QuerySpec(
      (s, d) => {
        li(s, d)
          .join(ord(s, d).filter(
            col("o_orderdate") >= lit("1996-01-01") &&
              col("o_orderdate") < lit("1998-01-01")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp(s, d)),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg(s, d)),
            col("n_regionkey") === col("r_regionkey") && col("r_name") === "ASIA")
          .groupBy(col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
    )
  )
}
