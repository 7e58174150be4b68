package graft.analytics

import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions.MP
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.Column

/** Event-stream analytics — the engine-side analog of the reference product's
  * trend queries (SURVEY §2.9: Table Stats "volume written & key trends over
  * time", README.md §Table Stats / §Weekly Insights), expressed over the
  * driver's `events` table.
  *
  * All window/sessionization logic partitions by `user_id` (high cardinality)
  * so state stays bounded per partition at 100 TB; time bucketing is pure
  * column arithmetic (codegen'd, no UDF).
  */
object EventQueries {

  private def ev(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.t(s, d, "events")

  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** KMV pair statistics from per-type sketches `sk(event_type, h)`: for
    * every type pair, the merged sketch (k smallest distinct over the two
    * sketches' union — exact by mergeability), its size `n_m`, its k-th
    * value `hk`, and `inter_k` = merged hashes present in BOTH sides.
    * Shared by evt_kmv_overlap (corpus-built sketches) and
    * evt_kmv_overlap_indexed (store-read sketches); everything downstream
    * runs on |types|²·k rows.
    */
  private def kmvPairStats(sk: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val types = sk.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("type_a"))
      .crossJoin(types.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    pairs
      .join(sk.select(col("event_type").as("type_a"), col("h")), Seq("type_a"))
      .unionByName(pairs
        .join(sk.select(col("event_type").as("type_b"), col("h")), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("h")))
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("h"))))
      .filter(col("rn") <= k)
      .join(sk.select(col("event_type").as("type_a"), col("h"),
        lit(1).as("in_a")), Seq("type_a", "h"), "left")
      .join(sk.select(col("event_type").as("type_b"), col("h"),
        lit(1).as("in_b")), Seq("type_b", "h"), "left")
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_m"), max(col("h")).as("hk"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("inter_k"))
  }

  val all: Map[String, QuerySpec] = Map(

    // ----- tumbling time-window aggregation (hourly) -----
    "evt_hourly_stats" -> QuerySpec(
      (s, d) => {
        ev(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
             |  COUNT(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)
    ),

    // ----- weekly trend (reference README §Weekly Insights) -----
    "evt_weekly_trend" -> QuerySpec(
      (s, d) => {
        ev(s, d)
          .groupBy(date_trunc("week", col("ts")).as("week"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            dsum(col("value")).as("total_value"))
          .orderBy(col("week"))
      },
      Some("""SELECT date_trunc('week', ts) AS week, COUNT(*) AS n_events,
             |  COUNT(DISTINCT user_id) AS n_users,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1 ORDER BY week""".stripMargin)
    ),

    // ----- retention cohort: first-seen week x weeks-since-cohort -----------
    // Classic product-analytics triangle: users bucketed by first-activity
    // week, counted in each later week they return. Two aggregations and one
    // equi-join on user_id — cohort assignment broadcasts nothing and
    // shuffles once on the high-cardinality key.
    "evt_retention_cohort" -> QuerySpec(
      (s, d) => {
        val e = ev(s, d)
        val first = e.groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
        val act = e.select(col("user_id"), date_trunc("week", col("ts")).as("act_week"))
          .distinct()
        first.join(act, "user_id")
          .withColumn("week_n", expr("datediff(act_week, cohort_week) div 7"))
          .groupBy(col("cohort_week"), col("week_n"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort_week"), col("week_n"))
      },
      Some("""WITH f AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
             |           FROM events GROUP BY user_id),
             |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events)
             |SELECT cohort_week, datediff('day', cohort_week, act_week) // 7 AS week_n,
             |  COUNT(*) AS n_users
             |FROM f JOIN a USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_week, week_n""".stripMargin)
    ),

    // ----- daily distinct users -----
    "evt_daily_active_users" -> QuerySpec(
      (s, d) => {
        ev(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(countDistinct(col("user_id")).as("dau"))
          .orderBy(col("day"))
      },
      Some("""SELECT date_trunc('day', ts) AS day, COUNT(DISTINCT user_id) AS dau
             |FROM events GROUP BY 1 ORDER BY day""".stripMargin)
    ),

    // ----- volume anomaly: daily count vs trailing-30-day average ----------
    // Observability alerting: flag days whose event volume jumps against
    // their trailing window. Deliberately ratio-based, not z-score: stddev
    // accumulates in engine-specific order (Welford vs sum-of-squares), so a
    // z-score can diverge in the last ulp across engines, while n * k / s
    // over exact integer window sums is one IEEE division — identical
    // everywhere. One shuffle for the daily rollup; the window runs over a
    // few thousand day-rows at any corpus size.
    "evt_daily_anomaly" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy(col("day")).rowsBetween(-30, -1)
        ev(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("s", sum(col("n")).over(w))
          .withColumn("k", count(col("n")).over(w))
          .withColumn("ratio", expr(
            "if(k = 0 or s = 0, cast(null as double), floor(n * k / s * 1e6 + 0.5) / 1e6)"))
          .withColumn("anomalous", expr("coalesce(ratio > 1.3, false)"))
          .select(col("day"), col("n"), col("ratio"), col("anomalous"))
          .orderBy(col("day"))
      },
      Some("""WITH daily AS (
             |  SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
             |  FROM events GROUP BY 1),
             |w AS (SELECT day, n,
             |  CAST(SUM(n) OVER (ORDER BY day ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s,
             |  CAST(COUNT(n) OVER (ORDER BY day ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING) AS BIGINT) AS k
             |  FROM daily)
             |SELECT day, n,
             |  CASE WHEN k = 0 OR s = 0 THEN NULL
             |    ELSE floor(n * k / s * 1e6 + 0.5) / 1e6 END AS ratio,
             |  COALESCE(CASE WHEN k = 0 OR s = 0 THEN NULL
             |    ELSE floor(n * k / s * 1e6 + 0.5) / 1e6 END > 1.3, false) AS anomalous
             |FROM w ORDER BY day""".stripMargin)
    ),

    // ----- JSON extraction from the props payload -----
    "evt_json_props" -> QuerySpec(
      (s, d) => {
        ev(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy((col("k") % 10).as("k_bucket"))
          .agg(count(lit(1)).as("n"), max(col("k")).as("max_k"))
          .orderBy(col("k_bucket"))
      },
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
             |  COUNT(*) AS n, MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
             |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin)
    ),

    // ----- lag/lead analytics -----
    "evt_value_delta" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        ev(s, d)
          .filter(col("user_id") < 30)
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .withColumn("delta",
            expr("floor((value - coalesce(prev_value, 0.0d)) * 100 + 0.5) / 100"))
          .select(col("user_id"), col("event_id"), col("delta"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id,
             |  floor((value - COALESCE(LAG(value, 1) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id), 0.0)) * 100 + 0.5) / 100 AS delta
             |FROM events WHERE user_id < 30
             |ORDER BY user_id, event_id""".stripMargin)
    ),

    // ----- user-path transitions: first-order Markov matrix over events -----
    // Which event follows which: the per-user event sequence's adjacent
    // (event_type -> next) transition counts — the input to funnel design
    // and Markov-chain behavior models. One LEAD window partitioned by
    // user_id (high cardinality, bounded per-partition state) and one
    // map-side-combined count over the tiny (type x type) matrix; ties in
    // the top-20 ranking break on the transition labels.
    "evt_user_paths" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        ev(s, d)
          .withColumn("nxt", lead(col("event_type"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy(col("event_type"), col("nxt"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("event_type"), col("nxt"))
          .limit(20)
      },
      Some("""WITH o AS (SELECT user_id, event_type,
             |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
             |  FROM events)
             |SELECT event_type, nxt, COUNT(*) AS n
             |FROM o WHERE nxt IS NOT NULL
             |GROUP BY 1, 2 ORDER BY n DESC, event_type, nxt LIMIT 20""".stripMargin)
    ),

    // ----- event-type affinity: market-basket co-occurrence with lift -----
    // For every pair of event types, how many users perform both, and the
    // lift vs independence: n_both * n_users / (n_a * n_b). The self-join
    // runs on the DISTINCT (user_id, event_type) projection, so per-user
    // fan-out is bounded by the type-cardinality squared (a small constant),
    // never by the user's event count — at 100 TB the distinct is the only
    // full shuffle and the per-type totals broadcast. Lift is exact-integer
    // products with a single IEEE division, rounded — engine-order
    // independent.
    "evt_type_affinity" -> QuerySpec(
      (s, d) => {
        val ut = ev(s, d).select(col("user_id"), col("event_type")).distinct()
        val totals = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val nUsers = ut.select(col("user_id")).distinct()
          .agg(count(lit(1)).as("n_users"))
        val pairs = ut.as("a")
          .join(ut.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("n_both"))
        pairs
          .join(broadcast(totals.select(col("event_type").as("type_a"),
            col("n").as("n_a"))), "type_a")
          .join(broadcast(totals.select(col("event_type").as("type_b"),
            col("n").as("n_b"))), "type_b")
          .crossJoin(broadcast(nUsers))
          .withColumn("lift",
            expr("floor(n_both * n_users / (n_a * n_b) * 1e6 + 0.5) / 1e6"))
          .select(col("type_a"), col("type_b"), col("n_both"), col("lift"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
             |t AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
             |u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
             |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    COUNT(*) AS n_both
             |  FROM ut a JOIN ut b ON a.user_id = b.user_id
             |    AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT type_a, type_b, n_both,
             |  floor(n_both * n_users / (ta.n * tb.n) * 1e6 + 0.5) / 1e6 AS lift
             |FROM p JOIN t ta ON p.type_a = ta.event_type
             |  JOIN t tb ON p.type_b = tb.event_type CROSS JOIN u
             |ORDER BY type_a, type_b""".stripMargin)
    ),

    // ----- sessionization: 30-minute inactivity gap -----
    // ----- day-over-day type-mix drift: the distribution-shift monitor ------
    // evt_daily_anomaly watches VOLUME; this watches SHAPE — a day whose
    // event-type mix diverges from yesterday's (a client release changing
    // traffic composition) at constant volume. Per day: chi-square of
    // today's type counts against expectations scaled from yesterday's
    // shares, add-one smoothed (a type absent yesterday must not divide by
    // zero — and genuinely new types SHOULD score as drift). The day x
    // type lattice is built from the global type set so zero-count cells
    // participate on both sides. Exactness: expectations are rationals of
    // integer counts, per-cell contributions floor-quantize to micro
    // BIGINTs pre-sum. One corpus-sized (day, type) aggregate; everything
    // after runs on days x types rows.
    "evt_type_drift" -> QuerySpec(
      (s, d) => {
        val dc = ev(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("c"))
        val types = dc.select(col("event_type")).distinct()
        val days = dc.groupBy(col("day")).agg(sum(col("c")).cast("bigint").as("n"))
        val k = types.count() // driver-side scalar: the type-set cardinality
        val lattice = days.crossJoin(broadcast(types))
          .join(dc, Seq("day", "event_type"), "left").na.fill(0L, Seq("c"))
        val today = lattice.select(col("day"), col("event_type"),
          col("c").as("ct"), col("n").as("nt"))
        val yest = lattice.select(col("day").as("yday"), col("event_type").as("yevent_type"),
          col("c").as("cy"), col("n").as("ny"))
        today.join(yest,
            col("event_type") === col("yevent_type") &&
              col("day") === expr("yday + INTERVAL 1 DAY"))
          .select(col("day"),
            expr(s"cast(floor((ct - cast(nt as double) * (cy + 1) / (ny + $k)) * " +
              s"(ct - cast(nt as double) * (cy + 1) / (ny + $k)) / " +
              s"(cast(nt as double) * (cy + 1) / (ny + $k)) * 1e6 + 0.5) as bigint)").as("cm"))
          .groupBy(col("day"))
          .agg(sum(col("cm")).cast("bigint").as("chi2_micro"))
          .withColumn("dof", lit(k - 1))
          .orderBy(col("day"))
      },
      Some {
        // the oracle needs the same type-set cardinality the engine used;
        // it is data-derived, so compute it as a scalar CTE
        """WITH dc AS (SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS c
          |  FROM events GROUP BY 1, 2),
          |ty AS (SELECT DISTINCT event_type FROM dc),
          |kk AS (SELECT COUNT(*) AS k FROM ty),
          |dd AS (SELECT day, CAST(SUM(c) AS BIGINT) AS n FROM dc GROUP BY 1),
          |lat AS (SELECT dd.day, ty.event_type, dd.n, COALESCE(dc.c, 0) AS c
          |  FROM dd CROSS JOIN ty
          |  LEFT JOIN dc ON dc.day = dd.day AND dc.event_type = ty.event_type),
          |p AS (SELECT t.day,
          |    CAST(floor((t.c - CAST(t.n AS DOUBLE) * (y.c + 1) / (y.n + k)) *
          |      (t.c - CAST(t.n AS DOUBLE) * (y.c + 1) / (y.n + k)) /
          |      (CAST(t.n AS DOUBLE) * (y.c + 1) / (y.n + k)) * 1e6 + 0.5) AS BIGINT) AS cm,
          |    k
          |  FROM lat t JOIN lat y ON t.event_type = y.event_type
          |    AND t.day = y.day + INTERVAL 1 DAY
          |  CROSS JOIN kk)
          |SELECT day, CAST(SUM(cm) AS BIGINT) AS chi2_micro,
          |  CAST(MAX(k - 1) AS BIGINT) AS dof
          |FROM p GROUP BY day ORDER BY day""".stripMargin
      }
    ),

    // ----- OLS volume trend: the fitted slope behind the trend charts -------
    // tl_volume_trend/evt_weekly_trend show the series; this fits it —
    // least-squares slope/intercept/R² of daily event volume against the
    // day index, the number an observability page prints as "+N events/
    // day". Exactness discipline: x (day index via datediff from the
    // corpus's own min day) and y (daily counts) are integers, every OLS
    // moment (Σx, Σy, Σxy, Σx², Σy²) accumulates as order-free integer
    // sums, and the slope/intercept/R² formulas evaluate with one double
    // conversion at the end — regr_slope()'s float accumulation drift
    // never enters. The daily rollup is the only corpus-sized aggregate;
    // the fit runs on day-count rows.
    "evt_volume_trend_ols" -> QuerySpec(
      (s, d) => {
        val daily = ev(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val x0 = daily.agg(min(col("day")).as("d0"))
        daily.crossJoin(broadcast(x0))
          .withColumn("x", expr("cast(datediff(day, d0) as bigint)"))
          .agg(count(lit(1)).as("n"),
            sum(col("x")).cast("bigint").as("sx"),
            sum(col("y")).cast("bigint").as("sy"),
            sum(expr("x * y")).cast("bigint").as("sxy"),
            sum(expr("x * x")).cast("bigint").as("sxx"),
            sum(expr("y * y")).cast("bigint").as("syy"))
          .select(col("n"),
            expr("floor(cast(n * sxy - sx * sy as double) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6")
              .as("slope"),
            expr("floor((cast(sy as double) - (cast(n * sxy - sx * sy as double) / (n * sxx - sx * sx)) * sx) / n * 1e6 + 0.5) / 1e6")
              .as("intercept"),
            expr("floor(cast(n * sxy - sx * sy as double) * (n * sxy - sx * sy) / " +
              "((n * sxx - sx * sx) * cast(n * syy - sy * sy as double)) * 1e6 + 0.5) / 1e6")
              .as("r2"))
      },
      Some("""WITH daily AS (SELECT date_trunc('day', ts) AS day, COUNT(*) AS y
             |  FROM events GROUP BY 1),
             |x0 AS (SELECT MIN(day) AS d0 FROM daily),
             |pts AS (SELECT CAST(datediff('day', d0, day) AS BIGINT) AS x, y
             |  FROM daily CROSS JOIN x0),
             |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(x * y) AS BIGINT) AS sxy,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx,
             |    CAST(SUM(y * y) AS BIGINT) AS syy
             |  FROM pts)
             |SELECT n,
             |  floor(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6 AS slope,
             |  floor((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)) * sx) / n * 1e6 + 0.5) / 1e6 AS intercept,
             |  floor(CAST(n * sxy - sx * sy AS DOUBLE) * (n * sxy - sx * sy) /
             |    ((n * sxx - sx * sx) * CAST(n * syy - sy * sy AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS r2
             |FROM m""".stripMargin)
    ),

    // ----- session-gap sensitivity: the sessionization lever curve ----------
    // Completing the lever-curve family (Jaccard bar, quality bar): total
    // sessions and mean events-per-session at 15/30/60-minute inactivity
    // gaps — the table read before fixing the gap rule, since the choice
    // moves every downstream retention/funnel number. One lag pass
    // computes each event's gap ONCE; the three thresholds are per-row
    // comparisons against that same gap column (no per-threshold window
    // re-run), and only the tiny per-gap totals aggregate globally.
    "evt_session_gap_curve" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val gaps = ev(s, d)
          .withColumn("us", unix_micros(col("ts").cast("timestamp")))
          .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        gaps.crossJoin(broadcast(gaps.sparkSession.range(0, 1)
            .selectExpr("explode(array(15, 30, 60)) as gap_min")))
          .groupBy(col("gap_min"))
          .agg(sum(when(col("gap_us").isNull ||
              col("gap_us") > col("gap_min") * 60L * 1000000L, 1L).otherwise(0L))
            .as("n_sessions"),
            count(lit(1)).as("n_events"))
          .withColumn("events_per_session",
            expr("floor(n_events / n_sessions * 1e6 + 0.5) / 1e6"))
          .orderBy(col("gap_min"))
      },
      Some("""WITH g AS (
             |  SELECT user_id,
             |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS gap_us
             |  FROM events),
             |thr AS (SELECT unnest([15, 30, 60]) AS gap_min)
             |SELECT gap_min,
             |  CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > CAST(gap_min AS BIGINT) * 60 * 1000000
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             |  COUNT(*) AS n_events,
             |  floor(COUNT(*) / SUM(CASE WHEN gap_us IS NULL OR gap_us > CAST(gap_min AS BIGINT) * 60 * 1000000
             |    THEN 1 ELSE 0 END) * 1e6 + 0.5) / 1e6 AS events_per_session
             |FROM g CROSS JOIN thr GROUP BY gap_min ORDER BY gap_min""".stripMargin)
    ),

    "evt_sessionize" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev(s, d)
          // The driver's parquet carries `ts` as TIMESTAMP_NTZ (no zone);
          // unix_micros only accepts TIMESTAMP. With the session timezone
          // pinned to UTC the NTZ->TIMESTAMP cast is value-preserving and
          // matches DuckDB's epoch_us over the same file.
          .withColumn("us", unix_micros(col("ts").cast("timestamp")))
          .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
          .withColumn("new_session",
            when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum(col("new_session")).over(wRun))
          .groupBy(col("user_id"))
          .agg(max(col("session_id")).as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts,
             |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS gap_us
             |  FROM events),
             |m AS (
             |  SELECT user_id,
             |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM g)
             |SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
             |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),

    // ----- approximate distinct (HLL sketch) — §2.9 approx_count_distinct --
    // The raw HLL estimate is engine-specific (DuckDB cannot replay Spark's
    // sketch), so the HASHABLE contract is the estimate's accuracy: the
    // query runs the sketch AND the exact count, and outputs the exact
    // values plus `within_5pct` = |est - exact| <= 0.05 * exact — a bound
    // the oracle can state too (for it, trivially true). A drifting
    // estimate now FAILS the driver hash gate instead of hiding behind a
    // rows-only check; ApproxAccuracySpec keeps the per-row assertions.
    "evt_approx_users_by_type" -> QuerySpec(
      (s, d) => {
        ev(s, d)
          .groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id"), 0.02).as("est"),
            countDistinct(col("user_id")).as("n_users"),
            count(lit(1)).as("n_events"))
          .select(col("event_type"), col("n_users"), col("n_events"),
            (abs(col("est") - col("n_users")) <= col("n_users") * 0.05)
              .as("within_5pct"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
             |  COUNT(*) AS n_events,
             |  abs(COUNT(DISTINCT user_id) - COUNT(DISTINCT user_id))
             |    <= COUNT(DISTINCT user_id) * 0.05 AS within_5pct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // ----- KMV sketch overlap: mergeable distinct-intersection estimates ----
    // The sketch class evt_approx_users_by_type's HLL can't provide: HLL
    // unions but never intersects; a KMV (bottom-k minimum values,
    // Bar-Yossef et al. RANDOM'02 / Beyer et al. SIGMOD'07) supports BOTH —
    // the k smallest hash values of a set are a uniform sample of its hash
    // space, K(A∪B) is exactly the k smallest of K(A) ∪ K(B) (no re-scan),
    // and the fraction of that union sketch present in both sides is an
    // unbiased Jaccard estimator. Entity = (user, day) activity pairs, the
    // audience-overlap question ("how much of click's user-day activity
    // also purchases?") behind every funnel-building decision. Everything
    // is exact integer arithmetic on a deterministic MINSTD hash
    // (48271·ent + 11 mod 2^31−1), so the ESTIMATES themselves hash-match
    // DuckDB bit-for-bit — unlike the HLL row, whose estimate is
    // implementation-defined and only range-checked. Exact union/
    // intersection columns ride along as the gate-scale measuring stick.
    //
    // Scale design: the sketch build is the only corpus-sized stage — one
    // distinct + a per-type bottom-k through the bounded top-K typed
    // aggregate (`top64_by_long(-h, h)` = 64 smallest hashes; the partial
    // phase cuts every map task to 64 entries per type, so no per-type
    // sort ever sees the corpus); every pair combination then runs on
    // |types|²·k rows. Sketches are mergeable
    // across partitions, days, and clusters — THE property that lets a
    // 100 TB deployment keep per-shard sketches and answer any pairwise
    // overlap later without touching the corpus again. The exact columns
    // are dropped at that scale (documented); here they measure the
    // estimator: k=64 lands within the ~1/sqrt(k) envelope on true
    // unions ~2600.
    "evt_kmv_overlap" -> QuerySpec(
      (s, d) => {
        val k = 64
        val ents = graft.CacheTracker.track(ev(s, d)
          .select(col("event_type"),
            (col("user_id") * 65536L +
              datediff(col("ts").cast("date"), lit("1970-01-01"))).as("ent"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val sk = graft.CacheTracker.track(ents
          // triple-iterated Lehmer map (the priority-sample draw's move):
          // one LCG pass over the STRUCTURED entity ids (user·65536 + day)
          // leaves a lattice whose minima skew small — measured 1.8x union
          // overestimates; three passes mix the seed to KMV-grade
          // uniformity (estimates land inside the ~1/sqrt(k) envelope)
          .withColumn("h", expr(s"(48271L * ((48271L * ((48271L * ent + 11) % ${MP}L) " +
            s"+ 11) % ${MP}L) + 11) % ${MP}L"))
          .select(col("event_type"), col("h")).distinct()
          // bottom-k via the bounded top-K typed aggregate (negated score):
          // the partial phase caps every map task at k entries per type, so
          // the sketch build never sorts a type's full hash set
          .groupBy(col("event_type"))
          .agg(expr(s"top64_by_long(-h, h)").as("tk"))
          .select(col("event_type"), explode(col("tk")).as("x"))
          .select(col("event_type"), col("x._2").as("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val merged = kmvPairStats(sk, k)
        // exact ground truth (gate-feasible; dropped at 100 TB)
        val nPer = ents.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val exactInter = ents.select(col("event_type").as("type_a"), col("ent"))
          .join(ents.select(col("event_type").as("type_b"), col("ent")), Seq("ent"))
          .filter(col("type_a") < col("type_b"))
          .groupBy(col("type_a"), col("type_b"))
          .agg(count(lit(1)).as("exact_inter"))
        merged
          .join(exactInter, Seq("type_a", "type_b"), "left")
          .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
          .join(nPer.select(col("event_type").as("type_a"), col("n").as("na")), Seq("type_a"))
          .join(nPer.select(col("event_type").as("type_b"), col("n").as("nb")), Seq("type_b"))
          .select(col("type_a"), col("type_b"),
            (col("na") + col("nb") - col("exact_inter")).as("exact_union"),
            col("exact_inter"),
            when(col("n_m") < k, col("n_m"))
              .otherwise(expr(s"(${k - 1}L * ${MP}L) div hk")).as("est_union"),
            expr(s"(case when n_m < $k then n_m else (${k - 1}L * ${MP}L) div hk end) " +
              "* inter_k div n_m").as("est_inter"),
            expr("inter_k * 1000000L div n_m").as("est_jaccard_micro"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some(s"""WITH ents AS (SELECT DISTINCT event_type,
             |    user_id * 65536 + date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ent
             |  FROM events),
             |hs AS (SELECT DISTINCT event_type,
             |    (48271 * ((48271 * ((48271 * ent + 11) % $MP) + 11) % $MP) + 11) % $MP AS h
             |  FROM ents),
             |sk AS (SELECT event_type, h FROM (
             |    SELECT event_type, h,
             |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM hs) z
             |  WHERE rn <= 64),
             |ty AS (SELECT DISTINCT event_type FROM sk),
             |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b
             |  FROM ty a JOIN ty b ON a.event_type < b.event_type),
             |mg0 AS (SELECT DISTINCT type_a, type_b, h FROM (
             |  SELECT p.type_a, p.type_b, s.h FROM pr p JOIN sk s ON s.event_type = p.type_a
             |  UNION ALL
             |  SELECT p.type_a, p.type_b, s.h FROM pr p JOIN sk s ON s.event_type = p.type_b) u),
             |mg AS (SELECT type_a, type_b, h FROM (
             |    SELECT type_a, type_b, h,
             |      ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn FROM mg0) z
             |  WHERE rn <= 64),
             |agg AS (SELECT m.type_a, m.type_b, COUNT(*) AS n_m, MAX(m.h) AS hk,
             |    CAST(SUM(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS inter_k
             |  FROM mg m
             |    LEFT JOIN sk sa ON sa.event_type = m.type_a AND sa.h = m.h
             |    LEFT JOIN sk sb ON sb.event_type = m.type_b AND sb.h = m.h
             |  GROUP BY m.type_a, m.type_b),
             |np AS (SELECT event_type, COUNT(*) AS n FROM ents GROUP BY event_type),
             |ei AS (SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS exact_inter
             |  FROM ents a JOIN ents b ON a.ent = b.ent AND a.event_type < b.event_type
             |  GROUP BY a.event_type, b.event_type)
             |SELECT g.type_a, g.type_b,
             |  CAST(na.n + nb.n - COALESCE(ei.exact_inter, 0) AS BIGINT) AS exact_union,
             |  CAST(COALESCE(ei.exact_inter, 0) AS BIGINT) AS exact_inter,
             |  CAST(CASE WHEN g.n_m < 64 THEN g.n_m ELSE (63 * CAST($MP AS BIGINT)) // g.hk END AS BIGINT) AS est_union,
             |  CAST((CASE WHEN g.n_m < 64 THEN g.n_m ELSE (63 * CAST($MP AS BIGINT)) // g.hk END)
             |    * g.inter_k // g.n_m AS BIGINT) AS est_inter,
             |  CAST(g.inter_k * 1000000 // g.n_m AS BIGINT) AS est_jaccard_micro
             |FROM agg g
             |  LEFT JOIN ei ON g.type_a = ei.type_a AND g.type_b = ei.type_b
             |  JOIN np na ON na.event_type = g.type_a
             |  JOIN np nb ON nb.event_type = g.type_b
             |ORDER BY g.type_a, g.type_b""".stripMargin)
    ),

    // ----- KMV overlaps answered from the PERSISTED sketch store -----------
    // evt_kmv_overlap re-sketches the corpus per run; this row reads
    // [[graft.operators.KmvStore]] — per-(type, day) bottom-k sketches
    // built once per slice — and answers every pairwise overlap from
    // sketch scans (≤ types × days × k stored longs), the shape the
    // direct row documents as the 100 TB deployment. The read-side merge
    // (distinct + bottom-k per type) is EXACT by KMV mergeability, so the
    // estimates are bit-identical to from-scratch sketching — which is
    // precisely what the oracle pins: DuckDB replays the full
    // corpus-scan pipeline while Spark touches only the store. The exact
    // ground-truth columns of the direct row are corpus reads by
    // definition and are dropped here, as a sketch-serving tier would.
    "evt_kmv_overlap_indexed" -> QuerySpec(
      (s, d) => {
        val k = 64
        val path = graft.operators.StoreRoot.ensure(s, d, graft.operators.KmvStore.Kind)(
          graft.operators.KmvStore.build(s, d, _))
        kmvPairStats(graft.operators.KmvStore.typeSketches(s, path), k)
          .select(col("type_a"), col("type_b"),
            when(col("n_m") < k, col("n_m"))
              .otherwise(expr(s"(${k - 1}L * ${MP}L) div hk")).as("est_union"),
            expr(s"(case when n_m < $k then n_m else (${k - 1}L * ${MP}L) div hk end) " +
              "* inter_k div n_m").as("est_inter"),
            expr("inter_k * 1000000L div n_m").as("est_jaccard_micro"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some(s"""WITH ents AS (SELECT DISTINCT event_type,
             |    user_id * 65536 + date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ent
             |  FROM events),
             |hs AS (SELECT DISTINCT event_type,
             |    (48271 * ((48271 * ((48271 * ent + 11) % $MP) + 11) % $MP) + 11) % $MP AS h
             |  FROM ents),
             |sk AS (SELECT event_type, h FROM (
             |    SELECT event_type, h,
             |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM hs) z
             |  WHERE rn <= 64),
             |ty AS (SELECT DISTINCT event_type FROM sk),
             |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b
             |  FROM ty a JOIN ty b ON a.event_type < b.event_type),
             |mg0 AS (SELECT DISTINCT type_a, type_b, h FROM (
             |  SELECT p.type_a, p.type_b, s.h FROM pr p JOIN sk s ON s.event_type = p.type_a
             |  UNION ALL
             |  SELECT p.type_a, p.type_b, s.h FROM pr p JOIN sk s ON s.event_type = p.type_b) u),
             |mg AS (SELECT type_a, type_b, h FROM (
             |    SELECT type_a, type_b, h,
             |      ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn FROM mg0) z
             |  WHERE rn <= 64),
             |agg AS (SELECT m.type_a, m.type_b, COUNT(*) AS n_m, MAX(m.h) AS hk,
             |    CAST(SUM(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS inter_k
             |  FROM mg m
             |    LEFT JOIN sk sa ON sa.event_type = m.type_a AND sa.h = m.h
             |    LEFT JOIN sk sb ON sb.event_type = m.type_b AND sb.h = m.h
             |  GROUP BY m.type_a, m.type_b)
             |SELECT g.type_a, g.type_b,
             |  CAST(CASE WHEN g.n_m < 64 THEN g.n_m ELSE (63 * CAST($MP AS BIGINT)) // g.hk END AS BIGINT) AS est_union,
             |  CAST((CASE WHEN g.n_m < 64 THEN g.n_m ELSE (63 * CAST($MP AS BIGINT)) // g.hk END)
             |    * g.inter_k // g.n_m AS BIGINT) AS est_inter,
             |  CAST(g.inter_k * 1000000 // g.n_m AS BIGINT) AS est_jaccard_micro
             |FROM agg g
             |ORDER BY g.type_a, g.type_b""".stripMargin)
    ),

    // ----- as-of join: each purchase matched to the user's most recent -----
    // prior click (the classic point-in-time lookup, done Spark-first as a
    // running window max instead of a per-row subquery)
    "evt_asof_last_click" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev(s, d)
          .withColumn("last_click_ts",
            max(when(col("event_type") === "click", col("ts"))).over(w))
          .filter(col("event_type") === "purchase" && col("user_id") < 50)
          .select(col("user_id"), col("event_id"), col("ts"), col("last_click_ts"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, ts,
             |  MAX(CASE WHEN event_type = 'click' THEN ts END)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
             |FROM events QUALIFY event_type = 'purchase' AND user_id < 50
             |ORDER BY user_id, event_id""".stripMargin)
    ),

    // ----- native AS-OF join: click -> latest prior view --------------------
    // The same backward-looking "state at time t" semantics as
    // evt_asof_last_click, but through the engine's NATIVE as-of operator
    // ([[graft.plans.AsOfJoinPlan]] / AsOfJoinExec — a custom LogicalPlan +
    // SparkStrategy + physical merge): each side hash-exchanges on
    // user_id (the same single shuffle a plain equi-join pays — the
    // union+window form instead funnels BOTH relations through one sort
    // and drags every right column through window state), planner-inserted
    // spillable sorts order each partition by (user, ts), and one O(|L|+|R|)
    // forward merge per partition emits each click's latest at-or-before
    // view with constant state. The right side dedups to one row per
    // (user, ts) first — keep max event_id — so the operator's tie rule
    // cannot differ from DuckDB's ASOF JOIN, which is the oracle here:
    // this row hash-checks the custom physical operator against another
    // engine's native implementation of the same operator.
    "evt_asof_native" -> QuerySpec(
      (s, d) => {
        val e = ev(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
        val views = e.filter(col("event_type") === "view")
          .groupBy(col("user_id").as("v_user"), col("ts").as("view_ts"))
          .agg(max(col("event_id")).as("view_id"))
        graft.plans.AsOfJoin.join(clicks, views,
            "user_id", "v_user", "click_ts", "view_ts")
          .select(col("click_id"), col("user_id"), col("click_ts"),
            col("view_id"), col("view_ts"))
          .orderBy(col("click_id"))
      },
      Some("""SELECT c.click_id, c.user_id, c.click_ts, v.view_id, v.view_ts
             |FROM (SELECT event_id AS click_id, user_id, ts AS click_ts
             |      FROM events WHERE event_type = 'click') c
             |ASOF LEFT JOIN (SELECT user_id AS v_user, ts AS view_ts,
             |      MAX(event_id) AS view_id
             |    FROM events WHERE event_type = 'view' GROUP BY 1, 2) v
             |  ON c.user_id = v.v_user AND v.view_ts <= c.click_ts
             |ORDER BY c.click_id""".stripMargin)
    ),

    // ----- native interval join: events inside each signup's 7-day window ---
    // The stream-enrichment shape through the custom
    // [[graft.plans.IntervalJoin]] physical operator: for each signup, ALL
    // events of that user within [ts, ts + 7 days]. Spark's built-in plan
    // for equi-key + range is SMJ with the range as a per-key post-filter —
    // every |Lk| x |Rk| pair of a user enumerated then discarded — where
    // the native exec binary-searches the time-sorted right group and
    // touches only matches (per key group O((|Lk|+|Rk|) log + output)).
    // The oracle is the plain declarative range join: bit-equal output,
    // different physical cost — exactly the custom-operator contract.
    // ----- multi-touch attribution over the native interval join ------------
    // The marketing-analytics classic, composed ON the custom operator:
    // for each purchase, the view/click touches of the same user in the
    // prior 7 days get credit — LAST-touch (most recent touch takes the
    // whole conversion) and LINEAR (1/n each), reported per touch type.
    // The touch-window join is exactly the hot-key interval shape
    // [[graft.plans.IntervalJoin]] exists for (a celebrity user's
    // |purchases| x |touches| pair space never materializes — the exec
    // binary-searches each purchase's window), and the credit windows run
    // per purchase — bounded state. Credits are integer micro-units
    // (1e6 per conversion, floor-divided for linear), so sums are exact.
    "evt_attribution" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = ev(s, d)
        val conv = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("conv_id"), col("user_id"),
            (col("ts") - expr("INTERVAL 7 DAYS")).as("lo"), col("ts").as("hi"))
        val touch = e.filter(col("event_type").isin("view", "click"))
          .select(col("event_id").as("touch_id"), col("user_id").as("t_user"),
            col("event_type").as("touch_type"), col("ts").as("t_ts"))
        val joined = graft.plans.IntervalJoin.join(conv, touch,
            "user_id", "t_user", "lo", "hi", "t_ts")
          .select(col("conv_id"), col("touch_id"), col("touch_type"), col("t_ts"))
        val w = Window.partitionBy(col("conv_id"))
        val credited = joined
          .withColumn("rn", row_number().over(
            w.orderBy(col("t_ts").desc, col("touch_id").desc)))
          .withColumn("n", count(lit(1)).over(w))
          .select(col("touch_type"),
            when(col("rn") === 1, lit(1000000L)).otherwise(lit(0L)).as("last_micro"),
            expr("cast(1000000 div n as bigint)").as("lin_micro"))
        credited.groupBy(col("touch_type"))
          .agg(count(lit(1)).as("n_touches"),
            sum(col("last_micro")).cast("bigint").as("last_touch_micro"),
            sum(col("lin_micro")).cast("bigint").as("linear_micro"))
          .orderBy(col("touch_type"))
      },
      Some("""WITH conv AS (SELECT event_id AS conv_id, user_id,
             |    ts - INTERVAL 7 DAY AS lo, ts AS hi
             |  FROM events WHERE event_type = 'purchase'),
             |touch AS (SELECT event_id AS touch_id, user_id AS t_user,
             |    event_type AS touch_type, ts AS t_ts
             |  FROM events WHERE event_type IN ('view', 'click')),
             |j AS (SELECT conv_id, touch_id, touch_type, t_ts
             |  FROM conv JOIN touch ON t_user = user_id
             |    AND t_ts >= lo AND t_ts <= hi),
             |c AS (SELECT touch_type,
             |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY conv_id
             |      ORDER BY t_ts DESC, touch_id DESC) = 1
             |      THEN 1000000 ELSE 0 END AS last_micro,
             |    1000000 // COUNT(*) OVER (PARTITION BY conv_id) AS lin_micro
             |  FROM j)
             |SELECT touch_type, COUNT(*) AS n_touches,
             |  CAST(SUM(last_micro) AS BIGINT) AS last_touch_micro,
             |  CAST(SUM(lin_micro) AS BIGINT) AS linear_micro
             |FROM c GROUP BY touch_type ORDER BY touch_type""".stripMargin)
    ),

    "evt_interval_native" -> QuerySpec(
      (s, d) => {
        val e = ev(s, d)
        val sess = e.filter(col("event_type") === "signup")
          .select(col("event_id").as("signup_id"), col("user_id"),
            col("ts").as("lo"),
            (col("ts") + expr("INTERVAL 7 DAYS")).as("hi"))
        val ev2 = e.select(col("event_id"), col("user_id").as("e_user"),
          col("event_type"), col("ts").as("e_ts"))
        graft.plans.IntervalJoin.join(sess, ev2,
            "user_id", "e_user", "lo", "hi", "e_ts")
          .select(col("signup_id"), col("user_id"), col("event_id"),
            col("event_type"), col("e_ts"))
          .orderBy(col("signup_id"), col("event_id"))
      },
      Some("""SELECT s.signup_id, s.user_id, e.event_id, e.event_type,
             |  e.ts AS e_ts
             |FROM (SELECT event_id AS signup_id, user_id, ts AS lo,
             |      ts + INTERVAL 7 DAY AS hi
             |    FROM events WHERE event_type = 'signup') s
             |JOIN events e ON e.user_id = s.user_id
             |  AND e.ts >= s.lo AND e.ts <= s.hi
             |ORDER BY signup_id, event_id""".stripMargin)
    ),

    // ----- range join: lineitems shipped within 30 days of their order ------
    "rel_range_join_ship_window" -> QuerySpec(
      (s, d) => {
        val li = Tables.t(s, d, "lineitem")
        val ord = Tables.t(s, d, "orders")
        li.join(ord, col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate").cast("date") <= date_add(col("o_orderdate").cast("date"), 30))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(count(lit(1)).as("n_fast_shipped"))
          .orderBy(col("o_year"))
      },
      Some("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
             |  COUNT(*) AS n_fast_shipped
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  AND l_shipdate >= o_orderdate
             |  AND CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
             |GROUP BY 1 ORDER BY o_year""".stripMargin)
    ),

    // ----- event funnel: users who signed up then purchased -----
    // ----- windowed multi-step funnel: the product-analytics workhorse -----
    // evt_funnel's production form: view → click → purchase with STRICT
    // ordering and a PER-STEP conversion window (click within 3 days of the
    // first view, purchase within 7 days of that click) — the unwindowed
    // join overcounts users whose later step happened weeks after intent
    // expired. Each stage is one equi-join on user_id against the previous
    // stage's one-row-per-user frame plus a min — the stage frames only
    // ever shrink, so the chain costs one shuffle per step with AQE
    // electing broadcast as the funnel narrows (never a per-user window
    // over the raw event stream). Conversion ratios and mean step
    // latencies are exact integer arithmetic (micro-ratio via div, latency
    // as floor-divided seconds) — no float surface in the hash contract.
    "evt_funnel_windowed" -> QuerySpec(
      (s, d) => {
        val e = ev(s, d)
        val v = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("vt"))
        val c = e.filter(col("event_type") === "click")
          .join(v, "user_id")
          .filter(col("ts") > col("vt") &&
            col("ts") <= col("vt") + expr("INTERVAL 3 DAYS"))
          .groupBy(col("user_id"))
          // min, not first: vt is constant per user group today, but the
          // oracle states MIN — min keeps the contract order-independent
          .agg(min(col("ts")).as("ct"), min(col("vt")).as("vt"))
        val p = e.filter(col("event_type") === "purchase")
          .join(c.select(col("user_id"), col("ct")), "user_id")
          .filter(col("ts") > col("ct") &&
            col("ts") <= col("ct") + expr("INTERVAL 7 DAYS"))
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("pt"), min(col("ct")).as("ct2"))
        val s1 = v.agg(count(lit(1)).as("n1"))
        val s2 = c.agg(count(lit(1)).as("n2"),
          sum(expr("unix_timestamp(ct) - unix_timestamp(vt)")).as("l2"))
        val s3 = p.agg(count(lit(1)).as("n3"),
          sum(expr("unix_timestamp(pt) - unix_timestamp(ct2)")).as("l3"))
        s1.crossJoin(s2).crossJoin(s3).selectExpr(
          "stack(3, " +
            "'1_view', n1, cast(null as bigint), cast(null as bigint), " +
            "'2_click', n2, if(n1 = 0, cast(null as bigint), n2 * 1000000L div n1), " +
            "  if(n2 = 0, cast(null as bigint), cast(l2 as bigint) div n2), " +
            "'3_purchase', n3, if(n2 = 0, cast(null as bigint), n3 * 1000000L div n2), " +
            "  if(n3 = 0, cast(null as bigint), cast(l3 as bigint) div n3)" +
            ") as (stage, n_users, conv_micro, avg_step_latency_sec)")
          .orderBy(col("stage"))
      },
      Some("""WITH v AS (SELECT user_id, MIN(ts) AS vt FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |c AS (SELECT e.user_id, MIN(e.ts) AS ct, MIN(v.vt) AS vt
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND e.ts > v.vt
             |    AND e.ts <= v.vt + INTERVAL 3 DAY
             |  GROUP BY e.user_id),
             |p AS (SELECT e.user_id, MIN(e.ts) AS pt, MIN(c.ct) AS ct2
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > c.ct
             |    AND e.ts <= c.ct + INTERVAL 7 DAY
             |  GROUP BY e.user_id),
             |s1 AS (SELECT COUNT(*) AS n1 FROM v),
             |s2 AS (SELECT COUNT(*) AS n2,
             |  CAST(SUM(date_diff('second', vt, ct)) AS BIGINT) AS l2 FROM c),
             |s3 AS (SELECT COUNT(*) AS n3,
             |  CAST(SUM(date_diff('second', ct2, pt)) AS BIGINT) AS l3 FROM p)
             |SELECT stage, n_users, conv_micro, avg_step_latency_sec FROM (
             |  SELECT '1_view' AS stage, CAST(n1 AS BIGINT) AS n_users,
             |    CAST(NULL AS BIGINT) AS conv_micro,
             |    CAST(NULL AS BIGINT) AS avg_step_latency_sec FROM s1, s2, s3
             |  UNION ALL
             |  SELECT '2_click', CAST(n2 AS BIGINT),
             |    CASE WHEN n1 = 0 THEN NULL ELSE CAST(n2 * 1000000 // n1 AS BIGINT) END,
             |    CASE WHEN n2 = 0 THEN NULL ELSE CAST(l2 // n2 AS BIGINT) END
             |  FROM s1, s2, s3
             |  UNION ALL
             |  SELECT '3_purchase', CAST(n3 AS BIGINT),
             |    CASE WHEN n2 = 0 THEN NULL ELSE CAST(n3 * 1000000 // n2 AS BIGINT) END,
             |    CASE WHEN n3 = 0 THEN NULL ELSE CAST(l3 // n3 AS BIGINT) END
             |  FROM s1, s2, s3) z
             |ORDER BY stage""".stripMargin)
    ),

    "evt_funnel" -> QuerySpec(
      (s, d) => {
        val e = ev(s, d)
        val signup = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).as("first_signup"))
        val purchase = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"))
        signup.join(purchase, "user_id")
          .filter(col("ts") > col("first_signup"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("purchases_after_signup"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT e.user_id, COUNT(*) AS purchases_after_signup
             |FROM events e
             |JOIN (SELECT user_id, MIN(ts) AS first_signup FROM events
             |      WHERE event_type = 'signup' GROUP BY user_id) s
             |  ON e.user_id = s.user_id
             |WHERE e.event_type = 'purchase' AND e.ts > s.first_signup
             |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin)
    )
  )
}
