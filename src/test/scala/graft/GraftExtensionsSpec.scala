package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions=graft.GraftExtensions` deployment path: a
  * session built with the extension resolves every native function from
  * plain SQL with no imperative registration call.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extension-built session resolves all native functions from plain SQL") {
    val base = SparkSpec.spark // ensure the shared SparkContext exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // `.config("spark.sql.extensions", ...)` is a STATIC conf read only when
    // the SparkContext is first created, so with the suite's shared context
    // the class-name path can't be exercised here; `withExtensions` applies
    // the identical instance to the new session (spark-submit deployments
    // use the conf form on a fresh context).
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      assert(s ne base) // a genuinely new session, extensions applied

      assert(s.sql("SELECT long_dot(array(1L,2L,3L), array(4L,5L,6L)) v")
        .head().getLong(0) === 32L)
      assert(s.sql("SELECT long_l2(array(1L,2L), array(4L,6L)) v")
        .head().getLong(0) === 25L)
      // parity with the imperative install (SparkSpec's) on the same input
      val exprs = Seq(
        "simhash32(array(1L,2L,3L,255L))",
        "shingle3_hash(array(1L,2L,3L,4L,5L))",
        "minhash16(array(10L,20L,30L))",
        "hyperplane_key6(array(1L,-2L,3L,-4L,5L,-6L))",
        "hyperplane_key(array(1L,-2L,3L,-4L,5L,-6L), 10)")
      exprs.foreach { e =>
        assert(s.sql(s"SELECT $e v").head() === base.sql(s"SELECT $e v").head(),
          s"extension vs imperative mismatch for $e")
      }

      // survives newSession() (imperative temp functions do not)
      assert(s.newSession().sql("SELECT long_dot(array(2L), array(3L)) v")
        .head().getLong(0) === 6L)

      val err = intercept[Exception](s.sql("SELECT long_dot(array(1L))").collect())
      assert(err.getMessage.contains("expects 2 argument"))

      // ---- RewriteLongDot optimizer rule -------------------------------
      // inputs derive from range(id) so they are NOT foldable — literal
      // arrays would be constant-folded away before the rule could fire
      val hof = "aggregate(zip_with(a, b, (x, y) -> x * y), " +
        "cast(0 as bigint), (s, v) -> s + v)"
      val eq = "SELECT array(id+1, id+2, id+3) AS a, array(id+4, id+5, id+6) AS b FROM range(1)"
      val dot = s.sql(s"SELECT $hof AS d FROM ($eq)")
      assert(dot.head().getLong(0) === 32L)
      assert(dot.queryExecution.optimizedPlan.expressions
        .exists(_.exists(_.isInstanceOf[graft.functions.LongArrayDot])),
        "HOF dot product should be rewritten to native long_dot")
      // unequal lengths: zip_with pads nulls -> HOF yields NULL; the
      // rewritten guard must preserve that
      val ne = "SELECT array(id+1, id+2, id+3) AS a, array(id+4, id+5) AS b FROM range(1)"
      assert(s.sql(s"SELECT $hof AS d FROM ($ne)").head().isNullAt(0))
      // parity with the un-extended session, which keeps the interpreted HOF
      val baseRes = base.sql(s"SELECT $hof AS d FROM ($eq)")
      assert(!baseRes.queryExecution.optimizedPlan.expressions
        .exists(_.exists(_.isInstanceOf[graft.functions.LongArrayDot])))
      assert(baseRes.head() === dot.head())
      // overflow parity: ANSI HOF raises, and so does the rewritten native
      // loop (multiplyExact/addExact) — never a silently wrapped value
      def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
        .takeWhile(_ != null).take(10)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ").toLowerCase
      val big = "SELECT array(shiftleft(id + 1, 62)) AS a, " +
        "array(shiftleft(id + 1, 62)) AS b FROM range(1)"
      assert(msgs(intercept[Exception](
        s.sql(s"SELECT $hof AS d FROM ($big)").collect())).contains("overflow"))
      assert(msgs(intercept[Exception](
        base.sql(s"SELECT $hof AS d FROM ($big)").collect())).contains("overflow"))
      // ---- AsOfJoinStrategy planner injection --------------------------
      // the extension path must plan AsOfJoinPlan with NO imperative
      // strategy registration. AsOfJoin.join would itself call
      // GraftPlanBridge.addStrategy (making the assertion vacuous — round
      // 7 advice), so the logical node is built and planned DIRECTLY via
      // the bridge here, and the session's imperative strategy list is
      // pinned empty of AsOfJoinStrategy before and after: the ONLY way
      // the plan below can execute is through injectPlannerStrategy.
      import s.implicits._
      def noImperative() = assert(
        !s.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy),
        "AsOfJoinStrategy must not be imperatively registered in this test")
      noImperative()
      val lt = Seq((1L, 10L), (1L, 20L)).toDF("k", "t")
      val rt = Seq((1L, 5L, "x"), (1L, 15L, "y")).toDF("rk", "rt", "v")
      val lp = lt.queryExecution.analyzed
      val rp = rt.queryExecution.analyzed
      def att(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
        p.output.find(_.name == n).get
      val asof = org.apache.spark.sql.GraftPlanBridge.ofRows(s,
        graft.plans.AsOfJoinPlan(lp, rp, Seq(att(lp, "k")), Seq(att(rp, "rk")),
          att(lp, "t"), att(rp, "rt")))
      assert(asof.queryExecution.executedPlan.toString.contains("AsOfJoin"))
      assert(asof.select($"t", $"v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == Set((10L, "x"), (20L, "y")))
      noImperative()
    } finally {
      // do NOT s.stop(): that would stop the shared SparkContext;
      // just restore the shared session as default/active for other suites
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("asof_join / interval_join table-valued SQL forms plan the native execs") {
    val base = SparkSpec.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s.implicits._
      // pure-SQL reachability: no imperative strategy registration happens
      // anywhere in this test — the only planning path is the extension
      def noImperative() = assert(
        !s.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy) &&
          !s.experimental.extraStrategies.contains(graft.plans.IntervalJoinStrategy),
        "native join strategies must not be imperatively registered here")
      noImperative()
      Seq((1L, 10L), (1L, 20L), (2L, 7L)).toDF("k", "t")
        .createOrReplaceTempView("lv")
      Seq((1L, 5L, "x"), (1L, 15L, "y"), (2L, 9L, "z")).toDF("rk", "rt", "v")
        .createOrReplaceTempView("rv")

      // ---- asof_join: left-outer, latest right at or before t ----------
      val asof = s.sql("SELECT t, v FROM asof_join('lv','rv','k','rk','t','rt')")
      assert(asof.queryExecution.executedPlan.toString.contains("AsOfJoin"))
      assert(asof.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
        Set((10L, "x"), (20L, "y"), (7L, null)))

      // ---- interval_join: inner, rt in [lo, hi] inclusive ---------------
      Seq((1L, 4L, 16L), (2L, 10L, 20L)).toDF("k", "lo", "hi")
        .createOrReplaceTempView("wv")
      val ivl = s.sql(
        "SELECT k, v FROM interval_join('wv','rv','k','rk','lo','hi','rt')")
      assert(ivl.queryExecution.executedPlan.toString.contains("IntervalJoin"))
      assert(ivl.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
        Set((1L, "x"), (1L, "y")))

      // the SQL forms compose: usable as a subquery feeding further SQL
      val agg = s.sql(
        """SELECT count(v) AS matched
          |FROM asof_join('lv','rv','k','rk','t','rt')""".stripMargin)
      assert(agg.head().getLong(0) === 2L)

      // argument validation surfaces clear errors at analysis time
      def rootMsgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
        .takeWhile(_ != null).take(10)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
      assert(rootMsgs(intercept[Exception](
        s.sql("SELECT * FROM asof_join('lv','rv','k','rk','t')").collect()))
        .contains("expects 6"))
      assert(rootMsgs(intercept[Exception](
        s.sql("SELECT * FROM asof_join('lv','rv','k','rk','t', 42)").collect()))
        .contains("string literal"))
      assert(rootMsgs(intercept[Exception](
        s.sql("SELECT * FROM asof_join('lv','rv','nope','rk','t','rt')")
          .collect())).contains("nope"))
      // documented limitation: sides must be PRE-REGISTERED catalog view
      // names — a missing view fails with the name in the error, and a
      // non-foldable argument (a column reference, not a literal) is
      // rejected at analysis, never silently planned
      assert(rootMsgs(intercept[Exception](
        s.sql("SELECT * FROM asof_join('no_such_view','rv','k','rk','t','rt')")
          .collect())).contains("no_such_view"))
      assert(rootMsgs(intercept[Exception](
        s.sql("SELECT * FROM asof_join(k,'rv','k','rk','t','rt')")
          .collect())).toLowerCase.matches("(?s).*(string literal|unresolved|cannot resolve).*"))
      assert(rootMsgs(intercept[Exception](
        s.sql("SELECT * FROM interval_join('wv','rv','k','rk','lo','hi')")
          .collect())).contains("expects 7"))
      noImperative()
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
