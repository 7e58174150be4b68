package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** `spark.sql.extensions` entry point: registers the engine's native
  * Catalyst expressions at session build, so a deployment enables the whole
  * function surface declaratively —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * or in code: `withExtensions(new GraftExtensions)` on a session builder.
  * Unlike [[graft.functions.VectorExpressions.register]] (the per-session
  * install the query registry runs), extension-injected functions survive
  * `newSession()` and need no library call before first use.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, arity, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        GraftExtensions.builder(name, arity, builder)))
    }
    // portable HOF dot products run through the native codegen'd loop
    ext.injectOptimizerRule(_ => graft.plans.RewriteLongDot)
    // the native AS-OF join operator (custom LogicalPlan -> physical merge)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    // table-valued SQL forms of the two native joins, so pure-SQL users
    // reach the custom operators without the Scala entry points:
    //   SELECT * FROM asof_join('lview', 'rview', 'lkey', 'rkey', 'lts', 'rts')
    //   SELECT * FROM interval_join('lview', 'rview', 'lkey', 'rkey', 'lo', 'hi', 'rts')
    // Sides are named table/view identifiers (resolved eagerly against the
    // active session's catalog — the builder runs mid-resolution, so view
    // names give a fully-analyzed child plan without a second analyzer
    // phase); the remaining string literals name the key/time columns.
    // DOCUMENTED LIMITATION: because resolution is eager-by-name, the
    // sides must be PRE-REGISTERED catalog tables/views — inline subqueries
    // or non-foldable name expressions are rejected at analysis time with
    // the offending argument in the message (error paths pinned in
    // `GraftExtensionsSpec`). Register a temp view first:
    //   CREATE TEMP VIEW l AS SELECT ...; SELECT * FROM asof_join('l', ...)
    ext.injectTableFunction((
      new FunctionIdentifier("asof_join"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "asof_join"),
      (es: Seq[Expression]) => {
        val a = GraftExtensions.stringArgs("asof_join", es, 6)
        val spark = org.apache.spark.sql.SparkSession.active
        graft.plans.AsOfJoin.plan(spark.table(a(0)), spark.table(a(1)),
          a(2), a(3), a(4), a(5))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("interval_join"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "interval_join"),
      (es: Seq[Expression]) => {
        val a = GraftExtensions.stringArgs("interval_join", es, 7)
        val spark = org.apache.spark.sql.SparkSession.active
        graft.plans.IntervalJoin.plan(spark.table(a(0)), spark.table(a(1)),
          a(2), a(3), a(4), a(5), a(6))
      }))
  }
}

object GraftExtensions {

  /** Extract exactly `n` foldable string arguments for a table-valued
    * function, with a clear error naming the argument position otherwise.
    */
  private[graft] def stringArgs(fn: String, es: Seq[Expression], n: Int): Seq[String] = {
    require(es.length == n, s"$fn expects $n string argument(s), got ${es.length}")
    es.zipWithIndex.map {
      case (e, i) =>
        val ok = e.foldable &&
          e.dataType == org.apache.spark.sql.types.StringType &&
          e.eval() != null
        if (!ok) throw new IllegalArgumentException(
          s"$fn argument ${i + 1} must be a non-null string literal, got $e")
        e.eval().toString
    }
  }

  /** `build` behind an arity check naming the function. */
  private[graft] def builder(name: String, arity: Int, build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = es => {
    require(es.length == arity, s"$name expects $arity argument(s), got ${es.length}")
    build(es)
  }

  /** (name, arity, builder) for every native expression the engine ships. */
  val functions: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("long_dot", 2, es => LongArrayDot(es(0), es(1))),
    ("long_l2", 2, es => LongArrayL2(es(0), es(1))),
    ("simhash32", 1, es => LongArraySimHash(es(0))),
    ("shingle3_hash", 1, es => Shingle3Hash(es(0))),
    ("minhash16", 1, es => MinHash16(es(0))),
    ("max_elem_count", 1, es => LongArrayMaxCount(es(0))),
    ("hyperplane_key", 2, es => HyperplaneKey(es(0), es(1))),
    ("hyperplane_key6", 1,
      es => HyperplaneKey(es(0), org.apache.spark.sql.catalyst.expressions.Literal(6))),
    ("zorder2", 2, es => ZOrder2(es(0), es(1))),
    ("audio_fp56", 1, es => AudioFp56(es(0)))
  )
}
