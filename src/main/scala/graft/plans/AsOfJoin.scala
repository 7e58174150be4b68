package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native AS-OF join — the whole-operator (c)-tier extension shape: a
  * custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`, because Spark's
  * built-in operators cannot express "for each left row, the single
  * latest right row at or before its timestamp" without a union+window
  * contortion that shuffles BOTH relations into one sort and carries every
  * right column through a window state (`evt_asof_last_click` documents
  * that form). The native operator is the shape a time-series engine
  * ships:
  *
  *   - declares `ClusteredDistribution` on the join keys for both
  *     children, so Catalyst's `EnsureRequirements` co-partitions the two
  *     sides exactly as it would a shuffled equi-join (hash exchange on
  *     the keys — at 100 TB the only data movement is the same shuffle a
  *     plain join pays, no union of the relations);
  *   - declares per-child `(keys, time)` orderings, so the sorts are
  *     planner-inserted (spillable `SortExec`, reusable by downstream
  *     operators via `outputOrdering`);
  *   - executes as ONE forward merge pass per partition: a single right
  *     cursor advances monotonically, keeping the latest right row at or
  *     before the current left row's time — O(|L| + |R|) per partition,
  *     zero per-row search, constant state (the 1-row match buffer).
  *
  * Semantics: left outer, backward-looking (`right.time <= left.time`),
  * nulls on no match; ties on right time resolve to the LAST right row in
  * `(key, time)` sort order, so callers wanting determinism under
  * duplicate timestamps dedup the right side first (the registry query
  * keeps max event_id per (key, ts) in both engines). Times are ordered
  * longs under the hood (timestamp/long columns). Nulls follow SQL join
  * semantics (= DuckDB's native ASOF JOIN): a NULL key equals nothing —
  * null-keyed left rows emit the null-right row, null-keyed right rows
  * match no one — and a NULL time makes the as-of predicate unknown, so a
  * null-time left row emits null-right and a null-time right row is
  * skipped (`AsOfJoinSpec`'s null matrix pins all four).
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]; injected via
  * [[AsOfJoin.join]] (session `experimental.extraStrategies`) or
  * [[graft.GraftExtensions]].
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // the same contract ShuffledJoin declares: cluster both children on
  // their keys and let EnsureRequirements make the exchanges compatible
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOutput = left.output
    val rOutput = right.output
    val fullOutput = output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOutput)
      val rKeyProj = UnsafeProjection.create(rKeys, rOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val ltBound = BindReferences.bindReference(lTime, lOutput)
      val rtBound = BindReferences.bindReference(rTime, rOutput)
      val nullRight = new GenericInternalRow(rOutput.length)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(fullOutput, fullOutput)

      new Iterator[InternalRow] {
        private var rHead: InternalRow = _
        private var rHeadKey: UnsafeRow = _
        private var lastMatch: InternalRow = _
        private var lastMatchKey: UnsafeRow = _

        // SQL join semantics: a NULL key equals nothing, so null-keyed
        // right rows can never match — skip them wherever the cursor
        // meets them (with ascending nulls-first child ordering they sit
        // at the head of their prefix group, so skipping keeps the merge
        // monotone). The natural ordering below would otherwise treat
        // NULL = NULL as a match, which no equi-join does.
        private def advanceRight(): Unit = {
          var settled = false
          while (!settled) {
            if (rIter.hasNext) {
              rHead = rIter.next()
              rHeadKey = rKeyProj(rHead).copy()
              settled = !rHeadKey.anyNull
            } else { rHead = null; rHeadKey = null; settled = true }
          }
        }

        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l).copy()
          // NULL left key or NULL left time: the as-of predicate is
          // unknown for every right row — left-outer semantics emit the
          // null-right row (previously a null time silently unboxed to
          // 0L). The right cursor is not moved: null-first ordering puts
          // these rows before their group's real work.
          val ltEval = ltBound.eval(l)
          if (lk.anyNull || ltEval == null) return resultProj(joined(l, nullRight))
          val lt = ltEval.asInstanceOf[Long]
          // a match buffered for an earlier key can never serve this one
          if (lastMatchKey != null && keyOrd.compare(lastMatchKey, lk) != 0) {
            lastMatch = null; lastMatchKey = null
          }
          // single forward pass: consume right rows up to (key, time)
          var continue = rHead != null
          while (continue) {
            val c = keyOrd.compare(rHeadKey, lk)
            if (c < 0) { advanceRight(); continue = rHead != null }
            else if (c == 0) {
              val rtEval = rtBound.eval(rHead)
              if (rtEval == null) {
                // null right time never satisfies rt <= lt — skip, don't
                // stall the cursor behind an unmatched row
                advanceRight(); continue = rHead != null
              } else if (rtEval.asInstanceOf[Long] <= lt) {
                lastMatch = rHead.copy(); lastMatchKey = rHeadKey
                advanceRight(); continue = rHead != null
              } else continue = false
            } else continue = false
          }
          val r =
            if (lastMatch != null && keyOrd.compare(lastMatchKey, lk) == 0) lastMatch
            else nullRight
          resultProj(joined(l, r))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** Public entry point: `AsOfJoin.join(clicks, views, "user_id", "v_user",
  * "click_ts", "view_ts")` — resolves the named columns against each
  * side's analyzed output and hands Catalyst the logical node; the
  * planner strategy is registered on the session idempotently.
  */
object AsOfJoin {

  /** Build the logical node from the two sides' ANALYZED plans — shared
    * by [[join]] and the `asof_join(...)` SQL table-valued form
    * registered through [[graft.GraftExtensions]].
    */
  def plan(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): LogicalPlan = {
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def res(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in [${p.output.map(_.name).mkString(", ")}]"))
    AsOfJoinPlan(lp, rp, Seq(res(lp, leftKey)), Seq(res(rp, rightKey)),
      res(lp, leftTime), res(rp, rightTime))
  }

  def join(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
    GraftPlanBridge.addStrategy(spark, AsOfJoinStrategy)
    GraftPlanBridge.ofRows(spark,
      plan(left, right, leftKey, rightKey, leftTime, rightTime))
  }
}
