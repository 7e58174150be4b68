package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.MinHashIndex
import graft.streaming.DocumentStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.StringSplit
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** What the stream batch bodies (`DocumentStream.ingestBatch`,
  * `curateBatch`) land, pinned against the definitions they must agree
  * with, and how often a batch tokenizes a document.
  */
object StreamPins {

  /** The lake schema a stream batch lands, read back with its partition
    * columns: the source row, the score columns, then `day` and
    * `batch_id`.
    */
  val LakeSchema: Seq[String] = Seq(
    "docId BIGINT", "text STRING", "eventTime TIMESTAMP", "n_tokens INT",
    "stop_ratio DOUBLE", "distinct_ratio DOUBLE", "len_score DOUBLE",
    "quality DOUBLE", "day DATE", "batch_id INT")

  def lakeSchema(spark: SparkSession, lake: String): Seq[String] =
    spark.read.parquet(lake).schema.fields.toSeq.map(f => s"${f.name} ${f.dataType.sql}")

  private val ScoreCols = Seq("n_tokens", "stop_ratio", "distinct_ratio", "len_score", "quality")

  /** (docId → score columns) of a frame with `docId` and [[ScoreCols]]. */
  def scores(df: DataFrame): Map[Long, Seq[Any]] =
    df.select((col("docId") +: ScoreCols.map(col)): _*).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap

  /** Every landed row's scores beside `DocumentStream.scored` over the raw
    * text of the same docs (`raw`: docId, text, eventTime).
    */
  def landedVsScored(spark: SparkSession, lake: String, raw: DataFrame)
      : (Map[Long, Seq[Any]], Map[Long, Seq[Any]]) = {
    import spark.implicits._
    val landed = scores(spark.read.parquet(lake))
    val expected = scores(DocumentStream.scored(
      raw.filter(col("docId").isin(landed.keys.toSeq: _*)).as[DocumentStream.DocEvent]))
    (landed, expected)
  }

  /** Signature rows (doc_id, hs, sig, n_tok) as comparable values. */
  def sigRows(df: DataFrame): Set[(Long, Seq[Long], Seq[Long], Int)] =
    df.select("doc_id", "hs", "sig", "n_tok").collect().map(r =>
      (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2), r.getInt(3))).toSet

  /** The index rows of batch `batchId` beside `MinHashIndex.signatureRows`
    * over the raw text of the same docs.
    */
  def indexedVsSigned(spark: SparkSession, idx: String, batchId: Long, raw: DataFrame)
      : (Set[(Long, Seq[Long], Seq[Long], Int)], Set[(Long, Seq[Long], Seq[Long], Int)]) = {
    val indexed = sigRows(MinHashIndex.signatures(spark, idx).filter(col("batch_id") === batchId))
    val ids = indexed.map(_._1).toSeq
    val signed = sigRows(MinHashIndex.signatureRows(
      raw.filter(col("docId").isin(ids: _*)).select(col("docId").as("doc_id"), col("text"))))
    (indexed, signed)
  }

  /** The most tokenizing operators (a `split` of text into tokens) that
    * one lineage of `body`'s executed plans stacks: along every path from
    * a plan's root to a leaf, descending into each cached relation's own
    * plan. 1 means every document was tokenized once on its way to each
    * output; more means some output re-tokenized a document that an
    * upstream cache had already tokenized. A projection over an in-memory `Seq`
    * is evaluated by the optimizer, not in a plan, so `body` should read
    * a source that is not a local relation.
    */
  def tokenizationsPerLineage(spark: SparkSession)(body: => Unit): Int = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val marker = s"tokenizations-${java.util.UUID.randomUUID()}"
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus delivers in order: once the marker query is seen,
      // every query of `body` has been seen too
      spark.range(1).select(lit(marker)).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.asScala.exists(_.toString.contains(marker)) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(plans.asScala.exists(_.toString.contains(marker)), "listener never saw the marker query")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.map(tokenizations).max
  }

  private def tokenizations(p: SparkPlan): Int = {
    val own = if (p.expressions.exists(_.exists(_.isInstanceOf[StringSplit]))) 1 else 0
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children
    }
    own + below.map(tokenizations).maxOption.getOrElse(0)
  }
}
