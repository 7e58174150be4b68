package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The integer vector format every ANN row and vector store reads, and the
  * exact-ranking harness the recall rows measure against.
  *
  * Format: each `embedding` lane quantizes to round(x*1e6) BIGINT (`qe`),
  * so dots, norms (`nrm`) and L2² distances are exact integers, and the
  * one floating-point division per cosine is identical IEEE in Spark and
  * DuckDB. [[IvfIndex]], [[PqIndex]], [[SqIndex]] and the ANN and
  * embedding-dedup rows all project through [[of]] / [[normed]], so a
  * stored vector and a recomputed one are the same integers by
  * construction.
  *
  * Harness: the probe side is the first `nq` vectors of a projection,
  * renamed to `q_id` plus the columns a [[Metric]] reads (`qa`, `na`); it
  * broadcasts against the corpus projection, so ground truth is one
  * corpus stream however large the corpus. Every ranking partitions by
  * `q_id` and breaks score ties on `vec_id`, the oracles' ORDER BY.
  */
object QuantizedVectors {

  /** (vec_id, `carry`…, qe): `emb` spread over the session's cores by
    * vec_id, its `embedding` quantized.
    */
  def of(emb: DataFrame, carry: String*): DataFrame = {
    graft.functions.VectorExpressions.register(emb.sparkSession)
    val qe = expr(graft.functions.TextFunctions.quantizeS("embedding")).as("qe")
    graft.Tables.spread(emb, "vec_id")
      .select((col("vec_id") +: carry.map(col)) :+ qe: _*)
  }

  /** [[of]] plus the exact squared norm `nrm`. */
  def normed(emb: DataFrame, carry: String*): DataFrame =
    of(emb, carry: _*).withColumn("nrm", expr("long_dot(qe, qe)"))

  /** How a probe vector scores a corpus vector: the column `name` that
    * holds `score`, its best-first order, and the probe-side columns the
    * score reads, renamed from the projection's.
    */
  final case class Metric(name: String, score: Column, best: Column, probe: Seq[Column])

  /** Exact cosine over [[normed]] vectors, descending. */
  val Cosine = Metric("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"),
    col("c").desc, Seq(col("qe").as("qa"), col("nrm").as("na")))

  /** Exact L2² over [[of]] vectors, ascending. */
  val L2 = Metric("dist", expr("long_l2(qa, qe)"), col("dist").asc, Seq(col("qe").as("qa")))

  /** The first `nq` vectors of projection `n` as (q_id, `cols`…). */
  def probes(n: DataFrame, nq: Int, cols: Column*): DataFrame =
    n.filter(col("vec_id") < nq).select(col("vec_id").as("q_id") +: cols: _*)

  /** Each probe against every other corpus vector, the probes broadcast. */
  def allPairs(queries: DataFrame, n: DataFrame): DataFrame =
    broadcast(queries).join(n, col("vec_id") =!= col("q_id"))

  /** `scored` numbered `rn` per q_id by `order` then vec_id, the first `k`
    * kept.
    */
  def firstK(scored: DataFrame, k: Int, order: Column, rn: String = "rn"): DataFrame =
    scored
      .withColumn(rn, row_number().over(
        Window.partitionBy(col("q_id")).orderBy(order, col("vec_id"))))
      .filter(col(rn) <= k)

  /** `pairs` scored by `m`, each probe's best `k` kept. */
  def topK(pairs: DataFrame, k: Int, m: Metric = Cosine, rn: String = "rn"): DataFrame =
    firstK(pairs.withColumn(m.name, m.score), k, m.best, rn)

  /** Ground truth: each probe's exact top `k` over `n`, (q_id, vec_id). */
  def exactTopK(queries: DataFrame, n: DataFrame, k: Int, m: Metric = Cosine): DataFrame =
    topK(allPairs(queries, n), k, m).select(col("q_id"), col("vec_id"))

  /** Recall of each `(suffix, hits)` frame against `truth`: the truth rows
    * each hit frame contains, counted per truth key other than vec_id, as
    * `n_hits<suffix>` and `recall<suffix>` = hits / `k` floor-rounded to
    * 1e-6.
    */
  def recall(truth: DataFrame, k: Int, hits: (String, DataFrame)*): DataFrame = {
    val keys = truth.columns.toSeq
    val groups = keys.filter(_ != "vec_id").map(col)
    val counts = hits.map { case (sfx, _) => count(col(s"hit$sfx")).as(s"n_hits$sfx") }
    val counted = hits
      .foldLeft(truth) { case (t, (sfx, h)) =>
        t.join(h.withColumn(s"hit$sfx", lit(1)), keys, "left")
      }
      .groupBy(groups: _*)
      .agg(counts.head, counts.tail: _*)
    hits
      .foldLeft(counted) { case (df, (sfx, _)) =>
        df.withColumn(s"recall$sfx", expr(s"floor(n_hits$sfx / $k * 1e6 + 0.5) / 1e6"))
      }
      .select(groups ++ hits.flatMap { case (sfx, _) =>
        Seq(col(s"n_hits$sfx"), col(s"recall$sfx"))
      }: _*)
      .orderBy(groups: _*)
  }

  /** Recall@5 of an ANN ranking `ranked` (q_id, vec_id, rn) for the first
    * `nq` probes of `n`, against `m`'s exact top 5: the ranking's own top
    * 5 (`n_hits`, `recall`) and the top 5 after an exact `m` rerank of
    * its 50-deep shortlist (`n_hits_rr`, `recall_rr`) — full vectors for
    * the shortlist members only, never a corpus pass.
    */
  def rerankRecall(ranked: DataFrame, n: DataFrame, nq: Int, m: Metric = Cosine): DataFrame = {
    val queries = probes(n, nq, m.probe: _*)
    val reranked = topK(ranked.filter(col("rn") <= 50)
        .select(col("q_id"), col("vec_id"))
        .join(n, "vec_id")
        .join(broadcast(queries), "q_id"), 5, m, "rn2")
      .select(col("q_id"), col("vec_id"))
    recall(exactTopK(queries, n, 5, m), 5,
      "" -> ranked.filter(col("rn") <= 5).select(col("q_id"), col("vec_id")),
      "_rr" -> reranked)
  }

  /** Recall@10 of a `proxy` shortlist with exact-cosine rerank, at
    * shortlist depths 10/50/100/200, over the first 5 probes of `n` (a
    * [[normed]] projection carrying the columns `proxy` reads): every
    * corpus vector is ranked both by exact cosine (`fr`) and by the proxy
    * (`pr`) in one broadcast-probe pass; each depth's shortlist is then
    * reranked by exact cosine on at most depth × 5 rows. Output (depth,
    * n_overlap, recall).
    */
  def shortlistRecall(n: DataFrame, proxy: Metric): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
    val joined = allPairs(probes(n, 5, Cosine.probe ++ proxy.probe: _*), n)
      .withColumn("cf", Cosine.score)
      .withColumn(proxy.name, proxy.score)
      .withColumn("fr", row_number().over(w.orderBy(col("cf").desc, col("vec_id"))))
      .withColumn("pr", row_number().over(w.orderBy(proxy.best, col("vec_id"))))
      .select(col("q_id"), col("vec_id"), col("cf"), col("fr"), col("pr"))
      .filter(col("fr") <= 10 || col("pr") <= 200)
    val depths = joined.sparkSession.range(0, 1).selectExpr(
      "explode(array(10, 50, 100, 200)) as depth")
    val rerank = joined.crossJoin(broadcast(depths))
      .filter(col("pr") <= col("depth"))
      .withColumn("rr", row_number().over(
        Window.partitionBy(col("q_id"), col("depth"))
          .orderBy(col("cf").desc, col("vec_id"))))
      .filter(col("rr") <= 10)
      .select(col("depth"), col("q_id"), col("vec_id"), lit(1L).as("hit"))
    joined.filter(col("fr") <= 10)
      .select(col("q_id"), col("vec_id"))
      .crossJoin(broadcast(depths))
      .join(rerank, Seq("depth", "q_id", "vec_id"), "left")
      .groupBy(col("depth"))
      .agg(sum(coalesce(col("hit"), lit(0L))).cast("bigint").as("n_overlap"))
      .withColumn("recall", expr("floor(n_overlap / 50 * 1e6 + 0.5) / 1e6"))
      .orderBy(col("depth"))
  }
}
