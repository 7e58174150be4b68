package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the skew-split equivalence txt_perplexity's docs claim: the
  * hot-vocab broadcast leg and the cold shuffle leg are disjoint and
  * their union is exactly the plain token→cost join, for ANY split
  * point — the registry runs hotK = HotVocab (which swallows the whole
  * tiny-corpus vocabulary, all-broadcast), so this spec forces the
  * degenerate splits the production Zipf corpus actually exercises:
  * hotK = 1 (everything but the top token takes the tail path) and
  * hotK = 0 (pure tail).
  */
class TextQueriesSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(hotK: Int): Map[Long, (Long, Long)] = {
    val out = graft.analytics.TextQueries.perplexityFor(spark, sf, hotK)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    CacheTracker.releaseAll()
    out
  }

  test("hot/tail split equals the plain join at every split point") {
    // plain-join reference: same arithmetic, no split
    val docs = Tables.t(spark, sf, "documents")
    val tok = docs.select(col("doc_id"),
      explode(expr(graft.functions.TextFunctions.tokensS("text"))).as("w"))
    val cnt = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("total"))
    val cost = cnt.crossJoin(broadcast(tot))
      .select(col("w"),
        expr("cast(floor(ln(cast(total as double) / c) * 1e6) as bigint)").as("cm"))
    val plain = tok.join(cost, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("cm")).as("sc"))
      .select(col("doc_id"), col("n_tok"), expr("sc div n_tok").as("xent_micro"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(plain.nonEmpty)

    val full = run(graft.analytics.TextQueries.HotVocab) // all-broadcast
    val tail1 = run(1) // all-but-one token through the tail
    val tail0 = run(0) // pure tail
    assert(full == plain, "registry split diverged from the plain join")
    assert(tail1 == plain, "hotK=1 diverged from the plain join")
    assert(tail0 == plain, "hotK=0 diverged from the plain join")
  }

  test("distill local training tier == distributed per-round aggregates") {
    import spark.implicits._
    val NF = 6
    val rnd = new scala.util.Random(20260817L)
    // synthetic confident-slice rows in the query's micro-unit ranges
    val rows = Array.fill(400)(Array.tabulate(NF + 1) {
      case 0 => if (rnd.nextBoolean()) 1L else 0L
      case 1 => 1000000L // x0 bias term, as the query builds it
      case _ => rnd.nextInt(1000001).toLong
    })
    val local = graft.analytics.TextQueries.distillTrainLocal(rows, NF, iters = 16)

    // the query's distributed tier
    val tr = rows.toSeq.map(r => (r(0), r(1), r(2), r(3), r(4), r(5), r(6)))
      .toDF("y", "x0", "x1", "x2", "x3", "x4", "x5")
    val pocket = graft.analytics.TextQueries.distillTrainDistributed(tr, NF, iters = 16)
    assert(local.toSeq == pocket.toSeq,
      s"tiers diverged: local=${local.toSeq} distributed=${pocket.toSeq}")
  }
}
