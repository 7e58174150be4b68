package graft

import graft.analytics.DedupQueries
import graft.functions.TextFunctions._
import graft.operators.ConnectedComponents
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The silent-recall-at-scale guard for the MinHash+LSH family: a dup
  * clique LARGER than BandBucketCap lands every one of its band buckets
  * over the cap, and round-5's anti-join dropped those buckets wholesale —
  * a 50+-way-duplicated boilerplate cluster (the most common real-world dup
  * shape) produced zero pairs and never clustered. The bounded-star
  * emission must keep exactly that shape clustering at O(bucket) cost.
  */
class DedupHotBucketSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  /** The same doc_id+hs projection shape minhashPairsFrom consumes
    * (DedupQueries.withShingles minus the token count).
    */
  private def shingles(docs: DataFrame): DataFrame = {
    docs
      .withColumn("t", expr(tokensS("text")))
      .withColumn("th", expr(tokenHashesS("t")))
      .withColumn("hs", expr("array_distinct(shingle3_hash(th))"))
      .select(col("doc_id"), col("hs"))
  }

  private val boilerplate =
    "this content is provided as is without warranty of any kind either " +
      "express or implied including but not limited to the implied warranties " +
      "of merchantability and fitness for a particular purpose"

  test("a 64-copy clique above BandBucketCap still reaches one cluster") {
    import spark.implicits._
    assert(64 > DedupQueries.BandBucketCap)
    val clique = (0L until 64L).map(i => (i, boilerplate))
    // distinct tails so the unique docs share no shingle with each other
    // or the clique
    val unique = (100L until 110L).map(i =>
      (i, s"wholly distinct document number $i about topic ${i * 7} " +
        s"with unrelated content token${i}a token${i}b token${i}c token${i}d"))
    val docs = (clique ++ unique).toDF("doc_id", "text")

    val pairs = DedupQueries.minhashPairsFrom(shingles(docs))
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

    // every band bucket of the clique is over the cap, so candidates come
    // from the star alone: rep 0 paired with each of the 63 members
    assert(pairs.length == 63)
    assert(pairs.forall { case (a, b) => a == 0L && b >= 1L && b <= 63L })

    val comp = ConnectedComponents
      .components(DedupQueries.minhashPairsFrom(shingles(docs))
        .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // one cluster holding all 64 members, labeled by its min id
    assert(comp.length == 64)
    assert(comp.forall(_._2 == 0L))
    CacheTracker.releaseAll()
  }

  test("under-cap buckets keep full all-pairs emission") {
    import spark.implicits._
    // a 4-copy clique, well under the cap: all 6 pairs must emerge, not a star
    val docs = ((0L until 4L).map(i => (i, boilerplate)) ++
      Seq((50L, "entirely different text about gardens rivers and mountain trails today"))
      ).toDF("doc_id", "text")
    val pairs = DedupQueries.minhashPairsFrom(shingles(docs))
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (for { a <- 0L until 4L; b <- a + 1 until 4L } yield (a, b)).toSet)
    CacheTracker.releaseAll()
  }
}
