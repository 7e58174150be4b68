package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity guard: each native codegen expression must be bit-identical to its
  * declarative HOF form (which is what the DuckDB oracle mirrors). Runs over
  * real sf0.001 data so array shapes/edge lengths come from the actual
  * corpus.
  */
class VectorExpressionsSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def docsTh = Tables.t(spark, sf, "documents")
    .withColumn("t", expr(tokensS("text")))
    .withColumn("th", expr(tokenHashesS("t")))

  test("shingle3_hash matches the HOF shingle form") {
    val diff = docsTh
      .withColumn("a", expr("shingle3_hash(th)"))
      .withColumn("b", expr(shingleHashesS("th")))
      .filter(expr("a != b"))
      .count()
    assert(diff == 0)
  }

  test("minhash16 matches the HOF minhash signature") {
    val diff = docsTh
      .withColumn("hs", expr("array_distinct(shingle3_hash(th))"))
      .withColumn("a", expr("minhash16(hs)"))
      .withColumn("b", expr(minhashSigS("hs")))
      .filter(expr("a != b"))
      .count()
    assert(diff == 0)
  }

  test("simhash32 matches the two-step HOF form") {
    val diff = docsTh
      .withColumn("bs", expr(simhashBitsS("th")))
      .withColumn("a", expr("simhash32(th)"))
      .withColumn("b", expr(simhashFromBitsS("bs")))
      .filter(expr("a != b"))
      .count()
    assert(diff == 0)
  }

  test("long_dot and long_l2 match HOF folds on quantized embeddings") {
    val e = Tables.t(spark, sf, "embeddings")
      .withColumn("qe", expr(quantizeS("embedding")))
      .withColumn("qr", expr("reverse(qe)"))
    val diff = e
      .withColumn("d1", expr("long_dot(qe, qr)"))
      .withColumn("d2", expr(dotS("qe", "qr")))
      .withColumn("l1", expr("long_l2(qe, qr)"))
      .withColumn("l2", expr(
        "aggregate(zip_with(qe, qr, (x, y) -> (x - y) * (x - y)), cast(0 as bigint), (a, v) -> a + v)"))
      .filter(expr("d1 != d2 OR l1 != l2"))
      .count()
    assert(diff == 0)
  }

  private def hyperplaneHof(planes: Int): String =
    s"aggregate(sequence(0, ${planes - 1}), cast(0 as bigint), (acc, i) -> acc + " +
      s"if(aggregate(sequence(1, size(qe)), cast(0 as bigint), " +
      s"(s2, j) -> s2 + (((i * 37 + j * 101) % 19) - 9) * element_at(qe, j)) > 0, " +
      s"shiftleft(cast(1 as bigint), i), cast(0 as bigint)))"

  test("hyperplane_key6 matches the HOF hyperplane fold") {
    val e = Tables.t(spark, sf, "embeddings")
      .withColumn("qe", expr(quantizeS("embedding")))
    val diff = e
      .withColumn("a", expr("hyperplane_key6(qe)"))
      .withColumn("b", expr(hyperplaneHof(6)))
      .filter(expr("a != b"))
      .count()
    assert(diff == 0)
  }

  test("hyperplane_key(n) matches the HOF fold at scaled plane counts") {
    val e = Tables.t(spark, sf, "embeddings")
      .withColumn("qe", expr(quantizeS("embedding")))
    for (planes <- Seq(1, 10, 14)) {
      val diff = e
        .withColumn("a", expr(s"hyperplane_key(qe, $planes)"))
        .withColumn("b", expr(hyperplaneHof(planes)))
        .filter(expr("a != b"))
        .count()
      assert(diff == 0, s"planes=$planes")
    }
    // a 10-plane key's low 6 bits ARE the 6-plane key (prefix property:
    // adding planes refines buckets, it never reshuffles them)
    val refine = e
      .withColumn("k6", expr("hyperplane_key(qe, 6)"))
      .withColumn("k10", expr("hyperplane_key(qe, 10)"))
      .filter(expr("(k10 & 63) != k6"))
      .count()
    assert(refine == 0)
  }

  test("register is idempotent: a second install keeps every registered entry") {
    val reg = spark.sessionState.functionRegistry
    // the (info, builder) entry: a re-registration writes a fresh info even
    // when the builder lambda is a JVM-cached non-capturing instance
    def entries() = GraftExtensions.functions.map { case (name, _, _) =>
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      name -> reg.lookupFunction(id).zip(reg.lookupFunctionBuilder(id))
    }
    val before = entries()
    assert(before.forall(_._2.isDefined), before.filter(_._2.isEmpty).map(_._1))
    graft.functions.VectorExpressions.register(spark)
    graft.functions.VectorExpressions.register(spark)
    before.zip(entries()).foreach { case ((name, Some((i0, b0))), (_, after)) =>
      val (i1, b1) = after.get
      assert((i1 eq i0) && (b1 eq b0), s"$name was re-registered")
    }
  }

  test("registry rows and curateBatch install the functions on a bare session") {
    import graft.streaming.DocumentStream
    val fresh = spark.newSession()
    assert(!fresh.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("minhash16")))
    val fn = SparkEntry.registry("dedup_ngram_jaccard").fn
    assert(fn(fresh, sf).count() == fn(spark, sf).count())

    val tmp = java.nio.file.Files.createTempDirectory("install").toString
    val bare = spark.newSession()
    val docs = Tables.t(bare, sf, "documents").select(col("doc_id").as("docId"),
      col("text"), to_timestamp(lit("2024-07-23 10:00:00")).as("eventTime"))
    val r = DocumentStream.curateBatch(docs, 0L, s"$tmp/index", s"$tmp/lake")
    assert(r.input == 500L && r.landed > 0L)
    graft.CacheTracker.releaseAll()
  }

  test("planesFor holds bucket occupancy constant as the corpus grows") {
    import graft.analytics.SimilarityQueries.planesFor
    assert(planesFor(1000L) == 6) // small corpora keep the default
    assert(planesFor(2000L) == 6) // the sf0.1 gate corpus stays at 6
    assert(planesFor(128L * 1024) == 10) // 64x sf0.1 = the measured sweet spot
    assert(planesFor(1024L * 1024) == 13)
    assert(planesFor(1024L * 1024 * 32) == 18)
    // 2^k more rows => k more planes (constant occupancy), until the clamp
    assert(planesFor(Long.MaxValue) == 24)
  }
}
