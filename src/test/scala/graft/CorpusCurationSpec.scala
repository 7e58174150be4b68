package graft

import graft.jobs.CorpusCuration
import graft.jobs.CorpusCuration.CurationConfig
import org.scalatest.funsuite.AnyFunSuite

/** Composed curation pipeline: each synthetic document is dropped by exactly
  * the stage built to catch it (first-reason attribution), survivors get
  * scrubbed text, and the report's counts sum to the input.
  */
class CorpusCurationSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  test("each stage drops its target doc; survivors are scrubbed; report sums") {
    import spark.implicits._
    val docs = Seq(
      // benchmark holdout slice (doc_id % 20 == 0)
      (20L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      // low quality: one repeated token, no stopwords, short
      (1L, "x x x x x x x x"),
      // repetitive but quality-passing: top token 5/12 > 0.2
      (2L, "the the the quick brown fox jumps over lazy dog the the"),
      // contaminated: shares the (charlie, delta, echo) trigram with doc 20
      (21L, "the quick charlie delta echo of river stone and mountain is vast to see"),
      // near-dup pair: 30 is the representative, 31 the dropped duplicate
      (30L, "the winter summer autumn spring ocean forest desert tundra and valley is wide"),
      (31L, "the copper silver golden bronze iron marble granite quartz and slate is dense"),
      // near-dup of low-quality doc 1: the cluster's min-id member fails
      // quality, so 33 must become the representative and be KEPT
      (33L, "the ember glacier canyon prairie lagoon mesa is deep and wide of late"),
      // kept, with PII to scrub
      (7L, "the contact is john@example.com or https://example.com/page and call 555-123-4567 now")
    ).toDF("doc_id", "text")
    val pairs = Seq((30L, 31L), (1L, 33L)).toDF("doc_a", "doc_b")

    val (curated, report) = CorpusCuration.curate(docs, pairs)

    assert(report.input == 8)
    assert(report.benchmark == 1)
    assert(report.droppedQuality == 1)
    assert(report.droppedRepetition == 1)
    assert(report.droppedContamination == 1)
    assert(report.droppedDuplicate == 1)
    assert(report.kept == 3)
    assert(report.kept + report.benchmark + report.droppedQuality +
      report.droppedRepetition + report.droppedContamination +
      report.droppedDuplicate == report.input)

    val out = curated.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out.keySet == Set(7L, 30L, 33L))
    val scrubbed = out(7L)
    assert(scrubbed.contains("[EMAIL]") && scrubbed.contains("[URL]") &&
      scrubbed.contains("[PHONE]"))
    assert(!scrubbed.contains("@") && !scrubbed.contains("example.com"))
  }

  test("minContamFrac gates contamination by overlap fraction, not any-hit") {
    import spark.implicits._
    val docs = Seq(
      (20L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      // one shared trigram (charlie delta echo) out of 12 -> frac ~0.083
      (21L, "the quick charlie delta echo of river stone and mountain is vast to see")
    ).toDF("doc_id", "text")
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    def reasonOf(cfg: CorpusCuration.CurationConfig): Option[String] = {
      val r = CorpusCuration.flag(docs, pairs, cfg)
        .filter(org.apache.spark.sql.functions.col("doc_id") === 21L)
        .collect().head
      Option(r.getAs[String]("reason"))
    }
    // default any-hit: the single shared trigram drops it
    assert(reasonOf(CorpusCuration.CurationConfig()) == Some("contamination"))
    // a 10% floor keeps it (frac 0.083333 <= 0.1)
    assert(reasonOf(CorpusCuration.CurationConfig(minContamFrac = 0.1)).isEmpty)
  }

  test("flagWithMinhash (one corpus scan) == flag over externally derived pairs") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, d, "documents")
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "reason").collect()
        .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[String]("reason"))).toMap
    val pairs = graft.analytics.DedupQueries.minhashPairs(spark, d)
      .select("doc_a", "doc_b")
    val external = verdicts(CorpusCuration.flag(docs, pairs))
    val fused = verdicts(CorpusCuration.flagWithMinhash(docs))
    assert(fused == external)
  }

  test("flagWithLabels (store-supplied components) == flag over the same graph's pairs") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, d, "documents")
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "reason").collect()
        .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[String]("reason"))).toMap
    val pairs = graft.analytics.DedupQueries.minhashPairs(spark, d)
      .select("doc_a", "doc_b")
    // labels exactly as the store maintains them: min-id component labels
    // over the verified pair graph
    val labels = graft.operators.ConnectedComponents
      .components(pairs, "doc_a", "doc_b")
      .select(org.apache.spark.sql.functions.col("id").as("doc_id"),
        org.apache.spark.sql.functions.col("lbl"))
    val fromPairs = verdicts(CorpusCuration.flag(docs, pairs))
    val fromLabels = verdicts(CorpusCuration.flagWithLabels(docs, labels))
    assert(fromLabels == fromPairs)
  }

  test("integrates with the MinHash+LSH pair pipeline on real data") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, d, "documents")
    val pairs = graft.analytics.DedupQueries.minhashPairs(spark, d)
      .select("doc_a", "doc_b")
    val (curated, report) = CorpusCuration.curate(docs, pairs)
    assert(report.input == docs.count())
    assert(report.kept > 0 && curated.count() == report.kept)
  }

  test("curated output lands in a layout-optimized lake: pruned, clustered, complete") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, d, "documents")
    val pairs = graft.analytics.DedupQueries.minhashPairs(spark, d)
      .select("doc_a", "doc_b")
    val (curated, report) = CorpusCuration.curate(docs, pairs)
    val dir = java.nio.file.Files.createTempDirectory("curated_lake").toString
    graft.operators.LakeLayout.write(curated, s"$dir/corpus",
      graft.operators.LakeLayout.LayoutConfig(Seq("lang"), Seq(col("quality"))))
    val back = spark.read.parquet(s"$dir/corpus")
    assert(back.count() == report.kept, "write round-trips every kept doc")
    // a training run reading one language prunes every other partition
    val en = back.filter(col("lang") === "en")
    assert(en.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(lang"))
    assert(en.count() == curated.filter(col("lang") === "en").count())
  }

  test("reasonCounts counts a persisted frame per reason in one job") {
    import spark.implicits._
    val flagged = Seq[(Long, Option[String])]((1L, None), (2L, Some("quality")),
      (3L, None), (4L, Some("repetition")), (5L, Some("quality")))
      .toDF("doc_id", "reason").repartition(3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    flagged.count()
    val (counts, jobs) = JobCount.of(spark)(CorpusCuration.reasonCounts(flagged))
    val want = flagged.groupBy("reason").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("kept") -> r.getLong(1)).toMap
    assert(counts == want)
    assert(counts("contamination") == 0L)
    assert(jobs == 1, s"reasonCounts launched $jobs jobs")
    flagged.unpersist()
  }
}
