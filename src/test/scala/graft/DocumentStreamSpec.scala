package graft

import java.sql.Timestamp

import graft.streaming.DocumentStream
import graft.streaming.DocumentStream.DocEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming document pipeline: exact dedup drops re-crawls across
  * micro-batches while distinct content passes; scoring matches the batch
  * quality constants; windowed stats aggregate by event time.
  */
class DocumentStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def doc(id: Long, text: String, t: String) =
    DocEvent(id, text, Timestamp.valueOf(t))

  test("exact dedup drops same-content docs across micro-batches, keeps distinct") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[DocEvent]
    val q = DocumentStream.dedupExact(ms.toDS())
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      ms.addData(doc(1, "alpha beta gamma", "2024-07-23 10:00:00"))
      q.processAllAvailable()
      // same content (modulo trim), later micro-batch, inside the horizon
      ms.addData(
        doc(2, "  alpha beta gamma ", "2024-07-23 10:01:00"),
        doc(3, "delta epsilon", "2024-07-23 10:02:00"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT docId FROM dd ORDER BY docId")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 3L))
    } finally q.stop()
  }

  test("streaming quality scores equal the batch txt_quality_score form") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[DocEvent]
    val q = DocumentStream.scored(ms.toDS())
      .writeStream.format("memory").queryName("sc").outputMode("append").start()
    try {
      // 4 tokens, one stopword, all distinct, 20 chars
      ms.addData(doc(7, "the quick brown fox!", "2024-07-23 10:00:00"))
      q.processAllAvailable()
      val r = spark.sql(
        "SELECT n_tokens, stop_ratio, distinct_ratio, len_score, quality FROM sc").head
      assert(r.getInt(0) == 4)
      assert(r.getDouble(1) == 0.25)
      assert(r.getDouble(2) == 1.0)
      assert(r.getDouble(3) == 0.05)
      // 0.3*0.25 + 0.4*1.0 + 0.3*0.05 = 0.49
      assert(r.getDouble(4) == 0.49)
    } finally q.stop()
  }

  test("streaming LSH flags a near-dup arriving in a later micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[DocEvent]
    val q = DocumentStream.nearDupPairs(ms.toDS())
      .writeStream.format("memory").queryName("nd").outputMode("append").start()
    try {
      val text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
      ms.addData(
        doc(1, text, "2024-07-23 10:00:00"),
        doc(5, "one two three four five six seven eight nine ten eleven twelve", "2024-07-23 10:00:05"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM nd").count() == 0)

      // identical content arrives later: every band collides, est = 1.0
      ms.addData(doc(9, text, "2024-07-23 10:01:00"))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT DISTINCT docA, docB, estJaccard FROM nd")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(pairs == Seq((1L, 9L, 1.0)))
    } finally q.stop()
  }

  test("windowed corpus stats aggregate by event time") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[DocEvent]
    val q = DocumentStream.windowedCorpusStats(ms.toDS())
      .writeStream.format("memory").queryName("ws").outputMode("complete").start()
    try {
      ms.addData(
        doc(1, "one two three", "2024-07-23 10:05:00"),
        doc(2, "four five", "2024-07-23 10:40:00"),
        doc(3, "six", "2024-07-23 11:10:00"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window.start, n_docs, total_tokens FROM ws ORDER BY 1").collect()
      assert(rows.map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2))).toSeq == Seq(
        ("2024-07-23 10:00:00.0", 2L, 5L),
        ("2024-07-23 11:00:00.0", 1L, 1L)))
    } finally q.stop()
  }

  test("toLake appends deduped, scored micro-batches into the partitioned lake") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("doc_lake").toString
    val ms = MemoryStream[DocEvent]
    val q = DocumentStream.toLake(ms.toDS(), s"$dir/lake", s"$dir/ckpt")
    try {
      ms.addData(
        doc(1, "alpha beta gamma", "2024-07-23 10:00:00"),
        doc(2, "delta epsilon zeta", "2024-07-24 09:00:00"))
      q.processAllAvailable()
      // second micro-batch: one re-crawl (dropped), one new doc
      ms.addData(
        doc(3, "alpha beta gamma", "2024-07-23 10:03:00"),
        doc(4, "eta theta iota", "2024-07-24 11:00:00"))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/lake")
      assert(back.select("docId").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L, 4L), "dedup applied before the lake append")
      assert(back.columns.contains("quality"), "scored before landing")
      // day partitioning is live: one directory per event day, pruned reads
      val days = new java.io.File(s"$dir/lake").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted
      assert(days.toSeq == Seq("day=2024-07-23", "day=2024-07-24"))
      val plan = spark.read.parquet(s"$dir/lake")
        .filter(org.apache.spark.sql.functions.col("day") === "2024-07-24")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(day"))
    } finally q.stop()
  }

  test("streaming LSH near-dup pairs match batch dedup_minhash_lsh on the same corpus") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    // stream the whole corpus in two micro-batches (cross-batch state is the
    // point); threshold 0 emits EVERY banded candidate so the batch side's
    // exact-Jaccard >= 0.5 rule can be applied identically afterwards
    val corpus = Tables.t(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => DocEvent(r.getLong(0), r.getString(1),
        java.sql.Timestamp.valueOf("2024-07-23 10:00:00")))
    val ms = MemoryStream[DocEvent]
    val q = DocumentStream.nearDupPairs(ms.toDS(), simThreshold = 0.0, bucketCap = 10000)
      .writeStream.format("memory").queryName("parity_pairs").outputMode("append").start()
    try {
      val (first, second) = corpus.splitAt(corpus.length / 2)
      ms.addData(first.toSeq: _*); q.processAllAvailable()
      ms.addData(second.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val cand = spark.sql("SELECT DISTINCT docA AS doc_a, docB AS doc_b FROM parity_pairs")
    // exact verification — the same hs + Jaccard >= 0.5 rule minhashPairs uses
    val sh = Tables.t(spark, sf, "documents")
      .withColumn("t", expr(tokensS("text")))
      .withColumn("hs", expr(s"array_distinct(shingle3_hash(${tokenHashesS("t")}))"))
      .select("doc_id", "hs")
    val streamed = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .withColumn("j", expr("size(array_intersect(ha, hb)) / size(array_union(ha, hb))"))
      .filter(col("j") >= 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.analytics.DedupQueries.minhashPairs(spark, sf)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
    assert(batch.nonEmpty, "corpus should contain planted near-dups")
  }

  test("landBatch replay with the same batch id is idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("doc_lake_replay").toString
    val batch = DocumentStream.scored(Seq(
      doc(1, "alpha beta gamma", "2024-07-23 10:00:00"),
      doc(2, "delta epsilon zeta", "2024-07-24 09:00:00")).toDS())
    DocumentStream.landBatch(batch, 7L, s"$dir/lake", 0.0)
    // a replayed micro-batch rewrites exactly its own batch_id partitions
    // (dynamic overwrite) instead of appending duplicates
    DocumentStream.landBatch(batch, 7L, s"$dir/lake", 0.0)
    assert(spark.read.parquet(s"$dir/lake").count() == 2)
    // a NEW batch id still lands alongside, untouched by later replays
    val next = DocumentStream.scored(Seq(
      doc(3, "eta theta iota", "2024-07-24 11:00:00")).toDS())
    DocumentStream.landBatch(next, 8L, s"$dir/lake", 0.0)
    DocumentStream.landBatch(batch, 7L, s"$dir/lake", 0.0)
    val back = spark.read.parquet(s"$dir/lake")
    assert(back.select("docId").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }
}
