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
