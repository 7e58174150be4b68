package perfbench

import java.sql.Timestamp

import graft.streaming.DocumentStream
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `ingest_stream`: streaming curation. Each round ingests the corpus's
  * documents as seeded micro-batches through `DocumentStream.curateBatch`,
  * against one fresh MinHash index and lake that grow batch by batch. The
  * seed deals the documents into the batches, so near-duplicates fall in
  * the same or in different batches, and dedup runs against the stored
  * side, not just within a batch.
  *
  * Index and lake live on the in-memory store (`benchfs://`, no delay):
  * on local disk, write-latency noise swamped the batch times.
  */
final class IngestStream(spark: SparkSession, rec: Recorder, seed: Long, dataDir: String)
    extends Workload {
  import IngestStream._
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set(s"fs.${BenchFs.Scheme}.impl", classOf[BenchFs].getName)

  private var batches: IndexedSeq[IndexedSeq[Doc]] = IndexedSeq.empty
  private val notes = scala.collection.mutable.Map.empty[String, Seq[Double]]
  private def note(name: String, v: Double): Unit = notes(name) = notes.getOrElse(name, Seq.empty) :+ v

  def generate(): Unit = batches = split(Corpus.documents(spark, dataDir), Batches, seed)

  private def frame(docs: Seq[Doc]): DataFrame =
    docs.map { case (id, text) => (id, text, EventTime) }.toDF("docId", "text", "eventTime")

  /** Ingest `bs` into a fresh index and lake in `bucket`; `timed` makes
    * each batch a timed operation of round `r`.
    */
  private def ingest(bs: Seq[Seq[Doc]], bucket: String, r: Int, timed: Boolean): Unit = {
    BenchFs.clear(bucket)
    val index = s"${BenchFs.Scheme}://$bucket/index"
    val lake = s"${BenchFs.Scheme}://$bucket/lake"
    var landed = 0L
    var input = 0L
    var dups = 0L
    val times = Seq.newBuilder[Double]
    bs.zipWithIndex.foreach { case (docs, b) =>
      def run() = rec.span("streaming", "DocumentStream.curateBatch") {
        DocumentStream.curateBatch(frame(docs), b.toLong, index, lake)
      }
      if (!timed) run()
      else rec.op("batch", s"batch$b", "batch", r)(run()) { rep =>
        val dropped = rep.droppedQuality + rep.droppedRepetition + rep.droppedContamination +
          rep.droppedDuplicate
        if (rep.input != docs.size) Some(s"input ${rep.input}, expected ${docs.size}")
        else if (dropped + rep.landed != rep.input) Some(s"reasons sum to ${dropped + rep.landed} of ${rep.input}")
        else if (b == bs.size - 1 && lakeRows(lake) != landed + rep.landed)
          Some(s"lake holds ${lakeRows(lake)} rows, ${landed + rep.landed} landed")
        else None
      }.foreach { rep =>
        landed += rep.landed
        input += rep.input
        dups += rep.droppedDuplicate
        times += rec.ops.last.durationMs
      }
    }
    if (timed) {
      val ts = times.result()
      ts.foreach(note("streaming.batch_ms", _))
      if (ts.size == bs.size) {
        note("streaming.batch_growth", ts.last / ts.head)
        note("streaming.landed_ratio", landed.toDouble / input)
        note("streaming.dup_drops", dups.toDouble)
        note("streaming.index_bytes", BenchFs.objects(bucket, "/index").values.map(_.toDouble).sum)
      }
    }
  }

  private def lakeRows(lake: String): Long = spark.read.parquet(lake).count()

  /** An untimed round over the first [[WarmDocs]] documents of each
    * batch: the same code paths, warmed at a fraction of a round's cost.
    */
  def warmUp(): Unit = ingest(batches.map(_.take(WarmDocs)), "ingest", -1, timed = false)

  def round(r: Int): Unit = ingest(batches, "ingest", r, timed = true)

  def nominalRoundS: Double = 14.0

  def layer: Map[String, Seq[Double]] = notes.toMap

  override def extra: Map[String, Any] = Map("docs_per_round" -> batches.map(_.size).sum)
}

object IngestStream {
  /** (doc_id, text) */
  type Doc = (Long, String)
  val Batches = 3
  val WarmDocs = 50
  val EventTime: Timestamp = Timestamp.valueOf("2024-07-23 10:00:00")

  /** Seeded deal of the documents into `n` batches of near-equal size,
    * each in doc_id order.
    */
  def split(docs: IndexedSeq[Doc], n: Int, seed: Long): IndexedSeq[IndexedSeq[Doc]] = {
    val dealt = new scala.util.Random(seed).shuffle(docs).zipWithIndex
    (0 until n).map(b => dealt.collect { case (d, i) if i % n == b => d }.sortBy(_._1))
  }
}
