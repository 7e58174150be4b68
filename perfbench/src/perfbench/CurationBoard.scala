package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{CacheTracker, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** `curation_board`: the heavy registry rows, one pass per round in a
  * seeded order. Each call is split into the `fn(spark, dir)` build
  * (planning plus any eager store or cache work) and the result action,
  * an order-independent digest over every column that is checked against
  * the pinned digest of the row.
  */
final class CurationBoard(spark: SparkSession, rec: Recorder, seed: Long, work: String,
    dataDir: String, expectedPath: Option[String], record: Boolean) extends Workload {
  import CurationBoard._

  private val corpus = s"$work/corpus"
  private val expected: Map[String, String] =
    if (record) Map.empty else expectedPath.map(readDigests).getOrElse(
      throw new IllegalArgumentException("curation_board needs --expected"))
  private val notes = scala.collection.mutable.Map.empty[String, Seq[Double]]
  private def note(name: String, v: Double): Unit = notes(name) = notes.getOrElse(name, Seq.empty) :+ v
  private val firstCallMs = scala.collection.mutable.Map.empty[String, Double]
  val digests = scala.collection.mutable.Map.empty[String, String]

  def generate(): Unit = Corpus.write(dataDir, corpus)

  /** One call of a row: the build, then the digest action. Returns the
    * digest and the build's share in ms.
    */
  private def call(row: String): (String, Double) = {
    val t0 = System.nanoTime()
    val df = rec.span("analytics", s"build:$row")(SparkEntry.registry(row).fn(spark, corpus))
    val buildMs = (System.nanoTime() - t0) / 1e6
    try (rec.span("analytics", s"exec:$row")(digest(df)), buildMs)
    finally CacheTracker.releaseAll()
  }

  def warmUp(): Unit = Rows.foreach { case (row, _) =>
    val t0 = System.nanoTime()
    try digests(row) = call(row)._1 catch {
      case scala.util.control.NonFatal(e) => System.err.println(s"[perfbench] warm-up $row: $e")
    }
    firstCallMs(row) = (System.nanoTime() - t0) / 1e6
  }

  def round(r: Int): Unit = {
    val order = new scala.util.Random(seed * 1000003L + r).shuffle(Rows)
    order.foreach { case (row, group) =>
      rec.op("row", row, group, r)(call(row)) { case (got, _) =>
        if (record) { digests(row) = got; None }
        else if (!expected.get(row).contains(got)) Some(s"digest $got, expected ${expected.get(row)}")
        else None
      }.foreach { case (_, buildMs) =>
        note(s"analytics.$row.build_ms", buildMs)
        note(s"analytics.$row.exec_ms", rec.ops.last.durationMs - buildMs)
      }
    }
  }

  override def extra: Map[String, Any] = if (record) Map("digests" -> digests.toMap) else Map.empty

  def nominalRoundS: Double = 6.0

  def layer: Map[String, Seq[Double]] = {
    // store build: a row's first call minus its warm calls
    val builds = firstCallMs.toSeq.flatMap { case (row, first) =>
      val warm = notes.get(s"analytics.$row.build_ms").zip(notes.get(s"analytics.$row.exec_ms"))
        .map { case (b, e) => median(b.zip(e).map { case (x, y) => x + y }) }
      warm.map(w => math.max(0.0, first - w))
    }
    notes.toMap ++ Map("stores.build_ms" -> Seq(builds.sum)) ++ storeBytes(work)
  }
}

object CurationBoard {
  /** The rows, by group: pair generation, text scoring, local tiers. */
  val Rows: Seq[(String, String)] =
    Seq("dedup_ngram_jaccard", "dedup_exact_substr").map(_ -> "pairs") ++
      Seq("txt_bm25_indexed").map(_ -> "text") ++
      Seq("graph_pagerank").map(_ -> "local")

  /** Persistent store roots the rows build, keyed under `java.io.tmpdir`. */
  val StoreKinds: Seq[String] = Seq("text-index", "dupgraph")

  /** Order-independent digest over every column: row count and the sum of
    * per-row 64-bit hashes. Every column feeds the hash, so no column (or
    * the aggregate behind it) can be pruned the way a bare `count()` lets
    * the optimizer prune them.
    */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      // hashing maps is not supported: hash their sorted entries instead
      if (f.dataType.isInstanceOf[MapType]) array_sort(map_entries(c)) else c
    }
    val hashed = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val row = df.select(hashed.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head()
    s"${row.getLong(0)}:${row.getDecimal(1).toPlainString}"
  }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def readDigests(path: String): Map[String, String] = {
    val text = Files.readString(Paths.get(path))
    "\"([a-z0-9_]+)\"\\s*:\\s*\"([0-9:\\-]+)\"".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Bytes on disk per store kind under the run's temp dir. */
  def storeBytes(work: String): Map[String, Seq[Double]] = StoreKinds.map { kind =>
    val root = Paths.get(work, s"graft-$kind")
    val bytes =
      if (!Files.exists(root)) 0L
      else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    s"stores.bytes.$kind" -> Seq(bytes.toDouble)
  }.toMap
}
