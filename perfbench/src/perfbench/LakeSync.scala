package perfbench

import java.util.SplittableRandom

import graft.functions.InstantFunctions
import graft.jobs.LakeViewSync
import graft.operators.TableDiscovery
import graft.sources.FsListing
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `lake_sync`: the paper's product path on the emulated object store.
  *
  * Each round syncs a fresh copy of the seeded lake into a fresh mirror
  * and checkpoint root: one full `runOnce`, then no-op and incremental
  * ticks (each incremental tick first appends commits to a seeded tenth
  * of the tables), then the timeline insights over the mirror, computed
  * with the program's `FsListing` and `InstantFunctions`.
  */
final class LakeSync(spark: SparkSession, rec: Recorder, seed: Long, nTables: Int = LakeSync.Tables)
    extends Workload {
  import LakeSync._

  spark.sparkContext.hadoopConfiguration.set(s"fs.${BenchFs.Scheme}.impl", classOf[BenchFs].getName)
  BenchFs.delayNanos = DelayNanos

  private var tables: IndexedSeq[Lake.Table] = IndexedSeq.empty

  /** Per-phase storage and operator figures of the round being run. */
  private val phaseLayer = scala.collection.mutable.Map.empty[String, Seq[Double]]
  private def note(name: String, v: Double): Unit =
    phaseLayer(name) = phaseLayer.getOrElse(name, Seq.empty) :+ v

  def generate(): Unit = {
    tables = Lake.tables(seed, nTables)
    Lake.write(BaseBucket, seed, tables)
  }

  def warmUp(): Unit = {
    // a small lake of its own, on the store without delay: the JIT and
    // Spark's first jobs warm up on the same code paths (a full sync, a
    // no-op tick and the insights) without touching the measured lake
    val small = Lake.tables(seed + 1, Lake.BatchSize)
    Lake.write("warm-lake", seed + 1, small)
    val cfg = config("warm-lake", "warm-mirror", "warm-cp")
    BenchFs.delayNanos = 0L
    try {
      LakeViewSync.runOnce(spark, cfg)
      LakeViewSync.runOnce(spark, cfg)
      computeInsights(small.map(t => s"${BenchFs.Scheme}://warm-mirror/" +
        InstantFunctions.uuidV3(s"${BenchFs.Scheme}://warm-lake${t.path}") + "/active"))
    } finally BenchFs.delayNanos = DelayNanos
    Seq("warm-lake", "warm-mirror", "warm-cp").foreach(BenchFs.clear)
  }

  private def config(lake: String, mirror: String, cp: String) = LakeViewSync.SyncConfig(
    basePaths = (0 until Lake.Databases).map(d =>
      TableDiscovery.BasePath("lake1", s"db$d", s"${BenchFs.Scheme}://$lake/db$d")),
    mirrorRoot = s"${BenchFs.Scheme}://$mirror",
    checkpointDir = s"${BenchFs.Scheme}://$cp")

  def round(r: Int): Unit = {
    // the same bucket names every round (each is emptied at the end of a
    // round): table ids derive from the uri, and with them the bytes every
    // Spark shuffle moves, so rounds repeat exactly
    val lake = "lake"
    val mirror = "mirror"
    val cp = "cp"
    BenchFs.copyBucket(BaseBucket, lake)
    val cfg = config(lake, mirror, cp)
    // table id by table path, as discovery derives it from the uri
    val idOf = tables.map(t => t.path -> InstantFunctions.uuidV3(s"${BenchFs.Scheme}://$lake${t.path}")).toMap
    val byId = idOf.map(_.swap)
    // storage calls map to tables by path: the lake's table dir, or the
    // table id under the mirror and checkpoint roots
    BenchFs.tableOf = (uri: String) => {
      val rest = uri.substring(uri.indexOf("://") + 3)
      val slash = rest.indexOf('/')
      val bucket = rest.substring(0, slash)
      val parts = rest.substring(slash + 1).split("/")
      // inside a table dir only: discovery's listing of the dir itself
      // is not table work
      if (bucket == lake && parts.length >= 3 && parts(1).startsWith("tbl")) s"/${parts(0)}/${parts(1)}"
      else if ((bucket == mirror || bucket == cp) && parts.nonEmpty) byId.getOrElse(parts(0), null)
      else null
    }
    var current = tables
    var expected = current.flatMap(t => Lake.expectedMirror(t, idOf(t.path))).toSet
    // the same appends every round, so rounds repeat exactly
    val rnd = new SplittableRandom(seed * 31)

    def sync(phase: String, newFiles: Int): Unit = {
      BenchFs.resetTableWindows()
      val before = BenchFs.counters()
      val cpWrites = BenchFs.creates(cp)
      val mirrorBytes = BenchFs.objects(mirror, "/").values.map(_.toLong).sum
      val t0 = System.nanoTime()
      rec.op("sync", phase, phase, r) {
        rec.span("jobs", "LakeViewSync.runOnce")(LakeViewSync.runOnce(spark, cfg))
      } { rep =>
        val mirrored = BenchFs.objects(mirror, "/").keySet
        if (!rep.allSucceeded) Some(s"failed tables: ${rep.failures.keys.toSeq.sorted.mkString(",")}")
        else if (rep.tablesSynced != current.size) Some(s"synced ${rep.tablesSynced} of ${current.size} tables")
        else if (rep.filesMirrored != newFiles) Some(s"mirrored ${rep.filesMirrored} files, expected $newFiles")
        else if (mirrored != expected)
          Some(s"mirror differs: ${(expected -- mirrored).size} missing, ${(mirrored -- expected).size} unexpected")
        else None
      }.foreach { rep =>
        note(s"jobs.files_mirrored.$phase", rep.filesMirrored.toDouble)
        note("jobs.table_failures", rep.failures.size.toDouble)
      }
      val d = storagePhase(phase, before, t0)
      note(s"operators.checkpoint_writes.$phase", (BenchFs.creates(cp) - cpWrites).toDouble)
      val mirrored = BenchFs.objects(mirror, "/").values.map(_.toLong).sum - mirrorBytes
      if (mirrored > 0) note(s"fs.write_amp.$phase", d.bytesWritten.toDouble / mirrored)
    }

    sync("full", expected.size)
    for (k <- 0 until Ticks) {
      sync("noop", 0)
      // a seeded tenth of the tables get new commits (never one with an
      // in-flight tail, which blocks everything after it)
      val open = current.indices.filter(i => current(i).inflightTail.isEmpty)
      val picked = open.map(i => (rnd.nextLong(), i)).sorted.take(math.max(1, current.size / 10)).map(_._2)
      var added = 0
      picked.foreach { i =>
        val (t2, files) = Lake.append(lake, current(i), CommitsPerAppend, rnd)
        current = current.updated(i, t2)
        expected ++= files.map(f => s"/${idOf(t2.path)}/active/$f")
        added += files.size
      }
      sync("incr", added)
    }
    insights(r, mirror, current, idOf)
    BenchFs.tableOf = _ => null
    Seq(lake, mirror, cp).foreach(BenchFs.clear)
  }

  /** Storage and operator figures of one phase, from the emulated store. */
  private def storagePhase(phase: String, before: BenchFs.Counters, t0: Long): BenchFs.Counters = {
    val d = BenchFs.counters().minus(before)
    BenchFs.Kinds.foreach(k => note(s"fs.calls.$k.$phase", d.calls(k).toDouble))
    note(s"fs.bytes_written.$phase", d.bytesWritten.toDouble)
    note(s"fs.busy_ms.$phase", d.busyMs)
    // share of the phase's wall with a storage call in flight
    note(s"fs.busy_share.$phase", d.inFlightMs / ((System.nanoTime() - t0) / 1e6))
    val windows = BenchFs.tableWindows()
    if (phase != "insights" && windows.nonEmpty) {
      // discovery ends where the first table's properties are read
      val firstTable = windows.values.map(_._1).min
      note(s"operators.discover_ms.$phase", (firstTable - t0) / 1e6)
      // table wall from its first to its last storage call, per sync batch
      val perTable = tables.map(t => windows.get(t.path).map { case (a, b) => (b - a) / 1e6 })
      val batches = perTable.grouped(Lake.BatchSize).map(_.flatten).filter(_.nonEmpty).toSeq
      val all = batches.flatten.sorted
      if (phase == "full") {
        note("operators.mirror_table_ms_p50", all(all.size / 2))
        note("operators.mirror_table_ms_max", all.last)
        val stragglers = batches.map(b => b.max / b.sorted.apply(b.size / 2)).sorted
        note("operators.table_batch_straggler", stragglers(stragglers.size / 2))
      }
    }
    d
  }

  /** Timeline insights over the mirror, checked against the generator. */
  private def insights(r: Int, mirror: String, current: IndexedSeq[Lake.Table],
      idOf: Map[String, String]): Unit = {
    val dirs = current.map(t => s"${BenchFs.Scheme}://$mirror/${idOf(t.path)}/active")
    val before = BenchFs.counters()
    val t0 = System.nanoTime()
    rec.op("insights", "timeline_insights", "insights", r) {
      rec.span("sources", "insights over FsListing.listDirs")(computeInsights(dirs))
    } { got =>
      val want = Insights.expected(current)
      if (got != want) Some(s"insights $got, expected $want") else None
    }
    storagePhase("insights", before, t0)
  }

  /** The insights over the mirrored active timelines `dirs`. */
  private def computeInsights(dirs: Seq[String]): Insights = {
    import spark.implicits._
    val files = FsListing.listDirs(spark, dirs).toDF("dir", "f")
      .select(col("dir"), col("f.filename").as("fn"))
      .filter(col("fn") =!= InstantFunctions.HoodiePropertiesFile)
      .select(col("dir"), col("fn"),
        InstantFunctions.instantAction(col("fn")).as("action"),
        InstantFunctions.instantState(col("fn")).as("state"),
        InstantFunctions.instantTs(col("fn")).as("ts"),
        InstantFunctions.instantCompletionTs(col("fn")).as("cts"),
        InstantFunctions.commitIdDecimal(col("fn")).as("id"))
      // the listing runs once, one task per dir; the four aggregates
      // below then read a few cached partitions instead of re-listing
      .coalesce(spark.sparkContext.defaultParallelism)
      .cache()
    try {
      val actions = files.filter(col("state") === "completed")
        .groupBy("action").count().as[(String, Long)].collect().toMap
      val latency = files.filter(col("cts").isNotNull)
        .select((epochMs("cts") - epochMs("ts")).as("ms"))
        .agg(count(lit(1)), coalesce(sum("ms"), lit(0L)), coalesce(max("ms"), lit(0L)))
        .as[(Long, Long, Long)].head()
      val lastCompaction = files.filter(col("action") === "compaction")
        .groupBy("dir").agg(max("id").as("last"))
      val backlog = files.filter(col("state") === "completed" && col("action") === "deltacommit")
        .join(lastCompaction, Seq("dir"), "left")
        .filter(col("last").isNull || col("id") > col("last"))
        .groupBy("dir").count()
        .agg(coalesce(sum("count"), lit(0L)), coalesce(max("count"), lit(0L)))
        .as[(Long, Long)].head()
      val perTable = files.groupBy("dir").count()
      val skew = perTable.agg(max("count"), sum("count"), count(lit(1)))
        .as[(Long, Long, Long)].head()
      Insights(actions, latency, backlog, skew)
    } finally files.unpersist()
  }

  def nominalRoundS: Double = 12.5

  def layer: Map[String, Seq[Double]] = phaseLayer.toMap
}

object LakeSync {
  /** Epoch millis of a 17-digit instant timestamp column. */
  private def epochMs(c: String) = expr("unix_millis(make_timestamp(" +
    Seq((1, 4), (5, 2), (7, 2), (9, 2), (11, 2)).map { case (p, n) => s"int(substr($c, $p, $n))" }
      .mkString(", ") + s", cast(substr($c, 13, 2) || '.' || substr($c, 15, 3) as decimal(5, 3))))")

  val Tables = 40
  val Ticks = 1
  val CommitsPerAppend = 2
  val BaseBucket = "lake-base"
  /** Fixed delay per storage call on the emulated store: 10 ms, the low
    * end of the "tens of milliseconds" that Amazon's S3 performance
    * guidelines give as the median latency of requests under 512 KB
    * (every timeline object here is a few KB at most).
    */
  val DelayNanos = 10000000L

  /** The insights: completed instants per action; commit latency (count,
    * sum, max ms) over V9 instants; compaction backlog (sum, max) over
    * merge-on-read tables; mirrored file counts (max, sum, tables).
    */
  final case class Insights(actions: Map[String, Long], latency: (Long, Long, Long),
      backlog: (Long, Long), files: (Long, Long, Long))

  object Insights {
    def expected(ts: Seq[Lake.Table]): Insights = {
      val actions = ts.flatMap(_.instants.map(_.completedAction))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val lat = ts.filter(_.layout >= 2).flatMap(_.instants.map(_.latencyMs))
      val backlogs = ts.filter(_.mor).map { t =>
        val lastCompaction = t.instants.filter(_.action == "compaction").map(_.ts).lastOption
        t.instants.count(i => i.action == "deltacommit" && lastCompaction.forall(i.ts > _)).toLong
      }.filter(_ > 0)
      val counts = ts.map(_.instants.size * 3L)
      Insights(actions, (lat.size.toLong, lat.sum, if (lat.isEmpty) 0L else lat.max),
        (backlogs.sum, if (backlogs.isEmpty) 0L else backlogs.max),
        (counts.max, counts.sum, counts.size.toLong))
    }
  }
}
