package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** A workload: seeded inputs, an untimed warm-up, then timed rounds. */
trait Workload {
  /** Lay out the inputs; repeated during set-up (the median counts). */
  def generate(): Unit
  /** Untimed first calls: JIT, codegen and persistent-store builds. */
  def warmUp(): Unit
  def round(r: Int): Unit
  /** About how long one round takes; `--seconds` buys that many rounds. */
  def nominalRoundS: Double
  /** Per-layer figures by metric name, one value per occurrence. */
  def layer: Map[String, Seq[Double]]
  /** Anything else the result file should carry. */
  def extra: Map[String, Any] = Map.empty
}

/** JVM side of the benchmark. `run.py` starts it once per run:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --cpus C --out result.json --data corpus-dir
  *     [--expected digests.json --record 0|1]
  *
  * and reads `result.json`: set-up times, every timed operation (failed
  * ones included), rounds, per-layer figures and, when tracing, spans and
  * Spark stages. All statistics are computed on the Python side.
  */
object Main {
  /** Set-up repeats of the input generation. */
  val GenerateRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracing = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val work = Paths.get(System.getProperty("java.io.tmpdir"))

    val spark = session(cpus, work.resolve("corpus").toString)
    val sessionReady = uptimeS()
    val rec = new Recorder(spark, tracing)
    if (workload == "selfcheck") {
      Files.writeString(Paths.get(opts("out")), Json.encode(SelfCheck.run(spark, rec, work.toString)))
      spark.stop()
      return
    }
    val w: Workload = workload match {
      case "lake_sync" => new LakeSync(spark, rec, seed)
      case "curation_board" => new CurationBoard(spark, rec, seed, work.toString, opts("data"),
        opts.get("expected"), record = opts.get("record").contains("1"))
      case "ingest_stream" => new IngestStream(spark, rec, seed, opts("data"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gens = (1 to GenerateRepeats).map { _ =>
      val t0 = System.nanoTime()
      w.generate()
      (System.nanoTime() - t0) / 1e9
    }
    val warm0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - warm0) / 1e9
    rec.heapCheckpoint()
    // set-up: JVM and session start, one (median) input generation, warm-up
    val setupS = sessionReady + gens.sorted.apply(gens.size / 2) + warmS

    // a whole number of rounds, fixed by --seconds alone: a count that
    // followed the clock would change the sample with the host's speed
    val rounds = math.max(1, math.round(seconds / w.nominalRoundS).toInt)
    for (r <- 0 until rounds) {
      rec.round(r)(w.round(r))
      rec.heapCheckpoint()
    }
    rec.close()
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> tracing, "cpus" -> cpus,
      "setup_s" -> setupS, "session_s" -> sessionReady, "generate_s" -> gens, "warmup_s" -> warmS,
      "layer" -> w.layer) ++ w.extra ++ rec.toJson
    Files.writeString(Paths.get(opts("out")), Json.encode(result))
    spark.stop()
  }

  private def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** The session settings of the registry harness (`graft.Bench`):
    * shuffle partitions at the core count (what `graft.Sizing` derives for
    * inputs this small), no AQE coalescing, a large object-hash-aggregate
    * fallback threshold.
    */
  def session(cpus: Int, corpusDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", math.max(cpus, 1).toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's status store keeps up to 1000 jobs, stages and SQL
      // executions and trims them from a background thread, which made
      // the retained heap swing by 2x between runs; a short history keeps
      // `live_heap_mb` about the program's own state
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.setProperty("graft.sf.dir", corpusDir)
    spark
  }
}
