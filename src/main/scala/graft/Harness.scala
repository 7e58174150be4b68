package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one entry surface of the harness mains (`Bench`, `Verify`,
  * `Profile`, `Explain`): the local session they run on, the core count,
  * the `SPARK_GRAFT_ONLY` row selection and the JSON string escaper of
  * their output lines. Each main keeps only its own loop.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS` when set, else the machine's processor count. */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local session over the corpus at `sfDir`, publishing the dir as
    * `graft.sf.dir` first: corpus-size-derived constants (the EVAL
    * sampling stride) resolve from it.
    */
  def session(sfDir: String, cores: Int = cpus()): SparkSession = {
    System.setProperty("graft.sf.dir", sfDir)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      // derived from input bytes (graft.Sizing), floored at the core count
      .config("spark.sql.shuffle.partitions",
        Sizing.shufflePartitions(sfDir, cores).toString)
      // AQE's size-based coalescing folds every small shuffle to ONE
      // partition, serializing CPU-bound stages (signature hashing, pair
      // joins). These workloads are compute-heavy per byte — keep the
      // explicit partition count.
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // typed Aggregators (minhash_union, top7_by_score) run through
      // ObjectHashAggregate, whose default 128-key fallback degrades the
      // partial phase to sort-based almost immediately; the buffers here
      // are tiny fixed-width rows, so a large hash map is the right trade
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stop the session's context and forget it, so the next [[session]]
    * starts a fresh one (empty shuffle dirs, broadcast manager and
    * MapOutputTracker).
    */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The registry rows named by the `SPARK_GRAFT_ONLY` regex (all rows when
    * unset), in name order. A filtered selection is logged under `tag`, so
    * a partial run never passes silently as a full one.
    */
  def selected(tag: String): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val rows = all.filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }
      .toSeq.sortBy(_._1)
    only.foreach { p =>
      System.err.println(s"[$tag] PARTIAL RUN: SPARK_GRAFT_ONLY=${p.regex} " +
        s"selects ${rows.size}/${all.size} queries (${all.size - rows.size} skipped)")
    }
    rows
  }

  /** `s` as a quoted JSON string: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab in hand-written oracle SQL or a quote in an
    * env-supplied path would otherwise break the reader's JSON parse.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
