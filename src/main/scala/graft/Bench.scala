package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** The fixed untouched-row basket behind the artifact's `drift_basket`
    * field: 10 rows spanning tl/rel/evt whose implementation files have
    * been stable since round 8, chosen small and shuffle-light so the
    * basket measures the HOST (JIT, disk, scheduler day-shape), not any
    * operator under development.
    */
  val DriftBasket: Seq[String] = Seq(
    "tl_batches", "tl_history", "tl_instant_parse", "tl_commit_groups",
    "rel_join_revenue_by_segment", "rel_agg_pricing_summary",
    "rel_percentiles", "rel_window_running_qty",
    "evt_sessionize", "evt_daily_active_users")

  /** One SparkSession per benchmark chunk. Recreated (not getOrCreate'd)
    * so each chunk starts with empty shuffle dirs, an empty broadcast
    * manager and a fresh MapOutputTracker — round-7 measurements showed
    * heavy-shuffle queries reading 1.5-2.3x slower late in a 139-query
    * single-session sweep than under the solo protocol, purely from
    * accumulated session residue (the code was identical). JVM-level
    * warmth (JIT, the static codegen cache) survives the restart, so the
    * warmup pass stays meaningful.
    */
  private def newSession(cpus: String, sfDir: String): SparkSession = {
    // Shuffle partitions derive from input bytes (graft.Sizing — the
    // bytes-per-partition rule a production job runs), floored at the core
    // count; SPARK_GRAFT_SHUFFLE_PARTITIONS stays as an explicit override
    // for probes. A 100× deployment on the default no longer re-hits the
    // 128× spill cliffs the fixed core-count default caused.
    val shufflePartitions = Sizing.shufflePartitions(sfDir, cpus.toInt).toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
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
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // corpus-size-derived constants (EVAL stride) resolve from this
    System.setProperty("graft.sf.dir", sfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_ONLY: optional regex to bench a subset (builder-side tool)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.findFirstIn(n).isDefined)
    }.toSeq.sortBy(_._1)
    // Chunks never cross a query-family boundary (the name prefix before
    // the first '_') and are capped at SPARK_GRAFT_CHUNK queries, so a
    // large family still gets session recycling mid-family. Each chunk is
    // the solo protocol in miniature: fresh session, warmup, timed runs.
    val chunkCap = sys.env.get("SPARK_GRAFT_CHUNK").map(_.toInt).getOrElse(8)
    val chunks = selected.foldLeft(Vector.empty[Vector[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]]) {
      case (acc, q @ (name, _)) =>
        val fam = name.takeWhile(_ != '_')
        acc.lastOption match {
          case Some(last) if last.size < chunkCap &&
              last.head._1.takeWhile(_ != '_') == fam =>
            acc.init :+ (last :+ q)
          case _ => acc :+ Vector(q)
        }
    }
    val warmups = sys.env.get("SPARK_GRAFT_WARMUP").map(_.toInt).getOrElse(1)
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(2)
    val verbose = sys.env.contains("SPARK_GRAFT_VERBOSE")
    val results = scala.collection.mutable.Map.empty[String, Double]
    // per-pass raw timings + chunk index per query (round 12): family-level
    // anomalies were unattributable from min-only data — a degraded session
    // inflates one chunk's every pass, which only per-pass, per-chunk
    // records can show. Artifact-only fields (never on stdout).
    val passTimes = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val chunkOf = scala.collection.mutable.Map.empty[String, Int]
    // queries that threw in any timed pass: listed on their own, never
    // timed — a query failing early would otherwise read as fast
    val failed = scala.collection.mutable.SortedSet.empty[String]
    chunks.zipWithIndex.foreach { case (chunk, chunkIdx) =>
      val spark = newSession(cpus, sfDir)
      // Warm-up pass (untimed): JIT + codegen + parquet-footer caches make
      // the first execution of JSON-parse/join-heavy queries swing up to
      // 12x vs warm runs on identical code; timings below are warm.
      for (_ <- 1 to warmups) chunk.foreach { case (_, fn) =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        CacheTracker.releaseAll()
      }
      // Timed passes: min over SPARK_GRAFT_RUNS (default 2) executions per
      // query — the standard stable estimator under GC/JIT noise. Caches
      // persisted inside query builders (e.g. LSH signatures) are dropped
      // before each pass so every timed run re-executes the full lineage.
      val passes = (1 to runs).map { _ =>
        spark.catalog.clearCache()
        chunk.flatMap { case (name, fn) =>
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage.take(200)}"); false }
          val dt = (System.nanoTime() - t0) / 1e9
          // outside the timed window: each query's persisted projections
          // are dead once its action finishes
          CacheTracker.releaseAll()
          if (verbose) System.err.println(f"[bench] $name%-28s $dt%8.2f s${if (ok) "" else " (FAILED)"}")
          if (ok) Some(name -> dt) else None
        }.toMap
      }
      chunk.foreach { case (name, _) =>
        val ts = passes.flatMap(_.get(name))
        if (ts.size < passes.size) failed += name
        else {
          results(name) = ts.min
          passTimes(name) = ts
        }
        chunkOf(name) = chunkIdx
      }
      // stop() removes the context's local shuffle/block dirs — the
      // residue that inflated late-sweep rows never reaches the next chunk
      spark.stop()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
    }
    // Values rounded to 0.1 ms: bench noise dwarfs that, and the shorter
    // line survives tail-style output capture with every query present.
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def json(r: Map[String, Double]): String = {
      val qs = r.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
        .mkString("{", ",", "}")
      val total = f"${if (r.nonEmpty) r.values.sum else 0.0}%.4f"
      // drift_basket: summed wall of a FIXED set of long-stable rows whose
      // code hasn't changed since round 8 — cross-round artifact comparisons
      // divide per-query times by the basket ratio to normalize out
      // machine-day drift (round 9's uniform 1.31× on untouched rows had to
      // be attributed by hand). Keep this list frozen; if a member's code
      // ever changes, REPLACE it and note the swap in SURVEY.md.
      val basketRows = DriftBasket.filter(r.contains)
      val basket =
        if (basketRows.size == DriftBasket.size)
          f"${basketRows.map(r).sum}%.4f"
        else "null" // partial run — a partial basket would mislead
      // eval_stride: the resolved EVAL sampling stride of this run — the
      // artifact must show whether the O(n²) baselines ran sampled.
      // cpus (round 12, additive): ties each artifact/line to its core
      // count — round 11's 8-core scaling run was only identifiable by
      // external forensics.
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,""" +
        s""""drift_basket":$basket,"drift_basket_n":${basketRows.size},""" +
        s""""eval_stride":${analytics.DedupQueries.EvalStride},""" +
        s""""cpus":$cpus,"sf":"$sfDir"}"""
    }
    val line = json(results.toMap)
    println(line)
    // Complete artifact on disk as well — the stdout line is subject to
    // whatever capture window the harness uses, the file never is. The
    // default name includes the core count (round 12): a scaling re-run at
    // a different SPARK_GRAFT_CPUS lands in its OWN file instead of
    // clobbering the primary artifact (which is exactly what destroyed the
    // round-11 32-core record).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_FULL_c$cpus.json")
    // Artifact = the stdout object plus two artifact-only diagnostic maps:
    // per-pass raw seconds (which pass won the min, and whether a whole
    // chunk's passes were uniformly inflated — the session-degradation
    // signature) and each query's chunk index. Strictly additive: parsing
    // the artifact as the stdout line's schema still works.
    val passesJson = passTimes.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + v.map(x => f"$x%.4f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val chunksJson = chunkOf.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val artifact = line.dropRight(1) +
      s""","passes":$passesJson,"chunks":$chunksJson}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), artifact + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}") }
    // Final COMPACT line: the full metric line above (~4.5 KB at 174
    // queries) overruns a ~2 KB tail-capture window, which left the
    // round-11 driver per-query-blind. This one always fits and points at
    // the complete artifact. No "queries" key and a distinct metric name,
    // so a parser looking for the full line can never mistake it for a
    // (nearly empty) result.
    val total = f"${if (results.nonEmpty) results.values.sum else 0.0}%.4f"
    val basketRows = DriftBasket.filter(results.contains)
    val basket = if (basketRows.size == DriftBasket.size)
      f"${basketRows.map(results).sum}%.4f" else "null"
    println(s"""{"metric":"bench_summary","total_sec":$total,""" +
      s""""n_queries":${results.size},"failed":$failedJson,"drift_basket":$basket,""" +
      s""""eval_stride":${analytics.DedupQueries.EvalStride},"cpus":$cpus,""" +
      s""""sf":"$sfDir","artifact":"$out"}""")
  }
}
