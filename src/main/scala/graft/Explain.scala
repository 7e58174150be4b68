package graft

/** Builder-side tool: dump `.explain("formatted")` for registry queries.
  *
  * Usage: SPARK_GRAFT_ONLY=<nameRegex> runMain graft.Explain <sfDir> <outDir>
  *
  * One file per query (`<outDir>/<name>.txt`) holding the formatted physical
  * plan exactly as the optimization deliverables require (plan shape:
  * Exchange count, join strategy, PushedFilters/ReadSchema, codegen spans).
  * It runs on the bench's own session ([[Harness.session]]), so the plans
  * match what the bench executes. Capture is explain of the built frame,
  * but NOT side-effect-free: store-backed queries run their ensure step on
  * first touch, and frame CONSTRUCTION itself executes real work in
  * several builders — eager cache builds (CacheTracker.eager counts),
  * driver-resolved scalars (bm25RankedFrom's qids collect, graph tier
  * probes), and whole driver-side training loops (txt_quality_distill,
  * the BPE local tier). Dumped plans therefore show InMemoryRelations
  * already materialized wherever a query's caches were populated at
  * explain time — read raw Exchange/Scan counts accordingly (structural
  * markers — store paths, join operators, PushedFilters — stay reliable).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = Harness.session(sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    Harness.selected("explain").foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
        System.err.println(s"[explain] $name ok")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      } finally CacheTracker.releaseAll()
    }
    Harness.stop(spark)
  }
}
