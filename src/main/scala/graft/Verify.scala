package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(sfDir)
    new java.io.File(outDir).mkdirs()
    // deterministic dump order: if the harness ever cuts a run short, what
    // was and wasn't dumped is reproducible rather than HashMap-ordered
    Harness.selected("verify").foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop projections the query builder persisted, now that the
      // consuming action is done — a full sweep would otherwise hold
      // dozens of dead caches at once
      CacheTracker.releaseAll()
    }
    val q = Harness.jsonString _
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Harness.stop(spark)
  }
}
