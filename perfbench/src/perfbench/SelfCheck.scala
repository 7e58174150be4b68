package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks of the benchmark's own machinery, run by `run.py --selfcheck`:
  *
  *   - the digest ignores row order and partitioning but sees a changed,
  *     dropped or duplicated row, and hashes map columns;
  *   - a failure never looks fast: a lake table whose storage call the
  *     emulated store fails, and a registry row pointed at a missing
  *     input, both end up as failed operations, named, with no timing.
  */
object SelfCheck {
  def run(spark: SparkSession, rec: Recorder, work: String): Map[String, Any] = {
    val df = spark.range(0, 2000, 1, 4).select(col("id"), (col("id") % 7).as("k"),
      concat(lit("x"), col("id")).as("s"), array(col("id"), col("id") + 1).as("a"),
      map(col("k"), col("s")).as("m"))
    val base = CurationBoard.digest(df)
    val digest = Map(
      "reordered_same" -> (CurationBoard.digest(df.orderBy(rand(3)).repartition(7)) == base),
      "row_dropped_differs" -> (CurationBoard.digest(df.filter(col("id") =!= 5)) != base),
      "row_duplicated_differs" -> (CurationBoard.digest(df.union(df.filter(col("id") === 5))) != base),
      "value_changed_differs" ->
        (CurationBoard.digest(df.withColumn("s", when(col("id") === 5, "y").otherwise(col("s")))) != base))

    // one table of a small lake fails every storage call on its properties
    val lake = new LakeSync(spark, rec, seed = 7, nTables = Lake.BatchSize)
    lake.generate()
    val victim = Lake.tables(7, Lake.BatchSize)(3).path
    BenchFs.failWhen = uri => uri.contains(s"$victim/.hoodie/hoodie.properties")
    try lake.round(0) finally BenchFs.failWhen = _ => false

    // a registry row pointed at an input that does not exist
    rec.op("row", "dedup_span", "pairs", 0) {
      CurationBoard.digest(SparkEntry.registry("dedup_span").fn(spark, s"$work/missing"))
    }(_ => None)

    val failed = rec.ops.filterNot(_.ok)
    val failures = Map(
      "storage_fault_fails_sync" -> failed.exists(o => o.kind == "sync" && o.name == "full" &&
        o.reason.contains("failed tables")),
      "missing_input_fails_row" -> failed.exists(o => o.kind == "row" && o.name == "dedup_span"))
    val checks = digest ++ failures
    Map("passed" -> checks.values.forall(identity), "checks" -> checks, "victim" -> victim) ++ rec.toJson
  }
}
