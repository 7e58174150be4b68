package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for specs that need one. The native functions
  * and sketch aggregators are installed once at creation, so a spec that
  * drives a query helper directly passes whichever suite runs first.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.VectorExpressions.register(s)
    graft.functions.SketchAggregators.register(s)
    s
  }
}
