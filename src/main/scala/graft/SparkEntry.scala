package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of every operator module's registry; each entry has
  * a matching DuckDB oracle in `oracleSql` when the semantics are ANSI-SQL
  * expressible (the driver hash-compares both at sf0.01).
  */
object SparkEntry {

  /** All registered query specs (name -> spark fn + optional oracle). Each
    * fn installs the native functions and sketch aggregators on the session
    * it is handed before building its frame, so the query builders
    * themselves never register anything.
    */
  def registry: Map[String, QuerySpec] =
    (analytics.RelationalQueries.all ++
      analytics.EventQueries.all ++
      analytics.TextQueries.all ++
      analytics.DedupQueries.all ++
      analytics.SimilarityQueries.all ++
      analytics.MultimodalQueries.all ++
      analytics.GraphQueries.all ++
      analytics.TimelineQueries.all).map { case (name, q) =>
      name -> q.copy(fn = (spark, dir) => {
        graft.functions.VectorExpressions.register(spark)
        graft.functions.SketchAggregators.register(spark)
        q.fn(spark, dir)
      })
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry("rel_join_revenue_by_segment").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, QuerySpec(_, Some(sql))) => k -> sql }
}
