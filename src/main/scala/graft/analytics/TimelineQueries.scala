package graft.analytics

import graft.{QuerySpec, Tables}
import graft.fixtures.TimelineFixture
import graft.functions.InstantFunctions._
import graft.model.UploadStrategy
import graft.operators.ActiveTimelineBatcher
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The product's analytics surface (SURVEY §2.9) over the canonical timeline
  * fixture: timeline history, instant parsing (P1/P2), commit-group
  * classification (G1-G3), archived ordering (O1-O3), compaction backlog,
  * and tableId derivation (D5). The DuckDB oracle runs over the *same rows*
  * via a VALUES clause ([[TimelineFixture.valuesSql]]), so these are full
  * hash-checked correctness gates, not rows-only checks.
  *
  * The `sfDir` argument is unused — the timeline fixture is the input table
  * (instant metadata is KB-scale; the 100 TB path is the mirrored lake these
  * same queries run on unchanged).
  */
object TimelineQueries {

  private def fx(s: SparkSession): DataFrame =
    TimelineFixture.dataset(s).toDF()
      .withColumnRenamed("lastModifiedAt", "last_modified_at")
      .withColumnRenamed("isDirectory", "is_directory")

  private val From = TimelineFixture.valuesSql

  /** DuckDB replica of the reference's split(filename, ".", 3) parse. */
  private val OracleParse =
    """p AS (SELECT filename, last_modified_at, is_directory,
      |  string_split(filename, '.') AS parts FROM src),
      |q AS (SELECT filename, last_modified_at, is_directory,
      |  parts[1] AS lead,
      |  parts[2] AS p1,
      |  CASE WHEN len(parts) >= 3 THEN array_to_string(parts[3:], '.') END AS p2
      |  FROM p),
      |parsed AS (SELECT filename, last_modified_at, is_directory,
      |  string_split(lead, '_')[1] AS ts,
      |  CASE WHEN contains(lead, '_') THEN string_split(lead, '_')[2] END AS completion_ts,
      |  CASE WHEN p2 IS NULL AND p1 = 'inflight' THEN 'commit' ELSE p1 END AS action,
      |  CASE WHEN p2 IS NULL THEN (CASE WHEN p1 = 'inflight' THEN 'inflight' ELSE 'completed' END)
      |       ELSE p2 END AS state
      |  FROM q)""".stripMargin

  val all: Map[String, QuerySpec] = Map(

    // ----- P1/P2: instant parse + file-class predicates ---------------------
    "tl_instant_parse" -> QuerySpec(
      (s, _) => {
        fx(s)
          .withColumn("is_active", isActiveInstantFile(col("filename")))
          .withColumn("is_archived_v1", isArchivedV1File(col("filename")))
          .withColumn("is_archived_v2", isArchivedV2File(col("filename")))
          .select(
            col("filename"),
            when(col("is_active"), instantTs(col("filename"))).as("ts"),
            when(col("is_active"), instantCompletionTs(col("filename"))).as("completion_ts"),
            when(col("is_active"), instantAction(col("filename"))).as("action"),
            when(col("is_active"), instantState(col("filename"))).as("state"),
            col("is_active"), col("is_archived_v1"), col("is_archived_v2"))
          .orderBy(col("filename"))
      },
      Some(s"""WITH src AS (SELECT * FROM $From),
             |$OracleParse,
             |flags AS (SELECT filename,
             |    regexp_full_match(filename, '\\d+(_\\d+)?(\\.[a-z]{1,20}){1,2}') AS is_active,
             |    regexp_full_match(filename, '\\.commits_\\.archive\\.\\d+_\\d+-\\d+-\\d+') AS is_archived_v1,
             |    regexp_full_match(filename, '\\d+_\\d+_\\d+\\.parquet|manifest_\\d+|_version_') AS is_archived_v2
             |  FROM src)
             |SELECT f.filename,
             |  CASE WHEN f.is_active THEN d.ts END AS ts,
             |  CASE WHEN f.is_active THEN d.completion_ts END AS completion_ts,
             |  CASE WHEN f.is_active THEN d.action END AS action,
             |  CASE WHEN f.is_active THEN d.state END AS state,
             |  f.is_active, f.is_archived_v1, f.is_archived_v2
             |FROM flags f JOIN parsed d ON f.filename = d.filename
             |ORDER BY f.filename""".stripMargin)
    ),

    // ----- Timeline History: searchable, filtered, newest-first (§2.9) ------
    "tl_history" -> QuerySpec(
      (s, _) => {
        fx(s)
          .filter(!col("is_directory") && isActiveInstantFile(col("filename")))
          .withColumn("action", instantAction(col("filename")))
          .withColumn("state", instantState(col("filename")))
          .filter(isWhitelisted(col("filename")))
          .select(instantTs(col("filename")).as("ts"), col("action"), col("state"),
            col("filename"), col("last_modified_at"))
          .orderBy(col("ts").desc, col("filename"))
      },
      Some(s"""WITH src AS (SELECT * FROM $From),
             |$OracleParse
             |SELECT ts, action, state, filename, last_modified_at
             |FROM parsed
             |WHERE NOT is_directory
             |  AND regexp_full_match(filename, '\\d+(_\\d+)?(\\.[a-z]{1,20}){1,2}')
             |  AND action IN ('commit','deltacommit','rollback','savepoint','restore',
             |    'clean','compaction','replacecommit','clustering','logcompaction')
             |ORDER BY ts DESC, filename""".stripMargin)
    ),

    // ----- Table Stats shape: action/state counts ---------------------------
    "tl_action_counts" -> QuerySpec(
      (s, _) => {
        fx(s)
          .filter(!col("is_directory") && isActiveInstantFile(col("filename")) &&
            isWhitelisted(col("filename")))
          .groupBy(instantAction(col("filename")).as("action"),
            instantState(col("filename")).as("state"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("action"), col("state"))
      },
      Some(s"""WITH src AS (SELECT * FROM $From),
             |$OracleParse
             |SELECT action, state, COUNT(*) AS n FROM parsed
             |WHERE NOT is_directory
             |  AND regexp_full_match(filename, '\\d+(_\\d+)?(\\.[a-z]{1,20}){1,2}')
             |  AND action IN ('commit','deltacommit','rollback','savepoint','restore',
             |    'clean','compaction','replacecommit','clustering','logcompaction')
             |GROUP BY action, state ORDER BY action, state""".stripMargin)
    ),

    // ----- G1-G3: commit-group classification per request ts ----------------
    "tl_commit_groups" -> QuerySpec(
      (s, _) => {
        fx(s)
          .filter(!col("is_directory") && isActiveInstantFile(col("filename")) &&
            isWhitelisted(col("filename")))
          .groupBy(instantTs(col("filename")).as("ts"))
          .agg(
            count(lit(1)).cast("int").as("group_size"),
            array_join(sort_array(collect_set(instantState(col("filename")))), ",").as("states"),
            max(instantAction(col("filename")) === "rollback").as("is_rollback"),
            max(instantState(col("filename")) === "completed").as("has_completed"))
          .withColumn("is_complete",
            (col("group_size") === 3 && col("has_completed")) ||
              (col("group_size") === 2 && col("has_completed")) ||
              (col("group_size") === 1 && col("is_rollback") && col("has_completed")))
          .select(col("ts"), col("group_size"), col("states"), col("is_complete"))
          .orderBy(col("ts"))
      },
      Some(s"""WITH src AS (SELECT * FROM $From),
             |$OracleParse,
             |g AS (SELECT ts, CAST(COUNT(*) AS INT) AS group_size,
             |    array_to_string(list_sort(list_distinct(list(state))), ',') AS states,
             |    max(action = 'rollback') AS is_rollback,
             |    max(state = 'completed') AS has_completed
             |  FROM parsed
             |  WHERE NOT is_directory
             |    AND regexp_full_match(filename, '\\d+(_\\d+)?(\\.[a-z]{1,20}){1,2}')
             |    AND action IN ('commit','deltacommit','rollback','savepoint','restore',
             |      'clean','compaction','replacecommit','clustering','logcompaction')
             |  GROUP BY ts)
             |SELECT ts, group_size, states,
             |  (group_size = 3 AND has_completed) OR (group_size = 2 AND has_completed)
             |    OR (group_size = 1 AND is_rollback AND has_completed) AS is_complete
             |FROM g ORDER BY ts""".stripMargin)
    ),

    // ----- O3/P4: archived V1 numeric ordering ------------------------------
    "tl_archive_order" -> QuerySpec(
      (s, _) => {
        fx(s)
          .filter(isArchivedV1File(col("filename")))
          .select(col("filename"), archiveIndex(col("filename")).as("archive_idx"))
          .orderBy(col("archive_idx"))
      },
      Some(s"""WITH src AS (SELECT * FROM $From)
             |SELECT filename,
             |  CAST(regexp_extract(filename, '\\.archive\\.(\\d+)_', 1) AS BIGINT) AS archive_idx
             |FROM src
             |WHERE regexp_full_match(filename, '\\.commits_\\.archive\\.\\d+_\\d+-\\d+-\\d+')
             |ORDER BY archive_idx""".stripMargin)
    ),

    // ----- Compaction Backlog (§2.9): deltacommits since last compaction ----
    "tl_compaction_backlog" -> QuerySpec(
      (s, _) => {
        val parsed = fx(s)
          .filter(!col("is_directory") && isActiveInstantFile(col("filename")))
          .select(instantTs(col("filename")).as("ts"),
            instantAction(col("filename")).as("action"),
            instantState(col("filename")).as("state"))
        val lastCompaction = parsed
          .filter(col("action") === "compaction")
          .agg(max(col("ts")).as("last_compaction_ts"))
        // 1-row aggregate side: hint it explicitly so the plan is a
        // BroadcastNestedLoopJoin by construction, not an AQE rescue
        parsed.crossJoin(broadcast(lastCompaction))
          .filter(col("action") === "deltacommit" && col("state") === "completed" &&
            col("ts") > col("last_compaction_ts"))
          .groupBy(col("last_compaction_ts"))
          .agg(count(lit(1)).as("deltacommits_since_compaction"),
            min(col("ts")).as("oldest_pending_ts"))
      },
      Some(s"""WITH src AS (SELECT * FROM $From),
             |$OracleParse,
             |lc AS (SELECT max(ts) AS last_compaction_ts FROM parsed WHERE action = 'compaction')
             |SELECT lc.last_compaction_ts,
             |  COUNT(*) AS deltacommits_since_compaction,
             |  MIN(ts) AS oldest_pending_ts
             |FROM parsed, lc
             |WHERE action = 'deltacommit' AND state = 'completed' AND ts > lc.last_compaction_ts
             |GROUP BY lc.last_compaction_ts""".stripMargin)
    ),

    // ----- Compaction Backlog per FILE GROUP (§2.9, product granularity) ----
    // The product monitors log-file build-up PER FILE GROUP (reference
    // README §Compaction Backlog Monitoring), not globally: a compaction
    // resets only the file groups it actually rewrote, so one hot file
    // group's backlog can grow while the table's newest compaction is
    // minutes old. Parses deltacommit/compaction metadata bodies (the same
    // JSON path as tl_write_stats, plus fileId) into (file_group, instant)
    // rows; backlog = deltacommits strictly after the group's last
    // compaction (all of them if never compacted). Scale: per-group counts
    // are map-side-combined on the file_group key and the compaction side
    // is a broadcast — at a 100k-file-group table nothing shuffles but
    // tiny aggregates.
    "tl_compaction_backlog_fg" -> QuerySpec(
      (s, _) => {
        import s.implicits._
        val schema = "map<string, array<struct<fileId: string, numWrites: bigint, totalWriteBytes: bigint, numDeletes: bigint>>>"
        val rows = s.createDataset(TimelineFixture.fileGroupMetaRows)
          .toDF("ts", "action", "meta")
          .select(col("ts"), col("action"), explode(from_json(
            get_json_object(col("meta"), "$.partitionToWriteStats"),
            org.apache.spark.sql.types.DataType.fromDDL(schema)))
            .as(Seq("part", "stats")))
          .select(col("ts"), col("action"), col("part"),
            explode(col("stats")).as("st"))
          .select(col("ts"), col("action"), col("part"),
            col("st.fileId").as("file_group"))
        val lastComp = rows.filter(col("action") === "compaction")
          .groupBy(col("file_group")).agg(max(col("ts")).as("last_compaction_ts"))
        rows.filter(col("action") === "deltacommit")
          .join(broadcast(lastComp), Seq("file_group"), "left")
          .filter(col("last_compaction_ts").isNull ||
            col("ts") > col("last_compaction_ts"))
          .groupBy(col("part"), col("file_group"), col("last_compaction_ts"))
          .agg(count(lit(1)).as("deltacommits_since_compaction"),
            min(col("ts")).as("oldest_pending_ts"))
          .select(col("part"), col("file_group"),
            col("deltacommits_since_compaction"), col("oldest_pending_ts"),
            col("last_compaction_ts"))
          .orderBy(col("part"), col("file_group"))
      },
      Some(s"""WITH src AS (SELECT * FROM ${TimelineFixture.fileGroupMetaValuesSql}),
             |kv AS (SELECT ts, action, meta,
             |    unnest(json_keys(meta, '$$.partitionToWriteStats')) AS part FROM src),
             |arr AS (SELECT ts, action, part,
             |    json_extract(meta, '$$.partitionToWriteStats."' || part || '"') AS stats FROM kv),
             |el AS (SELECT ts, action, part, stats,
             |    unnest(generate_series(0, CAST(json_array_length(stats) AS INT) - 1)) AS i FROM arr),
             |fg AS (SELECT ts, action, part,
             |    json_extract_string(stats, '$$[' || i || '].fileId') AS file_group FROM el),
             |lc AS (SELECT file_group, max(ts) AS last_compaction_ts
             |  FROM fg WHERE action = 'compaction' GROUP BY file_group)
             |SELECT f.part, f.file_group,
             |  COUNT(*) AS deltacommits_since_compaction,
             |  MIN(f.ts) AS oldest_pending_ts,
             |  lc.last_compaction_ts
             |FROM fg f LEFT JOIN lc ON f.file_group = lc.file_group
             |WHERE f.action = 'deltacommit'
             |  AND (lc.last_compaction_ts IS NULL OR f.ts > lc.last_compaction_ts)
             |GROUP BY f.part, f.file_group, lc.last_compaction_ts
             |ORDER BY f.part, f.file_group""".stripMargin)
    ),

    // ----- Partition Insights (§2.9): size distribution, percentiles, skew --
    // orders-by-month stands in for per-partition file stats (o_totalprice =
    // file size); same query shape the product computes from commit metadata.
    "tl_partition_insights" -> QuerySpec(
      (s, d) => {
        val o = Tables.t(s, d, "orders")
        val parts = o
          .groupBy(date_trunc("month", col("o_orderdate")).as("part_month"))
          .agg(
            count(lit(1)).as("n_files"),
            sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast("double").as("total_size"),
            // DISC percentiles, not interpolated: percentile_disc returns an
            // actual data value, so there is no interpolation arithmetic to
            // diverge by 1 ulp between engines on large groups (the 32x probe
            // caught exactly that with the interpolated form at a 57k-row
            // month), and both engines share the rank convention (verified
            // across odd/even/57504-row groups)
            expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY o_totalprice)").as("p10"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50"),
            expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90"))
        parts
          .withColumn("avg_size", expr(
            "cast(sum(cast(total_size as decimal(18,2))) over () as double) / count(*) over ()"))
          .withColumn("skew", expr("floor((total_size / avg_size - 1) * 1e6 + 0.5) / 1e6"))
          .select(col("part_month"), col("n_files"), col("total_size"),
            col("p10"), col("p50"), col("p90"), col("skew"))
          .orderBy(col("part_month"))
      },
      Some("""WITH parts AS (
             |  SELECT date_trunc('month', o_orderdate) AS part_month,
             |    COUNT(*) AS n_files,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_size,
             |    CAST(quantile_disc(o_totalprice, 0.1) AS DOUBLE) AS p10,
             |    CAST(quantile_disc(o_totalprice, 0.5) AS DOUBLE) AS p50,
             |    CAST(quantile_disc(o_totalprice, 0.9) AS DOUBLE) AS p90
             |  FROM orders GROUP BY 1)
             |SELECT part_month, n_files, total_size, p10, p50, p90,
             |  floor((total_size / (CAST(SUM(CAST(total_size AS DECIMAL(18,2))) OVER () AS DOUBLE)
             |    / COUNT(*) OVER ()) - 1) * 1e6 + 0.5) / 1e6 AS skew
             |FROM parts ORDER BY part_month""".stripMargin)
    ),

    // ----- D5: UUIDv3 tableId derivation ------------------------------------
    "tl_table_ids" -> QuerySpec(
      (s, _) => {
        import s.implicits._
        s.createDataset(TimelineFixture.tableUris).toDF("uri")
          .select(col("uri"), uuidV3Udf(col("uri")).as("table_id"))
          .orderBy(col("uri"))
      },
      Some(s"""WITH u AS (SELECT uri, md5(uri) AS h FROM ${TimelineFixture.urisValuesSql})
             |SELECT uri,
             |  substr(h,1,8) || '-' || substr(h,9,4) || '-3' || substr(h,14,3) || '-' ||
             |  substr('89ab', (strpos('0123456789abcdef', substr(h,17,1)) - 1) % 4 + 1, 1) ||
             |  substr(h,18,3) || '-' || substr(h,21,12) AS table_id
             |FROM u ORDER BY uri""".stripMargin)
    ),

    // ----- Table Stats (§2.9): volume written from commit metadata ----------
    // parses the instant files' commit JSON (partitionToWriteStats) exactly
    // as the product does; nested map -> array explode, per-partition rollup
    "tl_write_stats" -> QuerySpec(
      (s, _) => {
        import s.implicits._
        val schema = "map<string, array<struct<numWrites: bigint, totalWriteBytes: bigint, numDeletes: bigint>>>"
        s.createDataset(TimelineFixture.commitMetaRows).toDF("ts", "action", "meta")
          .select(col("ts"), explode(from_json(
            get_json_object(col("meta"), "$.partitionToWriteStats"),
            org.apache.spark.sql.types.DataType.fromDDL(schema)))
            .as(Seq("part", "stats")))
          .select(col("ts"), col("part"), explode(col("stats")).as("st"))
          .groupBy(col("part"))
          .agg(
            sum(col("st.totalWriteBytes")).as("total_bytes"),
            sum(col("st.numWrites")).as("total_writes"),
            sum(col("st.numDeletes")).as("total_deletes"),
            countDistinct(col("ts")).as("n_commits"))
          .orderBy(col("part"))
      },
      Some(s"""WITH src AS (SELECT * FROM ${TimelineFixture.commitMetaValuesSql}),
             |kv AS (SELECT ts, meta, unnest(json_keys(meta, '$$.partitionToWriteStats')) AS part FROM src),
             |arr AS (SELECT ts, part,
             |    json_extract(meta, '$$.partitionToWriteStats."' || part || '"') AS stats FROM kv),
             |el AS (SELECT ts, part, stats,
             |    unnest(generate_series(0, CAST(json_array_length(stats) AS INT) - 1)) AS i FROM arr),
             |vals AS (SELECT ts, part,
             |    CAST(json_extract(stats, '$$[' || i || '].totalWriteBytes') AS BIGINT) AS bytes,
             |    CAST(json_extract(stats, '$$[' || i || '].numWrites') AS BIGINT) AS writes,
             |    CAST(json_extract(stats, '$$[' || i || '].numDeletes') AS BIGINT) AS deletes
             |  FROM el)
             |SELECT part, CAST(SUM(bytes) AS BIGINT) AS total_bytes,
             |  CAST(SUM(writes) AS BIGINT) AS total_writes,
             |  CAST(SUM(deletes) AS BIGINT) AS total_deletes, COUNT(DISTINCT ts) AS n_commits
             |FROM vals GROUP BY part ORDER BY part""".stripMargin)
    ),

    // ----- Table Stats trend: volume written per commit day -----------------
    "tl_volume_trend" -> QuerySpec(
      (s, _) => {
        import s.implicits._
        val schema = "map<string, array<struct<numWrites: bigint, totalWriteBytes: bigint, numDeletes: bigint>>>"
        s.createDataset(TimelineFixture.commitMetaRows).toDF("ts", "action", "meta")
          .select(substring(col("ts"), 1, 8).as("commit_day"), col("action"),
            explode(from_json(
              get_json_object(col("meta"), "$.partitionToWriteStats"),
              org.apache.spark.sql.types.DataType.fromDDL(schema)))
              .as(Seq("part", "stats")))
          .select(col("commit_day"), col("action"), explode(col("stats")).as("st"))
          .groupBy(col("commit_day"), col("action"))
          .agg(sum(col("st.totalWriteBytes")).as("bytes_written"),
            sum(col("st.numWrites")).as("rows_written"))
          .orderBy(col("commit_day"), col("action"))
      },
      Some(s"""WITH src AS (SELECT * FROM ${TimelineFixture.commitMetaValuesSql}),
             |kv AS (SELECT substr(ts, 1, 8) AS commit_day, action, meta,
             |    unnest(json_keys(meta, '$$.partitionToWriteStats')) AS part FROM src),
             |arr AS (SELECT commit_day, action,
             |    json_extract(meta, '$$.partitionToWriteStats."' || part || '"') AS stats FROM kv),
             |el AS (SELECT commit_day, action, stats,
             |    unnest(generate_series(0, CAST(json_array_length(stats) AS INT) - 1)) AS i FROM arr),
             |vals AS (SELECT commit_day, action,
             |    CAST(json_extract(stats, '$$[' || i || '].totalWriteBytes') AS BIGINT) AS bytes,
             |    CAST(json_extract(stats, '$$[' || i || '].numWrites') AS BIGINT) AS writes
             |  FROM el)
             |SELECT commit_day, action, CAST(SUM(bytes) AS BIGINT) AS bytes_written,
             |  CAST(SUM(writes) AS BIGINT) AS rows_written
             |FROM vals GROUP BY 1, 2 ORDER BY commit_day, action""".stripMargin)
    ),

    // ----- P6/P7/P10: URI parse, path concat, scheme rewrite ----------------
    "tl_uri_functions" -> QuerySpec(
      (s, _) => {
        import s.implicits._
        s.createDataset(TimelineFixture.tableUris ++ Seq(
          "s3a://legacy-bucket/tables/db9/events/")).toDF("uri")
          .select(
            col("uri"),
            uriScheme(col("uri")).as("scheme"),
            uriBucket(col("uri")).as("bucket"),
            uriPath(col("uri")).as("path"),
            normalizeS3Scheme(col("uri")).as("normalized"),
            pathConcat(col("uri"), lit("hoodie.properties")).as("props_uri"))
          .orderBy(col("uri"))
      },
      Some(s"""WITH u AS (SELECT uri FROM (VALUES ${
               (TimelineFixture.tableUris :+ "s3a://legacy-bucket/tables/db9/events/")
                 .map(x => s"('$x')").mkString(", ")}) AS t(uri))
             |SELECT uri,
             |  regexp_extract(uri, '^(s3|s3a|gs|abfss|wasbs?|file|hdfs)://([^/]*)/?(.*)$$', 1) AS scheme,
             |  regexp_extract(uri, '^(s3|s3a|gs|abfss|wasbs?|file|hdfs)://([^/]*)/?(.*)$$', 2) AS bucket,
             |  regexp_extract(uri, '^(s3|s3a|gs|abfss|wasbs?|file|hdfs)://([^/]*)/?(.*)$$', 3) AS path,
             |  regexp_replace(uri, '^s3a://', 's3://') AS normalized,
             |  rtrim(uri, '/') || '/' || 'hoodie.properties' AS props_uri
             |FROM u ORDER BY uri""".stripMargin)
    ),

    // ----- P1/P11: V9 completion-time latency --------------------------------
    // V9 completed instants carry `requestTs_completionTs` in the filename;
    // commit duration = completion − request. Pre-V9 instants have no
    // completion component and are excluded (completion_ts IS NULL). The
    // 17-digit instant is rebuilt into an ISO timestamp string with the same
    // substr/concat fragment in both engines, so the parse can't drift.
    "tl_commit_latency" -> QuerySpec(
      (s, _) => {
        def iso(c: String) =
          s"substr($c,1,4) || '-' || substr($c,5,2) || '-' || substr($c,7,2) || ' ' || " +
            s"substr($c,9,2) || ':' || substr($c,11,2) || ':' || substr($c,13,2) || '.' || substr($c,15,3)"
        fx(s)
          .filter(!col("is_directory") && isActiveInstantFile(col("filename")))
          .select(instantTs(col("filename")).as("ts"),
            instantCompletionTs(col("filename")).as("cts"),
            instantAction(col("filename")).as("action"),
            instantState(col("filename")).as("state"))
          .filter(col("state") === "completed" && col("cts").isNotNull)
          .select(col("ts"), col("action"),
            expr(s"to_timestamp(${iso("ts")})").as("requested_at"),
            expr(s"to_timestamp(${iso("cts")})").as("completed_at"))
          .withColumn("latency_ms",
            expr("unix_millis(completed_at) - unix_millis(requested_at)"))
          .orderBy(col("ts"))
      },
      Some {
        def iso(c: String) =
          s"substr($c,1,4) || '-' || substr($c,5,2) || '-' || substr($c,7,2) || ' ' || " +
            s"substr($c,9,2) || ':' || substr($c,11,2) || ':' || substr($c,13,2) || '.' || substr($c,15,3)"
        s"""WITH src AS (SELECT * FROM $From),
           |$OracleParse,
           |v9 AS (SELECT ts, action,
           |    CAST(${iso("ts")} AS TIMESTAMP) AS requested_at,
           |    CAST(${iso("completion_ts")} AS TIMESTAMP) AS completed_at
           |  FROM parsed
           |  WHERE NOT is_directory
           |    AND regexp_full_match(filename, '\\d+(_\\d+)?(\\.[a-z]{1,20}){1,2}')
           |    AND state = 'completed' AND completion_ts IS NOT NULL)
           |SELECT ts, action, requested_at, completed_at,
           |  epoch_ms(completed_at) - epoch_ms(requested_at) AS latency_ms
           |FROM v9 ORDER BY ts""".stripMargin
      }
    ),

    // ----- G4: greedy commit-atomic batching ---------------------------------
    // The oracle replays the BLOCKING greedy fold as a linear recursive CTE:
    // group classification only inspects fixed lookahead offsets, so it
    // precomputes per index (`cls`), and the fold state (index, batch, fill)
    // walks it one group per recursion step — an exact SQL replica of
    // `ActiveTimelineBatcher.createBatches`, so the driver hash-checks the
    // batching itself, not just its row count.
    "tl_batches" -> QuerySpec(
      (s, _) => {
        import s.implicits._
        // the batcher receives F1-filtered listings (instants + properties
        // only), as in the reference uploader
        val files = TimelineFixture.dataset(s)
          .filter(f => !f.isDirectory &&
            (f.filename == "hoodie.properties" ||
              f.filename.matches(ActiveInstantPattern)))
          .map(f => ("fixture-table", f))
        ActiveTimelineBatcher
          .batchByTable(files, maxBatchSize = 6, Map.empty,
            UploadStrategy.BlockOnIncompleteCommit)
          .toDF()
          .select(col("tableId").as("table_id"), col("batchId").as("batch_id"),
            col("posInBatch").as("pos_in_batch"), col("filename"))
          .orderBy(col("batch_id"), col("pos_in_batch"))
      },
      Some(s"""WITH RECURSIVE src AS (SELECT * FROM $From),
             |$OracleParse,
             |files AS (SELECT filename, ts, action, state,
             |    ROW_NUMBER() OVER (ORDER BY (filename = 'hoodie.properties') DESC, filename) AS rn
             |  FROM parsed
             |  WHERE NOT is_directory
             |    AND (filename = 'hoodie.properties'
             |      OR (regexp_full_match(filename, '\\d+(_\\d+)?(\\.[a-z]{1,20}){1,2}')
             |        AND action IN ('commit','deltacommit','rollback','savepoint','restore',
             |          'clean','compaction','replacecommit','clustering','logcompaction')))),
             |nn AS (SELECT COUNT(*) AS n,
             |    max(CASE WHEN filename = 'hoodie.properties' THEN 1 ELSE 0 END) AS has_props
             |  FROM files),
             |cls AS (SELECT f1.rn,
             |    -- boundary defer: <3 files of lookahead for a 3-file shape
             |    (f1.rn + 2 > nn.n AND f1.action <> 'savepoint') AS stop_iter,
             |    CASE
             |      WHEN f1.action = 'rollback' THEN
             |        CASE WHEN (f1.ts = f2.ts AND f2.ts = f3.ts
             |               AND 'inflight'  IN (f1.state, f2.state, f3.state)
             |               AND 'requested' IN (f1.state, f2.state, f3.state)
             |               AND 'completed' IN (f1.state, f2.state, f3.state)) THEN 3
             |             WHEN (f1.ts = f2.ts AND f1.action = f2.action
             |               AND 'inflight'  IN (f1.state, f2.state)
             |               AND 'completed' IN (f1.state, f2.state)) THEN 2
             |             WHEN f1.state = 'completed' THEN 1
             |             ELSE 0 END
             |      WHEN f1.action = 'savepoint' THEN
             |        CASE WHEN (f1.ts = f2.ts AND f1.action = f2.action
             |               AND 'inflight'  IN (f1.state, f2.state)
             |               AND 'completed' IN (f1.state, f2.state)) THEN 2
             |             ELSE 0 END
             |      ELSE
             |        CASE WHEN (f1.ts = f2.ts AND f2.ts = f3.ts
             |               AND 'inflight'  IN (f1.state, f2.state, f3.state)
             |               AND 'requested' IN (f1.state, f2.state, f3.state)
             |               AND 'completed' IN (f1.state, f2.state, f3.state)) THEN 3
             |             ELSE 0 END
             |    END AS gs
             |  FROM files f1
             |  LEFT JOIN files f2 ON f2.rn = f1.rn + 1
             |  LEFT JOIN files f3 ON f3.rn = f1.rn + 2
             |  CROSS JOIN nn
             |  WHERE f1.filename <> 'hoodie.properties'),
             |walk AS (
             |  SELECT CAST(NULL AS BIGINT) AS grp_start, 0 AS gs, 0 AS batch,
             |      CASE WHEN has_props = 1 THEN 1 ELSE 0 END AS fill,
             |      CASE WHEN has_props = 1 THEN 2 ELSE 1 END AS rn
             |    FROM nn
             |  UNION ALL
             |  SELECT c.rn AS grp_start, c.gs,
             |      CASE WHEN w.fill + c.gs <= 6 THEN w.batch ELSE w.batch + 1 END AS batch,
             |      CASE WHEN w.fill + c.gs <= 6 THEN w.fill + c.gs ELSE c.gs END AS fill,
             |      w.rn + c.gs AS rn
             |    FROM walk w
             |    JOIN cls c ON c.rn = w.rn
             |    CROSS JOIN nn
             |    -- blocking: stop at the loop bound, a boundary defer, or the
             |    -- first incomplete group (gs = 0)
             |    WHERE w.rn <= nn.n - 1 AND NOT c.stop_iter AND c.gs > 0),
             |asn AS (
             |  SELECT grp_start, gs, batch, fill - gs AS fill_before
             |    FROM walk WHERE grp_start IS NOT NULL
             |  UNION ALL
             |  SELECT 1, 1, 0, 0 FROM nn WHERE has_props = 1)
             |SELECT 'fixture-table' AS table_id,
             |  CAST(a.batch AS INT) AS batch_id,
             |  CAST(a.fill_before + (f.rn - a.grp_start) AS INT) AS pos_in_batch,
             |  f.filename
             |FROM asn a JOIN files f ON f.rn >= a.grp_start AND f.rn < a.grp_start + a.gs
             |ORDER BY batch_id, pos_in_batch""".stripMargin)
    )
  )
}
