package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Pure column expressions for the timeline dataflow (SURVEY §2.3 P1-P11,
  * §2.4 F-predicates, §2.2 D5). Everything here is built from
  * `org.apache.spark.sql.functions` so it stays inside whole-stage codegen —
  * no Scala UDF in the hot path except the UUIDv3 derivation (D5), which has
  * no Spark built-in.
  */
object InstantFunctions {

  /** Action whitelist — reference constants/MetadataExtractorConstants.java:83-94. */
  val WhitelistedActions: Seq[String] = Seq(
    "commit", "deltacommit", "rollback", "savepoint", "restore",
    "clean", "compaction", "replacecommit", "clustering", "logcompaction")

  val HoodiePropertiesFile = "hoodie.properties"

  // Patterns — reference constants/MetadataExtractorConstants.java:53-60.
  // The reference calls matcher.matches() (full match) for these, so we
  // anchor explicitly: Spark's rlike is find()-style partial match.
  val ActiveInstantPattern = "^\\d+(_\\d+)?(\\.[a-z]{1,20}){1,2}$"
  val ArchivedV1Pattern = "^\\.commits_\\.archive\\.\\d+_\\d+-\\d+-\\d+$"
  val ArchivedV2Pattern = "^(\\d+_\\d+_\\d+\\.parquet|manifest_\\d+|_version_)$"
  /** find()-style in the reference (TimelineCommitInstantsUploader.java:948-956). */
  val V1ArchivedNumericPattern = "\\.archive\\.(\\d+)_"

  // --- P1: instant-filename parse ------------------------------------------
  // Reference ActiveTimelineInstantBatcher.java:267-297:
  //   parts = filename.split(".", 3)
  //   leading token may embed "_completionTs" (V9 completed instants)
  //   "X.inflight" => action=commit, state=inflight
  //   2 parts => state=completed; 3 parts => state=parts(2)

  /** Leading token before the first '.' (request ts + optional completion ts). */
  private def leadToken(filename: Column): Column =
    substring_index(filename, ".", 1)

  /** P1: request timestamp (V9 completion suffix stripped). */
  def instantTs(filename: Column): Column =
    substring_index(leadToken(filename), "_", 1)

  /** P1: V9 completion timestamp, null for V1-V8 instants. */
  def instantCompletionTs(filename: Column): Column = {
    val lead = leadToken(filename)
    when(lead.contains("_"), substring_index(lead, "_", -1)).otherwise(lit(null))
  }

  /** Tokens after the leading ts token, split on '.', limit 3 overall.
    * Uses `get` (0-based, null on out-of-bounds) — `element_at` would throw
    * under Spark 4's default ANSI mode when the state token is absent.
    */
  private def part(filename: Column, i: Int): Column =
    get(split(filename, "\\.", 3), lit(i))

  /** P1/P5: action; bare "X.inflight" means an inflight commit. */
  def instantAction(filename: Column): Column = {
    val p1 = part(filename, 1)
    val p2 = part(filename, 2)
    when(p2.isNull && p1 === "inflight", "commit").otherwise(p1)
  }

  /** P1: state (requested | inflight | completed). */
  def instantState(filename: Column): Column = {
    val p1 = part(filename, 1)
    val p2 = part(filename, 2)
    when(p2.isNull, when(p1 === "inflight", "inflight").otherwise("completed"))
      .otherwise(p2)
  }

  // --- P2: instant-file predicates -----------------------------------------
  def isActiveInstantFile(filename: Column): Column =
    filename.rlike(ActiveInstantPattern)

  def isArchivedV1File(filename: Column): Column =
    filename.rlike(ArchivedV1Pattern)

  def isArchivedV2File(filename: Column): Column =
    filename.rlike(ArchivedV2Pattern)

  /** P3: leading numeric token as DECIMAL(38,0) for ordering — instant ids can
    * exceed Long (reference uses BigDecimal,
    * TimelineCommitInstantsUploader.java:940-946).
    */
  def commitIdDecimal(filename: Column): Column =
    instantTs(filename).cast(DecimalType(38, 0))

  /** P4: archived-file index — `.archive.(\d+)_` group 1 as LONG. */
  def archiveIndex(filename: Column): Column =
    nullif(regexp_extract(filename, V1ArchivedNumericPattern, 1), lit(""))
      .cast("long")

  /** P9: checkpoint decrement — BigInteger(ts) - 1 as string
    * (ActiveTimelineInstantBatcher.java:186-190).
    */
  def tsMinusOne(ts: Column): Column =
    (ts.cast(DecimalType(38, 0)) - 1).cast("string")

  /** F4: action whitelist, with hoodie.properties always admitted
    * (ActiveTimelineInstantBatcher.java:220-224).
    */
  def isWhitelisted(filename: Column): Column =
    (filename === HoodiePropertiesFile) ||
      instantAction(filename).isin(WhitelistedActions: _*)

  /** G6: commit-group key — leading ts token with completion suffix stripped
    * (ActiveTimelineInstantBatcher.java:202-205).
    */
  def groupKey(filename: Column): Column = instantTs(filename)

  // --- P6/P7: URI & path helpers -------------------------------------------
  /** P6: extract bucket / path from s3|s3a|gs|abfss|wasb URIs.
    * Reference storage/StorageUtils.java:25-66, pattern StorageConstants.java:16-17.
    */
  val UriPattern = "^(s3|s3a|gs|abfss|wasbs?|file|hdfs)://([^/]*)/?(.*)$"

  def uriScheme(uri: Column): Column = regexp_extract(uri, UriPattern, 1)
  def uriBucket(uri: Column): Column = regexp_extract(uri, UriPattern, 2)
  def uriPath(uri: Column): Column = regexp_extract(uri, UriPattern, 3)

  /** P7: join dir + file normalizing slashes (StorageUtils.java:36-44). */
  def pathConcat(dir: Column, file: Column): Column =
    concat_ws("/", rtrim(dir, "/"), ltrim(file, "/"))

  /** P10: s3a:// -> s3:// scheme rewrite (LakeviewSyncTool.java:116-122). */
  def normalizeS3Scheme(uri: Column): Column =
    regexp_replace(uri, "^s3a://", "s3://")

  // --- D5: UUIDv3 tableId ---------------------------------------------------
  /** Name-based (MD5 / RFC-4122 v3) UUID of the table URI — matches
    * java.util.UUID.nameUUIDFromBytes, which the reference uses for tableId
    * derivation (TableMetadataUploaderService.java:481-483). No Spark built-in
    * produces v3 UUIDs, so this is a (driver-registered) deterministic UDF.
    */
  def uuidV3(name: String): String =
    java.util.UUID
      .nameUUIDFromBytes(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .toString

  val uuidV3Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => uuidV3(s))
}
