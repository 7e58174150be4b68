package graft.model

import java.sql.Timestamp

/** Core data model of the engine — Spark-native case classes with
  * `Encoders.product` semantics (use `import spark.implicits._`).
  *
  * Shapes mirror the reference's value classes (see Scaladoc per class) but
  * the representation is columnar-friendly: every field maps 1:1 to a Spark
  * SQL column so Datasets of these types stay inside Tungsten/codegen.
  */

/** One object-store listing entry — the core "row" of every timeline
  * dataflow. Reference: lakeview/src/main/java/ai/onehouse/storage/models/File.java:12-15.
  */
final case class FileEntry(
    filename: String,
    lastModifiedAt: Timestamp,
    isDirectory: Boolean
)

/** A discovered Hudi table.
  * Reference: metadata_extractor/models/Table.java:16-22.
  */
final case class HudiTable(
    absoluteTableUri: String,
    databaseName: String,
    lakeName: String,
    tableId: String,
    tableVersion: Int = 6,
    timelineLayoutVersion: Int = 1
)

/** Per-(table, timelineType) incremental progress.
  * Reference: metadata_extractor/models/Checkpoint.java:13-23. JSON codec in
  * [[graft.operators.CheckpointStore]] round-trips the reference's Jackson shape.
  */
final case class Checkpoint(
    batchId: Int,
    checkpointTimestamp: Timestamp,
    lastUploadedFile: String,
    firstIncompleteCommitFile: String, // null when none
    archivedCommitsProcessed: Boolean,
    lastArchivedManifestVersion: Int = 0
)

object Checkpoint {
  /** Reference: constants/MetadataExtractorConstants.java:61-69 (INITIAL_CHECKPOINT). */
  val initial: Checkpoint =
    Checkpoint(0, new Timestamp(0L), "", null, archivedCommitsProcessed = false)
}

/** Typed view of `hoodie.properties`.
  * Reference: metadata_extractor/models/ParsedHudiProperties.java:16-21 and
  * HoodiePropertiesReader.java:49-55 (defaults 6 / 1 when keys absent).
  */
final case class HudiProperties(
    tableName: String,
    tableType: String, // COPY_ON_WRITE | MERGE_ON_READ
    tableVersion: Int = 6,
    timelineLayoutVersion: Int = 1,
    failureReason: String = null // null = parsed OK; sentinel rows carry the error
)

/** LSM archived-timeline manifest snapshot.
  * Reference: metadata_extractor/LSMTimelineManifestReader.java:141-154;
  * on-disk layout documented at LSMTimelineManifestReader.java:23-38.
  */
final case class ManifestSnapshot(
    version: Int,
    parquetFileNames: Seq[String]
)

/** Timeline kinds — reference enum CommitTimelineType (ACTIVE / ARCHIVED). */
object TimelineType {
  val Active = "ACTIVE"
  val Archived = "ARCHIVED"
}

/** Upload strategies — reference MetadataExtractorConfig.java:68-70. */
sealed trait UploadStrategy
object UploadStrategy {
  case object BlockOnIncompleteCommit extends UploadStrategy
  case object ContinueOnIncompleteCommit extends UploadStrategy
}

/** Batcher output: batched files plus the resume watermark for
  * CONTINUE_ON_INCOMPLETE_COMMIT mode (reference
  * ActiveTimelineInstantBatcher.java:148-165).
  */
final case class BatchResult(
    batches: Seq[Seq[FileEntry]],
    firstIncompleteCommitFile: Option[String]
)
