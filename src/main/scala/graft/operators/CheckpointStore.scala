package graft.operators

import java.sql.Timestamp

import graft.model.Checkpoint
import graft.sources.FsListing
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Per-(tableId, timelineType) checkpoint store (SURVEY §2.8 T2/T3, §2.1
  * S10/S11) — the engine-local replacement for the reference's checkpoint
  * API (`api/OnehouseApiClient.java:68-96`). Layout is one JSON file per
  * key: `storeDir/<tableId>/<timelineType>.json`, written stage-then-rename.
  *
  * The per-key layout is what makes the store scale- and concurrency-safe:
  * an upsert touches exactly one file regardless of table count (the
  * previous whole-store parquet rewrite was O(tables) per batch and a Spark
  * job each), and tables in flight together (G7/G8) write disjoint paths,
  * matching the reference's per-table checkpoint POSTs
  * (`TimelineCommitInstantsUploader.java:623-688`).
  *
  * Round trips: [[loadTable]] is one [[FsListing.listDir]] plus one
  * [[FsListing.readObject]] per timeline type (a missing table dir lists as
  * "no checkpoint", without a probe); [[upsert]] is `create` + `delete` +
  * `rename`. Every step rides the T6 retry, as the reference's checkpoint
  * POST does (`AsyncHttpClientWithRetry`). The mirror upserts once per
  * batch, after all of the batch's copies have finished: the checkpoint is
  * the barrier between a table's batches. Like every extractor operator,
  * the store takes a Hadoop `Configuration`.
  *
  * JSON codec matches the reference's Jackson shape
  * (`TimelineCommitInstantsUploader.java:99-101`, JavaTimeModule ISO-8601
  * instants) so checkpoints round-trip with reference deployments.
  */
object CheckpointStore {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** Load all checkpoints (empty map when the store doesn't exist yet):
    * one listing of the root, then [[loadTable]] per table dir. O(tables) —
    * for inspection and specs; the mirror hot path uses [[loadTable]].
    */
  def load(conf: Configuration, storeDir: String): Map[(String, String), Checkpoint] =
    FsListing.listDir(conf, storeDir).filter(_.isDirectory).flatMap { td =>
      loadTable(conf, storeDir, td.filename).map { case (tt, c) => (td.filename, tt) -> c }
    }.toMap

  /** Fetch one table's checkpoints — the S11 per-table lookup. */
  def loadTable(conf: Configuration, storeDir: String,
      tableId: String): Map[String, Checkpoint] = {
    val dir = s"${storeDir.stripSuffix("/")}/$tableId"
    FsListing.listDir(conf, dir)
      .filter(f => !f.isDirectory && f.filename.endsWith(".json"))
      .map(f => f.filename.stripSuffix(".json") ->
        fromJson(new String(FsListing.readObject(conf, s"$dir/${f.filename}"), Utf8)))
      .toMap
  }

  /** Upsert one checkpoint: write to a staging file, then rename over the
    * target — a crash mid-write never leaves a truncated checkpoint (a stale
    * one only re-mirrors one batch, which is idempotent by filename). Three
    * calls: `create` makes the table dir, and `delete` of an absent target
    * is a no-op that returns false. The three ride the T6 retry as one unit,
    * which is idempotent: a retry overwrites the staging file, and its
    * `delete` of an already-deleted target is that no-op.
    */
  def upsert(
      conf: Configuration,
      storeDir: String,
      tableId: String,
      timelineType: String,
      checkpoint: Checkpoint): Unit = {
    val dir = new Path(s"${storeDir.stripSuffix("/")}/$tableId")
    val target = new Path(dir, s"$timelineType.json")
    val staging = new Path(dir, s".$timelineType.json.staging")
    val bytes = toJson(checkpoint).getBytes(Utf8)
    Retry.storageIO {
      val fs = dir.getFileSystem(conf)
      val out = fs.create(staging, true)
      try out.write(bytes) finally out.close()
      fs.delete(target, false)
      fs.rename(staging, target)
    }
  }

  // ---- reference-compatible JSON codec ------------------------------------
  def toJson(c: Checkpoint): String = {
    def q(s: String) = if (s == null) "null" else "\"" + s + "\""
    val ts = c.checkpointTimestamp.toInstant.toString
    s"""{"batchId":${c.batchId},"checkpointTimestamp":"$ts",""" +
      s""""lastUploadedFile":${q(c.lastUploadedFile)},""" +
      s""""firstIncompleteCommitFile":${q(c.firstIncompleteCommitFile)},""" +
      s""""archivedCommitsProcessed":${c.archivedCommitsProcessed},""" +
      s""""lastArchivedManifestVersion":${c.lastArchivedManifestVersion}}"""
  }

  private val Field = """"(\w+)"\s*:\s*("(?:[^"\\]|\\.)*"|[^,}]+)""".r

  def fromJson(json: String): Checkpoint = {
    val m = Field.findAllMatchIn(json).map { mm =>
      val v = mm.group(2)
      mm.group(1) -> (if (v.startsWith("\"")) v.substring(1, v.length - 1) else v)
    }.toMap
    Checkpoint(
      batchId = m("batchId").toInt,
      checkpointTimestamp = Timestamp.from(java.time.Instant.parse(m("checkpointTimestamp"))),
      lastUploadedFile = m.get("lastUploadedFile").filter(_ != "null").orNull,
      firstIncompleteCommitFile = m.get("firstIncompleteCommitFile").filter(_ != "null").orNull,
      archivedCommitsProcessed = m("archivedCommitsProcessed").toBoolean,
      lastArchivedManifestVersion = m.get("lastArchivedManifestVersion").map(_.toInt).getOrElse(0))
  }
}
