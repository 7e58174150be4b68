package graft.sources

import graft.model.ManifestSnapshot
import org.apache.hadoop.conf.Configuration

/** LSM archived-timeline (V2) manifest reader (SURVEY §2.1 S6/S7).
  * Layout (reference `LSMTimelineManifestReader.java:23-38`):
  *
  *   .hoodie/timeline/history/
  *     _version_        <- single int: latest manifest version
  *     manifest_N       <- JSON {"files":[{"fileName":..., "fileLen":...}]}
  *     *.parquet        <- the archived commit batches the manifest points at
  *
  * A missing `_version_` means "no archived snapshot yet" (empty snapshot,
  * `LSMTimelineManifestReader.java:58-83`). Both markers are read with
  * [[FsListing.readObject]] and parsed outside its retry; the reader takes a
  * Hadoop `Configuration`, like every extractor source.
  */
object LsmManifestReader {

  /** Read the `_version_` marker; None when absent. One `open`, no
    * existence probe: a `FileNotFoundException` from the read means absent.
    */
  def latestVersion(conf: Configuration, historyUri: String): Option[Int] =
    try Some(new String(FsListing.readObject(conf, s"${historyUri.stripSuffix("/")}/_version_"),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
    catch { case _: java.io.FileNotFoundException => None }

  /** Read manifest_N's file-name list (S6): a few KB of JSON, one
    * [[FsListing.readObject]] plus a Jackson parse in the per-table driver
    * loop — a distributed job per table per sync would put 2×tables Spark
    * jobs on the scheduler for kilobytes of metadata.
    */
  def readManifest(conf: Configuration, historyUri: String, version: Int): ManifestSnapshot = {
    val bytes = FsListing.readObject(conf, s"${historyUri.stripSuffix("/")}/manifest_$version")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
    import scala.jdk.CollectionConverters._
    val names = root.path("files").elements().asScala
      .map(_.path("fileName").asText()).toSeq
    ManifestSnapshot(version, names)
  }

  /** Latest snapshot, or an empty version-0 snapshot when none exists. */
  def latestSnapshot(conf: Configuration, historyUri: String): ManifestSnapshot =
    latestVersion(conf, historyUri) match {
      case Some(v) => readManifest(conf, historyUri, v)
      case None    => ManifestSnapshot(0, Nil)
    }

  /** V2 incremental diff (SURVEY §2.7 J1): files in `current` but not in
    * `previous`, in manifest order — the diff that drives the archived
    * mirror — plus the ordered trailer (manifest_N then _version_) appended
    * by the sink (T5). A plain Set diff: both sides are in-memory name lists
    * already, so an anti-join would be a Spark job per table per sync for
    * nothing (reference `TimelineCommitInstantsUploader.java:305-327`).
    */
  def newFiles(current: ManifestSnapshot, previous: ManifestSnapshot): Seq[String] = {
    val prev = previous.parquetFileNames.toSet
    current.parquetFileNames.filterNot(prev)
  }
}
