package graft.sources

import graft.model.ManifestSnapshot
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** LSM archived-timeline (V2) manifest reader (SURVEY §2.1 S6/S7).
  * Layout (reference `LSMTimelineManifestReader.java:23-38`):
  *
  *   .hoodie/timeline/history/
  *     _version_        <- single int: latest manifest version
  *     manifest_N       <- JSON {"files":[{"fileName":..., "fileLen":...}]}
  *     *.parquet        <- the archived commit batches the manifest points at
  *
  * A missing `_version_` means "no archived snapshot yet" (empty snapshot,
  * `LSMTimelineManifestReader.java:58-83`).
  */
object LsmManifestReader {

  /** Read the `_version_` marker; None when absent. One `open`, no
    * existence probe: a `FileNotFoundException` (from the open, or from the
    * first read on stores that open lazily) means absent.
    */
  def latestVersion(conf: Configuration, historyUri: String): Option[Int] =
    graft.operators.Retry.storageIO {
      val path = new Path(s"${historyUri.stripSuffix("/")}/_version_")
      val fs = path.getFileSystem(conf)
      try {
        val in = fs.open(path)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    }

  /** Read manifest_N's file-name list (S6). Manifests are a few KB of JSON in
    * the per-table driver loop, so this is a direct Hadoop-FS read + Jackson
    * parse — spinning a distributed job per table per sync would put 2×tables
    * Spark jobs on the scheduler for kilobytes of metadata.
    */
  def readManifest(spark: SparkSession, historyUri: String, version: Int): ManifestSnapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(s"${historyUri.stripSuffix("/")}/manifest_$version")
    val fs = path.getFileSystem(conf)
    val bytes = graft.operators.Retry.storageIO {
      val in = fs.open(path)
      try in.readAllBytes() finally in.close()
    }
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
    import scala.jdk.CollectionConverters._
    val names = root.path("files").elements().asScala
      .map(_.path("fileName").asText()).toSeq
    ManifestSnapshot(version, names)
  }

  /** Latest snapshot, or an empty version-0 snapshot when none exists. */
  def latestSnapshot(spark: SparkSession, historyUri: String): ManifestSnapshot =
    latestVersion(spark.sparkContext.hadoopConfiguration, historyUri) match {
      case Some(v) => readManifest(spark, historyUri, v)
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
