package graft.sources

import scala.util.control.NonFatal

import graft.model.HudiProperties
import org.apache.hadoop.conf.Configuration

/** `hoodie.properties` scan (SURVEY §2.1 S5). Reference semantics
  * (`metadata_extractor/HoodiePropertiesReader.java:37-79`):
  * java.util.Properties parse; `hoodie.table.version` defaults to 6 and
  * `hoodie.timeline.layout.version` to 1 when absent
  * (`constants/MetadataExtractorConstants.java:25-28`); any failure yields a
  * sentinel record carrying the failure reason instead of failing the table
  * batch. One [[FsListing.readObject]]: a store fault is retried there, and
  * a malformed value fails on its one `open`.
  */
object HoodiePropertiesReader {

  val DefaultTableVersion = 6
  val DefaultLayoutVersion = 1

  def read(conf: Configuration, propsUri: String): HudiProperties =
    try {
      val p = new java.util.Properties()
      p.load(new java.io.ByteArrayInputStream(FsListing.readObject(conf, propsUri)))
      HudiProperties(
        tableName = p.getProperty("hoodie.table.name"),
        tableType = p.getProperty("hoodie.table.type"),
        tableVersion = Option(p.getProperty("hoodie.table.version"))
          .map(_.trim.toInt).getOrElse(DefaultTableVersion),
        timelineLayoutVersion = Option(p.getProperty("hoodie.timeline.layout.version"))
          .map(_.trim.toInt).getOrElse(DefaultLayoutVersion))
    } catch {
      case NonFatal(e) =>
        HudiProperties(null, null, DefaultTableVersion, DefaultLayoutVersion,
          failureReason = e.getClass.getSimpleName)
    }

  /** Timeline path suffix per (layoutVersion, timelineType) — SURVEY §2.3 P8,
    * reference TimelineCommitInstantsUploader.java:910-922.
    */
  def timelineDir(tableUri: String, layoutVersion: Int, archived: Boolean): String = {
    val base = tableUri.stripSuffix("/")
    (layoutVersion, archived) match {
      case (v, false) if v >= 2 => s"$base/.hoodie/timeline"
      case (v, true) if v >= 2  => s"$base/.hoodie/timeline/history"
      case (_, false)           => s"$base/.hoodie"
      case (_, true)            => s"$base/.hoodie/archived"
    }
  }
}
