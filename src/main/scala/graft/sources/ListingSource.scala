package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** "Object-store listing as a table" — the DataSourceV2 form of the listing
  * source (SURVEY §4: the one genuinely custom physical component; the
  * reference pushes `startAfter` into S3 `ListObjectsV2` / GCS `startOffset`
  * server-side, `TimelineCommitInstantsUploader.java:958-980`).
  *
  * Usage:
  * {{{
  * spark.read.format("graft-listing")
  *   .option("dirs", "s3a://bucket/t1/.hoodie,file:///lake/t2/.hoodie")
  *   .load()
  *   .filter($"filename" > "20240101" && $"filename".startsWith("2024"))
  * }}}
  *
  * Catalyst pushes the two filter shapes the stores support natively —
  * `filename > X` (seek / startAfter) and `startswith(filename, p)`
  * (prefix) — into the scan via `SupportsPushDownFilters`, so at 100-TB
  * scale the listing never enumerates already-processed keys. Column
  * pruning (`SupportsPushDownRequiredColumns`) reaches the reader too. One
  * input partition per directory: 100k tables = 100k independent listing
  * tasks spread across the cluster, none of whose bytes pass through the
  * driver.
  */
class ListingSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-listing"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ListingSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dirs = Option(properties.get("dirs"))
      .orElse(Option(properties.get("path")))
      .getOrElse(throw new IllegalArgumentException(
        "graft-listing requires a 'dirs' (comma-separated) or 'path' option"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    new ListingTable(dirs)
  }
}

object ListingSource {
  val Schema: StructType = StructType(Seq(
    StructField("dir", StringType, nullable = false),
    StructField("filename", StringType, nullable = false),
    StructField("lastModifiedAt", TimestampType, nullable = false),
    StructField("isDirectory", BooleanType, nullable = false)))
}

class ListingTable(dirs: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"graft_listing(${dirs.mkString(",")})"
  override def schema(): StructType = ListingSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ListingScanBuilder(dirs)
}

class ListingScanBuilder(dirs: Seq[String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var prefix = ""
  private var startAfter = ""
  private var pushed = Array.empty[Filter]
  private var required: StructType = ListingSource.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case StringStartsWith("filename", _) => true
      case GreaterThan("filename", _: String) => true
      case _ => false
    }
    accepted.foreach {
      case StringStartsWith("filename", p) =>
        if (p.length > prefix.length) prefix = p
      case GreaterThan("filename", v: String) =>
        if (v > startAfter) startAfter = v
      case _ =>
    }
    pushed = accepted
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new ListingScan(dirs, prefix, startAfter, required)
}

class ListingScan(
    dirs: Seq[String],
    prefix: String,
    startAfter: String,
    required: StructType) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-listing prefix='$prefix' startAfter='$startAfter'"

  override def planInputPartitions(): Array[InputPartition] =
    dirs.map(d => ListingInputPartition(d): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    ListingReaderFactory(conf, prefix, startAfter,
      required.fieldNames.map(ListingSource.Schema.fieldIndex))
  }
}

case class ListingInputPartition(dir: String) extends InputPartition

case class ListingReaderFactory(
    conf: SerializableConfiguration,
    prefix: String,
    startAfter: String,
    projection: Array[Int]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val dir = partition.asInstanceOf[ListingInputPartition].dir
    new PartitionReader[InternalRow] {
      private val it = FsListing.listDir(conf.value, dir, prefix, startAfter).iterator
      private var current: InternalRow = _

      override def next(): Boolean =
        if (!it.hasNext) false
        else {
          val f = it.next()
          val full: Array[Any] = Array(
            UTF8String.fromString(dir),
            UTF8String.fromString(f.filename),
            f.lastModifiedAt.getTime * 1000L, // micros
            f.isDirectory)
          current = InternalRow.fromSeq(projection.map(full).toSeq)
          true
        }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Minimal serializable Hadoop-conf wrapper (Spark's own is private). */
final class SerializableConfiguration(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
