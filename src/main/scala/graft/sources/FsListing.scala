package graft.sources

import java.io.FileNotFoundException
import java.sql.Timestamp

import graft.model.FileEntry
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** Object-store listing and whole-object read source (SURVEY §2.1 S1-S4)
  * over the Hadoop FileSystem API — one code path for file://, hdfs://,
  * s3a://, gs://, abfss:// instead of the reference's three cloud SDK
  * clients (`storage/S3AsyncStorageClient.java:48-115` et al).
  *
  * Listing semantics normalized across stores (the reference's Azure client
  * ignores `startAfter` server-side, `storage/AzureAsyncStorageClient.java:48-113`;
  * we apply it uniformly as a post-filter, which is the same relational
  * contract: `filename > startAfter`):
  *   - one level per call (delimiter="/" behavior);
  *   - `prefix` filters by filename prefix;
  *   - `startAfter` keeps strictly-greater filenames (seek/resume key);
  *   - filenames are returned relative to the listed directory
  *     (prefix-stripped, like the reference's File model).
  *
  * Two fan-outs sit on top of [[listDir]]: on the driver, discovery runs a
  * BFS level's listings together on the shared [[IoPool]]; across
  * executors, [[listDirs]] lists many directories as a Dataset, each task
  * draining its directories' pages through the store's own iterator.
  *
  * [[readObject]] is the extractor's one whole-object read (properties,
  * `_version_`, manifests, checkpoints). All but [[listDirs]] take a Hadoop
  * `Configuration` and run on the driver, like the whole extractor.
  */
object FsListing {

  /** Most storage calls one fan-out keeps in flight: the threads of the
    * driver's [[IoPool]], shared by discovery's level listings and the
    * mirror's concurrent copies, and the tasks of one [[listDirs]] job.
    */
  val MaxInFlight = 64

  /** List one directory on the driver. Page drains ride the T6 retry policy
    * so a one-off store fault re-lists the directory instead of failing the
    * table (reference wraps every storage call,
    * `AsyncHttpClientWithRetry.java:41-129`). A missing directory lists
    * empty without an existence probe: the store's `FileNotFoundException`
    * is caught across the whole iteration, because `listStatusIterator`
    * may raise it lazily, on `hasNext`.
    */
  def listDir(
      conf: Configuration,
      dirUri: String,
      prefix: String = "",
      startAfter: String = ""): Seq[FileEntry] = graft.operators.Retry.storageIO {
    val path = new Path(dirUri)
    val fs = path.getFileSystem(conf)
    try {
      val it = fs.listStatusIterator(path)
      val out = Seq.newBuilder[FileEntry]
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if ((prefix.isEmpty || name.startsWith(prefix)) &&
          (startAfter.isEmpty || name > startAfter)) {
          out += FileEntry(name, new Timestamp(st.getModificationTime), st.isDirectory)
        }
      }
      out.result()
    } catch { case _: FileNotFoundException => Nil }
  }

  /** Read one whole object. Only `open` + drain ride the T6 retry; a
    * `FileNotFoundException` propagates at once (the caller decides what
    * "absent" means), and callers parse outside the retry, so a malformed
    * object fails on its one `open`.
    */
  def readObject(conf: Configuration, uri: String): Array[Byte] =
    graft.operators.Retry.storageIO {
      val path = new Path(uri)
      val in = path.getFileSystem(conf).open(path)
      try in.readAllBytes() finally in.close()
    }

  /** Distributed listing of many directories: one task per partition of the
    * directory list; emits (dirUri, entry) pairs. Executors talk straight to
    * the store — no listing bytes flow through the driver. The Dataset is
    * lazy: its jobs run at the caller's action and carry the call site the
    * caller sets there (`SparkContext.setCallSite`), not one set here.
    */
  def listDirs(spark: SparkSession, dirUris: Seq[String]): Dataset[(String, FileEntry)] = {
    import spark.implicits._
    val hadoopConf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val parallelism = math.max(1, math.min(dirUris.size, MaxInFlight))
    spark.createDataset(dirUris)
      .repartition(parallelism)
      .mapPartitions { dirs =>
        val conf = hadoopConf.value
        dirs.flatMap(d => listDir(conf, d).map(d -> _))
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
