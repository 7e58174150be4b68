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
  * Every fan-out over [[listDir]] runs on the driver's shared [[IoPool]]:
  * discovery lists a BFS level's directories together, and [[listDirs]] the
  * directories a Spark query reads.
  *
  * [[readObject]] is the extractor's one whole-object read (properties,
  * `_version_`, manifests, checkpoints). All but [[listDirs]] take a Hadoop
  * `Configuration`; all of them run on the driver, like the whole extractor.
  */
object FsListing {

  /** Most storage calls the driver keeps in flight: the threads of its
    * [[IoPool]], shared by discovery's level listings, [[listDirs]] and the
    * mirror's concurrent copies.
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

  /** List directories for a Spark query, eagerly, on the driver's [[IoPool]]
    * (no Spark job): the (dirUri, entry) pairs come back as a local relation
    * in directory order, and a failed listing is rethrown as itself. It
    * waits on pool work, so it must never be called from a pool task.
    */
  def listDirs(spark: SparkSession, dirUris: Seq[String]): Dataset[(String, FileEntry)] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    spark.createDataset(IoPool.all(dirUris)(d => listDir(conf, d).map(d -> _)).flatten)
  }
}
