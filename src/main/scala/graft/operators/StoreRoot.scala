package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** What a store kind is keyed on: its directory under the JVM temp dir
  * (`graft-<name>`), the corpus table it derives from, and its on-disk
  * format version. Each build-once store object declares one.
  */
final case class StoreKind(name: String, table: String, version: Int)

/** The lifecycle every build-once store shares ([[DupGraph]],
  * [[MinHashIndex]], [[TextIndex]], [[MediaGraph]], [[KmvStore]],
  * [[IvfIndex]], [[PqIndex]], [[SqIndex]]); the stores keep only their
  * format-specific build, append, delete and read code.
  *
  *  - [[key]]: (source table fingerprint, kind, format version, tag) →
  *    `${java.io.tmpdir}/graft-<kind>/<16 hex>`, so a regenerated corpus,
  *    a changed on-disk format or a differently-shaped build never reuses
  *    a stale store. A cache, not a deliverable.
  *  - [[ensureAt]]: build once. The build writes into a dot-prefixed
  *    staging sibling (invisible to partition discovery), the ready
  *    [[Marker]] lands in the stage last, and each top-level entry of the
  *    stage is published by rename ([[DirSwap.swapInto]]), the marker
  *    last. A crash anywhere leaves no marker, so the next ensure rebuilds
  *    from an empty stage and never reads the partial files. Only the
  *    entries the build wrote are replaced: stores nested under another
  *    store's root (the dup graph's `sig`, `sig_<tag>` and `labels`) stay
  *    independent. Ensures of one root within a JVM run one at a time.
  *  - [[dataFiles]] / [[hasData]]: the parquet files of a store directory,
  *    flat or under partition directories (`batch_id=N`, `bkt=N`,
  *    `cell=N/batch_id=M`). Batch-driven stores grow by dynamic partition
  *    overwrite and carry no marker: they are ready once they hold data.
  */
object StoreRoot {

  /** The ready marker: a store root is complete iff it holds this file. */
  val Marker = "_GRAFT_READY"

  /** The store root for `kind` over the corpus at `dir`, keyed by the
    * source table's (bytes, mtime), the kind's format version and `tag`.
    */
  def key(spark: SparkSession, dir: String, kind: StoreKind, tag: String = ""): String = {
    val p = new Path(s"$dir/${kind.table}.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val mtime = fs.getFileStatus(p).getModificationTime
    val fp = s"$dir|${kind.name}|v${kind.version}|$bytes|$mtime|$tag"
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    s"${System.getProperty("java.io.tmpdir")}/graft-${kind.name}/$h"
  }

  /** Whether a completed build is published at `root`. */
  def ready(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root, Marker)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** [[ensureAt]] the [[key]]ed root; returns it. */
  def ensure(spark: SparkSession, dir: String, kind: StoreKind, tag: String = "")(
      build: String => Unit): String =
    ensureAt(spark, key(spark, dir, kind, tag))(build)

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]

  /** Unless `root` is [[ready]], run `build` (any build/append sequence
    * writing under the path it is given) into a fresh stage and publish
    * it; returns `root`.
    */
  def ensureAt(spark: SparkSession, root: String)(build: String => Unit): String = {
    if (!ready(spark, root))
      locks.computeIfAbsent(root, _ => new Object).synchronized {
        if (!ready(spark, root)) publish(spark, new Path(root), build)
      }
    root
  }

  private def publish(spark: SparkSession, root: Path, build: String => Unit): Unit = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = DirSwap.stagePath(root)
    fs.delete(stage, true) // a crashed attempt's leftovers
    build(stage.toString)
    fs.create(new Path(stage, Marker), true).close()
    fs.mkdirs(root)
    val (marker, data) = fs.listStatus(stage).partition(_.getPath.getName == Marker)
    (data ++ marker).foreach { st =>
      DirSwap.swapInto(fs, st.getPath, new Path(root, st.getPath.getName))
    }
    fs.delete(stage, true)
  }

  /** The parquet data files under `dir`, flat or below partition
    * directories at any depth; hidden entries (`_SUCCESS`, `_temporary`,
    * dot-prefixed stages) are skipped, as Spark's reader skips them. Lazy:
    * [[hasData]] stops listing at the first file.
    */
  def dataFiles(spark: SparkSession, dir: String): Iterator[Path] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Iterator[Path] = fs.listStatus(p).iterator.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(".") || n.startsWith("_")) Iterator.empty
      else if (st.isDirectory) walk(st.getPath)
      else if (n.endsWith(".parquet")) Iterator(st.getPath)
      else Iterator.empty
    }
    if (fs.exists(root)) walk(root) else Iterator.empty
  }

  /** Whether `dir` holds any parquet data ([[dataFiles]]). */
  def hasData(spark: SparkSession, dir: String): Boolean =
    dataFiles(spark, dir).hasNext
}
