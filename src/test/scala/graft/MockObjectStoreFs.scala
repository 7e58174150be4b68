package graft

import java.io.{EOFException, FileNotFoundException, IOException}
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** In-memory Hadoop `FileSystem` with OBJECT-STORE semantics, registered
  * under the foreign scheme `mocks3://` — the closest a sandbox gets to
  * "point the engine at real S3": every storage call (discovery listing,
  * properties read, byte mirror, checkpoint write) resolves the scheme
  * through `Path.getFileSystem` exactly as s3a/gs/abfss would, instead of
  * short-circuiting onto local files. Deliberately store-shaped where local
  * FS is not:
  *
  *   - `listStatus` returns children in STRICT LEXICOGRAPHIC key order
  *     (S3 ListObjectsV2 contract; local FS order is arbitrary);
  *   - `append` is unsupported (objects are immutable);
  *   - writes become visible atomically at stream close (PUT semantics);
  *   - parent "directories" spring into existence with a write (implicit
  *     prefixes), and empty directories exist only via `mkdirs` markers.
  *
  * Backing state is JVM-global per bucket (authority) — local-mode
  * executors share it, which is what the specs run. So is the store's
  * instrumentation: per-bucket call counts by kind (every public call is
  * one round trip), the most calls ever in flight at once, the order in
  * which written objects became visible, injectable per-call and per-path
  * delays, and two injectable faults on selected calls: a terminal one
  * (access denied) and a transient one (a plain `IOException`, which the
  * program retries).
  */
class MockObjectStoreFs extends FileSystem {

  private var fsUri: URI = _
  private var workingDir: Path = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    fsUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    workingDir = new Path(s"$fsUri/")
    setConf(conf)
  }

  override def getScheme: String = "mocks3"
  override def getUri: URI = fsUri
  override def getWorkingDirectory: Path = workingDir
  override def setWorkingDirectory(dir: Path): Unit = { workingDir = dir }

  private def store = MockObjectStoreFs.bucket(fsUri.getAuthority)

  /** Absolute key of a path: "/a/b" (root = "/"). */
  private def key(p: Path): String = {
    val k = makeQualified(p).toUri.getPath
    if (k.isEmpty || k == "/") "/" else k.stripSuffix("/")
  }

  private def qualify(k: String): Path = new Path(s"$fsUri$k")

  /** Every public call goes through here: count, then (while the call is
    * in flight) the injected delay, the fault checks and the call itself.
    */
  private def call[T](kind: String, p: Path)(body: => T): T = {
    val uri = s"$fsUri${key(p)}"
    val bucketName = fsUri.getAuthority
    MockObjectStoreFs.count(bucketName, kind)
    MockObjectStoreFs.enter(bucketName)
    try {
      val delayMs = MockObjectStoreFs.callDelayMs + MockObjectStoreFs.delayWhen(uri)
      if (delayMs > 0) Thread.sleep(delayMs)
      if (MockObjectStoreFs.failWhen(uri))
        throw new org.apache.hadoop.security.AccessControlException(s"injected fault: $uri")
      if (MockObjectStoreFs.transientFaultWhen(kind, uri))
        throw new IOException(s"injected transient fault: $kind $uri")
      body
    } finally MockObjectStoreFs.exit(bucketName)
  }

  private def status(k: String, e: MockObjectStoreFs.Entry): FileStatus =
    new FileStatus(if (e.isDir) 0L else e.data.length.toLong, e.isDir, 1,
      64L * 1024 * 1024, e.mtime, qualify(k))

  override def getFileStatus(f: Path): FileStatus = call("status", f) {
    val k = key(f)
    if (k == "/") new FileStatus(0, true, 1, 0, 0, qualify("/"))
    else store.get(k) match {
      case null => throw new FileNotFoundException(s"$f")
      case e => status(k, e)
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = call("list", f) {
    val k = key(f)
    val st = if (k == "/") None else Option(store.get(k))
    if (k != "/" && st.isEmpty) throw new FileNotFoundException(s"$f")
    if (st.exists(!_.isDir)) Array(status(k, st.get))
    else {
      val prefix = if (k == "/") "/" else k + "/"
      val out = Array.newBuilder[FileStatus]
      val it = store.subMap(prefix, prefix + Character.MAX_VALUE).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (!e.getKey.substring(prefix.length).contains('/')) { // direct child
          out += status(e.getKey, e.getValue)
        }
      }
      out.result() // lexicographic: the backing map is key-sorted
    }
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = call("mkdirs", f) {
    putDirs(f)
    true
  }

  /** Implicit parent prefixes of a write: part of that write, no call. */
  private def putDirs(f: Path): Unit = {
    var k = key(f)
    while (k != "/") {
      store.putIfAbsent(k, MockObjectStoreFs.Entry(isDir = true, Array.emptyByteArray,
        System.currentTimeMillis()))
      if (store.get(k) != null && !store.get(k).isDir)
        throw new IOException(s"not a directory: $k")
      k = key(new Path(k).getParent)
    }
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = call("create", f) {
    val k = key(f)
    val existing = store.get(k)
    if (existing != null && existing.isDir) throw new IOException(s"is a directory: $k")
    if (existing != null && !overwrite) throw new FileAlreadyExistsException(s"$f")
    val buf = new java.io.ByteArrayOutputStream()
    new FSDataOutputStream(new java.io.FilterOutputStream(buf) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit = buf.write(b, off, len)
      override def close(): Unit = { // PUT: visible atomically at close
        putDirs(f.getParent)
        store.put(k, MockObjectStoreFs.Entry(isDir = false, buf.toByteArray,
          System.currentTimeMillis()))
        MockObjectStoreFs.written(fsUri.getAuthority, k)
      }
    }, statistics)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("objects are immutable")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = call("open", f) {
    val k = key(f)
    val e = store.get(k)
    if (e == null || e.isDir) throw new FileNotFoundException(s"$f")
    new FSDataInputStream(new MockObjectStoreFs.BytesSeekable(e.data))
  }

  override def rename(src: Path, dst: Path): Boolean = call("rename", src) {
    val sk = key(src)
    val dk = key(dst)
    if (store.get(sk) == null) false
    else {
      // destination that is an existing dir receives the source INTO it
      val target = store.get(dk) match {
        case e if e != null && e.isDir => dk + "/" + new Path(sk).getName
        case _ => dk
      }
      val moved = new java.util.TreeMap[String, MockObjectStoreFs.Entry]()
      val it = store.subMap(sk, sk + Character.MAX_VALUE).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey == sk || e.getKey.startsWith(sk + "/")) {
          moved.put(target + e.getKey.substring(sk.length), e.getValue)
        }
      }
      store.keySet().removeIf(k => k == sk || k.startsWith(sk + "/"))
      store.putAll(moved)
      putDirs(new Path(target).getParent)
      true
    }
  }

  override def delete(f: Path, recursive: Boolean): Boolean = call("delete", f) {
    val k = key(f)
    if (k == "/") throw new IOException("cannot delete root")
    val e = store.get(k)
    if (e == null) false
    else {
      val hasChildren = !store.subMap(k + "/", k + "/" + Character.MAX_VALUE).isEmpty
      if (e.isDir && hasChildren && !recursive) throw new IOException(s"not empty: $k")
      store.keySet().removeIf(x => x == k || x.startsWith(k + "/"))
      true
    }
  }
}

object MockObjectStoreFs {
  final case class Entry(isDir: Boolean, data: Array[Byte], mtime: Long)

  private val buckets =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentSkipListMap[String, Entry]]()

  def bucket(name: String): java.util.concurrent.ConcurrentSkipListMap[String, Entry] =
    buckets.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentSkipListMap[String, Entry]())

  /** Drop a bucket's contents, call counts, peak and write order (spec
    * isolation).
    */
  def clear(name: String): Unit = {
    bucket(name).clear()
    callCounts.remove(name)
    inFlight.remove(name)
    writeOrder.remove(name)
  }

  private val callCounts = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]]()
  private val writeOrder = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.ConcurrentLinkedQueue[String]]()

  private def count(bucketName: String, kind: String): Unit =
    callCounts.computeIfAbsent(bucketName, _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent(kind, _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()

  /** Per bucket: calls in flight now, and the most ever in flight at once. */
  private val inFlight = new java.util.concurrent.ConcurrentHashMap[String,
    (java.util.concurrent.atomic.AtomicInteger, java.util.concurrent.atomic.AtomicInteger)]()

  private def flight(bucketName: String) = inFlight.computeIfAbsent(bucketName, _ =>
    (new java.util.concurrent.atomic.AtomicInteger, new java.util.concurrent.atomic.AtomicInteger))

  private def enter(bucketName: String): Unit = {
    val (now, peak) = flight(bucketName)
    peak.accumulateAndGet(now.incrementAndGet(), (a, b) => math.max(a, b))
  }

  private def exit(bucketName: String): Unit = flight(bucketName)._1.decrementAndGet()

  /** The most calls ever in flight at once on a bucket since its last `clear`. */
  def peakInFlight(bucketName: String): Int = flight(bucketName)._2.get

  private def written(bucketName: String, k: String): Unit =
    writeOrder.computeIfAbsent(bucketName, _ => new java.util.concurrent.ConcurrentLinkedQueue())
      .add(k)

  /** Calls made on a bucket since its last `clear`, by kind: list, status,
    * open, create, rename, delete, mkdirs (absent kinds are not listed).
    */
  def calls(bucketName: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    Option(callCounts.get(bucketName)).map(_.asScala.map { case (k, v) => k -> v.get }.toMap)
      .getOrElse(Map.empty)
  }

  /** Calls made on a bucket since the `calls` snapshot `before`, by kind
    * (kinds with no call left out).
    */
  def callsSince(bucketName: String, before: Map[String, Long]): Map[String, Long] =
    calls(bucketName).map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }.filter(_._2 > 0)

  /** Keys of the objects written to a bucket, in the order they became
    * visible (stream close).
    */
  def writes(bucketName: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Option(writeOrder.get(bucketName)).map(_.asScala.toSeq).getOrElse(Nil)
  }

  /** Calls whose `mocks3://bucket/key` uri this selects throw
    * `AccessControlException`, which the program treats as terminal.
    */
  @volatile var failWhen: String => Boolean = _ => false

  /** Calls whose (kind, `mocks3://bucket/key` uri) this selects throw a
    * plain `IOException`, which the program treats as transient (T6
    * retry). Each call asks again, so a stateful selector decides how many
    * calls fail.
    */
  @volatile var transientFaultWhen: (String, String) => Boolean = (_, _) => false

  /** Every call sleeps this long while in flight, so calls a caller issues
    * together overlap measurably ([[peakInFlight]]).
    */
  @volatile var callDelayMs: Long = 0L

  /** A call on a `mocks3://bucket/key` uri sleeps this much longer while in
    * flight, so one slow object can stand for a slow table. Every call asks,
    * so the selector also sees each call's uri in the order calls start.
    */
  @volatile var delayWhen: String => Long = _ => 0L

  private class BytesSeekable(bytes: Array[Byte])
      extends java.io.ByteArrayInputStream(bytes) with Seekable with PositionedReadable {
    override def seek(p: Long): Unit = { pos = p.toInt }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int = {
      if (position >= bytes.length) -1
      else {
        val n = math.min(length, bytes.length - position.toInt)
        System.arraycopy(bytes, position.toInt, buffer, offset, n)
        n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit = {
      var done = 0
      while (done < length) {
        val n = read(position + done, buffer, offset + done, length - done)
        if (n < 0) throw new EOFException
        done += n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}
