package perfbench

import java.io.{EOFException, FileNotFoundException, IOException}
import java.net.URI
import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.AccessControlException
import org.apache.hadoop.util.Progressable

/** The benchmark's object-store emulation, registered as `benchfs://`
  * through `fs.benchfs.impl`. Objects live in memory (one sorted map per
  * bucket), so the store adds no disk noise; every call pays a fixed
  * delay, the way each call to a real store pays a round trip.
  *
  * The store is also the storage layer's probe: it counts calls by kind,
  * bytes written and busy time, remembers each table's first and last
  * call, and can fail the calls a self-check selects.
  *
  * Object-store semantics: listings are in key order, writes become
  * visible at stream close, parents exist implicitly, no append.
  */
class BenchFs extends FileSystem {
  import BenchFs._

  private var fsUri: URI = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    fsUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    setConf(conf)
  }

  override def getScheme: String = Scheme
  override def getUri: URI = fsUri
  override def getWorkingDirectory: Path = new Path(s"$fsUri/")
  override def setWorkingDirectory(dir: Path): Unit = ()

  private def bucket = BenchFs.bucket(fsUri.getAuthority)

  private def key(p: Path): String = {
    val k = makeQualified(p).toUri.getPath
    if (k.isEmpty || k == "/") "/" else k.stripSuffix("/")
  }

  private def qualify(k: String): Path = new Path(s"$fsUri$k")

  private def status(k: String, e: Entry): FileStatus =
    new FileStatus(if (e.isDir) 0L else e.data.length.toLong, e.isDir, 1,
      64L * 1024 * 1024, e.mtime, qualify(k))

  /** Every public call goes through here: fault check, delay, counters. */
  private def call[T](kind: Int, p: Path)(body: => T): T = {
    val uri = s"$fsUri${key(p)}"
    val t0 = System.nanoTime()
    enter(t0)
    try {
      if (failWhen(uri)) throw new AccessControlException(s"injected fault: $uri")
      if (delayNanos > 0) LockSupport.parkNanos(delayNanos)
      body
    } finally {
      val t1 = System.nanoTime()
      exit(t1)
      calls(kind).incrementAndGet()
      if (kind == Create) createsByBucket.computeIfAbsent(fsUri.getAuthority, _ => new AtomicLong).incrementAndGet()
      busyNanos.addAndGet(t1 - t0)
      val table = tableOf(uri)
      if (table != null) tableSpans.merge(table, Array(t0, t1),
        (a, b) => Array(math.min(a(0), b(0)), math.max(a(1), b(1))))
    }
  }

  override def getFileStatus(f: Path): FileStatus = call(Status, f) {
    val k = key(f)
    if (k == "/") new FileStatus(0, true, 1, 0, 0, qualify("/"))
    else bucket.get(k) match {
      case null => throw new FileNotFoundException(s"$f")
      case e => status(k, e)
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = call(List, f) {
    val k = key(f)
    val self = if (k == "/") null else bucket.get(k)
    if (k != "/" && self == null) throw new FileNotFoundException(s"$f")
    if (self != null && !self.isDir) Array(status(k, self))
    else {
      val prefix = if (k == "/") "/" else k + "/"
      val out = Array.newBuilder[FileStatus]
      val it = bucket.subMap(prefix, prefix + Character.MAX_VALUE).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (!e.getKey.substring(prefix.length).contains('/')) out += status(e.getKey, e.getValue)
      }
      out.result()
    }
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = call(Mkdirs, f) {
    putDirs(bucket, key(f))
    true
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = call(Create, f) {
    val k = key(f)
    val b = bucket
    val existing = b.get(k)
    if (existing != null && existing.isDir) throw new IOException(s"is a directory: $k")
    if (existing != null && !overwrite) throw new FileAlreadyExistsException(s"$f")
    val buf = new java.io.ByteArrayOutputStream()
    new FSDataOutputStream(new java.io.FilterOutputStream(buf) {
      override def write(bytes: Array[Byte], off: Int, len: Int): Unit = buf.write(bytes, off, len)
      override def close(): Unit = {
        val data = buf.toByteArray
        bytesWritten.addAndGet(data.length.toLong)
        putFile(b, k, data, clock.incrementAndGet())
      }
    }, statistics)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("objects are immutable")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = call(Open, f) {
    val e = bucket.get(key(f))
    if (e == null || e.isDir) throw new FileNotFoundException(s"$f")
    new FSDataInputStream(new Bytes(e.data))
  }

  override def rename(src: Path, dst: Path): Boolean = call(Rename, src) {
    val b = bucket
    val sk = key(src)
    val dk = key(dst)
    if (b.get(sk) == null) false
    else {
      val target = b.get(dk) match {
        case e if e != null && e.isDir => dk + "/" + new Path(sk).getName
        case _ => dk
      }
      val moved = new java.util.TreeMap[String, Entry]()
      val it = b.subMap(sk, sk + Character.MAX_VALUE).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey == sk || e.getKey.startsWith(sk + "/"))
          moved.put(target + e.getKey.substring(sk.length), e.getValue)
      }
      b.keySet().removeIf(x => x == sk || x.startsWith(sk + "/"))
      b.putAll(moved)
      putDirs(b, parentKey(target))
      true
    }
  }

  override def delete(f: Path, recursive: Boolean): Boolean = call(Delete, f) {
    val b = bucket
    val k = key(f)
    if (k == "/") throw new IOException("cannot delete root")
    val e = b.get(k)
    if (e == null) false
    else {
      val hasChildren = !b.subMap(k + "/", k + "/" + Character.MAX_VALUE).isEmpty
      if (e.isDir && hasChildren && !recursive) throw new IOException(s"not empty: $k")
      b.keySet().removeIf(x => x == k || x.startsWith(k + "/"))
      true
    }
  }
}

object BenchFs {
  val Scheme = "benchfs"

  final case class Entry(isDir: Boolean, data: Array[Byte], mtime: Long)

  val Kinds: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete", "mkdirs")
  private val List = 0
  private val Status = 1
  private val Open = 2
  private val Create = 3
  private val Rename = 4
  private val Delete = 5
  private val Mkdirs = 6

  private val buckets = new ConcurrentHashMap[String, ConcurrentSkipListMap[String, Entry]]()
  def bucket(name: String): ConcurrentSkipListMap[String, Entry] =
    buckets.computeIfAbsent(name, _ => new ConcurrentSkipListMap[String, Entry]())

  /** Fixed delay every call pays (the emulated round trip). */
  @volatile var delayNanos: Long = 0L
  /** Calls whose `benchfs://bucket/key` uri this selects throw
    * `AccessControlException`, which the program treats as terminal.
    */
  @volatile var failWhen: String => Boolean = _ => false
  /** Maps a uri to the table it belongs to (null: none), for per-table
    * first/last call times; null disables the tracking.
    */
  @volatile var tableOf: String => String = _ => null

  private val calls = Array.fill(Kinds.size)(new AtomicLong)
  private val bytesWritten = new AtomicLong
  private val busyNanos = new AtomicLong
  private val createsByBucket = new ConcurrentHashMap[String, AtomicLong]()
  private val tableSpans = new ConcurrentHashMap[String, Array[Long]]()
  /** Logical mtime for objects the program writes: deterministic, unlike
    * the wall clock, so checkpoint bytes repeat exactly across runs.
    */
  private val clock = new AtomicLong(1700000000000L)

  /** Wall time during which at least one call is in flight. */
  private object InFlight {
    var calls = 0
    var since = 0L
    var nanos = 0L
  }
  private def enter(t: Long): Unit = InFlight.synchronized {
    if (InFlight.calls == 0) InFlight.since = t
    InFlight.calls += 1
  }
  private def exit(t: Long): Unit = InFlight.synchronized {
    InFlight.calls -= 1
    if (InFlight.calls == 0) InFlight.nanos += t - InFlight.since
  }

  /** Cumulative counters: call counts by kind, bytes written, busy ms
    * (summed over concurrent calls), and the wall ms with a call in
    * flight.
    */
  final case class Counters(calls: Map[String, Long], bytesWritten: Long, busyMs: Double,
      inFlightMs: Double) {
    def minus(o: Counters): Counters = Counters(
      calls.map { case (k, v) => k -> (v - o.calls(k)) },
      bytesWritten - o.bytesWritten, busyMs - o.busyMs, inFlightMs - o.inFlightMs)
  }

  /** Objects created in one bucket so far. */
  def creates(bucketName: String): Long =
    Option(createsByBucket.get(bucketName)).map(_.get).getOrElse(0L)

  def counters(): Counters = {
    val inFlightNanos: Long = InFlight.synchronized(InFlight.nanos)
    Counters(Kinds.zip(calls.map(_.get)).toMap, bytesWritten.get, busyNanos.get / 1e6,
      inFlightNanos / 1e6)
  }

  /** Per-table (first call, last call) nanos since the last reset. */
  def tableWindows(): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    tableSpans.asScala.map { case (k, v) => k -> (v(0), v(1)) }.toMap
  }
  def resetTableWindows(): Unit = tableSpans.clear()

  private def parentKey(k: String): String = {
    val i = k.lastIndexOf('/')
    if (i <= 0) "/" else k.substring(0, i)
  }

  private def putDirs(b: ConcurrentSkipListMap[String, Entry], dir: String): Unit = {
    var k = dir
    while (k != "/") {
      val prev = b.putIfAbsent(k, Entry(isDir = true, Array.emptyByteArray, 0L))
      if (prev != null && !prev.isDir) throw new IOException(s"not a directory: $k")
      k = parentKey(k)
    }
  }

  private def putFile(b: ConcurrentSkipListMap[String, Entry], k: String,
      data: Array[Byte], mtime: Long): Unit = {
    putDirs(b, parentKey(k))
    b.put(k, Entry(isDir = false, data, mtime))
  }

  /** Write an object directly (no delay, not counted): how the benchmark
    * lays out its inputs before the timed calls start.
    */
  def put(bucketName: String, key: String, data: Array[Byte], mtime: Long): Unit =
    putFile(bucket(bucketName), key, data, mtime)

  /** Keys (with sizes) of every object under `prefix`, uncounted. */
  def objects(bucketName: String, prefix: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    bucket(bucketName).subMap(prefix, prefix + Character.MAX_VALUE).asScala
      .collect { case (k, e) if !e.isDir => k -> e.data.length }.toMap
  }

  def clear(bucketName: String): Unit = bucket(bucketName).clear()

  /** Copy one bucket's contents into another (a fresh lake per round). */
  def copyBucket(from: String, to: String): Unit = {
    val dst = bucket(to)
    dst.clear()
    dst.putAll(bucket(from))
  }

  private class Bytes(bytes: Array[Byte])
      extends java.io.ByteArrayInputStream(bytes) with Seekable with PositionedReadable {
    override def seek(p: Long): Unit = { pos = p.toInt }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int =
      if (position >= bytes.length) -1
      else {
        val n = math.min(length, bytes.length - position.toInt)
        System.arraycopy(bytes, position.toInt, buffer, offset, n)
        n
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
