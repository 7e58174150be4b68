package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** A seeded Hudi metadata lake on the emulated store.
  *
  * Tables are laid out in the order the sync job batches them (sorted by
  * uri, [[BatchSize]] per batch), and every batch gets the same multiset
  * of commit counts from [[Profile]]: a few tables hold most commits, and
  * the seed only decides which table in a batch gets which count, type and
  * layout. So straggler structure, and with it the sync time, does not
  * swing with the seed.
  *
  * Per batch: half the tables are MERGE_ON_READ (deltacommits, a
  * compaction every 8th instant), half COPY_ON_WRITE (commits, a clean
  * every 10th); [[LsmPerBatch]] use timeline layout 2 (V9 names, LSM
  * history) and the rest layout 1 with two V1 archive files;
  * [[InflightPerBatch]] end in an in-flight commit. Completed commit files
  * carry KB-sized JSON.
  */
object Lake {
  val BatchSize = 20
  val Profile: Seq[Int] = Seq(12, 10, 8, 7, 6, 6, 5, 5, 5, 4, 4, 4, 4, 4, 3, 3, 3, 3, 3, 3)
  val LsmPerBatch = 2
  val InflightPerBatch = 3
  val Databases = 4

  final case class Instant(ts: Long, action: String, completedAction: String, latencyMs: Long)

  final case class Table(db: String, name: String, mor: Boolean, layout: Int,
      instants: Vector[Instant], inflightTail: Option[Instant]) {
    def path: String = s"/$db/$name"
    def hoodie: String = s"$path/.hoodie"
    def activeDir: String = if (layout >= 2) s"$hoodie/timeline" else hoodie
    def archivedDir: String = if (layout >= 2) s"$hoodie/timeline/history" else s"$hoodie/archived"
  }

  private val TsFormat = DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
  def tsString(epochMs: Long): String =
    LocalDateTime.ofEpochSecond(epochMs / 1000, (epochMs % 1000).toInt * 1000000, ZoneOffset.UTC)
      .format(TsFormat)

  /** Timeline file names of one complete instant: requested, inflight, completed. */
  def instantFiles(t: Table, i: Instant): Seq[String] = {
    val ts = tsString(i.ts)
    val done =
      if (t.layout >= 2) s"${ts}_${tsString(i.ts + i.latencyMs)}.${i.completedAction}"
      else s"$ts.${i.completedAction}"
    Seq(s"$ts.${i.action}.requested", s"$ts.${i.action}.inflight", done)
  }

  private def inflightFiles(i: Instant): Seq[String] = {
    val ts = tsString(i.ts)
    Seq(s"$ts.${i.action}.requested", s"$ts.${i.action}.inflight")
  }

  private def archiveFiles(t: Table): Seq[String] =
    if (t.layout >= 2) Seq("00000000000001_00000000000002_0.parquet",
      "00000000000003_00000000000004_0.parquet", "00000000000005_00000000000006_0.parquet",
      "manifest_1", "manifest_2", "_version_")
    else Seq(".commits_.archive.1_1-0-1", ".commits_.archive.2_1-0-1")

  /** Archived files the mirror copies: V1 archives, or the latest LSM
    * manifest's parquet files plus manifest and version marker.
    */
  def mirroredArchive(t: Table): Seq[String] =
    if (t.layout >= 2) archiveFiles(t).filterNot(_ == "manifest_1") else archiveFiles(t)

  private def nextInstant(rnd: SplittableRandom, mor: Boolean, k: Int, ts: Long): Instant = {
    val latency = 200L + rnd.nextInt(4800)
    if (mor && k % 8 == 7) Instant(ts, "compaction", "commit", latency)
    else if (!mor && k % 10 == 9) Instant(ts, "clean", "clean", latency)
    else if (mor) Instant(ts, "deltacommit", "deltacommit", latency)
    else Instant(ts, "commit", "commit", latency)
  }

  private val Start = 1704067200000L // 2024-01-01T00:00:00Z

  /** The lake's tables for `nTables` (a multiple of [[BatchSize]]). */
  def tables(seed: Long, nTables: Int): IndexedSeq[Table] = {
    require(nTables % BatchSize == 0)
    val rnd = new SplittableRandom(seed)
    // names sort in generation order (db, then zero-padded table index),
    // so generation batch == sync batch
    (0 until nTables / BatchSize).flatMap { b =>
      val counts = shuffle(rnd, Profile.toIndexedSeq)
      val lsm = shuffle(rnd, (0 until BatchSize).toIndexedSeq).take(LsmPerBatch).toSet
      val inflight = shuffle(rnd, (0 until BatchSize).toIndexedSeq).take(InflightPerBatch).toSet
      val mor = shuffle(rnd, (0 until BatchSize).toIndexedSeq).take(BatchSize / 2).toSet
      (0 until BatchSize).map { j =>
        val idx = b * BatchSize + j
        val db = s"db${idx * Databases / nTables}"
        var ts = Start + rnd.nextInt(86400) * 1000L
        val instants = (0 until counts(j)).map { k =>
          ts += 60000L + rnd.nextInt(3600000)
          nextInstant(rnd, mor(j), k, ts)
        }.toVector
        val tail = if (inflight(j)) {
          ts += 60000L
          Some(nextInstant(rnd, mor(j), counts(j), ts))
        } else None
        Table(db, f"tbl$idx%04d", mor(j), if (lsm(j)) 2 else 1, instants, tail)
      }
    }
  }

  private def shuffle[T](rnd: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] =
    new scala.util.Random(rnd.nextLong()).shuffle(xs)

  /** Commit metadata JSON: write stats for a few partitions, ~1-3 KB. */
  private def commitJson(rnd: SplittableRandom, i: Instant): Array[Byte] = {
    val parts = (0 until 4 + rnd.nextInt(8)).map { p =>
      val fileId = java.util.UUID.nameUUIDFromBytes(s"${i.ts}-$p".getBytes(UTF_8))
      s"""{"partitionPath":"dt=2024-01-${10 + p}","fileId":"$fileId",""" +
        s""""numWrites":${rnd.nextInt(100000)},"numDeletes":${rnd.nextInt(100)},""" +
        s""""numUpdateWrites":${rnd.nextInt(5000)},"totalWriteBytes":${rnd.nextInt(1 << 26)},""" +
        s""""totalWriteErrors":0,"fileSizeInBytes":${rnd.nextInt(1 << 27)}}"""
    }
    (s"""{"partitionToWriteStats":[${parts.mkString(",")}],"compacted":""" +
      s"""${i.action == "compaction"},"operationType":"UPSERT","extraMetadata":{}}""").getBytes(UTF_8)
  }

  /** Write one table's instant files to the store (uncounted). */
  def putInstant(bucket: String, t: Table, i: Instant, rnd: SplittableRandom, complete: Boolean): Unit = {
    val files = if (complete) instantFiles(t, i) else inflightFiles(i)
    files.zipWithIndex.foreach { case (f, k) =>
      val data =
        if (k == 2) commitJson(rnd, i)
        else if (k == 1) s"""{"operationType":"UPSERT","instant":"${tsString(i.ts)}"}""".getBytes(UTF_8)
        else Array.emptyByteArray
      BenchFs.put(bucket, s"${t.activeDir}/$f", data, i.ts + k)
    }
  }

  /** Lay the whole lake out in `bucket`, plus one non-table directory per
    * database that discovery has to descend into and reject.
    */
  def write(bucket: String, seed: Long, ts: Seq[Table]): Unit = {
    BenchFs.clear(bucket)
    val rnd = new SplittableRandom(seed ^ 0x5deece66dL)
    ts.map(_.db).distinct.foreach { db =>
      BenchFs.put(bucket, s"/$db/_staging/notes.txt", "not a table".getBytes(UTF_8), Start)
    }
    ts.foreach { t =>
      val props =
        s"hoodie.table.name=${t.name}\nhoodie.table.type=${if (t.mor) "MERGE_ON_READ" else "COPY_ON_WRITE"}\n" +
          s"hoodie.table.version=${if (t.layout >= 2) 8 else 6}\n" +
          s"hoodie.timeline.layout.version=${t.layout}\n"
      BenchFs.put(bucket, s"${t.hoodie}/hoodie.properties", props.getBytes(UTF_8), Start)
      t.instants.foreach(i => putInstant(bucket, t, i, rnd, complete = true))
      t.inflightTail.foreach(i => putInstant(bucket, t, i, rnd, complete = false))
      archiveFiles(t).foreach { f =>
        val data = f match {
          case "_version_" => "2".getBytes(UTF_8)
          case m if m.startsWith("manifest_") =>
            val n = if (m == "manifest_1") 2 else 3
            val files = archiveFiles(t).take(n).map(p => s"""{"fileName":"$p","fileLen":2048}""")
            s"""{"files":[${files.mkString(",")}]}""".getBytes(UTF_8)
          case _ => Array.fill[Byte](2048)(1)
        }
        BenchFs.put(bucket, s"${t.archivedDir}/$f", data, Start)
      }
    }
  }

  /** Mirror keys a complete sync of `t` must produce, relative to the
    * mirror root: `<tableId>/archived/...` and `<tableId>/active/...`.
    */
  def expectedMirror(t: Table, tableId: String): Set[String] = {
    val active = t.instants.flatMap(i => instantFiles(t, i)) ++
      (if (t.layout >= 2) Nil else Seq("hoodie.properties"))
    (active.map(f => s"/$tableId/active/$f") ++
      mirroredArchive(t).map(f => s"/$tableId/archived/$f")).toSet
  }

  /** Append `n` complete instants to `t` on the store; returns the table
    * with them and the new timeline file names.
    */
  def append(bucket: String, t: Table, n: Int, rnd: SplittableRandom): (Table, Seq[String]) = {
    var ts = t.instants.last.ts
    val added = (0 until n).map { k =>
      ts += 60000L + rnd.nextInt(600000)
      nextInstant(rnd, t.mor, t.instants.size + k, ts)
    }
    val t2 = t.copy(instants = t.instants ++ added)
    added.foreach(i => putInstant(bucket, t2, i, rnd, complete = true))
    (t2, added.flatMap(i => instantFiles(t2, i)))
  }
}
