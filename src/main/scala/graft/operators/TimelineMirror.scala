package graft.operators

import java.sql.Timestamp

import graft.model._
import graft.sources.{FsListing, HoodiePropertiesReader, IoPool, LsmManifestReader}
import graft.functions.InstantFunctions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The mirror sink (SURVEY §7 step 7): copies selected timeline files into a
  * local metadata lake with the reference's ordering and checkpoint
  * guarantees (`TimelineCommitInstantsUploader.java`):
  *
  *   - batches are strictly sequential per table; a batch's copies run
  *     concurrently and ALL of them finish before its checkpoint row is
  *     upserted (T2), so the checkpoint is the barrier between batches
  *     (the reference's `allOf` over a batch's PUTs, :690-734). A crash
  *     between mirror and checkpoint re-copies one batch, which is
  *     idempotent by filename; a failed copy fails the table with its
  *     first failure (batch order) once the batch's other copies are done;
  *   - archived V1 files are ordered by numeric archive index (O3) and
  *     mirrored before the active timeline (phase machine T3);
  *   - V2/LSM archived files are the manifest anti-join (J1) in
  *     parquets -> manifest_N -> _version_ publish order (T5): the
  *     snapshot's parquets are copied concurrently, then the trailer one
  *     file after the other, so a reader of the mirror never sees a
  *     manifest referencing unmirrored files;
  *   - the active timeline goes through [[ActiveTimelineBatcher]] with the
  *     configured blocking strategy, checkpoint marker = last file of each
  *     batch (O4 equivalent: batches are commit-atomic, so the last file of
  *     a batch is always a group boundary).
  *
  * Storage round trips per step: a copy is `open` + `create` (the store
  * makes parents on create; object stores have implicit prefixes), and a
  * checkpoint is [[CheckpointStore.upsert]]'s `create` + `delete` +
  * `rename`. The driver loop per table is the right altitude at metadata
  * scale (KB files): tables fan out over the driver's table threads like
  * the reference's (G7, at most 20 tables in flight), and each table's
  * batch fans its copies out on one shared, bounded I/O pool.
  */
object TimelineMirror {

  final case class MirrorResult(
      tableId: String,
      batchesMirrored: Int,
      filesMirrored: Int,
      checkpoint: Checkpoint)

  /** O4: checkpoint marker of an active batch — the first file of the
    * trailing same-ts commit group (= its completed file under O1 lexical
    * order), matching the reference's len-3 / len-2 / len-1 cascade
    * (`TimelineCommitInstantsUploader.java:982-1026`); a properties-only
    * batch marks itself.
    */
  def checkpointMarker(batch: Seq[FileEntry]): String = {
    val names = batch.map(_.filename)
    if (names.length == 1) names.head
    else {
      val ts = ActiveTimelineBatcher.parseInstant(names.last).ts
      val k = names.reverse.takeWhile(n =>
        n != "hoodie.properties" && ActiveTimelineBatcher.parseInstant(n).ts == ts).length
      names(names.length - k)
    }
  }

  /** P3: leading numeric token for the F2 already-uploaded filter. */
  private def commitId(name: String): Option[BigInt] = {
    val lead = name.split("\\.", 2)(0).split("_", 2)(0)
    if (lead.nonEmpty && lead.forall(_.isDigit)) Some(BigInt(lead)) else None
  }

  private val V1ArchiveIndex = InstantFunctions.V1ArchivedNumericPattern.r.unanchored
  /** O3/F3: the numeric archive index of a V1 archived file name. */
  private def archiveIndex(name: String): Long = name match { case V1ArchiveIndex(i) => i.toLong }

  /** One file: `open` + `create` (overwrite) + a byte copy, retried as a
    * whole. `create` makes the parent, so there is no per-file `mkdirs`.
    */
  private def copyFile(conf: Configuration, srcDir: String, name: String,
      dstDir: String): Unit = Retry.storageIO {
    val src = new Path(s"${srcDir.stripSuffix("/")}/$name")
    val dst = new Path(s"${dstDir.stripSuffix("/")}/$name")
    val in = src.getFileSystem(conf).open(src)
    try {
      val out = dst.getFileSystem(conf).create(dst, true)
      try in.transferTo(out) finally out.close()
    } finally in.close()
  }

  /** Copy one batch's files concurrently on the shared [[IoPool]] and wait
    * for every one of them: the caller's checkpoint never runs past an
    * unfinished batch, and a failure surfaces as [[IoPool.all]] rethrows it.
    */
  private def copyBatch(conf: Configuration, srcDir: String, names: Seq[String],
      dstDir: String): Unit =
    IoPool.all(names)(n => copyFile(conf, srcDir, n, dstDir))

  /** Mirror one table's archived (V1) + active timelines, checkpointing
    * after every batch. Batches run one after another, each batch's copies
    * concurrently. Returns per-table results; the caller keeps several
    * tables in flight at once. Storage is reached through `conf` alone,
    * and no Spark job runs.
    */
  def mirrorTable(
      conf: Configuration,
      table: HudiTable,
      props: HudiProperties,
      mirrorRoot: String,
      checkpointDir: String,
      maxBatchSize: Int = 20,
      strategy: UploadStrategy = UploadStrategy.BlockOnIncompleteCommit): MirrorResult = {
    val layout = props.timelineLayoutVersion
    val tableDst = s"${mirrorRoot.stripSuffix("/")}/${table.tableId}"

    val cpMap = CheckpointStore.loadTable(conf, checkpointDir, table.tableId)
    var cp = cpMap.getOrElse(TimelineType.Active, Checkpoint.initial)
    var nBatches = 0
    var nFiles = 0

    // ---- phase 1: archived timeline (T3) ----
    // V2/LSM re-checks the manifest EVERY sync: the snapshot version is the
    // checkpoint, so an unchanged version is a no-op and an advanced one
    // mirrors only the delta (J1; reference
    // TimelineCommitInstantsUploader.java:268-327). V1 archives are
    // append-only by index and processed once per checkpoint lifetime.
    if (layout >= 2) {
      val archDir = HoodiePropertiesReader.timelineDir(table.absoluteTableUri, layout, archived = true)
      val current = LsmManifestReader.latestSnapshot(conf, archDir)
      val advanced = current.version > cp.lastArchivedManifestVersion
      if (advanced) {
        // incremental: diff against the previously-mirrored manifest when we
        // have one; bootstrap copies the full current manifest
        val prevNames =
          if (cp.lastArchivedManifestVersion > 0)
            LsmManifestReader.readManifest(conf, archDir, cp.lastArchivedManifestVersion).parquetFileNames
          else Nil
        val toCopy = LsmManifestReader.newFiles(current,
          ManifestSnapshot(cp.lastArchivedManifestVersion, prevNames))
        // T5 publish order: every parquet (concurrently) -> manifest_N ->
        // _version_ last, so a mirror reader never sees a manifest
        // referencing unmirrored files
        val trailer = Seq(s"manifest_${current.version}", "_version_")
        copyBatch(conf, archDir, toCopy, s"$tableDst/archived")
        trailer.foreach(f => copyFile(conf, archDir, f, s"$tableDst/archived"))
        nFiles += toCopy.size + trailer.size
        nBatches += 1
        cp = cp.copy(lastArchivedManifestVersion = current.version)
      }
      if (advanced || !cp.archivedCommitsProcessed) {
        cp = cp.copy(archivedCommitsProcessed = true)
        CheckpointStore.upsert(conf, checkpointDir, table.tableId, TimelineType.Active, cp)
      }
    } else if (!cp.archivedCommitsProcessed) {
      val archDir = HoodiePropertiesReader.timelineDir(table.absoluteTableUri, layout, archived = true)
      // F3 resume: a crash mid-archived-phase left an Archived checkpoint
      // row; skip files at-or-below its numeric index and continue its batch
      // numbering instead of restarting the phase (reference
      // TimelineCommitInstantsUploader.java:854-874).
      val archCp = cpMap.get(TimelineType.Archived)
      val lastIdx: Long = archCp.flatMap(c => Option(c.lastUploadedFile))
        .filter(_.nonEmpty)
        .map(archiveIndex)
        .getOrElse(-1L)
      archCp.foreach(c => cp = cp.copy(batchId = c.batchId))
      // V1: numeric archive-index order (O3), fixed-size batches (G7 size 2)
      val files = FsListing.listDir(conf, archDir)
        .filter(f => !f.isDirectory &&
          f.filename.matches(InstantFunctions.ArchivedV1Pattern))
        .map(f => f -> archiveIndex(f.filename))
        .filter(_._2 > lastIdx)
        .sortBy(_._2)
        .map(_._1)
      files.grouped(2).foreach { batch =>
        copyBatch(conf, archDir, batch.map(_.filename), s"$tableDst/archived")
        nFiles += batch.size
        nBatches += 1
        cp = cp.copy(batchId = cp.batchId + 1,
          lastUploadedFile = batch.last.filename,
          checkpointTimestamp = batch.map(_.lastModifiedAt).max(Ordering.by((t: Timestamp) => t.getTime)))
        CheckpointStore.upsert(conf, checkpointDir, table.tableId, TimelineType.Archived, cp)
      }
      cp = cp.copy(archivedCommitsProcessed = true, lastUploadedFile = "",
        checkpointTimestamp = new Timestamp(0L))
      CheckpointStore.upsert(conf, checkpointDir, table.tableId, TimelineType.Active, cp)
    }

    // ---- phase 2: active timeline through the commit-atomic batcher ----
    val activeDir = HoodiePropertiesReader.timelineDir(table.absoluteTableUri, layout, archived = false)
    // F1: hoodie.properties is seeded into batch 0 only on a fresh active
    // checkpoint; incremental listings exclude it (reference
    // TimelineCommitInstantsUploader.java:804-852).
    val freshActive = cp.lastUploadedFile == null || cp.lastUploadedFile.isEmpty
    val nonBlocking = strategy == UploadStrategy.ContinueOnIncompleteCommit
    // F6: seek key — firstIncompleteCommitFile on the first non-blocking
    // fetch, else the checkpoint marker (TimelineCommitInstantsUploader.java:958-980).
    val startAfter =
      if (nonBlocking && cp.firstIncompleteCommitFile != null && cp.firstIncompleteCommitFile.nonEmpty)
        cp.firstIncompleteCommitFile
      else Option(cp.lastUploadedFile).getOrElse("")
    // F2: already-uploaded numeric dedup — disabled in non-blocking mode,
    // where pre-checkpoint files may still be incomplete (:854-874).
    val lastId = if (nonBlocking) None else Option(cp.lastUploadedFile).filter(_.nonEmpty).flatMap(commitId)
    val listed = FsListing.listDir(conf, activeDir, startAfter = startAfter)
      .filter(f => !f.isDirectory &&
        ((freshActive && f.filename == "hoodie.properties") ||
          (f.filename.matches(InstantFunctions.ActiveInstantPattern) &&
            lastId.forall(last => commitId(f.filename).forall(_ > last)))))
    // reset firstIncompleteCommitFile after deriving startAfter from it —
    // files after the watermark are re-listed, so a resolved gap clears and
    // only a still-incomplete group re-establishes it (reference
    // TimelineCommitInstantsUploader.java:165-174)
    val result = ActiveTimelineBatcher.createBatches(listed, maxBatchSize,
      cp.copy(firstIncompleteCommitFile = null), strategy)
    result.batches.foreach { batch =>
      copyBatch(conf, activeDir, batch.map(_.filename), s"$tableDst/active")
      nFiles += batch.size
      nBatches += 1
      cp = cp.copy(batchId = cp.batchId + 1,
        lastUploadedFile = checkpointMarker(batch),
        checkpointTimestamp = batch.map(_.lastModifiedAt)
          .max(Ordering.by((t: Timestamp) => t.getTime)),
        firstIncompleteCommitFile = result.firstIncompleteCommitFile.orNull)
      CheckpointStore.upsert(conf, checkpointDir, table.tableId, TimelineType.Active, cp)
    }

    MirrorResult(table.tableId, nBatches, nFiles, cp)
  }
}
