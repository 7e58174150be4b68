package graft.operators

import scala.collection.mutable

import graft.functions.InstantFunctions
import graft.model.HudiTable
import graft.sources.{FsListing, IoPool}
import org.apache.hadoop.conf.Configuration

/** Recursive Hudi-table discovery (SURVEY §2.2 D1-D5). Reference semantics
  * (`metadata_extractor/TableDiscoveryService.java:59-196`):
  *
  *   - a directory IS a table iff its listing contains an entry whose name
  *     starts with ".hoodie" (D1); recursion descends only into
  *     subdirectories of non-table dirs;
  *   - exclusion patterns are java-regex FULL matches against the directory
  *     uri (D2) — pruned before descending;
  *   - a base path may pin an explicit tableId with the `path#tableId`
  *     suffix (D3); otherwise tableId = UUIDv3 of "uri" (D5, matching
  *     java.util.UUID.nameUUIDFromBytes);
  *   - results are deduplicated across base paths (D4).
  *
  * Execution shape: level-synchronous BFS on the driver, as the
  * reference's one future per directory (SURVEY §DI graph row 6, hazard 4).
  * Each level's listings run concurrently on the shared [[IoPool]], one
  * `list` per distinct directory, and only the calling thread joins them;
  * no Spark job is launched. A failed listing fails the discovery with the
  * level's first failure in frontier order, after its other listings end.
  */
object TableDiscovery {

  /** One configured base path (reference config Database.basePaths). */
  final case class BasePath(
      lakeName: String,
      databaseName: String,
      uri: String) {
    /** `path#tableId` pins an explicit id (TableDiscoveryService.java:38). */
    def pinnedId: Option[String] = {
      val i = uri.lastIndexOf('#')
      if (i >= 0) Some(uri.substring(i + 1)) else None
    }
    def cleanUri: String = {
      val i = uri.lastIndexOf('#')
      (if (i >= 0) uri.substring(0, i) else uri).stripSuffix("/")
    }
  }

  /** Full-match exclusion (reference uses String.matches — anchor). */
  private def excluded(uri: String, patterns: Seq[String]): Boolean =
    patterns.exists(p => uri.matches(p))

  /** Discover all Hudi tables under the given base paths: per base path in
    * config order, its tables in BFS order, then deduplicated (D4).
    */
  def discover(
      conf: Configuration,
      basePaths: Seq[BasePath],
      excludePatterns: Seq[String] = Nil): Seq[HudiTable] = {
    // every frontier dir carries the index of the base-path config it was
    // reached from: a `path#tableId` pin applies AFTER discovery and per
    // config, only when that config yielded exactly one table
    // (TableDiscoveryService.java:96-117 — a pinned path with zero or
    // several tables contributes nothing)
    val configs = basePaths.toIndexedSeq
    val found = configs.map(_ => Seq.newBuilder[HudiTable])
    var frontier: Seq[(Int, String)] = configs.zipWithIndex.collect {
      case (bp, i) if !excluded(bp.cleanUri, excludePatterns) => i -> bp.cleanUri
    }
    while (frontier.nonEmpty) {
      val uris = frontier.map(_._2).distinct
      val listed = uris.zip(IoPool.all(uris)(FsListing.listDir(conf, _))).toMap
      frontier = frontier.flatMap { case (i, uri) =>
        val entries = listed(uri)
        if (entries.exists(_.filename.startsWith(".hoodie"))) {
          val bp = configs(i)
          found(i) += HudiTable(uri, bp.databaseName, bp.lakeName, InstantFunctions.uuidV3(uri))
          Nil
        } else entries.collect { case e if e.isDirectory => s"$uri/${e.filename}" }
          .filterNot(excluded(_, excludePatterns)).map(i -> _)
      }
    }
    val tables = configs.zip(found).flatMap { case (bp, b) =>
      val ts = b.result()
      bp.pinnedId match {
        case Some(id) => if (ts.size == 1) ts.map(_.copy(tableId = id)) else Nil
        case None => ts
      }
    }
    mutable.LinkedHashSet(tables: _*).toSeq
  }
}
