package graft.operators

import graft.functions.InstantFunctions
import graft.model.HudiTable
import graft.sources.{FsListing, SerializableConfiguration}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, SparkSession}

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
  * Execution shape: level-synchronous BFS. Each level's directory frontier
  * is distributed across executors (one listing task per directory batch,
  * see [[FsListing.listDirs]]); only the classification survivors return to
  * the driver. At 100k tables / millions of dirs the frontier per level
  * stays collect-able (dir uris + a boolean), and listing IO — the actual
  * cost — is fully parallel. Each level's job is named
  * `discover level <n> (<dirs> dirs)` (level 0 = the base paths).
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

  private final case class Dir(lake: String, db: String, uri: String, origin: String)

  /** Full-match exclusion (reference uses String.matches — anchor). */
  private def excluded(uri: String, patterns: Seq[String]): Boolean =
    patterns.exists(p => uri.matches(p))

  /** Run `body` with the Spark call site set to `label`, which names the
    * jobs and stages it launches, then restore the previous call site.
    */
  private def withCallSite[T](sc: SparkContext, label: String)(body: => T): T = {
    val prev = sc.getLocalProperty("callSite.short")
    sc.setCallSite(label)
    try body finally sc.setLocalProperty("callSite.short", prev)
  }

  /** Discover all Hudi tables under the given base paths. */
  def discover(
      spark: SparkSession,
      basePaths: Seq[BasePath],
      excludePatterns: Seq[String] = Nil): Dataset[HudiTable] = {
    import spark.implicits._
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val excludes = excludePatterns

    // tables are tagged with the base-path config they were discovered from:
    // a `path#tableId` pin applies AFTER discovery and only when the path
    // yielded exactly one table (TableDiscoveryService.java:96-117 — a
    // pinned path with zero or several tables contributes nothing)
    val found = Seq.newBuilder[(String, HudiTable)]

    var frontier: Seq[Dir] = basePaths
      .filterNot(bp => excluded(bp.cleanUri, excludes))
      .map(bp => Dir(bp.lakeName, bp.databaseName, bp.cleanUri, bp.uri))

    var level = 0
    while (frontier.nonEmpty) {
      val byUri = frontier.map(d => d.uri -> d).toMap
      // distribute the level's listings; classify on executors, collect survivors
      val listing =
        spark.createDataset(frontier.map(_.uri))
          .repartition(math.max(1, math.min(frontier.size, FsListing.MaxInFlight)))
          .mapPartitions { uris =>
            val c = conf.value
            uris.map { uri =>
              val entries = FsListing.listDir(c, uri)
              val isTable = entries.exists(_.filename.startsWith(".hoodie"))
              val subdirs =
                if (isTable) Nil
                else entries.filter(_.isDirectory).map(e => s"$uri/${e.filename}")
              (uri, isTable, subdirs)
            }
          }
      val listed: Array[(String, Boolean, Seq[String])] =
        withCallSite(spark.sparkContext, s"discover level $level (${frontier.size} dirs)")(listing.collect())

      val next = Seq.newBuilder[Dir]
      listed.foreach { case (uri, isTable, subdirs) =>
        val d = byUri(uri)
        if (isTable) {
          found += d.origin -> HudiTable(uri, d.db, d.lake, InstantFunctions.uuidV3(uri))
        } else {
          subdirs.filterNot(s => excluded(s, excludes))
            .foreach(s => next += Dir(d.lake, d.db, s, d.origin))
        }
      }
      frontier = next.result()
      level += 1
    }

    val pinnedIdByOrigin = basePaths
      .flatMap(bp => bp.pinnedId.map(bp.uri -> _)).toMap
    val tables = found.result().groupBy(_._1).toSeq.flatMap { case (origin, ts) =>
      pinnedIdByOrigin.get(origin) match {
        case Some(id) =>
          if (ts.size == 1) ts.map(_._2.copy(tableId = id))
          else Nil // ambiguous or empty pin: exactly-one rule
        case None => ts.map(_._2)
      }
    }
    spark.createDataset(tables).distinct()
  }
}
