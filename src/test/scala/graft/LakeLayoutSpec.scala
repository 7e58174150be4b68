package graft

import graft.functions.ZOrder
import graft.operators.LakeLayout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The layout writer's claims, verified against what's actually on disk and
  * in the read plan: partition-pruned scans, one file per partition per
  * size-cap window (no small-files explosion), non-overlapping zone ranges
  * under clustering, and Z-order tiles pruning better than a lexicographic
  * sort for box predicates on the second dimension.
  */
class LakeLayoutSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  test("morton code: known values, per-dimension monotonicity, sign bias") {
    // interleave of small non-negative values matches the textbook bit
    // pattern, offset by the sign bias (x's biased sign bit lands at 62;
    // y's lands at 63 and is flipped back to 0)
    val base = 1L << 62
    assert(ZOrder.morton(0, 0) == base)
    assert(ZOrder.morton(1, 0) == (base | 1L))
    assert(ZOrder.morton(0, 1) == (base | 2L))
    assert(ZOrder.morton(3, 5) == (base | 1L | 4L | 2L | 32L)) // x=0b11->bits0,2; y=0b101->bits1,5
    // fixing one dimension, the code is monotone in the other
    val xs = Seq(-5L, -1L, 0L, 1L, 7L, 1000L, Int.MaxValue.toLong)
    xs.sliding(2).foreach { case Seq(a, b) =>
      assert(ZOrder.morton(a, 42) < ZOrder.morton(b, 42))
      assert(ZOrder.morton(42, a) < ZOrder.morton(42, b))
    case _ => () }
    // negative coordinates order before positive ones
    assert(ZOrder.morton(Int.MinValue.toLong, 0) < ZOrder.morton(0, 0))
    // out-of-range inputs fail loudly instead of aliasing
    intercept[IllegalArgumentException](ZOrder.morton(Int.MaxValue.toLong + 1, 0))
  }

  test("partitioned write prunes partitions in the read plan and aligns files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lake_layout").toString
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    LakeLayout.write(docs, s"$dir/docs",
      LakeLayout.LayoutConfig(Seq("lang"), Seq(col("n_chars"))))
    // partition pruning: the lang=en scan lists only the en directory
    val read = spark.read.parquet(s"$dir/docs").filter($"lang" === "en")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition filter in:\n$plan")
    assert(read.count() == docs.filter($"lang" === "en").count())
    // partition-aligned shuffle -> exactly one file per lang directory
    val langs = docs.select("lang").distinct().as[String].collect()
    langs.foreach { l =>
      val files = new java.io.File(s"$dir/docs/lang=$l")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"lang=$l has ${files.length} files, want 1")
    }
    // clustering: per-file n_chars zone ranges don't interleave when the
    // size cap forces multiple files
    LakeLayout.write(docs, s"$dir/split",
      LakeLayout.LayoutConfig(Seq("lang"), Seq(col("n_chars")), maxRecordsPerFile = 10))
    val enFiles = new java.io.File(s"$dir/split/lang=en")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(enFiles.length > 1, "size cap should split the en partition")
    val ranges = enFiles.map { f =>
      val r = spark.read.parquet(f).agg(min($"n_chars"), max($"n_chars")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(bMin >= aMax, s"zone ranges interleave: $ranges")
      case _ => ()
    }
  }

  test("cluster-only write is globally clustered across a multi-partition input") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lake_global").toString
    // 8 input partitions, each containing the FULL value range — a
    // per-partition sort alone would give every file the same zone range
    val rows = spark.range(0, 512, 1, 8)
      .withColumn("v", col("id") % 64)
    LakeLayout.write(rows, s"$dir/c",
      LakeLayout.LayoutConfig(Nil, Seq(col("v")), clusterPartitions = Some(4)))
    val files = new java.io.File(s"$dir/c")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 1, "expected multiple output files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"v"), max($"v")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(bMin >= aMax, s"zone ranges interleave: ${ranges.toSeq}")
      case _ => ()
    }
  }

  test("zorder clustering prunes a 2-D box predicate better than a linear sort") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lake_zorder").toString
    // 16x16 grid, 4 files of 64 rows each
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    // cluster-only writes range-shuffle globally, so the tiles are clean
    // regardless of the input partitioning; 4 tasks ≈ 64-row files
    LakeLayout.write(grid.withColumn("z", expr("zorder2(x, y)")), s"$dir/z",
      LakeLayout.LayoutConfig(Nil, Seq(col("z")), maxRecordsPerFile = 64,
        clusterPartitions = Some(4)))
    LakeLayout.write(grid, s"$dir/linear",
      LakeLayout.LayoutConfig(Nil, Seq(col("x"), col("y")), maxRecordsPerFile = 64,
        clusterPartitions = Some(4)))
    // a file can serve the box query y < 8 only if its y zone-range says so:
    // count files whose min/max y range intersects the box
    def filesTouching(path: String): Int = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      files.count { f =>
        val r = spark.read.parquet(f).agg(min($"y"), max($"y")).head()
        r.getLong(0) < 8 // box y in [0, 8)
      }
    }
    val zTouch = filesTouching(s"$dir/z")
    val linTouch = filesTouching(s"$dir/linear")
    // z-order tiles: about half the files contain y<8 rows (one may straddle
    // a sampled range boundary); an x-major sort spreads every y value
    // across every file
    assert(zTouch < linTouch,
      s"zorder files touching=$zTouch, linear=$linTouch")
    // and the z-ordered lake still returns the right rows
    val got = spark.read.parquet(s"$dir/z").filter($"y" < 8).count()
    assert(got == 16L * 8)
  }

  test("compact: fragmented partitions merge content-equal; quiet partitions untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lake_compact").toString
    // three "micro-batch" appends fragment day=1 (each append further split
    // into 4 tasks -> 12 files); day=2 gets one small clean append
    for (b <- 0 until 3)
      (0 until 40).map(i => (1, b * 100 + i, s"v$i")).toDF("day", "k", "v")
        .repartition(4).write.mode("append").partitionBy("day").parquet(dir)
    (0 until 10).map(i => (2, i, s"w$i")).toDF("day", "k", "v")
      .coalesce(1).write.mode("append").partitionBy("day").parquet(dir)

    def files(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val frag = files(s"$dir/day=1").length
    assert(frag >= 8, s"fixture should fragment day=1, got $frag files")
    val quietBefore = files(s"$dir/day=2").map(f => f.getName -> f.lastModified()).toMap
    val contentBefore = spark.read.parquet(dir).select("day", "k", "v")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet

    val rep = LakeLayout.compact(spark, dir, Seq(col("k")),
      minFilesPerPartition = 4, maxRecordsPerFile = 1000)
    assert(rep.partitionsSeen == 2 && rep.partitionsCompacted == 1)
    assert(files(s"$dir/day=1").length == 1, "fragmented partition should merge to one file")
    // the quiet partition's files are byte-untouched
    val quietAfter = files(s"$dir/day=2").map(f => f.getName -> f.lastModified()).toMap
    assert(quietAfter == quietBefore)
    // content is exactly preserved
    val contentAfter = spark.read.parquet(dir).select("day", "k", "v")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    assert(contentAfter == contentBefore)
    // re-clustering restored zone locality: the one file is sorted by k
    val ks = spark.read.parquet(s"$dir/day=1").select("k")
      .collect().map(_.getInt(0))
    // single range partition -> global sort within the file
    assert(ks.sameElements(ks.sorted), "compacted file should be clustered on k")
    // idempotent: a second pass finds nothing to do
    val rep2 = LakeLayout.compact(spark, dir, Seq(col("k")), minFilesPerPartition = 4)
    assert(rep2.partitionsCompacted == 0)
  }

  test("compact swap is crash-safe: every interrupted state recovers, none is discoverable") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("lake_crash").toString
    (0 until 20).map(i => (1, i, s"v$i")).toDF("day", "k", "v")
      .repartition(4).write.mode("append").partitionBy("day").parquet(dir)
    val content = spark.read.parquet(dir).select("day", "k", "v")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaf = new Path(s"$dir/day=1")

    // crash state A: a half-written stage was left behind — it must be
    // invisible to partition discovery (dot-prefixed) and cleared by the
    // next compact, with the live partition untouched
    val stage = new Path(s"$dir/.day=1.stage")
    fs.mkdirs(stage)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stage.toString, "garbage.parquet"), "not parquet")
    assert(spark.read.parquet(dir).select("day", "k", "v")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet == content,
      "a leftover stage dir must not poison lake reads")
    LakeLayout.compact(spark, dir, Seq(col("k")), minFilesPerPartition = 4)
    assert(!fs.exists(stage), "stale stage must be cleared")

    // crash state B: mid-swap — the partition was renamed aside and the
    // process died before the stage renamed in. The next compact restores
    // the partition; no rows are lost.
    assert(fs.rename(leaf, new Path(s"$dir/.day=1.old")))
    LakeLayout.compact(spark, dir, Seq(col("k")), minFilesPerPartition = 4)
    assert(fs.exists(leaf), "mid-swap crash must restore the partition")
    assert(spark.read.parquet(dir).select("day", "k", "v")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet == content)

    // crash state C: post-swap residue — the swap completed but the old
    // copy's delete didn't run. The copy must be ignored by reads and
    // cleared by the next compact, never restored over the new data.
    val old = new Path(s"$dir/.day=1.old")
    fs.mkdirs(old)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(old.toString, "stale.parquet"), "stale")
    LakeLayout.compact(spark, dir, Seq(col("k")), minFilesPerPartition = 4)
    assert(!fs.exists(old), "post-swap residue must be cleared")
    assert(spark.read.parquet(dir).select("day", "k", "v")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet == content)
  }
}
