package graft

import graft.operators.{MinHashIndex, StoreRoot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persistent MinHash signature index: incremental pairs must equal the
  * from-scratch pipeline restricted to pairs touching the new batch, the
  * stored side must come from the signature parquet (not a re-tokenization
  * of the corpus), and appended batches must be visible to later ones.
  */
class MinHashIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables.t(spark, sf, "documents").select("doc_id", "text")

  test("incremental pairs equal the from-scratch run restricted to new docs") {
    val dir = java.nio.file.Files.createTempDirectory("mh_index").toString
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    MinHashIndex.build(existing, dir)

    val got = MinHashIndex.newPairs(fresh, dir)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // from-scratch reference over the full corpus, restricted to pairs
    // with >= 1 new-batch member
    val want = graft.analytics.DedupQueries.minhashPairs(spark, sf)
      .filter(col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.CacheTracker.releaseAll()

    assert(want.nonEmpty, "fixture must contain near-dups touching the new slice")
    assert(got == want)
    // and nothing between two indexed docs leaks through
    assert(got.forall(p => p._1 % 10 == 0 || p._2 % 10 == 0))
  }

  test("stored side reads the index parquet with sig/hs in the scan schema") {
    // the decisive proof that the stored side comes from the index, not a
    // re-tokenization, is behavioral (the append test: doc 2 is visible to
    // batch 2 ONLY via the signature parquet). This pins the plan shape on
    // both tiers: the signature store is scanned, and the scan carries the
    // stored sig column — i.e. the pair step consumes persisted signatures
    // rather than recomputing them. The local tier's one task reads the
    // whole rows, hs included.
    val dir = java.nio.file.Files.createTempDirectory("mh_index_plan").toString
    MinHashIndex.build(docs.filter(col("doc_id") % 10 =!= 0), dir)
    val batchSig = MinHashIndex.batchSignatures(docs.filter(col("doc_id") % 10 === 0))
    def sigScan(localRows: Long) = {
      val plan = MinHashIndex.newPairsFromSig(batchSig, dir, localRows)
        .queryExecution.executedPlan.toString
      val scan = plan.linesIterator.find(l =>
        l.contains("FileScan parquet") && l.contains("signatures"))
      assert(scan.isDefined, s"expected a signature-store scan in:\n$plan")
      scan.get
    }
    val distributed = sigScan(localRows = -1L)
    assert(distributed.contains("sig"), s"sig missing from scan: $distributed")
    val local = sigScan(localRows = Long.MaxValue)
    assert(local.contains("sig") && local.contains("hs"), s"sig/hs missing from scan: $local")
    graft.CacheTracker.releaseAll()
  }

  test("a missing index bootstraps; a replayed batch sees only the pre-batch corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mh_index_boot").toString + "/idx"
    val text = "the quick brown fox jumps over the lazy dog and then naps all afternoon in the warm sun"
    val batch = Seq((1L, text), (2L, text), (3L, "a wholly different sentence about column chunks and footers"))
      .toDF("doc_id", "text")
    // no index yet: the in-batch pairs alone
    def pairs() = MinHashIndex.newPairs(batch, dir)
      .select("doc_a", "doc_b", "j").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs() == Seq((1L, 2L, 1.0)))
    // the batch folded in, then replayed: its own stored rows are not a
    // second copy of it
    MinHashIndex.appendBatch(MinHashIndex.batchSignatures(batch), dir, 0L)
    assert(pairs() == Seq((1L, 2L, 1.0)))
    graft.CacheTracker.releaseAll()
  }

  test("docs with empty shingle sets never pair, on either tier") {
    import spark.implicits._
    // under 3 tokens there is no trigram: every such doc has an empty hs
    // and the same all-MaxValue signature, so they meet in every band and
    // the verify's 0/0 must drop the pair rather than throw
    val dir = java.nio.file.Files.createTempDirectory("mh_index_empty").toString
    MinHashIndex.build(Seq((1L, "hello world")).toDF("doc_id", "text"), dir)
    val fresh = Seq((2L, "foo bar"), (3L, "x y")).toDF("doc_id", "text")
    assert(MinHashIndex.newPairs(fresh, dir).collect().isEmpty)
    assert(MinHashIndex.newPairsFromSig(MinHashIndex.batchSignatures(fresh), dir, localRows = -1L)
      .collect().isEmpty)
    graft.CacheTracker.releaseAll()
  }

  test("the local and distributed pair tiers agree on the corpus's mod-10 split") {
    val sig = MinHashIndex.signatureRows(docs).select("doc_id", "hs", "sig").cache()
    val newIds = sig.filter(col("doc_id") % 10 === 0).select("doc_id").collect().map(_.getLong(0))
    assert(MinHashTierSpec.bothTiers(sig, newIds.toSeq).nonEmpty)
    sig.unpersist()
  }

  test("appended batches are dedup targets for later batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mh_index_append").toString
    val text = "the quick brown fox jumps over the lazy dog and then naps all afternoon in the warm sun"
    val batch0 = Seq((1L, "completely unrelated first document about spark shuffles and partitions and joins and aggregations"))
      .toDF("doc_id", "text")
    val batch1 = Seq((2L, text)).toDF("doc_id", "text")
    val batch2 = Seq((3L, text), (4L, "another singleton document mentioning parquet footers and column chunks and row groups only"))
      .toDF("doc_id", "text")

    // each batch is signed once, paired against the index, then folded in
    val sig0 = MinHashIndex.batchSignatures(batch0)
    MinHashIndex.appendBatch(sig0, dir, 0)
    assert(StoreRoot.hasData(spark, dir))
    // batch1 arrives: no dups yet
    val sig1 = MinHashIndex.batchSignatures(batch1)
    val p1 = MinHashIndex.newPairsFromSig(sig1, dir).collect()
    assert(p1.isEmpty, s"got ${p1.toSeq}")
    MinHashIndex.appendBatch(sig1, dir, 1)
    // batch2 duplicates doc 2, which arrived by a later batch, not the first
    val sig2 = MinHashIndex.batchSignatures(batch2)
    val p2 = MinHashIndex.newPairsFromSig(sig2, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 == Set((2L, 3L)), s"got $p2")
    // folding batch2 in completes the cycle: all four docs' signatures stored
    MinHashIndex.appendBatch(sig2, dir, 2)
    graft.CacheTracker.releaseAll()
    assert(MinHashIndex.signatures(spark, dir).count() == 4)
  }

  test("signatures reads both layouts with the storage schema and launches no job") {
    import spark.implicits._
    val rows = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a wholly different sentence about column chunks and footers"))
      .toDF("doc_id", "text")
    val flat = java.nio.file.Files.createTempDirectory("mh_index_flat").toString
    MinHashIndex.build(rows, flat)
    val parted = java.nio.file.Files.createTempDirectory("mh_index_parted").toString
    MinHashIndex.appendBatch(MinHashIndex.signatureRows(rows.filter($"doc_id" === 1L)), parted, 0L)
    MinHashIndex.appendBatch(MinHashIndex.signatureRows(rows.filter($"doc_id" === 2L)), parted, 1L)
    for (dir <- Seq(flat, parted)) {
      val (got, jobs) = JobCount.of(spark)(MinHashIndex.signatures(spark, dir))
      assert(jobs == 0, s"$dir: the read launched $jobs jobs")
      val inferred = spark.read.parquet(s"$dir/signatures")
      assert(got.schema == inferred.schema)
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(sorted(got) == sorted(inferred))
    }
    assert(MinHashIndex.signatures(spark, parted).columns.last == "batch_id")
  }

  test("ensure is idempotent and the store key is corpus-stable") {
    val p1 = StoreRoot.key(spark, sf, MinHashIndex.Kind, "mod10")
    val p2 = StoreRoot.key(spark, sf, MinHashIndex.Kind, "mod10")
    assert(p1 == p2)
    assert(p1 != StoreRoot.key(spark, sf, MinHashIndex.Kind, "other-tag"))

    val dir = java.nio.file.Files.createTempDirectory("mh_index_idem").toString
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    StoreRoot.ensureAt(spark, dir)(MinHashIndex.build(existing, _))
    val firstWrite = new java.io.File(s"$dir/signatures/_SUCCESS").lastModified()
    StoreRoot.ensureAt(spark, dir)(MinHashIndex.build(existing, _))
    assert(new java.io.File(s"$dir/signatures/_SUCCESS").lastModified() == firstWrite,
      "second ensure must not rebuild")
  }
}
