package graft

import graft.operators.Multimodal
import org.scalatest.funsuite.AnyFunSuite

/** The real-binary audio fingerprint path: the difference-order filter-bank
  * hash over JDK-decoded PCM must survive the perturbation audio near-dup
  * detection exists for — volume change — while separating differently-
  * ordered content, and must drive the SAME banded-LSH candidate pipeline
  * the image pHash uses (one 56-bit packing, two modalities).
  */
class MultimodalAudioSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  /** Real 16-bit mono PCM WAV bytes at 8 kHz. */
  private def wav(samples: Array[Short], rateHz: Float = 8000f): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rateHz, 16, 1, true, false)
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(stream,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** 8 fixed-length tone segments (one per fingerprint window). Segment
    * frequencies sit far from fs/6 (where adjacent difference-order
    * energies tie), so every in-window comparison has margin.
    */
  private def toneSequence(freqs: Seq[Double], amp: Double): Array[Short] =
    freqs.flatMap { f =>
      (0 until 400).map(i =>
        (amp * math.sin(2 * math.Pi * f * i / 8000.0)).toShort)
    }.toArray

  private val lowHigh = Seq(300.0, 3200.0, 500.0, 2800.0, 200.0, 3600.0, 400.0, 2000.0)
  private val highLow = Seq(3200.0, 300.0, 2800.0, 500.0, 3600.0, 200.0, 2000.0, 400.0)

  private def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)

  test("fingerprint is volume-invariant and separates reordered content") {
    val base = Multimodal.audioFingerprint(wav(toneSequence(lowHigh, 12000))).get
    val quiet = Multimodal.audioFingerprint(wav(toneSequence(lowHigh, 3000))).get
    val reordered = Multimodal.audioFingerprint(wav(toneSequence(highLow, 12000))).get
    assert(hamming(base, quiet) <= 3, s"volume change drifted ${hamming(base, quiet)} bits")
    assert(hamming(base, reordered) > 20,
      s"reordered content too close: ${hamming(base, reordered)}")
    // non-audio bytes and empty payloads stay total via None
    assert(Multimodal.audioFingerprint(Array[Byte](9, 9, 9)).isEmpty)
  }

  test("registry mm_audio_pairs emits verified pairs on a near-identical corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // same-length bodies: a one-char edit perturbs one window's energies
    // slightly — within hamming range; the structurally different filler
    // (long runs vs alternating texture = opposite spectral tilt) stays out
    val body = ("the quick brown fox jumps over the lazy dog and then " * 5).take(250)
    val filler = (10L until 16L).map(i =>
      (i, (s"aaaaaaaabbbbbbbbccccccccdddddddd${i}eeeeeeeeffffffff" * 6).take(250)))
    val corpus = Seq(
      (1L, body),
      (2L, body.updated(100, 'x')),
      (3L, body.updated(40, 'q').updated(200, 'z'))) ++ filler
    val dir = java.nio.file.Files.createTempDirectory("audio_docs").toString
    corpus.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("mm_audio_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    CacheTracker.releaseAll()
    assert(got.contains((1L, 2L)), s"near-identical pair missing from $got")
    assert(got.contains((1L, 3L)) || got.contains((2L, 3L)),
      s"two-edit doc paired with neither sibling: $got")
    assert(!got.exists { case (a, b) => a <= 3L && b >= 10L },
      s"texture families must not cross: $got")
  }

  test("perturbed real audio pairs through the shared banded-LSH pipeline") {
    import spark.implicits._
    val payloads = Seq(
      1L -> wav(toneSequence(lowHigh, 12000)),
      2L -> wav(toneSequence(lowHigh, 4000)), // same content, quieter
      3L -> wav(toneSequence(lowHigh, 9000)),
      4L -> wav(toneSequence(highLow, 12000)), // different ordering
      5L -> wav(toneSequence(highLow, 5000)))
    val h = payloads.map { case (id, p) =>
      (id, Multimodal.audioFingerprint(p).get)
    }.toDF("doc_id", "h")
    val pairs = graft.analytics.MultimodalQueries.phashPairsFromHashes(h)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    CacheTracker.releaseAll()
    assert(pairs.contains((1L, 2L)), s"volume pair missing from $pairs")
    assert(pairs.contains((1L, 3L)), s"volume pair missing from $pairs")
    assert(pairs.contains((4L, 5L)), s"reordered-family pair missing from $pairs")
    assert(!pairs.exists { case (a, b) => a <= 3 && b >= 4 },
      s"families crossed in $pairs")
  }

  test("native audio_fp56 equals the declarative HOF chain on the fixture corpus") {
    import spark.implicits._
    // real corpus rows (all lengths, all languages) + adversarial shapes:
    // short strings (empty windows), non-ascii code points, repeated chars
    val corpus = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.expr("trim(text)").as("body"))
    val edge = Seq(
      (100001L, "abcdefgh" * 20), (100002L, "aaaaaaaa"), (100003L, "ab"),
      (100004L, "éèêë0123456789" * 9),
      (100005L, ("z" + "世界") * 30))
      .toDF("doc_id", "body")
    val in = corpus.unionByName(edge)
    val native = in.select($"doc_id",
      org.apache.spark.sql.functions.expr("audio_fp56(body)").as("h"))
    val hof = analytics.MultimodalQueries.audioFpDeclarative(in)
    val diff = native.as("n").join(hof.as("d"), "doc_id")
      .where($"n.h" =!= $"d.h").count()
    assert(diff == 0, "native and declarative audio hashes diverged")
  }
}
