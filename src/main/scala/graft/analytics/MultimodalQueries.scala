package graft.analytics

import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions._
import graft.operators.CappedKeyPairs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column queries over derived binary payloads (see
  * [[graft.operators.Multimodal]] for the typed batched-decode path). The
  * Spark side genuinely operates on a BinaryType `payload` column
  * (encode/md5/octet_length over bytes); the DuckDB oracle computes the same
  * values from the source text (identical UTF-8 bytes) because DuckDB 1.0
  * has no md5(BLOB).
  */
object MultimodalQueries {

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  /** mm_video_pairs: a frame hash held by more than this many videos is
    * boilerplate (title cards, black frames) — candidate noise, never a
    * clip signal ([[CappedKeyPairs.dropHot]], as dedup_span's ShingleDfCap). */
  private val VideoFrameDfCap = 20

  /** The 56-bit `h` cut into 4 × 14-bit bands: rows (`keep`…, b, k). */
  private def phashBands(h: DataFrame, keep: String*): DataFrame =
    h.select(keep.map(col) :+ explode(expr("transform(sequence(0, 3), b -> " +
        "named_struct('b', b, 'k', shiftright(h, 14 * b) & 16383))")).as("bk"): _*)
      .select(keep.map(col) ++ Seq(col("bk.b").as("b"), col("bk.k").as("k")): _*)

  /** Near-dup pairs from a 56-bit perceptual-hash table `h(doc_id, h)`:
    * 4 × 14-bit banded LSH (complete for hamming ≤ 3 by pigeonhole) through
    * the minhash family's capped band join + hot-bucket star
    * ([[DedupQueries.bandCandidates]]), then the exact `bit_count` verify
    * at hamming ≤ 6. Shared by the registry query (deterministic text
    * stand-in hashes) and the real-binary path
    * ([[graft.operators.Multimodal.phashImage]] hashes decoded luminance
    * grids into the SAME packing — `MultimodalPhashSpec` drives actually
    * perturbed PNGs through this exact pipeline).
    */
  private[graft] def phashPairsFromHashes(h: DataFrame): DataFrame = {
    DedupQueries.bandCandidates(phashBands(h, "doc_id"), DedupQueries.BandBucketCap)
      .join(h.select(col("doc_id").as("doc_a"), col("h").as("ha")), "doc_a")
      .join(h.select(col("doc_id").as("doc_b"), col("h").as("hb")), "doc_b")
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 6)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Shared-clip pairs from per-frame perceptual hashes `fr(vid, fi, h)`:
    * frames of DIFFERENT videos match when they share a 14-bit band of
    * their 56-bit hash AND verify at hamming ≤ `hamMax` (tolerates
    * re-encode/brightness drift the real-binary path produces); matches
    * group into clips by the (pair, temporal-offset diagonal)
    * gaps-and-islands run. Multi-band collisions dedup via distinct over
    * the (pair, frame, diag) match rows — bounded by true match mass, the
    * first-matching-band emission is the production refinement. Drives
    * `MultimodalVideoSpec`'s JDK-decoded animated-GIF frames through the
    * exact clip logic `mm_video_pairs` oracle-checks on the stand-in.
    */
  private[graft] def clipPairsFromFrameHashes(
      fr: DataFrame, hamMax: Int, minClip: Int): DataFrame = {
    val bands = phashBands(fr, "vid", "fi", "h")
    val m = bands.as("x")
      .join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.k") === col("y.k") &&
          col("x.vid") < col("y.vid"))
      .filter(expr("bit_count(x.h ^ y.h)") <= hamMax)
      .select(col("x.vid").as("vid_a"), col("y.vid").as("vid_b"),
        col("x.fi").as("fa"), (col("x.fi") - col("y.fi")).as("diag"))
      .distinct()
    CappedKeyPairs.runIds(m, "fa", "vid_a", "vid_b")
      .groupBy(col("vid_a"), col("vid_b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("clip_frames"))
      .groupBy(col("vid_a"), col("vid_b"))
      .agg(max(col("clip_frames")).as("longest_clip"), count(lit(1)).as("n_clips"))
      .filter(col("longest_clip") >= minClip)
  }

  /** The persistent media-fingerprint store for this corpus, built once on
    * first use ([[graft.operators.MediaGraph]] — the DupGraph move for
    * binaries): every mm pair/cluster row below reads stored per-asset
    * hashes instead of re-deriving the decode → fingerprint pipeline per
    * query, which made this family the heaviest scale rows in the suite.
    * The fixture's dHash derivation (8x8 body resample + perturbed twins,
    * every 5th doc → id −(id+1) with ONE mid-body character replaced so the
    * differential gates exercise real banded candidates) now lives in
    * [[graft.operators.MediaGraph.phashFrom]]; the oracle still replays it
    * from scratch ([[PhashPairsCte]]), so the driver's hash compare pins
    * store ≡ recompute — the `txt_bm25_indexed` pattern.
    */
  private def store(s: SparkSession, d: String): String =
    graft.operators.StoreRoot.ensure(s, d, graft.operators.MediaGraph.Kind)(
      graft.operators.MediaGraph.build(s, d, _))

  /** Oracle CTE chain ending in verified pairs `vp(doc_a, doc_b, hamming)` —
    * the DuckDB twin of [[phashTable]] + [[phashPairsFromHashes]].
    */
  private val PhashPairsCte =
    s"""base AS (SELECT doc_id, trim(text) AS body FROM documents
       |  WHERE length(trim(text)) >= 2),
       |b0 AS (SELECT doc_id, body FROM base
       |  UNION ALL
       |  SELECT -(doc_id + 1) AS doc_id,
       |    substr(body, 1, length(body) // 2 - 1) || 'z' ||
       |      substr(body, length(body) // 2 + 1) AS body
       |  FROM base WHERE doc_id % 5 = 0),
       |p AS (SELECT doc_id, list_transform(generate_series(0, 63), i ->
       |    ascii(substr(body, CAST(1 + (i::BIGINT * (length(body) - 1)) // 63 AS INT), 1))) AS pix
       |  FROM b0),
       |h AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 55), i ->
       |    CASE WHEN pix[(i // 7) * 8 + (i % 7) + 1] > pix[(i // 7) * 8 + (i % 7) + 2]
       |    THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS h
       |  FROM p),
       |bands_all AS (SELECT doc_id, b, (h >> (14 * b)) & 16383 AS k
       |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb),
       |bsz AS (SELECT b, k, COUNT(*) AS bs, MIN(doc_id) AS rep
       |  FROM bands_all GROUP BY b, k),
       |bands AS (SELECT a.doc_id, a.b, a.k FROM bands_all a
       |  JOIN bsz s ON a.b = s.b AND a.k = s.k AND s.bs <= ${DedupQueries.BandBucketCap}),
       |star AS (SELECT s.rep AS doc_a, a.doc_id AS doc_b FROM bands_all a
       |  JOIN bsz s ON a.b = s.b AND a.k = s.k AND s.bs > ${DedupQueries.BandBucketCap}
       |  WHERE a.doc_id <> s.rep),
       |pairs AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.k = y.k AND x.doc_id < y.doc_id
       |  UNION ALL SELECT doc_a, doc_b FROM star) u),
       |vp AS (SELECT p.doc_a, p.doc_b, bit_count(xor(a.h, b.h)) AS hamming
       |  FROM pairs p JOIN h a ON p.doc_a = a.doc_id JOIN h b ON p.doc_b = b.doc_id
       |  WHERE bit_count(xor(a.h, b.h)) <= 6)""".stripMargin

  val all: Map[String, QuerySpec] = Map(

    // ----- payload metadata: size, content hash, stub-decoded dimensions ----
    "mm_media_meta" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("payload", encode(trim(col("text")), "UTF-8"))
          .select(
            col("doc_id"),
            expr("case when doc_id % 3 = 0 then 'image' " +
              "when doc_id % 3 = 1 then 'audio' else 'video' end").as("media_type"),
            expr("octet_length(payload)").as("n_bytes"),
            md5(col("payload")).as("payload_md5"),
            expr("cast(32 + pmod(n_chars, 97) as int)").as("width"),
            expr("cast(32 + pmod(n_chars * 31, 71) as int)").as("height"),
            // empty-payload guard: Spark's sequence(1, 0) is [1, 0] (not
            // empty) and 0/0 is NaN where DuckDB yields NULL — match DuckDB
            expr("if(octet_length(payload) = 0, cast(null as double), " +
              "floor(aggregate(transform(sequence(1, length(trim(text))), " +
              "i -> ascii(substring(trim(text), i, 1))), cast(0 as bigint), " +
              "(a, x) -> a + x) / octet_length(payload) * 1e6 + 0.5) / 1e6)").as("mean_byte"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 3 = 0 THEN 'image'
             |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
             |  octet_length(encode(trim(text))) AS n_bytes,
             |  md5(trim(text)) AS payload_md5,
             |  CAST(32 + n_chars % 97 AS INT) AS width,
             |  CAST(32 + (n_chars * 31) % 71 AS INT) AS height,
             |  floor(CAST(list_sum(list_transform(generate_series(1, length(trim(text))),
             |    i -> ascii(substr(trim(text), i, 1)))) AS BIGINT)
             |    / octet_length(encode(trim(text))) * 1e6 + 0.5) / 1e6 AS mean_byte
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // ----- frame sampling: 64-byte stride, 16-byte frames, every 2nd kept ---
    "mm_frame_sample" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("body", trim(col("text")))
          // empty-body guard: Spark's sequence(0, -1) is [0, -1], DuckDB's
          // generate_series(0, -1) is empty — emit no frames for empty docs
          .select(col("doc_id"), col("body"),
            explode(expr("if(length(body) = 0, cast(array() as array<int>), " +
              "sequence(0, cast(floor((length(body) - 1) / 64) as int)))"))
              .as("frame_idx"))
          .filter(col("frame_idx") % 2 === 0)
          .withColumn("frame", expr("substring(body, frame_idx * 64 + 1, 16)"))
          .select(
            col("doc_id"), col("frame_idx"),
            md5(col("frame")).as("frame_md5"),
            expr("octet_length(frame)").as("frame_bytes"))
          .orderBy(col("doc_id"), col("frame_idx"))
      },
      Some("""WITH b AS (SELECT doc_id, trim(text) AS body FROM documents),
             |f AS (SELECT doc_id, body,
             |    unnest(generate_series(0, CAST(floor((length(body) - 1) / 64) AS INT))) AS frame_idx
             |  FROM b)
             |SELECT doc_id, frame_idx,
             |  md5(substr(body, frame_idx * 64 + 1, 16)) AS frame_md5,
             |  octet_length(encode(substr(body, frame_idx * 64 + 1, 16))) AS frame_bytes
             |FROM f WHERE frame_idx % 2 = 0 ORDER BY doc_id, frame_idx""".stripMargin)
    ),

    // ----- perceptual-hash (dHash) near-dup over the binary payload --------
    // The image-dedup shape: resample the payload to a fixed 8x8 "pixel"
    // grid, hash the horizontal gradient signs (56 bits), then find
    // near-dups by banded LSH on the hash — 4 x 14-bit bands guarantee any
    // pair within hamming distance 3 shares a band (pigeonhole), and the
    // exact bit_count verify keeps pairs at <= 6. Candidate generation
    // reuses the minhash family's capped band join incl. the hot-bucket
    // star ([[DedupQueries.bandCandidates]]), so a degenerate constant
    // payload (the all-white-image case) emits O(bucket) star rows, never
    // an O(bucket^2) self-join. The real decode path for genuine media
    // bytes is [[graft.operators.Multimodal]]; the resample here IS the
    // deterministic stand-in decode both engines can state.
    "mm_phash_pairs" -> QuerySpec(
      (s, d) => phashPairsFromHashes(
        graft.operators.MediaGraph.phash(s, store(s, d)))
        .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH $PhashPairsCte
             |SELECT doc_a, doc_b, hamming FROM vp ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // ----- media duplicate clusters: the keep-one decision for binaries -----
    // mm_phash_pairs says "A looks like B"; a media pipeline needs the
    // CLUSTER (one canonical asset kept, the re-encodes/crops dropped) —
    // the dedup_clusters move applied to the perceptual-hash graph:
    // min-label propagation over the verified hamming <= 6 pairs
    // ([[graft.operators.ConnectedComponents]]), so a chain of re-encodes
    // (original ~ resize ~ recompress, where the ends differ by > 6 bits)
    // still collapses into ONE asset group. The oracle recomputes exact
    // components with a recursive CTE — the iterative Spark loop is checked
    // against ground-truth transitive closure, not another iteration.
    // Components run over verified pair mass only (tiny next to the media
    // corpus); everything upstream is the banded/capped candidate shape.
    "mm_phash_clusters" -> QuerySpec(
      (s, d) => {
        val pairs = phashPairsFromHashes(
          graft.operators.MediaGraph.phash(s, store(s, d)))
          .select(col("doc_a"), col("doc_b"))
        graft.operators.ConnectedComponents.components(pairs, "doc_a", "doc_b")
          .groupBy(col("lbl").as("cluster_rep"))
          .agg(
            count(lit(1)).as("n_assets"),
            expr("array_join(transform(array_sort(collect_list(id)), x -> cast(x as string)), ',')")
              .as("members"))
          .orderBy(col("cluster_rep"))
      },
      Some(s"""WITH RECURSIVE $PhashPairsCte,
             |e AS (SELECT doc_a AS a, doc_b AS b FROM vp),
             |und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
             |verts AS (SELECT DISTINCT a AS id FROM und),
             |reach AS (SELECT id, id AS r FROM verts
             |  UNION
             |  SELECT u.a AS id, reach.r FROM und u JOIN reach ON u.b = reach.id),
             |lbl AS (SELECT id, MIN(r) AS lbl FROM reach GROUP BY id)
             |SELECT lbl AS cluster_rep, COUNT(*) AS n_assets,
             |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
             |FROM lbl GROUP BY lbl ORDER BY cluster_rep""".stripMargin)
    ),

    // ----- media clusters from the PERSISTED label tier ---------------------
    // mm_phash_clusters pays a components solve per query; this row answers
    // the same question from the maintained media label store
    // ([[graft.operators.MediaGraph.labels]] — the [[LabelStore]]
    // contracted-graph machinery over the verified hamming <= 6 pair
    // graph, bootstrapped on first touch, folded per appended batch, and
    // takedown-consistent through MediaGraph.delete's surgical recompute).
    // The plan is a label-bucket parquet scan + one aggregate: NO banded
    // pair join, no component iteration (`MediaGraphSpec` pins the plan
    // shape). The oracle stays the from-scratch recursive-CTE transitive
    // closure over the replayed fingerprint pipeline, so the driver's hash
    // compare pins maintained labels ≡ ground-truth components — the
    // dedup_clusters_indexed contract, applied to binaries. At 100 TB this
    // is the read-side dividend: media cluster membership costs label
    // bytes (one row per clustered asset), not a banded join + closure
    // over the hash store per question.
    "mm_phash_clusters_indexed" -> QuerySpec(
      (s, d) => {
        val path = store(s, d)
        graft.operators.MediaGraph.ensureLabels(s, path)
        graft.operators.MediaGraph.labels(s, path)
          .groupBy(col("lbl").as("cluster_rep"))
          .agg(
            count(lit(1)).as("n_assets"),
            expr("array_join(transform(array_sort(collect_list(doc_id)), x -> cast(x as string)), ',')")
              .as("members"))
          .orderBy(col("cluster_rep"))
      },
      Some(s"""WITH RECURSIVE $PhashPairsCte,
             |e AS (SELECT doc_a AS a, doc_b AS b FROM vp),
             |und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
             |verts AS (SELECT DISTINCT a AS id FROM und),
             |reach AS (SELECT id, id AS r FROM verts
             |  UNION
             |  SELECT u.a AS id, reach.r FROM und u JOIN reach ON u.b = reach.id),
             |lbl AS (SELECT id, MIN(r) AS lbl FROM reach GROUP BY id)
             |SELECT lbl AS cluster_rep, COUNT(*) AS n_assets,
             |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
             |FROM lbl GROUP BY lbl ORDER BY cluster_rep""".stripMargin)
    ),

    // ----- video shared-clip detection: frame hashes + diagonal runs --------
    // The ContentID shape: two videos share a CLIP when a RUN of
    // consecutive frames matches at a constant temporal offset. The
    // payload's frame sequence (here contiguous 32-byte strides of the
    // text stand-in; the real-binary path is
    // [[graft.operators.Multimodal.videoFrameHashes]] — per-frame
    // perceptual hashes over JDK-decoded animated-GIF frames, spec-driven
    // in `MultimodalVideoSpec`) maps to (video, frame_idx, frame_hash);
    // candidates come from an inverted index on the frame hash with a
    // document-frequency cap (a frame appearing in >cap videos is
    // boilerplate — black frames, title cards — and pure candidate
    // noise), and matches group into clips by the dedup_span move:
    // gaps-and-islands over (pair, offset diagonal). Scale: the posting
    // list is never shuffle-sorted (anti-join cap), pair mass is bounded
    // by true shared-frame mass ≤ cap per frame hash, and the runs window
    // partitions by (pair, diag) — clip-sized state, never corpus-sized.
    "mm_video_pairs" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // frame hashes come from the store, NOT a per-query decode; the
        // boilerplate df cap is computed over the store scan at read time
        // (stored uncapped — df must reflect the store's current corpus,
        // not the statistics at build/append time)
        val fr0 = graft.operators.MediaGraph.frames(s, store(s, d))
        val fr = graft.CacheTracker.track(
          CappedKeyPairs.dropHot(fr0, "h", VideoFrameDfCap).persist(MEMORY_AND_DISK))
        val m = fr.as("x")
          .join(fr.as("y"), col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            col("x.fi").as("fa"), (col("x.fi") - col("y.fi")).as("diag"))
        CappedKeyPairs.runIds(m, "fa")
          .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
          .agg(count(lit(1)).as("clip_frames"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(max(col("clip_frames")).as("longest_clip"), count(lit(1)).as("n_clips"))
          .filter(col("longest_clip") >= 3)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH b AS (SELECT doc_id, trim(text) AS body FROM documents),
             |f0 AS (SELECT doc_id, body,
             |    unnest(generate_series(1, CAST(ceil(length(body) / 32.0) AS INT))) AS fi
             |  FROM b),
             |fr AS (SELECT doc_id, fi,
             |    ${strHashD("substr(body, (fi - 1) * 32 + 1, 32)")} AS h FROM f0),
             |pc AS (SELECT doc_id, fi, h FROM fr
             |  QUALIFY COUNT(*) OVER (PARTITION BY h) <= $VideoFrameDfCap),
             |m AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.fi AS fa,
             |    x.fi - y.fi AS diag
             |  FROM pc x JOIN pc y ON x.h = y.h AND x.doc_id < y.doc_id),
             |runs AS (SELECT doc_a, doc_b, diag,
             |    fa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY fa) AS grp
             |  FROM m),
             |clips AS (SELECT doc_a, doc_b, COUNT(*) AS clip_frames
             |  FROM runs GROUP BY doc_a, doc_b, diag, grp)
             |SELECT doc_a, doc_b, MAX(clip_frames) AS longest_clip, COUNT(*) AS n_clips
             |FROM clips GROUP BY doc_a, doc_b HAVING MAX(clip_frames) >= 3
             |ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // ----- shot-boundary detection: per-video scene segmentation ------------
    // The intra-video twin of mm_video_pairs' cross-video clip matching:
    // segment each video into SHOTS by comparing consecutive frames'
    // feature sets — a hard cut is a frame-to-frame similarity collapse.
    // Frames are the same 32-unit slices as mm_video_pairs; each frame's
    // feature set is its distinct 4-gram hashes (a bag-of-visual-words
    // stand-in), consecutive similarity is exact set Jaccard in integer
    // micro units, and a boundary fires when it drops under 0.05 — calibrated to the corpus: adjacent in-shot frames of this featurization sit at median Jaccard ~0.055, so the cut rule splits the population instead of firing everywhere. Per
    // video: frame count, shot count (1 + boundaries), mean shot length.
    //
    // Scale shape: one narrow projection builds per-frame feature sets, the
    // lag() window partitions BY VIDEO (each video's frames sort
    // independently — thousands of tasks at corpus scale, no global sort),
    // and the per-video aggregate is map-side combinable. Everything is
    // integer, so the hash contract is exact.
    "mm_shot_boundaries" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val fr = Tables.spread(docs(s, d).select("doc_id", "text"), "doc_id")
          .withColumn("body", trim(col("text")))
          .filter(length(col("body")) > 0)
          .select(col("doc_id"),
            explode(expr("sequence(1, cast(ceil(length(body) / 32.0) as int))")).as("fi"),
            col("body"))
          .withColumn("f", expr("substring(body, (fi - 1) * 32 + 1, 32)"))
          .withColumn("ss", expr(
            "array_distinct(transform(sequence(1, greatest(length(f) - 3, 1)), " +
              s"p -> ${strHashS("substring(f, p, 4)")}))"))
          .select(col("doc_id"), col("fi"), col("ss"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("fi"))
        fr.withColumn("prev", lag(col("ss"), 1).over(w))
          .withColumn("jmicro", expr(
            "CASE WHEN prev IS NULL THEN NULL ELSE " +
              "(cast(size(array_intersect(ss, prev)) as bigint) * 1000000) div " +
              "(size(ss) + size(prev) - size(array_intersect(ss, prev))) END"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_frames"),
            (lit(1L) + sum(when(col("jmicro").isNotNull && col("jmicro") < 50000, 1L)
              .otherwise(0L))).as("n_shots"))
          .withColumn("avg_shot_len_micro",
            expr("(n_frames * 1000000) div n_shots"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH b AS (SELECT doc_id, trim(text) AS body FROM documents
             |  WHERE length(trim(text)) > 0),
             |f0 AS (SELECT doc_id, body,
             |    unnest(generate_series(1, CAST(ceil(length(body) / 32.0) AS INT))) AS fi
             |  FROM b),
             |fr AS (SELECT doc_id, fi, substr(body, (fi - 1) * 32 + 1, 32) AS f FROM f0),
             |sh AS (SELECT doc_id, fi,
             |    list_distinct(list_transform(generate_series(1, greatest(length(f) - 3, 1)),
             |      p -> ${strHashD("substr(f, p, 4)")})) AS ss FROM fr),
             |lg AS (SELECT doc_id, fi, ss,
             |    lag(ss) OVER (PARTITION BY doc_id ORDER BY fi) AS prev FROM sh),
             |jm AS (SELECT doc_id, CASE WHEN prev IS NULL THEN NULL ELSE
             |      (CAST(len(list_intersect(ss, prev)) AS BIGINT) * 1000000) //
             |      (len(ss) + len(prev) - len(list_intersect(ss, prev))) END AS jmicro
             |  FROM lg),
             |agg AS (SELECT doc_id, COUNT(*) AS n_frames,
             |    1 + CAST(SUM(CASE WHEN jmicro IS NOT NULL AND jmicro < 50000
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_shots
             |  FROM jm GROUP BY doc_id)
             |SELECT doc_id, n_frames, n_shots,
             |  (n_frames * 1000000) // n_shots AS avg_shot_len_micro
             |FROM agg ORDER BY doc_id""".stripMargin)
    ),

    // ----- audio-fingerprint near-dup over a pseudo-PCM stand-in -----------
    // The audio-dedup shape: frame the sample stream into 8 windows,
    // compute 8 difference-order band energies per window (each
    // differencing step is a high-pass — a deterministic no-FFT filter
    // bank), spectrally FLATTEN by scaling order k's energy by
    // 360360 / C(2k, k) — the k-th difference of WHITE noise has variance
    // C(2k, k)·σ² (binomial coefficients of (1−z)^k squared-summed), so
    // without the rescale the energy sequence rises ~4×/order and every
    // comparison points the same way; after it the expected envelope is
    // flat and the hashed bits carry the signal's actual spectral tilt
    // (360360 = lcm of the eight C(2k, k), keeping everything integer) —
    // and hash the 56 adjacent-band comparisons into the same packing,
    // then band + verify through the shared [[phashPairsFromHashes]]
    // pipeline. All energy arithmetic is exact BIGINT (8-bit-centered
    // samples, 7th-order diffs < 2^14, squares·scale < 2^63 up to
    // ~million-sample windows), so both engines state identical bits.
    // On a corpus of statistically-identical noise texture (this word-
    // salad fixture) MANY docs legitimately sit within hamming 6 — an
    // envelope hash measures timbral similarity, and content identity at
    // scale comes from the verify threshold, not the bands. The stand-in "decode" reads the payload bytes
    // as centered 8-bit samples (the same move mm_phash_pairs makes for
    // pixels); the REAL decode path is
    // [[graft.operators.Multimodal.audioFingerprint]], which packs JDK-
    // decoded PCM through the identical grid semantics
    // (`MultimodalAudioSpec` drives volume-perturbed WAVs through this
    // exact pair pipeline).
    "mm_audio_pairs" -> QuerySpec(
      (s, d) =>
        // stored envelope hashes (built once via the native audio_fp56
        // pass — the declarative HOF chain it replaced lives in
        // [[audioFpDeclarative]], MultimodalAudioSpec pins equality)
        phashPairsFromHashes(graft.operators.MediaGraph.audio(s, store(s, d)))
          .orderBy(col("doc_a"), col("doc_b")),
      Some {
        val dCtes = (1 to 7).map { k =>
          s"""d$k AS (SELECT *, CASE WHEN len(a${k - 1}) > 1
             |    THEN list_transform(generate_series(1, len(a${k - 1}) - 1), i -> a${k - 1}[i + 1] - a${k - 1}[i])
             |    ELSE [CAST(0 AS BIGINT)] END AS a$k FROM ${if (k == 1) "win" else s"d${k - 1}"})""".stripMargin
        }.mkString(",\n")
        val flatD = Seq(360360L, 180180L, 60060L, 18018L, 5148L, 1430L, 390L, 105L)
        val esSql = (0 to 7).map(k =>
          s"CAST(list_sum(list_transform(a$k, x -> x * x)) AS BIGINT) * ${flatD(k)}")
          .mkString("[", ", ", "]")
        s"""WITH sigs AS (SELECT doc_id,
           |    list_transform(generate_series(1, length(trim(text))),
           |      i -> CAST(ascii(substr(trim(text), i, 1)) AS BIGINT) - 96) AS sig,
           |    length(trim(text)) AS n
           |  FROM documents WHERE length(trim(text)) >= 64),
           |win AS (SELECT doc_id, w, list_slice(sig, CAST(1 + (w * n) // 8 AS INT),
           |    CAST(((w + 1) * n) // 8 AS INT)) AS a0
           |  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS w) ww),
           |$dCtes,
           |en AS (SELECT doc_id, w, $esSql AS es FROM d7),
           |gg AS (SELECT doc_id, flatten(list(es ORDER BY w)) AS g FROM en GROUP BY doc_id),
           |h AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 55), i ->
           |    CASE WHEN g[(i // 7) * 8 + (i % 7) + 1] > g[(i // 7) * 8 + (i % 7) + 2]
           |    THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS h
           |  FROM gg),
           |bands_all AS (SELECT doc_id, b, (h >> (14 * b)) & 16383 AS k
           |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb),
           |bsz AS (SELECT b, k, COUNT(*) AS bs, MIN(doc_id) AS rep
           |  FROM bands_all GROUP BY b, k),
           |bands AS (SELECT a.doc_id, a.b, a.k FROM bands_all a
           |  JOIN bsz s ON a.b = s.b AND a.k = s.k AND s.bs <= ${DedupQueries.BandBucketCap}),
           |star AS (SELECT s.rep AS doc_a, a.doc_id AS doc_b FROM bands_all a
           |  JOIN bsz s ON a.b = s.b AND a.k = s.k AND s.bs > ${DedupQueries.BandBucketCap}
           |  WHERE a.doc_id <> s.rep),
           |pairs AS (SELECT DISTINCT doc_a, doc_b FROM (
           |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bands x JOIN bands y
           |    ON x.b = y.b AND x.k = y.k AND x.doc_id < y.doc_id
           |  UNION ALL SELECT doc_a, doc_b FROM star) u)
           |SELECT p.doc_a, p.doc_b, bit_count(xor(a.h, b.h)) AS hamming
           |FROM pairs p JOIN h a ON p.doc_a = a.doc_id JOIN h b ON p.doc_b = b.doc_id
           |WHERE bit_count(xor(a.h, b.h)) <= 6 ORDER BY doc_a, doc_b""".stripMargin
      }
    )
  )

  /** The declarative HOF form of `audio_fp56` — the original mm_audio_pairs
    * hash chain, kept as the parity reference for the native expression
    * (`MultimodalAudioSpec` asserts equality over the fixture corpus).
    * Input: (doc_id, body); output: (doc_id, h).
    */
  private[graft] def audioFpDeclarative(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sig0 = df
      .select(col("doc_id"),
        expr("transform(sequence(1, length(body)), " +
          "i -> cast(ascii(substring(body, i, 1)) as bigint) - 96)").as("sig"))
      .withColumn("n", expr("size(sig)"))
    val win0 = sig0
      .select(col("doc_id"), col("n"), col("sig"),
        explode(expr("sequence(0, 7)")).as("w"))
      .withColumn("a0", expr("slice(sig, cast(1 + (w * n) div 8 as int), " +
        "cast(((w + 1) * n) div 8 - (w * n) div 8 as int))"))
    val diffed = (1 to 7).foldLeft(win0) { (acc, k) =>
      acc.withColumn(s"a$k", expr(
        s"if(size(a${k - 1}) > 1, transform(sequence(1, size(a${k - 1}) - 1), " +
          s"i -> element_at(a${k - 1}, cast(i + 1 as int)) - element_at(a${k - 1}, cast(i as int))), " +
          "array(cast(0 as bigint)))"))
    }
    // 360360 / C(2k, k): the white-noise spectral flattening constants
    val flat = Seq(360360L, 180180L, 60060L, 18018L, 5148L, 1430L, 390L, 105L)
    val esExpr = (0 to 7).map(k =>
      s"aggregate(a$k, cast(0 as bigint), (s, x) -> s + x * x) * cast(${flat(k)} as bigint)")
      .mkString("array(", ", ", ")")
    diffed.select(col("doc_id"), col("w"), expr(esExpr).as("es"))
      .groupBy(col("doc_id"))
      .agg(expr("flatten(transform(array_sort(collect_list(struct(w, es))), s -> s.es))").as("g"))
      .select(col("doc_id"),
        expr("aggregate(sequence(0, 55), cast(0 as bigint), (a, i) -> " +
          "a + if(element_at(g, cast((i div 7) * 8 + (i % 7) + 1 as int)) > " +
          "element_at(g, cast((i div 7) * 8 + (i % 7) + 2 as int)), " +
          "shiftleft(cast(1 as bigint), i), cast(0 as bigint)))").as("h"))
  }
}
