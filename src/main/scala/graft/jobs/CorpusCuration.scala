package graft.jobs

import graft.functions.TextFunctions._
import graft.operators.ConnectedComponents
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composed pipeline a training run actually
  * consumes, chaining the individually-oracled operators into one DataFrame
  * flow — quality scoring, repetition filtering, benchmark holdout +
  * decontamination, duplicate-cluster dropping, and PII scrubbing.
  *
  * Plan shape at 100 TB: the corpus is scanned ONCE for the stateless
  * signals (quality, trigram repetition, shingles); the contamination and
  * duplicate drop lists are orders of magnitude smaller than the corpus and
  * join back as broadcasts; the scrub is a codegen'd regexp chain in the
  * final projection stage. Each document is attributed to the FIRST stage
  * that drops it, so the report's per-reason counts sum exactly to the
  * input count — and each duplicate cluster's representative is chosen
  * among members that SURVIVE the earlier stages, so content is never lost
  * just because its min-id copy failed an upstream filter.
  *
  * Arithmetic is oracle-exact (floor(x*1e6 + 0.5)/1e6 quantization on every
  * ratio, integer token-hash counts): the whole first-drop attribution is
  * replayed by `txt_curation_funnel`'s DuckDB oracle and hash-compared.
  */
object CorpusCuration {

  final case class CurationConfig(
      minQuality: Double = 0.3,
      maxTopTokenFrac: Double = 0.2,
      maxDupTrigramFrac: Double = 0.2,
      // fraction of a doc's distinct trigrams shared with the benchmark
      // slice above which it is dropped as contaminated; 0.0 = any shared
      // trigram (frac is 1e-6-quantized, so "any hit" holds for docs with
      // < 2M distinct trigrams — i.e. always in practice)
      minContamFrac: Double = 0.0,
      benchMod: Int = 20) // doc_id % benchMod == 0 -> benchmark holdout slice

  final case class CurationReport(
      input: Long,
      kept: Long,
      benchmark: Long,
      droppedQuality: Long,
      droppedRepetition: Long,
      droppedContamination: Long,
      droppedDuplicate: Long)

  /** The one-corpus-scan signal projection every stage reads: `tri`
    * (distinct trigram hashes) doubles as the contamination unit AND the
    * near-dup shingle set, so a caller that also derives the MinHash pairs
    * from this frame ([[flagWithMinhash]]) tokenizes the corpus exactly
    * once. top-token count is the native max_elem_count (one pass over the
    * row's hash array) — not an explode + two-level aggregate shuffling
    * every token of every document to learn one scalar per doc. Persisted
    * and tracked for release via [[graft.CacheTracker]].
    */
  private def signalBase(docs: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    graft.CacheTracker.eager(graft.Tables.spread(docs, "doc_id")
      .withColumn("t", expr(tokensS("text")))
      .withColumn("th", expr(tokenHashesS("t")))
      .withColumn("tri", expr("array_distinct(shingle3_hash(th))"))
      .withColumn("n_tokens", expr("cast(size(t) as bigint)"))
      .withColumn("stop_ratio", expr(stopRatioS("t")))
      .withColumn("distinct_ratio", expr(distinctRatioS("t")))
      .withColumn("len_score", expr(lenScoreS("text")))
      .withColumn("quality", expr(QualityS))
      .withColumn("dup_trigram_frac", expr(
        "if(size(th) < 3, cast(0.0 as double), " +
          "floor((1 - size(tri) / size(shingle3_hash(th))) * 1e6 + 0.5) / 1e6)"))
      .withColumn("top_token_frac",
        expr("floor(max_elem_count(th) / n_tokens * 1e6 + 0.5) / 1e6"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Per-document first-drop attribution: every input row comes back with
    * its signal columns and a `reason` in (benchmark | quality | repetition
    * | contamination | duplicate | null = kept). The returned frame is
    * persisted (it backs both the report aggregate and the curated
    * projection) and tracked for release via [[graft.CacheTracker]].
    *
    * @param docs         corpus with (doc_id, text, ...) columns
    * @param nearDupPairs verified near-dup pairs (doc_a, doc_b), e.g. from
    *                     the MinHash+LSH pipeline
    */
  def flag(
      docs: DataFrame,
      nearDupPairs: DataFrame,
      cfg: CurationConfig = CurationConfig()): DataFrame =
    flagFromBase(signalBase(docs), docs.columns,
      ConnectedComponents.components(nearDupPairs, "doc_a", "doc_b"), cfg)

  /** [[flag]] with the duplicate-cluster labels supplied by the caller
    * (doc_id, lbl — the [[graft.operators.LabelStore]] schema, lbl = min
    * doc_id of the component). The pair graph and its components solve drop
    * out of the per-run plan entirely: a pipeline that maintains the
    * persistent dup-graph label store answers the duplicate stage from a
    * label scan, so the funnel's only corpus pass is the one signal
    * projection. Labels must cover exactly the docs that appear in the
    * verified pair graph (the store contract); semantics are identical to
    * [[flag]] over the same graph's pairs.
    */
  def flagWithLabels(
      docs: DataFrame,
      labels: DataFrame,
      cfg: CurationConfig = CurationConfig()): DataFrame =
    flagFromBase(signalBase(docs), docs.columns,
      labels.select(col("doc_id").as("id"), col("lbl")), cfg)

  /** [[flag]] with the near-dup pairs derived from the SAME persisted
    * signal projection the curation signals read (`tri` is exactly the
    * distinct-shingle set the MinHash pipeline signs), so the corpus text
    * is tokenized ONCE for the whole composed pipeline instead of once for
    * the signals and again for the pair pipeline — at 100 TB that is the
    * difference between one and two full-corpus scans.
    */
  def flagWithMinhash(
      docs: DataFrame,
      cfg: CurationConfig = CurationConfig()): DataFrame = {
    val base = signalBase(docs)
    val pairs = graft.analytics.DedupQueries
      .minhashPairsFrom(base.select(col("doc_id"), col("tri").as("hs")))
      .select(col("doc_a"), col("doc_b"))
    flagFromBase(base, docs.columns,
      ConnectedComponents.components(pairs, "doc_a", "doc_b"), cfg)
  }

  /** @param comp duplicate-component labels (id, lbl) over the verified
    *             pair graph — solved from pairs by [[flag]] /
    *             [[flagWithMinhash]], read from the persistent label store
    *             by [[flagWithLabels]]
    */
  private def flagFromBase(
      base: DataFrame,
      srcColNames: Array[String],
      comp: DataFrame,
      cfg: CurationConfig): DataFrame = {

    // benchmark n-gram set is tiny next to the corpus -> broadcast; `tri`
    // is distinct per doc and `bench` is distinct, so each (doc, h) joins
    // at most once and the plain count IS the distinct-overlap count
    val bench = base.filter(col("doc_id") % cfg.benchMod === 0)
      .select(explode(col("tri")).as("h")).distinct()
    val hits = base.filter(col("doc_id") % cfg.benchMod =!= 0)
      .select(col("doc_id"), explode(col("tri")).as("h"))
      .join(broadcast(bench), "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))

    // every pre-dedup verdict first: the duplicate stage must pick each
    // cluster's representative among docs that SURVIVE the earlier stages,
    // or a cluster whose min-id member fails (say) quality loses every copy
    // of its content
    val pre = graft.CacheTracker.eager(base
      .join(hits, Seq("doc_id"), "left")
      .withColumn("contam_frac", expr(
        "floor(coalesce(n_hits, 0) / greatest(size(tri), 1) * 1e6 + 0.5) / 1e6"))
      .withColumn("pre_reason",
        when(col("doc_id") % cfg.benchMod === 0, "benchmark")
          .when(col("quality") < cfg.minQuality, "quality")
          .when(col("top_token_frac") > cfg.maxTopTokenFrac ||
            col("dup_trigram_frac") > cfg.maxDupTrigramFrac, "repetition")
          .when(col("contam_frac") > cfg.minContamFrac, "contamination"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // duplicate clusters: among surviving members keep the min doc_id
    val survivingMembers = pre.filter(col("pre_reason").isNull)
      .select(col("doc_id"))
      .join(broadcast(comp), col("doc_id") === col("id"))
      .select(col("doc_id"), col("lbl"))
    val reps = survivingMembers.groupBy(col("lbl")).agg(min(col("doc_id")).as("rep"))
    val dupDrop = survivingMembers.join(reps, "lbl")
      .filter(col("doc_id") =!= col("rep")).select(col("doc_id"))

    val srcCols = srcColNames.map(col).toSeq
    graft.CacheTracker.track(pre
      .join(broadcast(dupDrop.withColumn("dupe", lit(true))), Seq("doc_id"), "left")
      .withColumn("reason", coalesce(col("pre_reason"), when(col("dupe"), "duplicate")))
      .select(srcCols ++ Seq(col("n_tokens"), col("quality"), col("reason")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Rows of a persisted frame per `reason` ("kept" where null, 0 where
    * absent) in one job with no shuffle: each task counts its partition,
    * the driver adds the maps. A `groupBy(reason).count()` runs as three
    * AQE jobs, even over a micro-batch of a few hundred rows.
    */
  private[graft] def reasonCounts(flagged: DataFrame): Map[String, Long] =
    flagged.select(col("reason")).mapPartitions(_.foldLeft(Map.empty[String, Long]) { (n, r) =>
      val k = Option(r.getString(0)).getOrElse("kept")
      n.updated(k, n.getOrElse(k, 0L) + 1)
    }.iterator)(Encoders.tuple(Encoders.STRING, Encoders.scalaLong)).collect()
      .groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0L)

  /** @return (curated corpus with scrubbed text, per-stage drop report) */
  def curate(
      docs: DataFrame,
      nearDupPairs: DataFrame,
      cfg: CurationConfig = CurationConfig()): (DataFrame, CurationReport) = {
    val flagged = flag(docs, nearDupPairs, cfg)

    val counts = reasonCounts(flagged)
    val report = CurationReport(
      input = counts.values.sum,
      kept = counts("kept"),
      benchmark = counts("benchmark"),
      droppedQuality = counts("quality"),
      droppedRepetition = counts("repetition"),
      droppedContamination = counts("contamination"),
      droppedDuplicate = counts("duplicate"))

    val keptCols = docs.columns.filter(_ != "text").map(col).toSeq
    // `flagged` stays cached (CacheTracker-released after the consuming
    // action) — it backs the returned `curated`
    val curated = flagged.filter(col("reason").isNull)
      .select(keptCols ++ Seq(
        expr(scrubS("text")).as("text"),
        col("n_tokens"), col("quality")): _*)
    (curated, report)
  }
}
