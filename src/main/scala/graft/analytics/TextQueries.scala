package graft.analytics

import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions._
import graft.operators.LocalTier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Text analysis for training-data pipelines over the `documents` table:
  * token counting, quality scoring, language ID (stopword-voting n-gram
  * heuristic), document fingerprinting, and n-gram frequency. All Spark-side
  * logic is built-in column expressions (no UDFs — split/regexp/HOFs), so
  * plans stay declarative and scale linearly: each query is a narrow
  * per-row projection followed by at most one shuffle for the final
  * aggregate/sort. At 100 TB the projections pipeline inside one stage and
  * the aggregates are partial (map-side combined).
  *
  * Oracle parity: integer-exact arithmetic per [[graft.functions.TextFunctions]];
  * ratios are int/int double divisions (identical IEEE in DuckDB) rounded via
  * floor(x*K + 0.5)/K, which is tie-safe across engines (round(x, n) is not:
  * Spark rounds the decimal string, DuckDB the binary value).
  */
object TextQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.spread(Tables.t(s, d, "documents"), "doc_id")

  /** The registry corpus's persistent [[graft.operators.TextIndex]] root,
    * built on first use — shared by txt_bm25_indexed and the hybrid rows.
    */
  private[graft] def registryTextIndex(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.operators.StoreRoot.ensure(s, d, graft.operators.TextIndex.Kind)(
      graft.operators.TextIndex.build(docs(s, d), _))

  val all: Map[String, QuerySpec] = Map(

    // ----- BPE-style token counting: the tokenizer-cost estimator -----------
    // Training-data budgets are priced in SUBWORD tokens, not whitespace
    // words. This counts GPT-2-pretokenizer-style pieces — optional-space-
    // prefixed letter runs, digit runs, punctuation runs, residual space
    // runs (the lookahead-free subset both regex engines state
    // identically; contractions split one piece finer than GPT-2's
    // special-cases — "BPE-ish", documented) — and reports the per-language
    // fertility metrics a tokenizer budget needs: pieces per whitespace
    // word and chars per piece. One regexp_extract_all per row (codegen'd,
    // zero shuffle) + a map-side-combined per-language aggregate; ratios
    // floor-quantized AFTER integer sums, so hashes are partition-order
    // independent.
    "txt_bpe_token_count" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("body", trim(col("text")))
          .select(col("lang"),
            expr("size(regexp_extract_all(body, ' ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+| +', 0))")
              .as("bpe"),
            expr(s"size(${tokensS("body")})").as("ws"),
            length(col("body")).as("nc"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("bpe")).cast("bigint").as("bpe_tokens"),
            sum(col("ws")).cast("bigint").as("ws_tokens"),
            sum(col("nc")).cast("bigint").as("n_chars"))
          .withColumn("fertility",
            expr("floor(bpe_tokens / ws_tokens * 1e6 + 0.5) / 1e6"))
          .withColumn("chars_per_token",
            expr("floor(n_chars / bpe_tokens * 1e6 + 0.5) / 1e6"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH b AS (SELECT lang, trim(text) AS body FROM documents),
             |c AS (SELECT lang,
             |    len(regexp_extract_all(body, ' ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+| +')) AS bpe,
             |    len(${tokensD("body")}) AS ws,
             |    length(body) AS nc
             |  FROM b)
             |SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
             |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
             |  CAST(SUM(nc) AS BIGINT) AS n_chars,
             |  floor(CAST(SUM(bpe) AS BIGINT) / CAST(SUM(ws) AS BIGINT) * 1e6 + 0.5) / 1e6 AS fertility,
             |  floor(CAST(SUM(nc) AS BIGINT) / CAST(SUM(bpe) AS BIGINT) * 1e6 + 0.5) / 1e6 AS chars_per_token
             |FROM c GROUP BY lang ORDER BY lang""".stripMargin)
    ),

    // ----- BPE tokenizer TRAINING: learn the merge table in-engine ----------
    // The step before txt_bpe_token_count's counting: learn the merges.
    // Classic word-frequency BPE (Sennrich et al., ACL'16): one corpus pass
    // reduces the text to a (word, count) vocabulary table, and training
    // loops over THAT — each round counts adjacent symbol pairs weighted by
    // word frequency, picks the most frequent pair (ties lexicographic),
    // and greedily merges its non-overlapping left-to-right occurrences in
    // every word. This is the actual scale shape of tokenizer training: the
    // 100 TB corpus is touched once (a map-side-combined word count); the
    // rounds run over the vocabulary, orders of magnitude smaller, with the
    // pair count a distributed explode+groupBy and the merge application a
    // narrow HOF fold projection. The per-round argmax (ONE row) is the
    // only thing the driver ever holds.
    //
    // Three unrolled rounds, and the oracle replays ALL of it — pair
    // counting, tie-broken argmax, and the greedy fold (as a separator-
    // delimited string reduce, DuckDB's list_reduce being init-less) — so
    // the row hash-checks the learned tokenizer, not just a count. Output:
    // (rank, a, b, merged, cnt, corpus_symbols_after) per merge — the merge
    // table plus the compression trajectory.
    "txt_bpe_train" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        // vocabulary table: BPE trains on word counts, not the corpus
        val w0 = graft.CacheTracker.track(docs(s, d)
          .select(explode(expr(tokensS("text"))).as("wd"))
          .filter(length(col("wd")) > 0)
          .groupBy(col("wd")).agg(count(lit(1)).as("n"))
          .withColumn("syms",
            expr("transform(sequence(1, length(wd)), i -> substring(wd, i, 1))"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        // under [[BpeLocalWords]] every merge round runs on [[LocalTier]]
        // (the count doubles as the eager cache build)
        if (LocalTier.fits("txt_bpe_train", w0.count(), BpeLocalWords)) {
          val schema = StructType.fromDDL("rank INT NOT NULL, a STRING, b STRING, " +
            "merged STRING, cnt BIGINT NOT NULL, corpus_symbols_after BIGINT NOT NULL")
          LocalTier.rows(w0.select(col("wd"), col("n")), schema) { it =>
            val words = it.map(r => (r.getString(0), r.getLong(1))).toArray
            bpeLocalLoop(words, 3)._1.iterator.map { case (r, a, b, cnt, after) =>
              org.apache.spark.sql.Row(r, a, b, a + b, cnt, after)
            }
          }.orderBy(col("rank"))
        } else {
          val (_, rounds) = bpeMergeRounds(w0, 3)
          rounds.map { case (r, a, b, cnt, after) => (r, a, b, a + b, cnt, after) }
            .toDF("rank", "a", "b", "merged", "cnt", "corpus_symbols_after")
            .orderBy(col("rank"))
        }
      },
      Some {
        s"""WITH toks AS (SELECT unnest(${tokensD("text")}) AS wd FROM documents),
           |w0 AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS n FROM toks
           |  WHERE length(wd) > 0 GROUP BY wd),
           |s0 AS (SELECT wd, n,
           |    list_transform(generate_series(1, length(wd)), i -> wd[i:i]) AS syms FROM w0),
           |${bpeOracleRound(1, "s0")},
           |${bpeOracleRound(2, "s1")},
           |${bpeOracleRound(3, "s2")}
           |SELECT 1 AS rank, a, b, a || b AS merged, cnt,
           |  (SELECT cs FROM a1) AS corpus_symbols_after FROM b1
           |UNION ALL SELECT 2, a, b, a || b, cnt, (SELECT cs FROM a2) FROM b2
           |UNION ALL SELECT 3, a, b, a || b, cnt, (SELECT cs FROM a3) FROM b3
           |ORDER BY rank""".stripMargin
      }
    ),

    // ----- BPE apply: price the corpus under the LEARNED tokenizer ----------
    // Completes the tokenizer lifecycle txt_bpe_train starts and
    // txt_bpe_token_count approximates: apply the trained merge table to
    // the corpus and report per-source token pricing under the learned
    // vocabulary — fertility (pieces per word) and chars per piece, the
    // numbers a training-budget owner actually buys with a bigger vocab.
    // The merges re-learn from the same word-count table (deterministic:
    // identical argmax chain to txt_bpe_train), then the per-word piece
    // count joins back to the (source, word, k) pre-aggregation —
    // applying a tokenizer at 100 TB is a VOCABULARY-sized join, never a
    // per-token pass: the corpus reduces to per-source word counts in one
    // map-side-combined pass, the merged vocabulary is the only thing the
    // fold ever touches, and the final rollup is #sources rows. All-
    // integer outputs (floor-division micro ratios), oracle replays the
    // training chain + join exactly.
    "txt_bpe_apply" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val swk = graft.CacheTracker.track(docs(s, d)
          .select(col("source"), explode(expr(tokensS("text"))).as("wd"))
          .filter(length(col("wd")) > 0)
          .groupBy(col("source"), col("wd")).agg(count(lit(1)).as("k"))
          .persist(MEMORY_AND_DISK))
        val w0 = graft.CacheTracker.track(
          swk.groupBy(col("wd")).agg(sum(col("k")).cast("bigint").as("n"))
            .withColumn("syms",
              expr("transform(sequence(1, length(wd)), i -> substring(wd, i, 1))"))
            .persist(MEMORY_AND_DISK))
        // txt_bpe_train's tiers; the local task emits each word's final
        // PIECE COUNT for the join back to the per-source word counts
        val ap =
          if (LocalTier.fits("txt_bpe_apply", w0.count(), BpeLocalWords)) {
            val schema = StructType.fromDDL("wd STRING, np BIGINT NOT NULL")
            LocalTier.rows(w0.select(col("wd"), col("n")), schema) { it =>
              val words = it.map(r => (r.getString(0), r.getLong(1))).toArray
              val nps = bpeLocalLoop(words, 3)._2
              words.iterator.zip(nps.iterator).map { case ((wd, _), np) =>
                org.apache.spark.sql.Row(wd, np)
              }
            }
          } else {
            val (merged, _) = bpeMergeRounds(w0, 3)
            merged.select(col("wd"), size(col("syms")).cast("long").as("np"))
          }
        swk.join(ap, Seq("wd"))
          .groupBy(col("source"))
          .agg(sum(col("k")).cast("bigint").as("n_words"),
            sum(expr("k * np")).cast("bigint").as("n_pieces"),
            sum(expr("k * length(wd)")).cast("bigint").as("n_chars"))
          .select(col("source"), col("n_words"), col("n_pieces"),
            expr("n_pieces * 1000000 div n_words").as("fertility_micro"),
            expr("n_chars * 1000000 div n_pieces").as("chars_per_piece_micro"))
          .orderBy(col("source"))
      },
      Some {
        s"""WITH toks AS (SELECT source, unnest(${tokensD("text")}) AS wd FROM documents),
           |swk AS (SELECT source, wd, CAST(COUNT(*) AS BIGINT) AS k FROM toks
           |  WHERE length(wd) > 0 GROUP BY 1, 2),
           |w0 AS (SELECT wd, CAST(SUM(k) AS BIGINT) AS n FROM swk GROUP BY wd),
           |s0 AS (SELECT wd, n,
           |    list_transform(generate_series(1, length(wd)), i -> wd[i:i]) AS syms FROM w0),
           |${bpeOracleRound(1, "s0")},
           |${bpeOracleRound(2, "s1")},
           |${bpeOracleRound(3, "s2")},
           |ap AS (SELECT wd, CAST(len(syms) AS BIGINT) AS np FROM s3),
           |g AS (SELECT source, CAST(SUM(k) AS BIGINT) AS n_words,
           |    CAST(SUM(k * np) AS BIGINT) AS n_pieces,
           |    CAST(SUM(k * length(swk.wd)) AS BIGINT) AS n_chars
           |  FROM swk JOIN ap ON swk.wd = ap.wd GROUP BY source)
           |SELECT source, n_words, n_pieces,
           |  n_pieces * 1000000 // n_words AS fertility_micro,
           |  n_chars * 1000000 // n_pieces AS chars_per_piece_micro
           |FROM g ORDER BY source""".stripMargin
      }
    ),

    // ----- token counting: whitespace tokens + regex token classes ----------
    "txt_token_stats" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .select(
            col("doc_id"),
            col("lang"),
            expr("size(t)").as("n_tokens"),
            expr("length(trim(text))").as("n_chars"),
            expr("size(array_distinct(t))").as("n_distinct"),
            expr("floor(aggregate(t, cast(0 as bigint), (a, w) -> a + length(w)) / size(t) * 1e4 + 0.5) / 1e4")
              .as("avg_token_len"),
            expr("size(regexp_extract_all(text, '[a-z]+', 0))").as("n_alpha_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT *, ${tokensD("text")} AS t FROM documents)
             |SELECT doc_id, lang,
             |  len(t) AS n_tokens,
             |  length(trim(text)) AS n_chars,
             |  len(list_distinct(t)) AS n_distinct,
             |  floor(CAST(list_sum(list_transform(t, w -> length(w))) AS BIGINT) / len(t) * 1e4 + 0.5) / 1e4 AS avg_token_len,
             |  len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens
             |FROM toks ORDER BY doc_id""".stripMargin)
    ),

    // ----- quality scoring: stopword/distinct ratios + length prior ---------
    "txt_quality_score" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          // floor(x*1e6 + 0.5)/1e6 instead of round(x, 6): Spark rounds the
          // DECIMAL string, DuckDB the binary double, so 5-at-the-7th-digit
          // ties diverge by 1e-6; the floor form is identical IEEE in both
          .withColumn("stop_ratio", expr(stopRatioS("t")))
          .withColumn("distinct_ratio", expr(distinctRatioS("t")))
          .withColumn("len_score", expr(lenScoreS("text")))
          .withColumn("quality", expr(QualityS))
          .select(col("doc_id"), col("stop_ratio"), col("distinct_ratio"),
            col("len_score"), col("quality"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT *, ${tokensD("text")} AS t FROM documents),
             |q AS (SELECT doc_id,
             |  floor(len(list_filter(t, w -> list_contains(['the','a','of','and','is','to'], w))) / len(t) * 1e6 + 0.5) / 1e6 AS stop_ratio,
             |  floor(len(list_distinct(t)) / len(t) * 1e6 + 0.5) / 1e6 AS distinct_ratio,
             |  floor(least(length(trim(text)), 400) / 400 * 1e6 + 0.5) / 1e6 AS len_score
             |  FROM toks)
             |SELECT doc_id, stop_ratio, distinct_ratio, len_score,
             |  floor((0.3 * stop_ratio + 0.4 * distinct_ratio + 0.3 * len_score) * 1e6 + 0.5) / 1e6 AS quality
             |FROM q ORDER BY doc_id""".stripMargin)
    ),

    // ----- per-domain document cap (FineWeb-style) --------------------------
    // The crawl-curation lever the quality score alone can't express: no
    // domain may contribute more than CAP documents, and when a domain is
    // over the cap it keeps its BEST docs (quality desc, doc_id tiebreak) —
    // boilerplate-heavy mega-domains get squeezed, small domains pass
    // untouched. min_kept_quality is the induced per-domain threshold, the
    // number a curation owner actually reads off this report. Scale shape:
    // the rank is a per-domain top-K — the window form here is exact and
    // shuffles once on source; at 100 TB with a skewed mega-domain the same
    // semantics run through a bounded top-K aggregate (the top7_by_score
    // move: partial phase cuts each map task to K rows per domain before
    // the exchange), so no executor ever sorts a whole domain.
    "txt_domain_cap" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val q = docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .withColumn("stop_ratio", expr(stopRatioS("t")))
          .withColumn("distinct_ratio", expr(distinctRatioS("t")))
          .withColumn("len_score", expr(lenScoreS("text")))
          .withColumn("quality", expr(QualityS))
          .select(col("doc_id"), col("source"), size(col("t")).as("n_tok"),
            col("quality"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))
        q.withColumn("kept", (row_number().over(w) <= 10).cast("int"))
          .groupBy(col("source"))
          .agg(sum(col("kept")).cast("bigint").as("docs_kept"),
            sum(expr("1 - kept")).cast("bigint").as("docs_dropped"),
            sum(expr("kept * n_tok")).cast("bigint").as("tokens_kept"),
            sum(expr("(1 - kept) * n_tok")).cast("bigint").as("tokens_dropped"),
            min(when(col("kept") === 1, col("quality"))).as("min_kept_quality"))
          .orderBy(col("source"))
      },
      Some(s"""WITH toks AS (SELECT *, ${tokensD("text")} AS t FROM documents),
             |q AS (SELECT doc_id, source, len(t) AS n_tok,
             |    floor(len(list_filter(t, w -> list_contains(['the','a','of','and','is','to'], w))) / len(t) * 1e6 + 0.5) / 1e6 AS stop_ratio,
             |    floor(len(list_distinct(t)) / len(t) * 1e6 + 0.5) / 1e6 AS distinct_ratio,
             |    floor(least(length(trim(text)), 400) / 400 * 1e6 + 0.5) / 1e6 AS len_score
             |  FROM toks),
             |s AS (SELECT doc_id, source, n_tok,
             |    floor((0.3 * stop_ratio + 0.4 * distinct_ratio + 0.3 * len_score) * 1e6 + 0.5) / 1e6 AS quality
             |  FROM q),
             |k AS (SELECT *, CASE WHEN ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY quality DESC, doc_id) <= 10 THEN 1 ELSE 0 END AS kept
             |  FROM s)
             |SELECT source,
             |  CAST(SUM(kept) AS BIGINT) AS docs_kept,
             |  CAST(SUM(1 - kept) AS BIGINT) AS docs_dropped,
             |  CAST(SUM(kept * n_tok) AS BIGINT) AS tokens_kept,
             |  CAST(SUM((1 - kept) * n_tok) AS BIGINT) AS tokens_dropped,
             |  MIN(CASE WHEN kept = 1 THEN quality END) AS min_kept_quality
             |FROM k GROUP BY source ORDER BY source""".stripMargin)
    ),

    // ----- learned quality filter: pocket perceptron distillation -----------
    // The GPT-3-lineage quality stage is a LEARNED linear classifier, not a
    // hand rule. This trains one IN-ENGINE and exactly (Snorkel-style
    // distillation): the rule labeler is txt_quality_score's heuristic with
    // an ABSTAIN band (docs within ±0.02 of the 0.43 threshold train
    // nothing — weak supervision drops low-confidence labels), features are
    // six integer surface signals (ppm fixed point, all ≤ 1e6 after the
    // chars-per-token cap), and the learner is a batch POCKET perceptron:
    // 16 mean-update rounds (the update is floorDiv(Σ err·x, n) — bounded
    // by max|x| at ANY corpus size, so weights never overflow at 100 TB),
    // carrying the best-seen weights by training error, which makes the
    // final model monotone in rounds where the plain batch perceptron limit-
    // cycles. Scale shape: ONE persisted feature projection + 16 passes,
    // each a map-side-combined 8-column aggregate collected to the driver
    // (the treeAggregate loop every distributed linear trainer runs);
    // weights re-broadcast as literals per round. The oracle replays all 16
    // rounds as a MATERIALIZED CTE chain — training AND inference are
    // integer-exact, so the learned weights and the confusion matrix
    // hash-match to the bit. Output: confusion per (confident, label) cell
    // with the pocket weights riding each row; measured agreement with the
    // labeler at sf0.01 is 97% on confident docs and 79% inside the
    // abstain band (where the rule itself is ambiguous by construction).
    "txt_quality_distill" -> QuerySpec(
      (s, d) => {
        val NF = 6
        val qmExpr = s"floor((0.3 * ${stopRatioS("t")} + 0.4 * ${distinctRatioS("t")} " +
          s"+ 0.3 * ${lenScoreS("text")}) * 1e6 + 0.5)"
        val feat = graft.CacheTracker.track(docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .withColumn("qm", expr(qmExpr))
          .withColumn("y", expr("if(qm > 430000, cast(1 as bigint), cast(0 as bigint))"))
          .withColumn("x0", lit(1000000L))
          .withColumn("x1", expr(s"cast(size(filter(t, w -> array_contains($StopwordsSql, w))) as bigint) * 1000000 div size(t)"))
          .withColumn("x2", expr("cast(size(array_distinct(t)) as bigint) * 1000000 div size(t)"))
          .withColumn("x3", expr("cast(least(length(trim(text)), 400) as bigint) * 1000000 div 400"))
          .withColumn("x4", expr("if(length(trim(text)) = 0, cast(0 as bigint), " +
            "cast(size(regexp_extract_all(text, '[0-9]', 0)) as bigint) * 1000000 div length(trim(text)))"))
          .withColumn("x5", expr("least(cast(length(trim(text)) as bigint) * 1000000 div (cast(size(t) as bigint) * 20), cast(1000000 as bigint))"))
          .select(("qm" +: "y" +: (0 until NF).map(i => s"x$i")).map(col): _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val tr = feat.filter(expr("abs(qm - 430000) > 20000"))
        // Pocket-perceptron training, 16 synchronous rounds over the
        // confident slice: under [[DistillLocalRows]] the whole loop runs
        // on [[LocalTier]] (one job, not 16 collects), bit-equal to the
        // per-round aggregates above it (TextQueriesSpec pins it).
        val pocket: Array[Long] =
          if (LocalTier.fits("txt_quality_distill", tr.count(), DistillLocalRows))
            LocalTier.value(tr.select(("y" +: (0 until NF).map(i => s"x$i")).map(col): _*)) { it =>
              val rows = it.map(r => Array.tabulate(NF + 1)(r.getLong)).toArray
              distillTrainLocal(rows, NF, iters = 16)
            }
          else distillTrainDistributed(tr, NF, iters = 16)
        val pscore = (0 until NF).map(i => s"${pocket(i)} * x$i").mkString(" + ")
        val out = feat
          .withColumn("confident", expr("abs(qm - 430000) > 20000"))
          .withColumn("p", expr(s"if(($pscore) > 0, cast(1 as bigint), cast(0 as bigint))"))
          .groupBy(col("confident"), col("y"))
          .agg(count(lit(1)).as("n_docs"), sum(col("p")).as("n_pred_pos"),
            sum(expr("if(p = y, cast(1 as bigint), cast(0 as bigint))")).as("n_correct"))
        (0 until NF).foldLeft(out)((df, i) => df.withColumn(s"w$i", lit(pocket(i))))
          .orderBy(col("confident"), col("y"))
      },
      Some {
        val NF = 6
        def fd(u: String, n: String): String =
          s"(($u) - ((($u) % ($n)) + ($n)) % ($n)) // ($n)"
        val qmD = "floor((0.3 * (floor(len(list_filter(t, w -> list_contains(['the','a','of','and','is','to'], w))) / len(t) * 1e6 + 0.5) / 1e6) " +
          "+ 0.4 * (floor(len(list_distinct(t)) / len(t) * 1e6 + 0.5) / 1e6) " +
          "+ 0.3 * (floor(least(length(trim(text)), 400) / 400 * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5)"
        def iterCte(prev: String, cur: String): String = {
          val score = (0 until NF).map(j => s"w.w$j * f.x$j").mkString(" + ")
          val pred = s"(CASE WHEN $score > 0 THEN 1 ELSE 0 END)"
          s"""${cur}_u AS MATERIALIZED (
             |  SELECT COUNT(*) AS n, CAST(SUM(ABS(f.y - $pred)) AS BIGINT) AS wrong,
             |    ${(0 until NF).map(i => s"MIN(w.w$i) AS pw$i").mkString(", ")},
             |    ${(0 until NF).map(i => s"MIN(w.b$i) AS pb$i").mkString(", ")}, MIN(w.bw) AS pbw,
             |    ${(0 until NF).map(i => s"CAST(SUM((f.y - $pred) * f.x$i) AS BIGINT) AS u$i").mkString(", ")}
             |  FROM tr f CROSS JOIN $prev w),
             |$cur AS MATERIALIZED (
             |  SELECT ${(0 until NF).map(i => s"pw$i + ${fd(s"u$i", "n")} AS w$i").mkString(", ")},
             |    ${(0 until NF).map(i => s"CASE WHEN wrong < pbw THEN pw$i ELSE pb$i END AS b$i").mkString(", ")},
             |    CASE WHEN wrong < pbw THEN wrong ELSE pbw END AS bw
             |  FROM ${cur}_u)""".stripMargin
        }
        val chain = (1 to 16).map(t => iterCte(if (t == 1) "w0t" else s"w${t - 1}t", s"w${t}t"))
        val bscore = (0 until NF).map(j => s"w.b$j * f.x$j").mkString(" + ")
        s"""WITH base AS (SELECT *, ${tokensD("text")} AS t FROM documents),
           |feat AS MATERIALIZED (
           |  SELECT doc_id, $qmD AS qm,
           |    CASE WHEN $qmD > 430000 THEN 1 ELSE 0 END AS y,
           |    CAST(1000000 AS BIGINT) AS x0,
           |    (len(list_filter(t, w -> list_contains(['the','a','of','and','is','to'], w))) * 1000000) // len(t) AS x1,
           |    (len(list_distinct(t)) * 1000000) // len(t) AS x2,
           |    (least(length(trim(text)), 400) * 1000000) // 400 AS x3,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE (len(regexp_extract_all(text, '[0-9]')) * 1000000) // length(trim(text)) END AS x4,
           |    least((length(trim(text)) * 1000000) // (len(t) * 20), 1000000) AS x5
           |  FROM base),
           |tr AS MATERIALIZED (SELECT * FROM feat WHERE abs(qm - 430000) > 20000),
           |w0t AS (SELECT ${(0 until NF).map(i => s"CAST(0 AS BIGINT) AS w$i").mkString(", ")},
           |  ${(0 until NF).map(i => s"CAST(0 AS BIGINT) AS b$i").mkString(", ")},
           |  CAST(9223372036854775807 AS BIGINT) AS bw),
           |${chain.mkString(",\n")},
           |pred AS (SELECT abs(f.qm - 430000) > 20000 AS confident, f.y,
           |    CASE WHEN $bscore > 0 THEN 1 ELSE 0 END AS p,
           |    ${(0 until NF).map(i => s"w.b$i").mkString(", ")}
           |  FROM feat f CROSS JOIN w16t w)
           |SELECT confident, CAST(y AS BIGINT) AS y, COUNT(*) AS n_docs,
           |  CAST(SUM(p) AS BIGINT) AS n_pred_pos,
           |  CAST(SUM(CASE WHEN p = y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           |  ${(0 until NF).map(i => s"MIN(b$i) AS w$i").mkString(", ")}
           |FROM pred GROUP BY confident, y
           |ORDER BY confident, y""".stripMargin
      }
    ),

    // ----- repetition filter: Gopher-style within-document signals ----------
    // Boilerplate/looping documents are flagged by (a) the most frequent
    // token's share of the document and (b) the fraction of trigram
    // instances that are repeats. (b) is a pure per-row HOF (zero shuffle);
    // (a) is one explode + two-level partial aggregate on (doc, token-hash),
    // so at 100 TB the cost is one map-side-combined shuffle of hashes.
    "txt_repetition" -> QuerySpec(
      (s, d) => {
        // persist the token-hash projection: the consuming select references
        // `th` four times (size, max_elem_count, twice under the trigram
        // arithmetic), and project collapsing re-inlines the tokenize->hash
        // HOF lineage into EACH reference — measured ~4x this query's warm
        // wall. Behind the cache, `th` is an attribute read once per row,
        // and the whole body is per-row native compute: shingle3_hash for
        // the trigram signal, max_elem_count for the top-token count
        // (instead of an explode + two aggregations shuffling every token
        // of every document twice to learn one scalar per doc).
        val base = graft.CacheTracker.track(docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .withColumn("th", expr(tokenHashesS("t")))
          .select(col("doc_id"), col("th"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        base
          .withColumn("tri", expr("shingle3_hash(th)"))
          .select(col("doc_id"),
            expr("cast(size(th) as bigint)").as("n_tokens"),
            // docs too short to have trigrams are not "repetitive" (frac 0)
            expr("if(size(th) < 3, cast(0.0 as double), " +
              "floor((1 - size(array_distinct(tri)) / size(tri)) * 1e6 + 0.5) / 1e6)")
              .as("dup_trigram_frac"),
            expr("max_elem_count(th)").as("top_n"))
          .filter(col("n_tokens") > 0) // oracle's unnest-join drops empty docs
          .withColumn("top_token_frac", expr("floor(top_n / n_tokens * 1e6 + 0.5) / 1e6"))
          .withColumn("repetitive", expr("top_token_frac > 0.2 OR dup_trigram_frac > 0.2"))
          .select(col("doc_id"), col("n_tokens"), col("top_token_frac"),
            col("dup_trigram_frac"), col("repetitive"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${tokensD("text")} AS t FROM documents),
             |th AS (SELECT doc_id, ${tokenHashesD("t")} AS th FROM toks),
             |tr AS (SELECT doc_id, ${shingleHashesD("th")} AS tri FROM th),
             |pd AS (SELECT th.doc_id, CAST(len(th) AS BIGINT) AS n_tokens,
             |  CASE WHEN len(th) < 3 THEN 0.0
             |    ELSE floor((1 - len(list_distinct(tri)) / len(tri)) * 1e6 + 0.5) / 1e6
             |  END AS dup_trigram_frac
             |  FROM th JOIN tr ON th.doc_id = tr.doc_id),
             |u AS (SELECT doc_id, unnest(th) AS h FROM th),
             |c AS (SELECT doc_id, h, COUNT(*) AS n FROM u GROUP BY 1, 2),
             |m AS (SELECT doc_id, MAX(n) AS top_n FROM c GROUP BY doc_id)
             |SELECT pd.doc_id, n_tokens,
             |  floor(top_n / n_tokens * 1e6 + 0.5) / 1e6 AS top_token_frac,
             |  dup_trigram_frac,
             |  (floor(top_n / n_tokens * 1e6 + 0.5) / 1e6 > 0.2
             |    OR dup_trigram_frac > 0.2) AS repetitive
             |FROM pd JOIN m ON pd.doc_id = m.doc_id
             |ORDER BY pd.doc_id""".stripMargin)
    ),

    // ----- language ID: stopword-voting heuristic, confusion matrix ---------
    "txt_langid" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .withColumn("n_en", expr("size(filter(t, w -> array_contains(array('the','a','of','and','is'), w)))"))
          .withColumn("n_de", expr("size(filter(t, w -> array_contains(array('der','die','das','und','ist'), w)))"))
          .withColumn("n_es", expr("size(filter(t, w -> array_contains(array('el','los','las','es','una'), w)))"))
          .withColumn("n_fr", expr("size(filter(t, w -> array_contains(array('le','les','et','est','une'), w)))"))
          .withColumn("predicted", expr(
            """CASE WHEN n_en >= n_de AND n_en >= n_es AND n_en >= n_fr THEN 'en'
              |     WHEN n_de >= n_es AND n_de >= n_fr THEN 'de'
              |     WHEN n_es >= n_fr THEN 'es' ELSE 'fr' END""".stripMargin))
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"), col("predicted"))
      },
      Some(s"""WITH toks AS (SELECT *, ${tokensD("text")} AS t FROM documents),
             |v AS (SELECT lang,
             |  len(list_filter(t, w -> list_contains(['the','a','of','and','is'], w))) AS n_en,
             |  len(list_filter(t, w -> list_contains(['der','die','das','und','ist'], w))) AS n_de,
             |  len(list_filter(t, w -> list_contains(['el','los','las','es','una'], w))) AS n_es,
             |  len(list_filter(t, w -> list_contains(['le','les','et','est','une'], w))) AS n_fr
             |  FROM toks)
             |SELECT lang,
             |  CASE WHEN n_en >= n_de AND n_en >= n_es AND n_en >= n_fr THEN 'en'
             |       WHEN n_de >= n_es AND n_de >= n_fr THEN 'de'
             |       WHEN n_es >= n_fr THEN 'es' ELSE 'fr' END AS predicted,
             |  COUNT(*) AS n_docs
             |FROM v GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin)
    ),

    // ----- document fingerprinting: md5 + rolling polynomial hash -----------
    "txt_fingerprint" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("norm", expr(raw"regexp_replace(lower(trim(text)), '\\s+', ' ')"))
          .select(
            col("doc_id"),
            md5(col("norm")).as("fp_md5"),
            expr(strHashS("norm")).as("fp_poly"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH n AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
             |           FROM documents)
             |SELECT doc_id, md5(norm) AS fp_md5, ${strHashD("norm")} AS fp_poly
             |FROM n ORDER BY doc_id""".stripMargin)
    ),

    // ----- word-bigram frequency: global top-30 -----------------------------
    "txt_ngram_top" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          // sequence(1, 0) is [1, 0] in Spark (not empty): guard 1-token docs
          .select(explode(expr(
            "if(size(t) < 2, cast(array() as array<string>), " +
              "transform(sequence(1, size(t) - 1), " +
              "j -> concat(element_at(t, j), ' ', element_at(t, j + 1))))")).as("bigram"))
          .groupBy(col("bigram"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(30)
      },
      Some(s"""WITH toks AS (SELECT ${tokensD("text")} AS t FROM documents),
             |b AS (SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
             |        j -> t[j] || ' ' || t[j + 1])) AS bigram FROM toks)
             |SELECT bigram, COUNT(*) AS n FROM b
             |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 30""".stripMargin)
    ),

    // ----- context-window packing (LLM pretraining layout) ------------------
    // Concatenate each source stream's tokens in doc_id order and cut into
    // fixed windows of 512: every doc maps to the [start_window, end_window]
    // span it lands in. Packing is PER SOURCE (partitioned window) — the
    // global-concatenation variant would order the whole corpus through one
    // task; per-shard packing is what a 100 TB pipeline does anyway, and
    // each shard's running sum parallelizes.
    "txt_context_packing" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        docs(s, d)
          .withColumn("n_tokens", expr(s"cast(size(${tokensS("text")}) as bigint)"))
          .filter(col("n_tokens") > 0)
          .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .select(
            col("doc_id"), col("source"), col("n_tokens"), col("cum_before"),
            expr("cum_before div 512").as("start_window"),
            expr("(cum_before + n_tokens - 1) div 512").as("end_window"))
          .withColumn("n_windows", col("end_window") - col("start_window") + 1)
          .orderBy(col("source"), col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, source,
             |    CAST(len(${tokensD("text")}) AS BIGINT) AS n_tokens FROM documents),
             |c AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
             |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS BIGINT) AS cum_before
             |  FROM toks WHERE n_tokens > 0)
             |SELECT doc_id, source, n_tokens, cum_before,
             |  cum_before // 512 AS start_window,
             |  (cum_before + n_tokens - 1) // 512 AS end_window,
             |  (cum_before + n_tokens - 1) // 512 - cum_before // 512 + 1 AS n_windows
             |FROM c ORDER BY source, doc_id""".stripMargin)
    ),

    // ----- deterministic stratified sampling --------------------------------
    // Hash-based bernoulli per language stratum: a doc is kept when its
    // portable content hash lands under the rate cutoff — reproducible
    // across engines and runs, no RNG state, and embarrassingly parallel
    // (one narrow projection + one aggregation at any scale).
    "txt_stratified_sample" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("norm", expr(raw"regexp_replace(lower(trim(text)), '\\s+', ' ')"))
          .withColumn("keep", expr(s"pmod(${strHashS("norm")}, 100) < 10"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_total"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
          .withColumn("rate", expr("floor(n_sampled / n_total * 1e6 + 0.5) / 1e6"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH n AS (SELECT lang,
             |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents),
             |f AS (SELECT lang, ((${strHashD("norm")} % 100) + 100) % 100 < 10 AS keep FROM n)
             |SELECT lang, COUNT(*) AS n_total,
             |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
             |  floor(SUM(CASE WHEN keep THEN 1 ELSE 0 END) / COUNT(*) * 1e6 + 0.5) / 1e6 AS rate
             |FROM f GROUP BY lang ORDER BY lang""".stripMargin)
    ),

    // ----- temperature-scaled mixture sampling (T = 0.5) --------------------
    // The multilingual rebalancing step: sample each language with
    // probability (tokens_lang / tokens_biggest)^T so low-resource strata
    // are up-weighted relative to their raw share. T is fixed at 0.5 —
    // sqrt is IEEE-exact on every platform where pow(x, 0.7) is not, so
    // the per-stratum threshold floor(sqrt(tl/tmax)*1e6) is bit-identical
    // in Spark and DuckDB and the hash-threshold keep decision is exactly
    // reproducible. One corpus pass for token sums, a languages-sized
    // probability table broadcast back, one map-side-combined count.
    "txt_temperature_sample" -> QuerySpec(
      (s, d) => {
        val base = docs(s, d)
          .withColumn("norm", expr(raw"regexp_replace(lower(trim(text)), '\\s+', ' ')"))
          .withColumn("n_tok", expr(s"size(${tokensS("text")})"))
        val lt = base.groupBy(col("lang"))
          .agg(sum(col("n_tok")).as("tl"))
        val m = lt.agg(max(col("tl")).as("tmax"))
        val probs = lt.crossJoin(broadcast(m))
          .withColumn("thresh", expr("cast(floor(sqrt(tl / tmax) * 1e6) as bigint)"))
          .select(col("lang"), col("thresh"))
        base.join(broadcast(probs), "lang")
          .withColumn("keep", expr(s"pmod(${strHashS("norm")}, 1000000) < thresh"))
          .groupBy(col("lang"), col("thresh"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
          .withColumn("sample_p", expr("thresh / 1e6"))
          .select(col("lang"), col("n_total"), col("n_kept"), col("sample_p"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH b AS (SELECT lang,
             |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
             |    len(${tokensD("text")}) AS n_tok FROM documents),
             |lt AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS tl FROM b GROUP BY lang),
             |m AS (SELECT MAX(tl) AS tmax FROM lt),
             |pr AS (SELECT lang, CAST(floor(sqrt(tl / tmax) * 1e6) AS BIGINT) AS thresh
             |  FROM lt CROSS JOIN m),
             |f AS (SELECT b.lang, pr.thresh,
             |    ((${strHashD("norm")} % 1000000) + 1000000) % 1000000 < pr.thresh AS keep
             |  FROM b JOIN pr USING (lang))
             |SELECT lang, COUNT(*) AS n_total,
             |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  thresh / 1e6 AS sample_p
             |FROM f GROUP BY lang, thresh ORDER BY lang""".stripMargin)
    ),

    // ----- budgeted source mix: fractional knapsack under a token budget ----
    // The selection step a token-budgeted training run actually makes:
    // given per-source mean quality and token mass, spend a budget (half
    // the corpus here) greedily from the highest-quality source down, the
    // marginal source contributing a FRACTIONAL take — the continuous
    // relaxation whose greedy solution is optimal (fractional knapsack).
    // Complements the share-shaping mixers (temperature / DSIR / epoch
    // replication): those reweight, this one decides the cutoff.
    //
    // One corpus pass (map-side-combined per-source aggregate of token
    // counts and the standard integer quality metric); the knapsack itself
    // runs over the #sources-row table — the single-partition cumulative
    // window is over ~dozens of rows by construction, never the corpus.
    "txt_budget_mix" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val qmExpr = s"floor((0.3 * ${stopRatioS("t")} + 0.4 * ${distinctRatioS("t")} " +
          s"+ 0.3 * ${lenScoreS("text")}) * 1e6 + 0.5)"
        val src = docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .withColumn("qm", expr(qmExpr).cast("long"))
          .withColumn("w", expr("cast(size(t) as bigint)"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("tokens"),
            sum(col("qm")).as("qsum"))
          .withColumn("avg_q_micro", expr("qsum div n_docs"))
        val total = src.agg((sum(col("tokens")) / 2).cast("bigint").as("budget"))
        val ord = Window.orderBy(col("avg_q_micro").desc, col("source"))
        src.crossJoin(broadcast(total))
          .withColumn("rank", row_number().over(ord))
          .withColumn("cum", sum(col("tokens")).over(
            ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("take_tokens", expr(
            "greatest(cast(0 as bigint), least(tokens, budget - (cum - tokens)))"))
          .withColumn("take_frac_micro", expr("take_tokens * 1000000 div tokens"))
          .select(col("rank"), col("source"), col("n_docs"), col("tokens"),
            col("avg_q_micro"), col("take_tokens"), col("take_frac_micro"))
          .orderBy(col("rank"))
      },
      Some(s"""WITH f AS (SELECT source, ${tokensD("text")} AS t, text FROM documents),
             |qv AS (SELECT source,
             |    CAST(floor((0.3 * (floor(len(list_filter(t, w -> list_contains(['the','a','of','and','is','to'], w))) / len(t) * 1e6 + 0.5) / 1e6)
             |      + 0.4 * (floor(len(list_distinct(t)) / len(t) * 1e6 + 0.5) / 1e6)
             |      + 0.3 * (floor(least(length(trim(text)), 400) / 400 * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) AS BIGINT) AS qm,
             |    CAST(len(t) AS BIGINT) AS w FROM f),
             |src AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS tokens,
             |    CAST(SUM(qm) AS BIGINT) AS qsum FROM qv GROUP BY source),
             |a AS (SELECT *, qsum // n_docs AS avg_q_micro FROM src),
             |tt AS (SELECT CAST(SUM(tokens) AS BIGINT) // 2 AS budget FROM a),
             |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY avg_q_micro DESC, source) AS rank,
             |    CAST(SUM(tokens) OVER (ORDER BY avg_q_micro DESC, source
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM a)
             |SELECT rank, source, n_docs, tokens, avg_q_micro,
             |  greatest(0, least(tokens, (SELECT budget FROM tt) - (cum - tokens))) AS take_tokens,
             |  greatest(0, least(tokens, (SELECT budget FROM tt) - (cum - tokens))) * 1000000 // tokens AS take_frac_micro
             |FROM r ORDER BY rank""".stripMargin)
    ),

    // ----- priority sampling: weighted sample + unbiased subset-sum sketch --
    // Weight-proportional sampling WITHOUT replacement with an unbiased
    // total estimator (Duffield/Lund/Thorup, "Priority sampling", JACM'07):
    // each doc draws priority q = w/u (w = token count, u uniform), the
    // per-stratum sample is the top-k by q, and with tau = the (k+1)-th
    // priority, sum(max(w_i, tau)) over the sample unbiasedly estimates the
    // stratum's total weight. This is THE primitive for "how many tokens
    // would this selection keep" answered from a tiny sample instead of a
    // second corpus scan — the estimator is near-optimal among k-sample
    // subset-sum estimators.
    //
    // Engine-exact contract: u is a triple-iterated Lehmer hash of
    // (doc_id + 1) mod M (M = 2^31 - 1) — one step is monotone in doc_id
    // below ~44k (no wraparound: 48271 * 44486 < 2^31), which would make
    // the "uniform" draw just the smallest ids; three steps wrap twice so
    // u spreads over [1, M] even for small sequential ids. The priority is
    // the exact BIGINT floor-division q = (w * M) div u — this is DIRECTLY
    // the DLT priority w/(u/M) in TOKEN units, so tau (the 11th priority)
    // compares against the sampled w with no unit conversion and no
    // overflow headroom problem (w * M fits int64 for any w < 4.3e9
    // tokens/doc; est sums k priorities ~ stratum total, fine to 1e12+
    // corpus tokens). No libm, no float ranking: the sampled SET (not just
    // the estimate) hash-matches across engines. Scale shape: the
    // top-(k+1) per stratum comes from the bounded mergeable top11_by_long
    // aggregator — #strata x 11 rows cross the wire, where a row_number
    // window would shuffle-sort the whole corpus through #strata
    // partitions (the skew trap a 5-source 100 TB corpus springs); the
    // sampled ids then join back broadcast. The oracle replays the
    // identical ranking as a window (correct at oracle scale, pinned to
    // the same ORDER BY q DESC, id). `PrioritySampleSpec` asserts the
    // estimator actually estimates: ratio within 35% of 1 on every
    // stratum of the fixture, and the unit discipline (inc = max(w, tau)
    // with both in tokens) is what makes that hold.
    "txt_priority_sample" -> QuerySpec(
      (s, d) => {
        // ONE corpus pass tokenizes: the per-stratum totals AND the bounded
        // top-(k+1) come out of the same groupBy (three 64×-probed scans
        // collapsed to one — tokenization is the whole per-row cost here)
        val agg = docs(s, d)
          .withColumn("w", expr(s"size(${tokensS("text")})").cast("long"))
          .withColumn("u", expr(
            "((((doc_id + 1) * 48271) % 2147483647 * 48271) % 2147483647 * 48271) % 2147483647 + 1"))
          .withColumn("q", expr("(w * 2147483647) div u"))
          .groupBy(col("source"))
          .agg(expr("top11_by_long(q, doc_id)").as("top"),
            count(lit(1)).as("n_docs"), sum(col("w")).as("true_tokens"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // lazy persist, deliberately: the r11 forced build was re-A/B'd in
        // r12 (VERDICT item 6) and measured dead flat (min-of-4 solo:
        // 1.288 s eager vs 1.285 s lazy) — agg is one row per source, its
        // two consumers join through broadcasts, and the duplicate-build
        // race the eager rule targets doesn't bite here. Reverted per the
        // keep-only-what-measures discipline.
        graft.CacheTracker.track(agg)
        val tops = agg
          .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("source"), (col("pos") + 1).as("rn"),
            col("t._1").as("q"), col("t._2").as("doc_id"))
        val tau = tops.filter(col("rn") === 11).select(col("source"), col("q").as("tau"))
        // the sampled ids are #strata × k rows — broadcast them INTO the
        // doc scan and tokenize after the join, so only the ~200 sampled
        // documents pay the weight recomputation
        val sampledW = docs(s, d).select(col("doc_id"), col("text"))
          .join(broadcast(tops.filter(col("rn") <= 10).select(col("source"), col("doc_id"))),
            Seq("doc_id"))
          .withColumn("w", expr(s"size(${tokensS("text")})").cast("long"))
        val est = sampledW
          .join(broadcast(tau), Seq("source"), "left")
          .withColumn("inc", greatest(col("w"), coalesce(col("tau"), lit(0L))))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sample"), sum(col("inc")).cast("bigint").as("est"))
        agg.select(col("source"), col("n_docs"), col("true_tokens"))
          .join(est, Seq("source"))
          .select(col("source"), col("n_docs"), col("true_tokens"), col("n_sample"),
            expr("est * 1000000").as("est_microtokens"),
            expr("((est * 2000000 + true_tokens) div (true_tokens * 2)) / 1e6").as("ratio"))
          .orderBy(col("source"))
      },
      Some(s"""WITH b AS (SELECT doc_id, source,
             |    CAST(len(${tokensD("text")}) AS BIGINT) AS w FROM documents),
             |p AS (SELECT *, ((((doc_id + 1) * 48271) % 2147483647 * 48271) % 2147483647 * 48271) % 2147483647 + 1 AS u FROM b),
             |q AS (SELECT *, (w * 2147483647) // u AS q FROM p),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn FROM q),
             |tau AS (SELECT source, q AS tau FROM r WHERE rn = 11),
             |sm AS (SELECT r.source,
             |    greatest(r.w, COALESCE(t.tau, 0)) AS inc
             |  FROM r LEFT JOIN tau t ON r.source = t.source WHERE r.rn <= 10),
             |est AS (SELECT source, COUNT(*) AS n_sample,
             |    CAST(SUM(inc) AS BIGINT) AS est FROM sm GROUP BY source),
             |tot AS (SELECT source, COUNT(*) AS n_docs,
             |    CAST(SUM(w) AS BIGINT) AS true_tokens FROM b GROUP BY source)
             |SELECT tot.source, n_docs, true_tokens, n_sample,
             |  est * 1000000 AS est_microtokens,
             |  ((est * 2000000 + true_tokens) // (true_tokens * 2)) / 1e6 AS ratio
             |FROM tot JOIN est ON tot.source = est.source ORDER BY tot.source""".stripMargin)
    ),

    // ----- distinctive terms per language: lift-ranked TF-IDF analog --------
    // Corpus diagnostics: which terms are over-represented in each language
    // stratum. lift = (term share within the stratum) / (term share in the
    // whole corpus), computed as (tf_lang / tf_all) * (tokens_all /
    // tokens_lang) — the divide-first form keeps every intermediate a double
    // (a tf_lang * tokens_all BIGINT product would overflow int64 around
    // 1e10 corpus tokens), and both engines evaluate the identical IEEE
    // division/multiply sequence, so ordering matches exactly. Totals are
    // aggregates joined back (per-language broadcast, per-term shuffle join,
    // global scalar cross join) rather than windows: an empty-partition or
    // per-language window would funnel the vocabulary table through single
    // tasks, while these stay distributed at any vocabulary size. The final
    // rank<=10 window is group-limit-optimized by Spark (per-partition
    // top-k before the shuffle).
    "txt_distinctive_terms" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // persist: four consumers (totals x3 + the main join) read tf, and
        // its lineage is the corpus-sized explode; the cached table itself
        // is only vocabulary-sized
        val tf = graft.CacheTracker.eager(docs(s, d)
          .select(col("lang"), explode(expr(tokensS("text"))).as("w"))
          .groupBy(col("lang"), col("w"))
          .agg(count(lit(1)).as("tf_lang"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val perLang = tf.groupBy(col("lang")).agg(sum(col("tf_lang")).as("tokens_lang"))
        val perTerm = tf.groupBy(col("w")).agg(sum(col("tf_lang")).as("tf_all"))
        val totals = tf.agg(sum(col("tf_lang")).as("tokens_all"))
        val liftExpr = "(tf_lang / tf_all) * (tokens_all / tokens_lang)"
        val wr = Window.partitionBy(col("lang")).orderBy(expr(liftExpr).desc, col("w"))
        // null-safe (<=>) joins: groupBy keeps a NULL lang/term as its own
        // group (as the windowed oracle form does) and an equi-join would
        // silently drop it
        tf.filter(col("tf_lang") >= 5).as("t")
          .join(broadcast(perLang.as("pl")), col("t.lang") <=> col("pl.lang"))
          .drop(col("pl.lang"))
          .join(perTerm.as("pt"), col("t.w") <=> col("pt.w"))
          .drop(col("pt.w"))
          .crossJoin(broadcast(totals))
          .withColumn("lift", expr(s"floor($liftExpr * 1e6 + 0.5) / 1e6"))
          .withColumn("rank", row_number().over(wr))
          .filter(col("rank") <= 10)
          .select(col("lang"), col("w").as("term"), col("tf_lang"), col("tf_all"),
            col("lift"), col("rank"))
          .orderBy(col("lang"), col("rank"))
      },
      Some(s"""WITH toks AS (SELECT lang, ${tokensD("text")} AS t FROM documents),
             |u AS (SELECT lang, unnest(t) AS w FROM toks),
             |tf AS (SELECT lang, w, COUNT(*) AS tf_lang FROM u GROUP BY 1, 2),
             |x AS (SELECT lang, w, tf_lang,
             |    CAST(SUM(tf_lang) OVER (PARTITION BY lang) AS BIGINT) AS tokens_lang,
             |    CAST(SUM(tf_lang) OVER (PARTITION BY w) AS BIGINT) AS tf_all,
             |    CAST(SUM(tf_lang) OVER () AS BIGINT) AS tokens_all
             |  FROM tf),
             |l AS (SELECT lang, w AS term, tf_lang, tf_all,
             |    floor((tf_lang / tf_all) * (tokens_all / tokens_lang) * 1e6 + 0.5) / 1e6 AS lift,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY (tf_lang / tf_all) * (tokens_all / tokens_lang) DESC, w) AS rank
             |  FROM x WHERE tf_lang >= 5)
             |SELECT lang, term, tf_lang, tf_all, lift, rank FROM l
             |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin)
    ),

    // ----- corpus rollup by (lang, source): chars/tokens written ------------
    "txt_corpus_rollup" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .rollup(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(expr("length(trim(text))")).as("total_chars"),
            sum(expr("size(t)")).as("total_tokens"))
          .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
      },
      Some(s"""WITH toks AS (SELECT *, ${tokensD("text")} AS t FROM documents)
             |SELECT lang, source, COUNT(*) AS n_docs,
             |  CAST(SUM(length(trim(text))) AS BIGINT) AS total_chars,
             |  CAST(SUM(len(t)) AS BIGINT) AS total_tokens
             |FROM toks GROUP BY ROLLUP (lang, source)
             |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin)
    ),

    // ----- source vocabulary overlap: pairwise Jaccard via inverted index ---
    // How much two crawl sources share vocabulary — the corpus-mixing
    // diagnostic run before blending sources into a training set. The join
    // key is the WORD (inverted index), so each word emits at most
    // sources-choose-2 pairs regardless of corpus size; documents are never
    // self-joined. At 100 TB the distinct (source, word) projection is the
    // only corpus-sized shuffle; everything after runs on vocabulary-sized
    // data, and the per-source vocab totals broadcast.
    "txt_source_overlap" -> QuerySpec(
      (s, d) => {
        val sw = docs(s, d)
          .select(col("source"), explode(expr(tokensS("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .distinct()
        val vocab = sw.groupBy(col("source")).agg(count(lit(1)).as("v"))
        sw.as("a").join(sw.as("b"),
            col("a.w") === col("b.w") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_common"))
          .join(broadcast(vocab.select(col("source").as("src_a"),
            col("v").as("v_a"))), "src_a")
          .join(broadcast(vocab.select(col("source").as("src_b"),
            col("v").as("v_b"))), "src_b")
          .withColumn("jaccard",
            expr("floor(n_common / (v_a + v_b - n_common) * 1e6 + 0.5) / 1e6"))
          .select(col("src_a"), col("src_b"), col("n_common"), col("jaccard"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""WITH sw AS (SELECT DISTINCT source, w
             |    FROM (SELECT source, unnest(${tokensD("text")}) AS w
             |          FROM documents) z WHERE length(w) > 0),
             |v AS (SELECT source, COUNT(*) AS v FROM sw GROUP BY 1),
             |p AS (SELECT a.source AS src_a, b.source AS src_b,
             |    COUNT(*) AS n_common
             |  FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT src_a, src_b, n_common,
             |  floor(n_common / (va.v + vb.v - n_common) * 1e6 + 0.5) / 1e6 AS jaccard
             |FROM p JOIN v va ON p.src_a = va.source
             |  JOIN v vb ON p.src_b = vb.source
             |ORDER BY src_a, src_b""".stripMargin)
    ),

    // ----- rare-token novelty: frequency-grounded quality signal ------------
    // The corpus-statistics complement to the per-row repetition filter: a
    // document's share of rare tokens (corpus document-frequency <= 2),
    // high for novel/specific content and OCR garbage alike, so it feeds
    // curation thresholds from both ends. Two map-side-combined aggregates
    // (per-(doc, token) distinct, then token DF) and one equi-join of
    // tokens to their DF on the hash — the frequency table is
    // vocabulary-sized, joined not broadcast, so an arbitrarily large
    // vocabulary still partitions. Ratios are exact-integer floor-rounded.
    "txt_novelty" -> QuerySpec(
      (s, d) => {
        val dt = docs(s, d)
          .select(col("doc_id"),
            explode(expr(s"array_distinct(${tokenHashesS(tokensS("text"))})")).as("h"))
        val df = dt.groupBy(col("h")).agg(count(lit(1)).as("df"))
        dt.join(df, "h")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_distinct"),
            sum(when(col("df") <= 2, 1L).otherwise(0L)).as("n_rare"))
          .withColumn("rarity_ratio",
            expr("floor(n_rare / n_distinct * 1e6 + 0.5) / 1e6"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH raw AS (SELECT doc_id, unnest(${tokenHashesD(tokensD("text"))}) AS h
             |    FROM documents),
             |dt AS (SELECT DISTINCT doc_id, h FROM raw),
             |f AS (SELECT h, COUNT(*) AS df FROM dt GROUP BY h)
             |SELECT doc_id, COUNT(*) AS n_distinct,
             |  CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
             |  floor(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) / COUNT(*) * 1e6 + 0.5) / 1e6
             |    AS rarity_ratio
             |FROM dt JOIN f USING (h)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // ----- sketch-estimated source similarity: MinHash-union aggregator -----
    // The mergeable-sketch path to what txt_source_overlap computes exactly:
    // per-document 16-lane MinHash signatures aggregate per source through
    // the MinHashUnion Aggregator (element-wise min = signature of the
    // source's token-set UNION), and lane agreement between two source
    // signatures estimates vocabulary Jaccard. At 100 TB this is the query
    // that scales where the exact one strains: partial aggregation reduces
    // every map task to #sources x 16 longs before the only shuffle — no
    // corpus-sized distinct, no inverted index. The pair join runs on a
    // #sources-row table.
    "txt_source_minhash_sim" -> QuerySpec(
      (s, d) => {
        val sigs = docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .withColumn("sig", expr(s"minhash16(${tokenHashesS("t")})"))
          .groupBy(col("source"))
          .agg(expr("minhash_union(sig)").as("sig"))
        sigs.as("a").join(broadcast(sigs.as("b")),
            col("a.source") < col("b.source"))
          .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
            expr("cast(aggregate(zip_with(a.sig, b.sig, (x, y) -> if(x = y, 1L, 0L)), " +
              "0L, (acc, v) -> acc + v) as bigint)").as("n_match"))
          .withColumn("est_jaccard",
            expr("floor(n_match / 16 * 1e6 + 0.5) / 1e6"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""WITH d AS (SELECT source,
             |    ${minhashSigD(tokenHashesD(tokensD("text")))} AS s FROM documents),
             |u AS (SELECT source, list_transform(generate_series(1, 16), i ->
             |    list_min(list_transform(list(s), v -> v[i]))) AS sig
             |  FROM d GROUP BY source),
             |p AS (SELECT a.source AS src_a, b.source AS src_b,
             |    CAST(list_sum(list_transform(generate_series(1, 16), i ->
             |      CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS BIGINT) AS n_match
             |  FROM u a JOIN u b ON a.source < b.source)
             |SELECT src_a, src_b, n_match,
             |  floor(n_match / 16 * 1e6 + 0.5) / 1e6 AS est_jaccard
             |FROM p ORDER BY src_a, src_b""".stripMargin)
    ),

    // ----- domain-mixture reweighting: per-language sampling weights --------
    // Training mixtures are rebalanced by sampling weight = target share /
    // actual share. Target here is the uniform mixture over observed
    // languages; the computation is one aggregate over the corpus plus
    // window totals over the tiny per-language result — at 100 TB the corpus
    // is touched once (map-side-combined token sums), everything after runs
    // on a handful of rows.
    "txt_mixture_weights" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(expr("size(t)")).as("lang_tokens"))
          .withColumn("actual_share", expr(
            "floor(lang_tokens / sum(lang_tokens) over () * 1e6 + 0.5) / 1e6"))
          .withColumn("weight", expr(
            "floor((1.0 / count(1) over ()) / (lang_tokens / sum(lang_tokens) over ()) * 1e6 + 0.5) / 1e6"))
          .select(col("lang"), col("n_docs"), col("lang_tokens"),
            col("actual_share"), col("weight"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH toks AS (SELECT lang, ${tokensD("text")} AS t FROM documents),
             |g AS (SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(len(t)) AS BIGINT) AS lang_tokens FROM toks GROUP BY lang)
             |SELECT lang, n_docs, lang_tokens,
             |  floor(lang_tokens / CAST(SUM(lang_tokens) OVER () AS BIGINT) * 1e6 + 0.5) / 1e6 AS actual_share,
             |  floor((1.0 / COUNT(*) OVER ()) / (lang_tokens / CAST(SUM(lang_tokens) OVER () AS BIGINT)) * 1e6 + 0.5) / 1e6 AS weight
             |FROM g ORDER BY lang""".stripMargin)
    ),

    // ----- unigram-LM cross-entropy: the perplexity-proxy quality filter ----
    // The classic LM-based quality signal (KenLM-style filtering) reduced
    // to a corpus-trained unigram model: per-token cost = ln(total/count)
    // in fixed-point micro-nats, per-doc score = mean cost. Integer
    // fixed-point (floor to BIGINT before the sum) keeps the doc sum an
    // exact integer, so Spark's partition-order-dependent double summation
    // never diverges from DuckDB's. Residual cross-engine risk: the ln
    // itself is libm — JVM Math.log and DuckDB's log are both
    // faithfully-rounded but not guaranteed IDENTICALLY rounded, so a
    // cost within ~1 ulp of an integer micro-nat boundary could floor
    // apart by 1. Not observed on the gate corpora; if it ever trips, the
    // fix is a tolerance on xent_micro, not a different fixed point.
    "txt_perplexity" -> QuerySpec(
      (s, d) => perplexityFor(s, d, HotVocab),
      Some(s"""WITH toks AS (SELECT doc_id, ${tokensD("text")} AS t FROM documents),
             |tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
             |cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
             |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
             |cost AS (SELECT w, CAST(floor(ln(CAST(total AS DOUBLE) / c) * 1e6) AS BIGINT) AS cm
             |  FROM cnt CROSS JOIN tot)
             |SELECT t.doc_id, COUNT(*) AS n_tok,
             |  CAST(SUM(k.cm) AS BIGINT) // COUNT(*) AS xent_micro
             |FROM tok t JOIN cost k USING (w)
             |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin)
    ),

    // ----- DSIR importance weights: data selection for a target domain ------
    // Data Selection with Importance Resampling (Xie et al. 2023,
    // arXiv:2302.03169) reduced to its unigram form: score every raw
    // document by how much more likely its tokens are under the TARGET
    // domain's language model than under the raw-corpus model,
    // lambda(w) = ln( p_target(w) / p_raw(w) ) with add-one smoothing, and
    // keep docs whose mean per-token log-ratio is positive (more
    // target-like than the corpus average). Here the "target corpus" is
    // the lang='en' slice standing in for a curated reference set. Same
    // integer discipline as txt_perplexity: per-token cost floored to
    // micro-nat BIGINTs (partition-order-proof; the ln itself carries the
    // documented ~1-ulp libm risk), per-doc mean via exact floor division.
    // Scale design: the token->(c_target, c_raw) lookup is the same
    // Zipf-skewed join as perplexity and takes the same hot/cold split —
    // top-K head broadcasts, tail shuffle-joins, legs disjoint by
    // anti-join. is_target rides the output as the self-consistency
    // check: target-slice docs score visibly positive against their own
    // model (measured at sf0.01: target docs average above zero, the
    // non-target average sits below), so the selection is a working
    // discriminator, not just exercised plumbing.
    "txt_dsir_weights" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // same (doc_id, token, k) pre-aggregation as perplexityFor: the
        // hot/cold lambda lookup moves distinct (doc, token) pairs, not
        // token instances; n_tok = sum(k), sm = sum(k * lm)
        // eager: tok feeds cr, ct, and both scored legs — four independent
        // stages that would otherwise each rebuild the tokenize pipeline
        // over the cold cache (profiled: 4 corpus passes per run)
        val tok = graft.CacheTracker.eager(
          docs(s, d).select(col("doc_id"), col("lang"),
            explode(expr(tokensS("text"))).as("w"))
            .groupBy(col("doc_id"), col("lang"), col("w"))
            .agg(count(lit(1)).as("k"))
            .persist(MEMORY_AND_DISK))
        // vocab-sized count tables, each consumed twice (lam + its own
        // total): eager-cache so the tok aggregation runs once per table,
        // not once per consumer stage
        val cr = graft.CacheTracker.eager(
          tok.groupBy(col("w")).agg(sum(col("k")).cast("bigint").as("c_r"))
            .persist(MEMORY_AND_DISK))
        val ct = graft.CacheTracker.eager(
          tok.filter(col("lang") === "en")
            .groupBy(col("w")).agg(sum(col("k")).cast("bigint").as("c_t"))
            .persist(MEMORY_AND_DISK))
        val tots = cr.agg(sum(col("c_r")).cast("bigint").as("r"), count(lit(1)).as("v"))
        val ttot = ct.agg(sum(col("c_t")).cast("bigint").as("t")).na.fill(0L, Seq("t"))
        val lam = graft.CacheTracker.eager(
          cr.join(ct, Seq("w"), "left").na.fill(0L, Seq("c_t"))
            .crossJoin(broadcast(tots)).crossJoin(broadcast(ttot))
            .select(col("w"), col("c_r"),
              expr("cast(floor(ln((cast(c_t + 1 as double) * (r + v)) / " +
                "((t + v) * cast(c_r + 1 as double))) * 1e6) as bigint)").as("lm"))
            .persist(MEMORY_AND_DISK))
        val hot = lam.orderBy(col("c_r").desc, col("w").asc).limit(HotVocab)
          .select(col("w"), col("lm"))
        val cold = lam.join(hot.select("w"), Seq("w"), "left_anti")
          .select(col("w"), col("lm"))
        val scored = tok.join(broadcast(hot), Seq("w"))
          .unionByName(tok.join(cold, Seq("w")))
        scored.groupBy(col("doc_id"), (col("lang") === "en").as("is_target"))
          .agg(sum(col("k")).cast("bigint").as("n_tok"),
            sum(expr("k * lm")).cast("bigint").as("sm"))
          .select(col("doc_id"), col("is_target"), col("n_tok"),
            expr("(sm - pmod(sm, n_tok)) div n_tok").as("dsir_micro"))
          .withColumn("kept", col("dsir_micro") > 0)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, ${tokensD("text")} AS t FROM documents),
             |tok AS (SELECT doc_id, lang, unnest(t) AS w FROM toks),
             |cr AS (SELECT w, COUNT(*) AS c_r FROM tok GROUP BY w),
             |ctc AS (SELECT w, COUNT(*) AS c_t FROM tok WHERE lang = 'en' GROUP BY w),
             |tots AS (SELECT CAST(SUM(c_r) AS BIGINT) AS r, COUNT(*) AS v FROM cr),
             |ttot AS (SELECT CAST(COALESCE(SUM(c_t), 0) AS BIGINT) AS t FROM ctc),
             |lam AS (SELECT cr.w, CAST(floor(ln((CAST(COALESCE(ctc.c_t, 0) + 1 AS DOUBLE) * (r + v)) /
             |    ((t + v) * CAST(cr.c_r + 1 AS DOUBLE))) * 1e6) AS BIGINT) AS lm
             |  FROM cr LEFT JOIN ctc USING (w) CROSS JOIN tots CROSS JOIN ttot),
             |agg AS (SELECT tk.doc_id, (tk.lang = 'en') AS is_target,
             |    COUNT(*) AS n_tok, CAST(SUM(l.lm) AS BIGINT) AS sm
             |  FROM tok tk JOIN lam l USING (w) GROUP BY 1, 2)
             |SELECT doc_id, is_target, n_tok,
             |  (sm - ((sm % n_tok) + n_tok) % n_tok) // n_tok AS dsir_micro,
             |  (sm - ((sm % n_tok) + n_tok) % n_tok) // n_tok > 0 AS kept
             |FROM agg ORDER BY doc_id""".stripMargin)
    ),

    // ----- bigram-LM cross-entropy: the order-2 quality filter --------------
    // txt_perplexity's unigram model scores WHAT words a document uses;
    // the bigram model scores whether they occur in plausible ORDER — the
    // signal that separates fluent text from shuffled-bag spam with an
    // identical unigram profile (KenLM-style filters are n-gram models for
    // exactly this reason). Model: add-one-smoothed conditional
    // P(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), per-bigram cost
    // ln(1/P) floored to micro-nat BIGINTs, per-doc mean via exact floor
    // division — the same integer discipline (and the same residual ~1-ulp
    // libm ln caveat) as txt_perplexity. V is the vocabulary observed in
    // bigram context (either position) — derived from the BIGRAM count
    // table, never a second corpus scan; both engines state the identical
    // contract so the hash is exact. Docs with < 2 tokens have no bigrams
    // and drop out (no defined order-2 score).
    //
    // Scale design, round-8 form from the start: the corpus reduces to
    // (doc_id, bigram, k) in ONE pass (map-side combined) before ANY join,
    // so the model lookup moves distinct pairs, not occurrences; the cost
    // table is vocabulary²-bounded and takes the same hot/cold split as
    // the unigram twin (top-K head broadcast — Zipf puts most bigram mass
    // there — unskewed tail shuffle-joined); c(w1 ·) is a second
    // vocabulary-sized aggregate of the count table, never of the corpus.
    "txt_bigram_perplexity" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val bgk = graft.CacheTracker.eager(docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .select(col("doc_id"), explode(expr(
            "if(size(t) < 2, cast(array() as array<string>), " +
              "transform(sequence(1, size(t) - 1), " +
              "j -> concat(element_at(t, j), ' ', element_at(t, j + 1))))")).as("b"))
          .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("k"))
          .persist(MEMORY_AND_DISK))
        val cnt = graft.CacheTracker.eager(
          bgk.groupBy(col("b")).agg(sum(col("k")).cast("bigint").as("cb"))
            .persist(MEMORY_AND_DISK))
        val c1 = cnt.withColumn("w1", expr("substring_index(b, ' ', 1)"))
          .groupBy(col("w1")).agg(sum(col("cb")).cast("bigint").as("c1"))
        val vocab = cnt.select(explode(array(
            expr("substring_index(b, ' ', 1)"),
            expr("substring_index(b, ' ', -1)"))).as("w"))
          .agg(countDistinct(col("w")).as("v"))
        val cost = graft.CacheTracker.eager(
          cnt.withColumn("w1", expr("substring_index(b, ' ', 1)"))
            .join(c1, Seq("w1"))
            .crossJoin(broadcast(vocab))
            .select(col("b"), col("cb"),
              expr("cast(floor(ln(cast(c1 + v as double) / (cb + 1)) * 1e6) as bigint)").as("cm"))
            .persist(MEMORY_AND_DISK))
        val hot = cost.orderBy(col("cb").desc, col("b").asc).limit(HotVocab)
          .select(col("b"), col("cm"))
        val cold = cost.join(hot.select(col("b")), Seq("b"), "left_anti")
          .select(col("b"), col("cm"))
        bgk.join(broadcast(hot), Seq("b"))
          .unionByName(bgk.join(cold, Seq("b")))
          .groupBy(col("doc_id"))
          .agg(sum(col("k")).cast("bigint").as("n_bigram"),
            sum(expr("k * cm")).cast("bigint").as("sc"))
          .select(col("doc_id"), col("n_bigram"),
            expr("sc div n_bigram").as("xent2_micro"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${tokensD("text")} AS t FROM documents),
             |bga AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(t) - 1, 0)),
             |    j -> t[j] || ' ' || t[j + 1]) AS bs FROM toks),
             |tok AS (SELECT doc_id, unnest(bs) AS b FROM bga),
             |bgk AS (SELECT doc_id, b, COUNT(*) AS k FROM tok GROUP BY 1, 2),
             |cnt AS (SELECT b, CAST(SUM(k) AS BIGINT) AS cb FROM bgk GROUP BY b),
             |c1 AS (SELECT split_part(b, ' ', 1) AS w1, CAST(SUM(cb) AS BIGINT) AS c1
             |  FROM cnt GROUP BY 1),
             |vocab AS (SELECT COUNT(DISTINCT w) AS v FROM (
             |  SELECT split_part(b, ' ', 1) AS w FROM cnt
             |  UNION ALL SELECT substr(b, strpos(b, ' ') + 1) FROM cnt) u),
             |cost AS (SELECT cnt.b,
             |    CAST(floor(ln(CAST(c1.c1 + v AS DOUBLE) / (cnt.cb + 1)) * 1e6) AS BIGINT) AS cm
             |  FROM cnt JOIN c1 ON split_part(cnt.b, ' ', 1) = c1.w1 CROSS JOIN vocab)
             |SELECT g.doc_id, CAST(SUM(g.k) AS BIGINT) AS n_bigram,
             |  CAST(SUM(g.k * c.cm) AS BIGINT) // CAST(SUM(g.k) AS BIGINT) AS xent2_micro
             |FROM bgk g JOIN cost c ON g.b = c.b
             |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)
    ),

    // ----- winnowing fingerprints: guaranteed-coverage local selection ------
    // The MOSS algorithm (Schleimer/Wilkerson/Aiken, SIGMOD'03): slide a
    // w-gram window over the positional 3-gram shingle hashes and keep
    // each window's MINIMUM (rightmost on ties) — the selection with the
    // winnowing guarantee that every shared substring of length >= w+2
    // tokens contributes at least one COMMON fingerprint, at ~2/(w+1)
    // density. This is the fingerprint family member the others lack:
    // txt_fingerprint hashes whole docs (no locality), CDC cuts content-
    // defined CHUNKS (variable-size units), minhash keeps a fixed-size
    // SKETCH (no positions); winnowing keeps position-bearing local
    // fingerprints with a worst-case detection guarantee — the
    // plagiarism/provenance primitive.
    //
    // Engine-exact trick: the rightmost-min argmin needs no struct
    // machinery — key = sh[j]*8 + (p+3-j) makes the integer minimum
    // select (min hash, then max j), and j recovers as p+3-(minkey % 8).
    // All BIGINT (sh < 1e9+7, *8 ≪ 2^63). Scale: one narrow projection
    // per doc, array-land selection (no explode before the per-doc
    // stats), map-side-combinable rollup — embarrassingly parallel.
    "txt_winnowing" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // the shingle projection MUST materialize before the window
        // lambdas touch it: collapsed projections re-evaluate upstream
        // expressions per lambda ELEMENT, turning each sh[j] access into
        // a full tokenize+hash+shingle recomputation (measured 65 s at
        // sf0.1 collapsed vs ~1 s materialized — the HOF pitfall the
        // README documents, bitten live)
        val sh = graft.CacheTracker.track(Tables.spread(docs(s, d), "doc_id")
          .withColumn("t", expr(tokensS("text")))
          .withColumn("th", expr(tokenHashesS("t")))
          .select(col("doc_id"), expr(shingleHashesS("th")).as("sh"))
          .persist(MEMORY_AND_DISK))
        sh.filter(size(col("sh")) >= 4)
          .withColumn("sel", expr(
            "array_distinct(transform(sequence(1, size(sh) - 3), p -> " +
            "p + 3 - pmod(array_min(transform(sequence(p, p + 3), " +
            "j -> element_at(sh, j) * 8 + (p + 3 - j))), 8)))"))
          .select(col("doc_id"),
            size(col("sh")).cast("long").as("n_grams"),
            size(col("sel")).cast("long").as("n_selected"),
            expr("cast(size(sel) as bigint) * 1000000 div (size(sh) - 3)")
              .as("density_micro"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${tokensD("text")} AS t FROM documents),
             |th AS (SELECT doc_id, ${tokenHashesD("t")} AS th FROM toks),
             |shs AS (SELECT doc_id, ${shingleHashesD("th")} AS sh FROM th),
             |f AS (SELECT doc_id, sh, len(sh) AS m FROM shs WHERE len(sh) >= 4),
             |sel AS (SELECT doc_id, m, list_distinct(list_transform(generate_series(1, m - 3), p ->
             |    p + 3 - (list_min(list_transform(generate_series(p, p + 3),
             |      j -> sh[j] * 8 + (p + 3 - j))) % 8))) AS ps
             |  FROM f)
             |SELECT doc_id, CAST(m AS BIGINT) AS n_grams,
             |  CAST(len(ps) AS BIGINT) AS n_selected,
             |  CAST(len(ps) AS BIGINT) * 1000000 // (m - 3) AS density_micro
             |FROM sel ORDER BY doc_id""".stripMargin)
    ),

    // ----- DoReMi-style domain reweighting: multiplicative weights ----------
    // Domain-mixture optimization in the DoReMi shape (Xie et al. 2023,
    // arXiv:2305.10429): start from uniform domain weights and repeatedly
    // tilt toward domains with EXCESS loss under a proxy model, so the
    // final mixture upsamples what the corpus finds hard instead of what
    // is merely abundant. Reductions that keep it engine-exact: the proxy
    // is the corpus-trained unigram LM (per-domain mean token cost L_i in
    // micro-nats — the txt_perplexity arithmetic aggregated by source),
    // and the exponentiated-gradient update is linearized to integer
    // multiplicative weights, w'_i = w_i · (1e6 + (L_i − L̄)) in micro
    // fixed-point (the small-η limit of exp(η·excess), η = 1/nat),
    // renormalized to Σ = 1e6 by exact floor division each round, T = 4
    // rounds unrolled identically in both engines — every update is BIGINT
    // multiply/divide, so the oracle matches bit-for-bit. Output carries
    // (round, source, weight) so the trajectory itself is checked, not
    // just the fixed point.
    //
    // Scale: one corpus pass pre-aggregates (source, token, k); the
    // per-domain losses reduce through a vocab-sized join to #domains
    // rows, which are DRIVER-sized by definition — the MW rounds run as
    // plain integer arithmetic on the collected rows (the BPE-argmax
    // pattern; a distributed form of the 4 rounds spent ~11 s at sf0.1
    // re-evaluating round lineages for a 20-row frame).
    "txt_domain_reweight" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val tok = graft.CacheTracker.eager(docs(s, d)
          .select(col("source"), explode(expr(tokensS("text"))).as("w"))
          .groupBy(col("source"), col("w")).agg(count(lit(1)).as("k"))
          .persist(MEMORY_AND_DISK))
        val cnt = tok.groupBy(col("w")).agg(sum(col("k")).cast("bigint").as("c"))
        val tot = cnt.agg(sum(col("c")).cast("bigint").as("total"))
        val cost = cnt.crossJoin(broadcast(tot))
          .select(col("w"),
            expr("cast(floor(ln(cast(total as double) / c) * 1e6) as bigint)").as("cm"))
        // per-domain mean token cost: #domains rows from a vocab-sized join
        val lm = tok.join(cost, Seq("w"))
          .groupBy(col("source"))
          .agg(expr("cast(sum(k * cm) as bigint)").as("sc"),
            sum(col("k")).cast("bigint").as("nt"))
          .select(col("source"), expr("sc div nt").as("l_micro"))
        // the cluster's work ends here: the MW rounds run over #domains
        // rows, which is DRIVER-sized by definition — one collect, pure
        // integer arithmetic, no per-round Spark jobs (the distributed
        // form spent ~11 s at sf0.1 re-evaluating round lineages for a
        // 20-row frame). Identical update chain to the oracle's CTEs.
        import s.implicits._
        val doms = lm.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
        val lbar = doms.map(_._2).sum / doms.length
        val nd = doms.length
        var w = doms.map(_ => 1000000L / nd)
        val rows = (1 to 4).flatMap { r =>
          val wu = doms.zip(w).map { case ((_, l), wi) =>
            wi * math.max(0L, 1000000L + (l - lbar)) }
          val z = wu.sum
          w = wu.map(_ * 1000000L / z)
          doms.zip(w).map { case ((src, l), wi) =>
            (r, src, l, l - lbar, wi) }
        }
        rows.toDF("round", "source", "l_micro", "excess_micro", "weight_micro")
          .orderBy(col("round"), col("source"))
      },
      Some {
        val roundCtes = (1 to 4).map { r =>
          val prev = if (r == 1) "w0" else s"w${r - 1}"
          s"""u$r AS (SELECT source, l_micro, excess_micro, w * greatest(0, 1000000 + excess_micro) AS wu FROM $prev),
             |z$r AS (SELECT CAST(SUM(wu) AS BIGINT) AS z FROM u$r),
             |w$r AS (SELECT source, l_micro, excess_micro, wu * 1000000 // z AS w
             |  FROM u$r CROSS JOIN z$r)""".stripMargin
        }.mkString(",\n")
        val roundSelects = (1 to 4).map { r =>
          s"SELECT $r AS round, source, l_micro, excess_micro, w AS weight_micro FROM w$r"
        }.mkString("\nUNION ALL ")
        s"""WITH toks AS (SELECT source, ${tokensD("text")} AS t FROM documents),
           |tokk AS (SELECT source, w, COUNT(*) AS k FROM
           |  (SELECT source, unnest(t) AS w FROM toks) u GROUP BY 1, 2),
           |cnt AS (SELECT w, CAST(SUM(k) AS BIGINT) AS c FROM tokk GROUP BY w),
           |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
           |cost AS (SELECT w, CAST(floor(ln(CAST(total AS DOUBLE) / c) * 1e6) AS BIGINT) AS cm
           |  FROM cnt CROSS JOIN tot),
           |lm AS (SELECT source, CAST(SUM(k * cm) AS BIGINT) // CAST(SUM(k) AS BIGINT) AS l_micro
           |  FROM tokk JOIN cost USING (w) GROUP BY source),
           |lb AS (SELECT CAST(SUM(l_micro) AS BIGINT) // COUNT(*) AS lbar, COUNT(*) AS nd FROM lm),
           |w0 AS (SELECT source, l_micro, l_micro - lbar AS excess_micro,
           |    CAST(1000000 AS BIGINT) // nd AS w FROM lm CROSS JOIN lb),
           |$roundCtes
           |$roundSelects
           |ORDER BY round, source""".stripMargin
      }
    ),

    // ----- vocabulary coverage curve: tokenizer-budget sizing ---------------
    // "What vocab size covers X% of token occurrences" — the sizing input
    // for tokenizer training. Scale design: NO corpus- or vocab-sized
    // window. The corpus aggregates to (token, count) [map-side combined],
    // the vocab aggregates to COUNT CLASSES (count value -> #tokens, mass)
    // — a table bounded by the number of DISTINCT count values (Zipf: a few
    // hundred at any corpus size, since counts above ~sqrt(corpus) are
    // sparse and small counts collapse into one class each) — and the
    // cumulative runs over that tiny table. Tokens within a class are
    // interchangeable for SIZE, so the threshold resolves arithmetically
    // inside the selected class: m = ceil((need - prev_mass) / c), all in
    // exact BIGINTs. A naive rank-window over the vocabulary would funnel
    // a 100M-token vocab through one task; this never materializes a rank.
    "txt_vocab_coverage" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val vocab = docs(s, d)
          .select(explode(expr(tokensS("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
        val classes = vocab.groupBy(col("c"))
          .agg(count(lit(1)).as("n_toks"))
          .withColumn("mass", col("c") * col("n_toks"))
        val w = Window.orderBy(col("c").desc)
        val cum = classes
          .withColumn("cum_mass", sum(col("mass")).over(w))
          .withColumn("cum_toks", sum(col("n_toks")).over(w))
        val tot = classes.agg(sum(col("mass")).as("total"))
        cum.crossJoin(broadcast(tot))
          .select(explode(expr("array(50, 90, 95, 99)")).as("pct"),
            col("c"), col("n_toks"), col("mass"),
            col("cum_mass"), col("cum_toks"), col("total"))
          .filter(expr("cum_mass * 100 >= pct * total AND (cum_mass - mass) * 100 < pct * total"))
          .withColumn("prev_mass", col("cum_mass") - col("mass"))
          .withColumn("prev_toks", col("cum_toks") - col("n_toks"))
          .withColumn("need", expr("(pct * total + 99) div 100"))
          .withColumn("m", expr("(need - prev_mass + c - 1) div c"))
          .select(col("pct"),
            expr("prev_toks + m").as("vocab_size"),
            expr("floor((prev_mass + m * c) / total * 1e6 + 0.5) / 1e6").as("coverage"))
          .orderBy(col("pct"))
      },
      Some(s"""WITH tok AS (SELECT unnest(${tokensD("text")}) AS w FROM documents),
             |v AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
             |cls AS (SELECT c, COUNT(*) AS n_toks, c * COUNT(*) AS mass FROM v GROUP BY c),
             |cum AS (SELECT *, CAST(SUM(mass) OVER (ORDER BY c DESC) AS BIGINT) AS cum_mass,
             |  CAST(SUM(n_toks) OVER (ORDER BY c DESC) AS BIGINT) AS cum_toks FROM cls),
             |tt AS (SELECT CAST(SUM(mass) AS BIGINT) AS total FROM cls),
             |th AS (SELECT unnest([50, 90, 95, 99]) AS pct),
             |sel AS (SELECT pct, c, n_toks, mass, cum_mass, cum_toks, total,
             |    cum_mass - mass AS prev_mass, cum_toks - n_toks AS prev_toks,
             |    (pct * total + 99) // 100 AS need
             |  FROM cum CROSS JOIN tt CROSS JOIN th
             |  WHERE cum_mass * 100 >= pct * total
             |    AND (cum_mass - mass) * 100 < pct * total)
             |SELECT pct,
             |  prev_toks + (need - prev_mass + c - 1) // c AS vocab_size,
             |  floor((prev_mass + ((need - prev_mass + c - 1) // c) * c) / total * 1e6 + 0.5) / 1e6 AS coverage
             |FROM sel ORDER BY pct""".stripMargin)
    ),

    // ----- epoch-replication schedule: mixing with repetition ---------------
    // The step after mixture weights: rebalancing to the uniform per-source
    // token share at CONSTANT total budget means over-represented sources
    // subsample while under-represented ones repeat for MULTIPLE EPOCHS
    // (repeat factor > 1) — the LLaMA-style "epochs per source" schedule.
    // Integer-exact: the factor is fixed-point ppm (one double divide +
    // multiply, IEEE-identical in both engines, floored to BIGINT); whole
    // epochs are `repeat_ppm div 1e6` for every doc, and the fractional
    // epoch picks docs by portable content hash under `repeat_ppm % 1e6`
    // — deterministic, engine-reproducible, no RNG. One corpus pass for
    // token sums, a sources-sized rate table broadcast back, one map-side-
    // combined aggregate; scheduled_tokens stays exact BIGINT arithmetic.
    "txt_epoch_mix" -> QuerySpec(
      (s, d) => {
        val base = docs(s, d)
          .withColumn("norm", expr(raw"regexp_replace(lower(trim(text)), '\\s+', ' ')"))
          .withColumn("n_tok", expr(s"cast(size(${tokensS("text")}) as bigint)"))
        val st = base.groupBy(col("source"))
          .agg(sum(col("n_tok")).as("ts"), count(lit(1)).as("n_docs"))
        val tot = st.agg(sum(col("ts")).as("total"), count(lit(1)).as("n_sources"))
        val rates = st.crossJoin(broadcast(tot))
          .withColumn("repeat_ppm",
            expr("cast(floor(total / (n_sources * ts) * 1e6) as bigint)"))
          .select(col("source"), col("ts"), col("n_docs"), col("repeat_ppm"))
        base.join(broadcast(rates), "source")
          .withColumn("extra",
            expr(s"pmod(${strHashS("norm")}, 1000000) < repeat_ppm % 1000000"))
          .groupBy(col("source"), col("ts"), col("n_docs"), col("repeat_ppm"))
          .agg(sum(when(col("extra"), 1L).otherwise(0L)).as("n_extra"),
            sum(when(col("extra"), col("n_tok")).otherwise(0L)).as("extra_tokens"))
          .select(col("source"), col("n_docs"), col("ts").as("source_tokens"),
            col("repeat_ppm"),
            expr("n_docs * (repeat_ppm div 1000000) + n_extra").as("scheduled_docs"),
            expr("(repeat_ppm div 1000000) * ts + extra_tokens").as("scheduled_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH b AS (SELECT source,
             |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
             |    CAST(len(${tokensD("text")}) AS BIGINT) AS n_tok FROM documents),
             |st AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS ts,
             |    COUNT(*) AS n_docs FROM b GROUP BY source),
             |tot AS (SELECT CAST(SUM(ts) AS BIGINT) AS total,
             |    COUNT(*) AS n_sources FROM st),
             |rates AS (SELECT source, ts, n_docs,
             |    CAST(floor(total / (n_sources * ts) * 1e6) AS BIGINT) AS repeat_ppm
             |  FROM st CROSS JOIN tot),
             |f AS (SELECT b.source, r.ts, r.n_docs, r.repeat_ppm, b.n_tok,
             |    ((${strHashD("norm")} % 1000000) + 1000000) % 1000000 < r.repeat_ppm % 1000000 AS extra
             |  FROM b JOIN rates r USING (source))
             |SELECT source, n_docs, ts AS source_tokens, repeat_ppm,
             |  n_docs * (repeat_ppm // 1000000)
             |    + CAST(SUM(CASE WHEN extra THEN 1 ELSE 0 END) AS BIGINT) AS scheduled_docs,
             |  (repeat_ppm // 1000000) * ts
             |    + CAST(SUM(CASE WHEN extra THEN n_tok ELSE 0 END) AS BIGINT) AS scheduled_tokens
             |FROM f GROUP BY source, ts, n_docs, repeat_ppm ORDER BY source""".stripMargin)
    ),

    // ----- composed curation funnel: first-drop attribution, oracle-exact ---
    // The end-to-end [[graft.jobs.CorpusCuration]] pipeline as ONE verified
    // row: every document is attributed to the FIRST stage that drops it
    // (benchmark holdout -> quality -> repetition -> contamination ->
    // near-dup cluster member), and the per-stage doc/token totals are
    // hash-compared against a DuckDB replay of the whole chain — including
    // the MinHash+LSH pair pipeline and the connected-components labeling
    // that feed the duplicate stage. Scale design is the sum of its parts
    // (each stage is individually oracled and probed): one corpus scan for
    // the stateless signals, broadcast benchmark/drop-list joins back, and
    // the pair pipeline's banded skew guards; the funnel adds only a
    // per-reason final aggregate. minContamFrac=0.05 (vs curate's
    // any-hit default) because this corpus's 30-word vocabulary makes some
    // trigram overlap with the holdout slice near-universal — the funnel
    // should exercise every stage, not let one swallow the corpus.
    "txt_curation_funnel" -> QuerySpec(
      (s, d) => {
        // duplicate-stage labels from the maintained DupGraph label store:
        // the funnel's pair universe (distinct token-hash trigrams ->
        // minhash16 -> banded LSH -> j >= 0.5 verify) IS the registry dup
        // graph, so the per-run tokenize -> sign -> band-join -> verify
        // pipeline plus a components solve collapses to a label-bucket
        // scan — the one corpus pass left is the signal projection. The
        // oracle below stays the full from-scratch recursive-closure
        // replay, so the driver hash gate re-pins store == recompute on
        // every run (guide §1.2/§2.4: remove the recompute, keep the
        // contract).
        val fl = graft.jobs.CorpusCuration.flagWithLabels(
          Tables.t(s, d, "documents"),
          graft.analytics.DedupQueries.registryLabels(s, d),
          graft.jobs.CorpusCuration.CurationConfig(minContamFrac = 0.05))
        fl.groupBy(coalesce(col("reason"), lit("kept")).as("reason"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("bigint").as("n_tokens"))
          .orderBy(col("reason"))
      },
      Some(s"""WITH RECURSIVE ${DedupQueries.MinhashPairsCte},
             |e AS (SELECT doc_a AS a, doc_b AS b FROM v WHERE j >= 0.5),
             |und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
             |verts AS (SELECT DISTINCT a AS id FROM und),
             |reach AS (SELECT id, id AS r FROM verts
             |  UNION
             |  SELECT u.a AS id, reach.r FROM und u JOIN reach ON u.b = reach.id),
             |lbl AS (SELECT id, MIN(r) AS lbl FROM reach GROUP BY id),
             |trix AS (SELECT doc_id, ${shingleHashesD("th")} AS tri FROM th),
             |qual AS (SELECT k.doc_id, CAST(len(k.t) AS BIGINT) AS n_tokens,
             |  floor(len(list_filter(k.t, w -> list_contains(['the','a','of','and','is','to'], w))) / len(k.t) * 1e6 + 0.5) / 1e6 AS stop_ratio,
             |  floor(len(list_distinct(k.t)) / len(k.t) * 1e6 + 0.5) / 1e6 AS distinct_ratio,
             |  floor(least(length(trim(d.text)), 400) / 400 * 1e6 + 0.5) / 1e6 AS len_score
             |  FROM toks k JOIN documents d USING (doc_id)),
             |u2 AS (SELECT doc_id, unnest(th) AS h FROM th),
             |c2 AS (SELECT doc_id, h, COUNT(*) AS n FROM u2 GROUP BY 1, 2),
             |topn AS (SELECT doc_id, MAX(n) AS top_n FROM c2 GROUP BY doc_id),
             |bset AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % 20 = 0),
             |trn AS (SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % 20 <> 0),
             |hitsq AS (SELECT t.doc_id, COUNT(*) AS n_hits
             |  FROM trn t JOIN bset b ON t.h = b.h GROUP BY t.doc_id),
             |pre AS (SELECT q.doc_id, q.n_tokens,
             |  CASE WHEN q.doc_id % 20 = 0 THEN 'benchmark'
             |    WHEN floor((0.3 * stop_ratio + 0.4 * distinct_ratio + 0.3 * len_score) * 1e6 + 0.5) / 1e6 < 0.3 THEN 'quality'
             |    WHEN floor(coalesce(topn.top_n, 0) / q.n_tokens * 1e6 + 0.5) / 1e6 > 0.2
             |      OR (CASE WHEN len(th.th) < 3 THEN 0.0
             |          ELSE floor((1 - len(sh.hs) / len(trix.tri)) * 1e6 + 0.5) / 1e6 END) > 0.2 THEN 'repetition'
             |    WHEN floor(coalesce(hitsq.n_hits, 0) / greatest(len(sh.hs), 1) * 1e6 + 0.5) / 1e6 > 0.05 THEN 'contamination'
             |  END AS pre_reason
             |  FROM qual q JOIN th ON q.doc_id = th.doc_id
             |    JOIN sh ON q.doc_id = sh.doc_id
             |    JOIN trix ON q.doc_id = trix.doc_id
             |    LEFT JOIN topn ON q.doc_id = topn.doc_id
             |    LEFT JOIN hitsq ON q.doc_id = hitsq.doc_id),
             |surv AS (SELECT doc_id FROM pre WHERE pre_reason IS NULL),
             |sm AS (SELECT s.doc_id, l.lbl FROM surv s JOIN lbl l ON s.doc_id = l.id),
             |reps AS (SELECT lbl, MIN(doc_id) AS rep FROM sm GROUP BY lbl),
             |dupd AS (SELECT sm.doc_id FROM sm JOIN reps ON sm.lbl = reps.lbl
             |  WHERE sm.doc_id <> reps.rep),
             |fin AS (SELECT pre.doc_id, pre.n_tokens,
             |  COALESCE(pre_reason,
             |    CASE WHEN dupd.doc_id IS NOT NULL THEN 'duplicate' END) AS reason
             |  FROM pre LEFT JOIN dupd ON pre.doc_id = dupd.doc_id)
             |SELECT COALESCE(reason, 'kept') AS reason, COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
             |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ----- PII scrub: the redaction chain verified on matching text ---------
    // [[graft.functions.TextFunctions.scrubS]] is the production redaction
    // chain (URL -> email -> IPv4 -> phone, nested codegen'd regexp_replace,
    // no UDF). The `documents` corpus contains no PII-shaped strings, so a
    // scan over it would verify nothing (the zero-row-pass trap) — instead
    // the PII-bearing text is DERIVED deterministically from `customer`
    // (emails from c_name, phone digits from key arithmetic, URLs/IPs from
    // keys), with each PII type present on a key-dependent SUBSET of rows so
    // the per-segment counts are discriminative. The aggregate counts each
    // placeholder and the chars removed per market segment.
    //
    // Oracle divergence (documented): Spark replays the exact scrubS chain;
    // DuckDB's RE2 has no lookarounds, so the oracle's phone pattern drops
    // scrubS's (?<!\d)/(?!\d) digit-adjacency guards — vacuous here by
    // construction (every synthesized phone is space- or string-delimited),
    // and DuckDB needs the 'g' flag for replace-all (Spark's default).
    // Scale: one codegen'd projection + a 5-group aggregate; zero shuffles
    // beyond the final partial agg.
    "txt_pii_scrub" -> QuerySpec(
      (s, d) => {
        val c = Tables.t(s, d, "customer")
        val withRaw = c.withColumn("area", expr("cast(100 + c_custkey % 900 as string)"))
          .withColumn("mid", expr("cast(100 + (c_custkey * 3) % 900 as string)"))
          .withColumn("last4", expr("cast(1000 + (c_custkey * 7) % 9000 as string)"))
          .withColumn("raw", expr(
            "concat('contact ', lower(replace(c_name, '#', '')), '@mail.example.org'," +
              " if(c_acctbal >= 0, concat(' or call '," +
              "   if(c_custkey % 7 = 0, '+1-', ''), area, '-', mid, '-', last4), '')," +
              " if(c_custkey % 2 = 0, concat(' backup (', area, ') ', mid, '-', last4), '')," +
              " if(c_custkey % 3 = 0, concat(' visit https://ex.org/c/', cast(c_custkey as string)), '')," +
              " if(c_custkey % 5 = 0, concat(' node 10.', cast(c_custkey % 250 as string), '.0.', cast(c_nationkey as string)), ''))"))
          .withColumn("scrubbed", expr(scrubS("raw")))
        withRaw.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_rows"),
            expr("cast(sum((length(scrubbed) - length(replace(scrubbed, '[EMAIL]', ''))) / 7) as bigint)").as("n_emails"),
            expr("cast(sum((length(scrubbed) - length(replace(scrubbed, '[PHONE]', ''))) / 7) as bigint)").as("n_phones"),
            expr("cast(sum((length(scrubbed) - length(replace(scrubbed, '[IP]', ''))) / 4) as bigint)").as("n_ips"),
            expr("cast(sum((length(scrubbed) - length(replace(scrubbed, '[URL]', ''))) / 5) as bigint)").as("n_urls"),
            expr("cast(sum(length(raw) - length(scrubbed)) as bigint)").as("chars_removed"))
          .orderBy(col("c_mktsegment"))
      },
      Some(raw"""WITH r0 AS (SELECT c_mktsegment, c_custkey, c_nationkey, c_acctbal,
             |  CAST(100 + c_custkey % 900 AS VARCHAR) AS area,
             |  CAST(100 + (c_custkey * 3) % 900 AS VARCHAR) AS mid,
             |  CAST(1000 + (c_custkey * 7) % 9000 AS VARCHAR) AS last4,
             |  lower(replace(c_name, '#', '')) AS uname
             |  FROM customer),
             |rawt AS (SELECT c_mktsegment,
             |  concat('contact ', uname, '@mail.example.org',
             |    CASE WHEN c_acctbal >= 0 THEN concat(' or call ',
             |      CASE WHEN c_custkey % 7 = 0 THEN '+1-' ELSE '' END,
             |      area, '-', mid, '-', last4) ELSE '' END,
             |    CASE WHEN c_custkey % 2 = 0 THEN concat(' backup (', area, ') ', mid, '-', last4) ELSE '' END,
             |    CASE WHEN c_custkey % 3 = 0 THEN concat(' visit https://ex.org/c/', CAST(c_custkey AS VARCHAR)) ELSE '' END,
             |    CASE WHEN c_custkey % 5 = 0 THEN concat(' node 10.', CAST(c_custkey % 250 AS VARCHAR), '.0.', CAST(c_nationkey AS VARCHAR)) ELSE '' END) AS raw
             |  FROM r0),
             |scr AS (SELECT c_mktsegment, raw,
             |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
             |    'https?://\S+', '[URL]', 'g'),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             |    '\b(\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
             |    '(\+\d{1,2}[-. ]?)?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}', '[PHONE]', 'g') AS scrubbed
             |  FROM rawt)
             |SELECT c_mktsegment, COUNT(*) AS n_rows,
             |  CAST(SUM((length(scrubbed) - length(replace(scrubbed, '[EMAIL]', ''))) / 7) AS BIGINT) AS n_emails,
             |  CAST(SUM((length(scrubbed) - length(replace(scrubbed, '[PHONE]', ''))) / 7) AS BIGINT) AS n_phones,
             |  CAST(SUM((length(scrubbed) - length(replace(scrubbed, '[IP]', ''))) / 4) AS BIGINT) AS n_ips,
             |  CAST(SUM((length(scrubbed) - length(replace(scrubbed, '[URL]', ''))) / 5) AS BIGINT) AS n_urls,
             |  CAST(SUM(length(raw) - length(scrubbed)) AS BIGINT) AS chars_removed
             |FROM scr GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ----- BM25 full-text retrieval: top-5 per query over the corpus --------
    // The retrieval primitive a training pipeline uses for RAG indexing and
    // retrieval-based decontamination: Okapi BM25 (k1=1.2, b=0.75, Lucene
    // +1 idf) scoring every corpus document against a query set (here the
    // 8 lowest-id src0 documents standing in for the benchmark/query
    // batch). Shape at 100 TB: ONE corpus-sized shuffle builds the
    // (doc, term)->tf inverted index (persisted — doc lengths, document
    // frequencies, and scoring all reuse it); the query side (query terms
    // + their idf) is bounded by |queries| x |query vocab| and BROADCASTS,
    // so scoring is a map-side hash join over the index — no shuffle
    // keyed on the Zipf-skewed term. Stopword-dominated query terms
    // (df > N/2) are pruned, the standard guard that also caps the
    // broadcast fan-out: a term matching most of the corpus would emit
    // candidate rows ~N regardless, and BM25 gives it ~zero idf anyway.
    // Oracle parity: idf floored to micro-nat BIGINTs (documented ~1-ulp
    // libm ln risk, as txt_perplexity); each term's contribution floored
    // to an integer BEFORE the per-(query, doc) sum, so Spark's
    // partition-order double summation never diverges from DuckDB's.
    "txt_bm25_search" -> QuerySpec(
      (s, d) => {
        val qids = docs(s, d).filter(col("source") === "src0")
          .select(col("doc_id").as("qid")).orderBy(col("qid")).limit(8)
        bm25Ranked(s, d, qids, 5)
          .select(col("qid").as("query_id"), col("rank"), col("doc_id"),
            col("n_terms"), col("score_micro"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH ${bm25SqlCtes(
               "SELECT doc_id AS qid FROM documents WHERE source = 'src0' ORDER BY doc_id LIMIT 8")}
             |SELECT qid AS query_id, rank, doc_id, n_terms, score_micro
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
    ),

    // ----- BM25 against the PERSISTENT inverted index -----------------------
    // The production shape of txt_bm25_search: a retrieval service builds
    // the index once and answers many query batches from it.
    // registryTextIndex persists the posting rows once per corpus key;
    // search scores from the columnar posting scan — the corpus is
    // never re-tokenized. The ORACLE is the from-scratch SQL, so the
    // driver's hash compare itself pins store ≡ recompute every round;
    // TextIndexSpec pins the append lifecycle (frozen-scheme append ≡
    // build-over-union, including the re-derived corpus statistics).
    "txt_bm25_indexed" -> QuerySpec(
      (s, d) => {
        val idx = registryTextIndex(s, d)
        val qids = docs(s, d).filter(col("source") === "src0")
          .select(col("doc_id").as("qid")).orderBy(col("qid")).limit(8)
        graft.operators.TextIndex.search(s, idx, qids, 5)
          .select(col("qid").as("query_id"), col("rank"), col("doc_id"),
            col("n_terms"), col("score_micro"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH ${bm25SqlCtes(
               "SELECT doc_id AS qid FROM documents WHERE source = 'src0' ORDER BY doc_id LIMIT 8")}
             |SELECT qid AS query_id, rank, doc_id, n_terms, score_micro
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
    ),

    // ----- RAG chunking + chunk-level dedup stats ---------------------------
    // Retrieval corpora are indexed as overlapping fixed-size chunks
    // (window 64 tokens, stride 48 => 16-token overlap); duplicated chunks
    // inflate the index and skew retrieval, so the per-source duplicate
    // ratio is the stat a chunking pipeline reports. Pure narrow work —
    // tokenize, slice windows with sequence/transform HOFs (codegen'd, no
    // UDF), md5 each chunk — then one map-side-combined aggregate per
    // source; COUNT(DISTINCT md5) shuffles (source, fp) pairs, bounded by
    // chunk count, and partial-aggregates the distinct set per mapper.
    // Chunk starts only exist while start <= len(t) (both engines clamp
    // the final short window; out-of-range slices diverge — DuckDB yields
    // NULL where Spark gives empty — so the start grid stops at the last
    // non-empty window by construction).
    "txt_chunking" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .filter(expr("size(t) > 0"))
          .select(col("source"),
            explode(expr(
              "transform(sequence(0, cast((size(t) - 1) div 48 as int)), " +
                "i -> struct(md5(array_join(slice(t, i * 48 + 1, 64), ' ')) as fp, " +
                "size(slice(t, i * 48 + 1, 64)) as ct))")).as("c"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("c.fp")).as("n_distinct"),
            sum(col("c.ct")).cast("bigint").as("chunk_tokens"))
          .withColumn("dup_ratio",
            expr("floor((n_chunks - n_distinct) / n_chunks * 1e6 + 0.5) / 1e6"))
          .orderBy(col("source"))
      },
      Some(s"""WITH toks AS (SELECT source, ${tokensD("text")} AS t FROM documents),
             |ch AS (SELECT source,
             |    unnest(list_transform(generate_series(0, (len(t) - 1) // 48),
             |      i -> struct_pack(fp := md5(array_to_string(t[i * 48 + 1 : i * 48 + 64], ' ')),
             |                       ct := len(t[i * 48 + 1 : i * 48 + 64])))) AS c
             |  FROM toks WHERE len(t) > 0)
             |SELECT source, COUNT(*) AS n_chunks,
             |  COUNT(DISTINCT c.fp) AS n_distinct,
             |  CAST(SUM(c.ct) AS BIGINT) AS chunk_tokens,
             |  floor((COUNT(*) - COUNT(DISTINCT c.fp)) / COUNT(*) * 1e6 + 0.5) / 1e6 AS dup_ratio
             |FROM ch GROUP BY source ORDER BY source""".stripMargin)
    ),

    // ----- language x source independence: the mixture-balance chi-square ---
    // "Does every source contribute the same language mix, or is one crawl
    // skewing the blend?" — the contingency test a corpus-balance audit
    // runs. Observed counts are one map-side-combined (lang, source)
    // aggregate; expected counts are rational (row_total x col_total / n);
    // each cell's (o - e)²/e contribution is floor-quantized to a micro
    // BIGINT BEFORE the sum (partition-order-proof, same discipline as
    // every fixed-point query), so the statistic is engine-exact. The
    // cross-tab is #langs x #sources rows — driver-scale at any corpus
    // size; only the count aggregate touches the corpus.
    "txt_lang_source_chi2" -> QuerySpec(
      (s, d) => {
        val obs = docs(s, d).groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("o"))
        val rows = obs.groupBy(col("lang")).agg(sum(col("o")).cast("bigint").as("rt"))
        val cols = obs.groupBy(col("source")).agg(sum(col("o")).cast("bigint").as("ct"))
        val tot = obs.agg(sum(col("o")).cast("bigint").as("n"),
          countDistinct(col("lang")).as("nl"), countDistinct(col("source")).as("ns"))
        // the FULL lattice (cross join of margins), not just observed
        // cells: a zero-observed cell still contributes e to the statistic
        rows.crossJoin(cols)
          .join(obs, Seq("lang", "source"), "left").na.fill(0L, Seq("o"))
          .crossJoin(broadcast(tot))
          .select(expr(
            "cast(floor((o - cast(rt as double) * ct / n) * (o - cast(rt as double) * ct / n) / (cast(rt as double) * ct / n) * 1e6 + 0.5) as bigint)")
            .as("cm"), col("n"), col("nl"), col("ns"))
          .groupBy(col("n"), col("nl"), col("ns"))
          .agg(sum(col("cm")).cast("bigint").as("chi2_micro"))
          .select(col("n"), ((col("nl") - 1) * (col("ns") - 1)).as("dof"),
            col("chi2_micro"))
      },
      Some("""WITH obs AS (SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
             |r AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
             |c AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
             |t AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
             |    COUNT(DISTINCT lang) AS nl, COUNT(DISTINCT source) AS ns FROM obs),
             |cells AS (SELECT r.lang, c.source, r.rt, c.ct,
             |    COALESCE(obs.o, 0) AS o
             |  FROM r CROSS JOIN c LEFT JOIN obs ON obs.lang = r.lang AND obs.source = c.source),
             |k AS (SELECT CAST(floor((o - CAST(rt AS DOUBLE) * ct / n) * (o - CAST(rt AS DOUBLE) * ct / n) /
             |    (CAST(rt AS DOUBLE) * ct / n) * 1e6 + 0.5) AS BIGINT) AS cm, n, nl, ns
             |  FROM cells CROSS JOIN t)
             |SELECT n, (nl - 1) * (ns - 1) AS dof,
             |  CAST(SUM(cm) AS BIGINT) AS chi2_micro
             |FROM k GROUP BY n, nl, ns""".stripMargin)
    ),

    // ----- quality-threshold yield curve: what each cut would keep ----------
    // The other half of the curation lever ([[DedupQueries]] has the
    // Jaccard curve): docs and tokens surviving quality >= thr at four
    // candidate thresholds, per threshold — the table a data lead reads
    // before choosing the quality bar, because the KEPT-TOKEN budget (not
    // the doc count) is what the training run consumes. One scored
    // projection (the txt_quality_score arithmetic, floor-quantized so
    // threshold comparisons are engine-exact), one scores x 4-threshold
    // broadcast cross, one map-side-combined aggregate.
    "txt_quality_curve" -> QuerySpec(
      (s, d) => {
        val scored = docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .withColumn("stop_ratio", expr(stopRatioS("t")))
          .withColumn("distinct_ratio", expr(distinctRatioS("t")))
          .withColumn("len_score", expr(lenScoreS("text")))
          .withColumn("quality", expr(QualityS))
          .select(col("quality"), expr("size(t)").cast("bigint").as("n_tok"))
        val thr = scored.sparkSession.range(0, 1)
          .selectExpr("explode(array(0.30d, 0.35d, 0.40d, 0.45d)) as thr")
        scored.crossJoin(broadcast(thr))
          .groupBy(col("thr"))
          .agg(sum(when(col("quality") >= col("thr"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("quality") >= col("thr"), col("n_tok")).otherwise(0L))
              .cast("bigint").as("tokens_kept"),
            count(lit(1)).as("n_docs"))
          .withColumn("keep_ratio",
            expr("floor(n_kept / n_docs * 1e6 + 0.5) / 1e6"))
          .select(col("thr"), col("n_kept"), col("tokens_kept"), col("keep_ratio"))
          .orderBy(col("thr"))
      },
      Some(s"""WITH toks AS (SELECT *, ${tokensD("text")} AS t FROM documents),
             |q AS (SELECT len(t) AS n_tok,
             |    floor((0.3 * (floor(len(list_filter(t, w -> list_contains(['the','a','of','and','is','to'], w))) / len(t) * 1e6 + 0.5) / 1e6)
             |         + 0.4 * (floor(len(list_distinct(t)) / len(t) * 1e6 + 0.5) / 1e6)
             |         + 0.3 * (floor(least(length(trim(text)), 400) / 400 * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) / 1e6 AS quality
             |  FROM toks),
             |thr AS (SELECT unnest([0.30, 0.35, 0.40, 0.45]) AS thr)
             |SELECT thr,
             |  CAST(SUM(CASE WHEN quality >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(SUM(CASE WHEN quality >= thr THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept,
             |  floor(SUM(CASE WHEN quality >= thr THEN 1 ELSE 0 END) / COUNT(*) * 1e6 + 0.5) / 1e6 AS keep_ratio
             |FROM q CROSS JOIN thr GROUP BY thr ORDER BY thr""".stripMargin)
    ),

    // ----- corpus snapshot diff: the dataset-versioning audit ---------------
    // Every managed training corpus ships as versioned snapshots, and the
    // release gate asks: what changed — docs added, removed, edited, and
    // the net token budget delta, per source. Here v2 derives
    // deterministically from v1 (doc_id % 11 removed; % 7 edited with an
    // appended marker; % 13 re-landed under new ids), and the diff is ONE
    // full-outer join on doc_id — at 100 TB both snapshots shuffle once on
    // the id (or co-locate for free if both landed id-bucketed), statuses
    // resolve per-row from null-ness + text equality, and the per-source
    // rollup map-side combines. Token deltas count whitespace tokens on
    // both sides (absent side = 0), so the output is the exact token-
    // budget movement a data-release note reports.
    "txt_snapshot_diff" -> QuerySpec(
      (s, d) => {
        val v1 = docs(s, d).select(col("doc_id"), col("source"), col("text"))
        val v2 = v1.filter(col("doc_id") % 11 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" v2 edit"))).otherwise(col("text")))
          .unionByName(v1.filter(col("doc_id") % 13 === 0)
            // negative pseudo-ids: new-crawl docs can never collide with a
            // real doc_id however large the corpus grows
            .select((-(col("doc_id") + 1L)).as("doc_id"), col("source"),
              concat(col("text"), lit(" fresh crawl")).as("text")))
        val a = v1.select(col("doc_id"), col("source").as("src1"), col("text").as("t1"))
        val b = v2.select(col("doc_id"), col("source").as("src2"), col("text").as("t2"))
        a.join(b, Seq("doc_id"), "full_outer")
          .select(coalesce(col("src1"), col("src2")).as("source"),
            when(col("t1").isNull, "added").when(col("t2").isNull, "removed")
              .when(col("t1") =!= col("t2"), "changed").otherwise("unchanged")
              .as("status"),
            (coalesce(expr(s"size(${tokensS("t2")})"), lit(0)) -
              coalesce(expr(s"size(${tokensS("t1")})"), lit(0))).cast("bigint")
              .as("tok_delta"))
          .groupBy(col("source"))
          .agg(sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
            sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
            sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
            sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
            sum(col("tok_delta")).cast("bigint").as("token_delta"))
          .orderBy(col("source"))
      },
      Some(s"""WITH v1 AS (SELECT doc_id, source, text FROM documents),
             |v2 AS (SELECT doc_id, source,
             |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2 edit' ELSE text END AS text
             |  FROM v1 WHERE doc_id % 11 <> 0
             |  UNION ALL SELECT -(doc_id + 1) AS doc_id, source,
             |    text || ' fresh crawl' AS text FROM v1 WHERE doc_id % 13 = 0),
             |j AS (SELECT COALESCE(a.source, b.source) AS source,
             |    CASE WHEN a.text IS NULL THEN 'added'
             |         WHEN b.text IS NULL THEN 'removed'
             |         WHEN a.text <> b.text THEN 'changed'
             |         ELSE 'unchanged' END AS status,
             |    CAST(COALESCE(len(${tokensD("b.text")}), 0) -
             |         COALESCE(len(${tokensD("a.text")}), 0) AS BIGINT) AS tok_delta
             |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
             |SELECT source,
             |  CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             |  CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |  CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |  CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
             |  CAST(SUM(tok_delta) AS BIGINT) AS token_delta
             |FROM j GROUP BY source ORDER BY source""".stripMargin)
    ),

    // ----- content-defined chunking: insertion-shift-robust dedup units -----
    // Fixed-grid chunks (txt_chunking) miss duplicated content the moment an
    // insertion shifts it off the grid; content-defined chunking (the
    // FastCDC/storage-dedup family) cuts where the CONTENT says to — after
    // token p whenever the ROLLING 3-token shingle hash ending at p is
    // ≡ 0 (mod 16), expected chunk ~16 tokens — so a shared passage
    // produces identical chunks at ANY offset, and the per-source
    // duplicate ratio measures true content reuse rather than alignment
    // luck. (The rolling-window hash is the point of CDC: a boundary
    // keyed on a single token's identity would degenerate on this
    // corpus's ~31-token vocabulary — no token hash happens to be
    // ≡ 0 mod 32 — while 3-gram context gives ~29k distinct values.)
    // Scale shape: boundary flags are computed IN array land (one struct
    // array per doc, no per-token array duplication) then exploded once;
    // the chunk id is a per-document running sum over the flags — a
    // window PARTITIONED by doc_id, so every document sums independently
    // and the stage parallelizes by documents; chunk reassembly is one
    // (doc, chunk) aggregate with order restored by position
    // (collect_list is order-free; array_sort fixes it
    // deterministically), then a map-side-combined per-source rollup
    // with partial-aggregated COUNT DISTINCT over md5 fingerprints.
    "txt_cdc_chunking" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, -1)
        docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .filter(expr("size(t) > 0"))
          .withColumn("th", expr(tokenHashesS("t")))
          .withColumn("sh", expr(shingleHashesS("th")))
          .select(col("source"), col("doc_id"),
            explode(expr(
              "transform(sequence(1, size(t)), p -> struct(p - 1 as pos, " +
                "element_at(t, p) as w, " +
                "if(p >= 3 and element_at(sh, p - 2) % 16 = 0, 1, 0) as b))")).as("z"))
          .select(col("source"), col("doc_id"),
            expr("z.pos").as("pos"), expr("z.w").as("w"), expr("z.b").as("b"))
          .withColumn("chunk", coalesce(sum(col("b")).over(w), lit(0L)))
          .groupBy(col("source"), col("doc_id"), col("chunk"))
          .agg(count(lit(1)).as("clen"),
            expr("md5(array_join(transform(array_sort(collect_list(struct(pos, w))), " +
              "s -> s.w), ' '))").as("fp"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("fp")).as("n_distinct"),
            sum(col("clen")).cast("bigint").as("chunk_tokens"))
          .withColumn("dup_ratio",
            expr("floor((n_chunks - n_distinct) / n_chunks * 1e6 + 0.5) / 1e6"))
          .withColumn("avg_len",
            expr("floor(chunk_tokens / n_chunks * 1e6 + 0.5) / 1e6"))
          .orderBy(col("source"))
      },
      Some(s"""WITH toks AS (SELECT source, doc_id, ${tokensD("text")} AS t FROM documents),
             |sht AS (SELECT source, doc_id, t, ${shingleHashesD(tokenHashesD("t"))} AS sh
             |  FROM toks WHERE len(t) > 0),
             |zz AS (SELECT source, doc_id,
             |    unnest(list_transform(generate_series(1, len(t)), p -> struct_pack(
             |      pos := p - 1, w := t[p],
             |      b := CASE WHEN p >= 3 AND sh[p - 2] % 16 = 0 THEN 1 ELSE 0 END))) AS z
             |  FROM sht),
             |tok AS (SELECT source, doc_id, z.pos AS pos, z.w AS w, z.b AS b FROM zz),
             |ck AS (SELECT source, doc_id, pos, w,
             |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
             |  FROM tok),
             |ch AS (SELECT source, doc_id, chunk, COUNT(*) AS clen,
             |    md5(string_agg(w, ' ' ORDER BY pos)) AS fp
             |  FROM ck GROUP BY 1, 2, 3)
             |SELECT source, COUNT(*) AS n_chunks,
             |  COUNT(DISTINCT fp) AS n_distinct,
             |  CAST(SUM(clen) AS BIGINT) AS chunk_tokens,
             |  floor((COUNT(*) - COUNT(DISTINCT fp)) / COUNT(*) * 1e6 + 0.5) / 1e6 AS dup_ratio,
             |  floor(CAST(SUM(clen) AS BIGINT) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_len
             |FROM ch GROUP BY source ORDER BY source""".stripMargin)
    ),

    // ----- chunk-level retrieval with maxP doc scoring ----------------------
    // The long-document retrieval pattern (maxP): score CHUNKS (64-token
    // windows, stride 48 — the txt_chunking grid) with BM25, then rank
    // documents by their best chunk. Fixed-size retrieval units keep the
    // length normalization honest for long docs and point straight at the
    // matching passage (best_chunk rides the output). The 16-token overlap
    // means every adjacent bigram of the source doc lands in some chunk,
    // so query-doc term sets read straight off the chunk postings. Scale
    // shape: identical to bm25Ranked with chunks as pseudo-docs — one
    // corpus shuffle builds (doc, chunk, term)->tf; query terms + idf
    // broadcast; per-(query, chunk) contributions are integer micro-units;
    // the maxP fold and the doc ranking are two bounded window passes over
    // candidate rows only. Chunk-level df drives idf (the standard choice
    // when the index unit IS the chunk), df > N/2 pruned.
    "txt_chunk_search" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val tf = graft.CacheTracker.eager(
          docs(s, d)
            .withColumn("t", expr(tokensS("text")))
            .filter(expr("size(t) > 1"))
            .select(col("doc_id"), explode(expr(
              "transform(sequence(0, cast((size(t) - 1) div 48 as int)), " +
                "i -> struct(i as idx, slice(t, i * 48 + 1, 64) as ct))")).as("c"))
            .select(col("doc_id"), expr("c.idx").as("idx"),
              explode(expr(
                "if(size(c.ct) < 2, cast(array() as array<string>), " +
                  "transform(sequence(1, size(c.ct) - 1), " +
                  "j -> concat(element_at(c.ct, j), ' ', element_at(c.ct, j + 1))))")).as("w"))
            .groupBy(col("doc_id"), col("idx"), col("w"))
            .agg(count(lit(1)).as("tf"))
            .persist(MEMORY_AND_DISK))
        val dl = tf.groupBy(col("doc_id"), col("idx"))
          .agg(sum(col("tf")).cast("bigint").as("dl"))
        val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).cast("bigint").as("total"))
          .withColumn("avgdl", expr("cast(total as double) / n"))
        // bounded query batch -> driver literals (same move as
        // bm25RankedFrom): the qids subquery stops being replayed as a
        // broadcast subtree at three use sites, and the qid predicates
        // become plain filters over the one persisted chunk-tf frame
        val qidList = docs(s, d).filter(col("source") === "src0")
          .select(col("doc_id")).orderBy(col("doc_id")).limit(8)
          .collect().map(_.getLong(0)).toSeq
        val qidCol = col("doc_id").isin(qidList: _*)
        val qt = tf.filter(qidCol)
          .select(col("doc_id").as("qid"), col("w")).distinct()
        val dfq = tf.join(broadcast(qt.select(col("w")).distinct()), Seq("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("df"))
        val qti = dfq.join(broadcast(qt), Seq("w"))
          .crossJoin(broadcast(stats))
          .filter(expr("df * 2 <= n"))
          .select(col("qid"), col("w"),
            expr("cast(floor(ln((n - df + 0.5) / (df + 0.5) + 1) * 1e6) as bigint)")
              .as("idf_micro"))
        val cand = tf.filter(!qidCol)
        val chunkScores = cand.join(broadcast(qti), Seq("w"))
          .join(dl, Seq("doc_id", "idx"))
          .crossJoin(broadcast(stats.select(col("avgdl"))))
          .select(col("qid"), col("doc_id"), col("idx"),
            expr("cast(floor(idf_micro * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) + 0.5) as bigint)")
              .as("contrib"))
          .groupBy(col("qid"), col("doc_id"), col("idx"))
          .agg(sum(col("contrib")).cast("bigint").as("cs"))
        chunkScores
          .withColumn("cr", row_number().over(Window.partitionBy(col("qid"), col("doc_id"))
            .orderBy(col("cs").desc, col("idx"))))
          .filter(col("cr") === 1)
          .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
            .orderBy(col("cs").desc, col("doc_id"))))
          .filter(col("rank") <= 5)
          .select(col("qid").as("query_id"), col("rank"), col("doc_id"),
            col("idx").as("best_chunk"), col("cs").as("chunk_score_micro"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${tokensD("text")} AS t FROM documents),
             |ch AS (SELECT doc_id,
             |    unnest(list_transform(generate_series(0, (len(t) - 1) // 48),
             |      i -> struct_pack(idx := i, ct := t[i * 48 + 1 : i * 48 + 64]))) AS c
             |  FROM toks WHERE len(t) > 1),
             |tok AS (SELECT doc_id, c.idx AS idx,
             |    unnest(list_transform(generate_series(1, greatest(len(c.ct) - 1, 0)),
             |      j -> c.ct[j] || ' ' || c.ct[j + 1])) AS w FROM ch),
             |tf AS (SELECT doc_id, idx, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2, 3),
             |dl AS (SELECT doc_id, idx, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1, 2),
             |stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS total,
             |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
             |qids AS (SELECT doc_id AS qid FROM documents WHERE source = 'src0'
             |    ORDER BY doc_id LIMIT 8),
             |qt AS (SELECT DISTINCT qid, w FROM tf JOIN qids ON tf.doc_id = qids.qid),
             |dfq AS (SELECT w, COUNT(*) AS df FROM tf
             |  WHERE w IN (SELECT DISTINCT w FROM qt) GROUP BY 1),
             |qti AS (SELECT qid, qt.w,
             |    CAST(floor(ln((n - df + 0.5) / (df + 0.5) + 1) * 1e6) AS BIGINT) AS idf_micro
             |  FROM qt JOIN dfq ON qt.w = dfq.w CROSS JOIN stats WHERE df * 2 <= n),
             |cand AS (SELECT * FROM tf WHERE doc_id NOT IN (SELECT qid FROM qids)),
             |sc AS (SELECT qti.qid, cand.doc_id, cand.idx,
             |    CAST(SUM(CAST(floor(qti.idf_micro * ((cand.tf * 2.2) / (cand.tf + 1.2 * (0.25 + 0.75 * (dl.dl / stats.avgdl)))) + 0.5) AS BIGINT)) AS BIGINT) AS cs
             |  FROM cand JOIN qti ON cand.w = qti.w
             |    JOIN dl ON cand.doc_id = dl.doc_id AND cand.idx = dl.idx
             |    CROSS JOIN stats
             |  GROUP BY 1, 2, 3),
             |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid, doc_id
             |    ORDER BY cs DESC, idx) AS cr FROM sc),
             |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             |    ORDER BY cs DESC, doc_id) AS rank FROM best WHERE cr = 1)
             |SELECT qid AS query_id, rank, doc_id, idx AS best_chunk,
             |  cs AS chunk_score_micro
             |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
    ),

    // ----- late-interaction retrieval: MaxSim over chunk sets ---------------
    // The ColBERT scoring shape (Khattab & Zaharia, SIGIR'20) re-expressed
    // set-wise: a document is a BAG of chunk representations, a query is
    // too, and score(q, d) = sum over q-chunks of max over d-chunks of
    // chunk similarity — fine-grained matching that rewards a doc covering
    // EVERY aspect of the query, where single-vector retrieval averages
    // them away and maxP (txt_chunk_search) keeps only the best passage.
    // Chunk similarity here is exact bigram-set Jaccard in integer micro
    // units ((inter * 1e6) div union — engine-exact), standing in for the
    // token-embedding dot of the neural form with the same data flow.
    //
    // Scale shape: candidate (q-chunk, d-chunk) pairs come from a
    // DF-capped chunk-level inverted index (bigrams above chunk-df 100 are
    // dropped from candidate generation ONLY — the dedup_span rule,
    // rendered into the oracle identically), so pair mass is bounded by
    // #query-bigrams x cap, never corpus x query; the exact verify then
    // joins the full chunk sets back for true Jaccard. The sum-of-max
    // aggregates per (q-chunk, doc) before the per-doc sum, both map-side
    // combinable.
    "txt_maxsim_search" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val chunks = graft.CacheTracker.eager(docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .filter(expr("size(t) > 1"))
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, cast((size(t) - 1) div 48 as int)), " +
              "i -> struct(i as idx, slice(t, i * 48 + 1, 64) as ct))")).as("c"))
          .select(col("doc_id"), expr("c.idx").as("idx"), expr(
            "array_distinct(if(size(c.ct) < 2, cast(array() as array<string>), " +
              "transform(sequence(1, size(c.ct) - 1), " +
              "j -> concat(element_at(c.ct, j), ' ', element_at(c.ct, j + 1)))))").as("bset"))
          .filter(size(col("bset")) > 0)
          .withColumn("bn", size(col("bset")))
          .persist(MEMORY_AND_DISK))
        // bounded query batch -> driver literals (the bm25RankedFrom move):
        // no broadcast subtree per qids use site, qid predicates are plain
        // filters over the one persisted chunk frame
        val qidList = docs(s, d).filter(col("source") === "src0")
          .select(col("doc_id")).orderBy(col("doc_id")).limit(3)
          .collect().map(_.getLong(0)).toSeq
        val qidCol = col("doc_id").isin(qidList: _*)
        // NOT cached, deliberately (round 12 A/B): the exploded posting
        // frame feeds three consumers, but forcing it was measured SLOWER
        // at gate (1.86 s eager vs 1.43 s lazy, min-of-4 solo) and a wash
        // at 64× (8.67 vs 9.06) — the duplicate explodes re-read the
        // cached chunk frame cheaply, while the forced build adds a job
        // plus a corpus-sized posting materialization.
        val inv = chunks.select(col("doc_id"), col("idx"), explode(col("bset")).as("w"))
        val wdf = inv.groupBy(col("w")).agg(count(lit(1)).as("cdf"))
          .filter(col("cdf") <= graft.analytics.DedupQueries.ShingleDfCap)
        val invc = inv.join(broadcast(wdf.select(col("w"))), Seq("w"))
        val qinv = invc.filter(qidCol)
          .select(col("doc_id").as("qid"), col("idx").as("qidx"), col("w"))
        val cand = invc.join(broadcast(qinv), Seq("w"))
          .filter(col("doc_id") =!= col("qid"))
          .select(col("qid"), col("qidx"), col("doc_id"), col("idx").as("didx"))
          .distinct()
        val qch = chunks.filter(qidCol)
          .select(col("doc_id").as("qid"), col("idx").as("qidx"),
            col("bset").as("qb"), col("bn").as("qn"))
        val ver = cand
          .join(broadcast(qch), Seq("qid", "qidx"))
          .join(chunks.select(col("doc_id"), col("idx").as("didx"),
            col("bset"), col("bn")), Seq("doc_id", "didx"))
          .withColumn("inter", expr("cast(size(array_intersect(qb, bset)) as bigint)"))
          .withColumn("jmicro", expr("(inter * 1000000) div (qn + bn - inter)"))
        val best = ver.groupBy(col("qid"), col("qidx"), col("doc_id"))
          .agg(max(col("jmicro")).as("bj"))
        best.groupBy(col("qid"), col("doc_id"))
          .agg(count(lit(1)).as("n_chunks_hit"), sum(col("bj")).cast("bigint").as("maxsim_micro"))
          .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
            .orderBy(col("maxsim_micro").desc, col("doc_id"))))
          .filter(col("rank") <= 5)
          .select(col("qid").as("query_id"), col("rank"), col("doc_id"),
            col("n_chunks_hit"), col("maxsim_micro"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${tokensD("text")} AS t FROM documents),
             |ch AS (SELECT doc_id,
             |    unnest(list_transform(generate_series(0, (len(t) - 1) // 48),
             |      i -> struct_pack(idx := i, ct := t[i * 48 + 1 : i * 48 + 64]))) AS c
             |  FROM toks WHERE len(t) > 1),
             |cbn AS (SELECT doc_id, idx, bset, CAST(len(bset) AS BIGINT) AS bn FROM (
             |    SELECT doc_id, c.idx AS idx,
             |      list_distinct(list_transform(generate_series(1, greatest(len(c.ct) - 1, 0)),
             |        j -> c.ct[j] || ' ' || c.ct[j + 1])) AS bset FROM ch) z
             |  WHERE len(bset) > 0),
             |inv AS (SELECT doc_id, idx, unnest(bset) AS w FROM cbn),
             |wdf AS (SELECT w FROM (SELECT w, COUNT(*) AS cdf FROM inv GROUP BY w) z
             |  WHERE cdf <= ${graft.analytics.DedupQueries.ShingleDfCap}),
             |invc AS (SELECT i.* FROM inv i JOIN wdf ON i.w = wdf.w),
             |qids AS (SELECT doc_id AS qid FROM documents WHERE source = 'src0'
             |    ORDER BY doc_id LIMIT 3),
             |qinv AS (SELECT q.qid, i.idx AS qidx, i.w
             |  FROM invc i JOIN qids q ON i.doc_id = q.qid),
             |cand AS (SELECT DISTINCT qi.qid, qi.qidx, i.doc_id, i.idx AS didx
             |  FROM invc i JOIN qinv qi ON i.w = qi.w WHERE i.doc_id <> qi.qid),
             |qch AS (SELECT q.qid, c.idx AS qidx, c.bset AS qb, c.bn AS qn
             |  FROM cbn c JOIN qids q ON c.doc_id = q.qid),
             |ver AS (SELECT cd.qid, cd.qidx, cd.doc_id,
             |    CAST(len(list_intersect(qc.qb, c.bset)) AS BIGINT) AS inter, qc.qn, c.bn
             |  FROM cand cd JOIN qch qc ON cd.qid = qc.qid AND cd.qidx = qc.qidx
             |    JOIN cbn c ON cd.doc_id = c.doc_id AND cd.didx = c.idx),
             |bj AS (SELECT qid, qidx, doc_id,
             |    MAX((inter * 1000000) // (qn + bn - inter)) AS bj FROM ver GROUP BY 1, 2, 3),
             |sc AS (SELECT qid, doc_id, COUNT(*) AS n_chunks_hit,
             |    CAST(SUM(bj) AS BIGINT) AS maxsim_micro FROM bj GROUP BY 1, 2),
             |r AS (SELECT qid, doc_id, n_chunks_hit, maxsim_micro,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY maxsim_micro DESC, doc_id) AS rank FROM sc)
             |SELECT qid AS query_id, rank, doc_id, n_chunks_hit, maxsim_micro
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
    ),

    // ----- exact heavy hitters via a Misra-Gries candidate pass -------------
    // Tokens with frequency > N/64 — the "is one template/boilerplate string
    // dominating my corpus" diagnostic — computed the way it must be at
    // 100 TB: pass 1 runs the mergeable Misra-Gries sketch (63 counters) as
    // a typed Aggregator, so every map task reduces its slice to <= 63
    // counters BEFORE the single-group shuffle and the full Zipfian
    // vocabulary never moves; the MG invariant guarantees the candidate
    // set contains every token above threshold. Pass 2 exact-counts ONLY
    // the broadcast candidate set (shuffle keyed on <= 63 tokens) and
    // filters by the integer predicate cnt * 64 > N — so the final answer
    // is EXACT and oracle-checkable even though a sketch found it. The
    // naive form (full groupBy + HAVING) shuffles the whole vocabulary;
    // this shuffles 63 keys and reads the corpus twice — the right trade
    // everywhere scans are cheaper than wide shuffles.
    "txt_heavy_hitters" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val tok = graft.CacheTracker.eager(
          docs(s, d).select(explode(expr(tokensS("text"))).as("w"))
            .filter(length(col("w")) > 0)
            .persist(MEMORY_AND_DISK))
        val cand = tok.agg(expr("mg63(w)").as("cs"))
          .select(explode(col("cs")).as("w"))
        val tot = tok.agg(count(lit(1)).as("n_total"))
        tok.join(broadcast(cand), Seq("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(tot))
          .filter(expr("cnt * 64 > n_total"))
          .select(col("w"), col("cnt"), col("n_total"),
            expr("cast(floor(cnt / n_total * 1e6 + 0.5) as bigint)").as("ppm"))
          .orderBy(col("cnt").desc, col("w"))
      },
      Some(s"""WITH tok AS (SELECT unnest(${tokensD("text")}) AS w FROM documents),
             |tk AS (SELECT w FROM tok WHERE length(w) > 0),
             |tot AS (SELECT COUNT(*) AS n_total FROM tk),
             |c AS (SELECT w, COUNT(*) AS cnt FROM tk GROUP BY w)
             |SELECT w, cnt, n_total,
             |  CAST(floor(cnt / n_total * 1e6 + 0.5) AS BIGINT) AS ppm
             |FROM c CROSS JOIN tot WHERE cnt * 64 > n_total
             |ORDER BY cnt DESC, w""".stripMargin)
    ),

    // ----- Kneser-Ney bigram perplexity: the KenLM-grade LM filter ----------
    // txt_bigram_perplexity's add-one MLE is the textbook baseline; real
    // pipelines (CCNet's KenLM models) use interpolated Kneser-Ney, whose
    // backoff weight is the DIVERSITY of contexts, not raw frequency:
    //   p_KN(w2|w1) = max(c12 - D, 0)/c1 + D * N1+(w1.)/c1 * N1+(.w2)/T
    // with discount D = 3/4. With the rational D, the probability is a
    // ratio of exact integers:
    //   p = [max(4*c12 - 3, 0) * T + 3 * N1a * N1b] / (4 * c1 * T)
    // so per-bigram cost = ln(1/p) floors to micro-nat BIGINTs with zero
    // cross-engine float risk beyond the documented ~1-ulp libm ln (the
    // whole family's accepted residual). Every corpus bigram has c12 >= 1,
    // so the max() arm never zeroes the numerator — no OOV branch needed.
    // Magnitude guard: c1*T stays under 2^61 up to ~1e9-type vocabularies
    // (the factors cast to double only INSIDE the ln argument).
    // Scale shape: inherits txt_bigram_perplexity's design whole — one
    // corpus pass to (doc, bigram, k), all model tables are bigram-TYPE
    // sized (continuation counts N1+ are exactly COUNT(*) over the type
    // table, no extra corpus pass), hot/cold Zipf split on the score join.
    "txt_kn_perplexity" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val bgk = graft.CacheTracker.track(docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .select(col("doc_id"), explode(expr(
            "if(size(t) < 2, cast(array() as array<string>), " +
              "transform(sequence(1, size(t) - 1), " +
              "j -> concat(element_at(t, j), ' ', element_at(t, j + 1))))")).as("b"))
          .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("k"))
          .persist(MEMORY_AND_DISK))
        // one row per bigram TYPE; w1/w2 splits feed every model table
        val sp = graft.CacheTracker.eager(
          bgk.groupBy(col("b")).agg(sum(col("k")).cast("bigint").as("cb"))
            .withColumn("w1", expr("substring_index(b, ' ', 1)"))
            .withColumn("w2", expr("substring_index(b, ' ', -1)"))
            .persist(MEMORY_AND_DISK))
        val c1 = sp.groupBy(col("w1"))
          .agg(sum(col("cb")).cast("bigint").as("c1"),
            count(lit(1)).as("n1a"))
        val c2 = sp.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
        val tt = sp.agg(count(lit(1)).as("t"))
        val cost = graft.CacheTracker.eager(
          sp.join(c1, Seq("w1")).join(c2, Seq("w2")).crossJoin(broadcast(tt))
            .select(col("b"), col("cb"),
              expr("cast(floor(ln(cast(4 * c1 as double) * cast(t as double) / " +
                "cast(greatest(4 * cb - 3, cast(0 as bigint)) * t + 3 * n1a * n1b as double)) " +
                "* 1e6) as bigint)").as("cm"))
            .persist(MEMORY_AND_DISK))
        val hot = cost.orderBy(col("cb").desc, col("b").asc).limit(HotVocab)
          .select(col("b"), col("cm"))
        val cold = cost.join(hot.select(col("b")), Seq("b"), "left_anti")
          .select(col("b"), col("cm"))
        bgk.join(broadcast(hot), Seq("b"))
          .unionByName(bgk.join(cold, Seq("b")))
          .groupBy(col("doc_id"))
          .agg(sum(col("k")).cast("bigint").as("n_bigram"),
            sum(expr("k * cm")).cast("bigint").as("sc"))
          .select(col("doc_id"), col("n_bigram"),
            expr("sc div n_bigram").as("kn_micro"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${tokensD("text")} AS t FROM documents),
             |bga AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(t) - 1, 0)),
             |    j -> t[j] || ' ' || t[j + 1]) AS bs FROM toks),
             |tok AS (SELECT doc_id, unnest(bs) AS b FROM bga),
             |bgk AS (SELECT doc_id, b, COUNT(*) AS k FROM tok GROUP BY 1, 2),
             |sp AS (SELECT b, CAST(SUM(k) AS BIGINT) AS cb,
             |    split_part(b, ' ', 1) AS w1, substr(b, strpos(b, ' ') + 1) AS w2
             |  FROM bgk GROUP BY b),
             |c1 AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1, COUNT(*) AS n1a
             |  FROM sp GROUP BY w1),
             |c2 AS (SELECT w2, COUNT(*) AS n1b FROM sp GROUP BY w2),
             |tt AS (SELECT COUNT(*) AS t FROM sp),
             |cost AS (SELECT sp.b,
             |    CAST(floor(ln(CAST(4 * c1.c1 AS DOUBLE) * CAST(tt.t AS DOUBLE) /
             |      CAST(GREATEST(4 * sp.cb - 3, 0) * tt.t + 3 * c1.n1a * c2.n1b AS DOUBLE)) * 1e6) AS BIGINT) AS cm
             |  FROM sp JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tt)
             |SELECT g.doc_id, CAST(SUM(g.k) AS BIGINT) AS n_bigram,
             |  CAST(SUM(g.k * c.cm) AS BIGINT) // CAST(SUM(g.k) AS BIGINT) AS kn_micro
             |FROM bgk g JOIN cost c USING (b)
             |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)
    ),

    // ----- Gopher-style rule battery: the pre-filter before any model -------
    // Rae et al. 2021 (Gopher, arXiv:2112.11446) filter documents with a
    // battery of cheap surface rules BEFORE any learned quality model sees
    // them; this is the standard first stage of every large-corpus pipeline
    // (Gopher, MassiveText, FineWeb). The battery here is the five rules
    // that are meaningful on this corpus shape (no newlines/symbols —
    // bullet/ellipsis-line rules degenerate), each reported per document so
    // a curation owner can see WHICH rule fired, plus the conjunction:
    //   r_len   word count in [40, 90]           (Gopher's 50..100k window)
    //   r_mwl   mean word length in [3.7, 4.6]   (Gopher's [3, 10])
    //   r_stop  >= 2 stopwords                   (Gopher's "2 of a stop set")
    //   r_dist  distinct-token ratio >= 0.5      (repetition proxy)
    //   r_top   top-token fraction <= 0.1        (Gopher's top-2-gram rule)
    // All thresholds compare exact integers (k*nw <= 10*sl forms — no
    // division, no rounding, no cross-engine float risk). Scale shape: one
    // pure per-row array-land projection, zero shuffles before the output
    // sort — the whole battery pipelines inside a single codegen stage and
    // is embarrassingly parallel at any corpus size. top_n uses the native
    // max_elem_count over token hashes (txt_repetition's move) instead of
    // an explode + two per-token aggregations to learn one scalar per doc.
    "txt_gopher_rules" -> QuerySpec(
      (s, d) => {
        docs(s, d)
          .withColumn("t", expr(tokensS("text")))
          .filter(expr("size(t) > 0"))
          .withColumn("th", expr(tokenHashesS("t")))
          .withColumn("nw", expr("cast(size(t) as bigint)"))
          .withColumn("sl", expr(
            "aggregate(t, cast(0 as bigint), (a, w) -> a + length(w))"))
          .withColumn("stops", expr(
            s"cast(size(filter(t, w -> array_contains($StopwordsSql, w))) as bigint)"))
          .withColumn("nd", expr("cast(size(array_distinct(t)) as bigint)"))
          .withColumn("top_n", expr("cast(max_elem_count(th) as bigint)"))
          .select(col("doc_id"), col("nw").as("n_words"),
            expr("nw between 40 and 90").as("r_len"),
            expr("10 * sl >= 37 * nw and 10 * sl <= 46 * nw").as("r_mwl"),
            expr("stops >= 2").as("r_stop"),
            expr("2 * nd >= nw").as("r_dist"),
            expr("10 * top_n <= nw").as("r_top"))
          .withColumn("gopher_pass",
            expr("r_len and r_mwl and r_stop and r_dist and r_top"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${tokensD("text")} AS t FROM documents),
             |th AS (SELECT doc_id, t, ${tokenHashesD("t")} AS th FROM toks WHERE len(t) > 0),
             |u AS (SELECT doc_id, unnest(th) AS h FROM th),
             |c AS (SELECT doc_id, h, COUNT(*) AS k FROM u GROUP BY 1, 2),
             |tops AS (SELECT doc_id, CAST(MAX(k) AS BIGINT) AS top_n FROM c GROUP BY 1),
             |m AS (SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS nw,
             |    CAST(list_sum(list_transform(t.t, w -> length(w))) AS BIGINT) AS sl,
             |    CAST(len(list_filter(t.t, w -> list_contains(['the','a','of','and','is','to'], w))) AS BIGINT) AS stops,
             |    CAST(len(list_distinct(t.t)) AS BIGINT) AS nd, tp.top_n
             |  FROM th t JOIN tops tp USING (doc_id))
             |SELECT doc_id, nw AS n_words,
             |  nw BETWEEN 40 AND 90 AS r_len,
             |  10 * sl >= 37 * nw AND 10 * sl <= 46 * nw AS r_mwl,
             |  stops >= 2 AS r_stop,
             |  2 * nd >= nw AS r_dist,
             |  10 * top_n <= nw AS r_top,
             |  (nw BETWEEN 40 AND 90) AND (10 * sl >= 37 * nw AND 10 * sl <= 46 * nw)
             |    AND stops >= 2 AND 2 * nd >= nw AND 10 * top_n <= nw AS gopher_pass
             |FROM m ORDER BY doc_id""".stripMargin)
    ),

    // ----- CCNet perplexity buckets: head / middle / tail selection ---------
    // Wenzek et al. 2020 (CCNet, arXiv:1911.00359): score every document
    // with a language model trained on a reference corpus, then split EACH
    // LANGUAGE into perplexity terciles — "head" (most reference-like) is
    // what most pipelines train on, "tail" is dropped, "middle" is the
    // knob. Reuses txt_perplexity's unigram cross-entropy (same hot/cold
    // Zipf-split join, same integer micro-nat fixed point) and assigns
    // bucket = tercile of (xent, doc_id) rank within the doc's language —
    // the doc_id tiebreak makes the rank (hence the hash) deterministic
    // where raw ntile() would be engine-order dependent. Scale shape: the
    // per-lang window here is the exact small-corpus form; at 100 TB the
    // same semantics run two-pass — per-(lang, xent_micro) count-classes
    // (xent is integer, so this is a bounded aggregate), cumulative counts
    // over the tiny class table to find the two cut values per language,
    // then a broadcast-threshold projection — no global sort ever sees the
    // corpus, exactly how CCNet ships its trained cutoffs.
    "txt_ccnet_buckets" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val px = perplexityFor(s, d, HotVocab)
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("xent_micro"), col("doc_id"))
        px.join(docs(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("lang"))))
          .withColumn("bucket", expr(
            "case (3 * (rn - 1)) div cnt when 0 then 'head' when 1 then 'middle' else 'tail' end"))
          .select(col("doc_id"), col("lang"), col("xent_micro"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${tokensD("text")} AS t FROM documents),
             |tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
             |cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
             |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
             |cost AS (SELECT w, CAST(floor(ln(CAST(total AS DOUBLE) / c) * 1e6) AS BIGINT) AS cm
             |  FROM cnt CROSS JOIN tot),
             |px AS (SELECT t.doc_id, CAST(SUM(k.cm) AS BIGINT) // COUNT(*) AS xent_micro
             |  FROM tok t JOIN cost k USING (w) GROUP BY t.doc_id),
             |j AS (SELECT p.doc_id, d.lang, p.xent_micro
             |  FROM px p JOIN documents d USING (doc_id)),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY xent_micro, doc_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY lang) AS cnt FROM j)
             |SELECT doc_id, lang, xent_micro,
             |  CASE (3 * (rn - 1)) // cnt WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
             |FROM r ORDER BY doc_id""".stripMargin)
    )
  )

  /** Hot-vocabulary size for [[perplexityFor]]'s skew-split token join:
    * the top-K tokens by count broadcast (K bounds the broadcast build
    * side); only the Zipf tail shuffle-joins. */
  val HotVocab = 4096

  /** txt_quality_distill's [[LocalTier]] bound in confident training
    * rows. Heap at the bound: each row is a 7-long array (56 B + a 16 B
    * header + an 8 B reference ≈ 80 B), so 4M rows ≈ 320 MB in the one
    * task; past it the per-round distributed aggregates take over.
    */
  val DistillLocalRows = 4000000L

  /** txt_quality_distill's distributed training tier: each round is one
    * map-side-combined aggregate over `tr`'s (y, x0..x{nf-1}) columns.
    */
  private[graft] def distillTrainDistributed(
      tr: org.apache.spark.sql.DataFrame, nf: Int, iters: Int): Array[Long] =
    pocketTrain(nf, iters) { w =>
      val score = (0 until nf).map(i => s"${w(i)} * x$i").mkString(" + ")
      val pred = s"if(($score) > 0, cast(1 as bigint), cast(0 as bigint))"
      val aggCols = count(lit(1)).as("n") +:
        sum(expr(s"abs(y - $pred)")).as("wrong") +:
        (0 until nf).map(i => sum(expr(s"(y - $pred) * x$i")).as(s"u$i"))
      val r = tr.select(aggCols: _*).collect()(0)
      (r.getLong(0), r.getLong(1), Array.tabulate(nf)(i => r.getLong(i + 2)))
    }

  /** txt_quality_distill's local training tier over materialized
    * (y, x0..x{nf-1}) rows — bit-equal to [[distillTrainDistributed]],
    * since the per-round `wrong` and update sums are order-independent
    * integer sums.
    */
  private[graft] def distillTrainLocal(
      rows: Array[Array[Long]], nf: Int, iters: Int): Array[Long] =
    pocketTrain(nf, iters) { w =>
      var wrong = 0L
      val u = new Array[Long](nf)
      rows.foreach { r =>
        var score = 0L
        var i = 0
        while (i < nf) { score += w(i) * r(i + 1); i += 1 }
        val diff = r(0) - (if (score > 0) 1L else 0L)
        wrong += math.abs(diff)
        i = 0
        while (i < nf) { u(i) += diff * r(i + 1); i += 1 }
      }
      (rows.length.toLong, wrong, u)
    }

  /** The pocket perceptron both distill tiers run: `iters` synchronous
    * rounds, each `round(w)` returning (n, wrong, update sums); the pocket
    * keeps the pre-update weights of the best round, updates are
    * floorDiv(u, n).
    */
  private def pocketTrain(nf: Int, iters: Int)(
      round: Array[Long] => (Long, Long, Array[Long])): Array[Long] = {
    var w = Array.fill(nf)(0L)
    var pocket = w
    var pocketWrong = Long.MaxValue
    for (_ <- 0 until iters) {
      val (n, wrong, u) = round(w)
      if (wrong < pocketWrong) { pocket = w; pocketWrong = wrong }
      w = Array.tabulate(nf)(i => w(i) + Math.floorDiv(u(i), n))
    }
    pocket
  }

  /** txt_perplexity body, parameterized by the hot-vocab split size so
    * `TextQueriesSpec` can force the tail path on the tiny test corpus.
    *
    * Scale design (100 TB): token->count lookup is THE canonical skewed
    * join — a Zipfian vocabulary means a handful of stopwords own a large
    * share of all token occurrences, so a plain shuffle join lands those
    * keys on single reducers. The split sends the top-K head (tiny,
    * bounded by K) as a broadcast hash join — no shuffle for most of the
    * token mass — while the unbounded-cardinality-but-unskewed tail
    * shuffle-joins normally. The two legs are disjoint by construction
    * (anti-join on the head keys), and their union is exactly the plain
    * join (`TextQueriesSpec` pins this).
    */
  /** BM25 ranking of every non-query document against each query document's
    * term set (k1=1.2, b=0.75, Lucene +1 idf), shared by `txt_bm25_search`
    * and the hybrid RRF fusion in [[SimilarityQueries]]. Terms are word
    * BIGRAMS (phrase shingles): the fixture corpus draws from a ~31-word
    * unigram vocabulary where every word is a stopword by any df measure,
    * so unigram BM25 would rank on noise — bigrams give a ~900-term
    * discriminative space, and shingle indexing is itself a standard
    * retrieval variant. `qids` must be a tiny one-column (`qid`) frame —
    * it broadcasts everywhere. Returns (qid, doc_id, n_terms, score_micro,
    * rank) for rank <= k.
    *
    * Scale shape: one corpus-sized shuffle builds the (doc, term)->tf
    * inverted index (persisted — doc lengths, document frequencies and
    * scoring reuse it); query terms + idf are bounded by |queries| x
    * |query vocab| and broadcast, so scoring is a map-side hash join —
    * never a shuffle keyed on the Zipf-skewed term. Query terms with
    * df > N/2 are pruned (stopword guard: caps candidate fan-out; BM25
    * idf gives them ~0 weight anyway). Contributions are floored to
    * integer micro-units BEFORE the per-(query, doc) sum, so the double
    * summation order can never diverge between engines (the idf ln keeps
    * the documented ~1-ulp libm risk, as txt_perplexity).
    */
  /** The (doc_id, w, tf) inverted-index rows of a documents slice over
    * word-bigram terms — the build projection of
    * [[graft.operators.TextIndex]] and the in-memory index of
    * [[bm25Ranked]]. One corpus-sized shuffle on (doc_id, w).
    */
  private[graft] def bm25Postings(docsDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docsDf
      .withColumn("t", expr(tokensS("text")))
      .select(col("doc_id"), explode(expr(
        "if(size(t) < 2, cast(array() as array<string>), " +
          "transform(sequence(1, size(t) - 1), " +
          "j -> concat(element_at(t, j), ' ', element_at(t, j + 1))))")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))

  private[analytics] def bm25Ranked(
      s: org.apache.spark.sql.SparkSession, d: String,
      qids: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val tf = graft.CacheTracker.eager(
      bm25Postings(docs(s, d)).persist(MEMORY_AND_DISK))
    bm25RankedFrom(tf, qids, k)
  }

  /** BM25 ranking over caller-supplied inverted-index rows `tf`
    * (doc_id, w, tf) — shared by the per-query in-memory path and the
    * persistent [[graft.operators.TextIndex]] store (whose postings arrive
    * straight from a columnar scan, no re-tokenization).
    */
  private[graft] def bm25RankedFrom(
      tf: org.apache.spark.sql.DataFrame,
      qids: org.apache.spark.sql.DataFrame, k: Int,
      storedDl: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The query batch is BOUNDED by contract (a retrieval batch, never a
    // corpus), so resolve it to driver-side literals once: every prior use
    // site re-evaluated the qids subquery as its own broadcast-join subtree
    // (the sf0.1 plan carried the documents scan SIX times / 38 Exchanges),
    // and literal IN-filters push into the postings scan as PushedFilters,
    // which a broadcast join never can (guide §2.4/§6: one evaluation,
    // predicate pushdown to the columnar scan).
    val qidList = qids.select(col("qid")).collect().map(_.getLong(0)).toSeq
    val qidCol = col("doc_id").isin(qidList: _*)
    // doc lengths: derived with one full-postings aggregate, unless the
    // caller (the persistent TextIndex) already stores them
    val dl = storedDl.getOrElse(
      tf.groupBy(col("doc_id")).agg(sum(col("tf")).cast("bigint").as("dl")))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).cast("bigint").as("total"))
      .withColumn("avgdl", expr("cast(total as double) / n"))
    val qt = tf.filter(qidCol).select(col("doc_id").as("qid"), col("w"))
    // document frequency ONLY for query terms: restricting the postings
    // BEFORE the per-term aggregate gives the identical df value (df is a
    // per-term count, unaffected by dropping other terms' rows) but the
    // shuffle carries partial-combined counts of <= |query vocab| keys
    // instead of the whole vocabulary
    val dfq = tf.join(broadcast(qt.select(col("w")).distinct()), Seq("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val qti = dfq.join(broadcast(qt), Seq("w"))
      .crossJoin(broadcast(stats))
      .filter(expr("df * 2 <= n"))
      .select(col("qid"), col("w"),
        expr("cast(floor(ln((n - df + 0.5) / (df + 0.5) + 1) * 1e6) as bigint)")
          .as("idf_micro"))
    val cand = tf.filter(!qidCol)
    cand.join(broadcast(qti), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats.select(col("avgdl"))))
      .select(col("qid"), col("doc_id"),
        expr("cast(floor(idf_micro * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) + 0.5) as bigint)")
          .as("contrib"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).cast("bigint").as("score_micro"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score_micro").desc, col("doc_id"))))
      .filter(col("rank") <= k)
  }

  /** DuckDB twin of [[bm25Ranked]] as a CTE chain (no leading WITH): the
    * final CTE `r` has (qid, doc_id, n_terms, score_micro, rank).
    * `qidsSql` defines the query set (must select a single `qid` column).
    */
  private[analytics] def bm25SqlCtes(qidsSql: String): String =
    s"""toks AS (SELECT doc_id, ${tokensD("text")} AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
       |    j -> t[j] || ' ' || t[j + 1])) AS w FROM toks),
       |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS total,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
       |qids AS ($qidsSql),
       |qt AS (SELECT qid, w FROM tf JOIN qids ON tf.doc_id = qids.qid),
       |qti AS (SELECT qid, qt.w,
       |    CAST(floor(ln((n - df + 0.5) / (df + 0.5) + 1) * 1e6) AS BIGINT) AS idf_micro
       |  FROM qt JOIN dfq ON qt.w = dfq.w CROSS JOIN stats WHERE df * 2 <= n),
       |cand AS (SELECT * FROM tf WHERE doc_id NOT IN (SELECT qid FROM qids)),
       |sc AS (SELECT qti.qid, cand.doc_id,
       |    CAST(floor(qti.idf_micro * ((cand.tf * 2.2) / (cand.tf + 1.2 * (0.25 + 0.75 * (dl.dl / stats.avgdl)))) + 0.5) AS BIGINT) AS contrib
       |  FROM cand JOIN qti ON cand.w = qti.w
       |    JOIN dl ON cand.doc_id = dl.doc_id CROSS JOIN stats),
       |agg AS (SELECT qid, doc_id, COUNT(*) AS n_terms,
       |    CAST(SUM(contrib) AS BIGINT) AS score_micro FROM sc GROUP BY 1, 2),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY score_micro DESC, doc_id) AS rank FROM agg)""".stripMargin

  /** The BPE merge loop's [[LocalTier]] bound in distinct words. Heap at
    * the bound: ~8 chars/word → ~9 single-char Strings (~48 B each with
    * headers) + the symbol array + the (wd, n) row ≈ 600 B/word → ~0.6 GB.
    * The tiers' merges are bit-equal (`BpeLocalSpec` pins it).
    */
  val BpeLocalWords = 1000000L

  /** UTF-8 binary string ordering — exactly Spark's StringType `<` (and
    * DuckDB's collation on this corpus), NOT Java's UTF-16 compareTo,
    * whose code-unit order diverges on supplementary characters.
    */
  private[graft] def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  /** [[bpeMergeRounds]] in one task: (wd, n) vocabulary rows in, the
    * per-round stats plus each word's final symbol count out — the same
    * greedy pair-count → tie-broken argmax → left-to-right non-overlapping
    * fold, over Scala arrays. Pair counts are order-independent integer
    * sums and the tie-break replays `ORDER BY cnt DESC, a, b` under UTF-8
    * binary order, so the merge chain is bit-equal to the distributed
    * rounds.
    */
  private[graft] def bpeLocalLoop(words: Array[(String, Long)], rounds: Int)
      : (Seq[(Int, String, String, Long, Long)], Array[Long]) = {
    import scala.collection.mutable
    val syms: Array[mutable.ArrayBuffer[String]] = words.map { case (w, _) =>
      val a = new mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) { a += String.valueOf(w.charAt(i)); i += 1 }
      a
    }
    val ns = words.map(_._2)
    val stats = (1 to rounds).map { r =>
      val cnt = mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < syms.length) {
        val s = syms(wi); val n = ns(wi)
        var i = 0
        while (i + 1 < s.length) {
          val k = (s(i), s(i + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + n)
          i += 1
        }
        wi += 1
      }
      // argmax: cnt desc, then (a, b) asc in UTF-8 binary order — the
      // distributed form's ORDER BY cnt DESC, a, b LIMIT 1
      var bestA: String = null; var bestB: String = null; var bestC = -1L
      cnt.foreach { case ((a, b), c) =>
        val better = c > bestC || (c == bestC && (utf8Lt(a, bestA) ||
          (a == bestA && utf8Lt(b, bestB))))
        if (better) { bestA = a; bestB = b; bestC = c }
      }
      val ab = bestA + bestB
      var after = 0L
      wi = 0
      while (wi < syms.length) {
        val s = syms(wi)
        if (s.length >= 2) {
          val out = new mutable.ArrayBuffer[String](s.length)
          var i = 0
          while (i < s.length) {
            val x = s(i)
            if (out.nonEmpty && out.last == bestA && x == bestB)
              out(out.length - 1) = ab
            else out += x
            i += 1
          }
          syms(wi) = out
        }
        after += ns(wi) * syms(wi).length
        wi += 1
      }
      (r, bestA, bestB, bestC, after)
    }
    (stats, syms.map(_.length.toLong))
  }

  /** The BPE training loop shared by txt_bpe_train (reports the rounds) and
    * txt_bpe_apply (uses the final merged vocabulary): `rounds` greedy
    * merges over a (wd, n, syms) vocabulary table. Returns the final table
    * and per-round (rank, a, b, pairCount, corpusSymbolsAfter). The driver
    * holds only each round's argmax row — the vocabulary itself never
    * leaves the cluster (the BPE scale contract SURVEY §2 documents).
    */
  private[graft] def bpeMergeRounds(
      w0: org.apache.spark.sql.DataFrame, rounds: Int)
      : (org.apache.spark.sql.DataFrame, Seq[(Int, String, String, Long, Long)]) = {
    // words fully merged down to one symbol contribute no pairs; the
    // filter also keeps sequence() ascending (Spark's sequence(1, 0)
    // DESCENDS rather than returning empty)
    def bestPair(w: org.apache.spark.sql.DataFrame) = w
      .filter(size(col("syms")) >= 2)
      .select(col("n"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
        "i -> struct(element_at(syms, i) as a, element_at(syms, i + 1) as b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
    def esc(x: String) = x.replace("\\", "\\\\").replace("'", "\\'")
    var w = w0
    val out = (1 to rounds).map { r =>
      val bp = bestPair(w).collect()(0)
      val (a, b, cnt) = (bp.getString(0), bp.getString(1), bp.getLong(2))
      val (ea, eb) = (esc(a), esc(b))
      // greedy left-to-right non-overlapping merge: fold each word's
      // symbols, replacing a trailing `a` followed by `b` with `ab` —
      // a just-produced `ab` can't re-match as `a`, which is exactly
      // the non-overlap rule
      w = w.withColumn("syms", expr(
        "aggregate(syms, cast(array() as array<string>), (acc, x) -> " +
        s"IF(size(acc) > 0 AND element_at(acc, -1) = '$ea' AND x = '$eb', " +
        s"concat(slice(acc, 1, size(acc) - 1), array('$ea$eb')), " +
        "concat(acc, array(x))))"))
      val after = w.agg(sum(col("n") * size(col("syms"))).cast("bigint"))
        .collect()(0).getLong(0)
      (r, a, b, cnt, after)
    }
    (w, out)
  }

  /** One BPE oracle round (pairs -> tie-broken argmax -> greedy fold) as a
    * CTE group over vocabulary CTE `prev`, producing `s$i` (merged vocab),
    * `b$i` (the chosen pair) and `a$i` (corpus symbols after). DuckDB's
    * list_reduce has no initial accumulator, so the fold runs over a
    * chr(1)-separated string with '' prepended as the seed; the separator
    * prefix makes suffix-matching exact for multi-char symbols
    * (…\\x01"th" never matches pair-left "h"). Shared by the
    * txt_bpe_train and txt_bpe_apply oracles.
    */
  private def bpeOracleRound(i: Int, prev: String): String = {
    val (p, bq, sq, aq) = (s"p$i", s"b$i", s"s$i", s"a$i")
    s"""$p AS (SELECT pr.a AS a, pr.b AS b, CAST(SUM(n) AS BIGINT) AS cnt
       |  FROM (SELECT n, unnest(list_transform(generate_series(1, len(syms) - 1),
       |      i -> {'a': syms[i], 'b': syms[i + 1]})) AS pr FROM $prev) z
       |  GROUP BY pr.a, pr.b),
       |$bq AS (SELECT a, b, cnt FROM $p ORDER BY cnt DESC, a, b LIMIT 1),
       |$sq AS (SELECT wd, n, string_split(substr(list_reduce(list_prepend('', syms),
       |    (acc, x) -> CASE WHEN ends_with(acc, chr(1) || bb.a) AND x = bb.b
       |      THEN left(acc, length(acc) - length(bb.a) - 1) ||
       |        chr(1) || bb.a || bb.b
       |      ELSE acc || chr(1) || x END), 2), chr(1)) AS syms
       |  FROM $prev CROSS JOIN $bq bb),
       |$aq AS (SELECT CAST(SUM(n * len(syms)) AS BIGINT) AS cs FROM $sq)""".stripMargin
  }

  private[graft] def perplexityFor(
      s: org.apache.spark.sql.SparkSession, d: String, hotK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // (doc_id, token, k) — occurrences pre-aggregated per doc BEFORE any
    // join: the hot/cold lookup then moves one row per distinct (doc,
    // token) pair instead of one per token INSTANCE, shrinking the cold
    // shuffle by the per-doc repetition factor (the 32x probe's spill came
    // from shuffling instances verbatim). Semantics identical:
    // n_tok = sum(k), doc cost = sum(k * cm). Two consumers (vocab counts
    // + the score join) — persist so tokenization runs once.
    val tok = graft.CacheTracker.eager(
      docs(s, d).select(col("doc_id"), explode(expr(tokensS("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("k"))
        .persist(MEMORY_AND_DISK))
    val cnt = tok.groupBy(col("w")).agg(sum(col("k")).cast("bigint").as("c"))
    val tot = cnt.agg(sum(col("c")).as("total"))
    // fixed-point per-token cost; three consumers (head topK, tail
    // anti-join, and nothing else re-derives it) — persist
    val cost = graft.CacheTracker.eager(
      cnt.crossJoin(broadcast(tot))
        .select(col("w"), col("c"),
          expr("cast(floor(ln(cast(total as double) / c) * 1e6) as bigint)").as("cm"))
        .persist(MEMORY_AND_DISK))
    val hot = cost.orderBy(col("c").desc, col("w").asc).limit(hotK)
      .select(col("w"), col("cm"))
    val cold = cost.join(hot.select(col("w")), Seq("w"), "left_anti")
      .select(col("w"), col("cm"))
    val scored = tok.join(broadcast(hot), Seq("w"))
      .unionByName(tok.join(cold, Seq("w")))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("k")).cast("bigint").as("n_tok"),
        sum(expr("k * cm")).cast("bigint").as("sc"))
      .select(col("doc_id"), col("n_tok"), expr("sc div n_tok").as("xent_micro"))
      .orderBy(col("doc_id"))
  }
}
