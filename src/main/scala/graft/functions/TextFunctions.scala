package graft.functions

/** Portable text/hash primitives for the training-data pipeline operators
  * (dedup, similarity, text analysis). Every primitive is defined twice —
  * a Spark SQL expression (used via `expr(...)`, stays codegen/Tungsten
  * friendly, no Scala UDFs) and the equivalent DuckDB SQL for the oracle —
  * with *integer-exact* semantics so results hash-compare identically:
  *
  *   - tokenization is a regex split on whitespace of the trimmed text;
  *   - string hashing is a polynomial fold over ASCII codes mod 1e9+7
  *     (all arithmetic in BIGINT, no overflow: acc < 1e9, acc*131+127 < 2^63);
  *   - shingle hashes combine token hashes with a second polynomial step;
  *   - MinHash uses K=16 universal-hash permutations (a*x+b) mod (2^31-1)
  *     with fixed a_i = 7919*i+1, b_i = 104729*i+12345;
  *   - embeddings are quantized to round(x*1e6) BIGINTs so dot products and
  *     norms are exact integers; only the final cosine is floating point
  *     (identical IEEE ops in both engines), rounded for stability.
  *
  * Naming: `*S` = Spark SQL dialect, `*D` = DuckDB dialect. Builders take
  * SQL expressions (usually column names) and return SQL strings.
  */
object TextFunctions {

  /** Polynomial-hash modulus (prime). */
  val P = 1000000007L
  /** MinHash permutation modulus (2^31 - 1, prime). */
  val MP = 2147483647L
  /** MinHash signature length. */
  val K = 16
  /** MinHash LSH: 4 bands x 4 rows. */
  val Bands = 4
  val RowsPerBand = 4

  // ---- tokenization --------------------------------------------------------
  def tokensS(text: String): String = raw"split(trim($text), '\\s+')"
  def tokensD(text: String): String = raw"regexp_split_to_array(trim($text), '\s+')"

  // ---- polynomial string hash over ASCII codes -----------------------------
  def strHashS(e: String): String =
    s"aggregate(transform(sequence(1, length($e)), i -> ascii(substring($e, i, 1))), " +
      s"cast(7 as bigint), (a, x) -> (a * 131 + x) % $P)"
  def strHashD(e: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"list_transform(generate_series(1, length($e)), i -> CAST(ascii(substr($e, i, 1)) AS BIGINT))), " +
      s"(a, x) -> (a * 131 + x) % $P)"

  // ---- per-token hash array (input: token array column) --------------------
  def tokenHashesS(toks: String): String =
    s"transform($toks, w -> ${strHashS("w")})"
  def tokenHashesD(toks: String): String =
    s"list_transform($toks, w -> ${strHashD("w")})"

  // ---- 3-gram shingle hashes from a token-hash array -----------------------
  // sh_j = ((th[j]*1000003 + th[j+1]) % P * 1000003 + th[j+2]) % P, 1-based j.
  // Spark's sequence(1, 0) is the DESCENDING [1, 0], not empty (DuckDB's
  // generate_series(1, 0) IS empty), so short inputs need an explicit empty
  // branch or the lambda indexes out of bounds under ANSI mode.
  def shingleHashesS(th: String): String =
    s"if(size($th) < 3, cast(array() as array<bigint>), " +
      s"transform(sequence(1, size($th) - 2), j -> " +
      s"((((element_at($th, j) * 1000003 + element_at($th, j + 1)) % $P) * 1000003) " +
      s"+ element_at($th, j + 2)) % $P))"
  def shingleHashesD(th: String): String =
    s"list_transform(generate_series(1, greatest(len($th) - 2, 0)), j -> " +
      s"(((($th[j] * 1000003 + $th[j + 1]) % $P) * 1000003) + $th[j + 2]) % $P)"

  // ---- MinHash signature (input: distinct shingle-hash array) --------------
  def minhashSigS(hs: String): String =
    s"transform(sequence(0, ${K - 1}), i -> array_min(transform($hs, " +
      s"x -> ((7919 * i + 1) * x + 104729 * i + 12345) % $MP)))"
  def minhashSigD(hs: String): String =
    s"list_transform(generate_series(0, ${K - 1}), i -> list_min(list_transform($hs, " +
      s"x -> ((7919 * i + 1) * x + 104729 * i + 12345) % $MP)))"

  // ---- SimHash (32-bit) from a token-hash array (dup tokens = weight) ------
  // bit-balance vector: for bit b, (#tokens with bit set)*2 - #tokens.
  // Spark side computes the balance vector ONCE in its own projection
  // (simhashBitsS) and folds it in a second step (simhashFromBitsS) —
  // inlining it into the fold would recompute the 32-element vector at every
  // one of the 32 fold steps (32x the work, measured hot at bench scale).
  def simhashBitsS(th: String): String =
    s"transform(sequence(0, 31), b -> " +
      s"size(filter($th, h -> (shiftright(h, b) & 1) = 1)) * 2 - size($th))"
  def simhashFromBitsS(bs: String): String =
    s"aggregate(sequence(0, 31), cast(0 as bigint), (acc, b) -> " +
      s"acc + if(element_at($bs, b + 1) > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint)))"
  def simhashD(th: String): String = {
    val bs = s"list_transform(generate_series(0, 31), b -> " +
      s"len(list_filter($th, h -> (h >> b) & 1 = 1)) * 2 - len($th))"
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), generate_series(0, 31)), (acc, b) -> " +
      s"acc + CASE WHEN $bs[b + 1] > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)"
  }

  // ---- embedding quantization + exact integer dot product ------------------
  /** round(x * 1e6) as BIGINT per element — exact, order-independent math. */
  def quantizeS(emb: String): String =
    s"transform($emb, x -> cast(round(cast(x as double) * 1000000) as bigint))"
  def quantizeD(emb: String): String =
    s"list_transform($emb, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

  def dotS(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0 as bigint), (s, v) -> s + v)"
  def dotD(a: String, b: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])) AS BIGINT)"

  // ---- quality scoring -----------------------------------------------------
  // One definition for the batch query, the curation job, and the streaming
  // scorer: same stopword list, weights, length cap, and floor-form
  // rounding, so a document scores identically on every path.
  val StopwordsSql = "array('the','a','of','and','is','to')"
  def stopRatioS(t: String): String =
    s"floor(size(filter($t, w -> array_contains($StopwordsSql, w))) / size($t) * 1e6 + 0.5) / 1e6"
  def distinctRatioS(t: String): String =
    s"floor(size(array_distinct($t)) / size($t) * 1e6 + 0.5) / 1e6"
  def lenScoreS(text: String): String =
    s"floor(least(length(trim($text)), 400) / 400 * 1e6 + 0.5) / 1e6"
  /** Combines the three already-rounded component columns. */
  val QualityS: String =
    "floor((0.3 * stop_ratio + 0.4 * distinct_ratio + 0.3 * len_score) * 1e6 + 0.5) / 1e6"
  /** Integer micro-score floor(quality·1e6 + 0.5), from tokens and text. */
  def qualityMicroS(t: String, text: String): String =
    s"floor((0.3 * ${stopRatioS(t)} + 0.4 * ${distinctRatioS(t)} + 0.3 * ${lenScoreS(text)}) * 1e6 + 0.5)"

  // ---- PII scrubbing -------------------------------------------------------
  // Standard pre-training redaction: URLs first (they can embed emails),
  // then emails, IPv4s, and phone-shaped digit runs, each to a typed
  // placeholder. Pure nested regexp_replace — codegen'd, no UDF, so the
  // scrub pipelines inside the same stage as the rest of the projection.
  def scrubS(text: String): String = {
    val url = raw"regexp_replace($text, 'https?://\\S+', '[URL]')"
    val email = raw"regexp_replace($url, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]')"
    val ip = raw"regexp_replace($email, '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '[IP]')"
    // phone-SHAPED only (optional country code, 3-3-4 with separators):
    // a loose "9+ digits-and-punctuation" run also rewrites ISO dates and
    // long decimals, corrupting ordinary text
    raw"regexp_replace($ip, '(?<!\\d)(\\+\\d{1,2}[-. ]?)?\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}(?!\\d)', '[PHONE]')"
  }
}
