package graft.analytics

import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: Array[Float]`, 64-dim).
  *
  * Three tiers, mirroring how an ANN pipeline scales:
  *   - `sim_cosine_topk`: brute-force exact top-k — the correctness
  *     baseline. O(Q*N); fine when Q is small (the query side broadcasts).
  *   - `sim_lsh_ann`: random-hyperplane LSH — vectors hash to one of
  *     2^[[Planes]] sign-pattern buckets; search is an equi-join on the
  *     bucket key, so at 100 TB Spark shuffles on the key and each task
  *     reranks one bucket (plane count scaled to hold occupancy constant).
  *   - `sim_ivf_topk`: IVF — coarse centroids (per-label means), each vector
  *     assigned to its nearest cell; queries probe the 2 nearest cells. The
  *     centroid table is tiny (broadcast); the cell assignment is one narrow
  *     pass over the vectors.
  *
  * Determinism: vectors are quantized to round(x*1e6) BIGINTs, so dot
  * products / norms / L2 distances are exact integers; the single
  * floating-point division per pair is identical IEEE in Spark and DuckDB;
  * ranking orders by the unrounded double with vec_id tie-breaks.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, d: String) = Tables.t(s, d, "embeddings")

  /** sim_kcenter_coreset: selected-set size (unrolled identically in the
    * oracle — k scans, k argmaxes, the driver holds k ids).
    */
  val KCenterK = 8

  /** Rounds between lineage cuts in [[kcenterTrajectory]]: the incremental
    * dmin frame re-persists every round, so without an occasional
    * checkpoint the logical plan (and task-closure size) grows linearly
    * with r even though execution always reads the previous cache.
    */
  val KCenterCutEvery = 4

  /** Greedy farthest-point (Gonzalez'85) selection trajectory with the
    * INCREMENTAL min-distance recurrence — the O(n·k) form: a persisted
    * (vec_id, qe, dmin) frame carries each vector's distance to the
    * nearest selected center, and every round joins only the ONE new
    * center (dmin_r = least(dmin_{r−1}, l2(v, c_r)) — the oracle's own
    * CTE recurrence), instead of re-aggregating against all r−1 centers
    * (the O(n·k²) shape this replaced; invisible at k=8, a scale-killer
    * at production coreset sizes). Exactly ONE corpus-sized scan per
    * round: the round's argmax materializes the lazily-persisted update
    * of the previous round's cache, whose persist is only then released;
    * every [[KCenterCutEvery]] rounds the frame localCheckpoints to cut
    * lineage. `q` must be a (vec_id, qe) projection with vec_id 0 present
    * (the deterministic seed).
    */
  def kcenterTrajectory(s: SparkSession, q: DataFrame, k: Int): Seq[(Int, Long, Long)] = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import s.implicits._
    val seed = q.filter(col("vec_id") === 0L).select(col("qe").as("ce"))
    var dm = q.crossJoin(broadcast(seed))
      .select(col("vec_id"), col("qe"), expr("long_l2(qe, ce)").as("dmin"))
      .persist(MEMORY_AND_DISK)
    var pending: DataFrame = null
    val picks = Vector.newBuilder[(Int, Long, Long)]
    picks += ((1, 0L, 0L))
    for (r <- 2 to k) {
      val far = dm.orderBy(col("dmin").desc, col("vec_id")).limit(1).collect()(0)
      // the argmax materialized dm from the previous round's cache — that
      // parent cache is now released
      if (pending != null) { pending.unpersist(); pending = null }
      picks += ((r, far.getLong(0), far.getLong(2)))
      if (r < k) {
        val ce = Seq(Tuple1(far.getSeq[Long](1))).toDF("ce")
        val next = dm.crossJoin(broadcast(ce))
          .select(col("vec_id"), col("qe"),
            least(col("dmin"), expr("long_l2(qe, ce)")).as("dmin"))
        if (r % KCenterCutEvery == 0) {
          val cut = next.localCheckpoint(true)
          dm.unpersist()
          dm = cut
        } else {
          pending = dm
          dm = next.persist(MEMORY_AND_DISK)
        }
      }
    }
    dm.unpersist()
    if (pending != null) pending.unpersist()
    picks.result()
  }

  /** Number of hyperplanes (2^Planes buckets) — THE scale lever of every
    * LSH consumer (sim_lsh_ann / sim_lsh_recall / sim_knn_classify /
    * dedup_embedding_lsh): candidate generation is an equi-join on the
    * bucket key, so pair mass is quadratic in bucket occupancy and a fixed
    * key space turns quadratic at scale. Resolution order:
    * `SPARK_GRAFT_LSH_PLANES` when set (validated once at init), else the
    * corpus-scaled [[planesFor]] of the embeddings table actually queried —
    * every LSH query fn calls [[resolvePlanes]] at build time, so an
    * unconfigured deployment NEVER runs a fixed 64-bucket key space on a
    * 100x corpus. The resolved value is deterministic per (env, corpus
    * size), and the oracle SQL reads the same resolved constant ([[Planes]])
    * because the registry re-renders oracle strings after the queries run.
    * At the driver's sf0.01/sf0.1 gates the corpus clamps to
    * [[DefaultPlanes]], so resolution changes nothing there.
    */
  val DefaultPlanes = 6

  /** Validated env override. Fail loudly, naming the knob: a bad value
    * would otherwise surface as an ExceptionInInitializerError (parse) or
    * an analysis error from hyperplane_key (range) that never mentions the
    * env var. Upper bound 24 keeps 2*Planes (the multi-table key) within
    * the expression's 62-bit limit with room to spare.
    */
  private val EnvPlanes: Option[Int] = sys.env.get("SPARK_GRAFT_LSH_PLANES").map { raw =>
    val p = scala.util.Try(raw.trim.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_LSH_PLANES must be an integer in 1..24, got: '$raw'"))
    if (p < 1 || p > 24) throw new IllegalArgumentException(
      s"SPARK_GRAFT_LSH_PLANES must be in 1..24, got: $p")
    p
  }

  /** The session's current resolved plane count: env override, else the
    * last [[resolvePlanes]] result (DefaultPlanes before any LSH query has
    * touched a corpus). Oracle SQL renders from this, so Spark plan and
    * oracle always see the same constant — Verify/Bench run the queries
    * first and render oracle strings after ([[graft.SparkEntry.registry]]
    * is a def, so the strings are built on access, not frozen at init).
    * CONTRACT: last-write-wins, so oracle parity holds for single-dir
    * processes (what the driver runs); a session interleaving LSH queries
    * over differently-sized corpora must pin `SPARK_GRAFT_LSH_PLANES` (or
    * render `oracleSql` immediately after the dir of interest) — the
    * QuerySpec oracle surface is one SQL string per query, so it can carry
    * exactly one plane constant at a time.
    */
  @volatile private var sessionPlanes: Int = EnvPlanes.getOrElse(DefaultPlanes)
  def Planes: Int = sessionPlanes

  /** RESTART-STABLE plane count: env override or the fixed default, never
    * the mutable session-resolved value. Streaming consumers key persistent
    * state by the bucket, so their plane count must not depend on which
    * batch queries happened to run earlier in the session — a restarted
    * stream would otherwise hash to different buckets and orphan its
    * checkpointed state. Production streams over large fleets should pin
    * `SPARK_GRAFT_LSH_PLANES` (or pass `planes` explicitly).
    */
  def pinnedPlanes: Int = EnvPlanes.getOrElse(DefaultPlanes)

  private val planesByDir = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Resolve the live plane count for a corpus dir: env override wins;
    * otherwise [[planesFor]] of the embeddings row count, memoized per dir
    * (one count() per dir per session). Every LSH consumer calls this at
    * query-build time.
    */
  private[graft] def resolvePlanes(s: SparkSession, d: String): Int = {
    val p = EnvPlanes.getOrElse(
      planesByDir.computeIfAbsent(d, _ => {
        val n = emb(s, d).count()
        val r = planesFor(n)
        if (sys.env.contains("SPARK_GRAFT_VERBOSE"))
          System.err.println(s"[lsh] planes=$r corpus=$n dir=$d")
        Integer.valueOf(r)
      }).intValue())
    sessionPlanes = p
    p
  }

  /** Corpus-scaled plane count: the smallest key space that keeps expected
    * bucket occupancy at or under `targetOccupancy` for a uniform corpus —
    * ceil(log2(n / target)) — clamped to [DefaultPlanes, 24]. Occupancy is
    * what bounds per-bucket rerank cost AND candidate-pair mass, so holding
    * it constant keeps LSH linear in corpus size: 2^k more vectors, k more
    * planes, same per-bucket work. Target 128 reproduces the measured
    * sweet spot (SURVEY §2.10: 64x corpus = 128k vectors -> 10 planes,
    * kNN 69 -> 11.6 s) while still clamping to DefaultPlanes below 8k rows.
    */
  def planesFor(corpusRows: Long, targetOccupancy: Long = 128L): Int = {
    val needed = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(corpusRows / math.max(targetOccupancy, 1L), 1L) - 1L)
    math.min(math.max(needed, DefaultPlanes), 24)
  }

  /** DuckDB fold for the deterministic integer hyperplane key, weights
    * w(i,j) = ((i*37+j*101)%19)-9 — the oracle twin of `hyperplane_key`.
    */
  private[analytics] def lshKeyD(qe: String): String = lshKeyD(qe, Planes)

  private[analytics] def lshKeyD(qe: String, planes: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), generate_series(0, ${planes - 1})), (acc, i) -> acc + " +
      s"CASE WHEN CAST(list_sum(list_transform(generate_series(1, len($qe)), " +
      s"j -> (((i * 37 + j * 101) % 19) - 9) * $qe[j])) AS BIGINT) > 0 " +
      s"THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)"

  /** Oracle CTE: quantized vectors with exact integer norms, plus the
    * embedding dimensionality derived from the data (`dim`) so per-lane
    * oracle arithmetic never hardcodes a lane count the Spark side derives.
    */
  private val OracleQ =
    s"""WITH q AS (SELECT vec_id, label, ${quantizeD("embedding")} AS qe FROM embeddings),
       |n AS (SELECT vec_id, label, qe, ${dotD("qe", "qe")} AS nrm FROM q),
       |dim AS (SELECT max(len(qe)) AS d FROM q)""".stripMargin

  /** A 1..dim series for per-lane list_transforms in the oracle SQL. */
  private val LaneSeries = "generate_series(1, (SELECT d FROM dim))"

  /** Exact integer L2² between two quantized lane lists (oracle twin of the
    * native `long_l2`).
    */
  private[analytics] def l2D(v: String, c: String): String =
    s"CAST(list_sum(list_transform($LaneSeries, j -> ($v[j] - $c[j]) * ($v[j] - $c[j]))) AS BIGINT)"

  /** One unrolled Lloyd round over the `old` CTE against centroids `prev`,
    * producing centroid CTE `out`: assign every old vector to its nearest
    * centroid (ties on cell — same ORDER BY dist, cell the engine's
    * min(struct) argmin uses), then per-lane integer means with empty cells
    * keeping their previous centroid. Mirrors `IvfIndex.build` exactly.
    */
  private[analytics] def lloydRoundD(i: Int, prev: String, out: String): String =
    s"""a$i AS (SELECT o.vec_id, o.qe, c.cell, ${l2D("o.qe", "c.ce")} AS dist
       |  FROM old o CROSS JOIN $prev c),
       |s$i AS (SELECT vec_id, qe, cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS arn FROM a$i) z
       |  WHERE arn = 1),
       |m$i AS (SELECT cell, list_transform($LaneSeries, j -> CAST(round(
       |      CAST(list_sum(list_transform(list(qe), v -> v[j])) AS BIGINT) / COUNT(*)) AS BIGINT)) AS ce
       |  FROM s$i GROUP BY cell),
       |$out AS (SELECT p.cell, COALESCE(m$i.ce, p.ce) AS ce
       |  FROM $prev p LEFT JOIN m$i ON p.cell = m$i.cell)""".stripMargin

  /** Product-quantization geometry: [[PqM]] subspaces × [[PqK]] codebook
    * centroids per subspace. A 64-dim float vector (256 bytes) encodes to
    * PqM small codes — the compression that lets a 100 TB embedding corpus
    * keep its WHOLE index hot: the scan side of a PQ search reads 4 codes
    * per vector instead of 64 floats (~64× fewer bytes), and scoring is
    * additive lookups into a per-query table, no multiplies on the corpus
    * side. K=16 keeps the unrolled two-round Lloyd oracle tractable; real
    * deployments use K=256 (one byte per code) — same shapes, bigger
    * constants.
    */
  private[graft] val PqM = 4
  private[graft] val PqK = 16

  /** 1..sd series for per-sublane list_transforms ([[PqM]]-way slices). */
  private val SubLaneSeries = "generate_series(1, (SELECT sd FROM sdim))"

  /** Exact integer L2² between two sub-vector lane lists. */
  private def l2SubD(v: String, c: String): String =
    s"CAST(list_sum(list_transform($SubLaneSeries, j -> ($v[j] - $c[j]) * ($v[j] - $c[j]))) AS BIGINT)"

  /** One unrolled joint Lloyd round over ALL subspaces at once: the `train`
    * CTE carries (vec_id, m, sqe) rows, so one assignment / one mean pass
    * trains all [[PqM]] codebooks — the oracle twin of the engine's joint
    * groupBy(m, cell) training.
    */
  private def pqRoundD(i: Int, prev: String, out: String): String =
    s"""pa$i AS (SELECT t.vec_id, t.m, t.sqe, c.cell, ${l2SubD("t.sqe", "c.ce")} AS dist
       |  FROM train t JOIN $prev c ON t.m = c.m),
       |ps$i AS (SELECT vec_id, m, sqe, cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cell) AS arn FROM pa$i) z
       |  WHERE arn = 1),
       |pm$i AS (SELECT m, cell, list_transform($SubLaneSeries, j -> CAST(round(
       |      CAST(list_sum(list_transform(list(sqe), v -> v[j])) AS BIGINT) / COUNT(*)) AS BIGINT)) AS ce
       |  FROM ps$i GROUP BY m, cell),
       |$out AS (SELECT p.m, p.cell, COALESCE(u.ce, p.ce) AS ce
       |  FROM $prev p LEFT JOIN pm$i u ON p.m = u.m AND p.cell = u.cell)""".stripMargin

  /** Shared oracle CTE chain for the PQ family: subspace slices → two joint
    * Lloyd rounds over the `vec_id % 4 = 0` training sample → codes for the
    * whole corpus → per-query ADC lookup tables → ranked approximate dots
    * (`pqr`). Every quantity is an exact integer until the final recall
    * division, so ranking is engine-order independent.
    */
  private def pqCteD(nq: Int): String =
    s"""${pqCodesCteD(nq)},
       |sc AS (SELECT l.q_id, k.vec_id, CAST(SUM(l.pd) AS BIGINT) AS adot
       |  FROM codes k JOIN lut l ON k.m = l.m AND k.cell = l.cell
       |  WHERE k.vec_id <> l.q_id GROUP BY l.q_id, k.vec_id),
       |pqr AS (SELECT q_id, vec_id, adot,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adot DESC, vec_id) AS rn FROM sc)""".stripMargin

  /** The PQ chain through corpus `codes` and per-query `lut` — shared by
    * the flat-ADC CTE above and the IVF-PQ composition (which restricts
    * scoring to coarse-probed cells before ranking).
    */
  private def pqCodesCteD(nq: Int): String =
    s"""sdim AS (SELECT (SELECT d FROM dim) // $PqM AS sd),
       |ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |sub AS (SELECT vec_id, m,
       |    list_slice(qe, m * (SELECT sd FROM sdim) + 1, (m + 1) * (SELECT sd FROM sdim)) AS sqe
       |  FROM n CROSS JOIN ms),
       |train AS (SELECT * FROM sub WHERE vec_id % 4 = 0),
       |ids0 AS (SELECT vec_id FROM n WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT $PqK),
       |c0 AS (SELECT t.m, CAST(ROW_NUMBER() OVER (PARTITION BY t.m ORDER BY t.vec_id) - 1 AS INT) AS cell, t.sqe AS ce
       |  FROM train t JOIN ids0 i ON t.vec_id = i.vec_id),
       |${pqRoundD(1, "c0", "c1")},
       |${pqRoundD(2, "c1", "c2")},
       |ca AS (SELECT s.vec_id, s.m, c.cell, ${l2SubD("s.sqe", "c.ce")} AS dist
       |  FROM sub s JOIN c2 c ON s.m = c.m),
       |codes AS (SELECT vec_id, m, cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cell) AS arn FROM ca) z
       |  WHERE arn = 1),
       |lut AS (SELECT s.vec_id AS q_id, s.m, c.cell,
       |    CAST(list_sum(list_transform($SubLaneSeries, j -> s.sqe[j] * c.ce[j])) AS BIGINT) AS pd
       |  FROM sub s JOIN c2 c ON s.m = c.m WHERE s.vec_id < $nq)""".stripMargin

  /** Assign every (vec_id, m) sub-vector to its nearest codebook centroid —
    * the [[IvfIndex]] argmin shape with the subspace id joined through:
    * map-side-combined min(struct), ties on cell, one pass for all
    * subspaces.
    */
  private[graft] def pqAssign(v: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    v.join(broadcast(cent), Seq("m"))
      .withColumn("dist", expr("long_l2(sqe, ce)"))
      .groupBy(col("vec_id"), col("m"))
      .agg(first(col("sqe")).as("sqe"), min(struct(col("dist"), col("cell"))).as("mn"))
      .select(col("vec_id"), col("m"), col("sqe"), col("mn.cell").as("cell"))

  /** Slice the corpus into per-subspace rows and train the codebooks.
    * Returns (sub, cent), both persisted: `sub` (vec_id, m, sqe) feeds
    * training, corpus encoding, and the query LUTs; `cent` (m, cell, ce) is
    * PqM×PqK rows whose lineage is two full Lloyd rounds. Training runs on
    * the deterministic `vec_id % 4 = 0` quarter — the scale pattern: a
    * codebook needs a sample, never the corpus (at 100 TB you train on a
    * few million vectors and ENCODE everything).
    */
  /** Per-subspace slices (vec_id, m, sqe) of a quantized vector table
    * (vec_id, qe) — the row shape the whole PQ family works in.
    */
  private[graft] def pqSubspaces(n: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    n.select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("qe"))
      .select(col("vec_id"), col("m"),
        expr(s"slice(qe, m * (size(qe) div $PqM) + 1, size(qe) div $PqM)").as("sqe"))

  /** Train the [[PqM]] codebooks ((m, cell, ce) — [[PqK]] centroids per
    * subspace, two joint Lloyd rounds) over `sub`'s deterministic
    * `vec_id % 4 = 0` quarter. Shared by the in-query pipeline and
    * [[graft.operators.PqIndex.build]], so stored and recomputed codebooks
    * are bit-identical by construction.
    */
  private[graft] def pqTrainCodebooks(sub: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val train = sub.filter(col("vec_id") % 4 === 0)
    val ids0 = train.filter(col("m") === 0)
      .select("vec_id").orderBy(col("vec_id")).limit(PqK)
    var cent = train.join(ids0, "vec_id")
      .withColumn("cell", (row_number().over(
        Window.partitionBy(col("m")).orderBy(col("vec_id"))) - 1).cast("int"))
      .select(col("m"), col("cell"), col("sqe").as("ce"))
    for (_ <- 1 to 2) {
      val upd = pqAssign(train, cent)
        .select(col("m"), col("cell"), posexplode(col("sqe")).as(Seq("j", "v")))
        .groupBy(col("m"), col("cell"), col("j"))
        .agg(expr("cast(round(sum(v) / count(1)) as bigint)").as("cj"))
        .groupBy(col("m"), col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("j"), col("cj")))),
          x => x.getField("cj")).as("ce"))
      cent = cent.select(col("m"), col("cell"), col("ce").as("prev"))
        .join(upd, Seq("m", "cell"), "left")
        .select(col("m"), col("cell"), coalesce(col("ce"), col("prev")).as("ce"))
    }
    cent
  }

  /** IVF-PQ probe, shared by sim_ivfpq_topk/recall: coarse cells are the
    * per-label centroids (the sim_ivf_topk geometry), the PQ code store is
    * partitioned by that coarse cell ([[graft.operators.PqIndex]] with
    * `coarseCells`), and a probe (1) ranks cells per query against the
    * broadcast centroid table, (2) partition-prunes the code scan to the
    * probed cells' files — the collected cell ids reach the scan as
    * literals, the IVF "inverted file" seek — and (3) ADC-scores only
    * those cells' codes per query. Returns (q_id, vec_id, cell, adot, rn)
    * ranked by approximate dot.
    */
  private def ivfpqRanked(s: SparkSession, d: String, nq: Int)
      : org.apache.spark.sql.DataFrame = {
    val idx = graft.operators.StoreRoot.ensure(
        s, d, graft.operators.PqIndex.Kind, "ivfpq-label") { stage =>
      val n = Tables.spread(emb(s, d), "vec_id")
        .select(col("vec_id"), col("label"), expr(quantizeS("embedding")).as("qe"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // per-label coarse centroids: posexplode + groupBy(label, dim) —
      // map-side combined, no row holds a whole cell. Persisted WITH the
      // index: probes read the stored coarse layer, so the steady-state
      // query path never runs a full-corpus pass.
      n.select(col("label"), posexplode(col("qe")).as(Seq("j", "v")))
        .groupBy(col("label").as("c_id"), col("j"))
        .agg(expr("cast(round(sum(v) / count(1)) as bigint)").as("cj"))
        .groupBy(col("c_id"))
        .agg(transform(array_sort(collect_list(struct(col("j"), col("cj")))),
          x => x.getField("cj")).as("ce"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/coarse")
      // coarse assignment at build time: nearest label-centroid argmin
      // (ties on c_id), the sim_ivf_topk shape
      val centStored = s.read.parquet(s"$stage/coarse")
      val assigned = n.crossJoin(broadcast(centStored))
        .withColumn("dist", expr("long_l2(qe, ce)"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("c_id"))).as("m"))
        .select(col("vec_id"), col("m.c_id").as("cell"))
      graft.operators.PqIndex.build(emb(s, d), stage, Some(assigned))
      n.unpersist(blocking = false)
    }
    val cent = s.read.parquet(s"$idx/coarse")
    // the probe path reads ONLY the nq query vectors (scan-pushed filter)
    // plus the stored coarse/codebook/code artifacts — no corpus pass
    val q = Tables.spread(emb(s, d).filter(col("vec_id") < nq), "vec_id")
      .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
    // probes: top-2 cells per query against the broadcast centroids
    val wp = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("c_id"))
    val probes = graft.CacheTracker.track(q
      .select(col("vec_id").as("q_id"), col("qe"))
      .crossJoin(broadcast(cent))
      .withColumn("dist", expr("long_l2(qe, ce)"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= 2)
      .select(col("q_id"), col("c_id").as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // partition pruning: the probed cell union as scan literals
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val codes = graft.operators.PqIndex.codes(s, idx)
      .filter(col("cell").isin(cells.toSeq: _*))
    val qsub = pqSubspaces(q)
    val lut = qsub.join(broadcast(graft.operators.PqIndex.codebooks(s, idx)
        .withColumnRenamed("cell", "code")), Seq("m"))
      .withColumn("pd", expr("long_dot(sqe, ce)"))
      .select(col("vec_id").as("q_id"), col("m"), col("code"), col("pd"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adot").desc, col("vec_id"))
    codes
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(lut), Seq("q_id", "m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adot"), first(col("cell")).as("cell"))
      .withColumn("rn", row_number().over(w))
  }

  /** Oracle CTE chain for the IVF-PQ composition: label coarse centroids +
    * assignment (the sim_ivf_topk CTEs), probe = top-2 cells per query,
    * then the shared PQ codes/LUT chain with scoring restricted to
    * probed-cell members, ranked as `ir`.
    */
  private def ivfpqCteD(nq: Int): String =
    s"""cent AS (SELECT label AS c_id,
       |    list_transform($LaneSeries, j -> CAST(round(
       |      CAST(list_sum(list_transform(list(qe), v -> v[j])) AS BIGINT) / COUNT(*)) AS BIGINT)) AS ce
       |  FROM q GROUP BY label),
       |ad AS (SELECT n.vec_id, c.c_id, ${l2D("n.qe", "c.ce")} AS dist
       |  FROM n CROSS JOIN cent c),
       |assigned AS (SELECT vec_id, c_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS arn FROM ad) z
       |  WHERE arn = 1),
       |qd AS (SELECT n.vec_id AS q_id, c.c_id, ${l2D("n.qe", "c.ce")} AS dist
       |  FROM n CROSS JOIN cent c WHERE n.vec_id < $nq),
       |probes AS (SELECT q_id, c_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, c_id) AS prn FROM qd) z
       |  WHERE prn <= 2),
       |${pqCodesCteD(nq)},
       |isc AS (SELECT l.q_id, k.vec_id, a.cell, CAST(SUM(l.pd) AS BIGINT) AS adot
       |  FROM codes k JOIN lut l ON k.m = l.m AND k.cell = l.cell
       |  JOIN assigned a ON a.vec_id = k.vec_id
       |  JOIN probes p ON p.q_id = l.q_id AND p.cell = a.cell
       |  WHERE k.vec_id <> l.q_id GROUP BY l.q_id, k.vec_id, a.cell),
       |ir AS (SELECT q_id, vec_id, cell, adot,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adot DESC, vec_id) AS rn FROM isc)""".stripMargin

  /** Residual IVF-PQ probe, shared by sim_ivfpq_residual_topk/recall — the
    * composition a production ANN index actually ships: coarse cells are
    * Lloyd-TRAINED (the [[graft.operators.IvfIndex]] arithmetic, not a
    * label stand-in), and the PQ codebooks encode RESIDUALS (vector −
    * its cell centroid) — residuals carry far less variance than raw
    * vectors, so the same PqM×PqK code budget quantizes finer. Scoring is
    * L2-ADC: per probed cell the query's residual sub-vectors build a
    * (m, code) → sub-lane-L2 lookup table, a candidate's approximate
    * distance is the sum of PqM lookups, and ranking ascends — the
    * quantity approximated is exactly ‖q − v̂‖². The code store stays
    * cell-partitioned (file-level pruning); the per-cell query LUTs are
    * queries × nProbe × PqM × PqK rows — broadcast-sized by construction.
    */
  private def ivfpqResidualRanked(s: SparkSession, d: String, nq: Int)
      : org.apache.spark.sql.DataFrame = {
    val idx = graft.operators.StoreRoot.ensure(
        s, d, graft.operators.PqIndex.Kind, "ivfpq-residual") { stage =>
      val q = graft.operators.IvfIndex.quantized(emb(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.operators.IvfIndex.trainCentroids(q, stage, nCells = 16, iters = 2)
      val cent = s.read.parquet(s"$stage/centroids")
      val assigned = q.crossJoin(broadcast(cent))
        .withColumn("dist", expr("long_l2(qe, ce)"))
        .groupBy(col("vec_id"))
        .agg(first(col("qe")).as("qe"), min(struct(col("dist"), col("cell"))).as("m"))
        .select(col("vec_id"), col("qe"), col("m.cell").as("cell"))
      val residuals = assigned.join(broadcast(cent), "cell")
        .select(col("vec_id"), col("cell"),
          expr("zip_with(qe, ce, (a, b) -> a - b)").as("qe"))
      graft.operators.PqIndex.buildFromQuantized(
        residuals.select(col("vec_id"), col("qe")), stage,
        Some(residuals.select(col("vec_id"), col("cell"))))
      q.unpersist(blocking = false)
    }
    val cent = s.read.parquet(s"$idx/centroids")
    // steady-state probe path: nq query vectors + stored artifacts only
    val q = Tables.spread(emb(s, d).filter(col("vec_id") < nq), "vec_id")
      .select(col("vec_id").as("q_id"), expr(quantizeS("embedding")).as("qe"))
    val wp = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("cell"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("dist", expr("long_l2(qe, ce)"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= 2)
      // per probed cell the query re-centers: its residual vs THAT cell
      .select(col("q_id"), col("cell"),
        expr("zip_with(qe, ce, (a, b) -> a - b)").as("re"))
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val codes = graft.operators.PqIndex.codes(s, idx)
      .filter(col("cell").isin(cells.toSeq: _*))
    // (q_id, cell, m, sqe) residual sub-slices — pqSubspaces keyed by more
    // than vec_id, so inline the same explode keeping the cell
    val qsub = probes
      .select(col("q_id"), col("cell"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("re"))
      .select(col("q_id"), col("cell"), col("m"),
        expr(s"slice(re, m * (size(re) div $PqM) + 1, size(re) div $PqM)").as("sqe"))
    val lut = qsub.join(broadcast(graft.operators.PqIndex.codebooks(s, idx)
        .withColumnRenamed("cell", "code")), Seq("m"))
      .withColumn("pd", expr("long_l2(sqe, ce)"))
      .select(col("q_id"), col("cell"), col("m"), col("code"), col("pd"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("vec_id"))
    codes
      .join(broadcast(lut), Seq("cell", "m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adist"), first(col("cell")).as("cell"))
      .withColumn("rn", row_number().over(w))
  }

  /** Oracle CTE chain for residual IVF-PQ: full-corpus Lloyd coarse
    * centroids (`old`/c0..c2, the sim_ivf_incremental unroll), residual
    * computation, residual-trained PQ codebooks (pc0..pc2 via the shared
    * joint round), per-(query, probed-cell) residual LUTs, and ascending
    * approximate-L2 ranking as `ir`.
    */
  private def ivfpqResidualCteD(nq: Int): String =
    s"""old AS (SELECT vec_id, qe FROM n),
       |c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, qe AS ce
       |  FROM (SELECT vec_id, qe FROM old ORDER BY vec_id LIMIT 16) z),
       |${lloydRoundD(1, "c0", "c1")},
       |${lloydRoundD(2, "c1", "c2")},
       |ad AS (SELECT n.vec_id, n.qe, c.cell, ${l2D("n.qe", "c.ce")} AS dist
       |  FROM n CROSS JOIN c2 c),
       |assigned AS (SELECT vec_id, qe, cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS arn FROM ad) z
       |  WHERE arn = 1),
       |rsd AS (SELECT a.vec_id, a.cell,
       |    list_transform($LaneSeries, j -> a.qe[j] - c.ce[j]) AS re
       |  FROM assigned a JOIN c2 c ON a.cell = c.cell),
       |sdim AS (SELECT (SELECT d FROM dim) // $PqM AS sd),
       |ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |sub AS (SELECT vec_id, m,
       |    list_slice(re, m * (SELECT sd FROM sdim) + 1, (m + 1) * (SELECT sd FROM sdim)) AS sqe
       |  FROM rsd CROSS JOIN ms),
       |train AS (SELECT * FROM sub WHERE vec_id % 4 = 0),
       |ids0 AS (SELECT vec_id FROM rsd WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT $PqK),
       |pc0 AS (SELECT t.m, CAST(ROW_NUMBER() OVER (PARTITION BY t.m ORDER BY t.vec_id) - 1 AS INT) AS cell, t.sqe AS ce
       |  FROM train t JOIN ids0 i ON t.vec_id = i.vec_id),
       |${pqRoundD(1, "pc0", "pc1")},
       |${pqRoundD(2, "pc1", "pc2")},
       |ca AS (SELECT s.vec_id, s.m, c.cell, ${l2SubD("s.sqe", "c.ce")} AS dist
       |  FROM sub s JOIN pc2 c ON s.m = c.m),
       |codes AS (SELECT vec_id, m, cell AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cell) AS arn FROM ca) z
       |  WHERE arn = 1),
       |qd AS (SELECT n.vec_id AS q_id, c.cell, ${l2D("n.qe", "c.ce")} AS dist
       |  FROM n CROSS JOIN c2 c WHERE n.vec_id < $nq),
       |probes AS (SELECT q_id, cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, cell) AS prn FROM qd) z
       |  WHERE prn <= 2),
       |qres AS (SELECT p.q_id, p.cell,
       |    list_transform($LaneSeries, j -> v.qe[j] - c.ce[j]) AS re
       |  FROM probes p JOIN n v ON v.vec_id = p.q_id JOIN c2 c ON c.cell = p.cell),
       |qsub AS (SELECT q_id, cell, m,
       |    list_slice(re, m * (SELECT sd FROM sdim) + 1, (m + 1) * (SELECT sd FROM sdim)) AS sqe
       |  FROM qres CROSS JOIN ms),
       |lut AS (SELECT q.q_id, q.cell, q.m, c.cell AS code, ${l2SubD("q.sqe", "c.ce")} AS pd
       |  FROM qsub q JOIN pc2 c ON q.m = c.m),
       |isc AS (SELECT l.q_id, k.vec_id, a.cell, CAST(SUM(l.pd) AS BIGINT) AS adist
       |  FROM codes k
       |  JOIN assigned a ON a.vec_id = k.vec_id
       |  JOIN lut l ON l.m = k.m AND l.code = k.code AND l.cell = a.cell
       |  WHERE k.vec_id <> l.q_id
       |  GROUP BY l.q_id, k.vec_id, a.cell),
       |ir AS (SELECT q_id, vec_id, cell, adist,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist ASC, vec_id) AS rn FROM isc)""".stripMargin

  /** IVF-SQ8 probe, shared by sim_ivfsq_topk/recall — the remaining cell
    * on the ANN grid: coarse cells Lloyd-TRAINED ([[graft.operators
    * .IvfIndex]] arithmetic, the residual-IVF-PQ geometry) with SQ8 codes
    * ([[graft.operators.SqIndex]] lanes, stats trained GLOBALLY so flat
    * SQ8's near-exact reconstruction carries over) partitioned by the
    * coarse cell. A probe (1) ranks cells per query against the broadcast
    * centroid table, (2) partition-prunes the code scan to the top-2
    * cells' files (collected cell ids as scan literals — the IVF seek),
    * and (3) scores only those cells' codes with the exact 510-scaled
    * asymmetric reconstruction dot. The recall trade vs the grid
    * neighbors: flat SQ8 scans every code at recall ~0.97; IVF-PQ prunes
    * the same cells but quantizes through PqM subspace centroids; IVF-SQ8
    * keeps SQ8's per-lane fidelity AND the cell pruning, so its only
    * recall loss is cell misses — the measured gap to 0.97 IS the
    * cell-miss rate, tunable via nProbe.
    */
  private def ivfsqRanked(s: SparkSession, d: String, nq: Int): DataFrame = {
    val idx = graft.operators.StoreRoot.ensure(
        s, d, graft.operators.SqIndex.Kind, "ivfsq") { stage =>
      val q = graft.operators.IvfIndex.quantized(emb(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.operators.IvfIndex.trainCentroids(q, stage, nCells = 16, iters = 2)
      val cent = s.read.parquet(s"$stage/centroids")
      val assigned = q.crossJoin(broadcast(cent))
        .withColumn("dist", expr("long_l2(qe, ce)"))
        .groupBy(col("vec_id"))
        .agg(first(col("qe")).as("qe"), min(struct(col("dist"), col("cell"))).as("m"))
        .select(col("vec_id"), col("qe"), col("m.cell").as("cell"))
      graft.operators.SqIndex.buildFromQuantized(
        assigned.select(col("vec_id"), col("qe")), stage,
        assigned.select(col("vec_id"), col("cell")))
      q.unpersist(blocking = false)
    }
    val cent = s.read.parquet(s"$idx/centroids")
    // steady-state probe path: nq query vectors + stored artifacts only
    val q = Tables.spread(emb(s, d).filter(col("vec_id") < nq), "vec_id")
      .select(col("vec_id").as("q_id"), expr(quantizeS("embedding")).as("qq"))
    val wp = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("cell"))
    val probes = graft.CacheTracker.track(q
      .crossJoin(broadcast(cent))
      .withColumn("dist", expr("long_l2(qq, ce)"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= 2)
      .select(col("q_id"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // partition pruning: the probed cell union as scan literals
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val codes = graft.operators.SqIndex.codes(s, idx)
      .filter(col("cell").isin(cells.toSeq: _*))
    val st = graft.operators.SqIndex.stats(s, idx)
    val w = Window.partitionBy(col("q_id")).orderBy(col("ip510").desc, col("vec_id"))
    codes
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(q), Seq("q_id"))
      .crossJoin(broadcast(st))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("cell"),
        expr("cast(aggregate(transform(sequence(1, size(code)), j -> " +
          "element_at(qq, j) * (510 * element_at(mnl, j) + " +
          "(2 * element_at(code, j) + 1) * (element_at(mxl, j) - element_at(mnl, j)))), " +
          "cast(0 as bigint), (a, x) -> a + x) as bigint)").as("ip510"))
      .withColumn("rn", row_number().over(w))
  }

  /** Oracle CTE chain for IVF-SQ8: full-corpus Lloyd coarse centroids
    * (the sim_ivfpq_residual unroll), global per-lane SQ8 stats + codes
    * (the sim_sq8 CTEs), probe = top-2 cells per query, scoring
    * restricted to probed-cell members, ranked desc on ip510 as `ir`.
    */
  private def ivfsqCteD(nq: Int): String =
    s"""old AS (SELECT vec_id, qe FROM n),
       |c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, qe AS ce
       |  FROM (SELECT vec_id, qe FROM old ORDER BY vec_id LIMIT 16) z),
       |${lloydRoundD(1, "c0", "c1")},
       |${lloydRoundD(2, "c1", "c2")},
       |ad AS (SELECT n.vec_id, n.qe, c.cell, ${l2D("n.qe", "c.ce")} AS dist
       |  FROM n CROSS JOIN c2 c),
       |assigned AS (SELECT vec_id, qe, cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS arn FROM ad) z
       |  WHERE arn = 1),
       |lanes AS (SELECT j, MIN(qe[j]) AS mn, MAX(qe[j]) AS mx
       |  FROM n, (SELECT unnest($LaneSeries) AS j) s GROUP BY j),
       |st AS (SELECT (SELECT list(mn ORDER BY j) FROM lanes) AS mnl,
       |               (SELECT list(mx ORDER BY j) FROM lanes) AS mxl),
       |codes AS (SELECT a.vec_id, a.cell, mnl, mxl, list_transform($LaneSeries, j ->
       |    least(255, greatest(0, CASE WHEN mxl[j] = mnl[j] THEN 0
       |      ELSE ((a.qe[j] - mnl[j]) * 255) // (mxl[j] - mnl[j]) END))) AS code
       |  FROM assigned a CROSS JOIN st),
       |qd AS (SELECT n.vec_id AS q_id, c.cell, ${l2D("n.qe", "c.ce")} AS dist
       |  FROM n CROSS JOIN c2 c WHERE n.vec_id < $nq),
       |probes AS (SELECT q_id, cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, cell) AS prn FROM qd) z
       |  WHERE prn <= 2),
       |qs AS (SELECT vec_id AS q_id, qe AS qq FROM n WHERE vec_id < $nq),
       |isc AS (SELECT q.q_id, k.vec_id, k.cell,
       |    CAST(list_sum(list_transform($LaneSeries, j ->
       |      qq[j] * (510 * k.mnl[j] + (2 * k.code[j] + 1) * (k.mxl[j] - k.mnl[j])))) AS BIGINT) AS ip510
       |  FROM codes k JOIN probes p ON p.cell = k.cell
       |  JOIN qs q ON q.q_id = p.q_id
       |  WHERE k.vec_id <> q.q_id),
       |ir AS (SELECT q_id, vec_id, cell, ip510,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ip510 DESC, vec_id) AS rn FROM isc)""".stripMargin

  // def, not val: oracle strings interpolate the resolved plane count, so
  // they must render on access (after query fns resolved it), never freeze
  // at object init
  def all: Map[String, QuerySpec] = Map(

    // ----- top principal component via power iteration ----------------------
    // The spectral diagnostic an embedding pipeline runs before whitening /
    // dimensionality decisions and after encoder swaps (anisotropy drift):
    // the dominant direction of the uncentered second-moment (Gram) matrix
    // and the share of total squared mass it explains. The computation is
    // the `RowMatrix.computePrincipalComponents` shape, re-expressed
    // declaratively: ONE distributed pass reduces the corpus to the d×d
    // Gram — each task partial-aggregates its (i, j) products map-side, so
    // the shuffle carries at most d² rows per task regardless of corpus
    // size — and the driver collects only the d² = 4096-entry matrix
    // (bounded, corpus-independent), exactly like MLlib's Gramian collect.
    // Power iteration then runs driver-side in exact BigInt arithmetic:
    // 3 rounds of y = G·x with a per-round renormalization to max-coord
    // 1000 via sign(y)·(|y|·1000 div max|y|) — abs before the division
    // keeps truncation == floor in both engines (Spark div truncates,
    // DuckDB // floors; they agree only for non-negative operands).
    // Quantization is 1e3-scale (NOT the family's 1e6): the Gram chain
    // multiplies q_i·q_j·n·x, and the coarser scale keeps every
    // intermediate inside BIGINT headroom at 1000× the corpus while 1e-3
    // resolution is far below the direction estimate's own error. The
    // oracle replays the Gram, all 3 rounds, and the Rayleigh quotient in
    // HUGEINT, hash-checking the whole chain.
    "sim_pca_power" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        val q = emb(s, d).select(
          expr("transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")
            .as("qe"))
        val flat = q.as[Array[Long]]
          .select(graft.functions.GramAggregator.toColumn.name("g"))
          .head()
        val dim = math.sqrt(flat.length.toDouble).toInt
        val g = Array.tabulate(dim, dim)((i, j) => flat(i * dim + j))
        def mul(x: Array[BigInt]): Array[BigInt] =
          Array.tabulate(dim)(i =>
            (0 until dim).foldLeft(BigInt(0))((a, j) => a + BigInt(g(i)(j)) * x(j)))
        var x = Array.fill(dim)(BigInt(1000))
        for (_ <- 1 to 3) {
          val y = mul(x)
          val m = y.map(_.abs).max
          x = y.map(v => v.sign * (v.abs * 1000 / m))
        }
        val y = mul(x)
        val num = (0 until dim).foldLeft(BigInt(0))((a, i) => a + x(i) * y(i))
        val den = x.foldLeft(BigInt(0))((a, v) => a + v * v)
        val trace = (0 until dim).foldLeft(BigInt(0))((a, i) => a + BigInt(g(i)(i)))
        val lam = num / den
        val share = lam * 1000000 / trace
        (1 to dim).map(i => (i, x(i - 1).toLong, lam.toLong, share.toLong))
          .toDF("i", "coord", "eigenvalue", "share_micro")
          .orderBy(col("i"))
      },
      Some("""WITH q AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
             |  FROM embeddings),
             |ex AS (SELECT qe, unnest(generate_series(1, len(qe))) AS i FROM q),
             |ex2 AS (SELECT qe, i, qe[i] AS qi,
             |    unnest(generate_series(1, len(qe))) AS j FROM ex),
             |g AS (SELECT i, j, CAST(SUM(qi * qe[j]) AS BIGINT) AS g FROM ex2 GROUP BY i, j),
             |x0 AS (SELECT DISTINCT i, CAST(1000 AS HUGEINT) AS x FROM g),
             |y1 AS (SELECT g.i, SUM(g.g * x0.x) AS y FROM g JOIN x0 ON g.j = x0.i GROUP BY g.i),
             |x1 AS (SELECT i, CAST(sign(y) AS HUGEINT) *
             |    (ABS(y) * 1000 // (SELECT MAX(ABS(y)) FROM y1)) AS x FROM y1),
             |y2 AS (SELECT g.i, SUM(g.g * x1.x) AS y FROM g JOIN x1 ON g.j = x1.i GROUP BY g.i),
             |x2 AS (SELECT i, CAST(sign(y) AS HUGEINT) *
             |    (ABS(y) * 1000 // (SELECT MAX(ABS(y)) FROM y2)) AS x FROM y2),
             |y3 AS (SELECT g.i, SUM(g.g * x2.x) AS y FROM g JOIN x2 ON g.j = x2.i GROUP BY g.i),
             |x3 AS (SELECT i, CAST(sign(y) AS HUGEINT) *
             |    (ABS(y) * 1000 // (SELECT MAX(ABS(y)) FROM y3)) AS x FROM y3),
             |y4 AS (SELECT g.i, SUM(g.g * x3.x) AS y FROM g JOIN x3 ON g.j = x3.i GROUP BY g.i),
             |num AS (SELECT SUM(x3.x * y4.y) AS v FROM x3 JOIN y4 ON x3.i = y4.i),
             |den AS (SELECT SUM(x * x) AS v FROM x3),
             |tr AS (SELECT SUM(g) AS v FROM g WHERE i = j),
             |lam AS (SELECT (SELECT v FROM num) // (SELECT v FROM den) AS v)
             |SELECT x3.i AS i, CAST(x3.x AS BIGINT) AS coord,
             |  CAST((SELECT v FROM lam) AS BIGINT) AS eigenvalue,
             |  CAST((SELECT v FROM lam) * 1000000 // (SELECT v FROM tr) AS BIGINT) AS share_micro
             |FROM x3 ORDER BY i""".stripMargin)
    ),

    // ----- brute-force exact cosine top-k (baseline) ------------------------
    "sim_cosine_topk" -> QuerySpec(
      (s, d) => {
        val n = Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
        val queries = n.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"), col("nrm").as("na"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("c").desc, col("vec_id"))
        broadcast(queries)
          .join(n, col("vec_id") =!= col("q_id"))
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("q_id"), col("vec_id"), expr("floor(c * 1e6 + 0.5) / 1e6").as("cosine"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
      },
      Some(s"""$OracleQ,
             |p AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |    ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) AS c
             |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
             |r AS (SELECT q_id, vec_id, c,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn FROM p)
             |SELECT q_id, vec_id, floor(c * 1e6 + 0.5) / 1e6 AS cosine, rn FROM r
             |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin)
    ),

    // ----- hard-negative mining for embedding-model training ----------------
    // Contrastive training of retrieval/embedding models needs, per anchor,
    // the most-similar vectors with a DIFFERENT label — near the anchor in
    // the current space yet semantically distinct (the negatives that move
    // the loss; random negatives are too easy). Top-5 cross-label neighbors
    // per anchor, exact over the broadcast anchor set: the corpus side
    // streams through one broadcast hash-join pass (label inequality rides
    // the join condition, so same-label rows never leave the scan); the
    // IVF/LSH candidate stores drop in for the corpus side at scale the
    // same way they do for sim_cosine_topk. Integer-quantized dot/norms,
    // one IEEE division, vec_id tie-breaks — cross-engine exact.
    "sim_hard_negatives" -> QuerySpec(
      (s, d) => {
        val n = Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), col("label"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
        val anchors = n.filter(col("vec_id") < 6)
          .select(col("vec_id").as("a_id"), col("label").as("a_label"),
            col("qe").as("qa"), col("nrm").as("na"))
        val w = Window.partitionBy(col("a_id"))
          .orderBy(col("c").desc, col("vec_id"))
        broadcast(anchors)
          .join(n, col("label") =!= col("a_label"))
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("a_id"), col("a_label"), col("vec_id"), col("label"),
            expr("floor(c * 1e6 + 0.5) / 1e6").as("cosine"), col("rn"))
          .orderBy(col("a_id"), col("rn"))
      },
      Some(s"""$OracleQ,
             |p AS (SELECT a.vec_id AS a_id, a.label AS a_label,
             |    b.vec_id AS vec_id, b.label AS label,
             |    ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) AS c
             |  FROM n a JOIN n b ON a.vec_id < 6 AND b.label <> a.label),
             |r AS (SELECT a_id, a_label, vec_id, label, c,
             |    ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY c DESC, vec_id) AS rn FROM p)
             |SELECT a_id, a_label, vec_id, label, floor(c * 1e6 + 0.5) / 1e6 AS cosine, rn FROM r
             |WHERE rn <= 5 ORDER BY a_id, rn""".stripMargin)
    ),

    // ----- random-projection shortlist + exact rerank: the recall curve -----
    // The index-shrinking step before ANN at scale: project 128-dim
    // embeddings to 16 dims with a deterministic sparse Achlioptas matrix
    // (weights in {-1, 0, +1} from the (lane, output-dim) hash — integer-
    // exact, no stored matrix, both engines rebuild it from arithmetic).
    // 8x fewer bytes per vector ⇒ 8x less IO for the shortlist scan; the
    // compressed space is used the way production uses it — SHORTLIST in
    // projected space, exact-rerank the shortlist in full dimension — and
    // the query reports recall@10 at shortlist depths 10/50/100/200 (depth
    // 10 = trusting the projection outright). Measured curve at sf0.01:
    // 0.04 -> 0.12 -> 0.34 -> 0.48 — the rerank ladder is the whole story
    // on near-isotropic vectors, exactly the lever-vs-recall shape the
    // IVF nProbe row reports. The {-1,0,1} weights bound projected
    // coordinates at 128·1e6, keeping 16-dim dots far inside BIGINT. One
    // narrow projection pass; both rankings share the broadcast-query/
    // corpus-stream shape; rerank + recall run on <= depth·|Q| rows.
    "sim_rp_recall" -> QuerySpec(
      (s, d) => {
        val base = Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .withColumn("pe", expr(
            "transform(sequence(0, 15), j -> aggregate(sequence(1, size(qe)), " +
              "cast(0 as bigint), (s2, i) -> s2 + (((i * 53 + j * 131) % 3) - 1) * element_at(qe, i)))"))
          .withColumn("pnrm", expr("long_dot(pe, pe)"))
        val n = graft.CacheTracker.track(
          base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val queries = n.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"), col("nrm").as("na"),
            col("pe").as("pa"), col("pnrm").as("pna"))
        val w = Window.partitionBy(col("q_id"))
        val joined = broadcast(queries).join(n, col("vec_id") =!= col("q_id"))
          .withColumn("cf", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("cp", expr("long_dot(pa, pe) / (sqrt(pna) * sqrt(pnrm))"))
          .withColumn("fr", row_number().over(w.orderBy(col("cf").desc, col("vec_id"))))
          .withColumn("pr", row_number().over(w.orderBy(col("cp").desc, col("vec_id"))))
          .select(col("q_id"), col("vec_id"), col("cf"), col("fr"), col("pr"))
          .filter(col("fr") <= 10 || col("pr") <= 200)
        val depths = joined.sparkSession.range(0, 1).selectExpr(
          "explode(array(10, 50, 100, 200)) as depth")
        val rerank = joined.crossJoin(broadcast(depths))
          .filter(col("pr") <= col("depth"))
          .withColumn("rr", row_number().over(
            Window.partitionBy(col("q_id"), col("depth"))
              .orderBy(col("cf").desc, col("vec_id"))))
          .filter(col("rr") <= 10)
          .select(col("depth"), col("q_id"), col("vec_id"), lit(1L).as("hit"))
        joined.filter(col("fr") <= 10)
          .select(col("q_id"), col("vec_id"))
          .crossJoin(broadcast(depths))
          .join(rerank, Seq("depth", "q_id", "vec_id"), "left")
          .groupBy(col("depth"))
          .agg(sum(coalesce(col("hit"), lit(0L))).cast("bigint").as("n_overlap"))
          .withColumn("recall", expr("floor(n_overlap / 50 * 1e6 + 0.5) / 1e6"))
          .orderBy(col("depth"))
      },
      Some(s"""$OracleQ,
             |pn AS (SELECT vec_id, qe, nrm,
             |    list_transform(generate_series(0, 15), j ->
             |      CAST(list_sum(list_transform(generate_series(1, len(qe)),
             |        i -> ((i * 53 + j * 131) % 3 - 1) * qe[i])) AS BIGINT)) AS pe
             |  FROM n),
             |pn2 AS (SELECT vec_id, qe, nrm, pe, ${dotD("pe", "pe")} AS pnrm FROM pn),
             |j AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |    ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) AS cf,
             |    ${dotD("a.pe", "b.pe")} / (sqrt(a.pnrm) * sqrt(b.pnrm)) AS cp
             |  FROM pn2 a JOIN pn2 b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
             |rk AS (SELECT q_id, vec_id, cf,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cf DESC, vec_id) AS fr,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cp DESC, vec_id) AS pr
             |  FROM j),
             |depths AS (SELECT unnest([10, 50, 100, 200]) AS depth),
             |rer AS (SELECT depth, q_id, vec_id FROM (SELECT d.depth, r.q_id, r.vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY r.q_id, d.depth
             |      ORDER BY r.cf DESC, r.vec_id) AS rr
             |  FROM rk r JOIN depths d ON r.pr <= d.depth) z WHERE rr <= 10),
             |truth AS (SELECT q_id, vec_id FROM rk WHERE fr <= 10)
             |SELECT d.depth, COUNT(rer.vec_id) AS n_overlap,
             |  floor(COUNT(rer.vec_id) / 50 * 1e6 + 0.5) / 1e6 AS recall
             |FROM truth t CROSS JOIN depths d
             |  LEFT JOIN rer ON rer.depth = d.depth AND rer.q_id = t.q_id
             |    AND rer.vec_id = t.vec_id
             |GROUP BY d.depth ORDER BY d.depth""".stripMargin)
    ),

    // ----- binary sign-sketch shortlist: the 1-bit/dim compression tier -----
    // The cheapest point on the engine's compression grid (RP: 16 of 64
    // dims; SQ8: 8 bits/lane; PQ: sub-lane codebooks; Matryoshka: prefix
    // truncation): ONE 32-bit sign code per vector — bit i = sign of the
    // dot with deterministic hyperplane i (the SAME hash-derived planes the
    // LSH bucket key uses, so the code IS the bucket key read as a
    // bitvector; Charikar STOC'02: P[bit differs] = angle/π, so hamming
    // distance is an unbiased angle estimator). 64 float dims → 4 bytes:
    // a 64× scan-byte cut, and candidate ranking is XOR + popcount — the
    // cheapest distance arithmetic that exists. Production shape as
    // sim_rp_recall: shortlist by hamming (native codegen'd
    // hyperplane_key + bit_count), exact-rerank the shortlist, recall@10
    // at depths 10/50/100/200. Exact integer codes and hamming ranks —
    // the estimates hash-match DuckDB bit-for-bit.
    "sim_hamming_recall" -> QuerySpec(
      (s, d) => {
        val n = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .withColumn("code", expr("hyperplane_key(qe, 32)"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val queries = n.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"),
            col("nrm").as("na"), col("code").as("ca"))
        val w = Window.partitionBy(col("q_id"))
        val joined = broadcast(queries).join(n, col("vec_id") =!= col("q_id"))
          .withColumn("cf", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("hd", expr("bit_count(ca ^ code)"))
          .withColumn("fr", row_number().over(w.orderBy(col("cf").desc, col("vec_id"))))
          .withColumn("pr", row_number().over(w.orderBy(col("hd").asc, col("vec_id"))))
          .select(col("q_id"), col("vec_id"), col("cf"), col("fr"), col("pr"))
          .filter(col("fr") <= 10 || col("pr") <= 200)
        val depths = joined.sparkSession.range(0, 1).selectExpr(
          "explode(array(10, 50, 100, 200)) as depth")
        val rerank = joined.crossJoin(broadcast(depths))
          .filter(col("pr") <= col("depth"))
          .withColumn("rr", row_number().over(
            Window.partitionBy(col("q_id"), col("depth"))
              .orderBy(col("cf").desc, col("vec_id"))))
          .filter(col("rr") <= 10)
          .select(col("depth"), col("q_id"), col("vec_id"), lit(1L).as("hit"))
        joined.filter(col("fr") <= 10)
          .select(col("q_id"), col("vec_id"))
          .crossJoin(broadcast(depths))
          .join(rerank, Seq("depth", "q_id", "vec_id"), "left")
          .groupBy(col("depth"))
          .agg(sum(coalesce(col("hit"), lit(0L))).cast("bigint").as("n_overlap"))
          .withColumn("recall", expr("floor(n_overlap / 50 * 1e6 + 0.5) / 1e6"))
          .orderBy(col("depth"))
      },
      Some(s"""$OracleQ,
             |cd AS (SELECT vec_id, qe, nrm, ${lshKeyD("qe", 32)} AS code FROM n),
             |j AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |    ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) AS cf,
             |    bit_count(xor(a.code, b.code)) AS hd
             |  FROM cd a JOIN cd b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
             |rk AS (SELECT q_id, vec_id, cf,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cf DESC, vec_id) AS fr,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hd ASC, vec_id) AS pr
             |  FROM j),
             |depths AS (SELECT unnest([10, 50, 100, 200]) AS depth),
             |rer AS (SELECT depth, q_id, vec_id FROM (SELECT d.depth, r.q_id, r.vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY r.q_id, d.depth
             |      ORDER BY r.cf DESC, r.vec_id) AS rr
             |  FROM rk r JOIN depths d ON r.pr <= d.depth) z WHERE rr <= 10),
             |truth AS (SELECT q_id, vec_id FROM rk WHERE fr <= 10)
             |SELECT d.depth, COUNT(rer.vec_id) AS n_overlap,
             |  floor(COUNT(rer.vec_id) / 50 * 1e6 + 0.5) / 1e6 AS recall
             |FROM truth t CROSS JOIN depths d
             |  LEFT JOIN rer ON rer.depth = d.depth AND rer.q_id = t.q_id
             |    AND rer.vec_id = t.vec_id
             |GROUP BY d.depth ORDER BY d.depth""".stripMargin)
    ),

    // ----- Matryoshka truncation: the zero-index dimension ladder -----------
    // Matryoshka representations (Kusupati et al., NeurIPS'22) make the
    // PREFIX of an embedding a usable embedding — no projection matrix, no
    // codebook, no training pass at serve time: truncate to the first m
    // lanes and every vector costs m/d of the scan bytes and dot-product
    // FLOPs. This row measures what that buys on THIS corpus: recall@10 vs
    // the full-dim exact top-10 at m = 8/16/32, both trusting the
    // truncation outright (direct@10) and in the production shape —
    // shortlist at depth 50 in truncated space, exact-rerank the shortlist
    // in full dimension (the sim_rp_recall ladder, with slicing instead of
    // a projection). rerank >= direct is a THEOREM here (any direct hit
    // displaced from the reranked top-10 is displaced by higher-true-cosine
    // shortlist members, which are then hits themselves) — the spec pins
    // it, and the gap is pure shortlist-miss, the m-tunable quantity.
    //
    // Scale design: prefix norms/dots are incremental (dot_16 = dot_8 +
    // lanes 9..16), so a production scan prices each depth as a DELTA, and
    // the shortlist pass reads only m lanes per vector when the store is
    // laid out lane-major (the SqIndex layout). Shapes are sim_rp_recall's:
    // broadcast queries, one corpus stream, rerank on <= depth*|Q| rows.
    // Integer dots/norms, one IEEE division per pair — cross-engine exact.
    "sim_matryoshka_recall" -> QuerySpec(
      (s, d) => {
        val n = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val queries = n.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"), col("nrm").as("na"))
        val w = Window.partitionBy(col("q_id"))
        val wm = Window.partitionBy(col("q_id"), col("m"))
        val jd = broadcast(queries).join(n, col("vec_id") =!= col("q_id"))
          .withColumn("cf", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("fr", row_number().over(w.orderBy(col("cf").desc, col("vec_id"))))
          .withColumn("m", explode(expr("array(8, 16, 32)")))
          .withColumn("cp", expr(
            "long_dot(slice(qa, 1, m), slice(qe, 1, m)) / " +
              "(sqrt(long_dot(slice(qa, 1, m), slice(qa, 1, m))) * " +
              "sqrt(long_dot(slice(qe, 1, m), slice(qe, 1, m))))"))
          .withColumn("pr", row_number().over(wm.orderBy(col("cp").desc, col("vec_id"))))
          .filter(col("fr") <= 10 || col("pr") <= 50)
        val direct = jd.filter(col("pr") <= 10 && col("fr") <= 10)
          .groupBy(col("m")).agg(count(lit(1)).as("n_direct"))
        val rerank = jd.filter(col("pr") <= 50)
          .withColumn("rr", row_number().over(wm.orderBy(col("cf").desc, col("vec_id"))))
          .filter(col("rr") <= 10 && col("fr") <= 10)
          .groupBy(col("m")).agg(count(lit(1)).as("n_rerank"))
        s.range(0, 1).selectExpr("explode(array(8, 16, 32)) as m")
          .join(direct, Seq("m"), "left")
          .join(rerank, Seq("m"), "left")
          .select(col("m").as("dims"),
            coalesce(col("n_direct"), lit(0L)).as("n_direct"),
            expr("floor(coalesce(n_direct, 0) / 50 * 1e6 + 0.5) / 1e6").as("recall_direct"),
            coalesce(col("n_rerank"), lit(0L)).as("n_rerank"),
            expr("floor(coalesce(n_rerank, 0) / 50 * 1e6 + 0.5) / 1e6").as("recall_rerank"))
          .orderBy(col("dims"))
      },
      Some(s"""$OracleQ,
             |j AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id, a.qe AS qa, b.qe AS qe,
             |    ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) AS cf
             |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
             |rk AS (SELECT q_id, vec_id, qa, qe, cf,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cf DESC, vec_id) AS fr FROM j),
             |dims2 AS (SELECT unnest([8, 16, 32]) AS m),
             |jd AS (SELECT r.q_id, r.vec_id, r.cf, r.fr, d.m,
             |    CAST(list_sum(list_transform(generate_series(1, d.m), i -> r.qa[i] * r.qe[i])) AS BIGINT) /
             |    (sqrt(CAST(list_sum(list_transform(generate_series(1, d.m), i -> r.qa[i] * r.qa[i])) AS BIGINT)) *
             |     sqrt(CAST(list_sum(list_transform(generate_series(1, d.m), i -> r.qe[i] * r.qe[i])) AS BIGINT))) AS cp
             |  FROM rk r CROSS JOIN dims2 d),
             |pr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id, m ORDER BY cp DESC, vec_id) AS pr FROM jd),
             |direct AS (SELECT m, COUNT(*) AS n_direct FROM pr WHERE pr <= 10 AND fr <= 10 GROUP BY m),
             |rr AS (SELECT m, COUNT(*) AS n_rerank FROM (
             |    SELECT q_id, m, fr, ROW_NUMBER() OVER (PARTITION BY q_id, m ORDER BY cf DESC, vec_id) AS rr
             |    FROM pr WHERE pr <= 50) z WHERE rr <= 10 AND fr <= 10 GROUP BY m)
             |SELECT d.m AS dims,
             |  CAST(COALESCE(direct.n_direct, 0) AS BIGINT) AS n_direct,
             |  floor(COALESCE(direct.n_direct, 0) / 50 * 1e6 + 0.5) / 1e6 AS recall_direct,
             |  CAST(COALESCE(rr.n_rerank, 0) AS BIGINT) AS n_rerank,
             |  floor(COALESCE(rr.n_rerank, 0) / 50 * 1e6 + 0.5) / 1e6 AS recall_rerank
             |FROM dims2 d LEFT JOIN direct ON d.m = direct.m LEFT JOIN rr ON d.m = rr.m
             |ORDER BY dims""".stripMargin)
    ),

    // ----- fully-indexed hybrid retrieval: BM25 store x IVF store, RRF ------
    // hyb_rrf_search's production form: BOTH legs read a persistent store —
    // the text leg the BM25 inverted index (TextIndex, built once per
    // corpus), the vector leg the Lloyd-trained cell-partitioned IvfIndex
    // (the SAME store dedup_semantic_kmeans maintains — one index serves
    // dedup and retrieval, which is the point of persisting it). Probe = 2
    // nearest cells, rank only their members; fusion is integer RRF. This
    // is the query whose cost model survives 100 TB: text-side work is
    // bounded by query-term postings, vector-side by probed-cell occupancy
    // (file-level partition pruning), and neither leg ever scans the full
    // corpus at query time. Top-50 pools per leg, fused to top-10. The
    // oracle replays the whole vector lifecycle — Lloyd init, both rounds,
    // assignment, probe selection — in exact integers, so the row pins
    // store ≡ recompute bit-for-bit (the sim_ivf_incremental contract).
    "hyb_rrf_indexed" -> QuerySpec(
      (s, d) => {
        val qids = emb(s, d).filter(col("vec_id") < 4)
          .select(col("vec_id").as("qid"))
        val idx = TextQueries.registryTextIndex(s, d)
        val text = graft.operators.TextIndex.search(s, idx, qids, 50)
          .select(col("qid"), col("doc_id"), col("rank"))
        // vector leg: the persistent Lloyd IVF store, 2-cell probe
        val ividx = DedupQueries.semkIndex(s, d)
        val vec = graft.operators.IvfIndex.probe(s, ividx,
            emb(s, d).filter(col("vec_id") < 4), k = 50, nProbe = 2)
          .select(col("q_id").as("qid"), col("vec_id").as("doc_id"),
            col("rn").as("rank"))
        text.unionByName(vec)
          .select(col("qid"), col("doc_id"), expr("1000000 div (60 + rank)").as("pts"))
          .groupBy(col("qid"), col("doc_id"))
          .agg(count(lit(1)).as("n_lists"), sum(col("pts")).cast("bigint").as("rrf_micro"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("rrf_micro").desc, col("doc_id"))))
          .filter(col("rank") <= 10)
          .select(col("qid").as("query_id"), col("rank"), col("doc_id"),
            col("n_lists"), col("rrf_micro"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""$OracleQ,
             |old AS (SELECT vec_id, qe FROM n),
             |c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, qe AS ce
             |  FROM (SELECT vec_id, qe FROM old ORDER BY vec_id LIMIT ${graft.analytics.DedupQueries.SemKCells}) z),
             |${lloydRoundD(1, "c0", "c1")},
             |${lloydRoundD(2, "c1", "c2")},
             |vad AS (SELECT n.vec_id, n.qe, n.nrm, c.cell, ${l2D("n.qe", "c.ce")} AS dist
             |  FROM n CROSS JOIN c2 c),
             |vassigned AS (SELECT vec_id, qe, nrm, cell FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS arn FROM vad) z
             |  WHERE arn = 1),
             |vpd AS (SELECT n.vec_id AS q_id, n.qe AS qa, n.nrm AS na, c.cell,
             |    ${l2D("n.qe", "c.ce")} AS dist
             |  FROM n CROSS JOIN c2 c WHERE n.vec_id < 4),
             |vprobes AS (SELECT q_id, qa, na, cell FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, cell) AS prn FROM vpd) z
             |  WHERE prn <= 2),
             |vres AS (SELECT p.q_id AS qid, a.vec_id AS doc_id,
             |    ${dotD("p.qa", "a.qe")} / (sqrt(p.na) * sqrt(a.nrm)) AS c
             |  FROM vprobes p JOIN vassigned a ON p.cell = a.cell AND a.vec_id <> p.q_id),
             |vq AS (SELECT qid, doc_id, rank FROM (SELECT qid, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, doc_id) AS rank
             |  FROM vres) z WHERE rank <= 50),
             |${TextQueries.bm25SqlCtes("SELECT vec_id AS qid FROM embeddings WHERE vec_id < 4")},
             |tq AS (SELECT qid, doc_id, rank FROM r WHERE rank <= 50),
             |u AS (SELECT qid, doc_id, 1000000 // (60 + rank) AS pts FROM tq
             |  UNION ALL SELECT qid, doc_id, 1000000 // (60 + rank) AS pts FROM vq),
             |f AS (SELECT qid, doc_id, COUNT(*) AS n_lists,
             |    CAST(SUM(pts) AS BIGINT) AS rrf_micro FROM u GROUP BY 1, 2),
             |frk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             |    ORDER BY rrf_micro DESC, doc_id) AS rank FROM f)
             |SELECT qid AS query_id, rank, doc_id, n_lists, rrf_micro
             |FROM frk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
    ),

    // ----- hyperplane-LSH bucketed ANN: bucket equi-join + exact rerank -----
    "sim_lsh_ann" -> QuerySpec(
      (s, d) => {
        val p = resolvePlanes(s, d)
        val n = Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .withColumn("bucket", expr(s"hyperplane_key(qe, $p)"))
        val queries = n.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"),
            col("nrm").as("na"), col("bucket").as("qb"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("c").desc, col("vec_id"))
        broadcast(queries)
          .join(n, col("qb") === col("bucket") && col("vec_id") =!= col("q_id"))
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"), col("bucket"),
            expr("floor(c * 1e6 + 0.5) / 1e6").as("cosine"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
      },
      Some(s"""$OracleQ,
             |bk AS (SELECT vec_id, qe, nrm, ${lshKeyD("qe")} AS bucket FROM n),
             |p AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id, b.bucket,
             |    ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) AS c
             |  FROM bk a JOIN bk b
             |    ON a.vec_id < 5 AND a.bucket = b.bucket AND b.vec_id <> a.vec_id),
             |r AS (SELECT q_id, vec_id, bucket, c,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn FROM p)
             |SELECT q_id, vec_id, bucket, floor(c * 1e6 + 0.5) / 1e6 AS cosine, rn FROM r
             |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)
    ),

    // ----- multi-probe LSH ANN: probe the bucket + its hamming-1 ring ------
    // The standard recall lever that does NOT grow the corpus-side work
    // (multi-probe LSH): a near neighbor that one hyperplane pushed into an
    // adjacent bucket is recovered by ALSO probing every key at hamming
    // distance 1 from the query's own — Planes+1 probe keys per query,
    // exploded on the (broadcast) query side only. The corpus is hashed
    // and shuffled exactly once, the join stays an equi-join on the bucket
    // key, and since a corpus vector sits in one fixed bucket it can match
    // at most one probe key — no pair dedup needed. Candidate mass is
    // (Planes+1)x one bucket's occupancy: linear, not another table.
    "sim_lsh_multiprobe" -> QuerySpec(
      (s, d) => {
        val p = resolvePlanes(s, d)
        val n = Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .withColumn("bucket", expr(s"hyperplane_key(qe, $p)"))
        val queries = n.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"),
            col("nrm").as("na"), col("bucket").as("qb"))
          .withColumn("probe", explode(expr(
            s"concat(array(qb), transform(sequence(0, ${p - 1}), " +
              "i -> qb ^ shiftleft(cast(1 as bigint), i)))")))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("c").desc, col("vec_id"))
        broadcast(queries)
          .join(n, col("probe") === col("bucket") && col("vec_id") =!= col("q_id"))
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"), col("bucket"),
            expr("floor(c * 1e6 + 0.5) / 1e6").as("cosine"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
      },
      Some(s"""$OracleQ,
             |bk AS (SELECT vec_id, qe, nrm, ${lshKeyD("qe")} AS bucket FROM n),
             |p AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id, b.bucket,
             |    ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) AS c
             |  FROM bk a JOIN bk b
             |    ON a.vec_id < 5 AND b.vec_id <> a.vec_id
             |    AND bit_count(xor(a.bucket, b.bucket)) <= 1),
             |r AS (SELECT q_id, vec_id, bucket, c,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn FROM p)
             |SELECT q_id, vec_id, bucket, floor(c * 1e6 + 0.5) / 1e6 AS cosine, rn FROM r
             |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)
    ),

    // ----- ANN quality measurement: recall@5 of LSH vs exact ground truth ---
    // The evaluation loop every ANN deployment runs: for each query, compare
    // the LSH top-k against the brute-force top-k and report the overlap
    // fraction — for BOTH the plain single-bucket probe and the hamming-1
    // multi-probe (sim_lsh_multiprobe), so the recall the extra probes buy
    // is a measured number, not a claim. Ground truth is exact over the full
    // corpus (fine for a small probe set of queries — the query side
    // broadcasts); at 100 TB the same query runs over a sampled partition of
    // the corpus. The shared quantized projection is persisted: all three
    // branches reference it and its lineage is the full corpus scan.
    "sim_lsh_recall" -> QuerySpec(
      (s, d) => {
        val p = resolvePlanes(s, d)
        val n = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .withColumn("bucket", expr(s"hyperplane_key(qe, $p)"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val queries = n.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"),
            col("nrm").as("na"), col("bucket").as("qb"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("c").desc, col("vec_id"))
        def top5(joined: org.apache.spark.sql.DataFrame) = joined
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"))
        val exact = top5(broadcast(queries).join(n, col("vec_id") =!= col("q_id")))
        val lsh = top5(broadcast(queries)
          .join(n, col("qb") === col("bucket") && col("vec_id") =!= col("q_id")))
        // the multiprobe candidate set: query bucket + its hamming-1 ring,
        // exploded on the broadcast query side only (same shape as
        // sim_lsh_multiprobe — a corpus vector matches at most one probe)
        val mq = queries.withColumn("probe", explode(expr(
          s"concat(array(qb), transform(sequence(0, ${p - 1}), " +
            "i -> qb ^ shiftleft(cast(1 as bigint), i)))")))
        val multi = top5(broadcast(mq)
          .join(n, col("probe") === col("bucket") && col("vec_id") =!= col("q_id")))
        exact.join(lsh.withColumn("hit", lit(1)), Seq("q_id", "vec_id"), "left")
          .join(multi.withColumn("hit_m", lit(1)), Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(col("hit")).as("n_hits"), count(col("hit_m")).as("n_hits_multi"))
          .withColumn("recall", expr("floor(n_hits / 5 * 1e6 + 0.5) / 1e6"))
          .withColumn("recall_multi", expr("floor(n_hits_multi / 5 * 1e6 + 0.5) / 1e6"))
          .select(col("q_id"), col("n_hits"), col("recall"),
            col("n_hits_multi"), col("recall_multi"))
          .orderBy(col("q_id"))
      },
      Some(s"""$OracleQ,
             |bk AS (SELECT vec_id, qe, nrm, ${lshKeyD("qe")} AS bucket FROM n),
             |ex AS (SELECT q_id, vec_id FROM (
             |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
             |      ORDER BY ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) DESC, b.vec_id) AS rn
             |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) z WHERE rn <= 5),
             |ls AS (SELECT q_id, vec_id FROM (
             |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
             |      ORDER BY ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) DESC, b.vec_id) AS rn
             |  FROM bk a JOIN bk b ON a.vec_id < 5 AND a.bucket = b.bucket AND b.vec_id <> a.vec_id) z
             |  WHERE rn <= 5),
             |ms AS (SELECT q_id, vec_id FROM (
             |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
             |      ORDER BY ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) DESC, b.vec_id) AS rn
             |  FROM bk a JOIN bk b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
             |    AND bit_count(xor(a.bucket, b.bucket)) <= 1) z
             |  WHERE rn <= 5)
             |SELECT ex.q_id, COUNT(ls.vec_id) AS n_hits,
             |  floor(COUNT(ls.vec_id) / 5 * 1e6 + 0.5) / 1e6 AS recall,
             |  COUNT(ms.vec_id) AS n_hits_multi,
             |  floor(COUNT(ms.vec_id) / 5 * 1e6 + 0.5) / 1e6 AS recall_multi
             |FROM ex
             |LEFT JOIN ls ON ex.q_id = ls.q_id AND ex.vec_id = ls.vec_id
             |LEFT JOIN ms ON ex.q_id = ms.q_id AND ex.vec_id = ms.vec_id
             |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin)
    ),

    // ----- kNN majority-vote classification via LSH buckets -----------------
    // Label propagation: every vector is classified by the majority label of
    // its 7 nearest same-bucket neighbors; output is the (true, predicted)
    // confusion matrix. The candidate set is the LSH bucket equi-join (never
    // all-pairs), votes are one map-side-combined count, and the argmax is a
    // per-vector window over at most #labels rows — each stage scales
    // linearly in matched pairs. Ties break deterministically: cosine ties
    // by vec_id, vote ties by smallest label.
    "sim_knn_classify" -> QuerySpec(
      (s, d) => {
        val p = resolvePlanes(s, d)
        val bk = Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), col("label"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .withColumn("bucket", expr(s"hyperplane_key(qe, $p)"))
        // top-7 neighbors via the bounded mergeable aggregate, NOT a
        // row_number window: the candidate set is quadratic in bucket
        // occupancy, and a window would shuffle-sort all of it — the
        // aggregator's partial phase cuts each map task to 7 rows per
        // vector before the exchange (same ORDER BY c DESC, nb_id ties)
        val votes = bk.as("x")
          .join(bk.as("y"),
            col("x.bucket") === col("y.bucket") && col("y.vec_id") =!= col("x.vec_id"))
          .select(col("x.vec_id").as("v"), col("x.label").as("true_label"),
            col("y.vec_id").as("nb_id"), col("y.label").as("nl"),
            expr("long_dot(x.qe, y.qe) / (sqrt(x.nrm) * sqrt(y.nrm))").as("c"))
          .groupBy(col("v"), col("true_label"))
          .agg(expr("top7_by_score(c, nb_id, nl)").as("nbrs"))
          .select(col("v"), col("true_label"), explode(col("nbrs")).as("nb"))
          .groupBy(col("v"), col("true_label"), col("nb._3").as("nl"))
          .agg(count(lit(1)).as("nv"))
        val wp = Window.partitionBy(col("v")).orderBy(col("nv").desc, col("nl"))
        votes
          .withColumn("pn", row_number().over(wp))
          .filter(col("pn") === 1)
          .groupBy(col("true_label").as("label"), col("nl").as("predicted"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("label"), col("predicted"))
      },
      Some(s"""$OracleQ,
             |bk AS (SELECT vec_id, label, qe, nrm, ${lshKeyD("qe")} AS bucket FROM n),
             |pr AS (SELECT x.vec_id AS v, x.label AS true_label, y.label AS nl,
             |    ROW_NUMBER() OVER (PARTITION BY x.vec_id
             |      ORDER BY ${dotD("x.qe", "y.qe")} / (sqrt(x.nrm) * sqrt(y.nrm)) DESC, y.vec_id) AS rn
             |  FROM bk x JOIN bk y ON x.bucket = y.bucket AND y.vec_id <> x.vec_id),
             |votes AS (SELECT v, true_label, nl, COUNT(*) AS nv FROM pr WHERE rn <= 7
             |  GROUP BY 1, 2, 3),
             |pred AS (SELECT v, true_label, nl AS predicted FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY v ORDER BY nv DESC, nl) AS pn
             |  FROM votes) z WHERE pn = 1)
             |SELECT true_label AS label, predicted, COUNT(*) AS n FROM pred
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    // ----- IVF: per-label centroids, nearest-cell assignment, 2-cell probe --
    "sim_ivf_topk" -> QuerySpec(
      (s, d) => {
        // persist: three consumers (centroid build, cell assignment, query
        // probes) each re-run the parquet scan + 64-lane quantization
        // otherwise — the dominant cost of the whole query
        val n = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), col("label"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        // centroid per label: per-dimension mean via posexplode + groupBy —
        // partial aggregation does the heavy lifting map-side and no row ever
        // holds more than one (label, dim) sum, so a hot label can't OOM an
        // executor the way a collect_list of every vector would. Same
        // round(sum/cnt) arithmetic as the oracle, so hashes are unchanged.
        // persist: the plan references cent twice (probe + assignment
        // cross-joins) and its lineage is a full pass over the vectors —
        // the cached table itself is only #labels rows
        val cent = n
          .select(col("label"), posexplode(col("qe")).as(Seq("j", "v")))
          .groupBy(col("label").as("c_id"), col("j"))
          .agg(expr("cast(round(sum(v) / count(1)) as bigint)").as("cj"))
          .groupBy(col("c_id"))
          .agg(transform(array_sort(collect_list(struct(col("j"), col("cj")))),
            x => x.getField("cj")).as("ce"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.CacheTracker.track(cent)
        // assign every vector to its nearest centroid (exact integer L2^2).
        // argmin as min(struct(dist, c_id)) under groupBy rather than a
        // per-vector window: partial aggregation combines map-side, so the
        // vectors x centroids table is reduced before its shuffle instead
        // of being shuffle-sorted whole; ties break on c_id exactly like
        // the oracle's ORDER BY dist, c_id. qe/nrm are constant per vec_id,
        // so first() is deterministic.
        val l2 = "long_l2(%s, %s)"
        val assigned = n.crossJoin(broadcast(cent))
          .withColumn("dist", expr(l2.format("qe", "ce")))
          .groupBy(col("vec_id"))
          .agg(first(col("qe")).as("qe"), first(col("nrm")).as("nrm"),
            min(struct(col("dist"), col("c_id"))).as("m"))
          .select(col("vec_id"), col("qe"), col("nrm"), col("m.c_id").as("cell"))
        // queries probe their 2 nearest cells
        val wp = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("c_id"))
        val probes = n.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"), col("nrm").as("na"))
          .crossJoin(broadcast(cent))
          .withColumn("dist", expr(l2.format("qa", "ce")))
          .withColumn("prn", row_number().over(wp))
          .filter(col("prn") <= 2)
          .select(col("q_id"), col("qa"), col("na"), col("c_id").as("cell"))
        val wr = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
        broadcast(probes)
          .join(assigned, Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn", row_number().over(wr))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"), col("cell"),
            expr("floor(c * 1e6 + 0.5) / 1e6").as("cosine"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
      },
      Some(s"""$OracleQ,
             |cent AS (SELECT label AS c_id,
             |    list_transform($LaneSeries, j -> CAST(round(
             |      CAST(list_sum(list_transform(list(qe), v -> v[j])) AS BIGINT) / COUNT(*)) AS BIGINT)) AS ce
             |  FROM q GROUP BY label),
             |ad AS (SELECT n.vec_id, n.qe, n.nrm, c.c_id,
             |    CAST(list_sum(list_transform($LaneSeries,
             |      j -> (n.qe[j] - c.ce[j]) * (n.qe[j] - c.ce[j]))) AS BIGINT) AS dist
             |  FROM n CROSS JOIN cent c),
             |assigned AS (SELECT vec_id, qe, nrm, c_id AS cell FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS arn FROM ad) z
             |  WHERE arn = 1),
             |pd AS (SELECT n.vec_id AS q_id, n.qe AS qa, n.nrm AS na, c.c_id,
             |    CAST(list_sum(list_transform($LaneSeries,
             |      j -> (n.qe[j] - c.ce[j]) * (n.qe[j] - c.ce[j]))) AS BIGINT) AS dist
             |  FROM n CROSS JOIN cent c WHERE n.vec_id < 5),
             |probes AS (SELECT q_id, qa, na, c_id AS cell FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, c_id) AS prn FROM pd) z
             |  WHERE prn <= 2),
             |res AS (SELECT p.q_id, a.vec_id, a.cell,
             |    ${dotD("p.qa", "a.qe")} / (sqrt(p.na) * sqrt(a.nrm)) AS c
             |  FROM probes p JOIN assigned a ON p.cell = a.cell AND a.vec_id <> p.q_id),
             |r AS (SELECT q_id, vec_id, cell, c,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn FROM res)
             |SELECT q_id, vec_id, cell, floor(c * 1e6 + 0.5) / 1e6 AS cosine, rn FROM r
             |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)
    ),

    // ----- IVF quality measurement: recall@5 vs exact at nProbe 1/2/4 -------
    // The recall contract sim_lsh_recall states for the LSH family, stated
    // for IVF: of the exact top-5 neighbors, what fraction survives when the
    // query probes only its 1 / 2 / 4 nearest cells? One candidate pass
    // carries the probe rank (prn), so the three nProbe tiers are windows
    // over prn-filtered slices of the SAME join output — the corpus is
    // scanned, assigned, and joined once, not three times. Ground truth is
    // exact all-pairs over the probe queries — an EVAL query (O(Q*N) with
    // Q=5 broadcast queries; sample-sized in production like the other
    // recall evals). The nProbe lever this documents: recall climbs with
    // probed cells while scan cost stays ~nProbe/nCells of the corpus.
    "sim_ivf_recall" -> QuerySpec(
      (s, d) => {
        val n = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), col("label"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val cent = n
          .select(col("label"), posexplode(col("qe")).as(Seq("j", "v")))
          .groupBy(col("label").as("c_id"), col("j"))
          .agg(expr("cast(round(sum(v) / count(1)) as bigint)").as("cj"))
          .groupBy(col("c_id"))
          .agg(transform(array_sort(collect_list(struct(col("j"), col("cj")))),
            x => x.getField("cj")).as("ce"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.CacheTracker.track(cent)
        val l2 = "long_l2(%s, %s)"
        val assigned = n.crossJoin(broadcast(cent))
          .withColumn("dist", expr(l2.format("qe", "ce")))
          .groupBy(col("vec_id"))
          .agg(first(col("qe")).as("qe"), first(col("nrm")).as("nrm"),
            min(struct(col("dist"), col("c_id"))).as("m"))
          .select(col("vec_id"), col("qe"), col("nrm"), col("m.c_id").as("cell"))
        val wp = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("c_id"))
        val probes = n.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"), col("nrm").as("na"))
          .crossJoin(broadcast(cent))
          .withColumn("dist", expr(l2.format("qa", "ce")))
          .withColumn("prn", row_number().over(wp))
          .filter(col("prn") <= 4)
          .select(col("q_id"), col("qa"), col("na"), col("prn"), col("c_id").as("cell"))
        // one candidate pass, reused by all three nProbe tiers
        val cand = graft.CacheTracker.track(broadcast(probes)
          .join(assigned, Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .select(col("q_id"), col("vec_id"), col("prn"), col("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val wr = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
        val tops = Seq(1, 2, 4).map { np =>
          cand.filter(col("prn") <= np)
            .withColumn("rn", row_number().over(wr))
            .filter(col("rn") <= 5)
            .select(col("q_id"), col("vec_id"), lit(np).as("n_probe"))
        }.reduce(_ unionByName _)
        val we = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
        val exact = broadcast(n.filter(col("vec_id") < 5)
            .select(col("vec_id").as("q_id"), col("qe").as("qa"), col("nrm").as("na")))
          .join(n.select(col("vec_id"), col("qe"), col("nrm")),
            col("vec_id") =!= col("q_id"))
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn", row_number().over(we))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"))
          .withColumn("n_probe", explode(expr("array(1, 2, 4)")))
        exact.join(tops.withColumn("hit", lit(1)), Seq("q_id", "vec_id", "n_probe"), "left")
          .groupBy(col("q_id"), col("n_probe"))
          .agg(count(col("hit")).as("n_hits"))
          .withColumn("recall", expr("floor(n_hits / 5 * 1e6 + 0.5) / 1e6"))
          .orderBy(col("q_id"), col("n_probe"))
      },
      Some(s"""$OracleQ,
             |cent AS (SELECT label AS c_id,
             |    list_transform($LaneSeries, j -> CAST(round(
             |      CAST(list_sum(list_transform(list(qe), v -> v[j])) AS BIGINT) / COUNT(*)) AS BIGINT)) AS ce
             |  FROM q GROUP BY label),
             |ad AS (SELECT n.vec_id, n.qe, n.nrm, c.c_id,
             |    CAST(list_sum(list_transform($LaneSeries,
             |      j -> (n.qe[j] - c.ce[j]) * (n.qe[j] - c.ce[j]))) AS BIGINT) AS dist
             |  FROM n CROSS JOIN cent c),
             |assigned AS (SELECT vec_id, qe, nrm, c_id AS cell FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS arn FROM ad) z
             |  WHERE arn = 1),
             |pd AS (SELECT n.vec_id AS q_id, n.qe AS qa, n.nrm AS na, c.c_id,
             |    CAST(list_sum(list_transform($LaneSeries,
             |      j -> (n.qe[j] - c.ce[j]) * (n.qe[j] - c.ce[j]))) AS BIGINT) AS dist
             |  FROM n CROSS JOIN cent c WHERE n.vec_id < 5),
             |probes AS (SELECT q_id, qa, na, prn, c_id AS cell FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, c_id) AS prn FROM pd) z
             |  WHERE prn <= 4),
             |cand AS (SELECT p.q_id, a.vec_id, p.prn,
             |    ${dotD("p.qa", "a.qe")} / (sqrt(p.na) * sqrt(a.nrm)) AS c
             |  FROM probes p JOIN assigned a ON p.cell = a.cell AND a.vec_id <> p.q_id),
             |nps AS (SELECT unnest([1, 2, 4]) AS n_probe),
             |topc AS (SELECT q_id, vec_id, n_probe FROM (
             |  SELECT cd.q_id, cd.vec_id, np.n_probe,
             |    ROW_NUMBER() OVER (PARTITION BY cd.q_id, np.n_probe
             |      ORDER BY cd.c DESC, cd.vec_id) AS rn
             |  FROM cand cd JOIN nps np ON cd.prn <= np.n_probe) z WHERE rn <= 5),
             |ex AS (SELECT q_id, vec_id FROM (
             |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
             |      ORDER BY ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) DESC, b.vec_id) AS rn
             |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) z WHERE rn <= 5),
             |exn AS (SELECT e.q_id, e.vec_id, np.n_probe FROM ex e CROSS JOIN nps np)
             |SELECT exn.q_id, exn.n_probe, COUNT(t.vec_id) AS n_hits,
             |  floor(COUNT(t.vec_id) / 5 * 1e6 + 0.5) / 1e6 AS recall
             |FROM exn LEFT JOIN topc t ON exn.q_id = t.q_id
             |  AND exn.vec_id = t.vec_id AND exn.n_probe = t.n_probe
             |GROUP BY exn.q_id, exn.n_probe ORDER BY exn.q_id, exn.n_probe""".stripMargin)
    ),

    // ----- incremental IVF: probe a built-once, appended-since index --------
    // The maintenance path a persistent ANN deployment actually runs: train
    // the coarse centroids ONCE on the initial corpus (here the
    // vec_id % 10 != 0 slice; deterministic Lloyd, 16 cells x 2 rounds),
    // then fold each arriving embedding batch (the % 10 == 0 slice) in by
    // assigning it to its nearest FROZEN centroid and appending into that
    // cell's partition — the stored corpus is never re-shuffled, re-trained,
    // or rewritten. Probes hit the combined store through the same
    // file-level partition pruning as a from-scratch index. The oracle
    // replays both unrolled Lloyd rounds over the initial slice and then
    // assigns ALL vectors to the final centroids — exactly what
    // build(old) + append(new) persists — so this row hash-checks the whole
    // persistent-index lifecycle (train, write, append, probe), not just
    // the probe shape. The index build lands once per corpus fingerprint
    // (tmp-dir cache); Bench therefore times the amortized probe, with the
    // one-off build landing in the warmup pass.
    "sim_ivf_incremental" -> QuerySpec(
      (s, d) => {
        val idx = graft.operators.StoreRoot.ensure(
            s, d, graft.operators.IvfIndex.Kind, "mod10") { stage =>
          graft.operators.IvfIndex.build(
            emb(s, d).filter(col("vec_id") % 10 =!= 0), stage, nCells = 16, iters = 2)
          graft.operators.IvfIndex.append(
            emb(s, d).filter(col("vec_id") % 10 === 0), stage)
        }
        graft.operators.IvfIndex
          .probe(s, idx, emb(s, d).filter(col("vec_id") < 5), k = 5, nProbe = 2)
          .orderBy(col("q_id"), col("rn"))
      },
      Some(s"""$OracleQ,
             |old AS (SELECT vec_id, qe FROM n WHERE vec_id % 10 <> 0),
             |c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, qe AS ce
             |  FROM (SELECT vec_id, qe FROM old ORDER BY vec_id LIMIT 16) z),
             |${lloydRoundD(1, "c0", "c1")},
             |${lloydRoundD(2, "c1", "c2")},
             |ad AS (SELECT n.vec_id, n.qe, n.nrm, c.cell, ${l2D("n.qe", "c.ce")} AS dist
             |  FROM n CROSS JOIN c2 c),
             |assigned AS (SELECT vec_id, qe, nrm, cell FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS arn FROM ad) z
             |  WHERE arn = 1),
             |pd AS (SELECT n.vec_id AS q_id, n.qe AS qa, n.nrm AS na, c.cell,
             |    ${l2D("n.qe", "c.ce")} AS dist
             |  FROM n CROSS JOIN c2 c WHERE n.vec_id < 5),
             |probes AS (SELECT q_id, qa, na, cell FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, cell) AS prn FROM pd) z
             |  WHERE prn <= 2),
             |res AS (SELECT p.q_id, a.vec_id, a.cell,
             |    ${dotD("p.qa", "a.qe")} / (sqrt(p.na) * sqrt(a.nrm)) AS c
             |  FROM probes p JOIN assigned a ON p.cell = a.cell AND a.vec_id <> p.q_id),
             |r AS (SELECT q_id, vec_id, cell, c,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn FROM res)
             |SELECT q_id, vec_id, cell, floor(c * 1e6 + 0.5) / 1e6 AS cosine, rn FROM r
             |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)
    ),

    // ----- product quantization: compressed-domain ANN ----------------------
    // THE 100 TB ANN memory lever: vectors encode to PqM codebook codes
    // (~64x fewer bytes than the float vectors), and search scans CODES,
    // scoring each vector with PqM additive lookups into a per-query table
    // built once against the full-precision query (asymmetric distance
    // computation). Codebooks train on the deterministic vec_id % 4 = 0
    // quarter — a sample, as at scale — via two joint Lloyd rounds over all
    // subspaces at once (one assignment + one mean pass per round,
    // subspace id carried as a key). The oracle replays the whole
    // lifecycle: slicing, both training rounds, corpus encoding, LUTs, and
    // the ranked approximate dots — every quantity an exact integer, so
    // this row hash-checks PQ end-to-end, not just the scan shape. Output
    // ranks by approximate dot product (the compressed-domain score);
    // sim_pq_recall quantifies what that approximation costs.
    "sim_pq_topk" -> QuerySpec(
      (s, d) => {
        // train-once / probe-many: codebooks + corpus codes come from the
        // persistent PqIndex (built on first use per corpus) — the timed
        // query is the deployment-shape ADC probe, not codebook training.
        // Store artifacts are bit-identical to the in-query pipeline
        // (shared pqTrainCodebooks/pqAssign), so the oracle is unchanged.
        val idx = graft.operators.StoreRoot.ensure(s, d, graft.operators.PqIndex.Kind, "flat")(
          graft.operators.PqIndex.build(emb(s, d), _))
        val queries = Tables.spread(emb(s, d), "vec_id")
          .filter(col("vec_id") < 5)
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
        val w = Window.partitionBy(col("q_id")).orderBy(col("adot").desc, col("vec_id"))
        graft.operators.PqIndex.adcScores(s, idx, queries)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"), col("adot").as("approx_dot"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
      },
      Some(s"""$OracleQ,
             |${pqCteD(5)}
             |SELECT q_id, vec_id, adot AS approx_dot, rn FROM pqr
             |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)
    ),

    // ----- PQ quality: recall@5, pure-ADC and shortlist+rerank --------------
    // The recall contract for the PQ family, same two-tier shape as
    // sim_lsh_recall: of the exact top-5 neighbors, what fraction does (a)
    // the pure compressed-domain top-5 keep, and (b) the PRODUCTION design —
    // ADC shortlist of 50, then exact rerank of just those 50 full vectors —
    // keep? (a) is the floor a 16-bit code buys; (b) is the standard
    // two-stage deployment, where the corpus scan still reads only codes
    // and exact math touches 50 vectors per query. Ground truth is exact
    // all-pairs over the 5 probe queries — an EVAL query, sample-sized in
    // production. Levers documented: PqK/PqM buy floor recall with bytes;
    // the shortlist depth buys rerank recall with 50 full-vector reads.
    "sim_pq_recall" -> QuerySpec(
      (s, d) => {
        val idx = graft.operators.StoreRoot.ensure(s, d, graft.operators.PqIndex.Kind, "flat")(
          graft.operators.PqIndex.build(emb(s, d), _))
        val q20 = Tables.spread(emb(s, d), "vec_id")
          .filter(col("vec_id") < 20)
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
        // two consumers (direct top-5 + shortlist) over Q×N tiny rows
        val scores = graft.CacheTracker.track(
          graft.operators.PqIndex.adcScores(s, idx, q20)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val w = Window.partitionBy(col("q_id")).orderBy(col("adot").desc, col("vec_id"))
        val ranked = scores.withColumn("rn", row_number().over(w))
        val pq5 = ranked.filter(col("rn") <= 5).select(col("q_id"), col("vec_id"))
        val n = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val queries = broadcast(n.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"), col("nrm").as("na")))
        // exact rerank of the 50-deep ADC shortlist: 50 full-vector reads
        // per query, never a corpus pass
        val wr = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
        val rr5 = ranked.filter(col("rn") <= 50)
          .select(col("q_id"), col("vec_id"))
          .join(n.select(col("vec_id"), col("qe"), col("nrm")), "vec_id")
          .join(queries, "q_id")
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn2", row_number().over(wr))
          .filter(col("rn2") <= 5)
          .select(col("q_id"), col("vec_id"))
        val we = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
        val exact = queries
          .join(n.select(col("vec_id"), col("qe"), col("nrm")),
            col("vec_id") =!= col("q_id"))
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn", row_number().over(we))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"))
        exact
          .join(pq5.withColumn("hit", lit(1)), Seq("q_id", "vec_id"), "left")
          .join(rr5.withColumn("hit_rr", lit(1)), Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(col("hit")).as("n_hits"), count(col("hit_rr")).as("n_hits_rr"))
          .withColumn("recall", expr("floor(n_hits / 5 * 1e6 + 0.5) / 1e6"))
          .withColumn("recall_rr", expr("floor(n_hits_rr / 5 * 1e6 + 0.5) / 1e6"))
          .select(col("q_id"), col("n_hits"), col("recall"),
            col("n_hits_rr"), col("recall_rr"))
          .orderBy(col("q_id"))
      },
      Some(s"""$OracleQ,
             |${pqCteD(20)},
             |pq5 AS (SELECT q_id, vec_id FROM pqr WHERE rn <= 5),
             |sh50 AS (SELECT q_id, vec_id FROM pqr WHERE rn <= 50),
             |rr5 AS (SELECT q_id, vec_id FROM (
             |  SELECT s.q_id, s.vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY s.q_id
             |      ORDER BY ${dotD("qv.qe", "bv.qe")} / (sqrt(qv.nrm) * sqrt(bv.nrm)) DESC, s.vec_id) AS rn2
             |  FROM sh50 s JOIN n bv ON s.vec_id = bv.vec_id
             |  JOIN n qv ON s.q_id = qv.vec_id) z WHERE rn2 <= 5),
             |ex AS (SELECT q_id, vec_id FROM (
             |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
             |      ORDER BY ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) DESC, b.vec_id) AS rn
             |  FROM n a JOIN n b ON a.vec_id < 20 AND b.vec_id <> a.vec_id) z WHERE rn <= 5)
             |SELECT ex.q_id, CAST(COUNT(p.vec_id) AS BIGINT) AS n_hits,
             |  floor(COUNT(p.vec_id) / 5 * 1e6 + 0.5) / 1e6 AS recall,
             |  CAST(COUNT(r.vec_id) AS BIGINT) AS n_hits_rr,
             |  floor(COUNT(r.vec_id) / 5 * 1e6 + 0.5) / 1e6 AS recall_rr
             |FROM ex LEFT JOIN pq5 p ON ex.q_id = p.q_id AND ex.vec_id = p.vec_id
             |LEFT JOIN rr5 r ON ex.q_id = r.q_id AND ex.vec_id = r.vec_id
             |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin)
    ),

    // ----- IVF-PQ: coarse cells prune IO, codes shrink what's read ----------
    // THE composed large-scale ANN layout: the code store is partitioned by
    // the coarse (label-centroid) cell, so a probe partition-prunes to the
    // top-nProbe cells' files and then ADC-scores ONLY their codes — the
    // scan reads ~nProbe/nCells of the index and PqM small ints per
    // candidate instead of 64 floats. Both layers come from persistent
    // artifacts (PqIndex stores the codebooks, the codes, and the coarse
    // partition), so the timed query is pure probe: rank cells, prune,
    // lookup, top-k. The oracle replays coarse assignment + full PQ chain
    // and restricts scoring to probed cells — equal because scoring a
    // restricted candidate set equals restricting full scores to that set.
    "sim_ivfpq_topk" -> QuerySpec(
      (s, d) => ivfpqRanked(s, d, nq = 5)
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("vec_id"), col("cell"),
          col("adot").as("approx_dot"), col("rn"))
        .orderBy(col("q_id"), col("rn")),
      Some(s"""$OracleQ,
             |${ivfpqCteD(5)}
             |SELECT q_id, vec_id, cell, adot AS approx_dot, rn FROM ir
             |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)
    ),

    // ----- IVF-PQ recall@5: what the stacked approximation costs ------------
    // Two approximations stack here (cell pruning can miss true neighbors
    // in unprobed cells; ADC scores are quantized) — recall@5 vs the exact
    // global top-5 measures both at once, and the 50-deep exact rerank
    // (full-precision vectors for shortlist members only, never a corpus
    // pass) shows how much of the ADC loss a rerank recovers.
    "sim_ivfpq_recall" -> QuerySpec(
      (s, d) => {
        val ranked = graft.CacheTracker.track(ivfpqRanked(s, d, nq = 20)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val pq5 = ranked.filter(col("rn") <= 5).select(col("q_id"), col("vec_id"))
        val n = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val queries = broadcast(n.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"), col("nrm").as("na")))
        val wr = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
        val rr5 = ranked.filter(col("rn") <= 50)
          .select(col("q_id"), col("vec_id"))
          .join(n.select(col("vec_id"), col("qe"), col("nrm")), "vec_id")
          .join(queries, "q_id")
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn2", row_number().over(wr))
          .filter(col("rn2") <= 5)
          .select(col("q_id"), col("vec_id"))
        val we = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
        val exact = queries
          .join(n.select(col("vec_id"), col("qe"), col("nrm")),
            col("vec_id") =!= col("q_id"))
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn", row_number().over(we))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"))
        exact
          .join(pq5.withColumn("hit", lit(1)), Seq("q_id", "vec_id"), "left")
          .join(rr5.withColumn("hit_rr", lit(1)), Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(col("hit")).as("n_hits"), count(col("hit_rr")).as("n_hits_rr"))
          .withColumn("recall", expr("floor(n_hits / 5 * 1e6 + 0.5) / 1e6"))
          .withColumn("recall_rr", expr("floor(n_hits_rr / 5 * 1e6 + 0.5) / 1e6"))
          .select(col("q_id"), col("n_hits"), col("recall"),
            col("n_hits_rr"), col("recall_rr"))
          .orderBy(col("q_id"))
      },
      Some(s"""$OracleQ,
             |${ivfpqCteD(20)},
             |ipq5 AS (SELECT q_id, vec_id FROM ir WHERE rn <= 5),
             |ish50 AS (SELECT q_id, vec_id FROM ir WHERE rn <= 50),
             |irr5 AS (SELECT q_id, vec_id FROM (
             |  SELECT s.q_id, s.vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY s.q_id
             |      ORDER BY ${dotD("qv.qe", "bv.qe")} / (sqrt(qv.nrm) * sqrt(bv.nrm)) DESC, s.vec_id) AS rn2
             |  FROM ish50 s JOIN n bv ON s.vec_id = bv.vec_id
             |  JOIN n qv ON s.q_id = qv.vec_id) z WHERE rn2 <= 5),
             |ex AS (SELECT q_id, vec_id FROM (
             |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
             |      ORDER BY ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) DESC, b.vec_id) AS rn
             |  FROM n a JOIN n b ON a.vec_id < 20 AND b.vec_id <> a.vec_id) z WHERE rn <= 5)
             |SELECT ex.q_id, CAST(COUNT(p.vec_id) AS BIGINT) AS n_hits,
             |  floor(COUNT(p.vec_id) / 5 * 1e6 + 0.5) / 1e6 AS recall,
             |  CAST(COUNT(r.vec_id) AS BIGINT) AS n_hits_rr,
             |  floor(COUNT(r.vec_id) / 5 * 1e6 + 0.5) / 1e6 AS recall_rr
             |FROM ex LEFT JOIN ipq5 p ON ex.q_id = p.q_id AND ex.vec_id = p.vec_id
             |LEFT JOIN irr5 r ON ex.q_id = r.q_id AND ex.vec_id = r.vec_id
             |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin)
    ),

    // ----- residual IVF-PQ: the production ANN composition ------------------
    // Lloyd-trained coarse cells (no label stand-in) + PQ codebooks over
    // RESIDUALS (vector − cell centroid) + per-probed-cell L2-ADC. The
    // residual trick is why real IVF-PQ indexes (FAISS's IndexIVFPQ shape)
    // beat flat PQ at equal code budget: residual variance is a fraction
    // of raw variance, so each sub-codebook quantizes a tighter cloud.
    // Ranking ascends on approximate ‖q − v̂‖² — both the candidate set
    // (probed cells) and the score come from stored artifacts.
    "sim_ivfpq_residual_topk" -> QuerySpec(
      (s, d) => ivfpqResidualRanked(s, d, nq = 5)
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("vec_id"), col("cell"),
          col("adist").as("approx_l2"), col("rn"))
        .orderBy(col("q_id"), col("rn")),
      Some(s"""$OracleQ,
             |${ivfpqResidualCteD(5)}
             |SELECT q_id, vec_id, cell, adist AS approx_l2, rn FROM ir
             |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)
    ),

    // ----- residual IVF-PQ recall@5 vs exact-L2 ground truth ----------------
    // The metric matches the index (nearest-by-L2); recall measures cell
    // misses + quantization loss together, and the 50-deep exact rerank
    // (full vectors for shortlist members only) shows the recoverable part.
    "sim_ivfpq_residual_recall" -> QuerySpec(
      (s, d) => {
        val ranked = graft.CacheTracker.track(ivfpqResidualRanked(s, d, nq = 20)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val pq5 = ranked.filter(col("rn") <= 5).select(col("q_id"), col("vec_id"))
        val n = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val queries = broadcast(n.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("qe").as("qa")))
        val wr = Window.partitionBy(col("q_id")).orderBy(col("dist").asc, col("vec_id"))
        val rr5 = ranked.filter(col("rn") <= 50)
          .select(col("q_id"), col("vec_id"))
          .join(n, "vec_id")
          .join(queries, "q_id")
          .withColumn("dist", expr("long_l2(qa, qe)"))
          .withColumn("rn2", row_number().over(wr))
          .filter(col("rn2") <= 5)
          .select(col("q_id"), col("vec_id"))
        val we = Window.partitionBy(col("q_id")).orderBy(col("dist").asc, col("vec_id"))
        val exact = queries
          .join(n, col("vec_id") =!= col("q_id"))
          .withColumn("dist", expr("long_l2(qa, qe)"))
          .withColumn("rn", row_number().over(we))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"))
        exact
          .join(pq5.withColumn("hit", lit(1)), Seq("q_id", "vec_id"), "left")
          .join(rr5.withColumn("hit_rr", lit(1)), Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(col("hit")).as("n_hits"), count(col("hit_rr")).as("n_hits_rr"))
          .withColumn("recall", expr("floor(n_hits / 5 * 1e6 + 0.5) / 1e6"))
          .withColumn("recall_rr", expr("floor(n_hits_rr / 5 * 1e6 + 0.5) / 1e6"))
          .select(col("q_id"), col("n_hits"), col("recall"),
            col("n_hits_rr"), col("recall_rr"))
          .orderBy(col("q_id"))
      },
      Some(s"""$OracleQ,
             |${ivfpqResidualCteD(20)},
             |rpq5 AS (SELECT q_id, vec_id FROM ir WHERE rn <= 5),
             |rsh50 AS (SELECT q_id, vec_id FROM ir WHERE rn <= 50),
             |rrr5 AS (SELECT q_id, vec_id FROM (
             |  SELECT s.q_id, s.vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY s.q_id
             |      ORDER BY ${l2D("qv.qe", "bv.qe")} ASC, s.vec_id) AS rn2
             |  FROM rsh50 s JOIN n bv ON s.vec_id = bv.vec_id
             |  JOIN n qv ON s.q_id = qv.vec_id) z WHERE rn2 <= 5),
             |ex AS (SELECT q_id, vec_id FROM (
             |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
             |      ORDER BY ${l2D("a.qe", "b.qe")} ASC, b.vec_id) AS rn
             |  FROM n a JOIN n b ON a.vec_id < 20 AND b.vec_id <> a.vec_id) z WHERE rn <= 5)
             |SELECT ex.q_id, CAST(COUNT(p.vec_id) AS BIGINT) AS n_hits,
             |  floor(COUNT(p.vec_id) / 5 * 1e6 + 0.5) / 1e6 AS recall,
             |  CAST(COUNT(r.vec_id) AS BIGINT) AS n_hits_rr,
             |  floor(COUNT(r.vec_id) / 5 * 1e6 + 0.5) / 1e6 AS recall_rr
             |FROM ex LEFT JOIN rpq5 p ON ex.q_id = p.q_id AND ex.vec_id = p.vec_id
             |LEFT JOIN rrr5 r ON ex.q_id = r.q_id AND ex.vec_id = r.vec_id
             |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin)
    ),

    // ----- cluster quality: per-label centroid cohesion ---------------------
    // The evaluation every embedding-clustering pipeline runs: how tight is
    // each cluster around its centroid (mean / worst member-to-centroid
    // cosine). Centroids are per-dimension means built the scale-safe way —
    // posexplode + groupBy(label, dim), map-side combined, no row ever holds
    // a whole cell — then the tiny centroid table broadcasts back for one
    // narrow pass over the vectors. Cosines quantize to 1e6 integers before
    // the SUM, so the per-label average is an exact-integer sum with one
    // IEEE division — engine-order independent.
    "sim_cluster_stats" -> QuerySpec(
      (s, d) => {
        val n = Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), col("label"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
        val cent = n
          .select(col("label"), posexplode(col("qe")).as(Seq("j", "v")))
          .groupBy(col("label"), col("j"))
          .agg(expr("cast(round(sum(v) / count(1)) as bigint)").as("cj"))
          .groupBy(col("label"))
          .agg(transform(array_sort(collect_list(struct(col("j"), col("cj")))),
            x => x.getField("cj")).as("ce"))
          .withColumn("cn", expr("long_dot(ce, ce)"))
        n.join(broadcast(cent), Seq("label"))
          .withColumn("ci",
            expr("cast(floor(long_dot(qe, ce) / (sqrt(nrm) * sqrt(cn)) * 1e6 + 0.5) as bigint)"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            expr("floor(sum(ci) / count(1) + 0.5) / 1e6").as("avg_cos"),
            expr("min(ci) / 1e6").as("min_cos"))
          .orderBy(col("label"))
      },
      Some(s"""$OracleQ,
             |cent AS (SELECT label, list_transform($LaneSeries, j -> CAST(round(
             |      CAST(list_sum(list_transform(list(qe), v -> v[j])) AS BIGINT) / COUNT(*)) AS BIGINT)) AS ce
             |  FROM q GROUP BY label),
             |cn AS (SELECT label, ce, ${dotD("ce", "ce")} AS cn FROM cent),
             |ci AS (SELECT n.label,
             |    CAST(floor(${dotD("n.qe", "c.ce")} / (sqrt(n.nrm) * sqrt(c.cn)) * 1e6 + 0.5) AS BIGINT) AS ci
             |  FROM n JOIN cn c ON n.label = c.label)
             |SELECT label, COUNT(*) AS n_vecs,
             |  floor(SUM(ci) / COUNT(*) + 0.5) / 1e6 AS avg_cos,
             |  MIN(ci) / 1e6 AS min_cos
             |FROM ci GROUP BY label ORDER BY label""".stripMargin)
    ),

    // ----- hybrid retrieval: BM25 text rank x cosine vector rank, RRF -------
    // The production RAG retrieval stack in one query: for each query
    // document (ids 0-3, whose embedding is the matching `embeddings` row),
    // rank candidates by BM25 over tokens AND by cosine over vectors, then
    // fuse with Reciprocal Rank Fusion — points = 1e6 div (60 + rank),
    // summed across the two lists (Cormack et al.'s k=60; integer div, so
    // fusion is exact integer arithmetic with no cross-engine float risk).
    // RRF is the standard fusion precisely because scores from different
    // modalities aren't calibrated against each other — only ranks are.
    // Scale shape: each leg is the already-scaled primitive (BM25 =
    // broadcast query terms over the persisted inverted index; cosine =
    // broadcast query vectors, here brute-force as the oracle-checkable
    // baseline — the IVF/PQ store drops in for the corpus side at scale);
    // the fusion itself is a UNION + one aggregate keyed on (query, doc) —
    // cardinality <= 2 x topN x |queries|, trivially partitioned. Depth 50
    // per leg before fusing to top-10, the usual deep-pools-then-fuse.
    "hyb_rrf_search" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val qids = emb(s, d).filter(col("vec_id") < 4)
          .select(col("vec_id").as("qid"))
        // BM25 leg served from the persistent inverted index (built once
        // per corpus, shared with txt_bm25_indexed) — the retrieval-service
        // shape; the oracle recomputes from scratch, pinning store parity
        val idx = TextQueries.registryTextIndex(s, d)
        val text = graft.operators.TextIndex.search(s, idx, qids, 50)
          .select(col("qid"), col("doc_id"), col("rank"))
        val n = Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
        val qv = n.filter(col("vec_id") < 4)
          .select(col("vec_id").as("qid"), col("qe").as("qa"), col("nrm").as("na"))
        val vec = broadcast(qv)
          .join(n, col("vec_id") =!= col("qid"))
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("c").desc, col("vec_id"))))
          .filter(col("rank") <= 50)
          .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
        text.unionByName(vec)
          .select(col("qid"), col("doc_id"), expr("1000000 div (60 + rank)").as("pts"))
          .groupBy(col("qid"), col("doc_id"))
          .agg(count(lit(1)).as("n_lists"), sum(col("pts")).cast("bigint").as("rrf_micro"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("rrf_micro").desc, col("doc_id"))))
          .filter(col("rank") <= 10)
          .select(col("qid").as("query_id"), col("rank"), col("doc_id"),
            col("n_lists"), col("rrf_micro"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH ${TextQueries.bm25SqlCtes("SELECT vec_id AS qid FROM embeddings WHERE vec_id < 4")},
             |tq AS (SELECT qid, doc_id, rank FROM r WHERE rank <= 50),
             |qn AS (SELECT vec_id, ${quantizeD("embedding")} AS qe FROM embeddings),
             |nn AS (SELECT vec_id, qe, ${dotD("qe", "qe")} AS nrm FROM qn),
             |vp AS (SELECT a.vec_id AS qid, b.vec_id AS doc_id,
             |    ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) AS c
             |  FROM nn a JOIN nn b ON a.vec_id < 4 AND b.vec_id <> a.vec_id),
             |vq AS (SELECT qid, doc_id, rank FROM (SELECT qid, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, doc_id) AS rank
             |  FROM vp) z WHERE rank <= 50),
             |u AS (SELECT qid, doc_id, 1000000 // (60 + rank) AS pts FROM tq
             |  UNION ALL SELECT qid, doc_id, 1000000 // (60 + rank) AS pts FROM vq),
             |f AS (SELECT qid, doc_id, COUNT(*) AS n_lists,
             |    CAST(SUM(pts) AS BIGINT) AS rrf_micro FROM u GROUP BY 1, 2),
             |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             |    ORDER BY rrf_micro DESC, doc_id) AS rank FROM f)
             |SELECT qid AS query_id, rank, doc_id, n_lists, rrf_micro
             |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
    ),

    // ----- MMR diversified reranking over an ANN shortlist ------------------
    // Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98): rerank
    // each query's top-20 dot-product shortlist by greedily picking
    // argmax( λ·rel − (1−λ)·max_sim_to_already_picked ), λ = 0.7 — the
    // standard retrieval/RAG diversification that stops five near-copies
    // of one passage filling the context window (after near-dup removal,
    // the remaining redundancy is exactly what MMR trades against
    // relevance). Engine-exact: rel and pairwise sims are the exact
    // integer dots of the quantized vectors, the λ trade-off is the
    // integer 7·rel − 3·maxsim, argmax tie-breaks on vec_id; 5 unrolled
    // rounds in both engines (round 1 = pure relevance).
    //
    // Scale shape: the corpus appears ONLY in the shortlist pass
    // (broadcast-query scan + per-query top-20 group-limit, the
    // sim_cosine_topk plan). The shortlist itself is |Q| x 20 rows —
    // DRIVER-sized by construction — so the greedy rounds run as plain
    // integer arithmetic on the collected shortlist (the BPE-argmax
    // pattern; a distributed form of the 5 rounds spent ~12 s at sf0.1
    // re-evaluating round lineages over a 100-row frame).
    "sim_mmr_rerank" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        import s.implicits._
        val q = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .persist(MEMORY_AND_DISK))
        val queries = q.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("qe").as("qq"))
        val wTop = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("vec_id"))
        val cand = q.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), col("qe"),
            expr("long_dot(qq, qe)").as("rel"))
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 20).drop("rn")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray, r.getLong(3)))
        def dot(a: Array[Long], b: Array[Long]): Long = {
          var i = 0; var s = 0L
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
        val rows = cand.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qid, cs) =>
          val sl = cs.sortBy(c => (-c._4, c._2)) // rel desc, vec_id asc
          var sel = Vector(sl.head)
          (2 to 5).foreach { _ =>
            val rem = sl.filterNot(c => sel.exists(_._2 == c._2))
            val next = rem.minBy { c =>
              val msim = sel.map(p => dot(c._3, p._3)).max
              (-(7L * c._4 - 3L * msim), c._2) // mmr10 desc, vec_id asc
            }
            sel = sel :+ next
          }
          sel.zipWithIndex.map { case (c, i) => (qid, i + 1, c._2, c._4) }
        }
        rows.toDF("qid", "rank", "vec_id", "rel")
          .orderBy(col("qid"), col("rank"))
      },
      Some {
        val rounds = (2 to 5).map { r =>
          val prev = s"sel${r - 1}"
          s"""rem$r AS (SELECT c.* FROM cand c LEFT JOIN $prev x
             |  ON c.qid = x.qid AND c.vec_id = x.vec_id WHERE x.vec_id IS NULL),
             |ms$r AS (SELECT r.qid, r.vec_id, MAX(r.rel) AS rel,
             |    MAX(${dotD("r.qe", "s.qe")}) AS msim
             |  FROM rem$r r JOIN $prev s ON r.qid = s.qid
             |  GROUP BY r.qid, r.vec_id),
             |pk$r AS (SELECT qid, vec_id, rel FROM (SELECT *,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY 7 * rel - 3 * msim DESC, vec_id) AS rn FROM ms$r) z
             |  WHERE rn = 1),
             |sel$r AS (SELECT qid, vec_id, qe FROM $prev
             |  UNION ALL SELECT p.qid, p.vec_id, c.qe FROM pk$r p
             |  JOIN cand c ON p.qid = c.qid AND p.vec_id = c.vec_id)""".stripMargin
        }.mkString(",\n")
        val sels = (2 to 5).map { r =>
          s"UNION ALL SELECT qid, $r, vec_id, rel FROM pk$r"
        }.mkString("\n")
        s"""$OracleQ,
           |qs AS (SELECT vec_id AS qid, qe AS qq FROM n WHERE vec_id < 5),
           |cand AS (SELECT qid, vec_id, qe, rel FROM (
           |  SELECT q.qid, c.vec_id, c.qe, ${dotD("qq", "c.qe")} AS rel,
           |    ROW_NUMBER() OVER (PARTITION BY q.qid
           |      ORDER BY ${dotD("qq", "c.qe")} DESC, c.vec_id) AS rn
           |  FROM n c CROSS JOIN qs q WHERE c.vec_id <> q.qid) z
           |  WHERE rn <= 20),
           |sel1 AS (SELECT qid, vec_id, qe FROM (SELECT *,
           |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn
           |  FROM cand) z WHERE rn = 1),
           |pk1 AS (SELECT qid, vec_id, rel FROM (SELECT *,
           |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn
           |  FROM cand) z WHERE rn = 1),
           |$rounds
           |SELECT qid, CAST(1 AS INT) AS rank, vec_id, rel FROM pk1
           |$sels
           |ORDER BY qid, rank""".stripMargin
      }
    ),

    // ----- k-center coreset: greedy farthest-point diversity selection ------
    // The diversity-selection primitive for training-data curation (the
    // k-Center coreset of Sener & Savarese, ICLR'18 active learning, via
    // the classic Gonzalez'85 2-approximation): grow the selected set by
    // repeatedly taking the point FARTHEST from everything selected so
    // far. Dedup removes near-twins; this is the complementary lever —
    // pick the k embeddings that COVER the corpus (max-min distance), the
    // subset you label, eval on, or seed clusters with. Deterministic
    // engine-exact contract: seed = vec_id 0, distances are exact integer
    // L2² over the quantized lanes (native `long_l2`), argmax tie-breaks
    // on vec_id; output = the selection TRAJECTORY (rank, vec_id, the
    // max-min d² that step attained — the running covering-radius curve).
    //
    // Scale shape: k rounds, each exactly ONE scan of the persisted
    // incremental (vec_id, qe, dmin) frame — the new center joins in as a
    // broadcast literal, dmin folds via least() (the oracle's own CTE
    // recurrence), and the round's argmax doubles as the materialization
    // of the update, so total work is O(n·k) with the driver holding only
    // the k chosen ids (the BPE-argmax pattern); nothing is ever
    // all-pairs, and lineage cuts every KCenterCutEvery rounds keep plans
    // bounded at production coreset sizes (see [[kcenterTrajectory]]).
    "sim_kcenter_coreset" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        import s.implicits._
        val q = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .persist(MEMORY_AND_DISK))
        kcenterTrajectory(s, q, KCenterK)
          .toDF("rank", "vec_id", "d2_to_selected")
          .orderBy(col("rank"))
      },
      Some {
        val rounds = (2 to KCenterK).map { r =>
          val prevD = if (r == 2) s"d1" else s"d${r - 1}"
          val newC = s"c${r - 1}"
          val pick = s"pk$r"
          val dcur = s"d$r"
          // the (r-1)-th center: round 1's is vec 0; later ones come from
          // the previous round's argmax
          val centerDef =
            if (r == 2) s"$newC AS (SELECT qe AS ce FROM n WHERE vec_id = 0)"
            else s"$newC AS (SELECT n.qe AS ce FROM n JOIN pk${r - 1} p ON n.vec_id = p.vec_id)"
          val dminExpr =
            if (r == 2) SimilarityQueries.l2D("n.qe", "ce")
            else s"least(p.dmin, ${SimilarityQueries.l2D("n.qe", "ce")})"
          val dJoin =
            if (r == 2) s"FROM n CROSS JOIN $newC"
            else s"FROM n JOIN $prevD p ON n.vec_id = p.vec_id CROSS JOIN $newC"
          s"""$centerDef,
             |$dcur AS (SELECT n.vec_id, $dminExpr AS dmin $dJoin),
             |$pick AS (SELECT vec_id, dmin FROM $dcur ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin
        }.mkString(",\n")
        val selects = (2 to KCenterK).map { r =>
          s"UNION ALL SELECT $r, vec_id, dmin FROM pk$r"
        }.mkString("\n")
        s"""$OracleQ,
           |$rounds
           |SELECT CAST(1 AS INT) AS rank, CAST(0 AS BIGINT) AS vec_id,
           |  CAST(0 AS BIGINT) AS d2_to_selected
           |$selects
           |ORDER BY rank""".stripMargin
      }
    ),

    // ----- scalar-quantized ANN (SQ8): per-dimension 8-bit codes ------------
    // The FAISS-ScalarQuantizer shape — the third standard compression
    // lever next to IVF (routing) and PQ (subspace codebooks): per-LANE
    // uniform quantization to one byte. Train = per-lane (min, max) over
    // the corpus (the whole "codebook" is 2·dim integers, no clustering
    // pass at all), encode = affine map to [0, 255], search = asymmetric
    // reconstruction dot against the uncompressed query — 64 B/vector, the
    // always-applicable 4x-over-float32 baseline a pipeline reaches for
    // before PQ's training cost is justified.
    //
    // Engine-exact contract: everything is BIGINT. Reconstruction avoids
    // the half-step fraction by scaling 510 = 2·255:
    //   510·x̂_j = 510·mn_j + (2·c_j + 1)·(mx_j − mn_j)   (midpoint rule)
    // so ip510 = Σ_j q_j · 510·x̂_j is exact in both engines (|q_j| ≤ ~3e6
    // quantized, |510·x̂_j| ≤ ~3e9, 64-lane sum ≪ 2^63). The code map's
    // integer division has non-negative operands (x ≥ mn), so Spark's
    // truncating `div` and DuckDB's flooring `//` agree.
    //
    // Scale design: training is ONE map-side-combined per-lane min/max
    // aggregate (dim groups — 64 rows total); the stats broadcast
    // everywhere; encoding rides a single corpus scan; scoring is
    // broadcast-query × corpus scan with the per-query top-k group-limit —
    // the only shuffle anywhere is the |Q|-partition ranking window.
    "sim_sq8_topk" -> QuerySpec(
      (s, d) => {
        // train-once / probe-many: per-lane stats + codes come from the
        // persistent SqIndex (built on first use per corpus) — the timed
        // query is the deployment-shape code-scan probe, not training.
        // Store arithmetic is bit-identical to the in-query pipeline, so
        // the oracle is unchanged.
        val idx = graft.operators.StoreRoot.ensure(s, d, graft.operators.SqIndex.Kind)(
          graft.operators.SqIndex.build(emb(s, d), _))
        val queries = Tables.spread(emb(s, d), "vec_id")
          .filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), expr(quantizeS("embedding")).as("qq"))
        val w = Window.partitionBy(col("q_id")).orderBy(col("ip510").desc, col("vec_id"))
        graft.operators.SqIndex.scores(s, idx, queries)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"), col("ip510"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
      },
      Some(s"""$OracleQ,
             |lanes AS (SELECT j, MIN(qe[j]) AS mn, MAX(qe[j]) AS mx
             |  FROM n, (SELECT unnest($LaneSeries) AS j) s GROUP BY j),
             |st AS (SELECT (SELECT list(mn ORDER BY j) FROM lanes) AS mnl,
             |               (SELECT list(mx ORDER BY j) FROM lanes) AS mxl),
             |codes AS (SELECT vec_id, mnl, mxl, list_transform($LaneSeries, j ->
             |    least(255, greatest(0, CASE WHEN mxl[j] = mnl[j] THEN 0
             |      ELSE ((qe[j] - mnl[j]) * 255) // (mxl[j] - mnl[j]) END))) AS code
             |  FROM n CROSS JOIN st),
             |qs AS (SELECT vec_id AS q_id, qe AS qq FROM n WHERE vec_id < 5),
             |sc AS (SELECT q.q_id, c.vec_id,
             |    CAST(list_sum(list_transform($LaneSeries, j ->
             |      qq[j] * (510 * mnl[j] + (2 * code[j] + 1) * (mxl[j] - mnl[j])))) AS BIGINT) AS ip510
             |  FROM codes c CROSS JOIN qs q WHERE c.vec_id <> q.q_id),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
             |    ORDER BY ip510 DESC, vec_id) AS rn FROM sc)
             |SELECT q_id, vec_id, ip510, rn FROM r WHERE rn <= 5
             |ORDER BY q_id, rn""".stripMargin)
    ),

    // ----- SQ8 quality: recall@5 vs the exact integer-dot ground truth ------
    // Same recall contract as sim_pq_recall's pure-compressed tier: of the
    // exact top-5 (by the full quantized integer dot), what fraction does
    // the 8-bit reconstruction keep? 20 probe queries — an EVAL query,
    // sample-sized in production. The answer positions SQ8 between raw
    // floats and PQ on the memory/recall curve: per-lane uniform codes
    // keep far more of the dot's mass than PqM subspace centroids, at 4x
    // the bytes of the 16-bit PQ code.
    "sim_sq8_recall" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val q = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .persist(MEMORY_AND_DISK))
        val lanes = q.select(posexplode(col("qe")).as(Seq("j", "v")))
          .groupBy(col("j")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        val stats = lanes.agg(
          expr("transform(array_sort(collect_list(struct(j, mn))), s -> s.mn)").as("mnl"),
          expr("transform(array_sort(collect_list(struct(j, mx))), s -> s.mx)").as("mxl"))
        val queries = q.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("qe").as("qq"))
        val scored = graft.CacheTracker.track(
          q.crossJoin(broadcast(stats)).crossJoin(broadcast(queries))
            .filter(col("vec_id") =!= col("q_id"))
            .select(col("q_id"), col("vec_id"),
              expr("long_dot(qq, qe)").as("xdot"),
              expr("cast(aggregate(transform(sequence(1, size(qe)), j -> " +
                "element_at(qq, j) * (510 * element_at(mnl, j) + " +
                "(2 * least(cast(255 as bigint), greatest(cast(0 as bigint), " +
                "if(element_at(mxl, j) = element_at(mnl, j), cast(0 as bigint), " +
                "((element_at(qe, j) - element_at(mnl, j)) * 255) div " +
                "(element_at(mxl, j) - element_at(mnl, j))))) + 1) * " +
                "(element_at(mxl, j) - element_at(mnl, j)))), " +
                "cast(0 as bigint), (a, x) -> a + x) as bigint)").as("ip510"))
            .persist(MEMORY_AND_DISK))
        val wx = Window.partitionBy(col("q_id")).orderBy(col("xdot").desc, col("vec_id"))
        val wa = Window.partitionBy(col("q_id")).orderBy(col("ip510").desc, col("vec_id"))
        val exact5 = scored.withColumn("rn", row_number().over(wx))
          .filter(col("rn") <= 5).select(col("q_id"), col("vec_id"))
        val sq5 = scored.withColumn("rn", row_number().over(wa))
          .filter(col("rn") <= 5).select(col("q_id"), col("vec_id"))
        exact5.join(sq5.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0L))).cast("bigint").as("n_hit"))
          .withColumn("recall_micro", expr("n_hit * 1000000 div n_true"))
          .orderBy(col("q_id"))
      },
      Some(s"""$OracleQ,
             |lanes AS (SELECT j, MIN(qe[j]) AS mn, MAX(qe[j]) AS mx
             |  FROM n, (SELECT unnest($LaneSeries) AS j) s GROUP BY j),
             |st AS (SELECT (SELECT list(mn ORDER BY j) FROM lanes) AS mnl,
             |               (SELECT list(mx ORDER BY j) FROM lanes) AS mxl),
             |qs AS (SELECT vec_id AS q_id, qe AS qq FROM n WHERE vec_id < 20),
             |sc AS (SELECT q.q_id, c.vec_id,
             |    ${dotD("qq", "c.qe")} AS xdot,
             |    CAST(list_sum(list_transform($LaneSeries, j ->
             |      qq[j] * (510 * mnl[j] + (2 * least(255, greatest(0,
             |        CASE WHEN mxl[j] = mnl[j] THEN 0
             |        ELSE ((c.qe[j] - mnl[j]) * 255) // (mxl[j] - mnl[j]) END)) + 1)
             |        * (mxl[j] - mnl[j])))) AS BIGINT) AS ip510
             |  FROM n c CROSS JOIN qs q CROSS JOIN st WHERE c.vec_id <> q.q_id),
             |ex AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY xdot DESC, vec_id) AS rn
             |  FROM sc) z WHERE rn <= 5),
             |ap AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ip510 DESC, vec_id) AS rn
             |  FROM sc) z WHERE rn <= 5)
             |SELECT ex.q_id, COUNT(*) AS n_true,
             |  CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             |  CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS recall_micro
             |FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id
             |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin)
    ),

    // ----- IVF-SQ8: cell-pruned probes at SQ8 fidelity ----------------------
    // The remaining cell on the ANN grid (see ivfsqRanked): Lloyd-trained
    // coarse cells route, SQ8 lane codes score — partition-pruned IO with
    // per-lane (not subspace-centroid) reconstruction, so the only
    // approximation ADDED over flat SQ8 is the cell miss.
    "sim_ivfsq_topk" -> QuerySpec(
      (s, d) => ivfsqRanked(s, d, nq = 5)
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("vec_id"), col("cell"),
          col("ip510"), col("rn"))
        .orderBy(col("q_id"), col("rn")),
      Some(s"""$OracleQ,
             |${ivfsqCteD(5)}
             |SELECT q_id, vec_id, cell, ip510, rn FROM ir
             |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)
    ),

    // ----- IVF-SQ8 recall@5 vs the exact cosine ground truth ----------------
    // The documented trade against the grid neighbors: flat SQ8 = 0.97
    // recall at full-scan cost, IVF-PQ = pruned IO at subspace-quantized
    // fidelity — IVF-SQ8's measured recall isolates the pure cell-miss
    // rate (its reconstruction is flat SQ8's), with the 50-deep exact
    // rerank showing the recoverable part.
    "sim_ivfsq_recall" -> QuerySpec(
      (s, d) => {
        val ranked = graft.CacheTracker.track(ivfsqRanked(s, d, nq = 20)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val sq5 = ranked.filter(col("rn") <= 5).select(col("q_id"), col("vec_id"))
        val n = graft.CacheTracker.track(Tables.spread(emb(s, d), "vec_id")
          .select(col("vec_id"), expr(quantizeS("embedding")).as("qe"))
          .withColumn("nrm", expr("long_dot(qe, qe)"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val queries = broadcast(n.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("qe").as("qa"), col("nrm").as("na")))
        val wr = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
        val rr5 = ranked.filter(col("rn") <= 50)
          .select(col("q_id"), col("vec_id"))
          .join(n.select(col("vec_id"), col("qe"), col("nrm")), "vec_id")
          .join(queries, "q_id")
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn2", row_number().over(wr))
          .filter(col("rn2") <= 5)
          .select(col("q_id"), col("vec_id"))
        val we = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
        val exact = queries
          .join(n.select(col("vec_id"), col("qe"), col("nrm")),
            col("vec_id") =!= col("q_id"))
          .withColumn("c", expr("long_dot(qa, qe) / (sqrt(na) * sqrt(nrm))"))
          .withColumn("rn", row_number().over(we))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"))
        exact
          .join(sq5.withColumn("hit", lit(1)), Seq("q_id", "vec_id"), "left")
          .join(rr5.withColumn("hit_rr", lit(1)), Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(col("hit")).as("n_hits"), count(col("hit_rr")).as("n_hits_rr"))
          .withColumn("recall", expr("floor(n_hits / 5 * 1e6 + 0.5) / 1e6"))
          .withColumn("recall_rr", expr("floor(n_hits_rr / 5 * 1e6 + 0.5) / 1e6"))
          .select(col("q_id"), col("n_hits"), col("recall"),
            col("n_hits_rr"), col("recall_rr"))
          .orderBy(col("q_id"))
      },
      Some(s"""$OracleQ,
             |${ivfsqCteD(20)},
             |isq5 AS (SELECT q_id, vec_id FROM ir WHERE rn <= 5),
             |ish50 AS (SELECT q_id, vec_id FROM ir WHERE rn <= 50),
             |irr5 AS (SELECT q_id, vec_id FROM (
             |  SELECT s.q_id, s.vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY s.q_id
             |      ORDER BY ${dotD("qv.qe", "bv.qe")} / (sqrt(qv.nrm) * sqrt(bv.nrm)) DESC, s.vec_id) AS rn2
             |  FROM ish50 s JOIN n bv ON s.vec_id = bv.vec_id
             |  JOIN n qv ON s.q_id = qv.vec_id) z WHERE rn2 <= 5),
             |ex AS (SELECT q_id, vec_id FROM (
             |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
             |      ORDER BY ${dotD("a.qe", "b.qe")} / (sqrt(a.nrm) * sqrt(b.nrm)) DESC, b.vec_id) AS rn
             |  FROM n a JOIN n b ON a.vec_id < 20 AND b.vec_id <> a.vec_id) z WHERE rn <= 5)
             |SELECT ex.q_id, CAST(COUNT(p.vec_id) AS BIGINT) AS n_hits,
             |  floor(COUNT(p.vec_id) / 5 * 1e6 + 0.5) / 1e6 AS recall,
             |  CAST(COUNT(r.vec_id) AS BIGINT) AS n_hits_rr,
             |  floor(COUNT(r.vec_id) / 5 * 1e6 + 0.5) / 1e6 AS recall_rr
             |FROM ex LEFT JOIN isq5 p ON ex.q_id = p.q_id AND ex.vec_id = p.vec_id
             |LEFT JOIN irr5 r ON ex.q_id = r.q_id AND ex.vec_id = r.vec_id
             |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin)
    )
  )
}
