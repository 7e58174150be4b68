package graft.functions

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable-sketch aggregators (`Aggregator[IN, BUF, OUT]` — the typed
  * UDAF surface). The sketch property is what matters at 100 TB: the
  * per-group state is a fixed-width signature whose union is associative
  * and commutative, so Spark's partial aggregation reduces each map task's
  * slice to one signature BEFORE the shuffle — group statistics over an
  * arbitrarily large corpus move #groups × K longs across the wire, never
  * corpus-sized data.
  */
object SketchAggregators {

  /** Element-wise-min union of K-lane MinHash signatures. The minimum of
    * each lane over a set union equals the min over the per-set minima, so
    * aggregating per-document signatures (e.g. [[MinHash16]]) with this
    * yields exactly the signature of the group's UNION of token sets —
    * lane-agreement between two group signatures then estimates their
    * vocabulary Jaccard.
    */
  object MinHashUnion extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.fill(TextFunctions.K)(Long.MaxValue)

    override def reduce(buf: Array[Long], sig: Seq[Long]): Array[Long] = {
      // A short signature would leave Long.MaxValue in the missing lanes and
      // silently inflate lane-agreement (estimated Jaccard); fail loudly
      // instead, matching the zorder2 out-of-range policy.
      require(sig.length == TextFunctions.K,
        s"minhash_union expects ${TextFunctions.K}-lane signatures, got ${sig.length}")
      var i = 0
      while (i < buf.length) {
        if (sig(i) < buf(i)) buf(i) = sig(i)
        i += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) {
        if (b(i) < a(i)) a(i) = b(i)
        i += 1
      }
      a
    }

    override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** Bounded top-k as a mergeable aggregate: per group, keep the k best
    * (score DESC, id ASC) (score, id, tag) triples. The buffer is k rows of
    * fixed width, so partial aggregation reduces each map task's slice to k
    * rows per group BEFORE the shuffle — a top-k over an arbitrarily large
    * candidate set moves #groups × k rows across the wire instead of
    * shuffle-sorting the whole set the way a row_number window must. Ties
    * break exactly like `ORDER BY score DESC, id` (deterministic for
    * distinct ids).
    */
  final class TopKByScore(k: Int)
      extends Aggregator[(Double, Long, Int), Seq[(Double, Long, Int)], Seq[(Double, Long, Int)]] {

    // better = wins the ORDER BY score DESC, id ASC contest. Double.compare
    // is the same total order Spark's sort uses (NaN greater than every
    // value, including +Inf), so a NaN score — e.g. a zero-norm vector's
    // cosine — ranks first here exactly as it would in the row_number
    // window this aggregate replaces, instead of being silently dropped.
    private def beats(a: (Double, Long, Int), b: (Double, Long, Int)): Boolean = {
      val c = java.lang.Double.compare(a._1, b._1)
      c > 0 || (c == 0 && a._2 < b._2)
    }

    override def zero: Seq[(Double, Long, Int)] = Vector.empty

    // buffer kept sorted best-first; insertion is O(k)
    override def reduce(buf: Seq[(Double, Long, Int)],
        x: (Double, Long, Int)): Seq[(Double, Long, Int)] = {
      if (buf.length >= k && !beats(x, buf.last)) buf
      else {
        val i = buf.indexWhere(b => beats(x, b)) match {
          case -1 => buf.length
          case j => j
        }
        (buf.take(i) :+ x) ++ buf.drop(i).take(k - i - 1)
      }
    }

    override def merge(a: Seq[(Double, Long, Int)],
        b: Seq[(Double, Long, Int)]): Seq[(Double, Long, Int)] =
      b.foldLeft(a)(reduce)

    override def finish(buf: Seq[(Double, Long, Int)]): Seq[(Double, Long, Int)] = buf

    override def bufferEncoder: Encoder[Seq[(Double, Long, Int)]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[(Double, Long, Int)]] = ExpressionEncoder()
  }

  /** [[TopKByScore]] with an exact BIGINT score — for rankings whose score
    * is a scaled integer (priority sampling's floor-division priorities):
    * a Double score silently loses exactness past 2^53, which a scaled
    * w·1e12 priority can exceed. Same bounded-buffer mergeable shape
    * (#groups × k rows cross the wire), ties break like
    * `ORDER BY score DESC, id ASC`.
    */
  final class TopKByLongScore(k: Int)
      extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {

    private def beats(a: (Long, Long), b: (Long, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

    override def zero: Seq[(Long, Long)] = Vector.empty

    override def reduce(buf: Seq[(Long, Long)], x: (Long, Long)): Seq[(Long, Long)] = {
      if (buf.length >= k && !beats(x, buf.last)) buf
      else {
        val i = buf.indexWhere(b => beats(x, b)) match {
          case -1 => buf.length
          case j => j
        }
        (buf.take(i) :+ x) ++ buf.drop(i).take(k - i - 1)
      }
    }

    override def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
      b.foldLeft(a)(reduce)

    override def finish(buf: Seq[(Long, Long)]): Seq[(Long, Long)] = buf

    override def bufferEncoder: Encoder[Seq[(Long, Long)]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[(Long, Long)]] = ExpressionEncoder()
  }

  /** Misra-Gries frequent-items summary with `capacity` counters. The
    * mergeable formulation (Agarwal et al., "Mergeable Summaries", PODS'12):
    * point updates run classic MG (hit += 1; miss inserts if a counter is
    * free, else decrements ALL counters); merging sums two summaries'
    * counters and, if more than `capacity` survive, subtracts the
    * (capacity+1)-th largest count from every counter and drops the
    * non-positive ones. Both preserve the MG invariant — every stored count
    * undercounts its item's true frequency by at most n/(capacity+1) — so
    * any item with true frequency > n/(capacity+1) is GUARANTEED present in
    * the final summary. That guarantee is what makes the two-pass exact
    * heavy-hitters query work: pass 1 reduces each map task to <= capacity
    * counters before the shuffle (the full vocabulary never shuffles),
    * pass 2 exact-counts only the candidate set.
    */
  final class MisraGries(capacity: Int)
      extends Aggregator[String, Map[String, Long], Seq[String]] {

    override def zero: Map[String, Long] = Map.empty

    override def reduce(buf: Map[String, Long], w: String): Map[String, Long] =
      buf.get(w) match {
        case Some(c) => buf.updated(w, c + 1L)
        case None if buf.size < capacity => buf.updated(w, 1L)
        case None =>
          // decrement-all: one shared "charge" against every counter
          buf.view.mapValues(_ - 1L).filter(_._2 > 0L).toMap
      }

    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = b.foldLeft(a) { case (m, (w, c)) =>
        m.updated(w, m.getOrElse(w, 0L) + c)
      }
      if (sum.size <= capacity) sum
      else {
        val cut = sum.valuesIterator.toArray
          .sorted(Ordering[Long].reverse).apply(capacity) // (capacity+1)-th largest
        sum.view.mapValues(_ - cut).filter(_._2 > 0L).toMap
      }
    }

    // candidates only — counts are MG lower bounds, not exact, and the
    // consuming query re-counts exactly; sorted for determinism
    override def finish(buf: Map[String, Long]): Seq[String] =
      buf.keysIterator.toSeq.sorted

    override def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder()
  }

  /** Register the sketch UDAFs on a session (`minhash_union(sig_array)`,
    * `top7_by_score(score, id, tag)`, `top11_by_long(score, id)`,
    * `top64_by_long(score, id)`, `mg63(item)`), skipping names the session
    * already resolves, so repeated calls change nothing.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def add(name: String, f: => org.apache.spark.sql.expressions.UserDefinedFunction): Unit =
      if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        spark.udf.register(name, f)
    add("minhash_union", org.apache.spark.sql.functions.udaf(MinHashUnion))
    add("top7_by_score", org.apache.spark.sql.functions.udaf(new TopKByScore(7)))
    add("top11_by_long", org.apache.spark.sql.functions.udaf(new TopKByLongScore(11)))
    // KMV sketch width (evt_kmv_overlap): top-64 by negated hash = the 64
    // smallest hash values, map-side-combined in bounded 64-entry buffers
    add("top64_by_long", org.apache.spark.sql.functions.udaf(new TopKByLongScore(64)))
    add("mg63", org.apache.spark.sql.functions.udaf(new MisraGries(63)))
  }
}
