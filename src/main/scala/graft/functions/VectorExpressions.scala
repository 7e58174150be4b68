package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expressions for the quantized-vector hot loops.
  *
  * The declarative form (`aggregate(zip_with(a, b, ...))`) is semantically
  * identical but runs as an interpreted higher-order function — measured
  * ~70us per 64-dim pair at bench scale, which dominates every O(n*m)
  * vector query. These expressions generate a tight primitive loop inside
  * whole-stage codegen (~ns per element), the preference order the engine
  * follows: built-in functions, then a native Expression with doGenCode,
  * then (never, here) a Scala UDF.
  *
  * Both are exact integer math over quantized BIGINT arrays, so results are
  * bit-identical to the HOF form and to the DuckDB oracle.
  */
abstract class LongArrayBinary extends BinaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<BIGINT> arguments")
  }

  /** Java source for one loop step: the value accumulated from x[i], y[i]. */
  protected def stepJava(a: String, b: String, i: String): String
  protected def stepEval(x: Long, y: Long): Long
  /** Java statement folding one step into `acc` (default: wrapping add). */
  protected def combineJava(acc: String, step: String): String = s"$acc += $step;"
  protected def combineEval(acc: Long, step: Long): Long = acc + step

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = combineEval(acc, stepEval(x.getLong(i), y.getLong(i)))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${combineJava(acc, stepJava(a, b, i))}
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Exact integer dot product of two BIGINT arrays. Overflow-checked
  * (`multiplyExact`/`addExact`, JIT intrinsics — same cost class as raw ops):
  * inputs under the engine's quantization contract can never overflow, and a
  * query outside it fails loudly like ANSI arithmetic instead of silently
  * wrapping — required for [[graft.plans.RewriteLongDot]] to be a sound
  * substitute for the ANSI-mode HOF form.
  */
case class LongArrayDot(left: Expression, right: Expression) extends LongArrayBinary {
  override protected def stepJava(a: String, b: String, i: String): String =
    s"java.lang.Math.multiplyExact($a.getLong($i), $b.getLong($i))"
  override protected def combineJava(acc: String, step: String): String =
    s"$acc = java.lang.Math.addExact($acc, $step);"
  override protected def stepEval(x: Long, y: Long): Long = Math.multiplyExact(x, y)
  override protected def combineEval(acc: Long, step: Long): Long = Math.addExact(acc, step)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "long_dot"
}

/** Exact integer squared-L2 distance of two BIGINT arrays. */
case class LongArrayL2(left: Expression, right: Expression) extends LongArrayBinary {
  override protected def stepJava(a: String, b: String, i: String): String =
    s"($a.getLong($i) - $b.getLong($i)) * ($a.getLong($i) - $b.getLong($i))"
  override protected def stepEval(x: Long, y: Long): Long = (x - y) * (x - y)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "long_l2"
}

/** 32-bit SimHash of a token-hash array: bit b is set when more than half
  * the (duplicate-weighted) tokens have bit b set. Semantically identical to
  * the HOF form in [[TextFunctions.simhashD]] (the DuckDB oracle), but a
  * native O(n*32) primitive loop instead of ~2.5k interpreted lambda
  * evaluations per document.
  */
case class LongArraySimHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType match { case ArrayType(LongType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<BIGINT> argument")

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = x.getLong(i)
      var b = 0
      while (b < 32) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (counts(b) * 2 - n > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |int[] $counts = new int[32];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 32; $b++) {
         |    if ((($h >> $b) & 1L) == 1L) $counts[$b]++;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 32; $b++) {
         |  if ($counts[$b] * 2 - $n > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Base for array<bigint> -> array<bigint> native signature loops. Besides
  * the interpreted-lambda overhead, HOF forms of these hit a Catalyst
  * pathology: project-collapsing inlines the upstream column's whole
  * expression tree into the lambda body, so e.g. the token-hash array is
  * recomputed once per shingle (hundreds of times per row — measured 74 s
  * vs 2 s at bench scale). A native expression references its child once,
  * at argument position.
  */
abstract class LongArrayToArray
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType match { case ArrayType(LongType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<BIGINT> argument")

  protected def compute(in: Array[Long]): Array[Long]

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(compute(x.toLongArray()))
  }
}

/** 3-gram shingle hashes of a token-hash array:
  * sh(i) = ((a(i)*1000003 + a(i+1)) % P * 1000003 + a(i+2)) % P with
  * P = 1e9+7 — identical to [[TextFunctions.shingleHashesD]] (the oracle).
  */
case class Shingle3Hash(child: Expression) extends LongArrayToArray {
  override def prettyName: String = "shingle3_hash"
  override protected def compute(a: Array[Long]): Array[Long] = {
    val p = TextFunctions.P
    val n = math.max(a.length - 2, 0)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = ((a(i) * 1000003L + a(i + 1)) % p * 1000003L + a(i + 2)) % p
      i += 1
    }
    out
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** K=16 MinHash signature over a shingle-hash array with permutations
  * h_i(x) = ((7919*i+1)*x + 104729*i + 12345) mod (2^31-1) — identical to
  * [[TextFunctions.minhashSigD]].
  */
case class MinHash16(child: Expression) extends LongArrayToArray {
  override def prettyName: String = "minhash16"
  override protected def compute(a: Array[Long]): Array[Long] = {
    val p = TextFunctions.MP
    val out = Array.fill(TextFunctions.K)(Long.MaxValue)
    var i = 0
    while (i < TextFunctions.K) {
      val mulA = 7919L * i + 1L
      val addB = 104729L * i + 12345L
      var j = 0
      var best = Long.MaxValue
      while (j < a.length) {
        val v = (mulA * a(j) + addB) % p
        if (v < best) best = v
        j += 1
      }
      out(i) = best
      i += 1
    }
    out
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Maximum multiplicity of any element in a BIGINT array (the top-token
  * count of a token-hash array) — one O(n) hash-count pass per row. The
  * declarative form is an explode + two aggregations: at corpus scale that
  * shuffles every token of every document twice to learn a per-document
  * scalar, where this computes it before the row ever leaves its scan
  * stage. Returns 0 for an empty array.
  */
case class LongArrayMaxCount(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "max_elem_count"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType match { case ArrayType(LongType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<BIGINT> argument")

  override protected def nullSafeEval(a: Any): Any = {
    // primitive sort + run scan: no per-element boxing (a hash count maps
    // every Long through autoboxing), O(n log n) on a scratch array
    val x = a.asInstanceOf[ArrayData].toLongArray()
    if (x.isEmpty) return 0L
    java.util.Arrays.sort(x)
    var best = 1L
    var run = 1L
    var i = 1
    while (i < x.length) {
      if (x(i) == x(i - 1)) { run += 1; if (run > best) best = run }
      else run = 1
      i += 1
    }
    best
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** N-plane random-hyperplane LSH bucket of a quantized vector, weights
  * w(i,j) = ((i*37 + j*101) % 19) - 9 (1-based j) — identical to
  * [[graft.analytics.SimilarityQueries]]'s oracle form.
  *
  * The plane count is THE scale lever of every LSH consumer: the key space
  * is 2^planes buckets, candidate generation is an equi-join on the key,
  * and candidate-pair mass is quadratic in bucket occupancy — so a corpus
  * 2^k times larger keeps constant occupancy (and linear pair mass) by
  * adding k planes. `planes` must be a foldable integer in 1..62, fixed at
  * plan time (it is a determinism contract with the oracle, never data).
  *
  * Input contract: the vector must have containsNull=false semantics (a
  * null lane reads as 0 rather than erroring — quantize() never produces
  * nulls) and at most ~21M lanes: the weight term (j+1)*101 is computed in
  * 32-bit int in both the interpreted and codegen paths, so it wraps —
  * consistently in both — beyond that, far above any real embedding dim.
  */
case class HyperplaneKey(child: Expression, planes: Expression) extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = planes
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_key"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val childOk = child.dataType match { case ArrayType(LongType, _) => true; case _ => false }
    val planesOk = planes.foldable && (planes.dataType match {
      case org.apache.spark.sql.types.IntegerType | LongType => true
      case _ => false
    })
    if (!childOk || !planesOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, foldable integer planes) arguments")
    else planes.eval() match {
      case null => // a foldable typed NULL passes the checks above
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName planes must not be null")
      case v =>
      val p = v.asInstanceOf[Number].longValue()
      if (p >= 1 && p <= 62)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName planes must be in 1..62, got $p")
    }
  }

  private lazy val nPlanes: Int = planes.eval().asInstanceOf[Number].intValue()

  override protected def nullSafeEval(a: Any, unused: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toLongArray()
    var key = 0L
    var i = 0
    while (i < nPlanes) {
      var s = 0L
      var j = 0
      while (j < x.length) {
        s += (((i * 37 + (j + 1) * 101) % 19) - 9) * x(j)
        j += 1
      }
      if (s > 0) key |= (1L << i)
      i += 1
    }
    key
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val len = ctx.freshName("len")
      val key = ctx.freshName("key")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      s"""
         |int $len = $a.numElements();
         |long $key = 0L;
         |for (int $i = 0; $i < $nPlanes; $i++) {
         |  long $s = 0L;
         |  for (int $j = 0; $j < $len; $j++) {
         |    $s += ((($i * 37 + ($j + 1) * 101) % 19) - 9) * $a.getLong($j);
         |  }
         |  if ($s > 0) $key |= (1L << $i);
         |}
         |${ev.value} = $key;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, planes = newRight)
}

/** 56-bit audio fingerprint of a character signal, one native pass.
  * Semantically identical to the declarative chain it replaces (and to the
  * DuckDB oracle of `mm_audio_pairs`): chars -> (codepoint - 96) samples,
  * 8 equal time windows at `(w*n) div 8` boundaries, per-window energies of
  * difference orders 0..7 (each scaled by the white-noise flattening
  * constant 360360 / C(2k, k)), and bit i of the hash set when
  * g[(i div 7)*8 + i%7] > g[.. + 1]. The HOF form exploded 8 window rows
  * each carrying the full signal array and chained 7 interpreted transform
  * columns — this is the [[LongArrayToArray]] collapse pathology plus
  * O(codepoint-seek) substring indexing; the native loop touches each
  * sample O(8) times in a primitive long buffer (measured ~5x on the
  * bench row). Char -> codepoint via String.codePointAt, equal to Spark's
  * `ascii(substring(s, i, 1))` for every code point (surrogate pairs
  * advance by two, exactly as substring's code-point indexing does).
  */
case class AudioFp56(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "audio_fp56"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument")

  private val flat = Array(360360L, 180180L, 60060L, 18018L, 5148L, 1430L, 390L, 105L)

  override protected def nullSafeEval(a: Any): Any = {
    val str = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    // code-point samples (ascii(substring(s, i, 1)) semantics)
    val n = str.codePointCount(0, str.length)
    val sig = new Array[Long](n)
    var ci = 0
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(ci)
      sig(i) = cp.toLong - 96L
      ci += Character.charCount(cp)
      i += 1
    }
    val g = new Array[Long](64)
    val buf = new Array[Long](n / 8 + 2)
    var w = 0
    while (w < 8) {
      val start = ((w.toLong * n) / 8).toInt
      var len = (((w + 1).toLong * n) / 8).toInt - start
      var j = 0
      while (j < len) { buf(j) = sig(start + j); j += 1 }
      var k = 0
      while (k < 8) {
        var e = 0L
        var x = 0
        while (x < len) { e += buf(x) * buf(x); x += 1 }
        g(w * 8 + k) = e * flat(k)
        if (len > 1) {
          var y = 0
          while (y < len - 1) { buf(y) = buf(y + 1) - buf(y); y += 1 }
          len -= 1
        } else { buf(0) = 0L; len = 1 }
        k += 1
      }
      w += 1
    }
    var out = 0L
    var b = 0
    while (b < 56) {
      val idx = (b / 7) * 8 + (b % 7)
      if (g(idx) > g(idx + 1)) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** Install every native function of [[graft.GraftExtensions.functions]]
    * on the session, skipping names it already resolves (a previous
    * install, or a session built with the extension), so repeated calls
    * change nothing. `SparkEntry.registry` calls it once per query; the
    * streaming, curation and store entry points call it themselves.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    graft.GraftExtensions.functions.foreach { case (name, arity, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name,
          graft.GraftExtensions.builder(name, arity, build), "built-in")
    }
  }
}
