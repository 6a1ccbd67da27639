package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native kernels for the dense-vector hot paths (LSH signatures,
  * candidate rescoring). Same motivation as [[Sketches]]: the
  * higher-order-function folds run interpreted with per-element
  * boxing, and the unrolled-expression alternative builds 64-term
  * Column trees that bloat analysis/codegen. One tight Java loop per
  * row replaces both.
  *
  * Bit-compatibility contracts (the DuckDB oracles replay these):
  *  - `vec_dot` associates LEFT WITHOUT a seed — t1 + t2 + … exactly
  *    like the unrolled `a[1]*b[1] + …` chain it replaces;
  *  - `hyperplane_sig` folds each sign-dot left FROM 0.0 — exactly
  *    like the `aggregate(zip_with(...), 0.0, _+_)` it replaces —
  *    with the same splitmix-derived ±1 sign matrix
  *    (`operators.Similarity.hyperplaneSigns`).
  */
object VectorKernels {

  private def requireDoubleArray(e: Expression, who: String) =
    if (e.dataType == ArrayType(DoubleType, true) || e.dataType == ArrayType(DoubleType, false))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$who needs array<double> arguments, got ${e.dataType}")

  private def requireLongArray(e: Expression, who: String) = e.dataType match {
    case ArrayType(LongType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$who needs array<bigint> arguments, got $other")
  }

  /** Inner product, left-associated without seed (matches the
    * unrolled expression chain bit for bit).
    */
  case class VecDotExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes() = {
      val l = requireDoubleArray(left, "vec_dot")
      if (l.isFailure) l else requireDoubleArray(right, "vec_dot")
    }
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData].toDoubleArray()
      val y = b.asInstanceOf[ArrayData].toDoubleArray()
      val n = math.min(x.length, y.length)
      if (n == 0) return 0.0
      var s = x(0) * y(0)
      var i = 1
      while (i < n) { s += x(i) * y(i); i += 1 }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Random-hyperplane LSH bucket id: bit j set iff the signed dot of
    * the vector with plane j (±1 components from the splitmix sign
    * stream) is ≥ 0. Signs are generated inline per (j, i) — a few
    * shifts/multiplies — so no sign matrix travels with the plan.
    */
  case class HyperplaneSigExpr(child: Expression, bits: Int, seed: Int, dim: Int = 64)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def checkInputDataTypes() = requireDoubleArray(child, "hyperplane_sig")
    private def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData].toDoubleArray()
      // planes have `dim` components, matching the declarative
      // hyperplaneSignature: a vector tail beyond dim contributes 0
      val n = math.min(v.length, dim)
      var bucket = 0L
      var j = 0
      while (j < bits) {
        var s = 0.0
        var i = 0
        while (i < n) {
          val sg = if (mix(seed.toLong << 40 | j.toLong << 20 | i.toLong) % 2 == 0) 1.0 else -1.0
          s += v(i) * sg
          i += 1
        }
        if (s >= 0) bucket |= (1L << j)
        j += 1
      }
      bucket
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Squared euclidean distance, folded left FROM 0.0 (matches a
    * `list_reduce(list_prepend(0.0, …))` oracle replay and the
    * imperative `s += d*d` kernels).
    */
  case class VecDist2Expr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes() = {
      val l = requireDoubleArray(left, "vec_dist2")
      if (l.isFailure) l else requireDoubleArray(right, "vec_dist2")
    }
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData].toDoubleArray()
      val y = b.asInstanceOf[ArrayData].toDoubleArray()
      val n = math.min(x.length, y.length)
      var s = 0.0
      var i = 0
      while (i < n) { val d = x(i) - y(i); s += d * d; i += 1 }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Count of positions where two array<long> values are equal —
    * the MinHash signature-agreement count (pure integer, so exactness
    * is trivial; replaces an interpreted aggregate(zip_with) fold
    * that dominated candidate-estimation time).
    */
  case class LongEqCountExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def checkInputDataTypes() = {
      val l = requireLongArray(left, "long_eq_count")
      if (l.isFailure) l else requireLongArray(right, "long_eq_count")
    }
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData].toLongArray()
      val y = b.asInstanceOf[ArrayData].toLongArray()
      val n = math.min(x.length, y.length)
      var c = 0
      var i = 0
      while (i < n) { if (x(i) == y(i)) c += 1; i += 1 }
      c
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** |A ∩ B| of two STRICTLY ASCENDING array<bigint> values by one
    * merge — the exact-verify count of the set-similarity join, taken
    * over per-document sorted gram-hash arrays
    * ([[graft.operators.Dedup.setSimPairs]]). Every adjacent pair of
    * both inputs is checked as the merge passes it (tails included): an
    * unsorted input, a duplicate or a null element FAILS loudly, since
    * the merge would silently undercount it. A null array gives null.
    */
  case class SortedIntersectCountExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def prettyName: String = "sorted_intersect_count"
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def checkInputDataTypes() = {
      val l = requireLongArray(left, prettyName)
      if (l.isFailure) l else requireLongArray(right, prettyName)
    }
    private def values(a: Any, side: String): Array[Long] = {
      val arr = a.asInstanceOf[ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        if (arr.isNullAt(i))
          throw new IllegalArgumentException(
            s"sorted_intersect_count: $side input has a null element at position $i")
        i += 1
      }
      arr.toLongArray()
    }
    // the index after i, once x(i) < x(i + 1) is checked
    private def step(x: Array[Long], i: Int, side: String): Int = {
      if (i + 1 < x.length && x(i + 1) <= x(i))
        throw new IllegalArgumentException(
          s"sorted_intersect_count: $side input is not strictly ascending at position " +
            s"${i + 1} (${x(i)} then ${x(i + 1)})")
      i + 1
    }
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = values(a, "left")
      val y = values(b, "right")
      var i = 0
      var j = 0
      var c = 0
      while (i < x.length && j < y.length) {
        if (x(i) < y(j)) i = step(x, i, "left")
        else if (x(i) > y(j)) j = step(y, j, "right")
        else { c += 1; i = step(x, i, "left"); j = step(y, j, "right") }
      }
      while (i < x.length) i = step(x, i, "left")
      while (j < y.length) j = step(y, j, "right")
      c
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  private def requireBinary(e: Expression, who: String) =
    if (e.dataType == org.apache.spark.sql.types.BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$who needs a binary argument, got ${e.dataType}")

  /** Spark `round(x, 0)` double semantics (RoundBase: BigDecimal of the
    * shortest decimal repr, HALF_UP) — shared by the SQ8 kernels so
    * their codes match both the Column-function path and DuckDB's
    * ROUND (half-away-from-zero; equal for the non-negative quantized
    * domain).
    */
  private def roundHalfUp(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  private def requireSameDim(a: Int, b: Int, who: String): Unit =
    if (a != b)
      throw new IllegalArgumentException(
        s"$who: dimension mismatch ($a vs $b) — quantizer params and vectors must share one dim")

  /** SQ8 scalar-quantizer pack (FAISS ScalarQuantizer QT_8bit shape):
    * per-dimension affine codes round((x_d − mn_d)/step_d) clamped to
    * [0, 255], emitted as one byte per dimension — an 8× compression
    * of a float64 embedding column (the stored-index form; the scan
    * ranks in the compressed domain via [[Sq8AdcExpr]]). step_d ≤ 0
    * (constant dimension) codes to 0. Arithmetic is plain IEEE in a
    * fixed order; the DuckDB oracles replay codes exactly. A vector
    * whose length disagrees with the trained params, or that carries a
    * NaN dimension, FAILS loudly — silent truncation would yield short
    * codes with silently wrong scores, and NaN diverges from DuckDB's
    * ROUND/LEAST/GREATEST propagation.
    */
  case class Sq8PackExpr(vec: Expression, mn: Expression, step: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.BinaryType
    override def first: Expression = vec
    override def second: Expression = mn
    override def third: Expression = step
    override def checkInputDataTypes() = {
      val a = requireDoubleArray(vec, "sq8_pack")
      if (a.isFailure) a
      else {
        val b = requireDoubleArray(mn, "sq8_pack")
        if (b.isFailure) b else requireDoubleArray(step, "sq8_pack")
      }
    }
    override def nullSafeEval(v0: Any, m0: Any, s0: Any): Any = {
      val v = v0.asInstanceOf[ArrayData].toDoubleArray()
      val m = m0.asInstanceOf[ArrayData].toDoubleArray()
      val s = s0.asInstanceOf[ArrayData].toDoubleArray()
      requireSameDim(v.length, m.length, "sq8_pack")
      requireSameDim(v.length, s.length, "sq8_pack")
      val n = v.length
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        if (v(i).isNaN)
          throw new IllegalArgumentException(s"sq8_pack: NaN at dimension $i")
        val code =
          if (s(i) > 0) {
            val r = roundHalfUp((v(i) - m(i)) / s(i))
            math.min(255.0, math.max(0.0, r))
          } else 0.0
        out(i) = code.toInt.toByte
        i += 1
      }
      out
    }
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
      copy(vec = a, mn = b, step = c)
  }

  /** SQ8 dequantize: mn_d + code_d·step_d per dimension (codes read as
    * unsigned bytes). Used once per stored row to precompute the
    * reconstructed norm; scans never rebuild the full vector.
    */
  case class Sq8DequantExpr(codes: Expression, mn: Expression, step: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, false)
    override def first: Expression = codes
    override def second: Expression = mn
    override def third: Expression = step
    override def checkInputDataTypes() = {
      val a = requireBinary(codes, "sq8_dequant")
      if (a.isFailure) a
      else {
        val b = requireDoubleArray(mn, "sq8_dequant")
        if (b.isFailure) b else requireDoubleArray(step, "sq8_dequant")
      }
    }
    override def nullSafeEval(c0: Any, m0: Any, s0: Any): Any = {
      val c = c0.asInstanceOf[Array[Byte]]
      val m = m0.asInstanceOf[ArrayData].toDoubleArray()
      val s = s0.asInstanceOf[ArrayData].toDoubleArray()
      requireSameDim(c.length, m.length, "sq8_dequant")
      requireSameDim(c.length, s.length, "sq8_dequant")
      val n = c.length
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = m(i) + (c(i) & 0xff).toDouble * s(i); i += 1 }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
      copy(codes = a, mn = b, step = c)
  }

  /** SQ8 asymmetric distance computation: Σ_d qw_d · code_d with the
    * query-side weights qw_d = qv_d·step_d precomputed once per query —
    * the compressed-domain inner-product term (full score = qmin +
    * this, where qmin = ⟨qv, mn⟩ is also per-query). Folds left from
    * 0.0 in dimension order, matching the oracle's
    * `list_reduce(list_prepend(0.0, …))` replay bit for bit.
    */
  case class Sq8AdcExpr(qw: Expression, codes: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes() = {
      val a = requireDoubleArray(qw, "sq8_adc")
      if (a.isFailure) a else requireBinary(codes, "sq8_adc")
    }
    override def left: Expression = qw
    override def right: Expression = codes
    override def nullSafeEval(a: Any, b: Any): Any = {
      val w = a.asInstanceOf[ArrayData].toDoubleArray()
      val c = b.asInstanceOf[Array[Byte]]
      requireSameDim(w.length, c.length, "sq8_adc")
      val n = w.length
      var s = 0.0
      var i = 0
      while (i < n) { s += w(i) * (c(i) & 0xff).toDouble; i += 1 }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(qw = l, codes = r)
  }

  /** Binary quantization (1 bit/dimension): bit d of the result is set
    * iff v_d > thr_d, for d < min(len, 64) — a 64-dim embedding
    * collapses to ONE long (64× compression; the candidate scan is
    * xor + bit_count, both codegen'd built-ins). Pure comparisons, so
    * the DuckDB oracle replays codes exactly; thresholds are the
    * per-dimension decimal-exact corpus means (partition-invariant, the
    * Lloyd-mean contract).
    */
  case class SignBits64Expr(vec: Expression, thr: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def left: Expression = vec
    override def right: Expression = thr
    override def checkInputDataTypes() = {
      val a = requireDoubleArray(vec, "sign_bits64")
      if (a.isFailure) a else requireDoubleArray(thr, "sign_bits64")
    }
    override def nullSafeEval(a: Any, b: Any): Any = {
      val v = a.asInstanceOf[ArrayData].toDoubleArray()
      val t = b.asInstanceOf[ArrayData].toDoubleArray()
      requireSameDim(v.length, t.length, "sign_bits64")
      val n = math.min(64, v.length)
      var code = 0L
      var d = 0
      while (d < n) { if (v(d) > t(d)) code |= (1L << d); d += 1 }
      code
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(vec = l, thr = r)
  }

  private def intArg(e: Expression, what: String): Int =
    if (e.foldable) e.eval() match {
      case v: Int => v
      case v: Long if v >= Int.MinValue && v <= Int.MaxValue => v.toInt
      case other => throw new IllegalArgumentException(s"$what must be an int constant, got $other")
    } else throw new IllegalArgumentException(s"$what must be a constant expression, got $e")

  /** Key-ordered pair sum: input array<struct<key long, v double>>,
    * output the doubles folded LEFT FROM 0.0 in ascending-key order —
    * the deterministic reduction for sums that must replay bit-exactly
    * in a FIXED order (the bigram-LM folds in
    * [[graft.operators.TextAnalysis]]; PageRank used it before moving
    * to order-insensitive integer-grain sums, which keep map-side
    * partial aggregation). Sorting and folding in one native pass
    * replaces a sort_array + interpreted `aggregate` HOF over the same
    * array. 0.0+x0 == x0 exactly, so the seeded fold equals the
    * unseeded chain; ties (equal keys) keep collect_list order, which
    * callers must make impossible (distinct keys per group).
    */
  case class OrderedPairSumExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(s: org.apache.spark.sql.types.StructType, _)
          if s.length == 2 && s(0).dataType == LongType && s(1).dataType == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ordered_pair_sum needs array<struct<bigint,double>>, got $other")
    }
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return 0.0
      val keys = new Array[Long](n)
      val vals = new Array[Double](n)
      var i = 0
      while (i < n) {
        val r = arr.getStruct(i, 2)
        keys(i) = r.getLong(0); vals(i) = r.getDouble(1); i += 1
      }
      val order = Array.range(0, n).sortBy(keys)
      var s = 0.0
      i = 0
      while (i < n) { s += vals(order(i)); i += 1 }
      s
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def reg(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    reg("vec_dot", es => VecDotExpr(es(0), es(1)))
    reg("hyperplane_sig",
      es => HyperplaneSigExpr(es(0), intArg(es(1), "bits"), intArg(es(2), "seed"),
        if (es.length > 3) intArg(es(3), "dim") else 64))
    reg("long_eq_count", es => LongEqCountExpr(es(0), es(1)))
    reg("sorted_intersect_count", es => SortedIntersectCountExpr(es(0), es(1)))
    reg("vec_dist2", es => VecDist2Expr(es(0), es(1)))
    reg("ordered_pair_sum", es => OrderedPairSumExpr(es(0)))
    reg("sq8_pack", es => Sq8PackExpr(es(0), es(1), es(2)))
    reg("sq8_dequant", es => Sq8DequantExpr(es(0), es(1), es(2)))
    reg("sq8_adc", es => Sq8AdcExpr(es(0), es(1)))
    reg("sign_bits64", es => SignBits64Expr(es(0), es(1)))
  }

  private def active: SparkSession = SparkSession.active

  def vecDot(a: Column, b: Column): Column = {
    register(active)
    call_function("vec_dot", a, b)
  }
  def longEqCount(a: Column, b: Column): Column = {
    register(active)
    call_function("long_eq_count", a, b)
  }
  def sortedIntersectCount(a: Column, b: Column): Column = {
    register(active)
    call_function("sorted_intersect_count", a, b)
  }
  def vecDist2(a: Column, b: Column): Column = {
    register(active)
    call_function("vec_dist2", a, b)
  }
  def orderedPairSum(pairs: Column): Column = {
    register(active)
    call_function("ordered_pair_sum", pairs)
  }
  def hyperplaneSig(v: Column, bits: Int, seed: Int, dim: Int = 64): Column = {
    register(active)
    call_function("hyperplane_sig", v, org.apache.spark.sql.functions.lit(bits),
      org.apache.spark.sql.functions.lit(seed), org.apache.spark.sql.functions.lit(dim))
  }
  def sq8Pack(v: Column, mn: Column, step: Column): Column = {
    register(active)
    call_function("sq8_pack", v, mn, step)
  }
  def sq8Dequant(codes: Column, mn: Column, step: Column): Column = {
    register(active)
    call_function("sq8_dequant", codes, mn, step)
  }
  def sq8Adc(qw: Column, codes: Column): Column = {
    register(active)
    call_function("sq8_adc", qw, codes)
  }
  def signBits64(v: Column, thr: Column): Column = {
    register(active)
    call_function("sign_bits64", v, thr)
  }
}
