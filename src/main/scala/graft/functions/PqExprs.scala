package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native product-quantization kernels ([[graft.ext.Pq]]): the encode
  * argmin and the quantization-error sum as ONE compiled pass per row
  * instead of m×ks Catalyst higher-order-function lambdas (HOFs are
  * interpreted per element and excluded from whole-stage codegen —
  * encode was the last multi-second map pass in every index build).
  *
  * BIT-IDENTICAL to the HOF forms they replace (PqExprsSpec pins this
  * against the original expressions, and the oracle gate re-proves it
  * end-to-end):
  *  - per (subspace j, codeword c) the distance is the same ascending-i
  *    left fold  (((0 + d0²) + d1²) + …)  in double;
  *  - encode rounds each distance with Spark's own Round(…, 9) double
  *    semantics (NaN/∞ pass through, else
  *    java.math.BigDecimal.valueOf(d).setScale(9, HALF_UP)) and ties
  *    break to the LOWEST codeword id — rounding is monotone, so the
  *    argmin is located on raw distances and only candidates matching
  *    the minimum's rounded value are re-rounded (≈2 roundings per
  *    subspace instead of ks);
  *  - null/short vectors reproduce the HOF null algebra: a null vector
  *    encodes to a null code array; a subspace containing a null (or
  *    missing) element distances every codeword to NULL, and the
  *    struct-min of all-null distances is codeword 0. quant_err
  *    propagates any null to a NULL total.
  */
object PqExprs {

  /** m × ks × dsub codebook literal decoded once per expression. */
  private[functions] def decodeCodebooks(cb: Any): Array[Array[Array[Double]]] =
    cb.asInstanceOf[ArrayData].toObjectArray(ArrayType(ArrayType(DoubleType)))
      .map(_.asInstanceOf[ArrayData]
        .toObjectArray(ArrayType(DoubleType))
        .map(_.asInstanceOf[ArrayData].toDoubleArray()))

  @inline private def elem(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** Spark's Round(double, 9) HALF_UP semantics, verbatim. */
  @inline def round9(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The m per-subspace nearest-codeword ids of `v` (null handling per
    * the scaladoc). Shared by interpreted eval and generated Java. */
  def encode(v: ArrayData, cbs: Array[Array[Array[Double]]],
      isFloat: Boolean): ArrayData = {
    val m = cbs.length
    val n = v.numElements()
    val codes = new Array[Int](m)
    val ks = if (m == 0) 0 else cbs(0).length
    val ds = new Array[Double](ks)
    var j = 0
    while (j < m) {
      val cb = cbs(j)
      val dsub = if (cb.isEmpty) 0 else cb(0).length
      val off = j * dsub
      // a null/missing element anywhere in the subspace slice NULLs
      // every codeword's distance; the struct-min of all-null
      // distances is codeword 0 (the HOF algebra)
      var nullSlice = false
      var i = 0
      while (i < dsub && !nullSlice) {
        if (off + i >= n || v.isNullAt(off + i)) nullSlice = true
        i += 1
      }
      if (nullSlice) codes(j) = 0
      else {
        // raw distances, ascending-i left fold per codeword
        var c = 0
        var bestRaw = Double.NaN
        var bestIdx = 0
        while (c < cb.length) {
          val row = cb(c)
          var s = 0.0
          var i2 = 0
          while (i2 < dsub) {
            val d = elem(v, off + i2, isFloat) - row(i2)
            s += d * d
            i2 += 1
          }
          ds(c) = s
          // strict raw minimum, first (lowest c) wins ties; NaN is
          // the LARGEST value in Spark's double ordering
          if (c == 0 || java.lang.Double.compare(s, bestRaw) < 0) {
            bestRaw = s
            bestIdx = c
          }
          c += 1
        }
        // rounding is monotone, so min(round(d)) == round(min(d));
        // the winner is the LOWEST c whose rounded distance equals it
        val rMin = round9(bestRaw)
        var win = bestIdx
        var c2 = 0
        while (c2 < bestIdx) {
          if (win == bestIdx &&
              java.lang.Double.compare(round9(ds(c2)), rMin) == 0)
            win = c2
          c2 += 1
        }
        codes(j) = win
      }
      j += 1
    }
    new GenericArrayData(codes)
  }

  /** Σ_j ‖v_j − cb_j[code_j]‖² — ascending-i fold per subspace,
    * ascending-j left-fold sum; any null element/code → null (boxed
    * Double so generated code can carry the null). */
  def quantErr(v: ArrayData, cd: ArrayData,
      cbs: Array[Array[Array[Double]]],
      isFloat: Boolean): java.lang.Double = {
    val m = cbs.length
    val n = v.numElements()
    // the ANSI element_at contract of the HOF reference: an absent or
    // out-of-range code is corrupt data and THROWS; a null code
    // element propagates to a null total
    if (cd.numElements() < m) throw new IllegalArgumentException(
      s"pq_quant_err: ${cd.numElements()} codes for $m subspaces")
    var total = 0.0
    var j = 0
    while (j < m) {
      if (cd.isNullAt(j)) return null
      val cb = cbs(j)
      val dsub = if (cb.isEmpty) 0 else cb(0).length
      val off = j * dsub
      val code = cd.getInt(j)
      if (code < 0 || code >= cb.length)
        throw new IllegalArgumentException(
          s"pq_quant_err: code $code outside codebook of ${cb.length}")
      val row = cb(code)
      var s = 0.0
      var i = 0
      while (i < dsub) {
        if (off + i >= n || v.isNullAt(off + i)) return null
        val d = elem(v, off + i, isFloat) - row(i)
        s += d * d
        i += 1
      }
      total += s
      j += 1
    }
    total
  }

  private[functions] def vecElemType(dt: DataType): Option[DataType] =
    dt match {
      case ArrayType(FloatType, _) => Some(FloatType)
      case ArrayType(DoubleType, _) => Some(DoubleType)
      case _ => None
    }

  private[functions] def cbOk(e: Expression): Boolean = e.foldable &&
    (e.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
      case _ => false
    })
}

/** `pq_encode(vec, codebooksLiteral)` → array<int> of m codes. */
case class PqEncode(vec: Expression, cb: Expression)
    extends BinaryExpression {
  override def left: Expression = vec
  override def right: Expression = cb
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (PqExprs.vecElemType(vec.dataType).isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"pq_encode expects array<float|double>, got ${vec.dataType.catalogString}")
    else if (!PqExprs.cbOk(cb))
      TypeCheckResult.TypeCheckFailure(
        "pq_encode expects a foldable array<array<array<double>>> codebook")
    else TypeCheckResult.TypeCheckSuccess

  private def vecIsFloat: Boolean =
    PqExprs.vecElemType(vec.dataType).contains(FloatType)

  @transient private lazy val codebooks: Array[Array[Array[Double]]] =
    PqExprs.decodeCodebooks(cb.eval(null))

  override def nullSafeEval(v: Any, cbv: Any): Any =
    PqExprs.encode(v.asInstanceOf[ArrayData], codebooks, vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks,
      "double[][][]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.functions.PqExprs$$.MODULE$$.encode($v, $cbRef, $vecIsFloat);")
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): PqEncode = copy(vec = l, cb = r)
}

/** `pq_quant_err(vec, codes, codebooksLiteral)` → double (nullable). */
case class PqQuantErr(vec: Expression, cd: Expression, cb: Expression)
    extends TernaryExpression {
  override def first: Expression = vec
  override def second: Expression = cd
  override def third: Expression = cb
  override def prettyName: String = "pq_quant_err"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (PqExprs.vecElemType(vec.dataType).isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"pq_quant_err expects array<float|double>, got ${vec.dataType.catalogString}")
    else if (!(cd.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }))
      TypeCheckResult.TypeCheckFailure(
        s"pq_quant_err expects array<int> codes, got ${cd.dataType.catalogString}")
    else if (!PqExprs.cbOk(cb))
      TypeCheckResult.TypeCheckFailure(
        "pq_quant_err expects a foldable array<array<array<double>>> codebook")
    else TypeCheckResult.TypeCheckSuccess

  private def vecIsFloat: Boolean =
    PqExprs.vecElemType(vec.dataType).contains(FloatType)

  @transient private lazy val codebooks: Array[Array[Array[Double]]] =
    PqExprs.decodeCodebooks(cb.eval(null))

  // a null helper result (null code / null element) becomes a null
  // output — nullSafeEval may return null, and the generated body may
  // set ev.isNull (the ElementAt pattern)
  override def nullSafeEval(v: Any, c: Any, cbv: Any): Any =
    PqExprs.quantErr(v.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], codebooks, vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks,
      "double[][][]")
    val boxed = ctx.freshName("boxedErr")
    nullSafeCodeGen(ctx, ev, (v, c, _) => s"""
      java.lang.Double $boxed = graft.functions.PqExprs$$.MODULE$$.quantErr(
        $v, $c, $cbRef, $vecIsFloat);
      if ($boxed == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $boxed.doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): PqQuantErr =
    copy(vec = f, cd = s, cb = t)
}
