package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The IVF-PQ hot loops as static helpers, called from the generated code
  * of the expressions below (the [[IntersectUtil]] pattern).
  *
  * Numeric contract: every distance is the declarative form's SEQUENTIAL
  * left fold from 0.0 (`aggregate(zip_with(a, b, (x-y)*(x-y)), 0.0, _+_)`,
  * `aggregate(codes, 0.0, acc + ptab[...])`, the [[DotProductF64]] dot),
  * and every argmin keeps the declarative tie rule with doubles ordered by
  * `SQLOrderingUtil.compareDoubles` (NaN above everything, -0.0 = 0.0):
  * first minimum code; highest cosine, then lowest `cent_id` (the
  * centroid array is sorted by `cent_id`), null cosines last. So results
  * are bit-identical to the declarative forms, which the spec keeps as
  * the reference (IvfPqKernelSpec).
  *
  * The PQ kernels fail loud where the declarative forms silently returned
  * code 0: a vector whose dimension differs from the codebooks'
  * (`zip_with` padded the shorter side with nulls and null sorted first),
  * a null vector and a null element. */
object IvfPqUtil {

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Checks one vector against the PQ geometry and returns the sub-vector
    * width. */
  private def subWidth(what: String, v: ArrayData, cb: ArrayData, nSub: Int,
                       nCodes: Int): Int = {
    if (cb == null || nSub < 1 || nCodes < 1 || cb.numElements() != nSub * nCodes)
      fail(s"$what: codebooks must hold n_sub * n_codes entries, got " +
        s"${if (cb == null) "null" else cb.numElements()} for n_sub=$nSub, n_codes=$nCodes")
    if (v == null) fail(s"$what: null vector")
    val entry = cb.getArray(0)
    if (entry == null) fail(s"$what: null codebook entry 0")
    val ds = entry.numElements()
    val dim = v.numElements()
    if (dim != nSub * ds)
      fail(s"$what: vector has $dim dims but the codebooks encode ${nSub * ds} " +
        s"($nSub sub-spaces of $ds)")
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) fail(s"$what: vector element $i is null"); i += 1 }
    ds
  }

  /** Squared L2 between `v[off, off + ds)` and codebook entry `k`. */
  private def l2sq(what: String, v: ArrayData, off: Int, cb: ArrayData, k: Int,
                   ds: Int): Double = {
    val e = cb.getArray(k)
    if (e == null || e.numElements() != ds)
      fail(s"$what: codebook entry $k has ${if (e == null) "no" else e.numElements()} dims, " +
        s"entry 0 has $ds")
    var acc = 0.0
    var j = 0
    while (j < ds) {
      if (e.isNullAt(j)) fail(s"$what: codebook entry $k element $j is null")
      val d = v.getDouble(off + j) - e.getDouble(j)
      acc += d * d
      j += 1
    }
    acc
  }

  /** Per sub-space, the code of the nearest codebook entry (first minimum). */
  def encode(v: ArrayData, cb: ArrayData, nSub: Int, nCodes: Int): ArrayData = {
    val ds = subWidth("pq_encode", v, cb, nSub, nCodes)
    val codes = new Array[Int](nSub)
    var s = 0
    while (s < nSub) {
      var best = 0
      var bestD = 0.0
      var c = 0
      while (c < nCodes) {
        val d = l2sq("pq_encode", v, s * ds, cb, s * nCodes + c, ds)
        if (c == 0 || SQLOrderingUtil.compareDoubles(d, bestD) < 0) { best = c; bestD = d }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** Every (sub, code) squared distance, sub-major (the layout of `cb`):
    * a probe's ADC lookup table. */
  def distTable(v: ArrayData, cb: ArrayData, nSub: Int, nCodes: Int): ArrayData = {
    val ds = subWidth("pq_dist_table", v, cb, nSub, nCodes)
    val tab = new Array[Double](nSub * nCodes)
    var k = 0
    while (k < tab.length) {
      tab(k) = l2sq("pq_dist_table", v, (k / nCodes) * ds, cb, k, ds)
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(tab)
  }

  /** ADC: the sequential lookup-sum of a code array into a probe table. */
  def adc(codes: ArrayData, ptab: ArrayData, nCodes: Int): Double = {
    val n = codes.numElements()
    if (nCodes < 1 || n * nCodes != ptab.numElements())
      fail(s"adc_dist: $n codes do not address a probe table of ${ptab.numElements()} " +
        s"entries with n_codes=$nCodes")
    var acc = 0.0
    var s = 0
    while (s < n) {
      if (codes.isNullAt(s)) fail(s"adc_dist: code $s is null")
      val c = codes.getInt(s)
      if (c < 0 || c >= nCodes) fail(s"adc_dist: code $c at sub-space $s is outside [0, $nCodes)")
      acc += ptab.getDouble(s * nCodes + c)
      s += 1
    }
    acc
  }

  /** Index of the max-cosine centroid in `cents`, an array of
    * (cent_id, cent_e, cent_nrm) structs sorted by cent_id; -1 when empty.
    * Cosine is `dot(v, cent_e) / (nrm * cent_nrm)` with Spark's Divide
    * semantics: null if either side is null, a zero divisor raises
    * DIVIDE_BY_ZERO under ANSI and is null otherwise. A null cosine ranks
    * last, so a null vector takes the lowest cent_id. */
  def nearest(v: ArrayData, nrmNull: Boolean, nrm: Double, cents: ArrayData,
              failOnError: Boolean): Int = {
    val k = cents.numElements()
    var best = -1
    var bestNull = true
    var bestCos = 0.0
    var j = 0
    while (j < k) {
      val cent = cents.getStruct(j, 3)
      var isNull = true
      var cos = 0.0
      if (!nrmNull && !cent.isNullAt(2)) {
        // Divide's generated code tests the divisor before the dividend
        val div = nrm * cent.getDouble(2)
        if (div == 0) {
          if (failOnError) throw ColumnBridge.divideByZero()
        } else if (v != null && !cent.isNullAt(1)) {
          val e = cent.getArray(1)
          val n = math.min(v.numElements(), e.numElements())
          var dot = 0.0
          var i = 0
          while (i < n) { dot += v.getDouble(i) * e.getDouble(i); i += 1 }
          cos = dot / div
          isNull = false
        }
      }
      if (best < 0 || (!isNull && (bestNull || SQLOrderingUtil.compareDoubles(cos, bestCos) > 0))) {
        best = j; bestNull = isNull; bestCos = cos
      }
      j += 1
    }
    best
  }
}

/** The two PQ kernels over (vec, cb, n_sub, n_codes): one helper call
  * each, never null — a null or mis-sized input fails the query. */
abstract class PqKernel extends QuaternaryExpression {
  def vec: Expression
  def cb: Expression
  def nSub: Expression
  def nCodes: Expression
  /** The [[IvfPqUtil]] helper this kernel calls. */
  protected def helper: String
  protected def run(v: ArrayData, cb: ArrayData, nSub: Int, nCodes: Int): ArrayData

  override def first: Expression = vec
  override def second: Expression = cb
  override def third: Expression = nSub
  override def fourth: Expression = nCodes
  override def nullable: Boolean = false

  private def intOr(v: Any): Int = if (v == null) -1 else v.asInstanceOf[Int]

  override def eval(input: InternalRow): Any =
    run(vec.eval(input).asInstanceOf[ArrayData], cb.eval(input).asInstanceOf[ArrayData],
      intOr(nSub.eval(input)), intOr(nCodes.eval(input)))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (a, b, s, k) = (vec.genCode(ctx), cb.genCode(ctx), nSub.genCode(ctx), nCodes.genCode(ctx))
    ev.copy(code = code"""
      |${a.code}
      |${b.code}
      |${s.code}
      |${k.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.plans.IvfPqUtil.$helper(
      |  ${a.isNull} ? null : ${a.value}, ${b.isNull} ? null : ${b.value},
      |  ${s.isNull} ? -1 : ${s.value}, ${k.isNull} ? -1 : ${k.value});
      """.stripMargin, isNull = FalseLiteral)
  }
}

/** `pq_encode(vec, cb, n_sub, n_codes)`: array<int> of `n_sub` codes. */
case class PqEncode(vec: Expression, cb: Expression, nSub: Expression, nCodes: Expression)
    extends PqKernel {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def helper: String = "encode"
  override protected def run(v: ArrayData, c: ArrayData, s: Int, k: Int): ArrayData =
    IvfPqUtil.encode(v, c, s, k)
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression,
                                                 d: Expression): Expression =
    copy(vec = a, cb = b, nSub = c, nCodes = d)
}

/** `pq_dist_table(vec, cb, n_sub, n_codes)`: array<double> of every
  * (sub, code) squared distance, sub-major — the probe side of ADC. */
case class PqDistTable(vec: Expression, cb: Expression, nSub: Expression, nCodes: Expression)
    extends PqKernel {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_dist_table"
  override protected def helper: String = "distTable"
  override protected def run(v: ArrayData, c: ArrayData, s: Int, k: Int): ArrayData =
    IvfPqUtil.distTable(v, c, s, k)
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression,
                                                 d: Expression): Expression =
    copy(vec = a, cb = b, nSub = c, nCodes = d)
}

/** `adc_dist(codes, ptab, n_codes)`: a corpus row's approximate squared
  * distance to a probe. Null in, null out. */
case class AdcDist(codes: Expression, ptab: Expression, nCodes: Expression)
    extends TernaryExpression {

  override def first: Expression = codes
  override def second: Expression = ptab
  override def third: Expression = nCodes
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_dist"

  override def nullSafeEval(c: Any, t: Any, n: Any): Any =
    IvfPqUtil.adc(c.asInstanceOf[ArrayData], t.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t, n) =>
      s"${ev.value} = graft.plans.IvfPqUtil.adc($c, $t, $n);")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
                                                 c: Expression): Expression =
    copy(codes = a, ptab = b, nCodes = c)
}

/** `nearest_centroid(vec, nrm, cents)`: the int index of `vec`'s
  * max-cosine centroid in `cents`, an array<struct<cent_id, cent_e,
  * cent_nrm>> sorted by `cent_id`; null only when `cents` is null or
  * empty. `failOnError` is the session's ANSI mode, as Divide's. */
case class NearestCentroid(vec: Expression, nrm: Expression, cents: Expression,
                           failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = nrm
  override def third: Expression = cents
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = cents.dataType match {
    case ArrayType(StructType(Array(_, StructField(_, ArrayType(DoubleType, _), _, _),
        StructField(_, DoubleType, _, _))), _)
        if vec.dataType.isInstanceOf[ArrayType] && nrm.dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "nearest_centroid takes (array<double>, double, " +
        s"array<struct<id, array<double>, double>>), got (${vec.dataType.simpleString}, " +
        s"${nrm.dataType.simpleString}, ${cents.dataType.simpleString})")
  }

  override def eval(input: InternalRow): Any = {
    val cs = cents.eval(input)
    if (cs == null) null
    else {
      val n = nrm.eval(input)
      val i = IvfPqUtil.nearest(vec.eval(input).asInstanceOf[ArrayData], n == null,
        if (n == null) 0.0 else n.asInstanceOf[Double], cs.asInstanceOf[ArrayData], failOnError)
      if (i < 0) null else i
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val n = nrm.genCode(ctx)
    val c = cents.genCode(ctx)
    ev.copy(code = code"""
      |${v.code}
      |${n.code}
      |${c.code}
      |boolean ${ev.isNull} = ${c.isNull};
      |int ${ev.value} = -1;
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.plans.IvfPqUtil.nearest(${v.isNull} ? null : ${v.value},
      |    ${n.isNull}, ${n.value}, ${c.value}, $failOnError);
      |  ${ev.isNull} = ${ev.value} < 0;
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
                                                 c: Expression): Expression =
    copy(vec = a, nrm = b, cents = c)
}

object IvfPqExpressions {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  def pqEncode(vec: Column, cb: Column, nSub: Column, nCodes: Column): Column =
    col(PqEncode(expr(vec), expr(cb), expr(nSub), expr(nCodes)))

  def pqDistTable(vec: Column, cb: Column, nSub: Column, nCodes: Column): Column =
    col(PqDistTable(expr(vec), expr(cb), expr(nSub), expr(nCodes)))

  def adcDist(codes: Column, ptab: Column, nCodes: Column): Column =
    col(AdcDist(expr(codes), expr(ptab), expr(nCodes)))

  def nearestCentroid(vec: Column, nrm: Column, cents: Column): Column =
    col(NearestCentroid(expr(vec), expr(nrm), expr(cents)))
}
