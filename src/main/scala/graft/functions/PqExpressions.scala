package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, NumericType}

/**
 * Native codegen expressions for the PRODUCT-QUANTIZATION codec
 * ([[graft.index.ivf.PqCodec]]). The original spellings composed
 * `zip_with`/`aggregate`/`element_at` higher-order functions — but HOFs
 * are CodegenFallback: every evaluation interprets a lambda per array
 * element and allocates intermediate arrays, and the ADC dot runs
 * O(|queries| x |candidates|) times, which made it the dominant CPU cost
 * of both the flat-PQ and the IVFADC serving scans (measured: the ADC
 * stage of sim_pq_topk was 1.8 s of single-core interpretation at sf0.1).
 * These expressions keep BIT-IDENTICAL arithmetic (same strict
 * left-to-right fold order, same first-occurrence argmin) while running
 * as straight-line generated Java; the codebook rides along as a
 * reference object instead of an M x K literal-array forest, which also
 * shrinks the analyzed plan the optimizer has to walk.
 *
 * Domain, deliberately narrower than the HOFs for speed: fixed-width
 * `array<double>` vectors whose type rules out null elements (a
 * `containsNull` input fails analysis — `getDouble` on a null slot would
 * read it as 0.0; [[PqVector]] adapts any numeric array and turns a
 * vector holding a null element into a null vector), codes produced by
 * [[PqEncode]] (1-based, in [1, K]). A null INPUT yields a null result
 * (nullSafeEval); degenerate shapes (short vectors, out-of-range codes)
 * are the caller's to avoid.
 *
 * The codebook is a constant argument held as a raw array, so the two
 * codebook-carrying expressions compare and hash it by content
 * ([[PqExpressions.cbFingerprint]]): two spellings of one codebook are
 * equal expressions, which common-subexpression elimination and
 * exchange reuse need.
 */
object PqExpressions {

  /** codes[m] = 1-based first-occurrence argmin_k of the strict-fold
    * squared L2 distance between the m-th sub-vector and codeword k. */
  def encode(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val numM = cb.length
    val out = new Array[Long](numM)
    var m = 0
    while (m < numM) {
      val cwm = cb(m)
      val subDim = if (cwm.nonEmpty) cwm(0).length else 0
      val base = m * subDim
      var best = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < cwm.length) {
        val cw = cwm(k)
        // same fold order as aggregate(zip_with(...)): acc = (acc + t_i)
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          val d = v.getDouble(base + i) - cw(i)
          acc += d * d
          i += 1
        }
        // strict < keeps the FIRST minimum — matches
        // array_position(dists, array_min(dists))
        if (acc < bestD) { bestD = acc; best = k }
        k += 1
      }
      out(m) = best + 1L
      m += 1
    }
    new GenericArrayData(out)
  }

  /** qtab[m][k] = strict-fold dot of the m-th query sub-vector with
    * codeword k. */
  def queryTable(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val numM = cb.length
    val rows = new Array[Any](numM)
    var m = 0
    while (m < numM) {
      val cwm = cb(m)
      val subDim = if (cwm.nonEmpty) cwm(0).length else 0
      val base = m * subDim
      val row = new Array[Double](cwm.length)
      var k = 0
      while (k < cwm.length) {
        val cw = cwm(k)
        var acc = 0.0
        var i = 0
        while (i < subDim) { acc += v.getDouble(base + i) * cw(i); i += 1 }
        row(k) = acc
        k += 1
      }
      rows(m) = new GenericArrayData(row)
      m += 1
    }
    new GenericArrayData(rows)
  }

  /** Strict-fold sum of the qtab entries the codes select (the ADC dot):
    * acc += qtab[m][codes[m] - 1], m in element order. */
  def adcDot(codes: ArrayData, qtab: ArrayData): Double = {
    val n = math.min(codes.numElements(), qtab.numElements())
    var acc = 0.0
    var m = 0
    while (m < n) {
      acc += qtab.getArray(m).getDouble(codes.getLong(m).toInt - 1)
      m += 1
    }
    acc
  }

  /** Input check of the codebook-carrying expressions: `array<double>`
    * without null elements. */
  private[functions] def checkVector(e: Expression): TypeCheckResult = {
    def refuse(got: String) = TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} requires an array<double> input without null " +
        s"elements (see PqVector), got $got")
    e.dataType match {
      case ArrayType(DoubleType, false) => TypeCheckResult.TypeCheckSuccess
      case ArrayType(DoubleType, true) => refuse("one that may hold nulls")
      case other => refuse(other.simpleString)
    }
  }

  /** Content equality of two codebooks. */
  private[functions] def sameCodebook(a: Array[Array[Array[Double]]],
      b: Array[Array[Array[Double]]]): Boolean =
    (a eq b) || java.util.Arrays.deepEquals(
      a.asInstanceOf[Array[AnyRef]], b.asInstanceOf[Array[AnyRef]])

  /** Stable plan rendering for a codebook argument: a raw
    * `Array[Array[Array[Double]]]` stringifies as `[[[D@<identityHash>`,
    * which changes per JVM and breaks golden-plan comparison. Render
    * dims + a content hash instead. */
  private[functions] def cbFingerprint(cb: Array[Array[Array[Double]]]): String = {
    val numM = cb.length
    val k = if (numM > 0) cb(0).length else 0
    val sub = if (k > 0) cb(0)(0).length else 0
    var h = 1L
    var m = 0
    while (m < numM) {
      var i = 0
      while (i < cb(m).length) {
        var j = 0
        while (j < cb(m)(i).length) {
          h = h * 31 + java.lang.Double.doubleToLongBits(cb(m)(i)(j))
          j += 1
        }
        i += 1
      }
      m += 1
    }
    f"cb${numM}x${k}x$sub%s#${h & 0xffffffffL}%08x"
  }
}

/** `pq_encode(v)` — per-subspace 1-based argmin codes against a constant
  * codebook. Output `array<long>`, matching the HOF spelling's
  * `array_position` type. */
case class PqEncode(child: Expression, codebook: Array[Array[Array[Double]]])
  extends UnaryExpression {

  @transient private lazy val fingerprint = PqExpressions.cbFingerprint(codebook)

  override def equals(o: Any): Boolean = o match {
    case e: PqEncode => child == e.child && fingerprint == e.fingerprint &&
      PqExpressions.sameCodebook(codebook, e.codebook)
    case _ => false
  }
  override def hashCode(): Int = (child, fingerprint).##

  override def checkInputDataTypes(): TypeCheckResult =
    PqExpressions.checkVector(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override protected def nullSafeEval(input: Any): Any =
    PqExpressions.encode(input.asInstanceOf[ArrayData], codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqExpressions.encode($v, $cbRef);")
  }

  override def stringArgs: Iterator[Any] = Iterator(child, fingerprint)

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** `pq_query_table(qv)` — the per-query ADC lookup table against a
  * constant codebook. Output `array<array<double>>`. */
case class PqQueryTable(child: Expression, codebook: Array[Array[Array[Double]]])
  extends UnaryExpression {

  @transient private lazy val fingerprint = PqExpressions.cbFingerprint(codebook)

  override def equals(o: Any): Boolean = o match {
    case e: PqQueryTable => child == e.child && fingerprint == e.fingerprint &&
      PqExpressions.sameCodebook(codebook, e.codebook)
    case _ => false
  }
  override def hashCode(): Int = (child, fingerprint).##

  override def checkInputDataTypes(): TypeCheckResult =
    PqExpressions.checkVector(child)
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "graft_pq_query_table"

  override protected def nullSafeEval(input: Any): Any =
    PqExpressions.queryTable(input.asInstanceOf[ArrayData], codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqExpressions.queryTable($v, $cbRef);")
  }

  override def stringArgs: Iterator[Any] = Iterator(child, fingerprint)

  override protected def withNewChildInternal(newChild: Expression): PqQueryTable =
    copy(child = newChild)
}

/** `pq_vector(v)` — any numeric array as the `array<double>` without null
  * elements that [[PqEncode]] and [[PqQueryTable]] take. Replaced before
  * execution by the cheapest adapter the input type allows: nothing for
  * an `array<double>` that cannot hold a null, a widening cast for
  * another such array, and otherwise a cast under [[NullFreeArray]], so
  * a vector holding a null element becomes a null vector. */
case class PqVector(child: Expression) extends UnaryExpression
  with RuntimeReplaceable {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a numeric array, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = child.dataType match {
    case ArrayType(DoubleType, false) => child
    case ArrayType(_, false) => Cast(child, PqVector.Type)
    case _ => NullFreeArray(Cast(child, ArrayType(DoubleType)))
  }
  override def dataType: DataType = PqVector.Type
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_vector"

  override protected def withNewChildInternal(newChild: Expression): PqVector =
    copy(child = newChild)
}

object PqVector {
  val Type: ArrayType = ArrayType(DoubleType, containsNull = false)
}

/** `null_free(a)` — an `array<double>` as one whose type holds no null
  * element: the array itself when none is null, else NULL. */
case class NullFreeArray(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = PqVector.Type
  override def nullable: Boolean = true
  override def prettyName: String = "graft_null_free"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (NullFreeArray.hasNull(a)) null else a
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |if (graft.functions.NullFreeArray.hasNull($a)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $a;
         |}
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): NullFreeArray =
    copy(child = newChild)
}

object NullFreeArray {
  def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }
}

/** `pq_adc_dot(codes, qtab)` — the asymmetric-distance dot product. */
case class PqAdcDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val okCodes = left.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val okTab = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (okCodes && okTab) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<long>, array<array<double>>), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_dot"

  override protected def nullSafeEval(codes: Any, qtab: Any): Any =
    PqExpressions.adcDot(
      codes.asInstanceOf[ArrayData], qtab.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, q) =>
      s"${ev.value} = graft.functions.PqExpressions.adcDot($c, $q);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDot =
    copy(left = newLeft, right = newRight)
}
