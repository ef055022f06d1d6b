package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/**
 * `minhash_signature(hs)` — the K-permutation MinHash signature of a
 * shingle-hash set in ONE pass over the input array.
 *
 * Semantically identical to K independent
 * `array_min(transform(hs, x => (a_k*x + b_k) % p))` columns (the r1
 * formulation), but those traverse — and allocate an intermediate array
 * for — the input K times per row. This expression keeps a K-slot running
 * minimum in a local `long[]` and reads each element once, so the per-row
 * cost drops from K array traversals + K allocations to one traversal and
 * one output allocation. At 100 TB the signature pass is a pure map stage
 * over the corpus; this is its entire inner loop.
 *
 * Inputs must already be reduced mod p and non-negative (see
 * TextPrimitives.shingleHashes): then a_k*x + b_k < 2^62 never overflows
 * and `%` agrees across engines. Returns null for null input and an
 * all-null-slot-free empty-input result of p (identity of min over an
 * empty set is Long.MaxValue; callers filter size(hs) > 0 upstream, but
 * we return null on empty to match array_min's null-on-empty semantics).
 *
 * Reference for the banding scheme it feeds:
 * /root/reference/docs (MinHash LSH is not in the reference; this is part
 * of the beyond-reference LLM-pipeline family).
 */
case class MinHashSignature(
    child: Expression,
    a: Seq[Long],
    b: Seq[Long],
    p: Long)
  extends UnaryExpression {

  require(a.length == b.length && a.nonEmpty, "need matching a/b constants")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null on empty input regardless of child nullability (array_min parity)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  private def k = a.length
  // primitive copies for the interpreted path (codegen already gets
  // long[] via addReferenceObj) — Seq.apply in the inner loop would box
  // and, for a List, cost O(k) per access
  @transient private lazy val aArr = a.toArray
  @transient private lazy val bArr = b.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (aArr(j) * x + bArr(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", a.toArray, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", b.toArray, "long[]")
    nullSafeCodeGen(ctx, ev, hs => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $hs.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[$k];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $x = $hs.getLong($i);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $v = ($aRef[$j] * $x + $bRef[$j]) % ${p}L;
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/**
 * `minhash_estimate(s1, s2)` — the MinHash estimate of the Jaccard
 * similarity of two signatures: the fraction of the `numPerm` slots in
 * which they agree, in one pass with no intermediate array.
 *
 * Identical to `size(filter(zip_with(s1, s2, _ === _), b => b)) /
 * numPerm`: slots past the shorter signature, and null slots, do not
 * agree. The higher-order spelling is CodegenFallback, which takes any
 * plan node holding it out of whole-stage codegen — a band join that
 * verifies its pairs in the join condition would run interpreted.
 */
case class MinHashEstimate(left: Expression, right: Expression, numPerm: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint>, got ${l.simpleString} " +
          s"and ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "minhash_estimate"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    MinHashEstimate.agreeing(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData]).toDouble / numPerm

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (double) graft.functions.MinHashEstimate.agreeing($a, $b)" +
        s" / ${numPerm}.0;")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashEstimate =
    copy(left = newLeft, right = newRight)
}

object MinHashEstimate {
  /** Slots, up to the shorter signature, holding one non-null value. */
  def agreeing(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var same = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        same += 1
      i += 1
    }
    same
  }
}

object MinHashFunctions {
  /** Column API for [[MinHashSignature]]. */
  def minhashSignature(hs: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(hs), a, b, p))

  /** Column API for [[MinHashEstimate]]. */
  def minhashEstimate(s1: Column, s2: Column, numPerm: Int): Column =
    GraftBridge.column(MinHashEstimate(GraftBridge.expression(s1),
      GraftBridge.expression(s2), numPerm))
}
