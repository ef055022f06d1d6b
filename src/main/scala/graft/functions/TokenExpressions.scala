package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `top_token_count(toks)` — how often the most frequent element of a
 * token array occurs, in ONE pass with a per-row hash count.
 *
 * Semantically identical to the relational spelling the quality metrics
 * started from (and that the DuckDB oracle still spells out):
 * `max(count(*))` over `(doc_id, explode(toks))` groups. That spelling
 * needs two aggregations and a join back onto the per-doc row; this one
 * is a row-wise map, so the metric stays inside the scan's projection.
 * Null elements count as one more distinct value (a GROUP BY key of
 * NULL). Returns 0 for an empty array and null for a null one.
 */
case class TopTokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "top_token_count"

  override protected def nullSafeEval(input: Any): Any =
    TopTokenCount.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks =>
      s"${ev.value} = graft.functions.TopTokenCount.compute($toks);")

  override protected def withNewChildInternal(newChild: Expression): TopTokenCount =
    copy(child = newChild)
}

object TopTokenCount {
  def compute(toks: ArrayData): Long = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Int]](n * 2)
    var nulls = 0
    var top = 0
    var i = 0
    while (i < n) {
      val c =
        if (toks.isNullAt(i)) { nulls += 1; nulls }
        else {
          val t = toks.getUTF8String(i)
          val slot = counts.get(t)
          if (slot == null) { counts.put(t, Array(1)); 1 }
          else { slot(0) += 1; slot(0) }
        }
      if (c > top) top = c
      i += 1
    }
    top.toLong
  }
}

object TokenFunctions {
  /** Column API for [[TopTokenCount]]. */
  def topTokenCount(toks: Column): Column =
    GraftBridge.column(TopTokenCount(GraftBridge.expression(toks)))
}
