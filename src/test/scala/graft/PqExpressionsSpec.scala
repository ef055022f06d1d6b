package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.ivf.PqCodec

/** Pins the native PQ codec expressions ([[graft.functions.PqExpressions]])
  * bit-identical to the higher-order-function spellings they replaced
  * (the optimization contract: same strict fold order, same
  * first-occurrence argmin, only the evaluation engine changed). */
class PqExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cb = PqCodec.formulaCodebook(8, 8)

  private def cwCol(m: Int, k: Int) = array(cb(m)(k).map(lit): _*)

  /** The replaced HOF spellings, verbatim. */
  private def hofCodes(v: org.apache.spark.sql.Column) =
    array(cb.indices.map { m =>
      val sub = slice(v, m * cb(m).head.length + 1, cb(m).head.length)
      val dists = array(cb(m).indices.map { k =>
        aggregate(zip_with(sub, cwCol(m, k), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, t) => acc + t)
      }: _*)
      array_position(dists, array_min(dists))
    }: _*)

  private def hofQtab(qv: org.apache.spark.sql.Column) =
    array(cb.indices.map { m =>
      val sub = slice(qv, m * cb(m).head.length + 1, cb(m).head.length)
      array(cb(m).indices.map { k =>
        aggregate(zip_with(sub, cwCol(m, k), (x, y) => x * y),
          lit(0.0), (acc, t) => acc + t)
      }: _*)
    }: _*)

  private def hofAdc(codes: org.apache.spark.sql.Column,
      qtab: org.apache.spark.sql.Column) =
    aggregate(
      zip_with(codes, qtab, (c, row) => element_at(row, c.cast("int"))),
      lit(0.0), (acc, t) => acc + t)

  private def emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("PqEncode is bit-identical to the aggregate/zip_with argmin fold") {
    val diff = emb
      .select(PqCodec.codesCol(col("v"), cb).as("a"), hofCodes(col("v")).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff === 0L)
  }

  test("PqQueryTable is bit-identical to the HOF dot tables") {
    val diff = emb
      .select(PqCodec.queryTableCol(col("v"), cb).as("a"),
        hofQtab(col("v")).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff === 0L)
  }

  test("PqAdcDot is bit-identical to the element_at fold, null in -> null out") {
    val both = emb.select(col("vec_id"),
      PqCodec.codesCol(col("v"), cb).as("codes"),
      PqCodec.queryTableCol(col("v"), cb).as("qtab"))
    val diff = both
      .select(PqCodec.adcDot(col("codes"), col("qtab")).as("a"),
        hofAdc(col("codes"), col("qtab")).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff === 0L)
    import spark.implicits._
    val nulls = Seq((None: Option[Array[Long]], Some(Array(Array(1.0)))))
      .toDF("codes", "qtab")
    assert(nulls.select(PqCodec.adcDot(col("codes"), col("qtab")))
      .head.isNullAt(0))
  }

  test("the PQ expressions participate in whole-stage codegen") {
    val df = emb.select(
      PqCodec.adcDot(PqCodec.codesCol(col("v"), cb),
        PqCodec.queryTableCol(col("v"), cb)).as("adc"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_pq_adc_dot"),
      s"PQ Project not codegen'd in:\n$plan")
  }

  test("codebook expressions compare and hash by codebook content") {
    import org.apache.spark.sql.classic.GraftBridge
    import graft.functions.{PqEncode, PqQueryTable}
    def arr(c: Seq[Seq[Seq[Double]]]) = c.map(_.map(_.toArray).toArray).toArray
    val v = GraftBridge.expression(col("v"))
    val other = cb.updated(0, cb(0).updated(0, cb(0)(0).map(_ + 1.0)))
    // two copies of one codebook: distinct arrays, equal content
    assert(PqEncode(v, arr(cb)) == PqEncode(v, arr(cb)))
    assert(PqEncode(v, arr(cb)).hashCode == PqEncode(v, arr(cb)).hashCode)
    assert(PqEncode(v, arr(cb)) != PqEncode(v, arr(other)))
    assert(PqQueryTable(v, arr(cb)) == PqQueryTable(v, arr(cb)))
    assert(PqQueryTable(v, arr(cb)).hashCode == PqQueryTable(v, arr(cb)).hashCode)
    assert(PqQueryTable(v, arr(cb)) != PqQueryTable(v, arr(other)))
    // so two spellings of one encode over one input are one subexpression
    val plan = emb.select(PqCodec.codesCol(col("v"), cb).as("a"),
      PqCodec.codesCol(col("v"), cb).as("b")).queryExecution.optimizedPlan
    val encodes = plan.expressions.flatMap(_.collect { case e: PqEncode => e })
    assert(encodes.size == 2 && encodes(0).semanticEquals(encodes(1)))
  }

  test("codebook expressions refuse inputs that may hold null elements; " +
      "the column API turns a null element into a null result") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.{PqEncode, PqQueryTable}
    val cbArr = cb.map(_.map(_.toArray).toArray).toArray
    def vec(containsNull: Boolean) = Literal.create(
      new GenericArrayData(Array.fill[Any](64)(0.5)),
      ArrayType(DoubleType, containsNull))
    assert(PqEncode(vec(true), cbArr).checkInputDataTypes().isFailure)
    assert(PqQueryTable(vec(true), cbArr).checkInputDataTypes().isFailure)
    assert(PqEncode(vec(false), cbArr).checkInputDataTypes().isSuccess)
    assert(PqQueryTable(vec(false), cbArr).checkInputDataTypes().isSuccess)

    val full = array_repeat(lit(0.5), 64)
    val holed = transform(full, (x, i) => when(i === 3, lit(null)).otherwise(x))
    val row = spark.range(1).select(
      PqCodec.codesCol(holed, cb).as("c_null"),
      PqCodec.queryTableCol(holed, cb).as("q_null"),
      PqCodec.codesCol(full, cb).as("c")).head()
    assert(row.isNullAt(0) && row.isNullAt(1))
    assert(!row.isNullAt(2))
  }
}
