package graft.index.ivf

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * PRODUCT-QUANTIZATION codec shared by the ad-hoc PQ query
 * (`queries/Similarity.qPqTopK`) and the [[IvfIndexDescriptor]]'s IVFADC
 * serving path: vectors compress to one 4-bit code per subspace (argmin
 * over [[K]] codewords), and queries rank candidates by the ASYMMETRIC
 * distance computation — per-subspace lookup tables of dot(query
 * sub-vector, codeword), summed through the stored codes — so the
 * ranking scan reads code bytes + a norm, never the raw floats.
 *
 * Two codebook flavors, same algebra:
 *  - [[formulaCodebook]] — a fixed integer formula, nonlinear in
 *    (subspace, codeword, component); fully deterministic with zero
 *    data passes, used by the standalone PQ query where the DuckDB
 *    oracle re-derives it symbolically;
 *  - data-adapted — the index build anchors codewords IN the corpus
 *    distribution (deterministically sampled rows, optionally refined
 *    by per-subspace Lloyd rounds — [[IvfBuild]]) and persists them in
 *    the descriptor like the IVF centroids. Scale-critical: codewords
 *    at the wrong magnitude collapse most vectors onto one code and
 *    ADC ordering degenerates.
 *
 * The encode / query-table / ADC columns are NATIVE codegen expressions
 * ([[graft.functions.PqExpressions]]): the earlier zip_with/aggregate/
 * element_at spellings were higher-order functions, which are
 * CodegenFallback — per-element lambda interpretation plus intermediate
 * array allocation on the O(|queries| x |candidates|) ADC hot loop. The
 * native forms keep bit-identical arithmetic (same strict fold order,
 * same first-occurrence argmin — the DuckDB oracles pin this) and fuse
 * into whole-stage codegen.
 */
object PqCodec {

  /** Codewords per subspace (4-bit codes). */
  val K = 16

  /** Fixed formula codeword component: integer in [-5, 5]. */
  def codeword(m: Int, k: Int, i: Int): Int =
    ((104729 * k * k + 7919 * m + 31 * k * i + 17 * i * i + 5) % 11 + 11) % 11 - 5

  /** The formula codebook as an explicit (numM x K x subDim) table. */
  def formulaCodebook(numM: Int, subDim: Int): Seq[Seq[Seq[Double]]] =
    (0 until numM).map(m => (0 until K).map(k =>
      (0 until subDim).map(i => codeword(m, k, i).toDouble)))

  /** Slice codebook entries out of whole sampled vectors: codebook[m] =
    * the m-th subDim-wide slice of each sample row — PQ's standard
    * sample-initialized codebook, derived from rows the oracle can
    * reproduce. */
  def codebookFromSamples(samples: Seq[Seq[Double]], numM: Int)
      : Seq[Seq[Seq[Double]]] = {
    require(samples.nonEmpty, "PQ codebook needs at least one sample row")
    val dim = samples.head.length
    require(dim % numM == 0, s"pqM=$numM does not divide dim $dim")
    val sub = dim / numM
    (0 until numM).map(m => samples.map(_.slice(m * sub, m * sub + sub)))
  }

  private def cbArray(cb: Seq[Seq[Seq[Double]]]): Array[Array[Array[Double]]] =
    cb.map(_.map(_.toArray).toArray).toArray

  import org.apache.spark.sql.classic.GraftBridge

  /** Per-vector PQ codes against an explicit codebook: for each
    * subspace, the 1-BASED first-occurrence argmin of the strict-fold
    * squared L2 distance to each codeword (1-based to match DuckDB's
    * list_position for oracle parity). `v` is any numeric array; one
    * holding a null element encodes to null (see
    * [[graft.functions.PqVector]]). */
  def codesCol(v: Column, cb: Seq[Seq[Seq[Double]]]): Column =
    GraftBridge.column(graft.functions.PqEncode(
      vector(v), cbArray(cb)))

  private def vector(v: Column) =
    graft.functions.PqVector(GraftBridge.expression(v))

  /** Per-query ADC lookup table: dot(query sub-vector, codeword) for
    * every (subspace, codeword) — numM x K doubles, tiny. */
  def queryTableCol(qv: Column, cb: Seq[Seq[Seq[Double]]]): Column =
    GraftBridge.column(graft.functions.PqQueryTable(
      vector(qv), cbArray(cb)))

  /** ADC dot product: sum the table entries the codes select. */
  def adcDot(codes: Column, qtab: Column): Column =
    GraftBridge.column(graft.functions.PqAdcDot(
      GraftBridge.expression(codes), GraftBridge.expression(qtab)))
}
