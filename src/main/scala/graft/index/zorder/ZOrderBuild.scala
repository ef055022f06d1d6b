package graft.index.zorder

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{IndexBuildContext, IndexDescriptor}

/**
 * Z-order covering index build (reference:
 * index/zordercovering/ZOrderCoveringIndex.scala:50-154 +
 * ZOrderField.scala:26-569).
 *
 * Two passes, like the reference:
 *  1. stats pass — per-column quantile boundaries via `approxQuantile`
 *     (Greenwald-Khanna, one distributed pass) for skew-resistant
 *     bucketing (the reference's percentile-based ZOrderField);
 *  2. write pass — per-row z-address (bit-interleaved per-column bucket
 *     ids) via UDF, `repartitionByRange(n, zaddr).sortWithinPartitions`,
 *     parquet write with the helper column dropped.
 *
 * The clustered layout gives every output file a tight min/max envelope
 * on EVERY indexed column, so ordinary parquet row-group stats prune scans
 * on any indexed dimension — no bespoke read path needed at any scale.
 */
object ZOrderBuild {

  /** bits per column: 2^12 = 4096 quantile buckets per dimension. */
  val BitsPerColumn = 12
  val ZAddrColumn = "_graft_zaddr"

  def build(ctx: IndexBuildContext, source: DataFrame,
      d: ZOrderIndexDescriptor): IndexDescriptor = {
    // optional lineage column: lets hybrid scan drop deleted files' rows
    // at query time, same machinery as covering indexes (reference shares
    // this across CI/ZCI via the common covering-index base)
    val base =
      if (d.hasLineage)
        graft.index.covering.CoveringIndexDescriptor.attachLineage(ctx, source)
      else source
    cluster(ctx, source, base, d)
  }

  /** Re-cluster the index's own rows (optimize): its data files already
    * hold the referenced columns and, with lineage, the lineage column —
    * the source is never re-read. */
  def recluster(ctx: IndexBuildContext, indexData: DataFrame,
      d: ZOrderIndexDescriptor): IndexDescriptor =
    cluster(ctx, indexData, indexData, d)

  /** The index build's two passes: [[clustered]] over `stats` and the
    * projected `rows` (the same rows, plus the lineage column when the
    * index has lineage), then the parquet write. */
  private def cluster(ctx: IndexBuildContext, stats: DataFrame,
      rows: DataFrame, d: ZOrderIndexDescriptor): IndexDescriptor = {
    val projCols = (d.indexedColumns ++ d.includedColumns).map(col) ++
      (if (d.hasLineage)
        Seq(col(graft.index.covering.CoveringIndexDescriptor.LineageColumn))
      else Nil)
    val projected = rows.select(projCols: _*)
    clustered(stats, projected, d.indexedColumns, Nil, d.numPartitions)
      .write.mode("overwrite").parquet(ctx.dataPath)
    d.copy(schemaJson = projected.schema.json)
  }

  /** `rows` clustered by the z-address of `columns` — the one z-order
    * layout behind the index build and the lake tables' OPTIMIZE ZORDER
    * BY / compactSort:
    *  1. per-column quantile boundaries over `stats` (one
    *     `approxQuantile` job for all columns);
    *  2. a per-row z-address, `repartitionByRange(numPartitions, keys)`
    *     and `sortWithinPartitions(keys)`, helper column dropped. `keys`
    *     is `leadingKeys` (a partitioned table's partition columns, so
    *     rows are z-clustered WITHIN their partition) then the address.
    * The caller writes the result. */
  def clustered(stats: DataFrame, rows: DataFrame, columns: Seq[String],
      leadingKeys: Seq[String], numPartitions: Int): DataFrame = {
    require(columns.nonEmpty, "no z-order columns")
    require(columns.size * BitsPerColumn <= 62,
      s"too many z-order columns (max ${62 / BitsPerColumn})")
    columns.foreach { c =>
      val t = stats.schema(c).dataType
      require(zOrderable(t), s"z-order column '$c' has unsupported type $t")
    }
    val nBuckets = 1 << BitsPerColumn
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val boundaries: Array[Array[Double]] = stats
      .select(columns.map(c => toDouble(stats, c).as(c)): _*)
      .stat.approxQuantile(columns.toArray, probs, 0.001)
    val zUdf = udf(new ZAddressFn(boundaries, BitsPerColumn))
    val withZ = rows.withColumn(ZAddrColumn,
      zUdf(array(columns.map(c => toDouble(rows, c)): _*)))
    val keys = leadingKeys.map(withZ.col) :+ col(ZAddrColumn)
    withZ
      .repartitionByRange(numPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop(ZAddrColumn)
  }

  def zOrderable(t: DataType): Boolean = t match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** A z-order column on the quantile axis. DATE goes through
    * `unix_date` (days since epoch): a DATE → numeric cast fails analysis
    * under ANSI, Spark 4's default. */
  private def toDouble(source: DataFrame, c: String): Column =
    source.schema(c).dataType match {
      case DateType => unix_date(col(c)).cast(DoubleType)
      case TimestampType | TimestampNTZType =>
        col(c).cast(DoubleType) // seconds since epoch
      case _ => col(c).cast(DoubleType)
    }
}

/**
 * Serializable per-row z-address: each value maps to its quantile bucket
 * (binary search over the boundary array), bucket ids are bit-interleaved
 * round-robin (Morton code). Nulls land in bucket 0 — co-located, like
 * the reference's null handling.
 */
class ZAddressFn(boundaries: Array[Array[Double]], bitsPerCol: Int)
    extends (Seq[java.lang.Double] => Long) with Serializable {

  override def apply(values: Seq[java.lang.Double]): Long = {
    val n = boundaries.length
    var z = 0L
    var c = 0
    while (c < n) {
      val v = values(c)
      val bucket = if (v == null) 0 else bucketOf(boundaries(c), v.doubleValue())
      var bit = 0
      while (bit < bitsPerCol) {
        z |= (((bucket >> bit) & 1L)) << (bit.toLong * n + c)
        bit += 1
      }
      c += 1
    }
    z
  }

  /** Index of the first boundary > v == number of boundaries <= v. */
  private def bucketOf(bounds: Array[Double], v: Double): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }
}
