package graft.index.dataskipping

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{IndexBuildContext, IndexDescriptor}

/**
 * Data-skipping index build: one row per source file holding the sketch
 * aggregates (reference: index/dataskipping/DataSkippingIndex.scala:291-317).
 *
 * Shape: `groupBy(input_file_name())` — a single shuffle with #files
 * groups, partial aggregation on the scan side — then a broadcast join of
 * the tiny (path → fileId) mapping. Output is repartitioned by row count
 * so index files stay bounded (~100k file-rows per output file) at any
 * source scale.
 */
object DataSkippingBuild {

  val PathColumn = "_graft_path"

  /** One sketch row per source file of `source`, with resolved file ids. */
  def sketchRows(ctx: IndexBuildContext, source: DataFrame,
      d: DataSkippingIndexDescriptor): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._

    val sketches = Sketches.fromSpecs(d.sketches)
    val aggs = sketches.flatMap(_.aggregates(source))
    val normalize = udf((s: String) => new org.apache.hadoop.fs.Path(s).toString)

    val grouped = source
      .groupBy(normalize(input_file_name()).as(PathColumn))
      .agg(aggs.head, aggs.tail: _*)

    val mapping = ctx.tracker.all.toSeq
      .map { case ((p, _, _), id) => (p, id) }
      .toDF(PathColumn, Sketches.FileIdColumn)

    grouped
      .join(broadcast(mapping), PathColumn)
      .drop(PathColumn)
      .select(col(Sketches.FileIdColumn) +:
        sketches.flatMap(_.outputColumns).map(col): _*)
  }

  def write(ctx: IndexBuildContext, rows: DataFrame,
      d: DataSkippingIndexDescriptor): IndexDescriptor = {
    val numFiles = ctx.tracker.all.size
    val outParts = math.max(1, numFiles / 100000)
    rows.repartition(outParts).write.mode("overwrite").parquet(ctx.dataPath)
    // the schema a read of the written files reports, without reading
    // them back
    d.copy(schemaJson =
      org.apache.spark.sql.classic.GraftBridge.asNullable(rows.schema).json)
  }

  def build(ctx: IndexBuildContext, source: DataFrame,
      d: DataSkippingIndexDescriptor): IndexDescriptor =
    write(ctx, sketchRows(ctx, source, d), d)
}
