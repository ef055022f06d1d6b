package graft.index.dataskipping

import org.apache.spark.sql.DataFrame

import graft.index.{ContentMeta, FileMeta, IndexBuildContext, IndexDescriptor,
  RefreshInput}

/**
 * Data-skipping index descriptor: one row per source file with per-file
 * sketch values (reference: index/dataskipping/DataSkippingIndex.scala:44-128).
 */
final case class DataSkippingIndexDescriptor(
    sketches: Seq[SketchSpec],
    schemaJson: String) extends IndexDescriptor {

  override def kind: String = "DataSkippingIndex"
  override def kindAbbr: String = "DS"
  override def indexedColumns: Seq[String] = sketches.flatMap(_.columns).distinct
  override def referencedColumns: Seq[String] = indexedColumns
  /** Data-skipping indexes never substitute for the source scan. */
  override def covers(columns: Seq[String]): Boolean = false

  override def build(ctx: IndexBuildContext, source: DataFrame): IndexDescriptor =
    DataSkippingBuild.build(ctx, source, this)

  /** Merge or rewrite: sketch rows are per source file, so the appended
    * files' rows are simply more rows in a new file. */
  override def refreshIncremental(ctx: IndexBuildContext,
      in: RefreshInput): (IndexDescriptor, Seq[FileMeta]) =
    in.mergeOrRewrite(Sketches.FileIdColumn)(
      DataSkippingBuild.sketchRows(ctx, _, this))(
      DataSkippingBuild.write(ctx, _, this))

  override def compact(ctx: IndexBuildContext, files: ContentMeta,
      data: => DataFrame, keptAny: Boolean): IndexDescriptor =
    DataSkippingBuild.write(ctx, data, this)
}

/** Serializable sketch definition: kind ∈ {minmax, bloom}. */
final case class SketchSpec(
    sketchKind: String,
    expr: String,
    params: Map[String, String] = Map.empty) {
  def columns: Seq[String] = Seq(expr)
}

object SketchSpec {
  def minMax(column: String): SketchSpec = SketchSpec("minmax", column)
  def bloom(column: String, expectedItems: Long = 10000, fpp: Double = 0.01): SketchSpec =
    SketchSpec("bloom", column, Map(
      "expectedItems" -> expectedItems.toString, "fpp" -> fpp.toString))
  def partition(column: String): SketchSpec = SketchSpec("partition", column)
  def valueList(column: String, maxValues: Int = 1000): SketchSpec =
    SketchSpec("valuelist", column, Map("maxValues" -> maxValues.toString))
}

/** User-facing config (reference:
  * index/dataskipping/DataSkippingIndexConfig.scala:39-95). */
final case class DataSkippingIndexConfig(
    indexName: String,
    sketches: Seq[SketchSpec]) extends graft.index.IndexConfig {
  require(sketches.nonEmpty, "at least one sketch is required")

  override def referencedColumns: Seq[String] = sketches.map(_.expr).distinct

  override def toDescriptor(source: org.apache.spark.sql.DataFrame): IndexDescriptor = {
    val resolvedSpecs = sketches.map { s =>
      s.copy(expr = graft.index.ColumnResolver.resolveAll(source, Seq(s.expr)).head)
    }
    require(!resolvedSpecs.exists(s => graft.index.NestedColumns.isNested(s.expr)),
      "nested struct-field paths are supported by covering indexes only")
    // auto-add a partition sketch per partition column so disjunctions
    // mixing partition and data columns stay translatable (reference:
    // DataSkippingIndexConfig.scala:61-84)
    val partCols = source.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
        l.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .partitionSchema.map(_.name)
    }.flatten.distinct
    val already = resolvedSpecs.map(_.expr.toLowerCase).toSet
    val partSpecs = partCols
      .filterNot(c => already.contains(c.toLowerCase))
      .map(SketchSpec.partition)
    DataSkippingIndexDescriptor(resolvedSpecs ++ partSpecs, schemaJson = "")
  }
}
