package graft.index.zorder

import org.apache.spark.sql.DataFrame

import graft.index.{ContentMeta, FileMeta, IndexBuildContext, IndexDescriptor,
  RefreshInput}

/**
 * Z-order covering index descriptor (reference:
 * index/zordercovering/ZOrderCoveringIndex.scala:32-189).
 */
final case class ZOrderIndexDescriptor(
    indexedColumns: Seq[String],
    includedColumns: Seq[String],
    numPartitions: Int,
    schemaJson: String,
    hasLineage: Boolean = false) extends IndexDescriptor {

  override def kind: String = "ZOrderCoveringIndex"
  override def kindAbbr: String = "ZCI"
  override def referencedColumns: Seq[String] = indexedColumns ++ includedColumns
  override def covers(columns: Seq[String]): Boolean =
    columns.forall(c => referencedColumns.exists(_.equalsIgnoreCase(c)))

  override def build(ctx: IndexBuildContext, source: DataFrame): IndexDescriptor =
    ZOrderBuild.build(ctx, source, this)

  /** Clustering is global: an incremental refresh rebuilds from the
    * current source. */
  override def refreshIncremental(ctx: IndexBuildContext,
      in: RefreshInput): (IndexDescriptor, Seq[FileMeta]) =
    (build(ctx, in.source), Nil)

  /** A qualifying group re-clusters every file: mixing kept files with a
    * re-clustered slice would break the clustering. */
  override def quickCompaction(files: Seq[FileMeta],
      small: Seq[FileMeta]): Set[FileMeta] =
    if (small.size >= 2) files.toSet else Set.empty

  /** Re-cluster the index's OWN rows, lineage included: the source may
    * have drifted or lost files since the logged snapshot, and folding
    * drift in here would leave relations stale (hybrid scan would then
    * union appended rows twice). */
  override def compact(ctx: IndexBuildContext, files: ContentMeta,
      data: => DataFrame, keptAny: Boolean): IndexDescriptor =
    ZOrderBuild.recluster(ctx, data, this)
}

/** User-facing config (reference:
  * index/zordercovering/ZOrderCoveringIndexConfig.scala). */
final case class ZOrderIndexConfig(
    indexName: String,
    indexedColumns: Seq[String],
    includedColumns: Seq[String] = Nil) extends graft.index.IndexConfig {
  require(indexedColumns.nonEmpty, "at least one z-order column is required")

  override def referencedColumns: Seq[String] = indexedColumns ++ includedColumns

  override def toDescriptor(source: DataFrame): IndexDescriptor = {
    val resolved = graft.index.ColumnResolver.resolveAll(source, referencedColumns)
    require(!resolved.exists(graft.index.NestedColumns.isNested),
      "nested struct-field paths are supported by covering indexes only")
    val (idx, incl) = resolved.splitAt(indexedColumns.size)
    val spark = source.sparkSession
    // target ~1 GiB of source bytes per output partition (reference:
    // IndexConstants.scala:59-64), overridable for tests / tuning
    val numPartitions = spark.conf
      .getOption("spark.graft.index.zorder.numPartitions").map(_.toInt)
      .getOrElse {
        val bytes = source.queryExecution.optimizedPlan.stats.sizeInBytes
        math.max(1, (bytes / (1L << 30)).toInt)
      }
    ZOrderIndexDescriptor(idx, incl, numPartitions, schemaJson = "",
      hasLineage = graft.index.GraftConf.lineageEnabled(spark))
  }
}
