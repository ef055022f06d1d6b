package graft.index.covering

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

import graft.index.{ContentMeta, FileMeta, IndexBuildContext, IndexConfig,
  IndexDescriptor, RefreshInput}

/**
 * Covering index: a vertical slice of the source, bucketed AND sorted by
 * the indexed columns, stored as Parquet (re-derived from the reference's
 * index/covering/CoveringIndex.scala:33-192).
 *
 * Scale design: the build is one shuffle (`repartition(numBuckets, keys)`)
 * followed by a bucketed write — identical cost shape to a bucketed CTAS at
 * cluster scale. Queries over the index then scan bucketed parquet whose
 * `outputPartitioning` is `HashPartitioning(keys, numBuckets)`, which lets
 * Spark elide the shuffle for equi-joins and aggregations on the keys.
 * `numBuckets` should track the target parallelism of the consuming join
 * (conf `spark.graft.index.numBuckets`), not the source file count.
 */
final case class CoveringIndexDescriptor(
    indexedColumns: Seq[String],
    includedColumns: Seq[String],
    numBuckets: Int,
    schemaJson: String,
    hasLineage: Boolean) extends IndexDescriptor {

  override def kind: String = CoveringIndexDescriptor.Kind
  override def kindAbbr: String = "CI"
  override def referencedColumns: Seq[String] = indexedColumns ++ includedColumns

  /** All columns materialized in the index data (incl. lineage), under
    * their PHYSICAL names — nested paths are flattened (see
    * [[graft.index.NestedColumns]]). */
  def allIndexColumns: Seq[String] =
    referencedColumns.map(graft.index.NestedColumns.physicalName) ++
      (if (hasLineage) Seq(CoveringIndexDescriptor.LineageColumn) else Nil)

  /** Physical (index-data) names of the bucketing keys. */
  def physicalIndexedColumns: Seq[String] =
    indexedColumns.map(graft.index.NestedColumns.physicalName)

  /** Does this index materialize any flattened struct-field path? */
  def hasNested: Boolean =
    referencedColumns.exists(graft.index.NestedColumns.isNested)

  override def covers(columns: Seq[String]): Boolean =
    columns.forall(c => referencedColumns.exists(_.equalsIgnoreCase(c)))

  override def build(ctx: IndexBuildContext, source: DataFrame): IndexDescriptor = {
    val projected = CoveringIndexDescriptor.project(ctx, source, this)
    CoveringIndexDescriptor.writeBucketed(
      ctx.spark, projected, ctx.dataPath, numBuckets, indexedColumns)
    copy(schemaJson = projected.schema.json)
  }

  override def canHandleDeletedFiles: Boolean = hasLineage

  /** Merge or rewrite: appended rows re-hash to the same bucket ids (same
    * keys, same numBuckets), so kept and new files of one bucket coexist
    * under the claimed HashPartitioning. */
  override def refreshIncremental(ctx: IndexBuildContext,
      in: RefreshInput): (IndexDescriptor, Seq[FileMeta]) =
    in.mergeOrRewrite(CoveringIndexDescriptor.LineageColumn)(
        CoveringIndexDescriptor.project(ctx, _, this)) { rows =>
      CoveringIndexDescriptor.writeBucketed(ctx.spark,
        rows.select(allIndexColumns.map(col): _*), ctx.dataPath, numBuckets,
        indexedColumns)
      this
    }

  override def compactionGroup(file: FileMeta): String =
    BucketingUtils.getBucketId(new Path(file.path).getName).fold("")(_.toString)

  /** Rows re-hash to their original bucket ids, so compacted files merge
    * per bucket and coexist with untouched files of the same bucket. */
  override def compact(ctx: IndexBuildContext, files: ContentMeta,
      data: => DataFrame, keptAny: Boolean): IndexDescriptor = {
    CoveringIndexDescriptor.writeBucketed(
      ctx.spark, data, ctx.dataPath, numBuckets, indexedColumns)
    this
  }
}

object CoveringIndexDescriptor {
  val Kind = "CoveringIndex"
  val LineageColumn = "_data_file_id"

  /** Vertical slice + optional lineage column (reference:
    * CoveringIndex.scala:140-192 uses the same broadcast-join shape).
    * Nested paths are selected as struct-field accesses and flattened to
    * their physical names. */
  def project(ctx: IndexBuildContext, source: DataFrame,
      d: CoveringIndexDescriptor): DataFrame = {
    val cols = d.referencedColumns.map(c =>
      col(c).as(graft.index.NestedColumns.physicalName(c)))
    if (!d.hasLineage) source.select(cols: _*)
    else attachLineage(ctx, source).select(cols :+ col(LineageColumn): _*)
  }

  /** Add the `_data_file_id` lineage column to `source`: a broadcast join
    * of the tiny (normalized path -> stable file id) mapping against
    * `input_file_name()`. Shared by covering and z-order builds — lineage
    * is what lets hybrid scan drop deleted files' rows at query time. */
  def attachLineage(ctx: IndexBuildContext, source: DataFrame): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val mapping = ctx.tracker.all.toSeq
      .map { case ((p, _, _), id) => (p, id) }
      .toDF("_graft_source_path", LineageColumn)
    val normalize = udf((s: String) => {
      // empty = input_file_name() lost its value, which happens when a
      // shuffle (limit/repartition/join) sits between the file read and
      // the build — surface WHY instead of Path's bare complaint
      require(s != null && s.nonEmpty,
        "row has no source file (input_file_name() is empty): the indexed " +
          "DataFrame must be a direct file-source read — no limit/shuffle " +
          "between the read and createIndex")
      new org.apache.hadoop.fs.Path(s).toString
    })
    source
      .withColumn("_graft_source_path", normalize(input_file_name()))
      .join(broadcast(mapping), "_graft_source_path")
      .drop("_graft_source_path")
  }

  /**
   * Bucketed + sorted parquet write to an explicit path.
   *
   * Uses the public `bucketBy().sortBy().option("path").saveAsTable`
   * surface with a throwaway external table name, then drops the table
   * (external ⇒ data survives). Equivalent to the reference's internal
   * `saveWithBuckets` (DataFrameWriterExtensions.scala:40-81) without
   * touching Spark internals.
   */
  def writeBucketed(spark: SparkSession, df: DataFrame, path: String,
      numBuckets: Int, bucketColsLogical: Seq[String]): Unit = {
    // df carries physical (flattened) names; bucket on those
    val bucketCols = bucketColsLogical.map(graft.index.NestedColumns.physicalName)
    val tmpTable = s"graft_tmp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.repartition(numBuckets, bucketCols.map(col): _*)
      .write
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", path)
      .mode(SaveMode.Overwrite)
      .saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
  }
}

/** User-facing config (reference: index/covering/CoveringIndexConfig.scala:37-151).
  *
  * `numBuckets` overrides `spark.graft.index.numBuckets` for THIS index
  * only. It is a config field — not a session-conf set/restore around the
  * build — so a concurrent createIndex on another thread of the same
  * session can never pick up the override and persist a wrong bucket
  * count (which would silently break the co-partitioning the zero-shuffle
  * join rewrites assume for that index). */
final case class CoveringIndexConfig(
    indexName: String,
    indexedColumns: Seq[String],
    includedColumns: Seq[String] = Nil,
    numBuckets: Option[Int] = None) extends IndexConfig {
  require(indexedColumns.nonEmpty, "at least one indexed column is required")
  numBuckets.foreach(n =>
    require(n > 0, s"numBuckets must be positive, got $n"))

  override def referencedColumns: Seq[String] = indexedColumns ++ includedColumns

  override def toDescriptor(source: DataFrame): IndexDescriptor = {
    val resolved = graft.index.ColumnResolver.resolveAll(source, referencedColumns)
    val (idx, incl) = resolved.splitAt(indexedColumns.size)
    CoveringIndexDescriptor(
      indexedColumns = idx,
      includedColumns = incl,
      numBuckets = numBuckets
        .getOrElse(GraftBuckets.forSession(source.sparkSession)),
      schemaJson = "",
      hasLineage = graft.index.GraftConf.lineageEnabled(source.sparkSession))
  }
}

private[index] object GraftBuckets {
  def forSession(spark: SparkSession): Int = graft.index.GraftConf.numBuckets(spark)
}
