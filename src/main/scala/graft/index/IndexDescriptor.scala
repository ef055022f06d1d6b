package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Everything an index build/refresh needs from the environment. */
final case class IndexBuildContext(
    spark: SparkSession,
    dataPath: String,
    tracker: FileIdTracker)

/**
 * A persisted index definition + its operations (re-derived from the
 * reference's `Index` trait, index/Index.scala:32-160). Implementations:
 * covering, z-order covering, data-skipping, IVF and MinHash. Each kind
 * owns its maintenance rules; [[IndexManager]] runs the actions and
 * writes the log.
 *
 * Descriptors are immutable case classes serialized polymorphically into
 * the metadata log (discriminator = runtime class short name).
 */
trait IndexDescriptor {
  def kind: String
  def kindAbbr: String

  /** Columns the index is keyed on (bucket/sort/z-order/sketch columns). */
  def indexedColumns: Seq[String]

  /** All source columns referenced by this index. */
  def referencedColumns: Seq[String]

  /** Can a query needing `columns` be answered entirely from index data? */
  def covers(columns: Seq[String]): Boolean

  /** Schema of the written index data, recorded at build (empty in an
    * entry logged before the build ran). */
  def schemaJson: String

  /** Build index data from the source and write it under ctx.dataPath.
    * Returns the (possibly enriched, e.g. schema-bearing) descriptor. */
  def build(ctx: IndexBuildContext, source: DataFrame): IndexDescriptor

  /** Can an incremental refresh drop the rows of deleted source files?
    * Checked before the refresh writes anything. */
  def canHandleDeletedFiles: Boolean = true

  /** Incremental refresh: write the index data of `in` under
    * ctx.dataPath; returns the new descriptor and the old files it keeps. */
  def refreshIncremental(ctx: IndexBuildContext,
      in: RefreshInput): (IndexDescriptor, Seq[FileMeta])

  /** Quick optimize: the `files` to rewrite, given the `small` ones.
    * Default: each [[compactionGroup]] holding two or more small files. */
  def quickCompaction(files: Seq[FileMeta], small: Seq[FileMeta]): Set[FileMeta] =
    small.groupBy(compactionGroup).values.filter(_.size >= 2).flatten.toSet

  /** The quick-optimize group of an index file (default: one group). */
  def compactionGroup(file: FileMeta): String = ""

  /** Optimize: rewrite `files` (read as `data`) under ctx.dataPath;
    * `keptAny` tells whether other index files stay in content. */
  def compact(ctx: IndexBuildContext, files: ContentMeta, data: => DataFrame,
      keptAny: Boolean): IndexDescriptor

  /** Version dirs vacuum keeps although content holds no file in them. */
  def protectedDirs: Set[String] = Set.empty
}

/** The input of an incremental refresh: the appended source files (None
  * when files were only deleted), the deleted files' ids, the old index
  * data read under the logged schema, the current source and the old
  * index files. The reads are built on first use: a kind reads only what
  * its rule needs. */
final class RefreshInput(appendedDf: => Option[DataFrame],
    val deletedIds: Seq[Long], oldDataDf: => DataFrame,
    val source: DataFrame, val oldFiles: Seq[FileMeta]) {
  lazy val appended: Option[DataFrame] = appendedDf
  lazy val oldData: DataFrame = oldDataDf

  /** Merge or rewrite (covering, data-skipping; reference:
    * CoveringIndexTrait.scala:58-77), for rows that carry their source
    * file id in `fileIdColumn`: with no deleted file, `write` only the
    * appended `rows` and keep every old file; else rewrite the old rows
    * of surviving files with the appended rows and keep none. */
  def mergeOrRewrite(fileIdColumn: String)(rows: DataFrame => DataFrame)(
      write: DataFrame => IndexDescriptor): (IndexDescriptor, Seq[FileMeta]) =
    if (deletedIds.isEmpty) (write(rows(appended.get)), oldFiles)
    else {
      val keep = oldData.filter(!col(fileIdColumn).isin(deletedIds: _*))
      (write(appended.fold(keep)(a => keep.unionByName(rows(a)))), Nil)
    }
}

/** The rule of the kinds whose deleted source files become tombstones
  * (IVF, MinHash): a refresh writes only the appended rows and records the
  * deleted file ids, which reads anti-filter. While tombstones remain,
  * quick optimize rewrites every small file; the rewrite drops tombstoned
  * rows, and the list clears only when no other file was kept (a kept
  * file may still hold dead rows). */
trait TombstoneIndex extends IndexDescriptor {
  def tombstones: Seq[Long]
  def withTombstones(ids: Seq[Long]): TombstoneIndex

  /** Write the index rows of appended source files under ctx.dataPath. */
  protected def writeAppended(ctx: IndexBuildContext, appended: DataFrame): Unit

  /** Rewrite `files` under ctx.dataPath with tombstoned rows dropped. */
  protected def rewrite(ctx: IndexBuildContext, files: ContentMeta): Unit

  override def refreshIncremental(ctx: IndexBuildContext,
      in: RefreshInput): (IndexDescriptor, Seq[FileMeta]) = {
    in.appended.foreach(writeAppended(ctx, _))
    (withTombstones((tombstones ++ in.deletedIds).distinct), in.oldFiles)
  }

  override def quickCompaction(files: Seq[FileMeta],
      small: Seq[FileMeta]): Set[FileMeta] =
    if (tombstones.nonEmpty) small.toSet
    else super.quickCompaction(files, small)

  override def compact(ctx: IndexBuildContext, files: ContentMeta,
      data: => DataFrame, keptAny: Boolean): IndexDescriptor = {
    rewrite(ctx, files)
    if (keptAny) this else withTombstones(Nil)
  }
}

/** Reads of a [[TombstoneIndex]]'s data. */
trait TombstoneReads {
  /** Each row's source file id (the covering indexes' lineage column). */
  val LineageColumn: String = covering.CoveringIndexDescriptor.LineageColumn

  /** Drop tombstoned rows (plus any `extraFids` — query-time drift
    * deletes use the same semantics). NULL-safe: under `!isin` alone,
    * SQL three-valued logic silently drops any NULL-lineage row, and
    * index data written before lineage existed has no such column at
    * all — both must be RETAINED (a row we cannot attribute to a
    * deleted file is live until a rewrite proves otherwise). */
  def antiTombstone(df: DataFrame, d: TombstoneIndex,
      extraFids: Seq[Long] = Nil): DataFrame = {
    val dead = (d.tombstones ++ extraFids).distinct
    if (dead.isEmpty || !df.columns.contains(LineageColumn)) df
    else df.filter(col(LineageColumn).isNull ||
      !col(LineageColumn).isin(dead: _*))
  }
}

/** User-facing index configuration (reference: IndexConfigTrait.scala:31-59). */
trait IndexConfig {
  def indexName: String
  /** Source columns the config needs to resolve against the DataFrame. */
  def referencedColumns: Seq[String]
  /** Resolve against the source schema and produce the descriptor. */
  def toDescriptor(source: DataFrame): IndexDescriptor
}

/** Reads of index data files. */
object IndexData {

  /** `spark.read.parquet(paths)` under the schema the log entry recorded
    * at build, so the read starts no footer-inference job. A file read
    * reports every field nullable, so the logged schema is applied that
    * way; partition columns (IVF's cell) are taken from the directory
    * layout under `basePath` as usual. An empty `schemaJson` (an entry
    * logged before the build recorded it) still infers. */
  def parquet(spark: SparkSession, schemaJson: String, paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val reader = basePath.foldLeft(spark.read)(_.option("basePath", _))
    (if (schemaJson.isEmpty) reader
     else reader.schema(GraftBridge.asNullable(
       DataType.fromJson(schemaJson).asInstanceOf[StructType])))
      .parquet(paths: _*)
  }
}
