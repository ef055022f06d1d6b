package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** Everything an index build/refresh needs from the environment. */
final case class IndexBuildContext(
    spark: SparkSession,
    dataPath: String,
    tracker: FileIdTracker)

/**
 * A persisted index definition + its operations (re-derived from the
 * reference's `Index` trait, index/Index.scala:32-160). Implementations:
 * covering, z-order covering, data-skipping.
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

  /** Rebuild index data for appended source files only (incremental
    * refresh). Default: full rebuild semantics are handled by the caller. */
  def buildIncremental(ctx: IndexBuildContext, appended: DataFrame): IndexDescriptor =
    build(ctx, appended)
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
