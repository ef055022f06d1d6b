package graft.index.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, regexp_replace}
import org.apache.spark.sql.types.StructType

/**
 * The format-independent steps of the row-level DML verbs —
 * `deleteWhere`, `update` and `merge` — that [[DeltaTable]] and
 * [[IcebergTable]] share: the txn replay check, the stats-pruned
 * matched-position scan, the SET checks and application of `update`,
 * and the validation and split of a `merge` source. Each format keeps
 * only what differs (Delta: deletion vectors, column mapping, CDF,
 * generated/identity columns and constraints; Iceberg: positional and
 * equality delete files and the partition spec) and commits through its
 * own tail.
 *
 * One rule holds for both formats: a `deleteWhere` or `update` that
 * matches no row (an empty table included) commits nothing and returns
 * the prior version / snapshot id.
 */
private[sources] object LakeDml {

  /** Was `txn` already applied? `applied` holds the table's committed
    * (appId → version) watermarks; a replayed micro-batch whose twin
    * already committed must no-op, never re-apply. */
  def replayed(applied: Map[String, Long],
      txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, v) => applied.get(app).exists(_ >= v) }

  /** The (`file_path`, `pos`) coordinates of the rows `matching` keeps
    * out of `files`: the parquet reader's `_metadata` columns, paths
    * scheme-normalized (the form both delete encodings store). The scan
    * recovers hive partition values under `basePath`, and when
    * `statsSchema` is given it wraps log/manifest-stats FILE SKIPPING,
    * so a narrow predicate opens only the files whose ranges admit it.
    * Whatever `matching` projects must keep `_metadata` riding along. */
  def matchedPositions(spark: SparkSession, basePath: String,
      files: Seq[DeltaFileMeta], readSchema: StructType,
      statsSchema: Option[StructType],
      matching: DataFrame => DataFrame): DataFrame = {
    val paths = files.map(_.path)
    val raw = DeltaTable.maybeBasePath(spark, basePath,
      spark.read.schema(readSchema), paths).parquet(paths: _*)
    val scan = statsSchema match {
      case Some(s) => StatsPruning.wrap(raw, files.flatMap(f =>
        f.stats.flatMap(DeltaStats.parse(_, s))
          .map(DeltaTable.normPath(f.path) -> _)).toMap)
      case None => raw
    }
    matching(scan).select(
      regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
        .as("file_path"),
      col("_metadata.row_index").as("pos"))
  }

  /** Refuse a SET map `update` cannot apply: empty, naming a column the
    * table lacks, or touching a partition column (a cross-partition
    * rewrite is a merge). */
  def checkSet(root: String, set: Map[String, Column], schema: StructType,
      partitionCols: Seq[String]): Unit = {
    require(set.nonEmpty, s"update at $root: no SET expressions given")
    val tableCols = schema.fieldNames.toSeq
    set.keys.foreach(k => require(tableCols.contains(k),
      s"update at $root: SET column '$k' is not a table column " +
        s"(have ${tableCols.mkString(", ")})"))
    require(!set.keys.exists(partitionCols.contains),
      s"update at $root: SET touches a partition column " +
        "(rewrites rows across partitions); use merge instead")
  }

  /** `rows` with `set` applied — each expression evaluated against the
    * OLD row — projected to the table columns. Refuses a SET that
    * changes a column's type (cast inside the expression instead). */
  def applySet(root: String, rows: DataFrame, set: Map[String, Column],
      schema: StructType): DataFrame = {
    val updated = set.foldLeft(rows) { case (df, (k, c)) => df.withColumn(k, c) }
      .select(schema.fieldNames.toSeq.map(col): _*)
    schema.fields.zip(updated.schema.fields).foreach { case (tf, uf) =>
      require(tf.dataType == uf.dataType,
        s"update at $root: SET makes column '${tf.name}' " +
          s"${uf.dataType.simpleString} but the table declares " +
          s"${tf.dataType.simpleString}; cast inside the expression")
    }
    updated
  }

  /** A validated merge source: every source row, the delete markers and
    * the upserts, each projected to the table columns in table order,
    * and the source keys' [min, max] (see [[MergePruning.keyStats]]). */
  final case class MergeSource(src: DataFrame, dels: DataFrame,
      ups: DataFrame, keyBounds: Option[Seq[(String, Any, Any)]])

  /** Validate a merge source against the table and split it. `keys`
    * must be table columns; a pre-flagged source (the streaming
    * CDC-apply sink's shape) may carry [[LakeMerge.DeleteMarker]]
    * instead of a `deleteCondition`, never both; the remaining columns
    * must be exactly the table's, with the table's types; duplicate
    * keys refuse (the "multiple source rows matched" ambiguity: one
    * target row would be replaced twice). The duplicate check and the
    * key bounds are one aggregate over the source. */
  def mergeSource(root: String, source: DataFrame, keys: Seq[String],
      deleteCondition: Option[Column],
      schema: StructType): MergeSource = {
    require(keys.nonEmpty, s"merge into $root: no key columns given")
    val tableCols = schema.fieldNames.toSeq
    keys.foreach(k => require(tableCols.contains(k),
      s"merge into $root: key column '$k' is not a table column " +
        s"(have ${tableCols.mkString(", ")})"))
    val (markerless, delCond) =
      if (source.columns.contains(LakeMerge.DeleteMarker)) {
        require(deleteCondition.isEmpty,
          s"merge into $root: pass EITHER a ${LakeMerge.DeleteMarker} " +
            "column or a deleteCondition, not both")
        (source.drop(LakeMerge.DeleteMarker),
          Some(col(LakeMerge.DeleteMarker)))
      } else (source, deleteCondition)
    require(markerless.columns.toSet == tableCols.toSet,
      s"merge into $root: source columns " +
        s"${markerless.columns.mkString(", ")} must match the table columns " +
        s"${tableCols.mkString(", ")} exactly")
    val src = markerless.select(tableCols.map(markerless.col): _*)
    schema.fields.zip(src.schema.fields).foreach { case (tf, sf) =>
      require(tf.dataType == sf.dataType,
        s"merge into $root: column '${tf.name}' is " +
          s"${sf.dataType.simpleString} in the source but the table " +
          s"declares ${tf.dataType.simpleString}; cast it first")
    }
    val (maxRowsPerKey, keyBounds) = MergePruning.keyStats(src, keys)
    require(maxRowsPerKey <= 1L,
      s"merge into $root: source has duplicate values of " +
        s"(${keys.mkString(", ")}); deduplicate the source first")
    // flag against `source` (the marker column, if any, lives there),
    // then project down to the table columns
    val flagged = source.withColumn("__graft_is_delete",
      delCond.map(c => coalesce(c, lit(false))).getOrElse(lit(false)))
    MergeSource(src,
      flagged.filter(col("__graft_is_delete")).select(tableCols.map(col): _*),
      flagged.filter(!col("__graft_is_delete")).select(tableCols.map(col): _*),
      keyBounds)
  }
}
