package graft.index.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * TABLE INSPECTION — the `DESCRIBE DETAIL` / metadata-table surface
 * both lakehouse ecosystems expose (delta-spark's `DeltaTable.detail`,
 * Iceberg's `<table>.files` / `.partitions` inspection tables),
 * re-expressed over the jarless snapshot models. Everything here is
 * DRIVER-SIDE METADATA already materialized by snapshot replay — the
 * returned DataFrames are bounded by metadata size (O(files) rows at
 * most), never by data size, so inspecting a 100 TB table costs the
 * same log replay its reads already pay.
 *
 * Reference counterpart: the reference surfaces index/table metadata
 * through its own `indexes` DataFrame (Hyperspace.scala:66); the lake
 * formats' inspection verbs are the same idea applied to the sources.
 */
private[sources] case class LakeDetailRow(
    format: String, location: String, id: Long,
    num_files: Long, size_in_bytes: Long,
    num_delete_files: Long,
    partition_columns: Seq[String],
    properties: Map[String, String],
    min_reader_version: Option[Int], min_writer_version: Option[Int])

private[sources] case class LakeFileRow(
    file_path: String, file_size_in_bytes: Long,
    partition: Map[String, String], seq_number: Long,
    has_deletion_vector: Boolean, stats: Option[String])

private[sources] case class LakeDeleteFileRow(
    file_path: String, file_size_in_bytes: Long,
    content: String, seq_number: Long, equality_columns: Seq[String])

private[sources] case class LakeManifestRow(
    manifest_path: String, manifest_length: Long,
    content: String, added_snapshot_id: Option[Long])

object LakeInspect {

  /** Static schema of [[detail]], for the SQL command's fixed output. */
  val detailSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[LakeDetailRow].schema

  /** One-row `DESCRIBE DETAIL`: format, current id/version, file and
    * byte counts, partition spec, properties, protocol. */
  def detail(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val row =
      if (DeltaLog.isDeltaTable(spark, path)) {
        val s = DeltaLog.snapshot(spark, path)
        LakeDetailRow("delta", path, s.version, s.files.size.toLong,
          s.files.map(_.size).sum,
          s.files.count(_.dv.exists(_.cardinality > 0)).toLong,
          s.partitionColumns, s.configuration,
          Some(s.minReaderVersion), Some(s.minWriterVersion))
      } else if (IcebergMeta.isIcebergTable(spark, path)) {
        val s = IcebergMeta.snapshot(spark, path)
        LakeDetailRow("iceberg", path, s.snapshotId, s.files.size.toLong,
          s.files.map(_.size).sum, s.deleteFiles.size.toLong,
          s.partitionFields.map(_.toString), s.properties, None, None)
      } else {
        throw new IllegalArgumentException(
          s"$path is neither a Delta nor an Iceberg table")
      }
    Seq(row).toDF()
  }

  /** One row per live data file: path, size, partition tuple (hidden
    * transforms included on Iceberg), sequence/commit bookkeeping, DV
    * presence (Delta), stats JSON when the log carries it. */
  def files(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val rows: Seq[LakeFileRow] =
      if (DeltaLog.isDeltaTable(spark, path)) {
        val s = DeltaLog.snapshot(spark, path)
        val partFields = s.partitionColumns
        s.files.map { f =>
          val pvals = f.path.split('/').init.flatMap { seg =>
            seg.split("=", 2) match {
              case Array(k, v) if partFields.contains(k) => Some(k -> v)
              case _ => None
            }
          }.toMap
          LakeFileRow(f.path, f.size, pvals, 0L,
            f.dv.exists(_.cardinality > 0), f.stats)
        }
      } else {
        val s = IcebergMeta.snapshot(spark, path)
        s.files.map { f =>
          val tuple = s.partitionValues
            .getOrElse(DeltaTable.normPath(f.path), Map.empty)
            .map { case (k, v) => k -> v.map(_.toString).getOrElse("null") }
          LakeFileRow(f.path, f.size, tuple,
            s.dataSeq.getOrElse(f.path, 0L), has_deletion_vector = false,
            f.stats)
        }
      }
    rows.toDF()
  }

  /** Iceberg delete files in force (positional + equality); empty for
    * Delta (deletes live as DVs on the data files — see [[files]]). */
  def deleteFiles(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val rows: Seq[LakeDeleteFileRow] =
      if (DeltaLog.isDeltaTable(spark, path)) Nil
      else {
        val s = IcebergMeta.snapshot(spark, path)
        s.deleteFiles.map { d =>
          LakeDeleteFileRow(d.path, d.size,
            if (d.content == 2) "equality" else "position", d.seq,
            d.equalityIds.flatMap(s.fieldIdToName.get))
        }
      }
    rows.toDF()
  }

  /** The current snapshot's manifest list (Iceberg's `.manifests`
    * inspection table): one row per manifest with its length, content
    * kind, and the snapshot that added it. Observable effect of fast
    * appends (one manifest per ingest commit) vs
    * [[IcebergTable.rewriteManifests]] (back to one). Empty for Delta —
    * its log has no manifest tier. */
  def manifests(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    if (DeltaLog.isDeltaTable(spark, path))
      return Seq.empty[LakeManifestRow].toDF()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val log = IcebergMeta.snapshotLog(IcebergMeta.currentMetadata(fs, path)._2)
    // v1 snapshots with inline `manifests` have no manifest-list tier
    // to inspect (nor has a table without a snapshot): empty result,
    // matching the schema
    val ml = IcebergMeta.manifestListPathOf(path, log, log.currentId)
    val rows = ml.toSeq.flatMap(IcebergMeta.readManifestListRecords(fs, _))
      .map { r =>
        LakeManifestRow(
          r.get("manifest_path").toString,
          r.get("manifest_length").toString.toLong,
          if (IcebergMeta.fieldOpt(r, "content")
                .exists(_.toString.toInt == 1)) "deletes" else "data",
          IcebergMeta.fieldOpt(r, "added_snapshot_id")
            .map(_.toString.toLong))
      }
    rows.toDF()
  }

  /** Per-partition rollup: tuple → live file count + bytes. On an
    * unpartitioned table this is one all-files row with an empty
    * tuple. */
  def partitions(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // maps aren't groupable — group by the sorted entry array and
    // rebuild the map for the output
    files(spark, path)
      .withColumn("__entries", sort_array(map_entries(col("partition"))))
      .groupBy(col("__entries"))
      .agg(count(lit(1)).as("file_count"),
        sum(col("file_size_in_bytes")).as("total_size_in_bytes"))
      .select(
        when(size(col("__entries")) > 0, map_from_entries(col("__entries")))
          .otherwise(typedLit(Map.empty[String, String])).as("partition"),
        col("file_count"), col("total_size_in_bytes"))
  }
}
