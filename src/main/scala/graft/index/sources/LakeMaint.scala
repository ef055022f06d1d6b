package graft.index.sources

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/**
 * The format-independent planning steps of the lake maintenance verbs —
 * Delta `OPTIMIZE` and Iceberg `compactSmall` / `compactSort` — that
 * [[DeltaTable]] and [[IcebergTable]] share: scoping the candidate files
 * to the partitions an `OPTIMIZE … WHERE` predicate admits, the
 * first-fit bin-pack of small files within one partition directory, and
 * the hive partition-path parse both formats read values with.
 * Z-order clustering is [[graft.index.zorder.ZOrderBuild.clustered]];
 * the orphan sweep is [[FsSweep.sweep]]. Each format keeps its own
 * rewrite, staging and commit.
 */
private[sources] object LakeMaint {

  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  /** Hive partition values (`col=value` directory segments, URL-decoded,
    * in path order) of a file path; the file name itself is never a
    * segment. */
  def hiveValues(path: String): List[(String, String)] =
    path.split('/').init.flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toList

  /** `files` scoped to those whose partition values satisfy `where` (all
    * of them when there is none). `columns` are the partition columns the
    * predicate may name, each with the type it is evaluated at;
    * `valuesOf` reads a file's raw hive value per column name. Exact
    * Catalyst evaluation over a one-row-per-file frame, so
    * `date_col >= '2024-01-01'` scopes correctly: O(files) driver
    * metadata, no data scan. `what` prefixes the refusals (`OPTIMIZE
    * WHERE at <root>`): an unpartitioned table, or a predicate naming
    * anything but a partition column. */
  def scopeByPartition(spark: SparkSession, files: Seq[DeltaFileMeta],
      where: Option[Column], columns: Seq[(String, DataType)],
      what: String)(valuesOf: DeltaFileMeta => Map[String, String])
      : Seq[DeltaFileMeta] = where match {
    case None => files
    case Some(w) =>
      require(columns.nonEmpty, s"$what: the table is unpartitioned")
      val rows = files.map { f =>
        val m = valuesOf(f)
        Row.fromSeq(f.path +: columns.map { case (n, _) =>
          m.get(n).filterNot(_ == HiveNull).orNull
        })
      }
      val raw = StructType(StructField("__path", StringType) +:
        columns.map { case (n, _) => StructField(n, StringType) })
      val typed = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), raw)
        .select(col("__path") +: columns.map { case (n, dt) =>
          col(n).cast(dt).as(n)
        }: _*)
      val kept =
        try typed.filter(w).select("__path").collect()
          .map(_.getString(0)).toSet
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"$what must reference partition columns only " +
                s"(${columns.map(_._1).mkString(", ")})", e)
        }
      files.filter(f => kept.contains(f.path))
  }

  /** First-fit bin-pack of the files under `targetSizeBytes`: grouped by
    * `dirOf` (a rewritten file keeps one partition tuple, so bins never
    * cross a partition directory), largest first into the first bin with
    * room. Only bins of two or more files come back — a lone file has
    * nothing to merge with. Directories in sorted order, so the rewrite
    * is deterministic. */
  def binPack(files: Seq[DeltaFileMeta], targetSizeBytes: Long)(
      dirOf: DeltaFileMeta => String): Seq[Seq[DeltaFileMeta]] =
    files.filter(_.size < targetSizeBytes).groupBy(dirOf).toSeq
      .sortBy(_._1).flatMap { case (_, group) =>
        val bins = mutable.Buffer.empty[(Vector[DeltaFileMeta], Long)]
        group.sortBy(-_.size).foreach { f =>
          bins.indexWhere(_._2 + f.size <= targetSizeBytes) match {
            case -1 => bins += ((Vector(f), f.size))
            case i => bins(i) = (bins(i)._1 :+ f, bins(i)._2 + f.size)
          }
        }
        bins.map(_._1).filter(_.size >= 2)
      }
}
