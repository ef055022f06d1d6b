package graft.index.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{SaveMode => BatchSaveMode}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.index.rules.PlanArtifacts
import graft.streaming.SparkStreamingInternals

/**
 * THE LAKE STREAMING CONNECTOR over the jarless Delta and Iceberg logs:
 * `spark.readStream.format("graft-delta").load(path)` (and
 * `graft-iceberg`) micro-batches exactly the rows each new commit
 * appended, with offsets = the last served commit version / snapshot id,
 * so a restart resumes from the checkpoint without re-serving a row;
 * `df.writeStream.format(...)` is the exactly-once sink, and
 * `spark.read` / `df.write` the batch reader and writer.
 *
 * One connector serves both formats: [[LakeStreamProvider]],
 * [[LakeStreamSource]] and [[LakeStreamSink]] hold the offsets, the
 * admission-control and AvailableNow protocol, `skipChangeCommits`,
 * `readChangeFeed`, the save modes and the recreated-table check once,
 * and ask a per-format [[LakeFeed]] ([[DeltaFeed]], [[IcebergFeed]])
 * only for what the log format decides — the shape of Hyperspace's
 * source-provider SPI, whose core stays format-blind.
 *
 * The source implements the v1 `Source` API — `getBatch(start, end]`
 * returns the appended rows as a streaming frame — the same API the
 * real Delta connector uses for its streaming source. Row-deleting
 * commits cannot be represented in an append stream: they fail loudly
 * by default, or are skipped with `skipChangeCommits=true` (the Delta
 * option of the same name); `readChangeFeed=true` serves the change
 * feed instead, deletes included.
 *
 * Scale: offset arithmetic and commit parsing are driver-side metadata;
 * each micro-batch plans a plain parquet scan of just the new files —
 * partition-parallel, pushdown intact, no state beyond the checkpoint.
 */
abstract class LakeStreamProvider(override val shortName: String,
    feedOf: (SparkSession, String, Map[String, String]) => LakeFeed)
    extends StreamSourceProvider with StreamSinkProvider with RelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  private def feed(sqlContext: SQLContext,
      parameters: Map[String, String]): LakeFeed =
    feedOf(sqlContext.sparkSession,
      parameters.getOrElse("path", throw new IllegalArgumentException(
        s"$shortName needs .load(<table path>)")),
      parameters)

  /** BATCH write — `df.write.format(shortName).mode(m).save(path)`.
    * Partition columns ride the `partitionBy` OPTION (comma-separated,
    * Iceberg transforms like `"bucket(16, id), days(ts)"` whole; the
    * writer's own partitionBy() is a file-source feature the v1
    * provider API does not deliver here). */
  override def createRelation(sqlContext: SQLContext, mode: BatchSaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val f = feed(sqlContext, parameters)
    val parts = parameters.get("partitionBy").toSeq
      .flatMap(LakeFeed.splitTransforms)
    val exists = f.exists
    // batch WAP: `.option("branch", b)` appends to a branch; main stays
    // put until fastForward publishes
    f.branch.foreach { b =>
      require(mode == BatchSaveMode.Append,
        s"the branch option targets audit APPENDS; ${mode.name} to " +
          s"branch '$b' is not a write-audit-publish shape")
      require(exists, s"branch write at ${f.path} needs an existing " +
        s"${f.kind} table (create it first, then write to the branch)")
    }
    mode match {
      case BatchSaveMode.Overwrite => f.overwrite(data, parts)
      case BatchSaveMode.Append =>
        if (exists) f.append(data, parts, None, mergeSchema = false)
        else f.create(data, parts, None)
      case BatchSaveMode.ErrorIfExists =>
        if (exists) throw new IllegalArgumentException(
          s"${f.path} is already a ${f.kind} table (SaveMode.ErrorIfExists)")
        else f.create(data, parts, None)
      case BatchSaveMode.Ignore =>
        if (!exists) f.create(data, parts, None)
    }
    createRelation(sqlContext, parameters - "partitionBy")
  }

  /** BATCH read — `spark.read.format(shortName).load(path)` with each
    * format's time-travel options ([[LakeFeed.read]]): stats skipping,
    * hidden-partition pruning and merge-on-read apply unchanged; pushed
    * filters re-apply inside for file pruning. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    new LakeBatchRelation(sqlContext, feed(sqlContext, parameters).read())

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"$shortName sink supports Append output mode only, got $outputMode")
    new LakeStreamSink(feed(sqlContext, parameters), partitionColumns)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName, LakeStreamSource.schemaOf(feed(sqlContext, parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new LakeStreamSource(feed(sqlContext, parameters))
}

/** `graft-delta`: offsets are commit versions. */
final class DeltaStreamProvider
    extends LakeStreamProvider("graft-delta", new DeltaFeed(_, _, _))

/** `graft-iceberg`: offsets are snapshot ids. */
final class IcebergStreamProvider
    extends LakeStreamProvider("graft-iceberg", new IcebergFeed(_, _, _))

/**
 * Batch-read `BaseRelation` wrapping an already-optimized lake
 * DataFrame: the relation's scan IS the inner plan (stats skipping,
 * hidden-partition pruning, merge-on-read deletes all intact). Pushed filters
 * re-apply to the inner frame — that is what lets log-level FILE
 * SKIPPING see them; Spark still re-evaluates every filter above
 * (`unhandledFilters` = all), so partial translation is always sound.
 * Column pruning projects the inner frame, narrowing the parquet
 * ReadSchema. `needConversion = false`: the scan emits the inner
 * plan's InternalRows directly — no per-row conversion.
 */
private[sources] final class LakeBatchRelation(
    override val sqlContext: SQLContext, df: DataFrame)
    extends BaseRelation with PrunedFilteredScan {

  override def schema: StructType = df.schema
  override def needConversion: Boolean = false
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col => c, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(c(a) === lit(v))
      case GreaterThan(a, v) => Some(c(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case LessThan(a, v) => Some(c(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case In(a, vs) => Some(c(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(c(a).isNull)
      case IsNotNull(a) => Some(c(a).isNotNull)
      case StringStartsWith(a, p) => Some(c(a).startsWith(p))
      case And(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case Not(inner) => toColumn(inner).map(!_)
      case _ => None // skipped here; Spark evaluates it above
    }
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val filtered = filters.foldLeft(df)((d, f) =>
      toColumn(f).map(d.filter).getOrElse(d))
    // ALWAYS project to exactly the requested columns — the scan's
    // declared output is requiredColumns, and with needConversion=false
    // the InternalRow layout must match it (zero-column projections
    // included: count(*) requests no columns)
    val projected =
      filtered.select(requiredColumns.toIndexedSeq.map(filtered.col): _*)
    projected.queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }
}

private[sources] object StreamRateLimit {

  /** `maxBytesPerTrigger` accepts a plain byte count or a k/m/g suffix
    * (the delta-spark option's dialect). */
  def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase
    val (num, mult) = t.last match {
      case 'k' => (t.init, 1L << 10)
      case 'm' => (t.init, 1L << 20)
      case 'g' => (t.init, 1L << 30)
      case _ => (t, 1L)
    }
    val v = num.toLong * mult
    require(v > 0, s"maxBytesPerTrigger must be positive, got $s")
    v
  }

  /** `startingTimestamp` accepts epoch millis, `yyyy-MM-dd`,
    * `yyyy-MM-dd HH:mm:ss[.fff]`, or an ISO-8601 instant. */
  def parseTimestamp(s: String): Long = {
    val t = s.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else scala.util.Try(java.sql.Timestamp.valueOf(t).getTime)
      .orElse(scala.util.Try(
        java.sql.Date.valueOf(t).toLocalDate
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli))
      .orElse(scala.util.Try(java.time.Instant.parse(t).toEpochMilli))
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse startingTimestamp '$s' (epoch millis, " +
          "yyyy-MM-dd, yyyy-MM-dd HH:mm:ss, or ISO-8601 instant)"))
  }

  /** The configured caps as the engine's ReadLimit vocabulary — what
    * `getDefaultReadLimit` advertises (progress reporting and the
    * AvailableNow machinery read it); admission itself interprets the
    * same caps commit-granularly in [[admit]]. */
  def toReadLimit(maxFiles: Option[Long], maxBytes: Option[Long]): ReadLimit =
    (maxFiles, maxBytes) match {
      case (Some(f), Some(b)) => ReadLimit.compositeLimit(
        Array(ReadLimit.maxFiles(f.toInt), ReadLimit.maxBytes(b)))
      case (Some(f), None) => ReadLimit.maxFiles(f.toInt)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case (None, None) => ReadLimit.allAvailable()
    }

  /** Admit commits in order while the caps hold — ALWAYS at least one
    * (a single commit larger than the cap must still make progress;
    * commits are the admission granule, like the Iceberg connector's
    * snapshot-granular streaming). Returns the last admitted id. */
  def admit(stats: Seq[(Long, Long, Long)], maxFiles: Option[Long],
      maxBytes: Option[Long]): Option[Long] = {
    var files = 0L
    var bytes = 0L
    var admitted: Option[Long] = None
    val it = stats.iterator
    var stop = false
    while (it.hasNext && !stop) {
      val (id, f, b) = it.next()
      if (admitted.isDefined &&
          (maxFiles.exists(m => files + f > m) ||
            maxBytes.exists(m => bytes + b > m))) {
        stop = true
      } else {
        files += f; bytes += b; admitted = Some(id)
      }
    }
    admitted
  }
}

/** Where a fresh stream starts: the `startingVersion` /
  * `startingSnapshotId` and `startingTimestamp` options. */
sealed trait StreamStart
object StreamStart {
  /** No starting option: the whole history. */
  case object Earliest extends StreamStart
  /** `latest`: only commits after the stream starts. */
  case object Latest extends StreamStart
  /** A commit id: serve it and everything after. */
  final case class AtId(id: Long) extends StreamStart
  /** Serve commits made at or after this epoch-millis time. */
  final case class AtTime(ms: Long) extends StreamStart
}

/**
 * What the lake connector asks of one table format, bound to one table
 * path and the reader/writer options. Offsets are commit ids on the
 * format's own clock (Delta versions, Iceberg snapshot ids; both grow
 * with every commit), and a range `(from, to]` is exclusive of `from`.
 */
abstract class LakeFeed(val spark: SparkSession, val path: String,
    val options: Map[String, String]) {

  /** The format's name in messages ("Delta", "Iceberg"). */
  def kind: String
  /** The change feed's commit-id column. */
  def idColumn: String
  /** The option naming the first commit a fresh stream serves. */
  def startingIdOption: String
  /** The named ref writes target and the source follows (None = the
    * table's main line). */
  def branch: Option[String]

  def exists: Boolean
  /** The table's (data-column) schema, as the stream serves it. */
  def schema: StructType
  /** The exactly-once watermarks: the last committed batch per appId. */
  def transactions: Map[String, Long]
  def create(data: DataFrame, partitions: Seq[String],
      txn: Option[(String, Long)]): Unit
  def append(data: DataFrame, partitions: Seq[String],
      txn: Option[(String, Long)], mergeSchema: Boolean): Unit
  def overwrite(data: DataFrame, partitions: Seq[String]): Unit
  def merge(source: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)]): Unit
  /** Batch read, honoring the format's time-travel options. */
  def read(): DataFrame
  /** Checks the sink-only options and returns the partition columns a
    * first micro-batch creates the table with. */
  def sinkPartitions(partitionBy: Seq[String]): Seq[String]

  /** The followed head: the newest commit id, or -1 for a ref not
    * created yet. */
  def headId(): Long
  /** The exclusive start of a fresh stream. */
  def startAfter(start: StreamStart): Long
  /** Admission load of each commit in `(from, to]`, oldest first:
    * (id, files, bytes); `cdc` counts the files a change-feed batch
    * reads. */
  def loads(from: Long, to: Long, cdc: Boolean): Seq[(Long, Long, Long)]
  /** The rows appended in `(from, to]`; a commit that deletes or
    * rewrites rows refuses when `strict`, else is skipped. */
  def appends(from: Long, to: Long, strict: Boolean): DataFrame
  /** The change feed of `(from, to]`, stamped ([[ChangeStamps]]). */
  def changes(from: Long, to: Long): DataFrame
  /** An identity of the table state that serves `to` — any commit that
    * could change what `(from, to]` reads changes it — or None when it
    * cannot be read: the file signature of one log file. */
  def stateId(to: Long): Option[String]

  private[sources] def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
}

object LakeFeed {
  /** A comma list split outside parentheses, so the Iceberg transform
    * syntax (`"bucket(16, id), days(ts)"`) stays whole. */
  private[sources] def splitTransforms(s: String): Seq[String] =
    s.split(",(?![^(]*\\))").map(_.trim).filter(_.nonEmpty).toSeq
}

/** The Delta feed: commit versions, each commit JSON parsed once per
  * stream for both its admission load and its appended files. */
final class DeltaFeed(spark: SparkSession, path: String,
    options: Map[String, String])
    extends LakeFeed(spark, path, options) {

  private val root = new Path(path)
  private def commitFile(v: Long) = new Path(DeltaLog.logDir(root), f"$v%020d.json")
  def kind: String = "Delta"
  def idColumn: String = ChangeStamps.DeltaId
  def startingIdOption: String = "startingVersion"
  def branch: Option[String] = None

  def exists: Boolean = DeltaLog.isDeltaTable(spark, path)
  /** The stream serves plain-named tables only. */
  lazy val schema: StructType = {
    val s = DeltaLog.snapshot(spark, path)
    if (DeltaColumnMapping.mode(s.configuration) != "none")
      throw new UnsupportedDeltaProtocolException(
        s"Delta table at $path uses column mapping; the graft-delta " +
          "stream source serves plain-named tables only. Stream with the " +
          "delta-spark connector instead.")
    s.schema
  }
  def transactions: Map[String, Long] =
    DeltaLog.snapshot(spark, path).transactions
  def create(data: DataFrame, partitions: Seq[String],
      txn: Option[(String, Long)]): Unit =
    DeltaTable.create(data, path, partitions, txn = txn)
  def append(data: DataFrame, partitions: Seq[String],
      txn: Option[(String, Long)], mergeSchema: Boolean): Unit =
    DeltaTable.append(data, path, partitions, txn, mergeSchema)
  def overwrite(data: DataFrame, partitions: Seq[String]): Unit =
    DeltaTable.create(data, path, partitions)
  def merge(source: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)]): Unit =
    DeltaTable.merge(spark, path, source, keys, txn = txn)

  def read(): DataFrame =
    (options.get("versionAsOf"), options.get("timestampAsOf")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "pass either versionAsOf or timestampAsOf, not both")
      case (Some(v), _) => DeltaTable.read(spark, path, versionAsOf = Some(v.toLong))
      case (_, Some(ts)) => DeltaTable.readTimestampAsOf(spark, path,
        StreamRateLimit.parseTimestamp(ts))
      case _ => DeltaTable.read(spark, path)
    }

  def sinkPartitions(partitionBy: Seq[String]): Seq[String] = {
    require(!options.contains("partitionSpec"),
      "partitionSpec (Iceberg partition transforms) is not supported " +
        "by the graft-delta sink; use partitionBy for hive columns")
    require(!options.contains("branch"),
      "the branch option (write-audit-publish) needs the graft-iceberg " +
        "sink; Delta has no snapshot refs")
    partitionBy
  }

  def headId(): Long = DeltaLog.latestVersion(spark, path)

  def startAfter(start: StreamStart): Long = start match {
    case StreamStart.Earliest => -1L
    case StreamStart.Latest => headId()
    case StreamStart.AtId(v) => v - 1
    case StreamStart.AtTime(ms) =>
      LakeTable.firstIdAtOrAfter(DeltaTable.commits(spark, path), ms) - 1
  }

  import DeltaFeed.Commit

  /** Parsed commits of this stream. Commits are immutable, so entries
    * never invalidate; versions at or before a served offset drop. */
  private val parsed = mutable.Map.empty[Long, Commit]

  private def commit(v: Long): Commit = parsed.getOrElseUpdate(v, {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    var files, bytes, cdcFiles, cdcBytes = 0L
    val adds = mutable.Buffer.empty[String]
    var rewrites = false
    DeltaLog.readLines(fs, commitFile(v)).foreach { line =>
      val j = JsonMethods.parse(line)
      def size(kind: String): Long = (j \ kind \ "size") match {
        case JInt(n) => n.toLong
        case JLong(n) => n
        case _ => 0L
      }
      def dataChange(kind: String): Boolean = (j \ kind \ "dataChange") match {
        case JBool(b) => b
        case _ => true
      }
      (j \ "add" \ "path") match {
        case JString(p) =>
          files += 1; bytes += size("add")
          if (dataChange("add")) (j \ "add" \ "deletionVector") match {
            case JObject(_) => rewrites = true
            case _ => adds += DeltaLog.resolvePath(root, p)
          }
        case _ =>
      }
      (j \ "cdc" \ "path") match {
        case JString(_) => cdcFiles += 1; cdcBytes += size("cdc")
        case _ =>
      }
      (j \ "remove" \ "path") match {
        case JString(_) if dataChange("remove") => rewrites = true
        case _ =>
      }
    }
    Commit(files, bytes, cdcFiles, cdcBytes,
      if (rewrites) None else Some(adds.toSeq))
  })

  def loads(from: Long, to: Long, cdc: Boolean): Seq[(Long, Long, Long)] = {
    parsed --= parsed.keys.filter(_ <= from).toSeq
    // a change-feed batch reads cdc files instead of (some) adds: count
    // both so the weight tracks what the batch scans
    (from + 1 to to).map { v =>
      val c = commit(v)
      if (cdc) (v, c.files + c.cdcFiles, c.bytes + c.cdcBytes)
      else (v, c.files, c.bytes)
    }
  }

  def appends(from: Long, to: Long, strict: Boolean): DataFrame = {
    val files = (from + 1 to to).flatMap { v =>
      commit(v).appended match {
        case Some(paths) => paths
        case None if !strict => Nil
        case None => throw new UnsupportedDeltaProtocolException(
          s"version $v at $path deletes or rewrites rows; an append " +
            "stream cannot represent it. Pass skipChangeCommits=true to " +
            "skip such commits, or consume DeltaTable.changes instead.")
      }
    }
    if (files.isEmpty) emptyFrame(schema)
    else spark.read.schema(schema).option("basePath", path).parquet(files: _*)
  }

  def changes(from: Long, to: Long): DataFrame =
    DeltaTable.changes(spark, path, from + 1, Some(to))

  /** The commit JSON of `to`: versions are immutable once written, and
    * a recreated table writes it anew. */
  def stateId(to: Long): Option[String] =
    PlanArtifacts.leafSignature(spark, commitFile(to).toString)
}

private object DeltaFeed {
  /** What one commit adds: its add (and cdc) files and bytes, and the
    * data files it appends — None when it deletes or rewrites rows. */
  final case class Commit(files: Long, bytes: Long, cdcFiles: Long,
      cdcBytes: Long, appended: Option[Seq[String]])
}

/** The Iceberg feed: snapshot ids along the followed ref's lineage. */
final class IcebergFeed(spark: SparkSession, path: String,
    options: Map[String, String])
    extends LakeFeed(spark, path, options) {

  def kind: String = "Iceberg"
  def idColumn: String = ChangeStamps.IcebergId
  def startingIdOption: String = "startingSnapshotId"
  /** WRITE-AUDIT-PUBLISH: writes land on a named branch while main
    * serves the last published snapshot, and the audit side streams the
    * branch. A ref not created yet reads as an empty table until the
    * first branch write lands. */
  val branch: Option[String] = options.get("branch").filterNot(_ == "main")

  def exists: Boolean = IcebergMeta.isIcebergTable(spark, path)
  private lazy val opened = IcebergMeta.snapshot(spark, path)
  lazy val schema: StructType = opened.schema
  def transactions: Map[String, Long] = IcebergTable.transactions(spark, path)
  def create(data: DataFrame, partitions: Seq[String],
      txn: Option[(String, Long)]): Unit =
    IcebergTable.create(data, path, txn, partitions)
  def append(data: DataFrame, partitions: Seq[String],
      txn: Option[(String, Long)], mergeSchema: Boolean): Unit =
    IcebergTable.append(data, path, txn, partitions, branch, mergeSchema)
  def overwrite(data: DataFrame, partitions: Seq[String]): Unit =
    IcebergTable.overwrite(data, path, partitionColumns = partitions)
  def merge(source: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)]): Unit =
    IcebergTable.merge(spark, path, source, keys, txn = txn)

  def read(): DataFrame = IcebergTable.read(spark, path,
    snapshotAsOf = options.get("snapshotAsOf").map(_.toLong))

  /** `partitionBy(...)` carries identity columns (the engine validates
    * them against the schema before the sink sees them); the
    * `partitionSpec` OPTION carries the full transform syntax. */
  def sinkPartitions(partitionBy: Seq[String]): Seq[String] =
    options.get("partitionSpec") match {
      case Some(spec) =>
        require(partitionBy.isEmpty,
          "pass EITHER partitionBy(...) or the partitionSpec option, not both")
        LakeFeed.splitTransforms(spec)
      case None => partitionBy
    }

  /** Main's current snapshot, or the branch ref's. */
  def headId(): Long = {
    val s = IcebergMeta.snapshot(spark, path)
    branch.fold(s.snapshotId)(b => s.refs.get(b).map(_.snapshotId).getOrElse(-1L))
  }

  def startAfter(start: StreamStart): Long = start match {
    case StreamStart.Earliest => 0L
    // the FOLLOWED head: under a branch, the ref's snapshot (pinning
    // main would replay the branch's unpublished commits); a ref not
    // created yet starts at main's head, where it will be created
    case StreamStart.Latest =>
      val h = headId()
      if (h >= 0) h else opened.snapshotId
    case StreamStart.AtId(id) => id
    // the newest snapshot strictly before the time (0 when none is)
    case StreamStart.AtTime(ms) =>
      IcebergTable.commits(spark, path)
        .filter(_._2 < ms).lastOption.map(_._1).getOrElse(0L)
  }

  /** Per-snapshot admission loads measured so far. */
  private val loadMemo = mutable.Map.empty[Long, (Long, Long)]

  def loads(from: Long, to: Long, cdc: Boolean): Seq[(Long, Long, Long)] = {
    loadMemo --= loadMemo.keys.filter(_ <= from).toSeq
    IcebergTable.lineageLoad(spark, path, from, to, loadMemo)
  }

  def appends(from: Long, to: Long, strict: Boolean): DataFrame =
    IcebergTable.incrementalAppends(spark, path, from, Some(to), strict)

  def changes(from: Long, to: Long): DataFrame =
    IcebergTable.incrementalChanges(spark, path, from, Some(to))

  /** The current metadata document: every commit writes a new one, so
    * a drop-and-recreate that reuses small snapshot ids misses too. */
  def stateId(to: Long): Option[String] =
    scala.util.Try {
      val loc = new Path(path)
      IcebergMeta.currentMetadataFile(
        loc.getFileSystem(spark.sessionState.newHadoopConf()), path)
    }.toOption.flatMap(f => PlanArtifacts.leafSignature(spark, f.toString))
}

object LakeStreamSource {
  private[sources] def flag(options: Map[String, String], name: String): Boolean =
    options.get(name).exists(_.equalsIgnoreCase("true"))

  /** The stream's schema: the table's, plus the change-feed stamps
    * under `readChangeFeed=true`. */
  def schemaOf(feed: LakeFeed): StructType =
    if (flag(feed.options, "readChangeFeed"))
      ChangeStamps.schema(feed.schema, feed.idColumn)
    else feed.schema
}

/**
 * The v1 streaming source over a [[LakeFeed]]. An offset is the last
 * served commit id; a batch `(start, end]` is that range's appended
 * rows, or its change feed under `readChangeFeed=true` (the streaming
 * twin of `LakeTable.changes`, which needs no delete refusal because
 * deletes are first-class rows in the feed).
 */
final class LakeStreamSource(feed: LakeFeed)
    extends Source with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import feed.{options, path, spark}

  private val cdc = LakeStreamSource.flag(options, "readChangeFeed")
  private val skipChanges = LakeStreamSource.flag(options, "skipChangeCommits")
  override val schema: StructType = LakeStreamSource.schemaOf(feed)

  /** The exclusive start of a fresh stream. It gates only the FIRST
    * batch — on restart the checkpointed offset is authoritative
    * (re-resolving "latest" would silently skip commits that arrived
    * between runs). */
  private val startAfter: Long = feed.startAfter(
    (options.get(feed.startingIdOption), options.get("startingTimestamp")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        s"pass either ${feed.startingIdOption} or startingTimestamp, not both")
      case (Some(v), _) if v.equalsIgnoreCase("latest") => StreamStart.Latest
      case (Some(v), _) => StreamStart.AtId(v.toLong)
      case (None, Some(ts)) =>
        StreamStart.AtTime(StreamRateLimit.parseTimestamp(ts))
      case _ => StreamStart.Earliest
    })

  // RATE LIMITING (delta-spark's options of the same names): cap how
  // far each micro-batch's offset advances, commit-granular, so a
  // restart against a deep backlog — or a fresh stream over a 100 TB
  // table — drains in bounded batches instead of planning one giant one.
  // Implemented through the engine's ADMISSION-CONTROL protocol
  // (SupportsAdmissionControl.latestOffset(start, limit) — the engine
  // supplies the authoritative start offset, so pacing is crash-safe by
  // construction), and SupportsTriggerAvailableNow pins the head at
  // query start so Trigger.AvailableNow DRAINS the whole backlog in
  // bounded batches and then stops (the FileStreamSource contract).
  private val maxFiles: Option[Long] =
    options.get("maxFilesPerTrigger").map(_.toLong)
  private val maxBytes: Option[Long] =
    options.get("maxBytesPerTrigger").map(StreamRateLimit.parseBytes)
  private val rateLimited = maxFiles.isDefined || maxBytes.isDefined
  maxFiles.foreach(m => require(m > 0,
    s"maxFilesPerTrigger must be positive, got $m"))
  /** Trigger.AvailableNow: commits made AFTER query start are out of
    * scope — the drain finishes at this pinned head. */
  private var availableNowCap: Option[Long] = None

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "getOffset is unused: this source implements " +
        "SupportsAdmissionControl (latestOffset)")

  override def initialOffset(): OffsetV2 = LongOffset(startAfter)

  override def getDefaultReadLimit: ReadLimit =
    StreamRateLimit.toReadLimit(maxFiles, maxBytes)

  override def reportLatestOffset(): OffsetV2 = {
    val head = feed.headId()
    LongOffset(if (head < 0) startAfter else head)
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    val head = feed.headId()
    if (head >= 0) availableNowCap = Some(head)
  }

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val head0 = feed.headId()
    // the engine passes the previous end offset — or NULL on a fresh
    // stream's first trigger (v1 sources never see initialOffset)
    val from = Option(start).map(_.json.toLong).getOrElse(startAfter)
    if (start != null) requireNotPastHead(from, head0)
    if (head0 < 0) return LongOffset(from) // no ref yet: no new data
    val head = availableNowCap.fold(head0)(math.min(head0, _))
    if (from >= head || !rateLimited) return LongOffset(math.max(head, from))
    LongOffset(StreamRateLimit.admit(feed.loads(from, head, cdc),
      maxFiles, maxBytes).getOrElse(head))
  }

  /** A checkpointed id AHEAD of the table's head (and of the stream's
    * own start, which may wait for a future commit) is not a replay:
    * ids grow with every commit, so it means the table was dropped and
    * recreated (ids restarted below the checkpoint). Surface the
    * divergence instead of yielding empty batches forever. */
  private def requireNotPastHead(id: Long, head: Long): Unit =
    if (id > math.max(head, startAfter))
      throw new IllegalStateException(
        s"${feed.kind} stream at $path: checkpointed offset $id is beyond " +
          s"the table's current head ($head) — the table appears to have " +
          "been dropped and recreated; restart the stream from a fresh " +
          "checkpoint")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(_.json.toLong).getOrElse(startAfter)
    val to = end.json.toLong
    requireNotPastHead(to, feed.headId())
    // `from >= to` (not just ==): a RESTART replays batch 0 with
    // start=None, and a drifting starting option ("latest" after the
    // head advanced) can resolve PAST the checkpointed end — the replay
    // must reproduce the original empty batch
    val batch =
      if (from >= to) feed.emptyFrame(schema)
      else {
        def resolve: DataFrame =
          (if (cdc) feed.changes(from, to)
           else feed.appends(from, to, strict = !skipChanges))
            .select(schema.fieldNames.map(col(_)).toIndexedSeq: _*)
        // the batch over immutable commits is a fixed logical plan:
        // cache its RESOLUTION per session (a re-planned batch skips the
        // log walk and the relation resolution), keyed on the range plus
        // the table state's identity; execution still scans every batch
        feed.stateId(to) match {
          case Some(state) =>
            PlanArtifacts.getOrCompute[DataFrame](spark,
              s"lakestream#$path#" + PlanArtifacts.contentKey(Seq(
                from.toString, to.toString, cdc.toString,
                skipChanges.toString, state, schema.catalogString)))(resolve)
          case None => resolve
        }
      }
    SparkStreamingInternals.streamingDataFrame(
      spark, batch.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}

/**
 * EXACTLY-ONCE streaming SINK into a lake table: each micro-batch
 * commits as an append stamped with a per-query (appId, batchId)
 * transaction watermark — Delta's `txn` action / an Iceberg
 * `graft.txn.<appId>` table property — and a replayed batch (failure
 * between sink commit and checkpoint advance) is recognized by
 * `batchId <= committed watermark` and skipped, never double-applied.
 * This is the mechanism real Delta streaming writes use for their
 * idempotence guarantee. First batch creates the table.
 */
final class LakeStreamSink(feed: LakeFeed, partitionBy: Seq[String])
    extends Sink {
  import feed.{options, path, spark}

  private val partitionColumns = feed.sinkPartitions(partitionBy)

  // an EXPLICIT txnAppId outranks the auto queryId (delta-spark's
  // precedence): a user pinning txnAppId keeps idempotence across a
  // checkpoint-reset restart, where the queryId changes
  private def appId: String =
    options.get("txnAppId")
      .orElse(Option(
        spark.sparkContext.getLocalProperty("sql.streaming.queryId")))
      .getOrElse(throw new IllegalStateException(
        "no streaming queryId in scope and no txnAppId option set"))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val app = appId
    val exists = feed.exists
    // the watermark is a TABLE-level record, so replay detection (and
    // therefore exactly-once) survives a branch's later publication
    if (exists && feed.transactions.get(app).exists(_ >= batchId)) return
    // re-anchor the engine's incremental frame as a plain batch frame
    // (ForeachBatchSink's move: the already-planned InternalRow RDD,
    // wrapped non-streaming, pushes through the ordinary writers)
    val batch = SparkStreamingInternals.batchDataFrame(
      spark, data.queryExecution.toRdd, data.schema)
    val txn = Some(app -> batchId)
    if (options.getOrElse("mode", "append").equalsIgnoreCase("merge")) {
      require(feed.branch.isEmpty, "mode=merge cannot target a branch: the " +
        "merge reads main's live state, which a branch write must not " +
        "depend on; stream appends to the branch and merge after publish")
      applyMergeBatch(batch, txn, exists)
    } else if (exists) {
      // an evolving source stream widens the table additively when the
      // user opts in (Delta's sink option of the same name); without it
      // the append-time schema enforcement refuses loudly
      feed.append(batch, partitionColumns, txn,
        mergeSchema = LakeStreamSource.flag(options, "mergeSchema"))
    } else {
      require(feed.branch.isEmpty, s"branch write at $path needs an " +
        s"existing ${feed.kind} table (create it first, then stream to " +
        "the branch)")
      feed.create(batch, partitionColumns, txn)
    }
  }

  /**
   * STREAMING CDC APPLY (`mode=merge` + `mergeKeys=k1,k2`): each
   * micro-batch UPSERTS into the target through the table's MERGE verb
   * instead of appending — the replication / materialized-view shape
   * every change-capture pipeline lands on, closing the loop with the
   * `readChangeFeed=true` sources: stream table A's change feed, merge
   * it into table B, and B converges to A.
   *
   * Batch preparation: CDF input (`_change_type` present) drops
   * `update_preimage` rows (the postimage carries the new state), keeps
   * only the LAST change per key across the batch's commits (ordered by
   * the commit stamp; on a same-commit tie the non-delete row wins —
   * a delete+re-insert commit leaves the key present), and classifies
   * `delete` rows as delete markers. Plain input upserts every row,
   * with an optional `deleteWhen=<sql expr>` marking deletes. The
   * marker is computed BEFORE the stamps are dropped (the merge source
   * schema must match the table exactly) and rides the reserved
   * [[LakeMerge.DeleteMarker]] column.
   *
   * Exactly-once: merges stamp the same (appId, batchId) transaction
   * watermark appends do, so replayed batches are recognized upstream
   * in [[addBatch]] and skipped — an upsert batch is applied once even
   * across a failure between sink commit and checkpoint advance.
   */
  private def applyMergeBatch(batch: DataFrame,
      txn: Option[(String, Long)], exists: Boolean): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, row_number, when}
    import ChangeStamps.{ChangeType, DeltaId, IcebergId}
    val keys = options.get("mergeKeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"sink mode=merge at $path needs " +
          "mergeKeys=<comma-separated key columns>"))
    var df = batch
    val hasCdf = df.columns.contains(ChangeType)
    if (hasCdf) df = df.filter(col(ChangeType) =!= "update_preimage")
    Seq(DeltaId, IcebergId).find(df.columns.contains).foreach { v =>
      val tieBreak =
        if (hasCdf) when(col(ChangeType) === "delete", 1).otherwise(0)
        else lit(0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(col(v).desc, tieBreak.asc)
      df = df.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
    }
    val delExpr =
      if (hasCdf) col(ChangeType) === "delete"
      else options.get("deleteWhen").map(expr).getOrElse(lit(false))
    df = df.withColumn(LakeMerge.DeleteMarker, coalesce(delExpr, lit(false)))
      .drop(ChangeStamps.columns(DeltaId) :+ IcebergId: _*)
    if (!exists) {
      // first batch CREATES the target from the surviving upserts
      // (markers against a non-existent table are no-ops)
      feed.create(df.filter(!col(LakeMerge.DeleteMarker))
        .drop(LakeMerge.DeleteMarker), partitionColumns, txn)
    } else feed.merge(df, keys, txn)
  }

  override def toString: String = s"LakeStreamSink[${feed.kind}]($path)"
}
