package graft.index.sources

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

/**
 * STRUCTURED STREAMING SOURCES over the jarless lakehouse logs — the
 * "stream the table" integration every modern Delta/Iceberg deployment
 * leans on: `spark.readStream.format("graft-delta").load(path)` (and
 * `graft-iceberg`), micro-batching exactly the rows each new commit
 * appended, with offsets = commit version / snapshot id, so a restart
 * resumes from the checkpoint without re-serving a single row.
 *
 * Both sources implement the v1 `Source` API — `getBatch(start, end]`
 * returns the appended rows as a streaming frame — the same API the
 * real Delta connector uses for its streaming source. Row-deleting
 * commits cannot be represented in an append stream: they fail loudly
 * by default, or are skipped with `skipChangeCommits=true` (the Delta
 * option of the same name).
 *
 * Scale: offset arithmetic and commit parsing are driver-side metadata;
 * each micro-batch plans a plain parquet scan of just the new files —
 * partition-parallel, pushdown intact, no state beyond the checkpoint.
 */
final class DeltaStreamProvider extends StreamSourceProvider
    with StreamSinkProvider with RelationProvider
    with CreatableRelationProvider with DataSourceRegister {
  override def shortName: String = "graft-delta"

  /** BATCH write — `df.write.format("graft-delta").mode(m).save(path)`.
    * Partition columns ride the `partitionBy` OPTION (comma-separated;
    * the writer's own partitionBy() is a file-source feature the v1
    * provider API does not deliver here). */
  override def createRelation(sqlContext: SQLContext, mode: BatchSaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val parts = LakeBatchWrite.partitionsOf(parameters)
    val exists = DeltaLog.isDeltaTable(spark, path)
    mode match {
      case BatchSaveMode.Overwrite =>
        DeltaTable.create(data, path, parts)
      case BatchSaveMode.Append =>
        if (exists) DeltaTable.append(data, path, parts)
        else DeltaTable.create(data, path, parts)
      case BatchSaveMode.ErrorIfExists =>
        if (exists) throw new IllegalArgumentException(
          s"$path is already a Delta table (SaveMode.ErrorIfExists)")
        else DeltaTable.create(data, path, parts)
      case BatchSaveMode.Ignore =>
        if (!exists) DeltaTable.create(data, path, parts)
    }
    createRelation(sqlContext, parameters - "partitionBy")
  }

  /** BATCH read — the standard reader syntax
    * (`spark.read.format("graft-delta").load(path)`), with
    * `versionAsOf` / `timestampAsOf` time travel. Delegates to
    * [[DeltaTable.read]], so stats skipping and DV merge-on-read apply
    * unchanged; pushed filters re-apply inside for file pruning. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val df = (parameters.get("versionAsOf"), parameters.get("timestampAsOf")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "pass either versionAsOf or timestampAsOf, not both")
      case (Some(v), _) => DeltaTable.read(spark, path, versionAsOf = Some(v.toLong))
      case (_, Some(ts)) => DeltaTable.readTimestampAsOf(spark, path,
        StreamRateLimit.parseTimestamp(ts))
      case _ => DeltaTable.read(spark, path)
    }
    new LakeBatchRelation(sqlContext, df)
  }

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-delta sink supports Append output mode only, got $outputMode")
    new LakeStreamSink(sqlContext.sparkSession, pathOf(parameters),
      partitionColumns, parameters, iceberg = false)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-delta stream needs .load(<table path>)"))

  private def cdcMode(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val base = DeltaLog.snapshot(sqlContext.sparkSession, pathOf(parameters)).schema
    (shortName,
      if (!cdcMode(parameters)) base
      else DeltaStreamSource.cdcSchema(base))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new DeltaStreamSource(sqlContext.sparkSession, pathOf(parameters),
      parameters, metadataPath)
}

/** Rate-limit plumbing shared by both lakehouse stream sources. */
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

private[sources] object LakeBatchWrite {
  /** The batch writers' `partitionBy` OPTION: a comma list split
    * outside parentheses, so the Iceberg transform syntax
    * (`"bucket(16, id), days(ts)"`) passes through whole. */
  def partitionsOf(parameters: Map[String, String]): Seq[String] =
    parameters.get("partitionBy").toSeq
      .flatMap(_.split(",(?![^(]*\\))")).map(_.trim).filter(_.nonEmpty)
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


object DeltaStreamSource {
  /** Change-feed schema: the data columns + the CDF stamps. */
  def cdcSchema(base: StructType): StructType = StructType(base.fields ++ Seq(
    org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_commit_version",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("_commit_timestamp",
      org.apache.spark.sql.types.TimestampType)))
}

final class DeltaStreamSource(spark: SparkSession, rootStr: String,
    options: Map[String, String], metadataPath: String = "")
    extends Source with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val root = new Path(rootStr)
  private val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
  private val initial = DeltaLog.snapshot(spark, rootStr)
  if (DeltaColumnMapping.mode(initial.configuration) != "none") {
    throw new UnsupportedDeltaProtocolException(
      s"Delta table at $rootStr uses column mapping; the graft-delta " +
        "stream source serves plain-named tables only. Stream with the " +
        "delta-spark connector instead.")
  }
  /** CDC mode: serve the CHANGE DATA FEED (inserts AND deletes, with
    * the CDF stamps) instead of an appends-only row stream — the
    * streaming twin of `DeltaTable.changes`, and the mode that needs no
    * delete refusal because deletes are first-class rows in the feed. */
  private val cdc =
    options.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))
  override val schema: StructType =
    if (cdc) DeltaStreamSource.cdcSchema(initial.schema) else initial.schema

  private val skipChanges =
    options.get("skipChangeCommits").exists(_.equalsIgnoreCase("true"))
  /** First version served: 0 (full history), a number, "latest" (only
    * commits after stream start), or — via `startingTimestamp` — the
    * first version committed at or after a wall-clock time. */
  private val startingVersion: Long =
    (options.get("startingVersion"), options.get("startingTimestamp")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "pass either startingVersion or startingTimestamp, not both")
      case (Some(v), _) if v.equalsIgnoreCase("latest") => initial.version + 1
      case (Some(v), _) => v.toLong
      case (None, Some(ts)) => LakeTable.firstIdAtOrAfter(
        DeltaTable.commits(spark, rootStr), StreamRateLimit.parseTimestamp(ts))
      case _ => 0L
    }

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
  /** Trigger.AvailableNow: versions committed AFTER query start are out
    * of scope — the drain finishes at this pinned head. */
  private var availableNowCap: Option[Long] = None

  /** (files, bytes) a commit adds — admission metadata, one log-JSON
    * parse per version (driver-side, metadata-scale). Memoized: with a
    * deep backlog paced N commits per trigger, every trigger re-walks
    * the remaining range — the memo keeps that walk O(backlog) total
    * instead of O(backlog²) parses. Commits are immutable, so entries
    * never invalidate. */
  private val commitLoadMemo = scala.collection.mutable.Map.empty[Long, (Long, Long)]
  private def commitLoad(v: Long): (Long, Long) =
    commitLoadMemo.getOrElseUpdate(v, commitLoadUncached(v))
  private def commitLoadUncached(v: Long): (Long, Long) = {
    val p = new Path(DeltaLog.logDir(root), f"$v%020d.json")
    var files = 0L
    var bytes = 0L
    // CDC batches read cdc files instead of (some) adds — count both
    // action kinds in cdc mode so the admission weight tracks what the
    // batch will actually scan
    val kinds = if (cdc) Seq("add", "cdc") else Seq("add")
    DeltaLog.readLines(fs, p).foreach { line =>
      val j = JsonMethods.parse(line)
      kinds.foreach { kind =>
        (j \ kind \ "path") match {
          case JString(_) =>
            files += 1
            (j \ kind \ "size") match {
              case JInt(n) => bytes += n.toLong
              case JLong(n) => bytes += n
              case _ =>
            }
          case _ =>
        }
      }
    }
    (files, bytes)
  }

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "getOffset is unused: this source implements " +
        "SupportsAdmissionControl (latestOffset)")

  /** The offset BEFORE any data this stream should serve: batches start
    * at `startingVersion`. */
  override def initialOffset(): OffsetV2 = LongOffset(startingVersion - 1)

  override def getDefaultReadLimit: ReadLimit =
    StreamRateLimit.toReadLimit(maxFiles, maxBytes)

  override def reportLatestOffset(): OffsetV2 =
    LongOffset(DeltaLog.snapshot(spark, rootStr).version)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(DeltaLog.snapshot(spark, rootStr).version)

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val head0 = DeltaLog.snapshot(spark, rootStr).version
    val head = availableNowCap.fold(head0)(math.min(head0, _))
    // the engine passes the previous end offset — or NULL on a fresh
    // stream's first trigger (v1 sources never see initialOffset)
    val from = Option(start).map(_.json.toLong + 1).getOrElse(startingVersion)
    if (!rateLimited || from > head) return LongOffset(math.max(head, from - 1))
    val stats = (from to head).map { v =>
      val (f, b) = commitLoad(v)
      (v, f, b)
    }
    LongOffset(StreamRateLimit.admit(stats, maxFiles, maxBytes).getOrElse(head))
  }

  private def versionOf(o: Offset): Long = o.json.toLong

  /** Paths appended by version `v` — None when the commit deletes or
    * rewrites rows (not representable in an append stream). */
  private def appendedPaths(v: Long): Option[Seq[String]] = {
    val p = new Path(DeltaLog.logDir(root), f"$v%020d.json")
    val adds = scala.collection.mutable.Buffer.empty[String]
    var removesData = false
    var addsDv = false
    DeltaLog.readLines(fs, p).foreach { line =>
      val j = JsonMethods.parse(line)
      def dataChange(kind: String): Boolean = (j \ kind \ "dataChange") match {
        case JBool(b) => b
        case _ => true
      }
      (j \ "add" \ "path") match {
        case JString(path) if dataChange("add") =>
          (j \ "add" \ "deletionVector") match {
            case JObject(_) => addsDv = true
            case _ => adds += path
          }
        case _ =>
      }
      (j \ "remove" \ "path") match {
        case JString(_) if dataChange("remove") => removesData = true
        case _ =>
      }
    }
    if (removesData || addsDv) None else Some(adds.toSeq)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // startingVersion gates only the FIRST batch — on restart the
    // checkpointed offset is authoritative (re-resolving "latest" here
    // would silently skip commits that arrived between runs)
    val from = start.map(versionOf(_) + 1).getOrElse(startingVersion)
    val endV = versionOf(end)
    if (cdc) {
      val batch =
        if (from > endV)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else DeltaTable.changes(spark, rootStr, from, Some(endV))
          .select(schema.fieldNames.map(col(_)).toIndexedSeq: _*)
      return graft.streaming.SparkStreamingInternals.streamingDataFrame(
        spark, batch.queryExecution.toRdd, schema)
    }
    val files = (from to endV).flatMap { v =>
      appendedPaths(v) match {
        case Some(paths) => paths.map { raw =>
          val decoded = java.net.URLDecoder.decode(raw, "UTF-8")
          val p = new Path(decoded)
          if (p.isAbsolute) decoded else new Path(root, decoded).toString
        }
        case None if skipChanges => Nil
        case None => throw new UnsupportedDeltaProtocolException(
          s"version $v at $rootStr deletes or rewrites rows; an append " +
            "stream cannot represent it. Pass skipChangeCommits=true to " +
            "skip such commits, or consume DeltaTable.changes instead.")
      }
    }
    val batch =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        // the resolved batch frame is an immutable logical plan over an
        // immutable file set (commit jsons never change once written) —
        // cache the RESOLUTION per session, content-addressed on the
        // exact file list; execution still scans parquet every batch.
        // Every fresh-checkpoint gate run re-resolved the same files
        // (~0.2 s relation resolution per batch); same contract as
        // Tables.load / PlanArtifacts index-data caching.
        graft.index.rules.PlanArtifacts.getOrCompute[DataFrame](spark,
          s"deltastream#$rootStr#" + graft.index.rules.PlanArtifacts
            .contentKey(files :+ schema.catalogString)) {
          spark.read.schema(schema).option("basePath", rootStr)
            .parquet(files: _*)
            .select(schema.fieldNames.map(col(_)).toIndexedSeq: _*)
        }
      }
    graft.streaming.SparkStreamingInternals.streamingDataFrame(
      spark, batch.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}

/** Iceberg sibling: offsets are snapshot ids, batches come from the
  * incremental append scan's lineage walk ([[IcebergTable.incrementalAppends]]). */
final class IcebergStreamProvider extends StreamSourceProvider
    with StreamSinkProvider with RelationProvider
    with CreatableRelationProvider with DataSourceRegister {
  override def shortName: String = "graft-iceberg"

  /** BATCH write — `df.write.format("graft-iceberg").mode(m).save(p)`;
    * the `partitionBy` option accepts the full transform syntax
    * (`"bucket(16, id), days(ts)"`). */
  override def createRelation(sqlContext: SQLContext, mode: BatchSaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val parts = LakeBatchWrite.partitionsOf(parameters)
    val exists = IcebergMeta.isIcebergTable(spark, path)
    // batch WAP: `.option("branch", b)` appends to a branch; main
    // stays put until fastForward publishes (the streaming sink's
    // branch option, on the batch path)
    val branch = parameters.get("branch").filterNot(_ == "main")
    require(branch.isEmpty || mode == BatchSaveMode.Append,
      s"the branch option targets audit APPENDS; ${mode.name} to a " +
        "branch is not a write-audit-publish shape")
    require(branch.isEmpty || exists,
      s"branch write at $path needs an existing Iceberg table " +
        "(create it first, then write to the branch)")
    mode match {
      case BatchSaveMode.Overwrite =>
        IcebergTable.overwrite(data, path, partitionColumns = parts)
      case BatchSaveMode.Append =>
        if (exists) IcebergTable.append(data, path,
          partitionColumns = parts, branch = branch)
        else IcebergTable.create(data, path, partitionColumns = parts)
      case BatchSaveMode.ErrorIfExists =>
        if (exists) throw new IllegalArgumentException(
          s"$path is already an Iceberg table (SaveMode.ErrorIfExists)")
        else IcebergTable.create(data, path, partitionColumns = parts)
      case BatchSaveMode.Ignore =>
        if (!exists) IcebergTable.create(data, path, partitionColumns = parts)
    }
    createRelation(sqlContext, parameters - "partitionBy")
  }

  /** BATCH read (`spark.read.format("graft-iceberg").load(path)`) with
    * `snapshotAsOf` time travel — delegates to [[IcebergTable.read]]
    * (manifest-bounds skipping, hidden-partition pruning, MOR). */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val df = IcebergTable.read(spark, path,
      snapshotAsOf = parameters.get("snapshotAsOf").map(_.toLong))
    new LakeBatchRelation(sqlContext, df)
  }

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-iceberg sink supports Append output mode only, got $outputMode")
    new LakeStreamSink(sqlContext.sparkSession, pathOf(parameters),
      partitionColumns, parameters, iceberg = true)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-iceberg stream needs .load(<table location>)"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val base =
      IcebergMeta.snapshot(sqlContext.sparkSession, pathOf(parameters)).schema
    (shortName,
      if (!parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true")))
        base
      else StructType(base.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_commit_snapshot_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType))))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new IcebergStreamSource(sqlContext.sparkSession, pathOf(parameters),
      parameters, metadataPath)
}

/**
 * EXACTLY-ONCE streaming SINK into a Delta or Iceberg table: each
 * micro-batch commits as an append stamped with a per-query
 * (appId, batchId) transaction watermark — Delta's `txn` action /
 * an Iceberg `graft.txn.<appId>` table property — and a replayed batch
 * (failure between sink commit and checkpoint advance) is recognized by
 * `batchId <= committed watermark` and skipped, never double-applied.
 * This is the mechanism real Delta streaming writes use for their
 * idempotence guarantee. First batch creates the table.
 */
final class LakeStreamSink(spark: SparkSession, rootStr: String,
    partitionByColumns: Seq[String], options: Map[String, String],
    iceberg: Boolean) extends Sink {

  // `partitionBy(...)` carries identity columns (the engine validates
  // them against the schema before the sink sees them — transform
  // specs can't pass through it); the `partitionSpec` OPTION carries
  // the full Iceberg transform syntax ("bucket(16, id), days(ts)").
  // Iceberg-only: Delta has no partition transforms.
  private val partitionColumns: Seq[String] =
    options.get("partitionSpec") match {
      case Some(spec) =>
        require(iceberg,
          "partitionSpec (Iceberg partition transforms) is not supported " +
            "by the graft-delta sink; use partitionBy for hive columns")
        require(partitionByColumns.isEmpty,
          "pass EITHER partitionBy(...) or the partitionSpec option, not both")
        // split on commas OUTSIDE parentheses: "bucket(16, id), days(ts)"
        // is two fields, the comma inside bucket(…) is an argument
        spec.split(",(?![^(]*\\))").map(_.trim).filter(_.nonEmpty).toSeq
      case None => partitionByColumns
    }

  /** WRITE-AUDIT-PUBLISH ingest: commits land on a NAMED BRANCH (the
    * ref auto-creates at main's head on the first branch write) while
    * main keeps serving the last published snapshot; `fastForward`
    * publishes after audit. Iceberg-only — Delta has no refs. The txn
    * watermark is a TABLE property, so replay detection (and therefore
    * exactly-once) survives the branch's later publication. */
  private val branch: Option[String] = options.get("branch")
  require(branch.isEmpty || iceberg,
    "the branch option (write-audit-publish) needs the graft-iceberg " +
      "sink; Delta has no snapshot refs")

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
    val exists =
      if (iceberg) IcebergMeta.isIcebergTable(spark, rootStr)
      else DeltaLog.isDeltaTable(spark, rootStr)
    if (exists) {
      val committed =
        if (iceberg) IcebergTable.transactions(spark, rootStr).get(app)
        else DeltaLog.snapshot(spark, rootStr).transactions.get(app)
      if (committed.exists(_ >= batchId)) return // replayed batch: skip
    }
    // re-anchor the engine's incremental frame as a plain batch frame
    // (ForeachBatchSink's move: the already-planned InternalRow RDD,
    // wrapped non-streaming, pushes through the ordinary writers)
    val batch = graft.streaming.SparkStreamingInternals.batchDataFrame(
      spark, data.queryExecution.toRdd, data.schema)
    val txn = Some(app -> batchId)
    if (options.getOrElse("mode", "append").equalsIgnoreCase("merge")) {
      require(branch.isEmpty, "mode=merge cannot target a branch: the " +
        "merge reads main's live state, which a branch write must not " +
        "depend on; stream appends to the branch and merge after publish")
      applyMergeBatch(batch, txn, exists)
      return
    }
    if (branch.isDefined && !exists)
      throw new IllegalArgumentException(
        s"branch write at $rootStr needs an existing Iceberg table " +
          "(create it first, then stream to the branch)")
    // an evolving source stream widens the table additively when the
    // user opts in (Delta's sink option of the same name); without it
    // the append-time schema enforcement refuses loudly
    val merge = options.get("mergeSchema").exists(_.equalsIgnoreCase("true"))
    if (iceberg) {
      // partitionBy declares the identity spec on first-batch create;
      // later batches must name the table's spec (enforced in append)
      if (!exists) IcebergTable.create(batch, rootStr, txn, partitionColumns)
      else if (!merge) IcebergTable.append(batch, rootStr, txn,
        partitionColumns, branch = branch)
      else {
        // ADDITIVE schema evolution mid-stream: new batch columns get
        // real field ids minted through the metadata operation
        // (addColumn — old files read them as null), conflicting types
        // refuse, and the batch is aligned to the evolved table order
        // (missing table columns fill with nulls, Delta mergeSchema's
        // contract). The spec is fixed at create either way.
        import org.apache.spark.sql.functions.{col, lit}
        val table = IcebergMeta.snapshot(spark, rootStr).schema
        val tByName = table.fields.map(f => f.name -> f.dataType).toMap
        batch.schema.fields.foreach { f =>
          tByName.get(f.name).foreach(dt => require(dt == f.dataType,
            s"graft-iceberg sink mergeSchema at $rootStr: column " +
              s"'${f.name}' is ${f.dataType.simpleString} in the stream " +
              s"but ${dt.simpleString} in the table; conflicting types " +
              "never merge"))
        }
        batch.schema.fields.filterNot(f => tByName.contains(f.name))
          .foreach(f => IcebergTable.addColumn(spark, rootStr, f.name, f.dataType))
        val evolved = IcebergMeta.snapshot(spark, rootStr).schema
        val aligned = batch.select(evolved.fields.toSeq.map { f =>
          if (batch.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
        IcebergTable.append(aligned, rootStr, txn, partitionColumns,
          branch = branch)
      }
    } else {
      if (exists) DeltaTable.append(batch, rootStr, partitionColumns, txn,
        mergeSchema = merge)
      else DeltaTable.create(batch, rootStr, partitionColumns, txn = txn)
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
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, row_number, when}
    val keys = options.get("mergeKeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"sink mode=merge at $rootStr needs " +
          "mergeKeys=<comma-separated key columns>"))
    var df = batch
    val hasCdf = df.columns.contains("_change_type")
    if (hasCdf) df = df.filter(col("_change_type") =!= "update_preimage")
    val verCol = Seq("_commit_version", "_commit_snapshot_id")
      .find(df.columns.contains)
    verCol.foreach { v =>
      val tieBreak =
        if (hasCdf) when(col("_change_type") === "delete", 1).otherwise(0)
        else lit(0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(col(v).desc, tieBreak.asc)
      df = df.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
    }
    val delExpr =
      if (hasCdf) col("_change_type") === "delete"
      else options.get("deleteWhen").map(expr).getOrElse(lit(false))
    df = df.withColumn(LakeMerge.DeleteMarker, coalesce(delExpr, lit(false)))
      .drop("_change_type", "_commit_version", "_commit_snapshot_id",
        "_commit_timestamp")
    if (!exists) {
      // first batch CREATES the target from the surviving upserts
      // (markers against a non-existent table are no-ops)
      val inserts = df.filter(!col(LakeMerge.DeleteMarker))
        .drop(LakeMerge.DeleteMarker)
      if (iceberg) IcebergTable.create(inserts, rootStr, txn, partitionColumns)
      else DeltaTable.create(inserts, rootStr, partitionColumns, txn = txn)
    } else if (iceberg) {
      IcebergTable.merge(spark, rootStr, df, keys, txn = txn)
    } else {
      DeltaTable.merge(spark, rootStr, df, keys, txn = txn)
    }
  }

  override def toString: String =
    s"LakeStreamSink[${if (iceberg) "iceberg" else "delta"}]($rootStr)"
}

final class IcebergStreamSource(spark: SparkSession, location: String,
    options: Map[String, String], metadataPath: String = "")
    extends Source with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val initial = IcebergMeta.snapshot(spark, location)
  /** CDC mode: serve the full changelog (inserts AND positional-delete
    * victims, stamped) via [[IcebergTable.incrementalChanges]] — the
    * Iceberg twin of the Delta source's `readChangeFeed`. */
  private val cdc =
    options.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))
  override val schema: StructType =
    if (cdc) StructType(initial.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_snapshot_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType)))
    else initial.schema

  private val skipChanges =
    options.get("skipChangeCommits").exists(_.equalsIgnoreCase("true"))
  /** Follow a NAMED REF instead of main: the audit side of
    * write-audit-publish streams the branch while main serves the last
    * published snapshot. A ref not created yet reads as an empty table
    * until the first branch write lands. */
  private val branch: Option[String] = options.get("branch")
  /** The head this stream follows — main's current-snapshot-id, or the
    * named ref's pinned snapshot. */
  private def headId(): Long = {
    val s = IcebergMeta.snapshot(spark, location)
    branch match {
      case None => s.snapshotId
      case Some(b) => s.refs.get(b).map(_.snapshotId).getOrElse(-1L)
    }
  }
  private val startingSnapshot: Long =
    (options.get("startingSnapshotId"), options.get("startingTimestamp")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "pass either startingSnapshotId or startingTimestamp, not both")
      // "latest" means the FOLLOWED head — under a branch option that
      // is the ref's pinned snapshot, not main's (pinning main would
      // replay the branch's existing unpublished commits the user
      // explicitly asked to skip). A ref that doesn't exist yet starts
      // at main's head: the branch will be created there.
      case (Some(v), _) if v.equalsIgnoreCase("latest") =>
        val h = headId(); if (h >= 0) h else initial.snapshotId
      case (Some(v), _) => v.toLong
      case (None, Some(ts)) =>
        // serve snapshots committed at or after `ts`: the EXCLUSIVE
        // start is the newest snapshot strictly before it (0 = full
        // history when none is)
        val t = StreamRateLimit.parseTimestamp(ts)
        IcebergTable.commits(spark, location)
          .filter(_._2 < t).lastOption.map(_._1).getOrElse(0L)
      case _ => 0L
    }

  // RATE LIMITING, snapshot-granular, through the engine's
  // ADMISSION-CONTROL protocol (see the Delta source): the engine
  // supplies the authoritative start offset per trigger, and
  // Trigger.AvailableNow drains to the head pinned at query start in
  // bounded batches.
  private val maxFiles: Option[Long] =
    options.get("maxFilesPerTrigger").map(_.toLong)
  private val maxBytes: Option[Long] =
    options.get("maxBytesPerTrigger").map(StreamRateLimit.parseBytes)
  private val rateLimited = maxFiles.isDefined || maxBytes.isDefined
  maxFiles.foreach(m => require(m > 0,
    s"maxFilesPerTrigger must be positive, got $m"))
  /** Per-snapshot admission loads measured so far (see lineageLoad). */
  private val loadMemo =
    scala.collection.mutable.Map.empty[Long, (Long, Long)]
  private var availableNowCap: Option[Long] = None

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "getOffset is unused: this source implements " +
        "SupportsAdmissionControl (latestOffset)")

  override def initialOffset(): OffsetV2 = LongOffset(startingSnapshot)

  override def getDefaultReadLimit: ReadLimit =
    StreamRateLimit.toReadLimit(maxFiles, maxBytes)

  override def reportLatestOffset(): OffsetV2 = {
    val cur = headId()
    LongOffset(if (cur < 0) startingSnapshot else cur)
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    val cur = headId()
    if (cur >= 0) availableNowCap = Some(cur)
  }

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val cur0 = headId()
    // previous end offset, or NULL on a fresh stream's first trigger
    val from = Option(start).map(_.json.toLong).getOrElse(startingSnapshot)
    // a checkpointed start past the head = dropped-and-recreated table
    if (start != null) requireOnLineage(from, cur0, "checkpointed offset")
    if (cur0 < 0) return LongOffset(from) // empty table: echo = no new data
    // the AvailableNow pin is an ID on the lineage, not a number line:
    // serve toward it, not past it
    val cur = availableNowCap.getOrElse(cur0)
    if (from == cur || !rateLimited) return LongOffset(cur)
    val stats = IcebergTable.lineageLoad(spark, location, from, cur, loadMemo)
    LongOffset(StreamRateLimit.admit(stats, maxFiles, maxBytes).getOrElse(cur))
  }

  /** A checkpointed id AHEAD of the table's whole lineage is not a
    * replay: ids are monotone, so id > head means the table was
    * dropped and recreated (ids restarted below the checkpoint).
    * Surface the divergence like the Delta source's id-mismatch error
    * instead of yielding empty batches forever (or an opaque lineage
    * walk failure). */
  private def requireOnLineage(id: Long, head: Long, what: String): Unit = {
    if (id > 0 && id > head)
      throw new IllegalStateException(
        s"graft-iceberg stream at $location: $what $id is beyond the " +
          s"table's current head ($head) — the table appears to have " +
          "been dropped and recreated; restart the stream from a " +
          "fresh checkpoint")
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(_.json.toLong).getOrElse(startingSnapshot)
    val endId = end.json.toLong
    requireOnLineage(endId, headId(), "checkpointed offset")
    val batch =
      // `from >= endId` (not just ==): a RESTART replays batch 0 with
      // start=None, and a drifting starting option ("latest" after the
      // head advanced) can resolve PAST the checkpointed end — the
      // replay must reproduce the original empty batch (snapshot ids
      // are monotone, so an end at-or-before the start holds no rows
      // this stream hasn't already accounted for)
      if (from >= endId)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        // snapshot immutability makes (from, endId]'s batch frame a
        // fixed logical plan — cache the manifest walk + relation
        // resolution per session. The key rides the CURRENT metadata
        // document's identity: any commit (or a drop-and-recreate, which
        // could reuse small sequential snapshot ids) writes a new
        // metadata json, so staleness is a structural miss, never a
        // stale hit; execution still scans the data files every batch.
        val metaId =
          try {
            val loc = new Path(location)
            val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
            val st = fs.getFileStatus(
              IcebergMeta.currentMetadataFile(fs, location))
            s"${st.getPath}#${st.getModificationTime}#${st.getLen}"
          } catch { case scala.util.control.NonFatal(_) => s"nometa#${System.nanoTime()}" }
        graft.index.rules.PlanArtifacts.getOrCompute[DataFrame](spark,
          s"icestream#$location#$from#$endId#$cdc#$skipChanges#" +
            graft.index.rules.PlanArtifacts.contentKey(
              Seq(metaId, schema.catalogString))) {
          if (cdc)
            IcebergTable.incrementalChanges(spark, location, from, Some(endId))
              .select(schema.fieldNames.map(col(_)).toIndexedSeq: _*)
          else IcebergTable.incrementalAppends(spark, location, from,
              Some(endId), strict = !skipChanges)
            .select(schema.fieldNames.map(col(_)).toIndexedSeq: _*)
        }
      }
    graft.streaming.SparkStreamingInternals.streamingDataFrame(
      spark, batch.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}
