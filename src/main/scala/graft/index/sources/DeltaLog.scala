package graft.index.sources

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Minimal Delta Lake TRANSACTION-LOG implementation — reader and writer —
 * with no dependency on the delta-spark jar. The Delta log is an open
 * format: `_delta_log/%020d.json` commit files holding one JSON action
 * per line (`protocol` / `metaData` / `add` / `remove` / `commitInfo`)
 * plus periodic parquet checkpoints (reference consumes it through the
 * delta jar: sources/delta/DeltaLakeRelation.scala:34-45 — signature =
 * table version + path, files from the log; this module re-derives the
 * log semantics directly so Delta tables index and serve even where the
 * connector jar can't be shipped).
 *
 * Every reader of `_delta_log` — snapshot replay, the commit timeline,
 * the change feed, the stream feed, vacuum, the orphan sweep and log
 * cleanup — lists it through [[DeltaCodec.list]] and decodes actions
 * through [[DeltaCodec]], which turns commit lines and checkpoint rows
 * into the same typed actions; the replay absorbs them one at a time.
 *
 * Scale note: snapshot state is FILE METADATA (one entry per live data
 * file, plus the tombstones within retention), the same driver-side
 * footprint every `FileIndex` already carries — never row data.
 * Checkpoint parquet is collected through Spark in one job; JSON commits
 * after the checkpoint are driver-parsed (they are small by construction
 * — that is what checkpoints are for).
 */
final case class DeltaFileMeta(path: String, size: Long, modificationTime: Long,
    dv: Option[DvDescriptor] = None, stats: Option[String] = None,
    // ROW TRACKING (`rowTracking` writer feature): this file's rows are
    // [baseRowId, baseRowId + numRecords) unless a materialized row-id
    // column overrides per row; re-adds of the same file (DV deletes,
    // restore, clone) must carry both fields forward unchanged
    baseRowId: Option[Long] = None,
    defaultRowCommitVersion: Option[Long] = None)

/**
 * Thrown when a Delta table requires reader capabilities this jarless
 * replay does not implement (deletion vectors, column mapping, v2
 * checkpoints, …). Refusing loudly is the contract: replaying such a
 * table as plain add/remove would silently resurrect DV-deleted rows or
 * mis-read column-mapped schemas. Mirrors the Iceberg leg's loud
 * rejection of v2 delete manifests (IcebergMeta) and the protocol check
 * every real Delta reader performs (reference consumes it through the
 * connector jar: sources/delta/DeltaLakeRelation.scala:34-45).
 */
final class UnsupportedDeltaProtocolException(msg: String)
  extends UnsupportedOperationException(msg)

final case class DeltaSnapshot(
    root: String,
    version: Long,
    schemaString: String,
    partitionColumns: Seq[String],
    files: Seq[DeltaFileMeta],
    // replayed protocol + table configuration, carried so maintenance
    // (checkpoint) and the writer gate see the table's REAL capabilities
    // instead of assuming the minimal ones this writer emits
    minReaderVersion: Int = 1,
    minWriterVersion: Int = 2,
    readerFeatures: Set[String] = Set.empty,
    writerFeatures: Set[String] = Set.empty,
    configuration: Map[String, String] = Map.empty,
    // streaming-writer idempotence: latest `txn` version per appId —
    // the Delta action an exactly-once sink checks before re-applying
    // a possibly-replayed micro-batch
    transactions: Map[String, Long] = Map.empty,
    // the table's STABLE unique id (metaData.id). External consumers
    // (delta-spark streaming sources among them) key continuity on it, so
    // every commit that republishes metaData must carry it forward; a new
    // id is only ever minted at table creation / CONVERT / CLONE.
    tableId: Option[String] = None,
    // metadata DOMAINS (`domainMetadata` actions): per-domain
    // configuration reconciled latest-wins; removed tombstones are
    // RETAINED (and restated by checkpoints) so a replay that starts
    // from the checkpoint still sees the removal
    domains: Map[String, DomainMeta] = Map.empty,
    // TOMBSTONES (`remove` actions) not cancelled by a later commit's
    // add, keyed by the resolved scheme-normalized path (a checkpoint may
    // restate one beside the live add of the same path under another
    // deletion vector); checkpoints restate the unexpired ones and vacuum
    // keys retention off them
    tombstones: Map[String, CkptRemove] = Map.empty) {
  def schema: StructType =
    DataType.fromJson(schemaString).asInstanceOf[StructType]

  /** Domains in force (tombstoned ones hidden). */
  def liveDomains: Map[String, String] =
    domains.collect { case (d, m) if !m.removed => d -> m.configuration }

  /** Liquid-clustering columns, when the `delta.clustering` domain is
    * set (delta-spark's CLUSTER BY): the domain's configuration is
    * `{"clusteringColumns":[["col"],["nested","field"]]}` — one
    * name-part array per column. */
  def clusteringColumns: Seq[Seq[String]] =
    liveDomains.get(DeltaTable.ClusteringDomain).toSeq.flatMap { cfg =>
      (JsonMethods.parse(cfg) \ "clusteringColumns") match {
        case JArray(cols) => cols.collect {
          case JArray(parts) => parts.collect { case JString(s) => s }
        }
        case _ => Nil
      }
    }
}

/** One metadata domain's latest state (the `domainMetadata` action):
  * `configuration` is an opaque serialized string owned by the domain's
  * writer; `removed = true` is a tombstone. */
final case class DomainMeta(configuration: String, removed: Boolean)

object DeltaLog {

  /** Reader features this replay genuinely implements. `timestampNtz`
    * is type-level only (Spark's parquet reader handles TIMESTAMP_NTZ
    * natively); `deletionVectors` is merge-on-read via the in-scan
    * (`_metadata.file_path`, `row_index`) filter of
    * [[DeltaTable.read]]; `columnMapping` resolves scans by
    * physicalName ([[DeltaColumnMapping]]); `v2Checkpoint` replays
    * UUID-named checkpoints and their `_sidecars/` add-files (the
    * format modern Databricks writers default to); `typeWidening` (and
    * its preview name) is additive metadata — files written BEFORE a
    * widening keep the narrower physical type and Spark's parquet
    * readers upcast them to the current logical schema at scan time
    * (int→long, float→double, …), which is exactly how delta-spark
    * reads widened tables. Everything else changes how actions must be
    * interpreted and MUST be refused. */
  private val SupportedReaderFeatures =
    Set("timestampNtz", "deletionVectors", "columnMapping", "v2Checkpoint",
      "typeWidening", "typeWidening-preview")

  def logDir(root: Path): Path = new Path(root, "_delta_log")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** A directory is a Delta table iff its `_delta_log` holds ≥1 commit. */
  def isDeltaTable(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root)
    DeltaCodec.list(fsOf(spark, p), p).exists(_.commits.nonEmpty)
  }

  /** [[DeltaCodec.list]] of a directory that must hold a Delta table. */
  private[sources] def listing(fs: FileSystem, rootStr: String): DeltaListing = {
    val log = DeltaCodec.list(fs, new Path(rootStr)).getOrElse(
      throw new IllegalArgumentException(
        s"not a Delta table (no _delta_log): $rootStr"))
    require(log.commits.nonEmpty, s"Delta log at $rootStr has no commit files")
    log
  }

  /** The newest commit version, from one listing of the log (no
    * replay). */
  private[sources] def latestVersion(spark: SparkSession, rootStr: String): Long =
    listing(fsOf(spark, new Path(rootStr)), rootStr).latest

  /** Replay the log to the latest version — or, with `versionAsOf`, to a
    * historic one (time travel): the newest complete checkpoint at or
    * before the target, then the JSON commits after it in version order,
    * every action absorbed by one [[Replay]]. */
  def snapshot(spark: SparkSession, rootStr: String,
      versionAsOf: Option[Long] = None): DeltaSnapshot = {
    val root = new Path(rootStr)
    val fs = fsOf(spark, root)
    val log = listing(fs, rootStr)
    val latest = versionAsOf match {
      case Some(v) =>
        require(v >= 0 && v <= log.latest,
          s"version $v out of range [0, ${log.latest}] at $rootStr")
        v
      case None => log.latest
    }
    val replay = new Replay(root, rootStr)
    val ckpt = log.checkpointAtOrBefore(latest)
    ckpt.foreach { case (v, files) =>
      val site = s"checkpoint $v at $rootStr"
      DeltaCodec.readCheckpoint(spark, files, site).foreach(replay.absorbCheckpoint)
      // v2 spec checkpoints park their file actions in `_sidecars/`
      // parquet files named by `sidecar` actions; relative paths resolve
      // against it
      if (replay.sidecars.nonEmpty) {
        val sidecarFiles = replay.sidecars.toSeq.map { sc =>
          val p = new Path(java.net.URLDecoder.decode(sc.path, "UTF-8"))
          if (p.isAbsolute) p else new Path(new Path(logDir(root), "_sidecars"), sc.path)
        }
        DeltaCodec.readCheckpoint(spark, sidecarFiles, site)
          .foreach(replay.absorbCheckpoint)
      }
    }
    (ckpt.map(_._1 + 1).getOrElse(0L) to latest).foreach { v =>
      val st = log.commits.getOrElse(v, throw new IllegalStateException(
        s"Delta log at $rootStr is missing commit version $v " +
          s"(have ${log.commits.keys.toSeq.sorted.mkString(",")})"))
      DeltaCodec.readCommit(fs, st.getPath, v, rootStr)(_.foreach(replay.absorb))
    }
    replay.snapshot(latest)
  }

  /** Table state absorbed one action at a time, checkpoint rows and
    * commit lines alike. */
  private final class Replay(root: Path, rootStr: String) {
    private var schemaString: String = null
    private var tableId: Option[String] = None
    private var partitionColumns: Seq[String] = Nil
    private var protocol = CkptProtocol(1, 2, None, None)
    private var configuration = Map.empty[String, String]
    private val transactions = mutable.Map.empty[String, Long]
    private val domains = mutable.Map.empty[String, DomainMeta]
    // live files and tombstones keyed by the RESOLVED, scheme-normalized
    // path: adds and removes must cancel even when one writer logged a
    // relative path and another an absolute one for the same file, or a
    // clone's qualified `file:/x` meets a remove spelled `/x`
    private val live = mutable.LinkedHashMap.empty[String, DeltaFileMeta]
    private val tombstones = mutable.Map.empty[String, CkptRemove]
    val sidecars = mutable.Buffer.empty[CkptSidecar]

    /** A checkpoint row. A checkpoint's adds and removes are already
      * reconciled, so its `remove` is a tombstone only, never a removal
      * of a live file: the protocol keys a file by (path, deletion-vector
      * id), and a checkpoint taken after a DV update restates
      * remove(p, dv1) beside the live add(p, dv2), in either row order. */
    def absorbCheckpoint(action: DeltaAction): Unit = action match {
      case a: CkptAdd => addLive(a)
      case r: CkptRemove => tombstones(key(r.path)) = r
      case other => absorb(other)
    }

    private def key(rawPath: String): String =
      DeltaTable.normPath(resolvePath(root, rawPath))

    private def addLive(a: CkptAdd): String = {
      val abs = resolvePath(root, a.path)
      val k = DeltaTable.normPath(abs)
      live(k) = DeltaFileMeta(abs, a.size, a.modificationTime,
        a.deletionVector, a.stats, a.baseRowId, a.defaultRowCommitVersion)
      k
    }

    /** A commit line. */
    def absorb(action: DeltaAction): Unit = action match {
      case p: CkptProtocol => protocol = p
      case m: CkptMetaData =>
        if (m.id.isDefined) tableId = m.id
        schemaString = m.schemaString
        partitionColumns = m.partitionColumns
        configuration = m.configuration
      case a: CkptAdd => tombstones -= addLive(a)
      case r: CkptRemove =>
        val k = key(r.path)
        live -= k
        tombstones(k) = r
      case t: CkptTxn => transactions(t.appId) = t.version
      case d: CkptDomainMetadata =>
        domains(d.domain) = DomainMeta(d.configuration, d.removed)
      case s: CkptSidecar => sidecars += s
      case _: CkptCdc | _: CkptCommitInfo =>
    }

    def snapshot(version: Long): DeltaSnapshot = {
      val minReaderVersion = protocol.minReaderVersion
      val readerFeatures = protocol.readerFeatures.fold(Set.empty[String])(_.toSet)
      // protocol gate — refuse loudly rather than serve silently-wrong rows.
      // minReaderVersion 2 mandates column-mapping awareness (implemented:
      // DeltaColumnMapping); 3 delegates to readerFeatures. Either way the
      // table is only readable if every capability it demands is one this
      // replay implements.
      if (minReaderVersion > 1) {
        val unsupported = readerFeatures -- SupportedReaderFeatures
        if ((minReaderVersion == 2 || minReaderVersion == 3) && unsupported.isEmpty) {
          // readable: v2's mandated capability (column mapping) is
          // implemented; a v3 table whose every reader feature is
          // implemented reads too. An EMPTY readerFeatures set is
          // spec-legal (the table demands no capabilities).
        } else {
          val detail =
            if (unsupported.nonEmpty) s"unsupported readerFeatures ${unsupported.toSeq.sorted.mkString("[", ", ", "]")}"
            else s"minReaderVersion $minReaderVersion"
          throw new UnsupportedDeltaProtocolException(
            s"Delta table at $rootStr requires $detail; this jarless reader " +
              "implements protocol 1 (plain add/remove replay" +
              (if (SupportedReaderFeatures.nonEmpty)
                s" + ${SupportedReaderFeatures.toSeq.sorted.mkString(", ")}" else "") +
              "). Reading anyway could return wrong results (resurrected " +
              "deleted rows, mis-mapped columns). Read this table with the " +
              "delta-spark connector instead.")
        }
      }
      require(schemaString != null,
        s"Delta log at $rootStr carries no metaData action (corrupt log?)")
      val cmMode = configuration.getOrElse(DeltaColumnMapping.ModeKey, "none")
      cmMode match {
        case "none" =>
        case "name" | "id" =>
          // both modes require (and every conforming writer stores) a
          // physicalName on every field — resolution goes by it. A partial
          // mapping would mis-read columns: refuse, don't guess.
          val sch = DataType.fromJson(schemaString).asInstanceOf[StructType]
          if (!DeltaColumnMapping.fullyMapped(sch)) {
            throw new UnsupportedDeltaProtocolException(
              s"Delta table at $rootStr declares column mapping mode '$cmMode' " +
                "but not every field carries delta.columnMapping.physicalName " +
                "metadata (non-conforming writer). Read it with the " +
                "delta-spark connector instead.")
          }
        case other =>
          throw new UnsupportedDeltaProtocolException(
            s"Delta table at $rootStr uses unknown column mapping mode " +
              s"'$other'; refusing rather than mis-reading columns.")
      }
      DeltaSnapshot(rootStr, version, schemaString, partitionColumns,
        live.values.toSeq, minReaderVersion, protocol.minWriterVersion,
        readerFeatures, protocol.writerFeatures.fold(Set.empty[String])(_.toSet),
        configuration, transactions.toMap, tableId, domains.toMap,
        tombstones.toMap)
    }
  }

  /** Action paths are URL-encoded and root-relative (absolute paths are
    * legal for external files). */
  private[sources] def resolvePath(root: Path, raw: String): String = {
    val decoded = java.net.URLDecoder.decode(raw, "UTF-8")
    // the common shape, plain relative segments, joins to the string
    // `new Path(root, decoded)` spells without its two URI parses (they
    // are most of a large checkpoint's replay time)
    if (PlainRelative.matcher(decoded).matches())
      root.toString.stripSuffix("/") + "/" + decoded
    else {
      val p = new Path(decoded)
      if (p.isAbsolute) decoded else new Path(root, decoded).toString
    }
  }

  private val PlainRelative =
    """[\w=-][\w.=-]*(/[\w=-][\w.=-]*)*""".r.pattern
}

/**
 * Delta `add.stats` JSON ⇄ [[FileStats]] — the per-file statistics every
 * real Delta writer embeds (`{"numRecords":N,"minValues":{...},
 * "maxValues":{...},"nullCount":{...}}`) and every real Delta reader
 * skips files with. Values follow Delta's JSON conventions: numbers as
 * numbers, dates as `yyyy-MM-dd`, timestamps as ISO-8601 strings.
 * Top-level columns only (nested stats parse as unknown → no pruning of
 * nested predicates, which [[StatsPredicate]] doesn't model anyway).
 */
object DeltaStats {
  import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
  import java.time.format.DateTimeFormatter

  private val TsFmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  def render(fs: FileStats, schema: StructType): Option[String] = {
    if (fs.numRecords.isEmpty) return None
    def valJson(v: Any, dt: DataType): Option[JValue] = (v, dt) match {
      case (n: Long, DateType) =>
        Some(JString(LocalDate.ofEpochDay(n).toString))
      case (n: Long, TimestampType) =>
        Some(JString(DateTimeFormatter.ISO_INSTANT.format(
          Instant.ofEpochSecond(Math.floorDiv(n, 1000000L),
            Math.floorMod(n, 1000000L) * 1000L))))
      case (n: Long, TimestampNTZType) =>
        Some(JString(TsFmt.format(
          LocalDateTime.ofEpochSecond(Math.floorDiv(n, 1000000L),
            (Math.floorMod(n, 1000000L) * 1000L).toInt, ZoneOffset.UTC))))
      case (n: Long, _) => Some(JLong(n))
      case (d: Double, _) => Some(JDouble(d))
      case (d: java.math.BigDecimal, _) => Some(JDecimal(BigDecimal(d)))
      case (s: String, _) => Some(JString(s))
      case (b: Boolean, _) => Some(JBool(b))
      case _ => None
    }
    def section(pick: FileColStats => Option[Any]): JObject = JObject(
      schema.fields.toList.flatMap { f =>
        fs.cols.get(f.name).flatMap(pick).flatMap(valJson(_, f.dataType))
          .map(f.name -> _)
      })
    Some(JsonMethods.compact(JObject(
      "numRecords" -> JLong(fs.numRecords.get),
      "minValues" -> section(_.min),
      "maxValues" -> section(_.max),
      "nullCount" -> JObject(schema.fields.toList.flatMap(f =>
        fs.cols.get(f.name).flatMap(_.nullCount).map(n =>
          f.name -> (JLong(n): JValue)))))))
  }

  def parse(json: String, schema: StructType): Option[FileStats] =
    try {
      val j = JsonMethods.parse(json)
      val numRecords = (j \ "numRecords") match {
        case JInt(n) => Some(n.toLong)
        case JLong(n) => Some(n)
        case _ => None
      }
      def domain(v: JValue, dt: DataType): Option[Any] = (v, dt) match {
        case (JString(s), DateType) =>
          Some(LocalDate.parse(s).toEpochDay)
        case (JString(s), TimestampType) =>
          val i = Instant.parse(s)
          Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
        case (JString(s), TimestampNTZType) =>
          val ldt = LocalDateTime.parse(s)
          Some(ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L +
            ldt.getNano / 1000L)
        case (JInt(n), ByteType | ShortType | IntegerType | LongType) =>
          Some(n.toLong)
        case (JLong(n), ByteType | ShortType | IntegerType | LongType) =>
          Some(n)
        case (jn, FloatType | DoubleType) => jn match {
          case JDouble(d) => Some(d)
          case JDecimal(d) => Some(d.toDouble)
          case JInt(n) => Some(n.toDouble)
          case JLong(n) => Some(n.toDouble)
          case _ => None
        }
        case (jn, _: DecimalType) => jn match {
          case JDecimal(d) => Some(d.bigDecimal)
          case JDouble(d) => Some(java.math.BigDecimal.valueOf(d))
          case JInt(n) => Some(new java.math.BigDecimal(n.bigInteger))
          case JLong(n) => Some(java.math.BigDecimal.valueOf(n))
          case _ => None
        }
        case (JString(s), StringType) => Some(s)
        case (JBool(b), BooleanType) => Some(b)
        case _ => None
      }
      def section(name: String): Map[String, JValue] = (j \ name) match {
        case JObject(fields) => fields.toMap
        case _ => Map.empty
      }
      val (mins, maxs, nulls) =
        (section("minValues"), section("maxValues"), section("nullCount"))
      val cols = schema.fields.toSeq.flatMap { f =>
        val mn = mins.get(f.name).flatMap(domain(_, f.dataType))
        val mx = maxs.get(f.name).flatMap(domain(_, f.dataType))
        val nc = nulls.get(f.name).collect {
          case JInt(n) => n.toLong
          case JLong(n) => n
        }
        if (mn.isEmpty && mx.isEmpty && nc.isEmpty) None
        else Some(f.name -> FileColStats(mn, mx, nc))
      }.toMap
      Some(FileStats(numRecords, cols))
    } catch { case scala.util.control.NonFatal(_) => None }
}

/**
 * Snapshot-pinned reads and minimal transactional writes of Delta tables
 * (jarless — see [[DeltaLog]]).
 */
object DeltaTable extends org.apache.spark.internal.Logging {

  /** Options stamped on reads so [[DeltaLakeSource]] recognizes the leaf
    * as a Delta scan and fingerprints it by table version. */
  val RootOption = "graft.delta.root"

  /** The one commit tail every Delta writer goes through: lead with the
    * `commitInfo` action (plus the monotone in-commit timestamp when
    * `ict`), then the create-no-overwrite fence on `version` — two
    * racing writers of the same version, the loser fails (the Delta
    * optimistic-concurrency contract) after deleting its `staged` data,
    * DV and cdc files, so its retry starts clean and the winner's log
    * never references them. The winner writes the body and fires the
    * AUTO-CHECKPOINT cadence of `conf` — every `delta.checkpointInterval`
    * commits (default 10, `<= 0` disables; delta-spark's own default),
    * so replay cost stays bounded on long-lived tables without anyone
    * calling [[checkpoint]] by hand. Best-effort: a checkpoint failure
    * never fails the already-published commit — the next cadence hit
    * (or a manual call) retries. */
  private def commitVersion(spark: SparkSession, rootStr: String,
      version: Long, now: Long, operation: String,
      parameters: Map[String, String], ict: Boolean, actions: Seq[JValue],
      conf: Map[String, String], staged: Seq[Path] = Nil): Long = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val info = commitInfoLine(now, operation, parameters,
      if (ict) Some(nextIct(fs, root, version - 1, now)) else None)
    fs.mkdirs(DeltaLog.logDir(root))
    val out = try CommitFence.create(fs, DeltaCodec.commitPath(root, version))
      catch {
        case e: Throwable =>
          staged.foreach(fs.delete(_, false))
          throw e
      }
    try out.write((info +: actions).map(JsonMethods.compact)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val interval = conf.get("delta.checkpointInterval")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(10)
    if (interval > 0 && version > 0 && version % interval == 0) {
      try checkpoint(spark, rootStr)
      catch {
        case scala.util.control.NonFatal(e) =>
          logWarning(s"auto-checkpoint at $rootStr v$version failed: $e")
      }
    }
    version
  }

  /** A table-relative path (what `add`/`remove` actions record) — both
    * sides qualified, so scheme-less snapshot paths and `file:` staged
    * paths relativize alike. */
  private def relOf(fs: FileSystem, root: Path, path: Path): String =
    fs.makeQualified(root).toUri.relativize(fs.makeQualified(path).toUri)
      .getPath

  private def jsonStrings(kvs: Seq[(String, String)]): JObject =
    JObject(kvs.map { case (k, v) => k -> (JString(v): JValue) }.toList)

  /** The `deletionVector` descriptor of an `add` action. */
  private def dvJson(d: DvDescriptor): JValue =
    JObject(List[(String, JValue)](
      "storageType" -> JString(d.storageType),
      "pathOrInlineDv" -> JString(d.pathOrInlineDv)) ++
      d.offset.map(o => "offset" -> (JInt(BigInt(o)): JValue)).toList ++
      List[(String, JValue)](
        "sizeInBytes" -> JInt(BigInt(d.sizeInBytes)),
        "cardinality" -> JLong(d.cardinality)))

  /** One `add` action — every writer (fresh files, DV re-adds, stats
    * and row-id backfills, convert, clone, restore) builds it here. */
  private def addAction(path: String, partitionValues: Seq[(String, String)],
      size: Long, modificationTime: Long, dataChange: Boolean,
      dv: Option[DvDescriptor] = None, stats: Option[String] = None,
      rowIds: List[(String, JValue)] = Nil): JValue =
    JObject("add" -> JObject(List[(String, JValue)](
      "path" -> JString(path),
      "partitionValues" -> jsonStrings(partitionValues),
      "size" -> JLong(size),
      "modificationTime" -> JLong(modificationTime),
      "dataChange" -> JBool(dataChange)) ++
      dv.map(d => "deletionVector" -> dvJson(d)).toList ++
      stats.map(sj => "stats" -> (JString(sj): JValue)).toList ++
      rowIds))

  private def removeAction(rel: String, now: Long,
      dataChange: Boolean): JValue =
    JObject("remove" -> JObject(
      "path" -> JString(rel),
      "deletionTimestamp" -> JLong(now),
      "dataChange" -> JBool(dataChange)))

  /** The `txn` (appId, version) idempotence watermark action. */
  private def txnAction(txn: Option[(String, Long)], now: Long): Seq[JValue] =
    txn.toSeq.map { case (app, v) =>
      JObject("txn" -> JObject(
        "appId" -> JString(app), "version" -> JLong(v),
        "lastUpdated" -> JLong(now)))
    }

  val VersionOption = "graft.delta.version"

  /** The commit TIMELINE, oldest first: every commit's (version,
    * timestamp millis, operation). The timestamp is the Delta
    * protocol's commit clock — `commitInfo.inCommitTimestamp` when the
    * commit carries one (the IN-COMMIT TIMESTAMPS feature: the
    * authoritative clock, immune to log copies/restores), else the
    * commit file's modification time; mixed histories (feature enabled
    * mid-table) resolve each commit by its own clock, the spec's rule.
    * History, `TIMESTAMP AS OF`, `startingTimestamp` and the change
    * feed all read this one clock ([[LakeTable.historyOf]]). Operation
    * is `commitInfo.operation` (null when unrecorded). Driver-side: one
    * listing plus each commit's commitInfo line. */
  private[sources] def commits(spark: SparkSession,
      root: String): Seq[(Long, Long, String)] = {
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    DeltaLog.listing(fs, root).commits.toSeq.sortBy(_._1).map { case (v, st) =>
      // read up to the commitInfo line only (writers put it first)
      val info = DeltaCodec.readCommit(fs, st.getPath, v, root)(
        _.collectFirst { case c: CkptCommitInfo => c })
      (v, info.flatMap(_.inCommitTimestamp).getOrElse(st.getModificationTime),
        info.flatMap(_.operation).orNull)
    }
  }

  /** `timestampAsOf` companion to [[read]]'s `versionAsOf`: reads the
    * LATEST commit whose timestamp ([[commits]]) is at or before
    * `tsMillis`. Fails loudly when `tsMillis` precedes the first
    * commit. */
  def readTimestampAsOf(spark: SparkSession, root: String,
      tsMillis: Long): DataFrame =
    read(spark, root, versionAsOf = Some(
      LakeTable.idAsOf(commits(spark, root), tsMillis, root)))

  /** Snapshot read with the table's ROW IDS surfaced: two extra
    * columns, `_row_id` (stable under appends, DV deletes, restore and
    * clone; fresh after file rewrites — see SupportedWriterFeatures)
    * and `_row_commit_version` (the commit that last assigned the
    * row's file). Requires row tracking with every live file tracked
    * ([[enableRowTracking]] backfills). Tables that declare
    * MATERIALIZED row-id columns (a preserving writer's state this
    * reader cannot decode without scanning hidden physical columns)
    * refuse rather than serve ids that may be stale. */
  def readWithRowIds(spark: SparkSession, root: String,
      versionAsOf: Option[Long] = None): DataFrame =
    read(spark, root, versionAsOf, withRowIds = true)

  /** Read the table at its latest version — or a historic one via
    * `versionAsOf` (time travel) — pinned: the returned frame keeps
    * reading exactly this snapshot's files even if the table commits
    * again. Partition values are recovered from the directory layout via
    * `basePath` (hive-style layout, which [[create]] and the delta
    * writers both produce). Historic reads work because Delta never
    * rewrites data files in place — an overwritten version's files stay
    * on disk until VACUUM.
    *
    * DELETION-VECTOR merge-on-read happens inside the scan: one
    * `NOT row_deleted(_metadata.file_path, _metadata.row_index)` filter
    * ([[LakeDeletes]]) carries each DV-bearing file's descriptor, and
    * each task decodes the DVs of the files it reads — file-backed ones
    * straight from the DV file, inline ones from the descriptor. The
    * read stays one source leaf with one scan stage; nothing is decoded
    * on the driver and no join or broadcast exchange is planned. */
  def read(spark: SparkSession, root: String,
      versionAsOf: Option[Long] = None,
      withRowIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, regexp_replace}
    val s = DeltaLog.snapshot(spark, root, versionAsOf)
    if (withRowIds) {
      require(s.configuration
          .get("delta.rowTracking.materializedRowIdColumnName").isEmpty,
        s"$root materializes row ids into a hidden physical column; " +
          "this reader serves base-row-id arithmetic only and would " +
          "return stale ids for preserved rows. Read with delta-spark.")
      val untracked = s.files.filterNot(_.baseRowId.isDefined)
      require(untracked.isEmpty,
        s"readWithRowIds at $root: ${untracked.size} live file(s) carry " +
          "no baseRowId — run enableRowTracking to backfill")
    }
    if (s.files.isEmpty) {
      val outSchema = if (!withRowIds) s.schema
        else StructType(s.schema.fields.toSeq ++ Seq(
          StructField("_row_id", LongType), StructField("_row_commit_version", LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    }
    // under column mapping the FILES spell physical names; scan with the
    // physical schema and restore logical names at the end (stats JSON
    // keys and pushed-down filter attributes are physical too, so the
    // skipping below stays consistent)
    val cmMode = DeltaColumnMapping.mode(s.configuration)
    val readSchema = physicalSchemaOf(s)
    val dvs = LakeDeletes.deletionVectors(s.files, new Path(root))
    val reader = spark.read
      .schema(readSchema)
      .option(RootOption, root)
      .option(VersionOption, s.version.toString)
    val raw = maybeBasePath(spark, root,
      if (dvs.isEmpty) reader
      else reader.option(LakeDeletes.SourcesOption,
        LakeDeletes.sourcesValue(LakeDeletes.sourceFiles(dvs))),
      s.files.map(_.path))
      .parquet(s.files.map(_.path): _*)
    // log-level FILE SKIPPING: filtered scans list only the files whose
    // `add.stats` ranges can match the pushed-down predicates — at
    // 100 TB this, not the scan, is the difference between a point
    // lookup and a full-table read
    val statsByPath: Map[String, FileStats] = s.files.flatMap(f =>
      f.stats.flatMap(DeltaStats.parse(_, readSchema))
        .map(fs => normPath(f.path) -> fs)).toMap
    val pruned = StatsPruning.wrap(raw, statsByPath)
    val data =
      if (dvs.isEmpty) pruned
      else pruned.filter(!LakeDeletes.rowDeleted(spark, dvs))
    // row ids ride the (file, position) identity: `_row_id = baseRowId +
    // row_index`, attached via a broadcast join on the O(files)
    // (path → baseRowId) map — never a shuffle of the data side
    val withIds = if (!withRowIds) data else {
      val fileIds = spark.createDataFrame(s.files.map(f =>
          (normPath(f.path), f.baseRowId.get,
            f.defaultRowCommitVersion.getOrElse(-1L))))
        .toDF("__rt_path", "__rt_base", "__rt_dcv")
      data
        .withColumn("__rt_p",
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
        .withColumn("__rt_idx", col("_metadata.row_index"))
        .join(broadcast(fileIds), col("__rt_p") === col("__rt_path"), "left")
        .withColumn("_row_id", col("__rt_base") + col("__rt_idx"))
        .withColumn("_row_commit_version", col("__rt_dcv"))
        .drop("__rt_p", "__rt_idx", "__rt_path", "__rt_base", "__rt_dcv")
    }
    if (cmMode == "none") withIds
    else DeltaColumnMapping.toLogical(withIds, s.schema,
      keep = if (withRowIds) Seq("_row_id", "_row_commit_version") else Nil)
  }

  /** Scheme-normalize a path string: `_metadata.file_path` is
    * `file:`-qualified, log paths are usually bare, and the delete
    * writers store the bare form. Serializable-pure: used on executors. */
  private[sources] def normPath(p: String): String =
    p.replaceFirst("^file:/+", "/")

  /** `basePath` (hive partition-value reconstruction; Spark requires it
    * be an ancestor of every input) only when all paths live under the
    * root — a SHALLOW CLONE's adds reference absolute paths under the
    * SOURCE table, where it must be omitted (clones are unpartitioned
    * by construction, so nothing is lost). */
  private[sources] def maybeBasePath(spark: SparkSession, rootStr: String,
      reader: org.apache.spark.sql.DataFrameReader,
      paths: Seq[String]): org.apache.spark.sql.DataFrameReader = {
    val p = new Path(rootStr)
    val rootNorm = normPath(
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(p).toString)
    if (paths.forall(f => normPath(f).startsWith(rootNorm + "/")))
      reader.option("basePath", rootStr)
    else reader
  }

  /** Stage `df` (data columns + a trailing `_change_type`) as CDC
    * parquet under `_change_data/` — hive-partitioned like the data when
    * the table is partitioned, so external CDF readers recover partition
    * values from the action's `partitionValues` exactly as for adds.
    * Returns the commit's `cdc` action lines plus the written file paths
    * (so a lost commit race can clean up). Always produces at least one
    * (possibly footer-only) file: a commit that deletes rows on a CDF
    * table must stay self-describing even when zero rows matched. */
  private def writeCdc(spark: SparkSession, fs: FileSystem, root: Path,
      df: DataFrame, partitionBy: Seq[String]): (Seq[JValue], Seq[Path]) = {
    val stage = new Path(root,
      s".graft-cdc-stage-${java.util.UUID.randomUUID().toString}")
    // same hash distribution as the data write (see stageNewFiles)
    val clustered =
      if (partitionBy.isEmpty) df
      else df.repartition(partitionBy.map(df.col): _*)
    val w = clustered.write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(stage.toString)
    var staged = dataFiles(fs, stage)
    if (staged.isEmpty) {
      // zero changed rows still need a cdc action (see scaladoc)
      df.limit(0).repartition(1).write.mode(SaveMode.Overwrite)
        .parquet(stage.toString)
      staged = dataFiles(fs, stage)
    }
    val stageUri = fs.makeQualified(stage).toUri
    val moved = staged.map { s =>
      val rel = stageUri.relativize(s.getPath.toUri).getPath
      val target = new Path(root, "_change_data/" + rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(s.getPath, target)) {
        throw new IllegalStateException(
          s"failed to move staged cdc file ${s.getPath} to $target")
      }
      (rel, fs.getFileStatus(target))
    }
    fs.delete(stage, true)
    val actions: Seq[JValue] = moved.map { case (rel, st) =>
      JObject("cdc" -> JObject(
        "path" -> JString("_change_data/" + rel),
        "partitionValues" -> jsonStrings(LakeMaint.hiveValues(rel)),
        "size" -> JLong(st.getLen),
        "dataChange" -> JBool(false)))
    }
    (actions, moved.map(_._2.getPath))
  }

  /** CHANGE DATA FEED read: every row-level change committed in versions
    * `[startVersion, endVersion]` (inclusive; default latest), with
    * `_change_type` (`insert` / `delete` / `update_preimage` /
    * `update_postimage`), `_commit_version`, and `_commit_timestamp`
    * appended — the jarless `table_changes(...)`.
    *
    * Per-commit sourcing follows the Delta protocol: a commit that
    * carries `cdc` actions is served FROM THOSE FILES EXCLUSIVELY (its
    * add/remove actions are rewrite bookkeeping); a cdc-less commit of
    * only dataChange adds is served as inserts from the added files; one
    * of only dataChange removes as deletes from the removed files (still
    * on disk until VACUUM, minus any rows their deletion vectors had
    * already dropped). A cdc-less commit that both adds and removes data
    * is not reconstructible and fails loudly, as does a version whose
    * data changed while CDF was not enabled.
    *
    * Scale: the walk reads only the range's commit JSONs (CDF enablement
    * at its start comes from the snapshot before it, replayed from the
    * checkpoint — so a range after a log cleanup still reads), driver-
    * side metadata; the change rows themselves stream
    * straight from the listed parquet — no shuffle, predicate pushdown
    * intact through the final union. */
  def changes(spark: SparkSession, rootStr: String, startVersion: Long,
      endVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val commits = DeltaLog.listing(fs, rootStr).commits
    val end = endVersion.getOrElse(commits.keys.max)
    require(startVersion >= 0 && startVersion <= end && end <= commits.keys.max,
      s"changes range [$startVersion, $end] out of bounds " +
        s"[0, ${commits.keys.max}] at $rootStr")

    val endSnap = DeltaLog.snapshot(spark, rootStr, Some(end))
    val cmMode = DeltaColumnMapping.mode(endSnap.configuration)
    val logicalSchema = endSnap.schema
    val physSchema = physicalSchemaOf(endSnap)
    val cdcReadSchema = StructType(
      physSchema.fields :+ StructField(ChangeStamps.ChangeType, StringType))

    // the range's own commit JSONs, with CDF enablement tracked from
    // the configuration at startVersion - 1 (a replay from its
    // checkpoint), so a poll never walks the log before its range
    final case class VActs(ts: Long, cdc: Seq[String],
        addsDc: Seq[String], removesDc: Seq[String], cdfOn: Boolean)
    var cfg =
      if (startVersion == 0) Map.empty[String, String]
      else DeltaLog.snapshot(spark, rootStr, Some(startVersion - 1)).configuration
    val perVersion: Seq[(Long, VActs)] = (startVersion to end).map { v =>
      val st = commits.getOrElse(v, throw new IllegalStateException(
        s"Delta log at $rootStr is missing commit version $v"))
      var ts = st.getModificationTime
      val cdc = mutable.Buffer.empty[String]
      val addsDc = mutable.Buffer.empty[String]
      val removesDc = mutable.Buffer.empty[String]
      DeltaCodec.readCommit(fs, st.getPath, v, rootStr)(_.foreach {
        // the commit clock of [[commits]] (in-commit timestamp, else the
        // file's mtime), keeping CDF agreed with history() and
        // readTimestampAsOf()
        case c: CkptCommitInfo => c.inCommitTimestamp.foreach(ts = _)
        case m: CkptMetaData => cfg = m.configuration
        case c: CkptCdc => cdc += c.path
        case a: CkptAdd if a.dataChange => addsDc += a.path
        case r: CkptRemove if r.dataChange => removesDc += r.path
        case _ =>
      })
      v -> VActs(ts, cdc.toSeq, addsDc.toSeq, removesDc.toSeq,
        cdfEnabled(cfg))
    }

    def resolve(raw: String): String = DeltaLog.resolvePath(root, raw)
    def stamp(df: DataFrame, changeType: org.apache.spark.sql.Column,
        v: Long, ts: Long): DataFrame =
      ChangeStamps.stamp(df, changeType, ChangeStamps.DeltaId, v, ts)

    val parts: Seq[DataFrame] = perVersion
      .flatMap { case (v, a) =>
        val hasData = a.cdc.nonEmpty || a.addsDc.nonEmpty || a.removesDc.nonEmpty
        if (!hasData) None
        else if (!a.cdfOn) {
          throw new UnsupportedDeltaProtocolException(
            s"change data was not recorded for version $v at $rootStr " +
              "(delta.enableChangeDataFeed was not set when it committed); " +
              s"start the range at a later version or read the snapshot.")
        } else if (a.cdc.nonEmpty) {
          Some(stamp(spark.read.schema(cdcReadSchema)
            .option("basePath", new Path(root, "_change_data").toString)
            .parquet(a.cdc.map(resolve): _*), col(ChangeStamps.ChangeType),
            v, a.ts))
        } else if (a.removesDc.isEmpty) {
          Some(stamp(spark.read.schema(physSchema)
            .option("basePath", rootStr)
            .parquet(a.addsDc.map(resolve): _*), lit("insert"), v, a.ts))
        } else if (a.addsDc.isEmpty) {
          // deletes of whole files: rows come off the removed files,
          // minus positions their DVs (at v-1) had already deleted
          val removed = spark.read.schema(physSchema)
            .option("basePath", rootStr)
            .parquet(a.removesDc.map(resolve): _*)
          val removedPaths = a.removesDc.map(resolve).map(normPath).toSet
          val priorDv = LakeDeletes.deletionVectors(
            DeltaLog.snapshot(spark, rootStr, Some(v - 1)).files
              .filter(f => removedPaths.contains(normPath(f.path))), root)
          val alive =
            if (priorDv.isEmpty) removed
            else removed.filter(!LakeDeletes.rowDeleted(spark, priorDv))
          Some(stamp(alive, lit("delete"), v, a.ts))
        } else {
          throw new UnsupportedDeltaProtocolException(
            s"version $v at $rootStr both adds and removes data without " +
              "cdc files; its change data cannot be reconstructed. " +
              "Read it with the delta-spark connector instead.")
        }
      }

    val stamps = ChangeStamps.columns(ChangeStamps.DeltaId)
    val ordered: Seq[String] = physSchema.fieldNames.toSeq ++ stamps
    val unioned = parts
      .map(df => df.select(ordered.map(col): _*))
      .reduceOption(_.union(_))
      .getOrElse(ChangeStamps.empty(spark, physSchema, ChangeStamps.DeltaId))
    if (cmMode == "none") unioned
    else DeltaColumnMapping.toLogical(unioned, logicalSchema, keep = stamps)
  }

  /** Version 0 commit: write `df` as parquet under `root` (optionally
    * hive-partitioned) and log protocol + metaData + adds. Table
    * properties (e.g. `delta.enableChangeDataFeed=true`) land in the
    * version-0 `metaData.configuration`. */
  def create(df: DataFrame, root: String,
      partitionBy: Seq[String] = Nil,
      configuration: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None): Long =
    commit(df, root, overwrite = true, partitionBy, configuration, txn)

  /** Append commit: new parquet files + their add actions. `txn`
    * stamps the commit with a (appId, version) transaction action — the
    * idempotence watermark an exactly-once streaming sink checks before
    * re-applying a replayed micro-batch. */
  def append(df: DataFrame, root: String,
      partitionBy: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false): Long =
    // concurrent ingest: an append losing the commit fence has already
    // cleaned its staged files — re-run against the winner's snapshot
    CommitRetry() {
      commit(df, root, overwrite = false, partitionBy, txn = txn,
        mergeSchema = mergeSchema)
    }

  /**
   * Row-level DELETE via deletion vectors (merge-on-read): rows matching
   * `condition` are marked deleted WITHOUT rewriting any data file —
   * each affected file is re-added with a `deletionVector` descriptor
   * pointing into a freshly-written DV file, and the table's protocol is
   * upgraded to (3, 7) + `deletionVectors` on first use. The Delta
   * mirror of `IcebergTable.deleteWhere` (positional delete files).
   *
   * Scale: matching positions are gathered and bitmapped PER FILE on
   * executors (`groupByKey(file).mapGroups` — one roaring bitmap per
   * file, never an all-positions list on the driver); only the
   * serialized bitmaps (compressed, metadata-scale) are collected, the
   * same driver footprint as the commit JSON that must list every
   * re-added file. A repeat delete UNIONS into the existing DV, so
   * deletes compose without rewriting earlier vectors' files. A
   * condition matching no row (an empty table included) commits
   * nothing and returns the current version.
   */
  def deleteWhere(spark: SparkSession, rootStr: String,
      condition: org.apache.spark.sql.Column): Long =
    CommitRetry() { deleteWhereOnce(spark, rootStr, condition) }

  private def deleteWhereOnce(spark: SparkSession, rootStr: String,
      condition: org.apache.spark.sql.Column): Long = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = true, kind = "deleteWhere")
    if (prior.files.isEmpty) return prior.version
    // the predicate runs over the RAW snapshot (previously-deleted rows
    // may re-match; the DV union makes that a no-op), stats-pruned: a
    // narrow delete against a wide table opens only the files whose
    // [min, max] ranges admit the pushed-down predicate
    val merged = matchDvs(spark, rootStr, prior, prior.files,
      pruneByStats = true, _.filter(condition))
    if (merged.isEmpty) return prior.version // no matching rows: no commit

    // CHANGE DATA FEED: record the deleted rows as cdc files. Sourced
    // from the POST-DV read so rows a previous delete already removed
    // never re-appear as change rows when the predicate re-matches them.
    val (cdcLines, cdcPaths): (Seq[JValue], Seq[Path]) =
      if (!cdfEnabled(prior.configuration)) (Nil, Nil)
      else writeCdc(spark, fs, root,
        physicalRows(prior, read(spark, rootStr).filter(condition))
          .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete")),
        physPartitionColumns(prior))

    val now = System.currentTimeMillis()
    commitVersion(spark, rootStr, prior.version + 1, now, "DELETE", Map.empty,
      ictEnabled(prior.configuration),
      dvProtocolLine(prior).toSeq ++ dvAddRemoveLines(fs, root, merged, now) ++
        cdcLines,
      prior.configuration, staged = dvPaths(root, merged) ++ cdcPaths)
  }

  /** Deletion vectors over the rows `matching` keeps in `files` (the
    * snapshot's, or a merge's pruned candidates): the shared
    * [[LakeDml.matchedPositions]] scan under the table's column mapping
    * (physical names scanned, logical ones restored for `matching`;
    * mapped stats key physically, so they never prune), bitmapped and
    * written by [[writeDvs]]. Empty when nothing matched. */
  private def matchDvs(spark: SparkSession, rootStr: String,
      prior: DeltaSnapshot, files: Seq[DeltaFileMeta], pruneByStats: Boolean,
      matching: DataFrame => DataFrame): Seq[(DeltaFileMeta, DvDescriptor)] = {
    import spark.implicits._
    val mapped = DeltaColumnMapping.mode(prior.configuration) != "none"
    val matched = LakeDml.matchedPositions(spark, rootStr, files,
      physicalSchemaOf(prior),
      if (pruneByStats && !mapped) Some(prior.schema) else None,
      scan => matching(if (!mapped) scan
        else DeltaColumnMapping.toLogical(scan, prior.schema,
          keep = Seq("_metadata"))))
    writeDvs(spark, rootStr, prior, matched.as[(String, Long)])
  }

  /** The DV files a commit's re-adds point into (deleted when the
    * commit loses its fence). */
  private def dvPaths(root: Path,
      merged: Seq[(DeltaFileMeta, DvDescriptor)]): Seq[Path] =
    merged.flatMap(_._2.absolutePath(root)).distinct

  /** `df` under the table's physical column names (column mapping). */
  private def physicalRows(s: DeltaSnapshot, df: DataFrame): DataFrame =
    if (DeltaColumnMapping.mode(s.configuration) == "none") df
    else DeltaColumnMapping.toPhysical(df, s.schema)

  /** Physical → logical column names of a column-mapped table (empty
    * when unmapped) — what constraint checks on staged rows resolve. */
  private def physToLogical(s: DeltaSnapshot): Map[String, String] =
    if (DeltaColumnMapping.mode(s.configuration) == "none") Map.empty
    else s.schema.fields.toSeq
      .map(f => DeltaColumnMapping.physicalName(f) -> f.name).toMap

  /** The table's partition columns under their physical names. */
  private def physPartitionColumns(s: DeltaSnapshot): Seq[String] =
    if (DeltaColumnMapping.mode(s.configuration) == "none") s.partitionColumns
    else s.partitionColumns.map(n => s.schema.fields.find(_.name == n)
      .map(DeltaColumnMapping.physicalName).getOrElse(n))

  /** Protocol-upgrade action for a commit that introduces deletion
    * vectors on a table not yet at (3, 7) + `deletionVectors`. */
  private def dvProtocolLine(prior: DeltaSnapshot): Option[JValue] = {
    val hasDvProtocol = prior.minReaderVersion >= 3 &&
      prior.readerFeatures.contains("deletionVectors")
    if (hasDvProtocol) None
    else Some(protocolAction(3, 7,
      readerFeatures = prior.readerFeatures + "deletionVectors",
      writerFeatures = prior.writerFeatures + "deletionVectors"))
  }

  /** remove + add(withDV) action pairs for files whose deletion vector
    * this commit replaces (the merge-on-read re-add shape). */
  private def dvAddRemoveLines(fs: FileSystem, root: Path,
      merged: Seq[(DeltaFileMeta, DvDescriptor)], now: Long): Seq[JValue] =
    merged.flatMap { case (f, d) =>
      val rel = relOf(fs, root, new Path(f.path))
      // stats describe the file's PHYSICAL rows (Delta convention:
      // numRecords counts DV-deleted rows too), so they carry forward;
      // same file, same rows — row-tracking ids carry forward too
      Seq(removeAction(rel, now, dataChange = true),
        addAction(rel, LakeMaint.hiveValues(rel), f.size, f.modificationTime,
          dataChange = true, Some(d), f.stats, carriedRowIdJson(f)))
    }

  /**
   * Build per-file deletion bitmaps for `matched` (normalized-path,
   * position) rows, union each with the file's existing DV, and write
   * the DV files FROM EXECUTORS — one DV file per non-empty partition
   * of the grouped build, holding the blobs of the data files that
   * partition handled. The driver collects only (path → descriptor)
   * pairs — O(affected files) metadata, the same cost class as the
   * commit JSON that must list every re-added file — never the bitmap
   * bytes, so a delete touching 10^6 files funnels no blobs through the
   * driver. Existing DVs are read and unioned on the executors too.
   */
  private def writeDvs(spark: SparkSession, rootStr: String,
      prior: DeltaSnapshot,
      matched: org.apache.spark.sql.Dataset[(String, Long)])
      : Seq[(DeltaFileMeta, DvDescriptor)] = {
    import spark.implicits._
    val existing: Map[String, DvDescriptor] = prior.files.flatMap(f =>
      f.dv.filter(_.cardinality > 0L).map(d => normPath(f.path) -> d)).toMap
    val existingB = spark.sparkContext.broadcast(existing)
    val confW = new org.apache.spark.SerializableWritable(
      spark.sessionState.newHadoopConf())
    val collected: Array[(String, DvDescriptor)] = matched
      .groupByKey(_._1)
      .mapGroups { (path, rows) =>
        val (bytes, card) =
          DeltaDeletionVectors.serializePositions(rows.map(_._2))
        (path, bytes, card)
      }
      .mapPartitions { it =>
        val items = it.toArray
        if (items.isEmpty) Iterator.empty
        else {
          val tableRoot = new Path(rootStr)
          val fs = tableRoot.getFileSystem(confW.value)
          val dvCache = mutable.Map.empty[String, Array[Byte]]
          def fileBytes(p: Path): Array[Byte] =
            dvCache.getOrElseUpdate(p.toString, DeltaDeletionVectors.readFile(fs, p))
          val merged = items.toSeq.map { case (p, bytes, card) =>
            existingB.value.get(p) match {
              case Some(old) =>
                val union = DeltaDeletionVectors.positionsOf(old,
                  old.absolutePath(tableRoot).map(fileBytes)).iterator ++
                  DeltaDeletionVectors.deserializePositions(bytes).iterator
                val (mb, mc) = DeltaDeletionVectors.serializePositions(union)
                (p, mb, mc)
              case None => (p, bytes, card)
            }
          }
          DeltaDeletionVectors.writeDvFile(fs, tableRoot, merged)._2.iterator
        }
      }.collect()
    val byNorm: Map[String, DeltaFileMeta] =
      prior.files.map(f => normPath(f.path) -> f).toMap
    collected.toSeq.map { case (p, d) =>
      (byNorm.getOrElse(p, throw new IllegalStateException(
        s"matched file $p is not in the snapshot of $rootStr")), d)
    }
  }

  /** Stage-write `physRows` (hive `partitionBy` when `physParts`
    * nonEmpty), move the produced files into the table preserving
    * partition subpaths, and return the landed statuses. */
  private def stageNewFiles(fs: FileSystem, root: Path,
      physRows: DataFrame, physParts: Seq[String],
      // runs BETWEEN the stage write and the move: validation against
      // the materialized rows (a throw deletes the stage and refuses
      // the write with the table untouched)
      validateStaged: Option[Path => Unit] = None): Seq[FileStatus] = {
    val stage = new Path(root,
      s".graft-stage-${java.util.UUID.randomUUID().toString}")
    // hash-distribute on the partition values first (delta-spark's
    // optimizedWrites): one file per partition per write, not
    // tasks x partitions tiny files
    val clustered =
      if (physParts.isEmpty) physRows
      else physRows.repartition(physParts.map(physRows.col): _*)
    val writer = clustered.write.mode(SaveMode.Append)
    (if (physParts.nonEmpty) writer.partitionBy(physParts: _*) else writer)
      .parquet(stage.toString)
    validateStaged.foreach { v =>
      try v(stage) catch {
        case t: Throwable => fs.delete(stage, true); throw t
      }
    }
    val stageUri = fs.makeQualified(stage).toUri
    val added = dataFiles(fs, stage).map { s =>
      val rel = stageUri.relativize(s.getPath.toUri).getPath
      val target = new Path(root, rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(s.getPath, target)) {
        throw new IllegalStateException(
          s"failed to move staged file ${s.getPath} to $target")
      }
      fs.getFileStatus(target)
    }
    fs.delete(stage, true)
    added
  }

  /** `add` action lines for freshly-landed files: hive partition values
    * from the relative path, footer stats over `statsSchema`. With
    * `rowTracking` the new files get FRESH base row ids past `priorHwm`
    * stamped with `version`, plus the republished watermark domain
    * (this writer does not materialize row ids, so rows REWRITTEN into
    * these files get new identities — the non-preserving-writer posture
    * the spec allows; appends are always fresh rows anyway). */
  private def addActionLines(spark: SparkSession, fs: FileSystem,
      root: Path, added: Seq[FileStatus], statsSchema: StructType,
      rowTracking: Boolean, priorHwm: Long, version: Long,
      dataChange: Boolean): Seq[JValue] = {
    val statsByPath: Map[String, FileStats] = ParquetFooterStats
      .collect(spark, added.map(_.getPath.toString), statsSchema)
    val (rowIdsByPath, rowIdDomain) = assignFreshRowIds(rowTracking,
      priorHwm, version, added.map(s => s.getPath.toString ->
        statsByPath.get(s.getPath.toString).flatMap(_.numRecords)))
    added.map { s =>
      val rel = relOf(fs, root, s.getPath)
      addAction(rel, LakeMaint.hiveValues(rel), s.getLen, s.getModificationTime,
        dataChange, stats = statsByPath.get(s.getPath.toString)
          .flatMap(DeltaStats.render(_, statsSchema)),
        rowIds = rowIdsByPath.getOrElse(s.getPath.toString, Nil))
    } ++ rowIdDomain
  }

  /** [[addActionLines]] for a data commit on `prior`: stats over its
    * physical file columns, row ids when it tracks them. */
  private def addActionLines(spark: SparkSession, fs: FileSystem,
      root: Path, added: Seq[FileStatus], prior: DeltaSnapshot,
      version: Long, dataChange: Boolean): Seq[JValue] =
    addActionLines(spark, fs, root, added, fileStatsSchema(prior),
      rowTrackingOn(prior), rowIdHighWaterMark(prior), version, dataChange)

  /** The table's schema under its physical column names. */
  private def physicalSchemaOf(s: DeltaSnapshot): StructType =
    if (DeltaColumnMapping.mode(s.configuration) == "none") s.schema
    else DeltaColumnMapping.physicalSchema(s.schema)

  /** The columns data files hold (partition values live in paths) —
    * what footer stats cover. */
  private def fileStatsSchema(s: DeltaSnapshot): StructType = {
    val parts = physPartitionColumns(s)
    StructType(physicalSchemaOf(s).filterNot(f => parts.contains(f.name)))
  }

  /**
   * Row-level UPDATE — the remaining DML verb: rows matching
   * `condition` are replaced by versions with `set`'s expressions
   * applied (each evaluated against the OLD row), in ONE merge-on-read
   * commit: matched positions are deletion-vector-deleted (no data-file
   * rewrite), the updated versions land as fresh data files, and on a
   * CDF table the effect is recorded as `update_preimage` /
   * `update_postimage` pairs, so [[changes]] replays the update
   * exactly. The matched-position scan wraps log-stats file skipping,
   * and the updated versions come from the POST-DV read, so rows an
   * earlier delete removed are never resurrected. Set expressions must
   * preserve each column's type (cast in the expression otherwise).
   */
  def update(spark: SparkSession, rootStr: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      txn: Option[(String, Long)] = None): Long =
    CommitRetry() { updateOnce(spark, rootStr, condition, set, txn) }

  private def updateOnce(spark: SparkSession, rootStr: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      txn: Option[(String, Long)]): Long = {
    import org.apache.spark.sql.functions.lit
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prior = DeltaLog.snapshot(spark, rootStr)
    if (LakeDml.replayed(prior.transactions, txn)) return prior.version
    writerGate(prior, rootStr, deletesRows = true, kind = "update")
    LakeDml.checkSet(rootStr, set, prior.schema, prior.partitionColumns)
    // GENERATED columns derive, IDENTITY columns assign — neither may
    // be SET directly (the delta-spark refusal); generated columns
    // re-derive below after SET in case a referenced column changed
    val genFs = generatedFields(prior.schema)
    set.keys.foreach { k =>
      require(!genFs.exists(_.name == k),
        s"update at $rootStr: column '$k' is GENERATED — its value " +
          "derives from the declared expression and cannot be SET")
      require(!identityFields(prior.schema).exists(_.name == k),
        s"update at $rootStr: column '$k' is an IDENTITY column and " +
          "cannot be SET")
    }
    if (prior.files.isEmpty) return prior.version

    // updated versions: POST-DV matched rows with SET applied, then
    // generated columns re-derived (a SET may have changed a column the
    // generation expression references; deterministic by spec, so
    // unconditional recomputation equals delta-spark's changed-only one)
    val old = read(spark, rootStr).filter(condition)
    val updated = genFs.foldLeft(
        LakeDml.applySet(rootStr, old, set, prior.schema)) { (d, f) =>
      d.withColumn(f.name, org.apache.spark.sql.functions.expr(
        f.metadata.getString("delta.generationExpression")).cast(f.dataType))
    }

    // matched positions → deletion vectors (stats-pruned scan)
    val merged = matchDvs(spark, rootStr, prior, prior.files,
      pruneByStats = true, _.filter(condition))
    if (merged.isEmpty) return prior.version // nothing matched: no commit
    val physParts = physPartitionColumns(prior)
    // rules enforce against the STAGED rows — the exact bytes the
    // commit publishes — not a re-execution of the SET expressions
    val added = stageNewFiles(fs, root, physicalRows(prior, updated), physParts,
      validateStaged = Some(st => enforceConstraintsOnStage(
        spark, prior, rootStr, st, "update", physToLogical(prior))))

    // ---- CDF: exact pre/post pairs ----
    val (cdcLines, cdcPaths): (Seq[JValue], Seq[Path]) =
      if (!cdfEnabled(prior.configuration)) (Nil, Nil)
      else writeCdc(spark, fs, root,
        Seq(old -> "update_preimage", updated -> "update_postimage")
          .map { case (df, tpe) =>
            physicalRows(prior, df).withColumn("_change_type", lit(tpe))
          }.reduce(_ unionByName _), physParts)

    val version = prior.version + 1
    val now = System.currentTimeMillis()
    commitVersion(spark, rootStr, version, now, "UPDATE",
      Map("matchedFiles" -> merged.size.toString),
      ictEnabled(prior.configuration),
      txnAction(txn, now) ++ dvProtocolLine(prior).toSeq ++
        dvAddRemoveLines(fs, root, merged, now) ++
        addActionLines(spark, fs, root, added, prior, version,
          dataChange = true) ++ cdcLines,
      prior.configuration,
      staged = dvPaths(root, merged) ++ added.map(_.getPath) ++ cdcPaths)
  }

  /**
   * MERGE — the CDC-upsert verb (reference-era Delta predates it; this
   * is the `MERGE INTO target USING source ON keys` shape every
   * change-capture ingest pipeline lands on). `source` rows are keyed
   * by `keys` (equality, SQL semantics: null keys match nothing):
   *
   *  - rows where `deleteCondition` holds are DELETE MARKERS — a
   *    matched target row is removed; an unmatched marker is a no-op;
   *  - every other source row UPSERTS — matched target rows are
   *    replaced by the source version, unmatched rows insert.
   *
   * One commit: matched target rows are deletion-vector-deleted (no
   * data-file rewrite — the merge-on-read shape), upsert rows land as
   * fresh data files, and on a CDF table the row-level effect is
   * recorded as cdc files (`delete`, `update_preimage`/
   * `update_postimage`, `insert`), so [[changes]] replays the merge
   * exactly. Refuses a source with duplicate keys (the protocol's
   * "multiple source rows matched" ambiguity).
   *
   * Scale: the matched-position scan is one pass over the table
   * (key-semi-join, pushdown intact), DV bitmaps are built and written
   * on executors, and the insert leg is a plain staged append. Without
   * CDF nothing else touches the table; CDF adds the pre-image read
   * that change capture inherently costs.
   */
  def merge(spark: SparkSession, rootStr: String, source: DataFrame,
      keys: Seq[String],
      deleteCondition: Option[org.apache.spark.sql.Column] = None,
      txn: Option[(String, Long)] = None): Long =
    CommitRetry() { mergeOnce(spark, rootStr, source, keys, deleteCondition, txn) }

  private def mergeOnce(spark: SparkSession, rootStr: String,
      source: DataFrame, keys: Seq[String],
      deleteCondition: Option[org.apache.spark.sql.Column],
      txn: Option[(String, Long)]): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prior = DeltaLog.snapshot(spark, rootStr)
    // (appId, version) idempotence INSIDE the retry loop: if the racing
    // winner was this very transaction's twin (a replayed micro-batch),
    // re-applying would double-commit — recognize and no-op instead
    if (LakeDml.replayed(prior.transactions, txn)) return prior.version
    writerGate(prior, rootStr, deletesRows = true, kind = "merge")
    // merge sources carry full rows, which a GENERATED ALWAYS identity
    // column forbids; BY DEFAULT accepts the explicit values (they never
    // move the high watermark — syncIdentity re-aligns). Provided
    // generated columns are enforced against their expression below.
    identityFields(prior.schema).foreach { f =>
      if (!identityAllowsExplicit(f)) {
        throw new UnsupportedDeltaProtocolException(
          s"merge into $rootStr: column '${f.name}' is GENERATED ALWAYS " +
            "AS IDENTITY and merge sources must carry full rows; append " +
            "assigns identity values automatically")
      }
    }
    val LakeDml.MergeSource(src, dels, ups, srcBounds) =
      LakeDml.mergeSource(rootStr, source, keys, deleteCondition, prior.schema)
    val cmMode = DeltaColumnMapping.mode(prior.configuration)
    val physParts = physPartitionColumns(prior)

    // ---- matched target positions → deletion vectors (both marker and
    // upsert keys delete the old row; re-marking rows an earlier DV
    // already dropped is a no-op via the executor-side union) ----
    // DYNAMIC FILE PRUNING: only files whose log stats admit a key in
    // the source's [min, max] range can hold matched rows — a narrow
    // merge against a 100 TB table scans O(affected files), not the
    // table (the same move production MERGE engines make). The source's
    // duplicate-key check measures the bounds in the same aggregate;
    // they later restrict the CDF classification scans too. A
    // column-mapped table's stats key physically: no pruning.
    val keyBounds = if (cmMode != "none") None else srcBounds
    val candidates =
      if (prior.files.isEmpty) Nil
      else MergePruning.candidates(prior.files, prior.schema, keyBounds)
    val merged: Seq[(DeltaFileMeta, DvDescriptor)] =
      if (candidates.isEmpty) Nil
      else {
        val srcKeys = src.select(keys.map(col): _*)
        matchDvs(spark, rootStr, prior, candidates, pruneByStats = false,
          t => t.join(srcKeys,
            keys.map(k => t(k) === srcKeys(k)).reduce(_ && _), "left_semi"))
      }

    // ---- insert leg: EVERY upsert row lands as new data (matched ones
    // are the post-image versions of their DV-deleted predecessors) ----
    // upserted rows (updates + inserts) must satisfy the table's rules,
    // enforced against the STAGED rows (the published truth — see
    // enforceConstraintsOnStage); delete markers remove rows, no check
    val added = stageNewFiles(fs, root, physicalRows(prior, ups), physParts,
      validateStaged = Some(st => enforceConstraintsOnStage(
        spark, prior, rootStr, st, "merge", physToLogical(prior))))
    if (merged.isEmpty && added.isEmpty) return prior.version // no-op merge

    // ---- CDF: classify the merge's row-level effect against the LIVE
    // pre-image (matched-vs-inserted is a CDF concern only — the data
    // path above never needs it) ----
    val (cdcLines, cdcPaths): (Seq[JValue], Seq[Path]) =
      if (!cdfEnabled(prior.configuration)) (Nil, Nil)
      else {
        // the key-range filter pushes down into every classification
        // scan: live rows outside the source's key range can match no
        // source key, so the four legs read only the candidate slice
        val live = keyBounds match {
          case Some(b) =>
            read(spark, rootStr).filter(MergePruning.rangeFilter(b))
          case None => read(spark, rootStr)
        }
        val liveKeys = live.select(keys.map(col): _*)
        val legs = Seq(
          live.join(dels.select(keys.map(col): _*), keys, "left_semi") ->
            "delete",
          live.join(ups.select(keys.map(col): _*), keys, "left_semi") ->
            "update_preimage",
          ups.join(liveKeys, keys, "left_semi") -> "update_postimage",
          ups.join(liveKeys, keys, "left_anti") -> "insert")
        writeCdc(spark, fs, root, legs.map { case (df, tpe) =>
          physicalRows(prior, df).withColumn("_change_type", lit(tpe))
        }.reduce(_ unionByName _), physParts)
      }

    val version = prior.version + 1
    val now = System.currentTimeMillis()
    commitVersion(spark, rootStr, version, now, "MERGE",
      Map("matchedCount" -> merged.size.toString),
      ictEnabled(prior.configuration),
      txnAction(txn, now) ++
        (if (merged.nonEmpty) dvProtocolLine(prior).toSeq else Nil) ++
        dvAddRemoveLines(fs, root, merged, now) ++
        addActionLines(spark, fs, root, added, prior, version,
          dataChange = true) ++ cdcLines,
      prior.configuration,
      staged = dvPaths(root, merged) ++ added.map(_.getPath) ++ cdcPaths)
  }

  /** OPTIMIZE — the small-file medicine a 100 TB table needs after
    * streaming ingest or many small appends: DV-less data files are
    * BIN-PACKED per hive partition into ~`targetSizeBytes` rewrites
    * (only bins of 2+ files rewrite; lone or large files stay), or,
    * with `zorderBy`, EVERY candidate file is rewritten clustered by
    * the interleaved-quantile z-address (the OPTIMIZE ZORDER BY shape —
    * multi-column range queries then prune via the per-file stats the
    * rewrite tightens). All removes/adds carry `dataChange = false`:
    * the logical content is untouched, so change feeds and append
    * streams correctly serve nothing for the commit. Files carrying
    * deletion vectors are left to [[purge]]; on a hive-partitioned
    * table the z-order clusters rows within their partition. Planning
    * is [[LakeMaint]]'s, clustering [[graft.index.zorder.ZOrderBuild.clustered]].
    * Returns the committed version (the prior one when nothing
    * qualified). */
  def optimizeCompact(spark: SparkSession, rootStr: String,
      targetSizeBytes: Long = 128L << 20,
      zorderBy: Seq[String] = Nil,
      where: Option[org.apache.spark.sql.Column] = None): Long = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = false, kind = "optimize")
    // a liquid-clustered table's plain OPTIMIZE is a RECLUSTER: default
    // the z-order to the declared clustering columns (delta-spark's own
    // behavior) — an explicit ZORDER BY still overrides
    val zorderCols =
      if (zorderBy.nonEmpty) zorderBy
      else prior.clusteringColumns.map { parts =>
        require(parts.size == 1,
          s"OPTIMIZE at $rootStr: nested clustering column " +
            s"${parts.mkString(".")} is not supported by this writer")
        parts.head
      }
    val cmMode = DeltaColumnMapping.mode(prior.configuration)
    val physSchema = physicalSchemaOf(prior)
    val physPartCols = physPartitionColumns(prior)
    if (zorderCols.nonEmpty) {
      require(!zorderCols.exists(prior.partitionColumns.contains),
        s"OPTIMIZE ZORDER BY at $rootStr: z-ordering by a partition " +
          "column is a no-op (it is constant within each file); drop it")
      zorderCols.foreach(c => require(prior.schema.fieldNames.contains(c),
        s"z-order column '$c' is not a column of $rootStr"))
    }
    // candidates: DV-less files (DV'd ones are purge's job), scoped by
    // the OPTIMIZE ... WHERE partition predicate when given — at 100 TB
    // you optimize the hot partition, not the table
    val physOf = prior.partitionColumns.zip(physPartCols).toMap
    val candidates = LakeMaint.scopeByPartition(spark,
      prior.files.filter(_.dv.forall(_.cardinality == 0L)), where,
      prior.partitionColumns.map(n => n -> prior.schema(n).dataType),
      s"OPTIMIZE WHERE at $rootStr") { f =>
      val m = LakeMaint.hiveValues(relOf(fs, root, new Path(f.path))).toMap
      physOf.flatMap { case (n, pc) => m.get(pc).map(n -> _) }
    }
    val rewriteGroups: Seq[Seq[DeltaFileMeta]] =
      if (zorderCols.nonEmpty) {
        if (candidates.isEmpty) Nil else Seq(candidates)
      } else LakeMaint.binPack(candidates, targetSizeBytes)(f =>
        relOf(fs, root, new Path(f.path)).split('/').init.mkString("/"))
    if (rewriteGroups.isEmpty) return prior.version

    // rewrite each group through a stage dir, then move in (commit shape)
    val stage = new Path(root,
      s".graft-optimize-${java.util.UUID.randomUUID().toString}")
    val zCols = zorderCols.map { c =>
      if (cmMode == "none") c
      else DeltaColumnMapping.physicalName(prior.schema(c))
    }
    // groups are independent single-file writes into disjoint staging
    // dirs — run them from a bounded pool (wall ≈ Σ/maxThreads, not Σ)
    GroupJobs.mapConcurrently(spark, rewriteGroups) { (group, i) =>
      val df = spark.read.schema(physSchema).option("basePath", rootStr)
        .parquet(group.map(_.path): _*)
      val groupStage = new Path(stage, i.toString)
      if (zorderCols.isEmpty) {
        val w = df.coalesce(1).write
        (if (physPartCols.nonEmpty) w.partitionBy(physPartCols: _*) else w)
          .parquet(groupStage.toString)
      } else {
        // partitioned tables z-order WITHIN partitions: range-cluster on
        // (partition values, z-address) in one pass — partitionBy splits
        // any straddling range boundary into per-partition files
        val nFiles = math.max(1L,
          (group.map(_.size).sum + targetSizeBytes - 1) / targetSizeBytes).toInt
        val zw = graft.index.zorder.ZOrderBuild.clustered(df, df, zCols,
          physPartCols, nFiles).write
        (if (physPartCols.nonEmpty) zw.partitionBy(physPartCols: _*) else zw)
          .parquet(groupStage.toString)
      }
    }
    val staged = dataFiles(fs, stage)
    val stageUri = fs.makeQualified(stage).toUri
    val added: Seq[FileStatus] = staged.map { s =>
      // rel path under the numbered group dir → table-relative
      val rel = stageUri.relativize(s.getPath.toUri).getPath
        .split('/').drop(1).mkString("/")
      val target = new Path(root, rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(s.getPath, target)) {
        throw new IllegalStateException(
          s"failed to move optimized file ${s.getPath} to $target")
      }
      fs.getFileStatus(target)
    }
    fs.delete(stage, true)

    val version = prior.version + 1
    val now = System.currentTimeMillis()
    // rewritten files are NEW files: fresh base row ids (this writer
    // does not materialize row ids, so an OPTIMIZE re-identifies the
    // rows it moves — the non-preserving posture the spec permits)
    commitVersion(spark, rootStr, version, now, "OPTIMIZE",
      if (zorderCols.isEmpty) Map.empty
      else Map("zOrderBy" -> zorderCols.mkString(",")),
      ictEnabled(prior.configuration),
      rewriteGroups.flatten.map(f =>
        removeAction(relOf(fs, root, new Path(f.path)), now, dataChange = false)) ++
        addActionLines(spark, fs, root, added, prior, version,
          dataChange = false),
      prior.configuration, staged = added.map(_.getPath))
  }

  /** ANALYZE — backfill `add.stats` for live files that lack them
    * (tables written by minimal external writers, or pre-stats
    * versions of this one): footers are read DISTRIBUTED (one metadata
    * RPC per file, no row scans) and the files re-add with stats in a
    * single `dataChange = false` commit — change feeds and append
    * streams correctly serve nothing, and every later filtered read
    * gains log-level file skipping. Files that already carry stats are
    * untouched. Returns the committed version (prior when nothing
    * lacked stats). */
  def computeStats(spark: SparkSession, rootStr: String): Long = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = false, kind = "analyze")
    val missing = prior.files.filter(_.stats.isEmpty)
    if (missing.isEmpty) return prior.version
    val statsSchema = fileStatsSchema(prior)
    val statsByPath = ParquetFooterStats.collect(
      spark, missing.map(_.path), statsSchema)
    commitVersion(spark, rootStr, prior.version + 1,
      System.currentTimeMillis(), "ANALYZE",
      Map("numFiles" -> missing.size.toString),
      ictEnabled(prior.configuration),
      missing.map { f =>
        val rel = relOf(fs, root, new Path(f.path))
        addAction(rel, LakeMaint.hiveValues(rel), f.size, f.modificationTime,
          dataChange = false, f.dv, statsByPath.get(f.path)
            .flatMap(DeltaStats.render(_, statsSchema)), carriedRowIdJson(f))
      }, prior.configuration)
  }

  /** CONVERT TO DELTA — upgrade a plain parquet directory (flat or
    * hive-partitioned) to a Delta table IN PLACE: files stay where
    * they are, one version-0 commit records them as adds with
    * footer-collected stats (distributed, one metadata RPC per file —
    * converting a 100 TB directory moves no data and scans no rows).
    * `partitionBy` names the hive partition columns; their values come
    * from the path segments, their types from Spark's partition
    * inference. After conversion every Delta verb works — reads,
    * DML, time travel (from v0), streaming. */
  def convert(spark: SparkSession, rootStr: String,
      partitionBy: Seq[String] = Nil): Long = {
    require(!DeltaLog.isDeltaTable(spark, rootStr),
      s"$rootStr is already a Delta table")
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val files = dataFiles(fs, root)
    require(files.nonEmpty, s"convert at $rootStr: no parquet files found")
    // schema (and partition-column types) from Spark's own inference
    val inferred = spark.read.parquet(rootStr).schema
    partitionBy.foreach(c => require(inferred.fieldNames.contains(c),
      s"convert at $rootStr: partition column '$c' not found " +
        s"(inferred ${inferred.simpleString}); hive dirs must carry it"))
    val dataSchema = StructType(
      inferred.filterNot(f => partitionBy.contains(f.name)))
    val statsByPath = ParquetFooterStats.collect(
      spark, files.map(_.getPath.toString), dataSchema)
    val now = System.currentTimeMillis()
    commitVersion(spark, rootStr, 0L, now, "CONVERT",
      Map("numFiles" -> files.size.toString), ict = false,
      Seq(protocolAction(1, 2), metaDataLine(carriedTableId(None),
        inferred.json, partitionBy, Map.empty, now)) ++
        files.map { st =>
          val rel = relOf(fs, root, st.getPath)
          addAction(rel,
            LakeMaint.hiveValues(rel).filter(kv => partitionBy.contains(kv._1)),
            st.getLen, st.getModificationTime, dataChange = true,
            stats = statsByPath.get(st.getPath.toString)
              .flatMap(DeltaStats.render(_, dataSchema)))
        }, Map.empty)
  }

  /** SHALLOW CLONE — an instant, zero-copy table copy: the clone's
    * version-0 commit references the source's CURRENT data files by
    * ABSOLUTE path (no bytes move — cloning a 100 TB table costs one
    * metadata write), restating the source's schema, configuration and
    * protocol. The clone then evolves independently: appends land under
    * the clone root, deletes lay fresh DVs over the referenced files,
    * and the source never sees any of it — while source VACUUM remains
    * the one documented hazard (it may remove files the clone still
    * references; the same caveat real shallow clones carry). Clone
    * VACUUM is safe: it walks only the clone root, never source files.
    * Source DVs are preserved with their absolute paths (storageType
    * `p`). Partitioned sources refuse: identity partition values are
    * path-reconstructed under `basePath`, which cannot span two roots.
    * `versionAsOf` clones a historic version — time travel + clone in
    * one verb. */
  def clone(spark: SparkSession, sourceRoot: String, targetRoot: String,
      versionAsOf: Option[Long] = None): Long = {
    val s = DeltaLog.snapshot(spark, sourceRoot, versionAsOf)
    require(!DeltaLog.isDeltaTable(spark, targetRoot),
      s"clone target $targetRoot is already a Delta table")
    require(s.partitionColumns.isEmpty,
      s"shallow clone of partitioned $sourceRoot is not supported: " +
        "partition values are path-reconstructed under basePath, which " +
        "cannot span the source and clone roots; copy with " +
        "create(read(source), target, partitionBy) instead")
    val srcRoot = new Path(sourceRoot)
    val srcFs = srcRoot.getFileSystem(spark.sessionState.newHadoopConf())
    val now = System.currentTimeMillis()
    // the clone inherits the source's REAL protocol — its files may
    // depend on every reader/writer feature the source declares
    val protocol = protocolAction(s.minReaderVersion, s.minWriterVersion,
      readerFeatures = s.readerFeatures, writerFeatures = s.writerFeatures)
    // a clone is a NEW table (fresh id) restating the source's schema
    // and configuration
    val metaData = metaDataLine(carriedTableId(None), s.schemaString,
      Nil, s.configuration, now)
    // metadata domains copy too: losing delta.clustering would silently
    // uncluster the clone, and losing the delta.rowTracking watermark
    // would let the clone's first append re-assign OVERLAPPING row ids
    // over the carried per-file baseRowIds
    val domains: Seq[JValue] = s.domains.toSeq.sortBy(_._1).map {
      case (d, m) => JObject("domainMetadata" -> JObject(
        "domain" -> JString(d),
        "configuration" -> JString(m.configuration),
        "removed" -> JBool(m.removed)))
    }
    val adds = s.files.map { f =>
      // a source DV resolves against the SOURCE root; rewrite its
      // descriptor absolute (storageType p) so the clone's reads find
      // it. Inline DVs carry their bytes and copy verbatim.
      val dv = f.dv.map { d =>
        if (d.storageType == "u") d.copy(storageType = "p",
          pathOrInlineDv = d.absolutePath(srcRoot).get.toString)
        else d
      }
      addAction(srcFs.makeQualified(new Path(f.path)).toString, Nil, f.size,
        f.modificationTime, dataChange = true, dv, f.stats,
        carriedRowIdJson(f))
    }
    commitVersion(spark, targetRoot, 0L, now, "CLONE",
      Map("source" -> sourceRoot, "sourceVersion" -> s.version.toString),
      ict = false, Seq(protocol, metaData) ++ domains ++ adds, s.configuration)
  }

  /** RESTORE the table to a historic version — the undo operation: a
    * METADATA-ONLY commit that removes the current file set and
    * re-adds the target version's (files are immutable and still on
    * disk until VACUUM, so no data moves), plus the target's
    * metaData so schema changes roll back too. History is preserved —
    * the restore is itself a new version, and time travel into the
    * undone range still works. Fails loudly when the target's files
    * have been vacuumed away. */
  def restore(spark: SparkSession, rootStr: String, version: Long): Long = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val current = DeltaLog.snapshot(spark, rootStr)
    writerGate(current, rootStr, deletesRows = true, kind = "restore")
    if (version == current.version) return current.version
    val target = DeltaLog.snapshot(spark, rootStr, Some(version))
    target.files.foreach { f =>
      require(fs.exists(new Path(f.path)),
        s"cannot restore $rootStr to version $version: data file " +
          s"${f.path} has been vacuumed away")
    }
    val now = System.currentTimeMillis()
    val currentPaths = current.files.map(f => normPath(f.path)).toSet
    val targetPaths = target.files.map(f => normPath(f.path)).toSet
    val lines = mutable.Buffer.empty[JValue]
    // RESTORE rewinds state, not identity — keep the table id
    lines += metaDataLine(carriedTableId(Some(current)),
      target.schemaString, target.partitionColumns,
      current.configuration, now)
    current.files.filterNot(f => targetPaths.contains(normPath(f.path)))
      .foreach { f =>
        lines += removeAction(relOf(fs, root, new Path(f.path)), now,
          dataChange = true)
      }
    target.files.foreach { f =>
      // every target file is (re-)added: files the current version also
      // holds keep their entry, dropped ones come back — and target-era
      // DVs and stats ride along so the restored state is exact
      if (!currentPaths.contains(normPath(f.path)) ||
          current.files.find(c => normPath(c.path) == normPath(f.path))
            .exists(c => c.dv != f.dv)) {
        val rel = relOf(fs, root, new Path(f.path))
        lines += addAction(rel, LakeMaint.hiveValues(rel), f.size,
          f.modificationTime, dataChange = true, f.dv, f.stats,
          carriedRowIdJson(f))
      }
    }
    // a CDF table's restore records its full row-level effect (current
    // rows out, target rows back in) — without this the mixed commit
    // would be unreconstructible for change-feed readers
    val (cdcLines, cdcPaths): (Seq[JValue], Seq[Path]) =
      if (!cdfEnabled(current.configuration)) (Nil, Nil)
      else {
        if (DeltaColumnMapping.mode(current.configuration) != "none") {
          throw new UnsupportedDeltaProtocolException(
            s"restore of $rootStr: change-data-feed recording under " +
              "column mapping is not supported by this writer. Restore " +
              "with the delta-spark connector instead.")
        }
        import org.apache.spark.sql.functions.lit
        val pre = writeCdc(spark, fs, root,
          read(spark, rootStr).withColumn("_change_type", lit("delete")),
          current.partitionColumns)
        val post = writeCdc(spark, fs, root,
          read(spark, rootStr, versionAsOf = Some(version))
            .withColumn("_change_type", lit("insert")),
          target.partitionColumns)
        (pre._1 ++ post._1, pre._2 ++ post._2)
      }
    commitVersion(spark, rootStr, current.version + 1, now, "RESTORE",
      Map("version" -> version.toString), ictEnabled(current.configuration),
      lines.toSeq ++ cdcLines, current.configuration, staged = cdcPaths)
  }

  /** Enable COLUMN MAPPING (mode `name`) on an existing table — a
    * metadata-only commit: every field gets its current name as its
    * stable physicalName (so existing data files and their stats stay
    * valid as-is) plus a column id, and the protocol is raised to
    * (2, 5) — or gains the `columnMapping` feature on a
    * features-protocol table. Renames become metadata operations from
    * here on. A no-op if mapping is already enabled. */
  def enableColumnMapping(spark: SparkSession, rootStr: String): Long = {
    val prior = DeltaLog.snapshot(spark, rootStr)
    if (DeltaColumnMapping.mode(prior.configuration) != "none")
      return prior.version
    writerGate(prior, rootStr, deletesRows = false, kind = "enableColumnMapping")
    val (mapped, maxId) = DeltaColumnMapping.assignMapping(prior.schema)
    val cfg = prior.configuration +
      (DeltaColumnMapping.ModeKey -> "name") +
      (DeltaColumnMapping.MaxIdKey -> maxId.toString)
    commitMetadata(spark, rootStr, prior, mapped, prior.partitionColumns, cfg)
  }

  /** Is CHANGE DATA FEED recording enabled by this configuration? */
  private[sources] def cdfEnabled(cfg: Map[String, String]): Boolean =
    cfg.get("delta.enableChangeDataFeed").exists(_.equalsIgnoreCase("true"))

  /** Enable CHANGE DATA FEED on an existing table — a metadata-only
    * commit setting `delta.enableChangeDataFeed=true` and raising the
    * protocol (legacy floor writer 4; features-protocol tables gain the
    * `changeDataFeed` writer feature — CDF has no reader feature: the
    * cdc files are invisible to plain snapshot reads). From this commit
    * on, [[deleteWhere]] and overwrites record their row-level changes
    * as `_change_data/` cdc files and [[changes]] serves them. */
  def enableChangeDataFeed(spark: SparkSession, rootStr: String): Long = {
    val prior = DeltaLog.snapshot(spark, rootStr)
    if (cdfEnabled(prior.configuration)) return prior.version
    writerGate(prior, rootStr, deletesRows = false, kind = "enableChangeDataFeed")
    commitMetadata(spark, rootStr, prior, prior.schema, prior.partitionColumns,
      prior.configuration + ("delta.enableChangeDataFeed" -> "true"),
      readerFeature = None, writerFeature = Some("changeDataFeed"),
      legacyReader = 1, legacyWriter = 4)
  }

  /** The liquid-clustering system domain (delta-spark's CLUSTER BY). */
  val ClusteringDomain = "delta.clustering"

  /** Commit `domainMetadata` actions (set or tombstone), upgrading the
    * protocol to carry the needed writer features first: domain commits
    * are the ONE action kind with no legacy protocol form, so a legacy
    * table moves to the features protocol here, restating the features
    * its old minWriterVersion implied (the spec's upgrade contract).
    * The reader protocol is untouched — domains are writer-side state
    * that plain readers ignore. */
  private def commitDomains(spark: SparkSession, rootStr: String,
      entries: Seq[(String, String, Boolean)],
      extraFeatures: Set[String] = Set.empty,
      operation: String = "SET DOMAIN METADATA"): Long = {
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = false, kind = "domainMetadata")
    commitVersion(spark, rootStr, prior.version + 1,
      System.currentTimeMillis(), operation, Map.empty,
      ictEnabled(prior.configuration),
      writerFeatureUpgrade(prior, Set("domainMetadata") ++ extraFeatures).toSeq ++
        entries.map { case (domain, cfg, removed) =>
          JObject("domainMetadata" -> JObject(
            "domain" -> JString(domain),
            "configuration" -> JString(cfg),
            "removed" -> JBool(removed)))
        }, prior.configuration)
  }

  /** Publish (or replace) a metadata DOMAIN: an opaque per-domain
    * configuration string reconciled latest-wins across commits and
    * restated by checkpoints. System domains (`delta.*`) are owned by
    * their features — set them through the dedicated verbs
    * ([[clusterBy]]), not directly. */
  def setDomainMetadata(spark: SparkSession, rootStr: String,
      domain: String, configuration: String): Long = {
    require(!domain.startsWith("delta."),
      s"domain '$domain' is system-owned; use the dedicated verb " +
        "(e.g. clusterBy for delta.clustering)")
    commitDomains(spark, rootStr, Seq((domain, configuration, false)))
  }

  /** Tombstone a metadata domain. The tombstone is retained (and
    * checkpointed) so replays that start from a checkpoint still see
    * the removal. */
  def removeDomainMetadata(spark: SparkSession, rootStr: String,
      domain: String): Long = {
    require(!domain.startsWith("delta."),
      s"domain '$domain' is system-owned")
    val prior = DeltaLog.snapshot(spark, rootStr)
    if (!prior.domains.get(domain).exists(!_.removed)) return prior.version
    commitDomains(spark, rootStr, Seq((domain, "", true)),
      operation = "REMOVE DOMAIN METADATA")
  }

  /** Declare LIQUID CLUSTERING columns (delta-spark's `CLUSTER BY`):
    * publishes the `delta.clustering` domain and the
    * `clustering` + `domainMetadata` writer features. Appends stay
    * layout-free; a plain [[optimizeCompact]] then RECLUSTERS by these
    * columns (z-order) — the same contract delta-spark implements.
    * Pass `Nil` to drop clustering (`ALTER TABLE ... CLUSTER BY NONE`). */
  def clusterBy(spark: SparkSession, rootStr: String,
      columns: Seq[String]): Long = {
    val prior = DeltaLog.snapshot(spark, rootStr)
    if (columns.isEmpty) {
      if (prior.clusteringColumns.isEmpty) return prior.version
      return commitDomains(spark, rootStr,
        Seq((ClusteringDomain, """{"clusteringColumns":[]}""", false)),
        extraFeatures = Set("clustering"), operation = "CLUSTER BY")
    }
    columns.foreach(c => require(prior.schema.fieldNames.contains(c),
      s"clustering column '$c' is not a column of $rootStr"))
    require(!columns.exists(prior.partitionColumns.contains),
      s"CLUSTER BY at $rootStr: a hive-partition column cannot also be " +
        "a clustering column")
    val cfg = columns.map(c =>
        "[" + JsonMethods.compact(JString(c)) + "]")
      .mkString("""{"clusteringColumns":[""", ",", "]}")
    commitDomains(spark, rootStr, Seq((ClusteringDomain, cfg, false)),
      extraFeatures = Set("clustering"), operation = "CLUSTER BY")
  }

  /** The row-tracking system domain (watermark home). */
  val RowTrackingDomain = "delta.rowTracking"

  /** Is row tracking in force for writes? (feature-gated; the
    * enableRowTracking table property rides with it) */
  private def rowTrackingOn(p: DeltaSnapshot): Boolean =
    p.writerFeatures.contains("rowTracking") ||
      p.configuration.get("delta.enableRowTracking")
        .exists(_.equalsIgnoreCase("true"))

  /** Highest row id ever assigned (−1 before any assignment), from the
    * `delta.rowTracking` domain. */
  def rowIdHighWaterMark(p: DeltaSnapshot): Long =
    p.liveDomains.get(RowTrackingDomain).flatMap { cfg =>
      (JsonMethods.parse(cfg) \ "rowIdHighWaterMark") match {
        case JInt(n) => Some(n.toLong)
        case JLong(n) => Some(n)
        case _ => None
      }
    }.getOrElse(-1L)

  /** FRESH row-id assignment for newly-committed files (the
    * `rowTracking` writer obligation): each file gets a disjoint
    * [baseRowId, baseRowId + numRecords) range past the high
    * watermark, stamped with this commit's version, and the watermark
    * domain republishes. Returns (per-path add-action fields, the
    * domainMetadata line). numRecords comes from the footer stats the
    * writer just collected — a file without a count cannot be
    * conformingly tracked, so it refuses. */
  private def assignFreshRowIds(rowTracking: Boolean, priorHwm: Long,
      version: Long, files: Seq[(String, Option[Long])])
      : (Map[String, List[(String, JValue)]], Seq[JValue]) = {
    if (!rowTracking || files.isEmpty) return (Map.empty, Nil)
    var hwm = priorHwm
    val byPath = files.map { case (path, numRecords) =>
      val n = numRecords.getOrElse(
        throw new UnsupportedDeltaProtocolException(
          s"row tracking requires a row count for $path but footer " +
            "stats were unavailable; cannot assign base row ids"))
      val base = hwm + 1
      hwm += n
      path -> List(
        "baseRowId" -> (JLong(base): JValue),
        "defaultRowCommitVersion" -> (JLong(version): JValue))
    }.toMap
    (byPath, Seq(JObject("domainMetadata" -> JObject(
      "domain" -> JString(RowTrackingDomain),
      "configuration" -> JString(s"""{"rowIdHighWaterMark":$hwm}"""),
      "removed" -> JBool(false)))))
  }

  /** Row-id fields carried UNCHANGED onto a re-add of the same file
    * (DV delete, restore, clone, stats refresh): the file's rows did
    * not move, so its ids must not either. */
  private def carriedRowIdJson(f: DeltaFileMeta): List[(String, JValue)] =
    f.baseRowId.map(b => "baseRowId" -> (JLong(b): JValue)).toList ++
      f.defaultRowCommitVersion
        .map(v => "defaultRowCommitVersion" -> (JLong(v): JValue)).toList

  /** Enable ROW TRACKING on an existing table: upgrades the protocol
    * (rowTracking + domainMetadata features), sets
    * `delta.enableRowTracking`, and BACKFILLS — every live file that
    * lacks a baseRowId re-adds with a fresh disjoint range (ids come
    * from each file's recorded numRecords; files without stats refuse —
    * run [[computeStats]] first). One commit; `dataChange = false` on
    * the re-adds, so change feeds and append streams serve nothing.
    * From here on every writer path assigns and carries ids. */
  def enableRowTracking(spark: SparkSession, rootStr: String): Long = {
    val prior = DeltaLog.snapshot(spark, rootStr)
    if (rowTrackingOn(prior) &&
        prior.files.forall(_.baseRowId.isDefined)) return prior.version
    writerGate(prior, rootStr, deletesRows = false, kind = "enableRowTracking")
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val version = prior.version + 1
    val now = System.currentTimeMillis()
    val cfg = prior.configuration + ("delta.enableRowTracking" -> "true")
    val lines = mutable.Buffer.empty[JValue]
    lines ++= writerFeatureUpgrade(prior, Set("rowTracking", "domainMetadata"))
    lines += metaDataLine(carriedTableId(Some(prior)), prior.schemaString,
      prior.partitionColumns, cfg, now)
    val untracked = prior.files.filter(_.baseRowId.isEmpty)
    val counts: Map[String, Long] = untracked.map { f =>
      val n = f.stats
        .flatMap(sj => DeltaStats.parse(sj, new StructType()))
        .flatMap(_.numRecords)
        .getOrElse(throw new UnsupportedDeltaProtocolException(
          s"enableRowTracking at $rootStr: file ${f.path} carries no " +
            "numRecords stats to assign its row-id range from; run " +
            "computeStats (ANALYZE) first"))
      f.path -> n
    }.toMap
    val (byPath, domainLine) = assignFreshRowIds(rowTracking = true,
      rowIdHighWaterMark(prior), version,
      untracked.map(f => f.path -> counts.get(f.path)))
    untracked.foreach { f =>
      val rel = relOf(fs, root, new Path(f.path))
      lines += addAction(rel, LakeMaint.hiveValues(rel), f.size,
        f.modificationTime, dataChange = false, f.dv, f.stats,
        byPath.getOrElse(f.path, Nil))
    }
    lines ++= domainLine
    commitVersion(spark, rootStr, version, now, "SET TBLPROPERTIES",
      Map.empty, ictEnabled(prior.configuration), lines.toSeq, cfg)
  }

  /** Rename a column WITHOUT rewriting any data file (the
    * column-mapping user story): enables mapping if the table has
    * none, then commits the new logical name — physicalName, files,
    * and per-file stats untouched. */
  def renameColumn(spark: SparkSession, rootStr: String,
      oldName: String, newName: String): Long = {
    enableColumnMapping(spark, rootStr)
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = false, kind = "renameColumn")
    val renamed = DeltaColumnMapping.renameField(prior.schema, oldName, newName)
    val parts = prior.partitionColumns.map(c => if (c == oldName) newName else c)
    commitMetadata(spark, rootStr, prior, renamed, parts, prior.configuration)
  }

  /** `ALTER TABLE … ADD COLUMN name type` — metadata-only: the column
    * appends to the schema as NULLABLE, existing files simply lack it
    * and scans yield null (the Delta ADD COLUMNS contract — zero data
    * rewrite). On a column-mapped table the new field is assigned a
    * fresh physical name (`col-<uuid>`, never reusing a dropped
    * column's physical slot) and the next column id. */
  def addColumn(spark: SparkSession, rootStr: String,
      name: String, dataType: DataType): Long =
    addColumns(spark, rootStr, Seq(Seq(name) -> dataType))

  /** `ALTER TABLE … ADD COLUMNS (a INT, b.c STRING, …)` — every column
    * lands in ONE metadata commit. A name path (`Seq("b","c")`) targets
    * a nested struct field; the parent must exist and be a struct. On a
    * column-mapped table each new field (and, for struct-typed
    * additions, every nested field) gets a fresh `col-<uuid>` physical
    * name and the next column id. */
  def addColumns(spark: SparkSession, rootStr: String,
      cols: Seq[(Seq[String], DataType)]): Long = {
    require(cols.nonEmpty, s"addColumns at $rootStr: no columns given")
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = false, kind = "addColumn")
    val mapped = DeltaColumnMapping.mode(prior.configuration) != "none"
    // a foreign writer may enable mapping without recording maxColumnId;
    // fall back to the schema's own highest field id so the fresh id
    // never collides with an existing one
    var maxId =
      if (!mapped) 0L
      else prior.configuration.get(DeltaColumnMapping.MaxIdKey)
        .map(_.toLong)
        .getOrElse(DeltaColumnMapping.maxFieldId(prior.schema))
    var schema = prior.schema
    cols.foreach { case (path, dataType) =>
      require(path.nonEmpty, s"addColumns at $rootStr: empty column path")
      val field =
        if (!mapped) StructField(path.last, dataType, nullable = true)
        else {
          val (f, newMax) =
            DeltaColumnMapping.mapNewField(path.last, dataType, maxId)
          maxId = newMax
          f
        }
      schema = SchemaPaths.addField(schema, path.init, field)
    }
    val cfg =
      if (!mapped) prior.configuration
      else prior.configuration +
        (DeltaColumnMapping.MaxIdKey -> maxId.toString)
    commitMetadata(spark, rootStr, prior, schema,
      prior.partitionColumns, cfg,
      readerFeature = None, writerFeature = None,
      legacyReader = 1, legacyWriter = 2, operation = "ADD COLUMNS")
  }

  /** `ALTER TABLE … DROP COLUMN name` — logical removal via column
    * mapping (enabled on demand, like [[renameColumn]]): the field
    * leaves the schema, the physical data stays in every file and is
    * simply never read again. Partition columns and columns referenced
    * by a CHECK constraint refuse. */
  def dropColumn(spark: SparkSession, rootStr: String,
      name: String): Long = {
    // VALIDATE FIRST, against the pre-mapping snapshot: the on-demand
    // column-mapping enablement below is itself a COMMIT (protocol
    // upgrade + schema rewrite), so a refused drop must refuse before
    // mutating the table at all. Name resolution is case-insensitive,
    // matching Spark's default resolver (and addColumn's check).
    def validate(s: DeltaSnapshot): StructField = {
      writerGate(s, rootStr, deletesRows = false, kind = "dropColumn")
      val field = s.schema.fields
        .find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"dropColumn at $rootStr: no column '$name' " +
            s"(have ${s.schema.fieldNames.mkString(", ")})"))
      require(s.schema.fields.length > 1,
        s"dropColumn at $rootStr: cannot drop the only column")
      require(!s.partitionColumns.exists(_.equalsIgnoreCase(field.name)),
        s"dropColumn at $rootStr: '${field.name}' is a partition column")
      val wordRe =
        ("(?i)\\b" + java.util.regex.Pattern.quote(field.name) + "\\b").r
      s.configuration.foreach { case (k, v) =>
        require(!(k.startsWith("delta.constraints.") &&
            wordRe.findFirstIn(v).isDefined),
          s"dropColumn at $rootStr: '${field.name}' is referenced by CHECK " +
            s"constraint '${k.stripPrefix("delta.constraints.")}' ($v); " +
            "drop the constraint first")
      }
      s.schema.fields.foreach { f =>
        require(!(f.metadata.contains("delta.generationExpression") &&
            wordRe.findFirstIn(
              f.metadata.getString("delta.generationExpression")).isDefined),
          s"dropColumn at $rootStr: '${field.name}' is referenced by " +
            s"generated column '${f.name}'; drop or redefine it first")
      }
      field
    }
    validate(DeltaLog.snapshot(spark, rootStr))
    enableColumnMapping(spark, rootStr)
    val prior = DeltaLog.snapshot(spark, rootStr)
    val field = validate(prior) // re-resolve against the mapped schema
    commitMetadata(spark, rootStr, prior,
      StructType(prior.schema.fields.toSeq.filterNot(_.name == field.name)),
      prior.partitionColumns, prior.configuration,
      operation = "DROP COLUMNS")
  }

  /** Nested-path rename (`a.b.c TO new`): column mapping gives every
    * level a stable physical name, so the leaf rename is metadata-only
    * like the top-level verb. Validation runs against the PRE-mapping
    * snapshot first — a refused rename must not commit the enablement. */
  def renameColumnAt(spark: SparkSession, rootStr: String,
      path: Seq[String], newName: String): Long = {
    require(path.nonEmpty, s"renameColumnAt at $rootStr: empty column path")
    if (path.size == 1) return renameColumn(spark, rootStr, path.head, newName)
    val pre = DeltaLog.snapshot(spark, rootStr)
    writerGate(pre, rootStr, deletesRows = false, kind = "renameColumn")
    SchemaPaths.renameAt(pre.schema, path, newName) // validate-only
    enableColumnMapping(spark, rootStr)
    val prior = DeltaLog.snapshot(spark, rootStr)
    commitMetadata(spark, rootStr, prior,
      SchemaPaths.renameAt(prior.schema, path, newName),
      prior.partitionColumns, prior.configuration)
  }

  /** Nested-path drop (`a.b.c`): logical removal via column mapping,
    * like the top-level verb; the parent struct must keep a field, and
    * CHECK constraints / generated columns naming the leaf refuse. */
  def dropColumnAt(spark: SparkSession, rootStr: String,
      path: Seq[String]): Long = {
    require(path.nonEmpty, s"dropColumnAt at $rootStr: empty column path")
    if (path.size == 1) return dropColumn(spark, rootStr, path.head)
    def validate(s: DeltaSnapshot): Unit = {
      writerGate(s, rootStr, deletesRows = false, kind = "dropColumn")
      SchemaPaths.dropAt(s.schema, path) // validates path + only-field
      val wordRe =
        ("(?i)\\b" + java.util.regex.Pattern.quote(path.last) + "\\b").r
      s.configuration.foreach { case (k, v) =>
        require(!(k.startsWith("delta.constraints.") &&
            wordRe.findFirstIn(v).isDefined),
          s"dropColumnAt $rootStr: '${path.mkString(".")}' may be " +
            s"referenced by CHECK constraint " +
            s"'${k.stripPrefix("delta.constraints.")}' ($v); drop the " +
            "constraint first")
      }
      s.schema.fields.foreach { f =>
        require(!(f.metadata.contains("delta.generationExpression") &&
            wordRe.findFirstIn(
              f.metadata.getString("delta.generationExpression")).isDefined),
          s"dropColumnAt $rootStr: '${path.mkString(".")}' may be " +
            s"referenced by generated column '${f.name}'; drop or " +
            "redefine it first")
      }
    }
    validate(DeltaLog.snapshot(spark, rootStr))
    enableColumnMapping(spark, rootStr)
    val prior = DeltaLog.snapshot(spark, rootStr)
    validate(prior)
    commitMetadata(spark, rootStr, prior,
      SchemaPaths.dropAt(prior.schema, path),
      prior.partitionColumns, prior.configuration,
      operation = "DROP COLUMNS")
  }

  /** Metadata-only commit (protocol upgrade if needed + new metaData) —
    * the shape of every schema-evolution / table-property commit. The
    * protocol upgrade is feature-parameterized: on a features-protocol
    * table the named reader/writer features are added; on a legacy table
    * the version floor `(legacyReader, legacyWriter)` is enforced. Same
    * create-no-overwrite fence as data commits. */
  private def commitMetadata(spark: SparkSession, rootStr: String,
      prior: DeltaSnapshot, schema: StructType,
      partitionColumns: Seq[String], cfg: Map[String, String],
      readerFeature: Option[String] = Some("columnMapping"),
      writerFeature: Option[String] = Some("columnMapping"),
      legacyReader: Int = 2, legacyWriter: Int = 5,
      operation: String = "SET TBLPROPERTIES",
      forceFeatures: Boolean = false): Long = {
    val now = System.currentTimeMillis()
    val lines = mutable.Buffer.empty[JValue]
    val onFeatures = forceFeatures || prior.minReaderVersion >= 3 ||
      prior.readerFeatures.nonEmpty || prior.writerFeatures.nonEmpty
    if (onFeatures) {
      val needsReader = readerFeature.exists(f => !prior.readerFeatures.contains(f))
      val needsWriter = writerFeature.exists(f => !prior.writerFeatures.contains(f))
      if (needsReader || needsWriter) {
        lines += protocolAction(3, 7,
          readerFeatures = prior.readerFeatures ++ readerFeature,
          writerFeatures = prior.writerFeatures ++ writerFeature)
      }
    } else if (prior.minReaderVersion < legacyReader ||
        prior.minWriterVersion < legacyWriter) {
      lines += protocolAction(
        math.max(prior.minReaderVersion, legacyReader),
        math.max(prior.minWriterVersion, legacyWriter))
    }
    lines += metaDataLine(carriedTableId(Some(prior)), schema.json,
      partitionColumns, cfg, now)
    // the enablement commit itself already carries an ICT (cfg holds the
    // new configuration when this is the enable commit)
    commitVersion(spark, rootStr, prior.version + 1, now, operation,
      Map.empty, ictEnabled(cfg) || ictEnabled(prior.configuration),
      lines.toSeq, cfg)
  }

  /** Writer features this writer can honor. `appendOnly` is honored by
    * REFUSING overwrite commits (and row deletes); `deletionVectors` is
    * honored by [[deleteWhere]] writing spec-shaped DV files;
    * `columnMapping` by writing data under physical names
    * ([[DeltaColumnMapping.toPhysical]]); `changeDataFeed` by recording
    * row-level changes as `_change_data/` cdc files on deletes and
    * overwrites; `v2Checkpoint` by honoring data commits as usual while
    * [[checkpoint]] itself refuses (it writes the classic format the
    * feature forbids). Features whose writer obligations this writer
    * cannot meet (row tracking, …) refuse loudly. */
  private val SupportedWriterFeatures =
    Set("appendOnly", "deletionVectors", "columnMapping", "changeDataFeed",
      "v2Checkpoint", "inCommitTimestamp",
      // typeWidening: the writer maintains `delta.typeChanges` field
      // metadata (widenColumnTypes / mergeSchema widening) and upcasts
      // narrower incoming data to the declared type — the conforming-
      // writer obligations. `invariants` and `checkConstraints` are
      // supported because every row-adding path ENFORCES the declared
      // rules against incoming rows (enforceConstraints) and refuses
      // violating writes — the feature's writer obligation.
      "typeWidening", "typeWidening-preview", "invariants",
      // generatedColumns: absent columns DERIVE from their declared
      // expression before the write; provided values are enforced to
      // match it (deriveGeneratedColumns / enforceConstraints), and
      // UPDATE re-derives after SET. identityColumns: absent columns
      // are ASSIGNED contiguous values past the high watermark
      // (assignIdentity) and the watermark republishes with the
      // commit; GENERATED ALWAYS refuses explicit values.
      "checkConstraints", "generatedColumns", "identityColumns",
      // domainMetadata: domains are replayed latest-wins, carried
      // (with tombstones) through every checkpoint this writer emits,
      // and never dropped by data commits — the feature's writer
      // obligation. clustering: the `delta.clustering` domain is
      // maintained by [[clusterBy]] and honored by [[optimize]], which
      // defaults its z-order to the declared clustering columns;
      // appends need not be clustered (delta-spark's own contract —
      // OPTIMIZE reclusters). rowTracking: every commit that adds NEW
      // files assigns fresh disjoint baseRowId ranges past the
      // `delta.rowTracking` watermark and stamps
      // defaultRowCommitVersion; re-adds of existing files (DV
      // deletes, restore, clone, ANALYZE) carry their ids forward
      // unchanged. This writer does not MATERIALIZE row ids, so
      // file-rewriting ops (OPTIMIZE, the rewrite legs of
      // UPDATE/MERGE) re-identify the rows they move — the
      // non-preserving-writer posture the spec permits.
      "domainMetadata", "clustering", "rowTracking")

  /**
   * MERGE-ON-READ COMPACTION (Delta's REORG PURGE analogue): when the
   * table carries deletion vectors, materialize the surviving rows into
   * fresh files and commit them as an overwrite — the result is a
   * DV-free snapshot whose reads are plain scans again (and whose index
   * rewrites are no longer blocked by the MOR metadata guard; refresh
   * the index against the new snapshot to re-accelerate). A no-op when
   * no DV is in force. Old files stay on disk for time travel.
   */
  def purge(spark: SparkSession, root: String): Long = {
    val s = DeltaLog.snapshot(spark, root)
    if (!s.files.exists(_.dv.exists(_.cardinality > 0L))) return s.version
    commit(read(spark, root), root, overwrite = true,
      partitionByGiven = s.partitionColumns)
  }

  /** Symmetric writer gate — shared by [[commit]] and [[deleteWhere]]:
    * a table whose protocol or configuration demands writer capabilities
    * we don't implement must not be written. */
  private def writerGate(p: DeltaSnapshot, rootStr: String,
      deletesRows: Boolean, kind: String): Unit = {
    val unsupportedWf = p.writerFeatures -- SupportedWriterFeatures
    // legacy writer versions ≤ 6 are cumulative CAPABILITY demands
    // (3 constraints, 4 generated columns + CDF, 5 column mapping,
    // 6 identity columns) — each is enforced below only where the
    // feature is actually IN USE, which is what the spec requires
    val legacyOk = p.minWriterVersion <= 6
    if (!(legacyOk || (p.minWriterVersion == 7 && unsupportedWf.isEmpty))) {
      throw new UnsupportedDeltaProtocolException(
        s"Delta table at $rootStr requires minWriterVersion " +
          s"${p.minWriterVersion}" +
          (if (unsupportedWf.nonEmpty)
            s" with unsupported writerFeatures ${unsupportedWf.toSeq.sorted.mkString("[", ", ", "]")}"
          else "") +
          "; this minimal writer implements append/overwrite with " +
          "optimistic concurrency plus deletion vectors and column " +
          "mapping. Writing anyway could violate table invariants. " +
          "Write with the delta-spark connector instead.")
    }
    // generated columns DERIVE (or enforce, when provided) and identity
    // columns ASSIGN on every row-adding path — see SupportedWriterFeatures
    // column invariants and CHECK constraints are ENFORCED, not
    // refused: every row-adding path (append/overwrite, update, merge)
    // evaluates them against the incoming rows via enforceConstraints
    // and refuses violating writes loudly — the conforming-writer
    // obligation delta-spark itself implements
    // change data feed: supported — deleteWhere and overwrite commits on
    // CDF tables record their row-level changes as `_change_data/` cdc
    // files (see writeCdc), and plain appends are their own change data
    // the appendOnly FEATURE means "writers must honor delta.appendOnly
    // when set" — every features-protocol table lists it; only the
    // PROPERTY makes the table append-only (treating the feature as the
    // switch would lock every delta-spark table out of deletes)
    val appendOnly =
      p.configuration.get("delta.appendOnly").exists(_.equalsIgnoreCase("true"))
    if (appendOnly && deletesRows) {
      throw new UnsupportedDeltaProtocolException(
        s"Delta table at $rootStr is append-only (delta.appendOnly); " +
          s"$kind would delete rows in violation of the table's " +
          "configuration. Only append is permitted.")
    }
  }

  /** The table's row-level write rules: CHECK constraints
    * (`delta.constraints.<name>` table properties) and column
    * invariants (`delta.invariants` field metadata, the spec's legacy
    * `{"expression":{"expression":"<sql>"}}` shape). */
  private def constraintExprs(p: DeltaSnapshot,
      rootStr: String): Seq[(String, String)] = {
    val checks = p.configuration.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        (s"CHECK constraint '${k.stripPrefix("delta.constraints.")}'", v)
    }.sortBy(_._1)
    val invariants = p.schema.fields.toSeq
      .filter(_.metadata.contains("delta.invariants")).map { f =>
        val raw = f.metadata.getString("delta.invariants")
        val sql = (JsonMethods.parse(raw) \ "expression" \ "expression") match {
          case JString(s) => s
          case _ => throw new UnsupportedDeltaProtocolException(
            s"Delta table at $rootStr: column '${f.name}' carries an " +
              s"invariant this writer cannot parse ($raw); refusing " +
              "rather than writing unvalidated rows.")
        }
        (s"column invariant on '${f.name}'", sql)
      }
    checks ++ invariants
  }

  /** ENFORCE the table's CHECK constraints and column invariants
    * against incoming rows — one aggregation pass over the batch for
    * ALL rules (codegen'd `when` counters, no per-rule job), refusing
    * the write loudly with the violated rule and its violation count.
    * NULL results pass, SQL CHECK semantics. The same contract
    * delta-spark enforces inside its write job. */
  private def enforceConstraints(p: DeltaSnapshot, rootStr: String,
      df: DataFrame, kind: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    // a PROVIDED generated column must match its declared expression
    // (the spec's enforcement contract for explicit generated values);
    // absent ones were derived before this check and pass trivially
    val genRules = generatedFields(p.schema)
      .filter(f => df.columns.contains(f.name)).map { f =>
        val sql = f.metadata.getString("delta.generationExpression")
        (s"generated column '${f.name}'", s"`${f.name}` <=> ($sql)")
      }
    val rules = constraintExprs(p, rootStr) ++ genRules
    if (rules.isEmpty) return
    val counters = rules.zipWithIndex.map { case ((_, sql), i) =>
      sum(when(coalesce(expr(sql).cast(org.apache.spark.sql.types.BooleanType),
        lit(true)) === false, 1L).otherwise(0L)).as(s"_graft_v$i")
    }
    val row = df.agg(counters.head, counters.tail: _*).head()
    rules.zipWithIndex.foreach { case ((name, sql), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0)
        throw new IllegalArgumentException(
          s"$kind at $rootStr violates $name — ($sql) is false for " +
            s"$bad incoming row${if (bad == 1) "" else "s"}; the write " +
            "was refused and the table is unchanged.")
    }
  }

  /** Do any rules exist that [[enforceConstraints]] would check? Lets
    * rule-free writes skip the staged-validation scan entirely. */
  private def hasEnforceableRules(p: DeltaSnapshot, rootStr: String): Boolean =
    constraintExprs(p, rootStr).nonEmpty || generatedFields(p.schema).nonEmpty

  /** Enforce the table's rules against the STAGED files — the rows the
    * commit will actually publish — instead of re-evaluating the
    * incoming query. Two reasons this is load-bearing: a
    * NON-DETERMINISTIC source (rand(), an uncached shuffle under
    * retries) can pass a pre-write check yet materialize different,
    * violating rows in the write itself; and a deterministic source
    * would otherwise execute its whole plan twice per checked write.
    * The staged scan is a local columnar read of exactly the new
    * bytes. `physToLogical` restores logical names for column-mapped
    * stages (empty = names already logical); partition values come
    * back through the stage's own hive dirs. On violation the caller's
    * cleanup runs via the thrown refusal. */
  private def enforceConstraintsOnStage(spark: SparkSession,
      p: DeltaSnapshot, rootStr: String, stage: Path, kind: String,
      physToLogical: Map[String, String]): Unit = {
    if (!hasEnforceableRules(p, rootStr)) return
    import org.apache.spark.sql.functions.col
    // an empty stage (a merge whose upsert leg is empty, an idle
    // micro-batch) holds nothing to validate — and a file-less read
    // would fail schema inference rather than return empty
    val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
    if (DeltaTable.dataFiles(fs, stage).isEmpty) return
    val raw = spark.read.option("basePath", stage.toString)
      .parquet(stage.toString)
    val logical =
      if (physToLogical.isEmpty) raw
      else raw.select(raw.columns.toSeq.map(c =>
        col(s"`$c`").as(physToLogical.getOrElse(c, c))): _*)
    // hive-dir partition columns infer their own types: restore the
    // table's declared types so rule expressions see the real schema.
    // Cast only columns the table declares — an overwrite's staged
    // frame may legitimately add or drop columns (rules referencing a
    // dropped column fail in expression analysis, as before)
    val typed = logical.select(logical.columns.toSeq.map { c =>
      p.schema.fields.find(_.name == c) match {
        case Some(f) => col(s"`$c`").cast(f.dataType).as(c)
        case None => col(s"`$c`")
      }
    }: _*)
    enforceConstraints(p, rootStr, typed, kind)
  }

  /** Fields declared GENERATED (`delta.generationExpression` metadata). */
  private def generatedFields(s: StructType): Seq[StructField] =
    s.fields.toSeq.filter(_.metadata.contains("delta.generationExpression"))

  /** Fields declared as IDENTITY columns (`delta.identity.*` metadata). */
  private def identityFields(s: StructType): Seq[StructField] =
    s.fields.toSeq.filter(f => f.metadata.contains("delta.identity.start") ||
      f.metadata.contains("delta.identity.allowExplicitInsert"))

  private def identityAllowsExplicit(f: StructField): Boolean =
    f.metadata.contains("delta.identity.allowExplicitInsert") &&
      f.metadata.getBoolean("delta.identity.allowExplicitInsert")

  /** Materialize absent GENERATED columns from their declared
    * expressions (deterministic functions of the row's other columns,
    * by spec). Provided generated columns pass through untouched —
    * [[enforceConstraints]] checks them against the expression. */
  private def deriveGeneratedColumns(p: DeltaSnapshot,
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    generatedFields(p.schema).foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name,
        expr(f.metadata.getString("delta.generationExpression"))
          .cast(f.dataType))
    }
  }

  /** ASSIGN an absent identity column: contiguous values past the high
    * watermark, collision-free across executors. Two passes over the
    * incoming frame — per-partition row counts first, then cumulative
    * offsets broadcast-joined back by partition id — O(partitions)
    * driver state, no global sort, no single-task funnel. The frame
    * must be deterministic between the two passes (the same caveat
    * every distributed identity assigner carries). Returns the frame
    * with the column plus the new high watermark (None when the batch
    * is empty). */
  private def assignIdentity(df: DataFrame,
      f: StructField): (DataFrame, Option[Long]) = {
    import org.apache.spark.sql.functions._
    val md = f.metadata
    val start =
      if (md.contains("delta.identity.start")) md.getLong("delta.identity.start")
      else 1L
    val step =
      if (md.contains("delta.identity.step")) md.getLong("delta.identity.step")
      else 1L
    require(step != 0L,
      s"identity column '${f.name}' declares step 0; refusing to assign")
    val base =
      if (md.contains("delta.identity.highWaterMark"))
        Math.addExact(md.getLong("delta.identity.highWaterMark"), step)
      else start
    val mask = (1L << 33) - 1
    val withMid = df.withColumn("_graft_idmid", monotonically_increasing_id())
    val counts = withMid
      .groupBy(shiftright(col("_graft_idmid"), 33).as("_graft_idpid"))
      .agg(count(lit(1L)).as("_graft_idn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val n = counts.map(_._2).sum
    if (n == 0L) {
      return (df.withColumn(f.name, lit(null).cast(f.dataType)), None)
    }
    val hwm = Math.addExact(base, Math.multiplyExact(step, n - 1))
    val offsets = counts.scanLeft(0L)(_ + _._2).init
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = counts.map(_._1).zip(offsets).toSeq
      .toDF("_graft_idpid", "_graft_idoff")
    val assigned = withMid
      .withColumn("_graft_idpid", shiftright(col("_graft_idmid"), 33))
      .join(broadcast(offDf), Seq("_graft_idpid"))
      .withColumn(f.name,
        (lit(base) + lit(step) * (col("_graft_idoff") +
          col("_graft_idmid").bitwiseAND(lit(mask)))).cast(f.dataType))
      .select((df.columns.map(col) :+ col(f.name)).toIndexedSeq: _*)
    (assigned, Some(hwm))
  }

  /** The spec's declared-rule field metadata (identity state, generation
    * expressions, invariants) belongs to the TABLE, not the incoming
    * frame: an overwrite republishing the frame's schema must carry it
    * forward onto same-named columns, or one overwrite silently strips
    * the table of its rules. Existing frame metadata keys win. */
  private val CarriedFieldMetaKeys = Seq("delta.identity.start",
    "delta.identity.step", "delta.identity.allowExplicitInsert",
    "delta.identity.highWaterMark", "delta.generationExpression",
    "delta.invariants")
  private def carryFieldMetadata(published: StructType,
      table: StructType): StructType = {
    val byName = table.fields.map(f => f.name -> f).toMap
    StructType(published.fields.toSeq.map { pf =>
      byName.get(pf.name).map { tf =>
        val mb = new MetadataBuilder().withMetadata(pf.metadata)
        CarriedFieldMetaKeys.foreach { k =>
          if (tf.metadata.contains(k) && !pf.metadata.contains(k)) {
            k match {
              case "delta.identity.allowExplicitInsert" =>
                mb.putBoolean(k, tf.metadata.getBoolean(k))
              case "delta.generationExpression" | "delta.invariants" =>
                mb.putString(k, tf.metadata.getString(k))
              case _ => mb.putLong(k, tf.metadata.getLong(k))
            }
          }
        }
        pf.copy(metadata = mb.build())
      }.getOrElse(pf)
    })
  }

  /** `ALTER TABLE ... SYNC IDENTITY`: re-align each identity column's
    * high watermark with the values actually in the table (explicit
    * inserts on GENERATED BY DEFAULT columns don't move it — the
    * delta-spark posture — so a table fed explicit values re-syncs
    * here before resuming automatic assignment). One bounded
    * aggregation over the table; the watermark only ever advances. */
  def syncIdentity(spark: SparkSession, rootStr: String): Long =
      CommitRetry() {
    import org.apache.spark.sql.functions.{col, max, min}
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = false, kind = "syncIdentity")
    val idFs = identityFields(prior.schema)
    require(idFs.nonEmpty,
      s"syncIdentity at $rootStr: the table declares no identity columns")
    val aggs = idFs.map { f =>
      val step = if (f.metadata.contains("delta.identity.step"))
        f.metadata.getLong("delta.identity.step") else 1L
      (if (step >= 0) max(col(f.name)) else min(col(f.name)))
        .cast(LongType).as(f.name)
    }
    val row = read(spark, rootStr).agg(aggs.head, aggs.tail: _*).head()
    val newHwms: Map[String, Long] = idFs.zipWithIndex.flatMap {
      case (f, i) =>
        if (row.isNullAt(i)) None
        else {
          val observed = row.getLong(i)
          val step = if (f.metadata.contains("delta.identity.step"))
            f.metadata.getLong("delta.identity.step") else 1L
          val cur: Option[Long] =
            if (f.metadata.contains("delta.identity.highWaterMark"))
              Some(f.metadata.getLong("delta.identity.highWaterMark"))
            else None
          val advances = cur.forall(c =>
            if (step >= 0) observed > c else observed < c)
          if (advances) Some(f.name -> observed) else None
        }
    }.toMap
    if (newHwms.isEmpty) return prior.version
    val synced = StructType(prior.schema.fields.toSeq.map { tf =>
      newHwms.get(tf.name).map { v =>
        tf.copy(metadata = new MetadataBuilder().withMetadata(tf.metadata)
          .putLong("delta.identity.highWaterMark", v).build())
      }.getOrElse(tf)
    })
    val now = System.currentTimeMillis()
    commitVersion(spark, rootStr, prior.version + 1, now, "SYNC IDENTITY",
      Map("columns" -> newHwms.keys.toSeq.sorted.mkString(",")),
      ictEnabled(prior.configuration),
      Seq(metaDataLine(carriedTableId(Some(prior)), synced.json,
        prior.partitionColumns, prior.configuration, now)),
      prior.configuration)
  }

  /** `ALTER TABLE ... ADD CONSTRAINT <name> CHECK (<expr>)`: validate
    * the EXISTING rows satisfy the rule (one bounded aggregation —
    * delta-spark's own contract: a constraint may only be declared on
    * conforming data), then republish metaData with the
    * `delta.constraints.<name>` property and raise the protocol floor
    * to the version the feature demands (legacy 3, or the
    * `checkConstraints` writer feature on a features table). Every
    * later write enforces it via [[enforceConstraints]]. */
  def addCheckConstraint(spark: SparkSession, rootStr: String,
      name: String, exprSql: String): Long = CommitRetry() {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = false, kind = "addConstraint")
    val key = s"delta.constraints.$name"
    require(!prior.configuration.contains(key),
      s"addConstraint at $rootStr: constraint '$name' already exists " +
        s"(${prior.configuration(key)}); drop it first")
    if (prior.files.nonEmpty) {
      val bad = read(spark, rootStr).agg(
        sum(when(coalesce(expr(exprSql).cast(BooleanType), lit(true))
          === false, 1L).otherwise(0L)).as("bad")).head()
      val n = if (bad.isNullAt(0)) 0L else bad.getLong(0)
      require(n == 0L,
        s"addConstraint at $rootStr: ($exprSql) is false for $n existing " +
          s"row${if (n == 1) "" else "s"}; a CHECK constraint may only be " +
          "declared on conforming data")
    }
    val now = System.currentTimeMillis()
    // checkConstraints is WRITER-only: the reader protocol must stay
    // where it was (bumping it would lock legacy readers out of a
    // table that imposes zero new reader obligations) — the spec only
    // allows a readerFeatures list when minReaderVersion >= 3
    val protocolLine: Option[JValue] =
      if (prior.minWriterVersion >= 7) {
        writerFeatureUpgrade(prior, Set("checkConstraints"))
      } else if (prior.minWriterVersion < 3) {
        Some(protocolAction(prior.minReaderVersion, 3))
      } else None
    val cfg = prior.configuration + (key -> exprSql)
    commitVersion(spark, rootStr, prior.version + 1, now, "ADD CONSTRAINT",
      Map("name" -> name, "expr" -> exprSql), ictEnabled(prior.configuration),
      protocolLine.toSeq :+ metaDataLine(carriedTableId(Some(prior)),
        prior.schemaString, prior.partitionColumns, cfg, now), cfg)
  }

  /** `ALTER TABLE ... DROP CONSTRAINT <name>` — remove the property;
    * refuses an unknown name (delta-spark's non-IF-EXISTS behavior). */
  def dropConstraint(spark: SparkSession, rootStr: String,
      name: String): Long = CommitRetry() {
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = false, kind = "dropConstraint")
    val key = s"delta.constraints.$name"
    require(prior.configuration.contains(key),
      s"dropConstraint at $rootStr: no constraint named '$name' " +
        s"(have ${prior.configuration.keys.filter(_.startsWith("delta.constraints."))
          .map(_.stripPrefix("delta.constraints.")).toSeq.sorted.mkString(", ")})")
    val cfg = prior.configuration - key
    val now = System.currentTimeMillis()
    commitVersion(spark, rootStr, prior.version + 1, now, "DROP CONSTRAINT",
      Map("name" -> name), ictEnabled(prior.configuration),
      Seq(metaDataLine(carriedTableId(Some(prior)), prior.schemaString,
        prior.partitionColumns, cfg, now)), cfg)
  }

  /** Keys whose property is the SURFACE of a feature this writer
    * manages through a dedicated verb — the verb performs the protocol
    * upgrade (and backfill work) the property implies, so setting the
    * raw key would publish a table whose declared state the writer
    * never established. */
  private val ManagedPropertyVerbs: Map[String, String] = Map(
    "delta.enableChangeDataFeed" -> "enableChangeDataFeed",
    "delta.columnMapping.mode" -> "enableColumnMapping",
    "delta.columnMapping.maxColumnId" -> "enableColumnMapping",
    "delta.enableRowTracking" -> "enableRowTracking")

  private def guardManagedProperties(keys: Iterable[String],
      verb: String): Unit =
    keys.find(k => ManagedPropertyVerbs.contains(k) ||
        k.startsWith("delta.constraints.")).foreach { k =>
      throw new IllegalArgumentException(
        s"$verb: property '$k' is managed by " +
          s"${ManagedPropertyVerbs.getOrElse(k, "addConstraint/dropConstraint")}" +
          " — use that verb (it performs the protocol upgrade and " +
          "backfill the property implies)")
    }

  /** `ALTER TABLE … SET TBLPROPERTIES` — a metadata-only commit
    * merging `props` into the table configuration: the switchboard for
    * behaviors keyed off properties (`delta.appendOnly`,
    * `delta.logRetentionDuration`, free-form ownership tags, …).
    * Feature-gating keys with dedicated verbs are refused by name. */
  def setTableProperties(spark: SparkSession, rootStr: String,
      props: Map[String, String]): Long = CommitRetry() {
    guardManagedProperties(props.keys, s"setTableProperties at $rootStr")
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = false, kind = "setTableProperties")
    commitMetadata(spark, rootStr, prior, prior.schema,
      prior.partitionColumns, prior.configuration ++ props,
      readerFeature = None, writerFeature = None,
      legacyReader = 1, legacyWriter = 2)
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES` — remove configuration keys
    * (managed feature keys refused, like [[setTableProperties]]).
    * Unknown keys are ignored, delta-spark's IF-EXISTS-less behavior
    * being refusal-free here by design. */
  def unsetTableProperties(spark: SparkSession, rootStr: String,
      keys: Set[String]): Long = CommitRetry() {
    guardManagedProperties(keys, s"unsetTableProperties at $rootStr")
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = false,
      kind = "unsetTableProperties")
    commitMetadata(spark, rootStr, prior, prior.schema,
      prior.partitionColumns, prior.configuration -- keys,
      readerFeature = None, writerFeature = None,
      legacyReader = 1, legacyWriter = 2,
      operation = "UNSET TBLPROPERTIES")
  }

  /** Shared commit path. This minimal writer supports whole-table
    * overwrite and append; row-level deletes go through [[deleteWhere]]
    * (deletion vectors, merge-on-read).
    *
    * Concurrency: data files are STAGED through a per-writer temp dir and
    * only the files this writer itself produced are moved in and logged —
    * a concurrent writer's files landing mid-commit can never be absorbed
    * into this commit's `add` set (the silent-duplication race a
    * before/after directory diff invites). The commit file itself is the
    * fence (create-no-overwrite): the loser's staged files are removed
    * before rethrowing, so a retry starts clean. */
  /** Spec-eligible type widenings (the stable `typeWidening` feature's
    * primitive chains): byte→short→int→long, float→double. */
  private val WideningTargets: Map[DataType, Seq[DataType]] = Map(
    ByteType -> Seq(ShortType, IntegerType, LongType),
    ShortType -> Seq(IntegerType, LongType),
    IntegerType -> Seq(LongType),
    FloatType -> Seq(DoubleType))

  private[sources] def isWidening(from: DataType, to: DataType): Boolean =
    WideningTargets.get(from).exists(_.contains(to))

  /** Widen a field's declared type and append the change to its
    * `delta.typeChanges` history. Prior entries round-trip from either
    * representation found in the wild — delta-spark's metadata ARRAY of
    * `{fromType, toType}` objects, or string-encoded JSON. */
  private def widenField(tf: StructField, from: DataType,
      to: DataType): StructField = {
    val priorEntries: Seq[(String, String)] =
      if (!tf.metadata.contains("delta.typeChanges")) Nil
      else scala.util.Try {
        tf.metadata.getMetadataArray("delta.typeChanges").toSeq
          .map(m => (m.getString("fromType"), m.getString("toType")))
      }.orElse(scala.util.Try {
        JsonMethods.parse(tf.metadata.getString("delta.typeChanges")) match {
          case JArray(vs) => vs.flatMap { v =>
            (v \ "fromType", v \ "toType") match {
              case (JString(f), JString(t)) => Some((f, t))
              case _ => None
            }
          }
          case _ => Nil
        }
      }).getOrElse(Nil)
    val entries = priorEntries :+ ((from.typeName, to.typeName))
    val mb = new MetadataBuilder().withMetadata(tf.metadata)
    mb.putMetadataArray("delta.typeChanges", entries.map { case (f, t) =>
      new MetadataBuilder()
        .putString("fromType", f).putString("toType", t).build()
    }.toArray)
    tf.copy(dataType = to, metadata = mb.build())
  }

  /** Legacy protocol versions are cumulative feature bundles; upgrading
    * to table features must restate them explicitly (the spec's
    * upgrade rule, same table capabilities before and after). */
  private def legacyReaderFeatures(v: Int): Set[String] =
    if (v >= 2) Set("columnMapping") else Set.empty
  private def legacyWriterFeatures(v: Int): Set[String] =
    Seq(2 -> Set("appendOnly", "invariants"),
      3 -> Set("checkConstraints"),
      4 -> Set("generatedColumns", "changeDataFeed"),
      5 -> Set("columnMapping"),
      6 -> Set("identityColumns"))
      .filter(_._1 <= v).flatMap(_._2).toSet

  /**
   * ALTER-style TYPE WIDENING (`ALTER TABLE ... ALTER COLUMN ... TYPE`):
   * upgrade the protocol to table features carrying `typeWidening` and
   * republish metaData with each named column widened and the change
   * recorded in `delta.typeChanges` — after which appends/merges keep
   * working (the writer gate accepts the feature, narrower incoming
   * data upcasts). Files written before the widening keep their
   * narrower physical types; readers upcast at scan
   * (DeltaTypeWideningSpec pins the read side). Narrowing and
   * non-eligible changes refuse.
   */
  def widenColumnTypes(spark: SparkSession, rootStr: String,
      changes: Map[String, DataType]): Long = CommitRetry() {
    val prior = DeltaLog.snapshot(spark, rootStr)
    writerGate(prior, rootStr, deletesRows = false, kind = "widenColumnTypes")
    require(changes.nonEmpty, s"widenColumnTypes at $rootStr: no changes")
    val table = prior.schema
    changes.foreach { case (name, to) =>
      val tf = table.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"widenColumnTypes at $rootStr: no column '$name'"))
      require(isWidening(tf.dataType, to),
        s"widenColumnTypes at $rootStr: ${tf.dataType.simpleString} -> " +
          s"${to.simpleString} on '$name' is not a spec-eligible widening " +
          "(byte->short->int->long, float->double); narrowing is refused")
    }
    val widened = StructType(table.fields.toSeq.map { tf =>
      changes.get(tf.name)
        .map(to => widenField(tf, tf.dataType, to)).getOrElse(tf)
    })
    val readers = (if (prior.minReaderVersion >= 3) prior.readerFeatures
      else legacyReaderFeatures(prior.minReaderVersion)) + "typeWidening"
    val writers = (if (prior.minWriterVersion >= 7) prior.writerFeatures
      else legacyWriterFeatures(prior.minWriterVersion)) + "typeWidening"
    val now = System.currentTimeMillis()
    commitVersion(spark, rootStr, prior.version + 1, now, "CHANGE COLUMN",
      Map("typeWidening" -> changes.keys.toSeq.sorted.mkString(",")),
      ictEnabled(prior.configuration),
      Seq(protocolAction(3, 7, readerFeatures = readers,
          writerFeatures = writers),
        // a type-widening is a metadata change on the SAME table
        metaDataLine(carriedTableId(Some(prior)), widened.json,
          prior.partitionColumns, prior.configuration, now)),
      prior.configuration)
  }

  private def commit(df: DataFrame, rootStr: String, overwrite: Boolean,
      partitionByGiven: Seq[String],
      createConfiguration: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prior: Option[DeltaSnapshot] =
      if (DeltaLog.isDeltaTable(spark, rootStr))
        Some(DeltaLog.snapshot(spark, rootStr))
      else None
    require(prior.isDefined || overwrite,
      s"append to a non-Delta directory: $rootStr (create it first)")
    // APPENDS INHERIT the table's partition layout (delta-spark never
    // asks appenders to restate it): an omitted partitionBy takes the
    // prior's, a conflicting one refuses — a silently-unpartitioned
    // file in a partitioned layout would be invisible to the
    // basePath-reconstructing read. Overwrites may re-partition.
    val partitionBy: Seq[String] =
      if (overwrite || prior.isEmpty) partitionByGiven
      else if (partitionByGiven.isEmpty) prior.get.partitionColumns
      else {
        require(partitionByGiven == prior.get.partitionColumns,
          s"append to $rootStr: partitionBy(${partitionByGiven.mkString(", ")}) " +
            "conflicts with the table's partition columns " +
            s"(${if (prior.get.partitionColumns.isEmpty) "unpartitioned"
               else prior.get.partitionColumns.mkString(", ")})")
        partitionByGiven
      }
    // txn idempotence inside the retry loop: if the racing winner was
    // this transaction's own replayed twin, no-op instead of re-applying
    prior.foreach(p =>
      if (LakeDml.replayed(p.transactions, txn)) return p.version)

    // symmetric writer gate — a table whose protocol or configuration
    // demands writer capabilities we don't implement must not be written
    prior.foreach(p => writerGate(p, rootStr, deletesRows = overwrite,
      kind = if (overwrite) "overwrite" else "append"))
    // GENERATED columns derive when absent; IDENTITY columns assign when
    // absent (explicit values legal only under allowExplicitInsert, and
    // they never move the high watermark — syncIdentity re-aligns it).
    // Both run BEFORE constraint enforcement so CHECK rules can
    // reference derived/assigned values.
    val dfGen = prior.map(p => deriveGeneratedColumns(p, df)).getOrElse(df)
    val (dfIn, idHwms): (DataFrame, Map[String, Long]) = prior match {
      case None => (dfGen, Map.empty)
      case Some(p) =>
        identityFields(p.schema).foldLeft((dfGen, Map.empty[String, Long])) {
          case ((d, hw), f) =>
            if (d.columns.contains(f.name)) {
              if (!identityAllowsExplicit(f)) {
                throw new UnsupportedDeltaProtocolException(
                  s"write to $rootStr: column '${f.name}' is GENERATED " +
                    "ALWAYS AS IDENTITY — drop it from the frame and the " +
                    "writer assigns values")
              }
              (d, hw)
            } else {
              val (assigned, hwm) = assignIdentity(d, f)
              (assigned, hw ++ hwm.map(f.name -> _))
            }
        }
    }
    // COLUMN MAPPING: appends write under the table's physical names;
    // an overwrite re-assigns a fresh mapping over the new schema
    // (continuing maxColumnId) so the table STAYS mapped — that keeps
    // purge() and schema-replacing loads working on mapped tables
    val cmMode = prior.map(p => DeltaColumnMapping.mode(p.configuration))
      .getOrElse("none")
    val priorMaxId: Int = prior
      .flatMap(_.configuration.get(DeltaColumnMapping.MaxIdKey))
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(0)
    // APPEND SCHEMA ENFORCEMENT: a frame whose columns disagree with the
    // table must not write silently — extra columns would be invisible
    // to every reader and conflicting types would corrupt. Additive
    // evolution (new nullable columns) is opt-in via `mergeSchema`;
    // missing columns are fine (readers see nulls), type changes refuse.
    // On a `typeWidening` table the conforming-writer obligations apply:
    // incoming data NARROWER than the declared type upcasts before the
    // write (old files already carry narrower physical types), and a
    // `mergeSchema` append may WIDEN a declared type along the spec's
    // eligible chains, recording the change in `delta.typeChanges`.
    val typeWideningOn = prior.exists(p =>
      p.writerFeatures.contains("typeWidening") ||
        p.writerFeatures.contains("typeWidening-preview"))
    val (evolvedSchema, dfAligned): (Option[StructType], DataFrame) =
      if (overwrite || prior.isEmpty || cmMode != "none") (None, dfIn)
      else {
        val table = prior.get.schema
        val byName = table.fields.map(f => f.name -> f).toMap
        val upcasts = mutable.Map.empty[String, DataType]
        val widenedCols = mutable.Map.empty[String, (DataType, DataType)]
        dfIn.schema.fields.foreach { f =>
          byName.get(f.name).foreach { tf =>
            if (tf.dataType == f.dataType) ()
            else if (typeWideningOn && isWidening(f.dataType, tf.dataType))
              upcasts += f.name -> tf.dataType
            else if (typeWideningOn && mergeSchema &&
                isWidening(tf.dataType, f.dataType))
              widenedCols += f.name -> (tf.dataType -> f.dataType)
            else require(false,
              s"append to $rootStr: column '${f.name}' is " +
                s"${f.dataType.simpleString} but the table declares " +
                s"${tf.dataType.simpleString}; cast it or overwrite")
          }
        }
        val newFields = dfIn.schema.fields.filterNot(f => byName.contains(f.name))
        if (newFields.nonEmpty && !mergeSchema) {
          throw new IllegalArgumentException(
            s"append to $rootStr adds columns " +
              s"${newFields.map(_.name).mkString(", ")} the table does not " +
              "declare; pass mergeSchema = true to evolve additively, or " +
              "drop them")
        }
        val evolved =
          if (newFields.isEmpty && widenedCols.isEmpty) None
          else Some(StructType(table.fields.toSeq.map { tf =>
            widenedCols.get(tf.name) match {
              case Some((from, to)) => widenField(tf, from, to)
              case None => tf
            }
          } ++ newFields.map(_.copy(nullable = true))))
        val aligned = upcasts.foldLeft(dfIn) { case (d, (n, t)) =>
          import org.apache.spark.sql.functions.col
          d.withColumn(n, col(n).cast(t))
        }
        (evolved, aligned)
      }

    val (physDf, physPartitionBy, metaSchemaJson, metaCfg) =
      if (cmMode == "none") {
        (dfAligned, partitionBy, dfAligned.schema.json,
          prior.map(_.configuration).getOrElse(createConfiguration))
      } else if (!overwrite) {
        val ps = prior.get.schema
        val extra = dfIn.schema.fields
          .filterNot(f => ps.fieldNames.contains(f.name))
        if (extra.nonEmpty) {
          throw new IllegalArgumentException(
            s"append to $rootStr adds columns " +
              s"${extra.map(_.name).mkString(", ")} the column-mapped table " +
              "does not declare; this writer evolves mapped schemas only " +
              "through renameColumn/overwrite")
        }
        val physByLogical = ps.fields
          .map(f => f.name -> DeltaColumnMapping.physicalName(f)).toMap
        (DeltaColumnMapping.toPhysical(dfIn, ps),
          partitionBy.map(n => physByLogical.getOrElse(n, n)),
          prior.get.schemaString, prior.get.configuration)
      } else {
        // an overwrite of a MAPPED table carries the declared-rule
        // field metadata (identity / generation / invariants) onto
        // same-named columns BEFORE assigning the fresh mapping — the
        // same contract as the unmapped branch, which the final
        // metaData block applies only when cmMode == "none"
        val carried = carryFieldMetadata(dfIn.schema, prior.get.schema)
        val (mapped, maxId) =
          DeltaColumnMapping.assignMapping(carried, priorMaxId)
        (dfIn, partitionBy, mapped.json, prior.get.configuration +
          (DeltaColumnMapping.MaxIdKey -> maxId.toString))
      }

    // stage through a per-writer temp dir: the add set is EXACTLY the
    // files this writer produced, independent of concurrent activity
    val stage = new Path(root,
      s".graft-stage-${java.util.UUID.randomUUID().toString}")
    val writer = physDf.write.mode(SaveMode.Append)
    (if (physPartitionBy.nonEmpty) writer.partitionBy(physPartitionBy: _*) else writer)
      .parquet(stage.toString)
    // CHECK constraints / invariants / provided-generated-column rules
    // enforce against the STAGED rows — the exact bytes this commit
    // would publish — so a non-deterministic source can never pass a
    // pre-check yet materialize violating rows, and a deterministic
    // source never executes twice (see enforceConstraintsOnStage). A
    // violation deletes the stage; the table is untouched.
    prior.foreach { p =>
      try enforceConstraintsOnStage(spark, p, rootStr, stage,
        if (overwrite) "overwrite" else "append",
        if (overwrite) Map.empty else physToLogical(p))
      catch { case t: Throwable => fs.delete(stage, true); throw t }
    }
    val staged = dataFiles(fs, stage)
    val stageUri = fs.makeQualified(stage).toUri
    val added: Seq[FileStatus] = staged.map { s =>
      val rel = stageUri.relativize(s.getPath.toUri).getPath
      val target = new Path(root, rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(s.getPath, target)) {
        throw new IllegalStateException(
          s"failed to move staged file ${s.getPath} to $target")
      }
      fs.getFileStatus(target)
    }
    fs.delete(stage, true)

    // CHANGE DATA FEED: an overwrite on a CDF table records its full
    // row-level effect as cdc files — pre-image rows as deletes plus the
    // new rows as inserts (a commit carrying cdc actions is served from
    // them exclusively, so both sides must be present). Appends need no
    // cdc: their adds ARE the change data. The doubled write volume is
    // inherent to CDF overwrites.
    val (cdcLines, cdcPaths): (Seq[JValue], Seq[Path]) =
      if (!overwrite || prior.isEmpty ||
          !cdfEnabled(prior.get.configuration)) (Nil, Nil)
      else {
        import org.apache.spark.sql.functions.lit
        val p = prior.get
        // prior snapshot is still current: the new files are on disk but
        // unlogged, so read() serves exactly the pre-image
        val pre =
          if (p.files.isEmpty) None
          else Some(writeCdc(spark, fs, root,
            physicalRows(p, read(spark, rootStr))
              .withColumn("_change_type", lit("delete")),
            physPartitionColumns(p)))
        // insert side reads back the just-moved files (one extra scan of
        // the new data; avoids recomputing a possibly-expensive `df`)
        val post =
          if (added.isEmpty) None
          else Some(writeCdc(spark, fs, root,
            spark.read.schema(physDf.schema).option("basePath", rootStr)
              .parquet(added.map(_.getPath.toString): _*)
              .withColumn("_change_type", lit("insert")), physPartitionBy))
        val both = pre.toSeq ++ post.toSeq
        (both.flatMap(_._1), both.flatMap(_._2))
      }

    val version = prior.map(_.version + 1).getOrElse(0L)
    val now = System.currentTimeMillis()
    // row tracking in force? (an existing table's features/config, or a
    // create with delta.enableRowTracking)
    val rowTrackingActive = prior.map(rowTrackingOn).getOrElse(
      createConfiguration.get("delta.enableRowTracking")
        .exists(_.equalsIgnoreCase("true")))

    val lines = mutable.Buffer.empty[JValue]
    lines ++= txnAction(txn, now)
    if (version == 0L) {
      // legacy versions are cumulative capability demands: a created
      // schema carrying identity (6) or generated (4) field metadata
      // must declare the matching writer floor for other engines
      val createWv =
        if (identityFields(dfAligned.schema).nonEmpty) 6
        else if (generatedFields(dfAligned.schema).nonEmpty) 4
        else 2
      if (rowTrackingActive) {
        // row tracking has no legacy protocol form — a tracked create
        // starts on table features, restating the legacy-implied bundle
        lines += protocolAction(1, 7,
          writerFeatures = legacyWriterFeatures(createWv) ++
            Set("rowTracking", "domainMetadata"))
      } else {
        lines += protocolAction(1, createWv)
      }
    }
    if (version == 0L || overwrite || evolvedSchema.isDefined ||
        idHwms.nonEmpty) {
      // an overwrite rewrites schema/partitioning but must NOT erase the
      // table's configuration — carry it forward from the prior snapshot
      // (for a mapped table, with a freshly-assigned mapping + maxColumnId);
      // a mergeSchema append republishes the ADDITIVELY-evolved schema
      // while keeping the table's partitioning
      val schemaJson = {
        // declared-rule field metadata (identity, generation
        // expressions, invariants) belongs to the TABLE: an
        // overwrite carries it onto same-named columns of the new
        // schema; an identity-assigning append republishes the
        // PRIOR schema with only the high watermark advanced
        val declared: StructType =
          if (evolvedSchema.isDefined) evolvedSchema.get
          else if (!overwrite && idHwms.nonEmpty) prior.get.schema
          else DataType.fromJson(metaSchemaJson).asInstanceOf[StructType]
        val carried =
          if (overwrite && prior.isDefined && cmMode == "none")
            carryFieldMetadata(declared, prior.get.schema)
          else declared
        StructType(carried.fields.toSeq.map { tf =>
          idHwms.get(tf.name).map { v =>
            tf.copy(metadata =
              new MetadataBuilder().withMetadata(tf.metadata)
                .putLong("delta.identity.highWaterMark", v).build())
          }.getOrElse(tf)
        }).json
      }
      // overwrite / mergeSchema republish metadata for the SAME table;
      // a fresh id is minted only at version 0 (table creation)
      lines += metaDataLine(carriedTableId(prior), schemaJson,
        if (evolvedSchema.isDefined || (!overwrite && idHwms.nonEmpty))
          prior.get.partitionColumns
        else partitionBy,
        metaCfg, now)
    }
    if (overwrite) prior.foreach(_.files.foreach { f =>
      lines += removeAction(relOf(fs, root, new Path(f.path)), now,
        dataChange = true)
    })
    // per-file stats from the parquet footers just written (metadata-only
    // reads, distributed when the commit is large) — the skipping payload
    // every real Delta reader expects in `add.stats`. Row tracking: fresh
    // disjoint id ranges for the new files + the republished watermark
    // (an overwrite's REMOVED files retire their ranges but the
    // watermark never rewinds — ids are never reused)
    lines ++= addActionLines(spark, fs, root, added,
      StructType(physDf.schema.filterNot(f => physPartitionBy.contains(f.name))),
      rowTrackingActive, prior.map(rowIdHighWaterMark).getOrElse(-1L),
      version, dataChange = true)
    lines ++= cdcLines

    commitVersion(spark, rootStr, version, now,
      if (version == 0L) "CREATE TABLE AS SELECT" else "WRITE",
      Map("mode" -> (if (overwrite) "Overwrite" else "Append")),
      ictEnabled(metaCfg), lines.toSeq,
      prior.map(_.configuration).getOrElse(createConfiguration),
      staged = added.map(_.getPath) ++ cdcPaths)
  }

  /** The `commitInfo` action every real Delta writer leads its commit
    * with: timestamp + operation provenance, consumed by [[history]]
    * and by the CDF reader's `_commit_timestamp`. When the table runs
    * IN-COMMIT TIMESTAMPS, the monotone `inCommitTimestamp` field rides
    * along and becomes the table's authoritative clock. */
  private def commitInfoLine(tsMillis: Long, operation: String,
      parameters: Map[String, String], ict: Option[Long] = None): JValue =
    JObject("commitInfo" -> JObject(
      List[(String, JValue)](
        "timestamp" -> JLong(tsMillis),
        "operation" -> JString(operation),
        "operationParameters" -> JObject(parameters.toList.sortBy(_._1)
          .map { case (k, v) => k -> (JString(v): JValue) })) ++
        ict.map(t => "inCommitTimestamp" -> (JLong(t): JValue))))

  /** The `metaData` action — ONE builder for every commit site, so a
    * verb can't drift on field completeness or identity. `metaData.id`
    * is the table's stable identity: pass [[carriedTableId]] on every
    * non-create commit (r12 shipped a real bug where a widening commit
    * minted a fresh random id — external readers saw a table swap). */
  private[sources] def metaDataLine(tableId: String, schemaJson: String,
      partitionColumns: Seq[String], configuration: Map[String, String],
      createdTime: Long): JValue =
    JObject("metaData" -> JObject(
      "id" -> JString(tableId),
      "format" -> JObject(
        "provider" -> JString("parquet"), "options" -> JObject()),
      "schemaString" -> JString(schemaJson),
      "partitionColumns" -> JArray(partitionColumns.map(JString(_)).toList),
      "configuration" -> JObject(
        configuration.toList.sortBy(_._1)
          .map { case (k, v) => k -> (JString(v): JValue) }),
      "createdTime" -> JLong(createdTime)))

  /** The table id every non-create commit must restate: the prior
    * snapshot's, minted fresh ONLY when no prior metaData exists. */
  private[sources] def carriedTableId(prior: Option[DeltaSnapshot]): String =
    prior.flatMap(_.tableId).getOrElse(java.util.UUID.randomUUID().toString)

  /** The `protocol` action. Feature lists follow the spec's presence
    * rule mechanically: `readerFeatures` rides iff the reader floor is
    * table features (>= 3), `writerFeatures` iff the writer floor is
    * (>= 7) — a site can no longer emit a reader-version bump for a
    * writer-only feature (r12's second metadata bug) because the
    * reader floor it passes is restated verbatim. */
  private[sources] def protocolAction(minReader: Int, minWriter: Int,
      readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty): JValue = {
    require(readerFeatures.isEmpty || minReader >= 3,
      s"readerFeatures $readerFeatures require minReaderVersion 3, got $minReader")
    require(writerFeatures.isEmpty || minWriter >= 7,
      s"writerFeatures $writerFeatures require minWriterVersion 7, got $minWriter")
    JObject("protocol" -> JObject(
      List[(String, JValue)](
        "minReaderVersion" -> JInt(minReader),
        "minWriterVersion" -> JInt(minWriter)) ++
        (if (minReader >= 3)
          List("readerFeatures" -> (JArray(
            readerFeatures.toList.sorted.map(JString(_))): JValue))
        else Nil) ++
        (if (minWriter >= 7)
          List("writerFeatures" -> (JArray(
            writerFeatures.toList.sorted.map(JString(_))): JValue))
        else Nil)))
  }

  /** Protocol upgrade for a commit introducing WRITER-ONLY features:
    * writer floor moves to table features (7) carrying `have ++ want`,
    * the reader floor (and its features, legal only at >= 3) restates
    * the prior protocol untouched. None when `want` is already held. */
  private[sources] def writerFeatureUpgrade(prior: DeltaSnapshot,
      want: Set[String]): Option[JValue] = {
    val have = if (prior.minWriterVersion >= 7) prior.writerFeatures
      else legacyWriterFeatures(prior.minWriterVersion)
    if (want.subsetOf(have)) None
    else Some(protocolAction(prior.minReaderVersion, 7,
      readerFeatures = prior.readerFeatures,
      writerFeatures = have ++ want))
  }

  /** Is the IN-COMMIT TIMESTAMPS feature enabled by this configuration? */
  private[sources] def ictEnabled(cfg: Map[String, String]): Boolean =
    cfg.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))

  /** The monotone in-commit timestamp for the NEXT commit: wall clock,
    * but never at or below the prior commit's ICT (the spec's
    * `max(now, prior + 1)` rule — the table clock never goes backward
    * even when the wall clock does). */
  private def nextIct(fs: FileSystem, root: Path, priorVersion: Long,
      now: Long): Long = {
    val p = DeltaCodec.commitPath(root, priorVersion)
    val prior: Option[Long] =
      if (!fs.exists(p)) None
      else DeltaCodec.readCommit(fs, p, priorVersion, root.toString)(_.collectFirst {
        case CkptCommitInfo(Some(ict), _) => ict
      })
    math.max(now, prior.getOrElse(Long.MinValue) + 1)
  }

  /** Enable IN-COMMIT TIMESTAMPS — a metadata-only commit setting
    * `delta.enableInCommitTimestamps=true` (+ the spec's enablement
    * provenance properties) and adding the `inCommitTimestamp` writer
    * feature. From this commit on, every commit carries a monotone
    * `commitInfo.inCommitTimestamp` and [[readTimestampAsOf]] resolves
    * by IT rather than file mtimes — which survive neither log copies
    * nor restores. */
  def enableInCommitTimestamps(spark: SparkSession, rootStr: String): Long = {
    val prior = DeltaLog.snapshot(spark, rootStr)
    if (ictEnabled(prior.configuration)) return prior.version
    writerGate(prior, rootStr, deletesRows = false,
      kind = "enableInCommitTimestamps")
    val v = prior.version + 1
    commitMetadata(spark, rootStr, prior, prior.schema, prior.partitionColumns,
      prior.configuration +
        ("delta.enableInCommitTimestamps" -> "true") +
        ("delta.inCommitTimestampEnablementVersion" -> v.toString) +
        ("delta.inCommitTimestampEnablementTimestamp" ->
          System.currentTimeMillis().toString),
      readerFeature = None, writerFeature = Some("inCommitTimestamp"),
      legacyReader = 1, legacyWriter = 7, forceFeatures = true)
  }

  /** Table HISTORY — one row per commit (newest first): version,
    * commit timestamp ([[commits]]' clock) and operation (`null` when
    * unrecorded) — the jarless `DESCRIBE HISTORY`. Driver-side metadata
    * walk, same cost class as snapshot replay. */
  def history(spark: SparkSession, rootStr: String): DataFrame =
    LakeTable.historyOf(spark, commits(spark, rootStr), "version")

  /** VACUUM — delete data, DV, and cdc files that are (a) not referenced
    * by the CURRENT snapshot and (b) older than `retentionMs` — the
    * physical-cleanup half of the Delta lifecycle ([[checkpoint]] bounds
    * the log; vacuum bounds the data directory, without which a 100 TB
    * table's storage grows with every overwrite forever). Time travel to
    * versions whose files are vacuumed stops working, exactly as for
    * real VACUUM; retention is the knob. Crashed writers' `.graft-*`
    * staging dirs past retention go too ([[FsSweep.sweep]]). Returns the
    * deleted paths (empty on `dryRun = false` with nothing eligible). */
  def vacuum(spark: SparkSession, rootStr: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val s = DeltaLog.snapshot(spark, rootStr)
    // live = the current snapshot's data files + their DV files; nothing
    // else is needed to serve the table at its head version
    val live: Set[String] = s.files.map(f => normPath(f.path)).toSet ++
      s.files.flatMap(_.dv.flatMap(_.absolutePath(root))
        .map(p => normPath(p.toString)))
    // retention keys off the TOMBSTONE (remove-action deletionTimestamp),
    // not the data file's mtime: a file written long ago but removed
    // minutes ago must stay for the full window so time travel and
    // concurrent snapshot readers keep working. The replay carries every
    // tombstone since its checkpoint plus the unexpired ones that
    // checkpoint restates. The commits at or below the checkpoint that
    // log retention still keeps are read too: a checkpoint may restate
    // fewer tombstones than they hold (one written before checkpoints
    // carried them, or a `retentionMs` beyond
    // delta.deletedFileRetentionDuration). The latest removal governs.
    // Files with no tombstone (failed-write junk, or removes whose
    // commits are cleaned up and which expired out of the checkpoint)
    // fall back to the mtime gate.
    val removedAt = mutable.Map.empty[String, Long]
    def tombstone(k: String, at: Long): Unit =
      removedAt(k) = math.max(removedAt.getOrElse(k, 0L), at)
    s.tombstones.foreach { case (k, r) => tombstone(k, r.deletedAt) }
    val log = DeltaLog.listing(fs, rootStr)
    log.checkpointAtOrBefore(log.latest).foreach { case (ckpt, _) =>
      log.commits.filter(_._1 <= ckpt).foreach { case (v, st) =>
        DeltaCodec.readCommit(fs, st.getPath, v, rootStr)(_.foreach {
          case r: CkptRemove =>
            tombstone(normPath(DeltaLog.resolvePath(root, r.path)), r.deletedAt)
          case _ =>
        })
      }
    }
    // cdc files are never "live": they serve only CDF reads within
    // retention, the same rule real VACUUM applies
    FsSweep.sweep(spark, fs, root, System.currentTimeMillis() - retentionMs,
      dryRun, age = st => removedAt.getOrElse(normPath(st.getPath.toString),
        st.getModificationTime))(sweepsInto)(_.filter { st =>
      FsSweep.plain(st.getPath.getName) &&
        (relOf(fs, root, st.getPath).startsWith("_change_data/") ||
          !live.contains(normPath(st.getPath.toString)))
    }).map(_.toString)
  }

  /** The directories the orphan sweeps walk: the data tree and
    * `_change_data`. */
  private def sweepsInto(n: String): Boolean =
    FsSweep.plain(n) || n == "_change_data"

  /** ORPHAN sweep — delete files under the table that NO retained log
    * state references at all (crash-leftover staging junk, foreign
    * drops): strictly safer than [[vacuum]], which also deletes
    * tombstoned historical files and therefore truncates time travel.
    * A file is referenced if any retained commit json or checkpoint
    * parquet mentions it (add, remove, or cdc action, plus their
    * deletion-vector files) — removeOrphans never touches those, so
    * every time-travelable version keeps serving; VACUUM remains the
    * verb that trades history for space. Age-gated by mtime against
    * the ABSOLUTE `olderThanMs` epoch cutoff (files modified at or
    * after it survive) so an in-flight writer's staged files are
    * never swept.
    *
    * Scale: the tree LISTING and the DELETES run on [[FsSweep]]'s
    * bounded pools (hours of serial filesystem RPC otherwise at
    * millions of files). The log-json referenced set is driver-built
    * (bounded: commits since the last checkpoint). The CHECKPOINT
    * membership — the O(live files) part — collects to a driver set
    * only below `spark.graft.maintenance.antiJoinBytes` of checkpoint
    * parquet (~100 bytes per live file, the snapshot-replay envelope);
    * past it the test becomes a distributed left-anti join of the
    * candidates against the referenced-path frame ([[CkOrphanRefs]]),
    * so a checkpoint carrying tens of millions of files never
    * materializes on the driver. */
  def removeOrphans(spark: SparkSession, rootStr: String,
      olderThanMs: Long, dryRun: Boolean = false): Seq[String] = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    DeltaLog.snapshot(spark, rootStr) // assert it IS a Delta table
    val log = DeltaLog.listing(fs, rootStr)
    val referenced = mutable.Set.empty[String]
    def ref(raw: String, dv: Option[DvDescriptor]): Unit = {
      referenced += normPath(DeltaLog.resolvePath(root, raw))
      dv.flatMap(_.absolutePath(root)).foreach(p => referenced += normPath(p.toString))
    }
    log.commits.foreach { case (v, st) =>
      DeltaCodec.readCommit(fs, st.getPath, v, rootStr)(_.foreach {
        case a: CkptAdd => ref(a.path, a.deletionVector)
        case r: CkptRemove => ref(r.path, r.deletionVector)
        case c: CkptCdc => ref(c.path, None)
        case _ =>
      })
    }
    val ckStatus = log.checkpointFiles.map(_._2) ++ log.sidecarFiles
    val ckFiles = ckStatus.map(_.getPath.toString)
    val ckBytes = ckStatus.map(_.getLen).sum
    FsSweep.sweep(spark, fs, root, olderThanMs, dryRun)(sweepsInto) { files =>
      val candidates = files.filter(st => FsSweep.plain(st.getPath.getName) &&
        !referenced.contains(normPath(st.getPath.toString)))
      if (ckFiles.isEmpty || candidates.isEmpty) candidates
      else {
        // classic/multi-part/v2 checkpoints + sidecars all carry file
        // actions as parquet rows; only the retained log can vouch for a
        // file, so every frame counts — read them in ONE batched job
        // (mergeSchema reconciles action-struct drift across checkpoint
        // generations), falling back to per-file reads for a foreign
        // writer's incompatible frames rather than refusing
        val frames =
          try Seq(spark.read.option("mergeSchema", "true").parquet(ckFiles: _*))
          catch {
            case scala.util.control.NonFatal(_) => ckFiles.map(p => spark.read.parquet(p))
          }
        val refDs = frames.map(f => CkOrphanRefs.referencedPaths(spark,
          fs.makeQualified(root).toString, f)).reduce(_ union _)
        val byNorm = candidates.map(st => normPath(st.getPath.toString) -> st)
        // Below the byte threshold the checkpoint paths collect into the
        // driver set (~100 bytes per live file — the snapshot-replay
        // envelope); past it the membership test becomes a DISTRIBUTED
        // ANTI-JOIN of the candidates against the referenced-path frame,
        // so a checkpoint carrying tens of millions of live files never
        // materializes on the driver.
        val keep: Set[String] =
          if (ckBytes <= FsSweep.antiJoinBytes(spark)) {
            val ckRefs = refDs.collect().toSet
            byNorm.map(_._1).filterNot(ckRefs.contains).toSet
          } else {
            import spark.implicits._
            spark.createDataset(byNorm.map(_._1)).toDF("p")
              .join(refDs.toDF("p"), Seq("p"), "left_anti")
              .as[String].collect().toSet
          }
        // keep walk order for a deterministic report
        byNorm.collect { case (n, st) if keep.contains(n) => st }
      }
    }.map(_.toString)
  }

  /** Write a parquet checkpoint at the current version so replay cost
    * stays bounded as commits accumulate (+ the `_last_checkpoint` hint
    * file real readers look for). Tables whose protocol demands V2 SPEC
    * CHECKPOINTS (the `v2Checkpoint` writer feature, or
    * `delta.checkpointPolicy = v2`) get the v2 format: a uuid-named
    * manifest (`<v>.checkpoint.<uuid>.parquet`) carrying the mandatory
    * `checkpointMetadata` action.
    *
    * Past `spark.graft.delta.checkpoint.partSize` add actions the state
    * is written BANDED from executors — classic tables as the spec's
    * multi-part checkpoint (`<v>.checkpoint.<o>.<p>.parquet`), v2 tables
    * as `_sidecars/` files behind a small pointer manifest — so a table
    * with millions of live files never serializes its checkpoint through
    * one task. Below the threshold both formats stay single-file (v2
    * with the file actions inline in the manifest — the spec's legal
    * sidecar-less shape). */
  def checkpoint(spark: SparkSession, rootStr: String): Long = {
    import spark.implicits._
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val s = DeltaLog.snapshot(spark, rootStr)
    val v2 = s.writerFeatures.contains("v2Checkpoint") ||
      s.configuration.get("delta.checkpointPolicy").contains("v2")
    // the checkpoint must restate the table's REAL protocol and
    // configuration — writing minimal constants here would downgrade the
    // authoritative protocol and erase config for every later replayer
    // (including external Delta readers consuming _last_checkpoint)
    val proto = CkptProtocol(s.minReaderVersion, s.minWriterVersion,
      if (s.readerFeatures.nonEmpty) Some(s.readerFeatures.toSeq.sorted) else None,
      if (s.writerFeatures.nonEmpty) Some(s.writerFeatures.toSeq.sorted) else None)
    val v2Meta: Seq[CkptRow] =
      if (!v2) Nil
      // the spec's mandatory CheckpointMetadata action — v2 readers
      // key on it to recognize the manifest
      else Seq(CkptRow(None, None, None, None, None,
        Some(CkptCheckpointMetadata(s.version))))
    val metaRows: Seq[CkptRow] = v2Meta ++ Seq(
      CkptRow(None, None, None, Some(proto)),
      CkptRow(None, None, Some(CkptMetaData(
        // the checkpoint RESTATES table metadata — including its id
        Some(s.tableId.getOrElse(java.util.UUID.randomUUID().toString)),
        CkptFormat("parquet", Map()),
        s.schemaString, s.partitionColumns, s.configuration)), None)) ++
      // txn watermarks MUST survive the checkpoint: dropping one would
      // let a replayed streaming micro-batch double-apply after cleanup
      s.transactions.toSeq.sorted.map { case (app, v) =>
        CkptRow(None, None, None, None, Some(CkptTxn(app, v)))
      } ++
      // metadata domains MUST survive too (including removal tombstones:
      // a replay from this checkpoint must still see the removal) —
      // dropping one would silently erase e.g. the clustering spec
      s.domains.toSeq.sortBy(_._1).map { case (d, m) =>
        CkptRow(None, None, None, None, None,
          domainMetadata = Some(CkptDomainMetadata(d, m.configuration, m.removed)))
      }
    // the UNEXPIRED tombstones (within delta.deletedFileRetentionDuration,
    // default one week) ride along with the adds as the protocol
    // requires, so vacuum keys retention off them after the commits below
    // this checkpoint are cleaned up
    val tombstoneHorizon = System.currentTimeMillis() -
      s.configuration.get("delta.deletedFileRetentionDuration")
        .flatMap(parseDuration).getOrElse(7L * 24 * 3600 * 1000)
    val fileRows: Seq[CkptRow] =
      s.files.map { f =>
        val rel = relOf(fs, root, new Path(f.path))
        // DV descriptors MUST survive the checkpoint: dropping one here
        // would resurrect its deleted rows for every later replayer.
        // Row-tracking fields ride along for the same reason.
        CkptRow(Some(CkptAdd(rel, LakeMaint.hiveValues(rel).toMap, f.size,
          f.modificationTime, dataChange = false, f.dv, f.stats,
          f.baseRowId, f.defaultRowCommitVersion)), None, None, None)
      } ++
      s.tombstones.values.toSeq.filter(_.deletedAt > tombstoneHorizon).sortBy(_.path)
        .map(r => CkptRow(None, Some(r.copy(dataChange = false)), None, None))
    val dir = DeltaLog.logDir(root)
    // BANDED writes past a part-size threshold: a streaming-ingest table
    // accumulates millions of add actions between OPTIMIZEs, and every
    // `checkpointInterval`th commit would funnel them all through ONE
    // write task. Shard the state across executors instead (the
    // IcebergMeta.writeDeleteFiles shape): classic tables get the spec's
    // multi-part form (`<v>.checkpoint.<o>.<p>.parquet` — the reader
    // already replays complete groups), v2 tables get `_sidecars/` files
    // with a small pointer manifest. repartition(n) is REPARTITION_BY_NUM,
    // which neither the optimizer nor AQE coalesces back to one task.
    val partSize = math.max(1, spark.sessionState.conf.getConfString(
      "spark.graft.delta.checkpoint.partSize", "100000").toInt)
    val nParts = math.max(1, math.min(
      (fileRows.size + partSize - 1) / partSize,
      spark.sessionState.conf.numShufflePartitions))
    val tmp = new Path(dir, s".ckpt-tmp-${s.version}")
    def writeParts(rs: Seq[CkptRow], n: Int): Seq[Path] = {
      rs.toDS().repartition(n).write.mode("overwrite").parquet(tmp.toString)
      val parts = fs.listStatus(tmp).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") &&
          p.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
      if (parts.isEmpty)
        throw new IllegalStateException("checkpoint write produced no part file")
      parts
    }
    def claim(src: Path, target: Path): Unit = {
      if (fs.exists(target)) fs.delete(target, false)
      fs.rename(src, target)
    }
    val hintParts: Option[Int] =
      if (v2 && nParts > 1) {
        // file actions stream from executors into _sidecars/; the
        // manifest stays a single small file of sidecar pointers + table
        // metadata
        val parts = writeParts(fileRows, nParts)
        val scDir = new Path(dir, "_sidecars")
        fs.mkdirs(scDir)
        val sidecarRows = parts.map { p =>
          val name = s"${java.util.UUID.randomUUID()}.parquet"
          val t = new Path(scDir, name)
          claim(p, t)
          val st = fs.getFileStatus(t)
          CkptRow(None, None, None, None, None, None,
            Some(CkptSidecar(name, st.getLen, st.getModificationTime)))
        }
        fs.delete(tmp, true)
        val manifest = writeParts(metaRows ++ sidecarRows, 1)
        claim(manifest.head, new Path(dir,
          f"${s.version}%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"))
        None
      } else if (!v2 && nParts > 1) {
        val parts = writeParts(metaRows ++ fileRows, nParts)
        val k = parts.size
        parts.zipWithIndex.foreach { case (p, i) =>
          claim(p, new Path(dir,
            f"${s.version}%020d.checkpoint.${i + 1}%010d.$k%010d.parquet"))
        }
        Some(k)
      } else {
        val parts = writeParts(metaRows ++ fileRows, 1)
        claim(parts.head, new Path(dir,
          if (v2)
            f"${s.version}%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"
          else f"${s.version}%020d.checkpoint.parquet"))
        None
      }
    fs.delete(tmp, true)
    val hint = fs.create(new Path(dir, "_last_checkpoint"), true)
    try hint.write(
      (s"""{"version":${s.version},"size":${metaRows.size + fileRows.size}""" +
        hintParts.map(p => s""","parts":$p""").getOrElse("") + "}")
        .getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    cleanupExpiredLogs(fs, root, s.version, s.configuration)
    s.version
  }

  /** Parse Delta's duration-property dialect (`interval 30 days`,
    * `interval 12 hours`, …; bare numbers are millis). None = unknown
    * form — caller falls back to the default. */
  private[sources] def parseDuration(v: String): Option[Long] = {
    val IntervalRe = """(?i)^\s*(?:interval\s+)?(\d+)\s*(day|days|hour|hours|minute|minutes|second|seconds|week|weeks)\s*$""".r
    v.trim match {
      case IntervalRe(n, unit) =>
        val ms = unit.toLowerCase.stripSuffix("s") match {
          case "week" => 7L * 24 * 3600 * 1000
          case "day" => 24L * 3600 * 1000
          case "hour" => 3600L * 1000
          case "minute" => 60L * 1000
          case "second" => 1000L
        }
        Some(n.toLong * ms)
      case n if n.nonEmpty && n.forall(_.isDigit) => Some(n.toLong)
      case _ => None
    }
  }

  /** METADATA CLEANUP at checkpoint time (what delta-spark does when
    * `delta.enableExpiredLogCleanup` is on — its default): delete
    * commit JSONs and older checkpoints STRICTLY BELOW the fresh
    * checkpoint once they age past `delta.logRetentionDuration`
    * (default 30 days). Replay never needs them again — the checkpoint
    * covers their state — and on a 100 TB table the log would otherwise
    * grow by one file per commit forever. Time travel reaches back only
    * as far as retention, the same contract real Delta documents. */
  private def cleanupExpiredLogs(fs: FileSystem, root: Path,
      ckptVersion: Long, conf: Map[String, String]): Unit = {
    if (conf.get("delta.enableExpiredLogCleanup").exists(_.trim.equalsIgnoreCase("false")))
      return
    val retentionMs = conf.get("delta.logRetentionDuration")
      .flatMap(parseDuration).getOrElse(30L * 24 * 3600 * 1000)
    val cutoff = System.currentTimeMillis() - retentionMs
    DeltaCodec.list(fs, root).foreach { log =>
      (log.commits.toSeq ++ log.checkpointFiles.map(c => c._1 -> c._2)).foreach {
        case (v, st) =>
          if (v < ckptVersion && st.getModificationTime < cutoff)
            fs.delete(st.getPath, false)
      }
    }
  }

  private[sources] def dataFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    if (!fs.exists(root)) return Nil
    val buf = mutable.Buffer.empty[FileStatus]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      // skip the log, `_change_data`, and any dot-dir (a concurrent
      // writer's stage) — `_`-prefixed dirs are metadata by convention
      if (st.isDirectory) { if (!n.startsWith("_") && !n.startsWith(".")) walk(st.getPath) }
      else if (!n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet"))
        buf += st
    }
    walk(root)
    buf.toSeq
  }
}

/** Executor-side derivation of the checkpoint-referenced paths for the
  * orphan sweep's distributed anti-join leg — kept OUTSIDE DeltaTable so
  * the row closures capture nothing but this stateless module (the
  * qualified `DeltaTable.normPath` / `DeltaLog.resolvePath` calls
  * compile to static module access, never a `this` capture). */
private[sources] object CkOrphanRefs {

  /** One normalized-path column: every add/remove path plus their
    * deletion-vector files, resolved against the (qualified) table
    * root — entirely on executors. */
  def referencedPaths(spark: SparkSession, rootQualified: String,
      ckf: DataFrame): org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    val frames = Seq("add", "remove").flatMap { kind =>
      if (!ckf.schema.fieldNames.contains(kind)) None
      else {
        val hasDv = ckf.schema(kind).dataType
          .asInstanceOf[StructType].fieldNames.contains("deletionVector")
        val cols = Seq(s"$kind.path as p") ++
          (if (hasDv) Seq(s"$kind.deletionVector.storageType as dst",
            s"$kind.deletionVector.pathOrInlineDv as dp")
          else Seq("cast(null as string) as dst",
            "cast(null as string) as dp"))
        Some(ckf.where(s"$kind is not null").selectExpr(cols: _*))
      }
    }
    if (frames.isEmpty) return spark.emptyDataset[String]
    frames.reduce(_ unionByName _).mapPartitions { it =>
      val root = new Path(rootQualified)
      it.flatMap { r =>
        val file =
          if (r.isNullAt(0)) Nil
          else Seq(DeltaTable.normPath(
            DeltaLog.resolvePath(root, r.getString(0))))
        val dv =
          if (r.isNullAt(1) || r.isNullAt(2)) Nil
          else DvDescriptor(r.getString(1), r.getString(2), None, 0, 0L)
            .absolutePath(root)
            .map(p => DeltaTable.normPath(p.toString)).toSeq
        file ++ dv
      }
    }
  }
}
