package graft.index

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Index lifecycle manager: create / delete / restore / vacuum / refresh /
 * optimize / list (reference: Hyperspace.scala:27-193 +
 * index/IndexCollectionManager.scala + the actions package).
 *
 * Action FSM (reference actions/Action.scala:49-105): each mutation writes
 * `<in-flight state>` at log id N+1, runs the op, then writes the stable
 * state at N+2. Log writes are create-if-absent, so concurrent writers
 * race on the id and the loser throws.
 */
final class IndexManager(spark: SparkSession) {

  import graft.telemetry._

  /** Telemetry: every action emits its typed event AFTER the final
    * stable-state log write succeeds — the audit trail records what
    * HAPPENED, never an intent a concurrent-writer race rolled back
    * (reference: telemetry/HyperspaceEvent.scala:49-148). */
  private def emit(event: => GraftEvent): Unit =
    GraftEventLogging.emit(spark)(event)
  private def app: AppInfo = GraftEventLogging.appInfo(spark)

  /** Resolve (and thereby validate) the configured event logger BEFORE
    * any durable state change: a misconfigured logger class must fail
    * the action up front — not after the final stable-state log write,
    * where the caller would see an exception for an action that in fact
    * committed (and a retry would then hit a confusing state error). */
  private def preflightLogger(): Unit = GraftEventLogging.loggerFor(spark)

  private def hadoopConf = spark.sessionState.newHadoopConf()

  def indexRoot(name: String): Path =
    new Path(GraftConf.systemPath(spark), name)

  def logManager(name: String): IndexLogManager =
    new IndexLogManager(indexRoot(name), hadoopConf)

  private def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private def dataVersionPath(name: String, v: Int): Path =
    new Path(indexRoot(name), s"v__$v")

  /** Recursively list the data files under a version dir, skipping
    * hidden files AND files under hidden dirs (`_SUCCESS`, the IVF
    * codebook sidecar — its part files must never enter content, or
    * they'd be unioned into the index data read, nor be reaped by vacuum
    * as stale data). */
  private def dataFiles(dir: Path): Seq[FileStatus] = {
    val f = fs(dir)
    if (!f.exists(dir)) return Nil
    def hidden(p: Path): Boolean =
      p != null && p.toUri.getPath != dir.toUri.getPath &&
        (p.getName.startsWith("_") || p.getName.startsWith(".") ||
          hidden(p.getParent))
    val it = f.listFiles(dir, /*recursive=*/ true)
    val buf = Seq.newBuilder[FileStatus]
    while (it.hasNext) {
      val s = it.next()
      if (!hidden(s.getPath)) buf += s
    }
    buf.result()
  }

  private def listDataFiles(dir: Path, tracker: FileIdTracker): Seq[FileMeta] =
    dataFiles(dir).map(s => FileMeta(s,
      tracker.addOrGet(s.getPath.toString, s.getLen, s.getModificationTime)))

  // ------------------------------------------------------------- create

  def create(df: DataFrame, config: IndexConfig): IndexLogEntry =
    GraftRuleGuard.withRuleDisabled {
      preflightLogger()
      val name = config.indexName
      val log = logManager(name)
      log.getLatestStableLog.foreach { e =>
        require(e.state != IndexState.Active,
          s"Index '$name' already exists (state=${e.state}); delete it first")
      }
      val baseId = log.getLatestId.getOrElse(-1L)
      val tracker = new FileIdTracker
      val relations = SourceRelation.captureAll(df, tracker)
      val descriptor = config.toDescriptor(df)

      val creating = IndexLogEntry(name, descriptor,
        ContentMeta(dataVersionPath(name, nextVersion(name)).toString, Nil),
        relations, IndexState.Creating, baseId + 1, System.currentTimeMillis())
      require(log.writeLog(baseId + 1, creating),
        s"Concurrent modification of index '$name' (log id ${baseId + 1})")

      val active = newVersion(creating, tracker)(ctx =>
          (descriptor.build(ctx, df), Nil))
        .copy(state = IndexState.Active, id = baseId + 2,
          timestamp = System.currentTimeMillis())
      require(log.writeLog(baseId + 2, active),
        s"Concurrent modification of index '$name' (log id ${baseId + 2})")
      rules.IndexCatalog.invalidate(spark)
      emit(CreateActionEvent(app, config, Some(active),
        df.queryExecution.analyzed.toString, s"Index '$name' created."))
      active
    }

  private def nextVersion(name: String): Int = {
    val root = indexRoot(name)
    val f = fs(root)
    if (!f.exists(root)) return 0
    val existing = f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v__")).map(_.stripPrefix("v__").toInt)
    if (existing.isEmpty) 0 else existing.max + 1
  }

  /** A new data version of `latest`: `write` writes into a fresh `v__N`
    * dir and returns the new descriptor and the old index files content
    * keeps beside the files written. */
  private def newVersion(latest: IndexLogEntry, tracker: FileIdTracker)(
      write: IndexBuildContext => (IndexDescriptor, Seq[FileMeta])): IndexLogEntry = {
    val version = nextVersion(latest.name)
    val dataPath = dataVersionPath(latest.name, version)
    val (descriptor, kept) = write(IndexBuildContext(spark, dataPath.toString, tracker))
    latest.copy(descriptor = descriptor,
      content = ContentMeta(dataPath.toString, kept ++ listDataFiles(dataPath, tracker)),
      properties = latest.properties + ("dataVersion" -> version.toString))
  }

  // -------------------------------------------------- state transitions

  /** Run one action on the latest stable entry. `plan` sees that entry
    * BEFORE anything is written and returns the op to run, or None when
    * there is nothing to do: then no log entry is written and the
    * catalog cache stays warm (reference: the NoChangesException no-op
    * of actions/Action.scala). Returns the final entry and whether the
    * action wrote it. */
  private def transitionIf(name: String, from: Set[String],
      inFlight: String, to: String)(
      plan: IndexLogEntry => Option[() => IndexLogEntry]): (IndexLogEntry, Boolean) =
    GraftRuleGuard.withRuleDisabled {
      preflightLogger()
      val log = logManager(name)
      val latest = log.getLatestStableLog.getOrElse(
        throw new NoSuchElementException(s"Index '$name' does not exist"))
      require(from.contains(latest.state),
        s"Index '$name' is ${latest.state}; expected one of $from")
      plan(latest) match {
        case None => (latest, false)
        case Some(op) =>
          val baseId = log.getLatestId.getOrElse(-1L)
          require(log.writeLog(baseId + 1,
            latest.copy(state = inFlight, id = baseId + 1,
              timestamp = System.currentTimeMillis())),
            s"Concurrent modification of index '$name'")
          val fin = op().copy(state = to, id = baseId + 2,
            timestamp = System.currentTimeMillis())
          require(log.writeLog(baseId + 2, fin),
            s"Concurrent modification of index '$name'")
          rules.IndexCatalog.invalidate(spark)
          (fin, true)
      }
    }

  private def transition(name: String, from: Set[String],
      inFlight: String, to: String)(
      op: IndexLogEntry => IndexLogEntry): IndexLogEntry =
    transitionIf(name, from, inFlight, to)(latest => Some(() => op(latest)))._1

  /** Cancel an in-flight action: roll the log forward to the last stable
    * state (reference: Hyperspace.scala:149 + actions/CancelAction). Used
    * to recover an index stuck in CREATING/REFRESHING/... after a crashed
    * job. */
  def cancel(name: String): Unit = {
    preflightLogger()
    val log = logManager(name)
    val latestId = log.getLatestId.getOrElse(
      throw new NoSuchElementException(s"Index '$name' does not exist"))
    val latest = log.getLog(latestId).get
    if (IndexState.stable.contains(latest.state)) return // nothing in flight
    val restored = log.getLatestStableLog
      .map(_.copy(id = latestId + 1, timestamp = System.currentTimeMillis()))
      .getOrElse(latest.copy(state = IndexState.DoesNotExist,
        id = latestId + 1, timestamp = System.currentTimeMillis()))
    require(log.writeLog(latestId + 1, restored),
      s"Concurrent modification of index '$name'")
    rules.IndexCatalog.invalidate(spark)
    emit(CancelActionEvent(app, restored,
      s"In-flight action on index '$name' canceled " +
        s"(rolled back to ${restored.state})."))
  }

  /** Soft delete: data stays, optimizer ignores the index. */
  def delete(name: String): Unit = {
    val fin = transition(name, Set(IndexState.Active), IndexState.Deleting,
      IndexState.Deleted)(identity)
    emit(DeleteActionEvent(app, fin, s"Index '$name' soft-deleted."))
  }

  /** Undo a soft delete. */
  def restore(name: String): Unit = {
    val fin = transition(name, Set(IndexState.Deleted), IndexState.Restoring,
      IndexState.Active)(identity)
    emit(RestoreActionEvent(app, fin, s"Index '$name' restored."))
  }

  /** Hard delete of a soft-deleted index (removes all files + log), or —
    * when ACTIVE — removes outdated data versions only. */
  def vacuum(name: String): Unit = {
    preflightLogger()
    val log = logManager(name)
    val latest = log.getLatestStableLog.getOrElse(
      throw new NoSuchElementException(s"Index '$name' does not exist"))
    val root = indexRoot(name)
    if (latest.state == IndexState.Deleted) {
      fs(root).delete(root, true)
      emit(VacuumActionEvent(app, latest, s"Index '$name' vacuumed."))
    } else if (latest.state == IndexState.Active) {
      // Content can span version dirs after a quick optimize, and a
      // compacted-away small file stays physically in its (still
      // referenced) old dir — so cleanup is FILE-granular and RECURSIVE
      // (IVF data nests under cell-partition subdirs): drop every data
      // file not in content, then any v__ dir with no data files left.
      val referencedFiles = latest.content.filePaths.toSet
      val currentRoot = new Path(latest.content.root).getName
      val protectedDirs = latest.descriptor.protectedDirs
      val f = fs(root)
      f.listStatus(root).toSeq
        .filter(_.getPath.getName.startsWith("v__"))
        .foreach { dir =>
          val (kept, stale) = dataFiles(dir.getPath).map(_.getPath)
            .partition(p => referencedFiles.contains(p.toString))
          stale.foreach(p => f.delete(p, false))
          if (kept.isEmpty && dir.getPath.getName != currentRoot &&
              !protectedDirs.contains(dir.getPath.getName))
            f.delete(dir.getPath, true)
        }
      emit(VacuumOutdatedActionEvent(app, latest,
        s"Outdated data versions of index '$name' vacuumed."))
    }
  }

  /** Full refresh: rebuild index data from the current source files. */
  def refreshFull(name: String): Unit = {
    val fin = transition(name, Set(IndexState.Active), IndexState.Refreshing,
      IndexState.Active) { latest =>
      val tracker = new FileIdTracker
      latest.sourceFiles.foreach(tracker.addKnown)
      val source = readSource(latest)
      val relations = SourceRelation.captureAll(source, tracker)
      newVersion(latest, tracker)(ctx => (latest.descriptor.build(ctx, source), Nil))
        .copy(relations = relations, update = None)
    }
    emit(RefreshActionEvent(app, fin, s"Index '$name' refreshed (full)."))
  }

  /** Quick refresh: METADATA-ONLY capture of the source delta (reference:
    * actions/RefreshQuickAction.scala:37-80). No index data is touched;
    * the appended/deleted file sets are recorded in the log entry so that
    * (a) query-time hybrid scan keeps applying them, and (b) the
    * staleness thresholds re-baseline — only drift accumulated AFTER this
    * point counts against maxAppendedRatio/maxDeletedRatio. O(file
    * listing) — the cheapest way to keep an index usable under steady
    * append traffic at 100 TB. An empty delta on an entry with no
    * recorded update writes no log entry. */
  def refreshQuick(name: String): Unit = {
    val (fin, changed) = transitionIf(name, Set(IndexState.Active),
        IndexState.Refreshing, IndexState.Active) { latest =>
      val delta = sourceDelta(latest)
      // an empty delta CLEARS any stale recorded update (drift that nets
      // to zero must not wedge consumers that refuse stale deltas)
      if (delta.isEmpty) clearUpdate(latest)
      else Some(() => latest.copy(
        update = Some(UpdateMeta(delta.appended, delta.deleted))))
    }
    emit(RefreshQuickActionEvent(app, fin,
      if (changed) s"Index '$name' refreshed (quick, metadata-only)."
      else unchanged(name)))
  }

  /** The op of a refresh whose listed delta is empty: clear a recorded
    * update, or nothing at all. */
  private def clearUpdate(latest: IndexLogEntry): Option[() => IndexLogEntry] =
    latest.update.map(_ => () => latest.copy(update = None))

  private def unchanged(name: String): String =
    s"Index '$name' unchanged: no source files appended or deleted."

  /** Incremental refresh: fold appended files into the index and drop
    * rows from deleted files — without touching unchanged source data
    * (reference: actions/RefreshIncrementalAction.scala:52-128). This
    * action diffs the source listing and writes the log; each kind's
    * [[IndexDescriptor.refreshIncremental]] writes the data:
    *  - covering and data-skipping MERGE on append-only drift (only the
    *    appended slice is written; old files stay in content verbatim)
    *    and rewrite under deletes (old rows of surviving files + appended
    *    rows — the reference's Merge-vs-Delete mode split,
    *    CoveringIndexTrait.scala:58-77);
    *  - IVF and MinHash merge the appended slice and tombstone deleted
    *    files, reading no old index data;
    *  - z-order rebuilds from the current source (clustering is global).
    * Lake sources with live row-level deletes, and deletes a kind cannot
    * drop ([[IndexDescriptor.canHandleDeletedFiles]]), are refused before
    * anything is written. An empty delta on an entry with no recorded
    * update writes no log entry. */
  def refreshIncremental(name: String): Unit = {
    val (fin, changed) = transitionIf(name, Set(IndexState.Active),
        IndexState.Refreshing, IndexState.Active) { latest =>
      val delta = sourceDelta(latest)
      val SourceDelta(tracker, source, currentRels, appended, deleted) = delta
      // a lake snapshot with live row-level deletes drops rows its files
      // still hold: no file-level delta describes that
      if (!delta.isEmpty &&
          SourceRelation.collectLeaves(source).exists(_.liveDeletes)) {
        throw new UnsupportedOperationException(
          s"incremental refresh of '$name': the source lake table " +
            s"${currentRels.flatMap(_.rootPaths).mkString(", ")} carries " +
            "live row-level deletes (deletion vectors or delete files), " +
            "which an index cannot fold in incrementally. Run " +
            "LakeTable.compact on the table first, or " +
            s"refreshIndex(\"$name\", \"full\").")
      }
      require(deleted.isEmpty || latest.descriptor.canHandleDeletedFiles,
        s"incremental refresh of '$name' with deleted source files " +
          "requires lineage (spark.graft.index.lineage.enabled=true at create)")
      if (delta.isEmpty) clearUpdate(latest)
      else Some { () =>
        // explicit file list: content may span version dirs after a quick
        // optimize or a prior merge-mode refresh, and root alone would
        // miss the kept files
        val in = new RefreshInput(
          if (appended.isEmpty) None
          else Some(readFiles(latest, appended.map(_.path))),
          deleted.map(_.id),
          IndexData.parquet(spark, latest.descriptor.schemaJson,
            latest.content.filePaths),
          source, latest.content.files)
        newVersion(latest, tracker)(latest.descriptor.refreshIncremental(_, in))
          .copy(relations = currentRels, update = None)
      }
    }
    emit(RefreshIncrementalActionEvent(app, fin,
      if (changed) s"Index '$name' refreshed (incremental)."
      else unchanged(name)))
  }

  /** Compact index data files (reference: actions/OptimizeAction.scala:57-148
    * — bucket-wise small-file compaction, quick/full modes).
    *
    *  - "quick" (default): rewrite only files smaller than
    *    `spark.graft.index.optimize.fileSizeThreshold` (256 MB), and only
    *    in groups that hold at least two of them — one small file has
    *    nothing to merge with. A covering index groups by bucket id, IVF
    *    by cell; data-skipping, z-order and MinHash are one group each.
    *    Files at or above the threshold and lone small files stay in
    *    place, so maintenance cost is O(small files) — at 100 TB the
    *    difference between a routine job and a full index rebuild. The
    *    resulting content spans version dirs; every reader goes through
    *    `content.filePaths`. An IVF or MinHash index that carries
    *    tombstones rewrites every small file, so they can be purged.
    *  - "full": rewrite everything. Covering: rewrite bucketed (one file
    *    per bucket). Data-skipping: rewrite size-targeted. Z-order:
    *    re-cluster (global clustering — a qualifying quick group
    *    re-clusters the whole index too).
    *
    * Each kind's [[IndexDescriptor.quickCompaction]] picks the files and
    * its [[IndexDescriptor.compact]] rewrites them. When nothing
    * qualifies, no log entry is written; the event still
    * fires and says there was nothing to compact. */
  def optimize(name: String, mode: String = "quick"): Unit = {
    require(mode == "quick" || mode == "full", s"Unknown optimize mode '$mode'")
    val (fin, changed) = transitionIf(name, Set(IndexState.Active),
        IndexState.Optimizing, IndexState.Active) { latest =>
      val files = latest.content.files
      val rewrite =
        if (mode == "full") files.toSet
        else {
          val threshold = GraftConf.optimizeFileSizeThreshold(spark)
          latest.descriptor.quickCompaction(files, files.filter(_.size < threshold))
        }
      val (small, kept) = files.partition(rewrite.contains)
      if (small.isEmpty) None
      else Some { () =>
        val tracker = new FileIdTracker
        latest.sourceFiles.foreach(tracker.addKnown)
        newVersion(latest, tracker) { ctx =>
          (latest.descriptor.compact(ctx, ContentMeta(latest.content.root, small),
            IndexData.parquet(spark, latest.descriptor.schemaJson, small.map(_.path)),
            keptAny = kept.nonEmpty), kept)
        }
      }
    }
    emit(OptimizeActionEvent(app, fin,
      if (changed) s"Index '$name' optimized ($mode)."
      else s"Index '$name' optimized ($mode): nothing to compact."))
  }

  /** Diff CURRENT source files against the logged snapshot:
    * (appended, deleted). Driver-side file listing only — used by readers
    * with no hybrid path (annSearch) to refuse silently-stale results. */
  def sourceDrift(entry: IndexLogEntry): (Seq[FileMeta], Seq[FileMeta]) = {
    val delta = sourceDelta(entry)
    (delta.appended, delta.deleted)
  }

  private def sourceDelta(entry: IndexLogEntry): SourceDelta = {
    val tracker = new FileIdTracker
    entry.sourceFiles.foreach(tracker.addKnown)
    val source = readSource(entry)
    val relations = SourceRelation.captureAll(source, tracker)
    val current = relations.flatMap(_.files)
    def key(f: FileMeta) = (f.path, f.size, f.modifiedTime)
    val loggedKeys = entry.sourceFiles.map(key)
    val currentKeys = current.map(key).toSet
    SourceDelta(tracker, source, relations,
      current.filterNot(f => loggedKeys.contains(key(f))),
      entry.sourceFiles.toSeq.filterNot(f => currentKeys.contains(key(f))))
  }

  /** Reconstruct the source DataFrame from logged relation metadata
    * (reference: actions/RefreshActionBase.scala:54-130). A Delta
    * relation re-reads through the log replay so refresh and drift
    * checks see the table's CURRENT snapshot, not a stale file list. */
  def readSource(entry: IndexLogEntry): DataFrame = {
    val r = entry.relations.head
    if (r.format == "delta")
      return graft.index.sources.DeltaTable.read(spark, r.rootPaths.head)
    if (r.format == "iceberg" &&
        graft.index.sources.IcebergMeta.isIcebergTable(spark, r.rootPaths.head))
      return graft.index.sources.IcebergTable.read(spark, r.rootPaths.head)
    reader(r).format(r.format).load(r.rootPaths: _*)
  }

  /** A reader of a logged relation: its schema and options. */
  private def reader(r: RelationMeta) = spark.read
    .schema(DataType.fromJson(r.schemaJson).asInstanceOf[StructType])
    .options(r.options.filter { case (k, _) => k.toLowerCase != "path" })

  /** Read a specific subset of a logged relation's files.
    *
    * Partition-column VALUES live in the directory layout, not the
    * parquet footers — loading bare file paths would fill them with NULL
    * (and a merge-mode refresh would then write those NULLs into the
    * index). Files are grouped under the logged root that contains them
    * and each group is read with that root as `basePath`, mirroring the
    * query-time appended leg (ScanSubstitution.appendedLeg). */
  private[graft] def readFiles(entry: IndexLogEntry, paths: Seq[String]): DataFrame = {
    val r = entry.relations.head
    // table formats store plain parquet data files; reading a specific
    // file subset bypasses their log (same mapping as the query-time
    // appended leg, ScanSubstitution.appendedLeg)
    val readFormat = r.format match {
      case "delta" | "iceberg" => "parquet"
      case f => f
    }
    SourcePaths.groupByRoot(r.rootPaths, paths)
      .map { case (base, files) =>
        reader(r).format(readFormat).option("basePath", base).load(files: _*)
      }
      .reduce(_.unionByName(_))
  }

  // ------------------------------------------------------------ listing

  def getIndexes(states: Set[String] = Set(IndexState.Active)): Seq[IndexLogEntry] = {
    val sysPath = new Path(GraftConf.systemPath(spark))
    val f = fs(sysPath)
    if (!f.exists(sysPath)) return Nil
    f.listStatus(sysPath).toSeq.filter(_.isDirectory).flatMap { d =>
      logManager(d.getPath.getName).getLatestStableLog
    }.filter(e => states.contains(e.state))
  }

  /** User-facing catalog view of all indexes. */
  def indexes: DataFrame = {
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("kind", StringType),
      StructField("indexedColumns", ArrayType(StringType)),
      StructField("referencedColumns", ArrayType(StringType)),
      StructField("numIndexFiles", IntegerType),
      StructField("indexSizeBytes", LongType),
      StructField("state", StringType),
      StructField("indexLocation", StringType)))
    val rows = getIndexes(IndexState.stable + IndexState.Creating).map { e =>
      Row(e.name, e.descriptor.kind, e.descriptor.indexedColumns,
        e.descriptor.referencedColumns, e.content.files.size,
        e.content.totalSize, e.state, e.content.root)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }
}

/** The current source listing of an index against its logged snapshot.
  * `tracker` knows the logged file ids and assigns new ids to appended
  * files. */
private final case class SourceDelta(tracker: FileIdTracker,
    source: DataFrame, relations: Seq[RelationMeta],
    appended: Seq[FileMeta], deleted: Seq[FileMeta]) {
  def isEmpty: Boolean = appended.isEmpty && deleted.isEmpty
}

/** Thread-local guard so maintenance jobs never trigger the optimizer rule
  * on themselves (reference: ApplyHyperspace.scala:43-47,68-75). */
object GraftRuleGuard {
  private val disabled = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  def isDisabled: Boolean = disabled.get()
  def withRuleDisabled[T](body: => T): T = {
    val prev = disabled.get()
    disabled.set(true)
    try body finally disabled.set(prev)
  }
}
