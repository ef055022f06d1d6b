package graft.index

import org.apache.hadoop.fs.{FileSystem, Path}
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

  /** Is `p` (or any ancestor strictly below `root`) hidden — i.e. a
    * marker/sidecar like `_SUCCESS` or `_graft_codebook/part-...`? */
  private def isHiddenUnder(p: Path, root: Path): Boolean = {
    var cur = p
    while (cur != null && cur.toUri.getPath != root.toUri.getPath) {
      val n = cur.getName
      if (n.startsWith("_") || n.startsWith(".")) return true
      cur = cur.getParent
    }
    false
  }

  /** Recursively list data files under a version dir, skipping hidden
    * files AND files under hidden dirs (e.g. the IVF codebook sidecar —
    * its part files must never enter content or they'd be unioned into
    * the index data read). */
  private def listDataFiles(dir: Path, tracker: FileIdTracker): Seq[FileMeta] = {
    val f = fs(dir)
    if (!f.exists(dir)) return Nil
    val it = f.listFiles(dir, /*recursive=*/ true)
    val buf = Seq.newBuilder[FileMeta]
    while (it.hasNext) {
      val s = it.next()
      if (!isHiddenUnder(s.getPath, dir)) {
        val id = tracker.addOrGet(s.getPath.toString, s.getLen, s.getModificationTime)
        buf += FileMeta(s.getPath.toString, s.getLen, s.getModificationTime, id)
      }
    }
    buf.result()
  }

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

      val version = nextVersion(name)
      val dataPath = dataVersionPath(name, version)
      val creating = IndexLogEntry(name, descriptor,
        ContentMeta(dataPath.toString, Nil), relations,
        IndexState.Creating, baseId + 1, System.currentTimeMillis())
      require(log.writeLog(baseId + 1, creating),
        s"Concurrent modification of index '$name' (log id ${baseId + 1})")

      val ctx = IndexBuildContext(spark, dataPath.toString, tracker)
      val built = descriptor.build(ctx, df)
      val content = ContentMeta(dataPath.toString, listDataFiles(dataPath, tracker))
      val active = creating.copy(descriptor = built, content = content,
        state = IndexState.Active, id = baseId + 2,
        timestamp = System.currentTimeMillis(),
        properties = Map("dataVersion" -> version.toString))
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
      // a live codebook sidecar can outlive its version dir's data files
      // (frozen codebook + later compaction moved all data elsewhere):
      // its host dir must never be reaped while the descriptor points at it
      val protectedDirs: Set[String] = latest.descriptor match {
        case iv: graft.index.ivf.IvfIndexDescriptor =>
          iv.centroidsPath.map(p => new Path(p).getParent.getName).toSet
        case _ => Set.empty
      }
      val f = fs(root)
      // hidden-dir descendants (codebook sidecar parts) are NOT data
      // files: treating them as stale would delete a live codebook
      def dataFiles(dir: Path): Seq[Path] = {
        val it = f.listFiles(dir, /*recursive=*/ true)
        val buf = Seq.newBuilder[Path]
        while (it.hasNext) {
          val s = it.next()
          if (!isHiddenUnder(s.getPath, dir)) buf += s.getPath
        }
        buf.result()
      }
      f.listStatus(root).toSeq
        .filter(_.getPath.getName.startsWith("v__"))
        .foreach { dir =>
          val (kept, stale) = dataFiles(dir.getPath)
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
      val version = nextVersion(name)
      val dataPath = dataVersionPath(name, version)
      val ctx = IndexBuildContext(spark, dataPath.toString, tracker)
      val built = latest.descriptor.build(ctx, source)
      latest.copy(descriptor = built,
        content = ContentMeta(dataPath.toString, listDataFiles(dataPath, tracker)),
        relations = relations, update = None,
        properties = latest.properties + ("dataVersion" -> version.toString))
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
    * (reference: actions/RefreshIncrementalAction.scala:52-128,
    * index/covering/CoveringIndexTrait.scala:57-106,
    * index/dataskipping/DataSkippingIndex.scala:79-110).
    *
    * Cost shape at scale — this is the maintenance path that must stay
    * O(appended), not O(index):
    *  - append-only drift (the steady-state case) runs in MERGE mode:
    *    only the appended-files index slice is written to the new version
    *    dir and the old index data files are kept in content verbatim —
    *    reads appended source only, writes O(appended). Covering rows
    *    re-hash to the same bucket ids (same keys, same numBuckets), so
    *    kept and new files of one bucket coexist under the claimed
    *    HashPartitioning; small-file accumulation is `optimize`'s job.
    *  - deletes (compaction churn) fall back to filter-and-rewrite via
    *    lineage — the reference makes the same Merge-vs-rewrite split
    *    (CoveringIndexTrait.scala:58-77 Merge mode vs Delete mode).
    *
    * An empty delta on an entry with no recorded update writes no log
    * entry. */
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
      if (delta.isEmpty) clearUpdate(latest)
      else Some { () =>
        val version = nextVersion(name)
        val dataPath = dataVersionPath(name, version)
        val ctx = IndexBuildContext(spark, dataPath.toString, tracker)
        // explicit file list: content may span version dirs after a quick
        // optimize or a prior merge-mode refresh, and root alone would
        // miss the kept files
        // lazy: only the delete/rewrite branches ever read old index data
        lazy val oldData = IndexData.parquet(spark,
          latest.descriptor.schemaJson, latest.content.filePaths)
        val deletedIds = deleted.map(_.id)

        // (descriptor, kept old index files) — merge-mode branches keep
        // the old files in content; rewrite branches keep none
        val (newDescriptor, keptFiles) = latest.descriptor match {
          case ci: covering.CoveringIndexDescriptor if deleted.isEmpty =>
            // MERGE mode: index only the appended slice; old files untouched
            val appendedDf = readFiles(latest, appended.map(_.path))
            covering.CoveringIndexDescriptor.writeBucketed(
              spark, covering.CoveringIndexDescriptor.project(ctx, appendedDf, ci),
              ctx.dataPath, ci.numBuckets, ci.indexedColumns)
            (ci, latest.content.files)
          case ci: covering.CoveringIndexDescriptor =>
            require(ci.hasLineage,
              s"incremental refresh of '$name' with deleted source files " +
                "requires lineage (spark.graft.index.lineage.enabled=true at create)")
            val keep = oldData.filter(!org.apache.spark.sql.functions
              .col(covering.CoveringIndexDescriptor.LineageColumn)
              .isin(deletedIds: _*))
            val cols = ci.allIndexColumns.map(org.apache.spark.sql.functions.col)
            val merged =
              if (appended.isEmpty) keep.select(cols: _*)
              else {
                val appendedDf = readFiles(latest, appended.map(_.path))
                keep.select(cols: _*).unionByName(
                  covering.CoveringIndexDescriptor.project(ctx, appendedDf, ci)
                    .select(cols: _*))
              }
            covering.CoveringIndexDescriptor.writeBucketed(
              spark, merged, ctx.dataPath, ci.numBuckets, ci.indexedColumns)
            (ci, Nil)
          case ds: dataskipping.DataSkippingIndexDescriptor if deleted.isEmpty =>
            // MERGE mode: sketch rows are per-source-file, so the appended
            // files' rows are simply additional rows in a new file
            (dataskipping.DataSkippingBuild.write(ctx,
              dataskipping.DataSkippingBuild.sketchRows(
                ctx, readFiles(latest, appended.map(_.path)), ds), ds),
              latest.content.files)
          case ds: dataskipping.DataSkippingIndexDescriptor =>
            val fileIdCol = org.apache.spark.sql.functions
              .col(dataskipping.Sketches.FileIdColumn)
            val keep = oldData.filter(!fileIdCol.isin(deletedIds: _*))
            val merged =
              if (appended.isEmpty) keep
              else keep.unionByName(dataskipping.DataSkippingBuild
                .sketchRows(ctx, readFiles(latest, appended.map(_.path)), ds))
            (dataskipping.DataSkippingBuild.write(ctx, merged, ds), Nil)
          case iv: graft.index.ivf.IvfIndexDescriptor =>
            // MERGE mode both ways: appended files are assigned with the
            // FROZEN codebook (no retrain — codebook drift is gradual and
            // a full refresh re-trains) and only their cell files are
            // written; deleted files become TOMBSTONES (their lineage ids
            // anti-filtered at search time) — no index data is read or
            // rewritten for a delete. `optimize` compacts tombstones away.
            val merged =
              if (appended.isEmpty) iv
              else graft.index.ivf.IvfBuild.appendIncremental(
                ctx, readFiles(latest, appended.map(_.path)), iv)
            (merged.copy(
              tombstones = (merged.tombstones ++ deletedIds).distinct),
              latest.content.files)
          case mh: graft.index.minhash.MinHashIndexDescriptor =>
            // MERGE mode both ways, same contract as IVF: appended docs
            // are signed and written as new files only; deleted files
            // become lineage tombstones — no index data read or rewritten
            if (appended.nonEmpty)
              graft.index.minhash.MinHashBuild.appendIncremental(
                ctx, readFiles(latest, appended.map(_.path)), mh)
            (mh.copy(tombstones = (mh.tombstones ++ deletedIds).distinct),
              latest.content.files)
          case other =>
            // z-order clustering is global: incremental == full rebuild
            (other.build(ctx, source), Nil)
        }
        latest.copy(descriptor = newDescriptor,
          content = ContentMeta(ctx.dataPath,
            keptFiles ++ listDataFiles(dataPath, tracker)),
          relations = currentRels, update = None,
          properties = latest.properties + ("dataVersion" -> version.toString))
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
    * When nothing qualifies, no log entry is written; the event still
    * fires and says there was nothing to compact. */
  def optimize(name: String, mode: String = "quick"): Unit = {
    require(mode == "quick" || mode == "full", s"Unknown optimize mode '$mode'")
    val (fin, changed) = transitionIf(name, Set(IndexState.Active),
        IndexState.Optimizing, IndexState.Active) { latest =>
      val (small, kept) = compactionSet(latest, mode)
      if (small.isEmpty) None
      else Some { () =>
        val tracker = new FileIdTracker
        latest.sourceFiles.foreach(tracker.addKnown)
        val version = nextVersion(name)
        val dataPath = dataVersionPath(name, version)
        val ctx = IndexBuildContext(spark, dataPath.toString, tracker)
        lazy val compactInput = IndexData.parquet(spark,
          latest.descriptor.schemaJson, small.map(_.path))
        val newDescriptor = latest.descriptor match {
          case ci: covering.CoveringIndexDescriptor =>
            // rows re-hash to their original bucket ids (same key columns,
            // same numBuckets), so compacted files merge per bucket and
            // coexist with untouched files of the same bucket
            covering.CoveringIndexDescriptor.writeBucketed(
              spark, compactInput, ctx.dataPath, ci.numBuckets, ci.indexedColumns)
            ci
          case ds: dataskipping.DataSkippingIndexDescriptor =>
            dataskipping.DataSkippingBuild.write(ctx, compactInput, ds)
          case iv: graft.index.ivf.IvfIndexDescriptor =>
            // cells are independent: small cell files (merge-refresh
            // accumulation) compact per cell with the CODEBOOK UNTOUCHED —
            // no retrain, cost O(small files). Tombstoned rows are
            // physically dropped from the rewritten slice; the tombstone
            // list clears only when NOTHING was kept (kept files may
            // still hold dead rows the search filter must keep masking).
            // Retraining belongs to refreshIndex("full").
            graft.index.ivf.IvfBuild.compactCells(
              ctx, ContentMeta(latest.content.root, small), iv)
            if (kept.isEmpty) iv.copy(tombstones = Nil) else iv
          case mh: graft.index.minhash.MinHashIndexDescriptor =>
            // signature rows are independent: plain small-file rewrite,
            // tombstoned rows dropped from the rewritten slice; the list
            // clears only when nothing was kept (same contract as IVF)
            graft.index.minhash.MinHashBuild.compact(
              ctx, ContentMeta(latest.content.root, small), mh)
            if (kept.isEmpty) mh.copy(tombstones = Nil) else mh
          case zo: zorder.ZOrderIndexDescriptor =>
            // re-cluster the index's OWN rows, lineage included: the
            // source may have drifted or lost files since the logged
            // snapshot, and folding drift in here would leave relations
            // stale (hybrid scan would then union appended rows twice)
            zorder.ZOrderBuild.recluster(ctx, compactInput, zo)
        }
        latest.copy(descriptor = newDescriptor,
          content = ContentMeta(ctx.dataPath,
            kept ++ listDataFiles(dataPath, tracker)),
          properties = latest.properties + ("dataVersion" -> version.toString))
      }
    }
    emit(OptimizeActionEvent(app, fin,
      if (changed) s"Index '$name' optimized ($mode)."
      else s"Index '$name' optimized ($mode): nothing to compact."))
  }

  /** Split the index files into (files to rewrite, files kept in place)
    * by the group rule of [[optimize]]. */
  private def compactionSet(entry: IndexLogEntry, mode: String)
      : (Seq[FileMeta], Seq[FileMeta]) = {
    val files = entry.content.files
    if (mode == "full") return (files, Nil)
    val threshold = GraftConf.optimizeFileSizeThreshold(spark)
    val small = files.filter(_.size < threshold)
    val rewrite: Set[FileMeta] = entry.descriptor match {
      case iv: graft.index.ivf.IvfIndexDescriptor if iv.tombstones.nonEmpty =>
        small.toSet
      case mh: graft.index.minhash.MinHashIndexDescriptor
          if mh.tombstones.nonEmpty =>
        small.toSet
      case _: zorder.ZOrderIndexDescriptor =>
        // global clustering: a qualifying group re-clusters every file —
        // mixing kept files with a re-clustered slice would break it
        if (small.size >= 2) files.toSet else Set.empty
      case d =>
        val groupOf: FileMeta => String = d match {
          case _: covering.CoveringIndexDescriptor => f =>
            org.apache.spark.sql.execution.datasources.BucketingUtils
              .getBucketId(new Path(f.path).getName).fold("")(_.toString)
          case _: graft.index.ivf.IvfIndexDescriptor => f =>
            new Path(f.path).getParent.getName // graft__cell=<c>
          case _ => _ => ""
        }
        small.groupBy(groupOf).values.filter(_.size >= 2).flatten.toSet
    }
    files.partition(rewrite.contains)
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
    spark.read
      .schema(DataType.fromJson(r.schemaJson).asInstanceOf[StructType])
      .format(r.format)
      .options(r.options.filter { case (k, _) => k.toLowerCase != "path" })
      .load(r.rootPaths: _*)
  }

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
    def readGroup(base: String, files: Seq[String]): DataFrame =
      spark.read
        .schema(DataType.fromJson(r.schemaJson).asInstanceOf[StructType])
        .format(readFormat)
        .options(r.options.filter { case (k, _) => k.toLowerCase != "path" } +
          ("basePath" -> base))
        .load(files: _*)
    SourcePaths.groupByRoot(r.rootPaths, paths)
      .map { case (base, files) => readGroup(base, files) }
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
