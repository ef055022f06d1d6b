package graft.index.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Parallel filesystem machinery for the maintenance sweeps (VACUUM /
 * remove-orphans, both lake formats). At a 100 TB table — millions of
 * files across thousands of partition directories — a single-threaded
 * recursive `listStatus` walk plus one-at-a-time deletes turns
 * maintenance into hours of serial filesystem RPC; delta-spark's VACUUM
 * distributes its listing and parallelizes deletes for exactly this
 * reason (the reference has no maintenance surface at all — its indexes
 * delegate table upkeep to the connector jars).
 *
 * Two bounded pools (the [[GroupJobs]] shape — Spark's own FileSystem
 * clients are thread-safe for list/delete):
 *  - the LISTING walks the tree level-synchronously, all directories of
 *    a level listed concurrently (`spark.graft.maintenance.listThreads`,
 *    default 8) — a hive-partitioned table fans out at depth 1, so the
 *    walk parallelizes exactly where the fan-out is;
 *  - the DELETES run in batches across
 *    `spark.graft.maintenance.deleteThreads` workers (default 8).
 *
 * Directory pruning is deliberately conservative (the race a blanket
 * "delete any empty directory seen" invites: an in-flight writer's
 * freshly created staging dir, or a foreign tool's just-mkdir'd
 * partition dir, is empty and young): a directory is pruned ONLY when
 * this sweep itself deleted its last file (tracked bottom-up from the
 * deleted paths), never merely because it was found empty.
 */
object FsSweep {

  /** Max concurrent listStatus calls during the tree walk. */
  val ListThreadsKey = "spark.graft.maintenance.listThreads"

  /** Max concurrent delete workers. */
  val DeleteThreadsKey = "spark.graft.maintenance.deleteThreads"

  /** Checkpoint-bytes threshold past which the Delta orphan sweep swaps
    * its driver membership set for a distributed anti-join (the
    * referenced-file frame stays a DataFrame; candidates join against
    * it instead of probing an O(files) driver set). */
  val AntiJoinBytesKey = "spark.graft.maintenance.antiJoinBytes"

  /** Directory-count threshold at which one LEVEL of the walk escalates
    * from the driver pool to a Spark job. */
  val DistributedListDirsKey = "spark.graft.maintenance.distributedListDirs"

  /** Job description stamped on distributed listing jobs (and matched by
    * the listener-observed spec leg). */
  val DistributedListJobDescription =
    "graft maintenance: distributed directory listing"

  def listThreads(spark: SparkSession): Int = math.max(1,
    spark.conf.getOption(ListThreadsKey).map(_.toInt).getOrElse(8))

  def deleteThreads(spark: SparkSession): Int = math.max(1,
    spark.conf.getOption(DeleteThreadsKey).map(_.toInt).getOrElse(8))

  /** Default 128 MB of checkpoint parquet — past this the driver set
    * would hold tens of millions of path strings. */
  def antiJoinBytes(spark: SparkSession): Long =
    spark.conf.getOption(AntiJoinBytesKey).map(_.toLong)
      .getOrElse(128L * 1024 * 1024)

  /** Default 10k directories in one level: below, a driver pool of 8 is
    * a handful of RPC round-trip batches and beats a job's scheduling
    * overhead; past it (a widely hive-partitioned 100 TB table fans out
    * at depth 1) the pool is RPC-bound where executors can list the
    * whole level in one wave — delta-spark's VACUUM makes the same
    * driver-vs-cluster split on the same order of magnitude. */
  def distributedListDirs(spark: SparkSession): Int = math.max(2,
    spark.conf.getOption(DistributedListDirsKey).map(_.toInt)
      .getOrElse(10000))

  /** Test seam: invoked on the worker thread as each delete batch
    * starts, with the batch index — a 2-party barrier here proves two
    * delete workers run at once. Production never sets it. */
  @volatile private[graft] var beforeDeleteBatch: Int => Unit = _ => ()

  /** Test seam for the walk: invoked per concurrently-listed directory.
    */
  @volatile private[graft] var beforeListDir: Int => Unit = _ => ()

  /**
   * Parallel tree walk. `descend(dirStatus, ctx)` returns `Some(childCtx)`
   * to recurse into a directory (the context its children inherit) or
   * `None` to skip the subtree. Returns every FILE visited with its
   * branch context. Level-synchronous BFS: each level's directories are
   * listed concurrently on the bounded pool.
   */
  def walk[C](spark: SparkSession, fs: FileSystem, root: Path, rootCtx: C)(
      descend: (FileStatus, C) => Option[C]): Seq[(FileStatus, C)] = {
    val files = mutable.Buffer.empty[(FileStatus, C)]
    val distThreshold = distributedListDirs(spark)
    var frontier: Seq[(Path, C)] = Seq((root, rootCtx))
    while (frontier.nonEmpty) {
      // escalation hatch: a level that fans out past the threshold is
      // listed by a Spark job — executors absorb the RPC wave, only the
      // child metadata comes back; `descend` always runs on the driver,
      // so callers' closures never need to be serializable
      val listed =
        if (frontier.size >= distThreshold)
          listLevelDistributed(spark, frontier)
        else mapPool(listThreads(spark), frontier, beforeListDir) {
          case (dir, ctx) =>
            (if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil)
              .map(st => (st, ctx))
        }
      val next = mutable.Buffer.empty[(Path, C)]
      listed.iterator.flatten.foreach { case (st, ctx) =>
        if (st.isDirectory) descend(st, ctx)
          .foreach(c2 => next += ((st.getPath, c2)))
        else files += ((st, ctx))
      }
      frontier = next.toSeq
    }
    files.toSeq
  }

  /** Prefix of every writer staging directory (`<root>/.graft-*`). */
  val StagingPrefix = ".graft-"

  /** A data-tree name: not `_`-prefixed (a lake log, `_change_data`,
    * Spark's markers) nor `.`-prefixed (staging, checksums, foreign
    * tools' dirs). */
  def plain(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /**
   * THE orphan sweep — Delta VACUUM and remove-orphans, Iceberg
   * removeOrphanFiles; each caller supplies only its rule for which files
   * no retained state references.
   *  - WALK `root` on the bounded pool, descending into the directories
   *    `descend` admits by name and into root-level `.graft-*` writer
   *    staging directories.
   *  - AGE GATE: a file is a candidate only when `age(file) < cutoff`
   *    (default its mtime; VACUUM keys off the remove tombstone).
   *    `orphans` then keeps the candidates nothing references — a batch
   *    call, so a caller can test membership as a distributed join.
   *  - STALE STAGING: a staging directory older than `cutoff` whose
   *    every file is too is a crashed writer's leftover and goes whole;
   *    a younger one (an in-flight writer's) stays untouched.
   *  - Unless `dryRun`: delete the orphans across the delete pool, prune
   *    the [[plain]] directories this sweep emptied, then remove the
   *    stale staging directories.
   * Returns the orphan files and the stale staging directories.
   */
  def sweep(spark: SparkSession, fs: FileSystem, root: Path, cutoff: Long,
      dryRun: Boolean, age: FileStatus => Long = _.getModificationTime)(
      descend: String => Boolean)(
      orphans: Seq[FileStatus] => Seq[FileStatus]): Seq[Path] = {
    // ctx: (depth below root, the staging directory a file sits in)
    val stages = mutable.Buffer.empty[FileStatus]
    val listed = walk(spark, fs, root, (0, Option.empty[FileStatus])) {
      case (st, (depth, stage)) =>
        val n = st.getPath.getName
        if (stage.isDefined) Some((depth + 1, stage))
        else if (depth == 0 && n.startsWith(StagingPrefix)) {
          stages += st
          Some((1, Some(st)))
        } else if (descend(n)) Some((depth + 1, None))
        else None
    }
    val (staged, tree) = listed.partition(_._2._2.isDefined)
    val youngStages = staged.collect {
      case (st, (_, Some(stage))) if st.getModificationTime >= cutoff =>
        stage.getPath
    }.toSet
    val staleStages = stages.filter(st => st.getModificationTime < cutoff &&
      !youngStages.contains(st.getPath)).map(_.getPath).toSeq
    val doomed = orphans(tree.map(_._1).filter(age(_) < cutoff)).map(_.getPath)
    if (!dryRun) {
      deleteFiles(spark, fs, doomed)
      // prune ONLY the directories this sweep emptied — a blanket
      // empty-dir delete would race an in-flight writer's fresh dirs
      pruneEmptiedDirs(fs, root, doomed)
      staleStages.foreach(fs.delete(_, true))
    }
    doomed ++ staleStages
  }

  /** One walk level as a Spark job: the directory list parallelizes to
    * executors, each lists its slice and ships back (path, isDir, len,
    * mtime) tuples — the fields every sweep decision (age gates,
    * orphan candidacy, recursion) actually reads. Output shape matches
    * the pool branch: one child list per frontier entry, in order. */
  private def listLevelDistributed[C](spark: SparkSession,
      frontier: Seq[(Path, C)]): Seq[Seq[(FileStatus, C)]] = {
    val sc = spark.sparkContext
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val dirs = frontier.map(_._1.toString)
    val slices = math.min(dirs.size, math.max(1, sc.defaultParallelism) * 4)
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(DistributedListJobDescription)
    val byDir: Map[String, Array[(String, Boolean, Long, Long)]] =
      try {
        sc.parallelize(dirs, slices).map { d =>
          val p = new Path(d)
          val dirFs = p.getFileSystem(serConf.value)
          val children =
            if (dirFs.exists(p)) dirFs.listStatus(p).map(st =>
              (st.getPath.toString, st.isDirectory, st.getLen,
                st.getModificationTime))
            else Array.empty[(String, Boolean, Long, Long)]
          (d, children)
        }.collect().toMap
      } finally sc.setJobDescription(prevDesc)
    frontier.map { case (dir, ctx) =>
      byDir.getOrElse(dir.toString, Array.empty).toSeq.map {
        case (pathStr, isDir, len, mtime) =>
          (new FileStatus(len, isDir, 0, 0, mtime, new Path(pathStr)), ctx)
      }
    }
  }

  /** Delete `paths` (files) across the bounded delete pool, in batches
    * so a million-file sweep doesn't submit a million tasks. */
  def deleteFiles(spark: SparkSession, fs: FileSystem,
      paths: Seq[Path]): Unit = {
    if (paths.isEmpty) return
    val threads = deleteThreads(spark)
    val batchCount = math.min(math.max(1, threads * 4),
      math.max(1, paths.size))
    val batchSize = math.ceil(paths.size.toDouble / batchCount).toInt
    val batches = paths.grouped(batchSize).toSeq
    mapPool(threads, batches, beforeDeleteBatch) { batch =>
      batch.foreach(p => fs.delete(p, false))
      ()
    }
    ()
  }

  /**
   * Prune directories this sweep EMPTIED: starting from the deleted
   * files' parents, deepest first, delete a directory iff it is now
   * empty and its name is [[plain]] (the log, `_change_data`, staging
   * and foreign dot-dirs stay); a pruned directory promotes its own
   * parent to candidacy. `root` itself is never pruned.
   * Pre-existing empty directories (which the sweep deleted nothing
   * from) are never touched — an in-flight writer's fresh staging dir
   * stays.
   */
  private def pruneEmptiedDirs(fs: FileSystem, root: Path,
      deleted: Seq[Path]): Unit = {
    val rootUri = fs.makeQualified(root).toUri
    def depth(p: Path): Int = {
      var d = 0; var cur = p
      while (cur != null) { d += 1; cur = cur.getParent }
      d
    }
    def underRoot(p: Path): Boolean = {
      val u = fs.makeQualified(p).toUri
      u != rootUri && u.getPath.startsWith(rootUri.getPath + "/")
    }
    // deepest-first queue; a pruned dir enqueues its parent
    val queue = mutable.PriorityQueue.empty[(Int, String)](
      Ordering.by(_._1)) // max-heap on depth
    val seen = mutable.Set.empty[String]
    def offer(p: Path): Unit = {
      val q = fs.makeQualified(p)
      if (underRoot(q) && seen.add(q.toString)) queue.enqueue((depth(q), q.toString))
    }
    deleted.foreach(p => Option(p.getParent).foreach(offer))
    while (queue.nonEmpty) {
      val (_, dirStr) = queue.dequeue()
      val dir = new Path(dirStr)
      if (plain(dir.getName) && fs.exists(dir) &&
          fs.listStatus(dir).isEmpty) {
        fs.delete(dir, false)
        Option(dir.getParent).foreach(offer)
      }
    }
  }

  /** Bounded-pool map preserving input order; single item or single
    * thread runs inline (same contract as [[GroupJobs.mapConcurrently]],
    * parameterized by thread count and seam). */
  private def mapPool[A, B](threads: Int, items: Seq[A],
      seam: Int => Unit)(fn: A => B): Seq[B] = {
    val n = math.min(threads, items.size)
    if (items.size <= 1 || n <= 1) {
      items.zipWithIndex.map { case (a, i) => seam(i); fn(a) }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n,
        new java.util.concurrent.ThreadFactory {
          private val seq = new java.util.concurrent.atomic.AtomicInteger()
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-sweep-${seq.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        })
      try {
        val futures = items.zipWithIndex.map { case (a, i) =>
          pool.submit(new java.util.concurrent.Callable[B] {
            override def call(): B = { seam(i); fn(a) }
          })
        }
        val results = new Array[Any](items.size)
        var firstFailure: Option[Throwable] = None
        futures.zipWithIndex.foreach { case (f, i) =>
          try results(i) = f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure.isEmpty) {
                firstFailure = Some(Option(e.getCause).getOrElse(e))
                futures.foreach(_.cancel(true))
              }
            case scala.util.control.NonFatal(e) =>
              if (firstFailure.isEmpty) {
                firstFailure = Some(e)
                futures.foreach(_.cancel(true))
              }
          }
        }
        firstFailure.foreach(throw _)
        results.toSeq.asInstanceOf[Seq[B]]
      } finally {
        pool.shutdownNow()
        pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
  }
}
