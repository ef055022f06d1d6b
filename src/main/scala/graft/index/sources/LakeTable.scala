package graft.index.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * The COMMIT FENCE itself: create-no-overwrite of the next log /
 * metadata version. Hadoop's local filesystem implements
 * `create(path, overwrite = false)` as a NON-ATOMIC exists-check then
 * create, so two threads racing in one JVM can both pass — and Spark
 * table commits happen on the driver, one JVM, so a JVM-wide mutex
 * around the check+create closes exactly the gap that matters. On
 * HDFS-like stores create-no-overwrite is atomic server-side and the
 * mutex is redundant but harmless (commits are rare, the lock is
 * held for a metadata create only).
 */
private[sources] object CommitFence {
  private val lock = new Object
  def create(fs: org.apache.hadoop.fs.FileSystem,
      path: Path): org.apache.hadoop.fs.FSDataOutputStream =
    lock.synchronized {
      if (fs.exists(path)) {
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"commit fence: $path already exists (a racing writer won)")
      }
      fs.create(path, false)
    }
}

/**
 * Bounded AUTO-RETRY for optimistic-concurrency losers: the commit
 * fence (create-no-overwrite of the next log/metadata version) throws
 * when a racing writer won; the loser has already cleaned up its staged
 * files, so the correct retry is simply to RE-RUN the verb — each
 * attempt reads a fresh snapshot, recomputing matched rows against the
 * winner's state (the strictest conflict resolution: full re-execution,
 * what a caller would do by hand). Only fence collisions retry;
 * validation and IO errors propagate on the first throw.
 */
private[sources] object CommitRetry {
  val DefaultAttempts = 3

  def isFenceCollision(e: Throwable): Boolean = e match {
    case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
    case _: java.nio.file.FileAlreadyExistsException => true
    case _: java.io.FileNotFoundException => false // "does not exist"!
    case io: java.io.IOException =>
      // a remote FS may surface the fence as a plain IOException; match
      // the ALREADY-exists wording only (never "does not exist")
      Option(io.getMessage).exists(_.toLowerCase.contains("already exists"))
    case _ => false
  }

  def apply[T](attempts: Int = DefaultAttempts)(body: => T): T = {
    var n = 0
    while (true) {
      try return body
      catch {
        case e: Throwable if n < attempts - 1 && isFenceCollision(e) =>
          n += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Shared MERGE vocabulary for both lakehouse legs. */
object LakeMerge {
  /** Reserved boolean column a PRE-FLAGGED merge source may carry
    * instead of a `deleteCondition` — rows where it holds are delete
    * markers. The streaming CDC-apply sink uses this to classify rows
    * from `_change_type` BEFORE the stamps are dropped (the merge
    * source schema must match the table exactly). */
  val DeleteMarker = "__graft_delete"
}

/** The change-feed stamps both formats append to each change row:
  * `_change_type`, the commit-id column (`_commit_version` on Delta,
  * `_commit_snapshot_id` on Iceberg — which clock keys the feed) and
  * `_commit_timestamp`. */
private[sources] object ChangeStamps {
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

  val ChangeType = "_change_type"
  val DeltaId = "_commit_version"
  val IcebergId = "_commit_snapshot_id"
  val Timestamp = "_commit_timestamp"

  def columns(idColumn: String): Seq[String] =
    Seq(ChangeType, idColumn, Timestamp)

  def schema(base: StructType, idColumn: String): StructType =
    StructType(base.fields ++ Seq(StructField(ChangeType, StringType),
      StructField(idColumn, LongType), StructField(Timestamp, TimestampType)))

  /** An empty, well-typed feed over the `base` data columns. */
  def empty(spark: SparkSession, base: StructType,
      idColumn: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema(base, idColumn))

  /** `df`'s rows as changes of type `changeType` made by commit `id` at
    * `tsMs`. */
  def stamp(df: DataFrame, changeType: Column, idColumn: String, id: Long,
      tsMs: Long): DataFrame = df
    .withColumn(ChangeType, changeType)
    .withColumn(idColumn, lit(id))
    .withColumn(Timestamp, lit(new java.sql.Timestamp(tsMs)))
}

/**
 * Format-dispatching facade over the two jarless lakehouse sources: one
 * entry point that detects whether a path is a DELTA or ICEBERG table
 * and routes to the matching implementation, so pipeline code written
 * against it is table-format-agnostic — the practical shape of a
 * migration between formats (or a mixed estate) at 100 TB, where the
 * calling job should not care which log format a dataset landed in.
 *
 * The per-format modules ([[DeltaTable]], [[IcebergTable]]) stay the
 * richer, format-specific surface; this facade covers the operations
 * with a clean common meaning. Format-specific column names are
 * preserved (`_commit_version` vs `_commit_snapshot_id` in [[changes]])
 * — papering over them would hide which clock the feed is keyed by.
 * The format-independent steps of the row-level DML verbs
 * ([[deleteWhere]], [[update]], [[merge]]) — txn replay check,
 * matched-position scan, SET checks, merge-source validation — live in
 * [[LakeDml]], which both formats call. Those of the maintenance verbs
 * live once too: compaction planning ([[optimize]]'s `WHERE` scoping
 * and bin-pack) in [[LakeMaint]], z-order clustering in
 * [[graft.index.zorder.ZOrderBuild.clustered]], the orphan sweep
 * ([[cleanup]] on Delta, [[removeOrphans]]) in [[FsSweep.sweep]], and
 * [[history]] / [[readTimestampAsOf]] over each format's one commit
 * timeline ([[historyOf]], [[idAsOf]]). Both change feeds stamp their
 * rows through [[ChangeStamps]], and the streaming connector
 * ([[LakeStreamSource]], [[LakeStreamSink]], the batch reader/writer)
 * is written once over a per-format [[LakeFeed]].
 */
object LakeTable {

  /** Whether the directory is a recognized lake table of either format
    * (the non-throwing probe [[formatOf]] wraps). */
  def isLakeTable(spark: SparkSession, path: String): Boolean =
    DeltaLog.isDeltaTable(spark, path) ||
      IcebergMeta.isIcebergTable(spark, path)

  /** "delta" | "iceberg" — loud error for anything else. */
  def formatOf(spark: SparkSession, path: String): String =
    if (DeltaLog.isDeltaTable(spark, path)) "delta"
    else if (IcebergMeta.isIcebergTable(spark, path)) "iceberg"
    else throw new IllegalArgumentException(
      s"$path is neither a Delta table (_delta_log) nor an Iceberg table " +
        "(metadata/*.metadata.json)")

  /** Snapshot read at the head version. */
  def read(spark: SparkSession, path: String): DataFrame =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.read(spark, path)
      case _ => IcebergTable.read(spark, path)
    }

  /** TIME TRAVEL — `asOf` is a Delta version or an Iceberg snapshot id,
    * whichever the table's format keys history by. */
  def readAsOf(spark: SparkSession, path: String, asOf: Long): DataFrame =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.read(spark, path, versionAsOf = Some(asOf))
      case _ => IcebergTable.read(spark, path, snapshotAsOf = Some(asOf))
    }

  /** `TIMESTAMP AS OF` time travel — latest version/snapshot committed
    * at or before `tsMillis` on the clock [[history]] shows
    * ([[idAsOf]]). */
  def readTimestampAsOf(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.readTimestampAsOf(spark, path, tsMillis)
      case _ => IcebergTable.readTimestampAsOf(spark, path, tsMillis)
    }

  /** HISTORY from a format's commit timeline (`commits`: id, timestamp
    * millis, operation — [[DeltaTable.commits]] /
    * [[IcebergTable.commits]]), newest first. `idColumn` keeps each
    * format's name for its id (`version` / `snapshot_id`). */
  private[sources] def historyOf(spark: SparkSession,
      commits: Seq[(Long, Long, String)], idColumn: String): DataFrame = {
    import spark.implicits._
    commits.sortBy(-_._1).map { case (id, ts, op) =>
      (id, new java.sql.Timestamp(ts), op)
    }.toDF(idColumn, "timestamp", "operation")
  }

  /** The id `TIMESTAMP AS OF tsMillis` reads: the latest commit at or
    * before it (greatest timestamp, then id), so every history row's
    * timestamp reads back that row's id. Refuses a timestamp before the
    * first commit. */
  private[sources] def idAsOf(commits: Seq[(Long, Long, String)],
      tsMillis: Long, path: String): Long = {
    val eligible = commits.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"timestampAsOf $tsMillis precedes the first commit " +
        s"(${commits.map(_._2).minOption.getOrElse("none")}) at $path")
    eligible.maxBy(c => (c._2, c._1))._1
  }

  /** The first commit at or after `tsMillis` (the streaming
    * `startingTimestamp` contract); past the last commit, latest + 1 —
    * serve only future commits. */
  private[sources] def firstIdAtOrAfter(commits: Seq[(Long, Long, String)],
      tsMillis: Long): Long =
    commits.filter(_._2 >= tsMillis).map(_._1).minOption
      .getOrElse(commits.map(_._1).max + 1)

  /** Append / INSERT OVERWRITE, format-agnostic (the SQL INSERT path).
    * SQL INSERT semantics: the query's columns bind to the table's
    * POSITIONALLY (cast + rename; arity mismatch refuses), and an
    * OVERWRITE replaces the DATA while keeping the table's layout —
    * a Delta overwrite re-creates under the table's own partition
    * columns (Iceberg's spec is fixed at create already). */
  def append(spark: SparkSession, path: String, df: DataFrame,
      overwrite: Boolean = false, branch: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.col
    val fmt = formatOf(spark, path)
    val tableSchema = fmt match {
      case "delta" => DeltaLog.snapshot(spark, path).schema
      case _ => IcebergMeta.snapshot(spark, path).schema
    }
    require(df.schema.length == tableSchema.length,
      s"INSERT into $path: the query produces ${df.schema.length} " +
        s"column${if (df.schema.length == 1) "" else "s"} but the table " +
        s"has ${tableSchema.length} (${tableSchema.fieldNames.mkString(", ")})")
    // ANSI store-assignment gate: a column-order mistake (string
    // feeding a numeric slot, …) must refuse at bind time, not silently
    // write NULLs through a lax cast
    df.schema.fields.zip(tableSchema.fields).foreach { case (src, dst) =>
      require(org.apache.spark.sql.catalyst.expressions.Cast
        .canANSIStoreAssign(src.dataType, dst.dataType),
        s"INSERT into $path: query column '${src.name}' " +
          s"(${src.dataType.simpleString}) cannot bind to table column " +
          s"'${dst.name}' (${dst.dataType.simpleString}) under ANSI " +
          "store-assignment rules — the INSERT binds POSITIONALLY; " +
          "reorder or cast the query's columns explicitly")
    }
    // the aligned projection must cast ANSI too: the gate above admits
    // narrowing pairs (bigint→int) whose out-of-range values a lax cast
    // would silently null/wrap — runtime semantics must match the
    // bind-time promise
    val aligned = df.select(df.schema.fields.zip(tableSchema.fields).map {
      case (src, dst) =>
        org.apache.spark.sql.classic.GraftBridge.column(
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.classic.GraftBridge.expression(
              col(s"`${src.name}`")),
            dst.dataType, None,
            org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI))
          .as(dst.name)
    }.toSeq: _*)
    branch.filterNot(_ == "main").foreach { b =>
      require(fmt == "iceberg",
        s"INSERT into $path@$b: branch writes (write-audit-publish) " +
          s"are an Iceberg feature; this is a $fmt table")
      require(!overwrite,
        s"INSERT OVERWRITE cannot target branch '$b': publish the " +
          "branch (fast-forward) before replacing data")
      return IcebergTable.append(aligned, path, branch = Some(b))
    }
    fmt match {
      case "delta" =>
        if (overwrite) DeltaTable.create(aligned, path,
          partitionBy = DeltaLog.snapshot(spark, path).partitionColumns)
        else DeltaTable.append(aligned, path)
      case _ =>
        if (overwrite) IcebergTable.overwrite(aligned, path)
        else IcebergTable.append(aligned, path)
    }
  }

  /** Read the snapshot a BRANCH or TAG pins (Iceberg refs; `main` is
    * the live table). The SQL route is `VERSION AS OF '<refname>'`. */
  def readRef(spark: SparkSession, path: String, name: String): DataFrame =
    formatOf(spark, path) match {
      case "iceberg" => IcebergTable.readRef(spark, path, name)
      case other => throw new UnsupportedOperationException(
        s"VERSION AS OF '$name' on $path: named refs (branches/tags) " +
          s"are an Iceberg feature; this is a $other table " +
          "(Delta time travel is numeric versions or timestamps)")
    }

  /** Commit history, newest first: (version-or-snapshot id, timestamp,
    * operation). */
  def history(spark: SparkSession, path: String): DataFrame =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.history(spark, path)
      case _ => IcebergTable.history(spark, path)
    }

  /** ZERO-COPY CLONE: a metadata-only copy of `source` at `target`
    * referencing the source's files by absolute path (Delta SHALLOW
    * CLONE / the Iceberg `snapshot` procedure shape). `asOf` clones a
    * historic Delta version / Iceberg snapshot id. */
  def clone(spark: SparkSession, source: String, target: String,
      asOf: Option[Long] = None): Long =
    formatOf(spark, source) match {
      case "delta" => DeltaTable.clone(spark, source, target, asOf)
      case _ => IcebergTable.cloneFrom(spark, source, target, asOf)
    }

  /** One-row `DESCRIBE DETAIL`: format, current id, file/byte counts,
    * partition spec, properties, protocol ([[LakeInspect.detail]]). */
  def detail(spark: SparkSession, path: String): DataFrame =
    LakeInspect.detail(spark, path)

  /** Metadata tables — `"files"`, `"delete_files"`, `"partitions"`,
    * `"manifests"` ([[LakeInspect]]): driver-side metadata already held
    * by snapshot replay, O(files) rows at most, never a data scan. */
  def inspect(spark: SparkSession, path: String, table: String): DataFrame =
    table match {
      case "files" => LakeInspect.files(spark, path)
      case "delete_files" => LakeInspect.deleteFiles(spark, path)
      case "partitions" => LakeInspect.partitions(spark, path)
      case "manifests" => LakeInspect.manifests(spark, path)
      case other => throw new IllegalArgumentException(
        s"unknown inspection table '$other' " +
          "(files, delete_files, partitions, manifests)")
    }

  /** INCREMENTAL CHANGES after `fromId` (exclusive): Delta routes to the
    * change data feed (all change types when CDF is enabled), Iceberg to
    * the CHANGELOG scan (appends, merge upserts, positional- and
    * equality-delete victims). Both stamp `_change_type` and
    * `_commit_timestamp`. */
  def changes(spark: SparkSession, path: String, fromId: Long): DataFrame =
    formatOf(spark, path) match {
      case "delta" =>
        // the normal no-new-changes poll (fromId == head) must return an
        // empty feed, not trip the range check
        val snap = DeltaLog.snapshot(spark, path)
        if (fromId >= snap.version)
          ChangeStamps.empty(spark, snap.schema, ChangeStamps.DeltaId)
        else DeltaTable.changes(spark, path, fromId + 1)
      case _ => IcebergTable.incrementalChanges(spark, path, fromId)
    }

  /** MERGE — the CDC upsert verb, format-agnostic: source rows keyed by
    * `keys` replace matched target rows and insert unmatched ones; rows
    * where `deleteCondition` holds are delete markers. One commit in
    * both formats: Delta DV-deletes matched rows and appends the new
    * versions (CDF records delete / update pre+post / insert); Iceberg
    * commits an equality-delete file plus the upsert data files (the
    * changelog replays delete + insert). */
  def merge(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String], deleteCondition: Option[Column] = None): Long =
    formatOf(spark, path) match {
      case "delta" =>
        DeltaTable.merge(spark, path, source, keys, deleteCondition)
      case _ =>
        IcebergTable.merge(spark, path, source, keys, deleteCondition)
    }

  /** Row-level UPDATE — rows matching `condition` are replaced by
    * versions with `set`'s expressions applied (evaluated on the old
    * row), one merge-on-read commit in both formats: Delta DV-deletes
    * the matched positions (CDF records update pre/post pairs), Iceberg
    * publishes a positional delete plus the rewritten rows in one
    * `overwrite` snapshot (the changelog replays delete + insert). */
  def update(spark: SparkSession, path: String, condition: Column,
      set: Map[String, Column]): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.update(spark, path, condition, set)
      case _ => IcebergTable.update(spark, path, condition, set)
    }

  /** Row-level DELETE, merge-on-read in both formats (Delta deletion
    * vectors / Iceberg positional delete files). */
  def deleteWhere(spark: SparkSession, path: String, cond: Column): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.deleteWhere(spark, path, cond)
      case _ => IcebergTable.deleteWhere(spark, path, cond)
    }

  /** MERGE-ON-READ COMPACTION: fold accumulated delete state into fresh
    * data files (Delta REORG PURGE / Iceberg rewriteDataFiles). */
  def compact(spark: SparkSession, path: String): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.purge(spark, path)
      case _ => IcebergTable.compact(spark, path)
    }

  /** SMALL-FILE OPTIMIZE: bin-pack under-sized data files toward the
    * target (Delta OPTIMIZE / Iceberg rewriteDataFiles binpack) —
    * row-transparent in both formats. `where` scopes the rewrite to
    * matching partitions (OPTIMIZE ... WHERE / rewriteDataFiles
    * filter): at 100 TB you optimize the hot partition, not the
    * table. */
  def optimize(spark: SparkSession, path: String,
      targetSizeBytes: Long = 128L << 20,
      zorderBy: Seq[String] = Nil,
      where: Option[org.apache.spark.sql.Column] = None): Long =
    formatOf(spark, path) match {
      case "delta" =>
        DeltaTable.optimizeCompact(spark, path, targetSizeBytes, zorderBy,
          where)
      case _ if zorderBy.nonEmpty =>
        IcebergTable.compactSort(spark, path, zorderBy, targetSizeBytes,
          where)
      case _ => IcebergTable.compactSmall(spark, path, targetSizeBytes, where)
    }

  /** UNDO: restore a Delta table to a version / roll an Iceberg table
    * back to a retained ancestor snapshot. */
  def undoTo(spark: SparkSession, path: String, id: Long): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.restore(spark, path, id)
      case _ => IcebergTable.rollback(spark, path, id)
    }

  /** `ALTER TABLE ... ALTER COLUMN ... TYPE` — the spec-safe widenings
    * of each format (Delta `typeWidening` chains / Iceberg primitive
    * promotions). Metadata-only in both: old files keep their narrower
    * physical types and scans upcast. */
  def widenColumn(spark: SparkSession, path: String, column: String,
      to: org.apache.spark.sql.types.DataType): Long =
    formatOf(spark, path) match {
      case "delta" =>
        DeltaTable.widenColumnTypes(spark, path, Map(column -> to))
      case _ => IcebergTable.promoteColumnType(spark, path, column, to)
    }

  private def requireIceberg(spark: SparkSession, path: String,
      what: String): Unit = {
    val fmt = formatOf(spark, path)
    if (fmt != "iceberg") throw new UnsupportedOperationException(
      s"$what on $path: branches/tags are an Iceberg feature; this is " +
        s"a $fmt table")
  }

  /** `ALTER TABLE ... CREATE BRANCH|TAG name [AS OF VERSION n]` —
    * Iceberg refs ([[IcebergTable.createRef]]). (Kept at this exact
    * arity: the python wrapper calls it positionally over py4j.) */
  def createRef(spark: SparkSession, path: String, name: String,
      refType: String, at: Option[Long] = None): Long =
    createRefFull(spark, path, name, refType, at, orReplace = false,
      None, None, None)

  /** The full SQL form: `CREATE [OR REPLACE] BRANCH|TAG name
    * [AS OF VERSION n] [RETAIN n DAYS] [WITH SNAPSHOT RETENTION
    * k SNAPSHOTS | n DAYS | k SNAPSHOTS n DAYS]`. */
  def createRefFull(spark: SparkSession, path: String, name: String,
      refType: String, at: Option[Long], orReplace: Boolean,
      maxRefAgeMs: Option[Long], minSnapshotsToKeep: Option[Int],
      maxSnapshotAgeMs: Option[Long]): Long = {
    requireIceberg(spark, path, s"CREATE ${refType.toUpperCase}")
    IcebergTable.createRef(spark, path, name, refType, at, orReplace,
      maxRefAgeMs, minSnapshotsToKeep, maxSnapshotAgeMs)
  }

  /** py4j-friendly overload: a python int crosses the bridge as a boxed
    * Integer, which cannot unbox into Option[Long] — take the primitive
    * (py4j widens python ints to `long` params) and wrap here. */
  def createRefAt(spark: SparkSession, path: String, name: String,
      refType: String, at: Long): Long =
    createRef(spark, path, name, refType, Some(at))

  /** `ALTER TABLE ... DROP BRANCH|TAG [IF EXISTS] name` — refuses a
    * type mismatch (DROP BRANCH on a tag) and, without IF EXISTS, an
    * unknown name — the Iceberg SQL contract. */
  def dropRef(spark: SparkSession, path: String, name: String,
      refType: String, ifExists: Boolean): Unit = {
    requireIceberg(spark, path, s"DROP ${refType.toUpperCase}")
    IcebergMeta.snapshot(spark, path).refs.get(name) match {
      case Some(r) =>
        require(r.refType == refType,
          s"DROP ${refType.toUpperCase} $name on $path: '$name' is a " +
            s"${r.refType} — use DROP ${r.refType.toUpperCase}")
        IcebergTable.dropRef(spark, path, name)
      case None =>
        require(ifExists,
          s"DROP ${refType.toUpperCase} $name on $path: no such " +
            s"$refType (add IF EXISTS to tolerate)")
    }
  }

  /** `ALTER TABLE ... FAST FORWARD branch` — the WAP publish:
    * repoint main at an audited branch head
    * ([[IcebergTable.fastForward]]). */
  def fastForward(spark: SparkSession, path: String,
      branch: String): Long = {
    requireIceberg(spark, path, "FAST FORWARD")
    IcebergTable.fastForward(spark, path, branch)
  }

  /** `ALTER TABLE ... ADD COLUMN name type` — metadata-only schema
    * append on both formats: existing files lack the column and scans
    * yield null; no data rewrite. */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Long =
    addColumns(spark, path, Seq(Seq(name) -> dataType))

  /** `ALTER TABLE ... ADD COLUMNS (a INT, b.c STRING, ...)` — the
    * multi-column / nested-target form, ONE metadata commit on either
    * format. */
  def addColumns(spark: SparkSession, path: String,
      cols: Seq[(Seq[String], org.apache.spark.sql.types.DataType)]): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.addColumns(spark, path, cols)
      case _ => IcebergTable.addColumns(spark, path, cols)
    }

  /** `ALTER TABLE ... RENAME COLUMN old TO new` — logical rename
    * (Delta column mapping, enabled on demand / Iceberg field ids);
    * data files untouched. */
  def renameColumn(spark: SparkSession, path: String,
      oldName: String, newName: String): Long =
    renameColumnAt(spark, path, Seq(oldName), newName)

  /** Nested-target rename (`a.b.c TO new`), either format. */
  def renameColumnAt(spark: SparkSession, path: String,
      oldPath: Seq[String], newName: String): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.renameColumnAt(spark, path, oldPath, newName)
      case _ => IcebergTable.renameColumnAt(spark, path, oldPath, newName)
    }

  /** `ALTER TABLE ... DROP COLUMN name` — logical removal; physical
    * data stays in old files and is never read again. */
  def dropColumn(spark: SparkSession, path: String, name: String): Long =
    dropColumnAt(spark, path, Seq(name))

  /** Nested-target drop (`a.b.c`), either format. */
  def dropColumnAt(spark: SparkSession, path: String,
      colPath: Seq[String]): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.dropColumnAt(spark, path, colPath)
      case _ => IcebergTable.dropColumnAt(spark, path, colPath)
    }

  /** `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)` — Delta-only
    * (Iceberg has no table-level CHECK constraints in its spec). */
  def addConstraint(spark: SparkSession, path: String, name: String,
      exprSql: String): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.addCheckConstraint(spark, path, name, exprSql)
      case other => throw new UnsupportedOperationException(
        s"ADD CONSTRAINT on $path: CHECK constraints are a Delta table " +
          s"feature; this is an $other table")
    }

  /** `ALTER TABLE ... DROP CONSTRAINT name` — Delta-only. */
  def dropConstraint(spark: SparkSession, path: String,
      name: String): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.dropConstraint(spark, path, name)
      case other => throw new UnsupportedOperationException(
        s"DROP CONSTRAINT on $path: CHECK constraints are a Delta table " +
          s"feature; this is an $other table")
    }

  /** `ALTER TABLE ... SYNC IDENTITY` — Delta-only (identity columns
    * are a Delta table feature). */
  def syncIdentity(spark: SparkSession, path: String): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.syncIdentity(spark, path)
      case other => throw new UnsupportedOperationException(
        s"SYNC IDENTITY on $path: identity columns are a Delta table " +
          s"feature; this is an $other table")
    }

  /** `ALTER TABLE ... CLUSTER BY (...)` / `CLUSTER BY NONE` — Delta
    * liquid clustering (Iceberg declares sort order through
    * compactSort instead). */
  def clusterBy(spark: SparkSession, path: String,
      columns: Seq[String]): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.clusterBy(spark, path, columns)
      case other => throw new UnsupportedOperationException(
        s"CLUSTER BY on $path: liquid clustering is a Delta table " +
          s"feature; this is an $other table (use compactSort to " +
          "sort-compact an Iceberg table)")
    }

  /** Storage cleanup: delete files no retained version references —
    * Delta VACUUM (age-gated) / Iceberg expireSnapshots (history-gated).
    * Returns the removed paths. */
  def cleanup(spark: SparkSession, path: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Seq[String] =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.vacuum(spark, path, retentionMs)
      case _ => IcebergTable.expireSnapshots(spark, path, keepLast = 1,
        olderThanMs = Some(System.currentTimeMillis() - retentionMs))
    }

  /** `ALTER TABLE … SET TBLPROPERTIES` — merge `props` into the
    * table's configuration, per format
    * ([[DeltaTable.setTableProperties]] / [[IcebergTable.setProperties]];
    * both refuse feature keys their dedicated verbs manage). Returns
    * the commit's version / metadata version. */
  def setProperties(spark: SparkSession, path: String,
      props: Map[String, String]): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.setTableProperties(spark, path, props)
      case _ => IcebergTable.setProperties(spark, path, props)
    }

  /** `SHOW TBLPROPERTIES` — the table's configuration map (Delta
    * `metaData.configuration` / Iceberg `properties`). */
  def properties(spark: SparkSession, path: String): Map[String, String] =
    formatOf(spark, path) match {
      case "delta" => DeltaLog.snapshot(spark, path).configuration
      case _ => IcebergMeta.snapshot(spark, path).properties
    }

  /** `ALTER TABLE … UNSET TBLPROPERTIES` — remove configuration keys. */
  def unsetProperties(spark: SparkSession, path: String,
      keys: Set[String]): Long =
    formatOf(spark, path) match {
      case "delta" => DeltaTable.unsetTableProperties(spark, path, keys)
      case _ => IcebergTable.unsetProperties(spark, path, keys)
    }

  /** Iceberg MANIFEST COMPACTION ([[IcebergTable.rewriteManifests]]):
    * fold the fast-append manifest list back to one data manifest in a
    * row-transparent `replace` snapshot. Refused for Delta — its log
    * has no manifest tier (checkpoints compact the metadata instead). */
  def rewriteManifests(spark: SparkSession, path: String): Long =
    formatOf(spark, path) match {
      case "iceberg" => IcebergTable.rewriteManifests(spark, path)
      case other => throw new UnsupportedOperationException(
        s"rewriteManifests on a $other table: only Iceberg has a " +
          "manifest tier (Delta compacts log metadata through checkpoints)")
    }

  /** ORPHAN sweep — delete files under the table that NO retained
    * state references (crash leftovers, foreign drops), age-gated at
    * `olderThanMs`. On BOTH formats this is strictly time-travel-safe:
    * files referenced by any retained version stay (historical cleanup
    * is VACUUM's job, which documents the history loss). */
  def removeOrphans(spark: SparkSession, path: String,
      olderThanMs: Long, dryRun: Boolean = false): Seq[String] =
    formatOf(spark, path) match {
      case "iceberg" => IcebergTable.removeOrphanFiles(spark, path,
        Some(olderThanMs), dryRun)
      case _ => DeltaTable.removeOrphans(spark, path, olderThanMs, dryRun)
    }
}
