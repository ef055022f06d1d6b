package graft.index.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

import graft.index.{FileMeta, GraftConf, IndexLogEntry}

/**
 * How an ACTIVE index relates to the files a source leaf currently reads
 * (reference: index/rules/FileSignatureFilter.scala:49-191 — exact match
 * plus the Hybrid-Scan overlap test).
 *
 * File identity is (path, size, mtime): an in-place rewrite shows up as
 * one deleted + one appended file.
 */
final case class CandidateMatch(
    entry: IndexLogEntry,
    appended: Seq[FileMeta],
    deleted: Seq[FileMeta]) {
  def isExact: Boolean = appended.isEmpty && deleted.isEmpty
  def appendedBytes: Long = appended.map(_.size).sum
  def deletedBytes: Long = deleted.map(_.size).sum
  def loggedBytes: Long = entry.sourceFilesSize
  /** Bytes of still-valid indexed source data. */
  def commonBytes: Long = loggedBytes - deletedBytes
}

/** Resolver-aware coverage test shared by the rewrite rules: descriptor
  * `covers` hardcodes case-insensitive matching, but attribute rewiring
  * uses the SESSION resolver — under spark.sql.caseSensitive=true the two
  * must agree or a rule can claim a case-variant column it cannot
  * produce, breaking the rewritten plan past ApplyGraft's fail-safe. */
private[index] object Coverage {
  def covers(refCols: Seq[String], needed: Seq[String],
      resolver: org.apache.spark.sql.catalyst.analysis.Resolver): Boolean =
    needed.forall(n => refCols.exists(rc => resolver(rc, n)))
}

/**
 * Per-source-leaf candidate collection (reference:
 * index/rules/CandidateIndexCollector.scala:28-59 — ColumnSchemaFilter +
 * FileSignatureFilter).
 */
object IndexCandidates {

  /** Marker option set on relations we created — never re-index those. */
  val IndexRelationMarker = "graft.indexrelation"

  def isIndexRelation(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.options.contains(IndexRelationMarker)
      case _ => false
    }
    case _ => false
  }

  /** Names of the indexes serving `plan` (every substituted scan carries
    * its index name in the marker option). */
  def appliedIn(plan: LogicalPlan): Seq[String] =
    plan.collectLeaves().collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
          .options.get(IndexRelationMarker)
    }.flatten.distinct

  /** Provider-recognized source leaves (reference routes the same check
    * through FileBasedSourceProviderManager), excluding relations we
    * created ourselves. */
  def sourceLeaves(
      spark: SparkSession,
      plan: LogicalPlan): Seq[graft.index.sources.SourceLeaf] =
    plan.collectLeaves()
      .flatMap(graft.index.sources.SourceProviders.asSourceLeaf(spark, _))
      .filterNot(leaf => isIndexRelation(leaf.plan))

  def currentFiles(leaf: graft.index.sources.SourceLeaf): Seq[FileMeta] =
    leaf.listFiles().map { case (p, size, mtime) => FileMeta(p, size, mtime, -1L) }

  private def key(f: FileMeta): (String, Long, Long) =
    (f.path, f.size, f.modifiedTime)

  /**
   * Map each file-based leaf to the ACTIVE indexes applicable to it: the
   * index's referenced columns resolve against the leaf's output (schema
   * filter) and the captured source either matches the leaf's current
   * file set exactly, or overlaps within the hybrid-scan thresholds
   * (appended ≤ 30% of current bytes, deleted ≤ 20% of indexed bytes —
   * reference: IndexConstants.scala:42-52). A lake leaf with live
   * row-level deletes has no candidate: its scan drops rows its files
   * still hold, so any index over those files would resurrect them.
   */
  /** Test-visible invocation counter: collect() walks the source file
    * listing, so diagnostics paths (whyNot) are pinned to exactly ONE
    * collection per call (PlanAnalysisSpec reads the delta). */
  private[graft] val collectCalls = new java.util.concurrent.atomic.AtomicLong

  def collect(
      spark: SparkSession,
      plan: LogicalPlan,
      indexes: Seq[IndexLogEntry]): Map[LogicalPlan, Seq[CandidateMatch]] = {
    collectCalls.incrementAndGet()
    val resolver = spark.sessionState.conf.resolver
    val hybridEnabled = GraftConf.hybridScanEnabled(spark)
    val maxAppendedRatio = GraftConf.hybridMaxAppendedRatio(spark)
    val maxDeletedRatio = GraftConf.hybridMaxDeletedRatio(spark)

    sourceLeaves(spark, plan).filterNot(_.liveDeletes).flatMap { leaf =>
      lazy val current = currentFiles(leaf)
      lazy val currentKeys = current.map(key).toSet
      lazy val currentBytes = current.map(_.size).sum

      val matches = indexes.filter { e =>
        e.relations.size == 1 &&
          e.descriptor.referencedColumns.forall(c =>
            graft.index.NestedColumns.resolvableIn(leaf.plan.output, c, resolver))
      }.flatMap { e =>
        val logged = e.relations.head.files
        val loggedKeys = logged.map(key).toSet
        val appended = current.filterNot(f => loggedKeys.contains(key(f)))
        val deleted = logged.filterNot(f => currentKeys.contains(key(f)))
        val m = CandidateMatch(e, appended, deleted)
        // A quick refresh blessed part of the delta in metadata
        // (entry.update): hybrid scan still has to APPLY the full delta,
        // but only drift accumulated past the blessing counts against the
        // staleness thresholds — that re-baselining is exactly what quick
        // refresh buys (reference: RefreshQuickAction.scala:37-80).
        val blessedApp = e.update.map(_.appended.map(key).toSet).getOrElse(Set.empty)
        val blessedDel = e.update.map(_.deleted.map(key).toSet).getOrElse(Set.empty)
        val newAppendedBytes =
          appended.filterNot(f => blessedApp.contains(key(f))).map(_.size).sum
        val newDeletedBytes =
          deleted.filterNot(f => blessedDel.contains(key(f))).map(_.size).sum
        if (m.isExact) Some(m)
        else if (hybridEnabled &&
            currentBytes > 0 && m.loggedBytes > 0 &&
            newAppendedBytes.toDouble / currentBytes <= maxAppendedRatio &&
            newDeletedBytes.toDouble / m.loggedBytes <= maxDeletedRatio)
          Some(m)
        else None
      }
      if (matches.isEmpty) None else Some(leaf.plan -> matches)
    }.toMap
  }
}
