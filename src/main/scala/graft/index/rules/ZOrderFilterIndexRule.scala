package graft.index.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.index.analysis.Reasons._
import graft.index.zorder.ZOrderIndexDescriptor

/**
 * Like [[FilterIndexRule]] but for z-order covering indexes: ANY indexed
 * column appearing in the filter qualifies, because the z-layout clusters
 * every indexed dimension (reference:
 * index/zordercovering/ZOrderFilterIndexRule.scala:36-153). Score sits
 * between plain covering-filter and join rewrites.
 */
object ZOrderFilterIndexRule extends GraftIndexRule {

  override def apply(
      spark: SparkSession,
      plan: LogicalPlan,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      recurse: LogicalPlan => (LogicalPlan, Int),
      verdicts: Option[Verdicts]): Option[(LogicalPlan, Int)] = {
    val (projectOpt, filter) = plan match {
      case p @ Project(_, f: Filter) => (Some(p), f)
      case f: Filter => (None, f)
      case _ => return None
    }
    val rel = filter.child match {
      case r if r.children.isEmpty && candidates.contains(r) => r
      case _ => return None
    }
    val log = verdicts.flatMap(_.forFilter(filter, projectOpt.isDefined))
    val zorder = candidates(rel).collect {
      case m if m.entry.descriptor.isInstanceOf[ZOrderIndexDescriptor] =>
        (m, m.entry.descriptor.asInstanceOf[ZOrderIndexDescriptor])
    }
    if (!filter.condition.deterministic) {
      log.foreach(_.refuse(zorder.map(_._1),
        IneligibleFilterCondition(filter.condition.sql)))
      return None
    }

    val needed: AttributeSet =
      projectOpt.map(p => p.references ++ filter.references)
        .getOrElse(filter.references ++ AttributeSet(filter.output))
    val neededNames = needed.toSeq.map(_.name)
    val filterNames = filter.condition.references.toSeq.map(_.name)
    val resolver = spark.sessionState.conf.resolver

    val applicable = zorder.filter { case (m, d) =>
      // appended-only staleness rides hybrid scan (the union leg reads the
      // new files un-clustered — correct, just unclustered for those
      // rows); deletes additionally need the lineage column in the index
      // data (built when spark.graft.index.lineage.enabled was set)
      val deletesOk = m.isExact || m.deleted.isEmpty || d.hasLineage
      lazy val filtered =
        d.indexedColumns.exists(ic => filterNames.exists(resolver(_, ic)))
      lazy val covered = Coverage.covers(d.referencedColumns, neededNames, resolver)
      log.foreach(_.judge(m.entry,
        Option.when(!filtered)(
          NoFirstIndexedColCond(d.indexedColumns.mkString("|"), filterNames)),
        Option.when(!covered)(MissingRequiredCol(neededNames, d.referencedColumns)),
        Option.when(!deletesOk)(NoDeleteSupport())))
      deletesOk && filtered && covered
    }.map(_._1)
    if (applicable.isEmpty) return None

    // exact first, then fewest indexed columns: tighter clustering per
    // dimension (reference: ZOrderFilterIndexRule.scala:82-99)
    val best = applicable.minBy(m => (!m.isExact,
      m.entry.descriptor.asInstanceOf[ZOrderIndexDescriptor].indexedColumns.size))
    val newScan: LogicalPlan =
      if (best.isExact)
        ScanSubstitution.indexScan(spark, rel, best.entry, useBucketSpec = false)
      else
        ScanSubstitution.hybridScan(spark, rel, best)
    val score =
      if (best.isExact) RuleScores.ZOrderFilterIndex
      else {
        val total = best.commonBytes + best.appendedBytes
        math.max(1, math.round(
          RuleScores.ZOrderFilterIndex * best.commonBytes.toDouble /
            math.max(1L, total)).toInt)
      }
    val rewrittenFilter = filter.copy(child = newScan)
    val rewritten = projectOpt
      .map(p => p.copy(child = rewrittenFilter): LogicalPlan)
      .getOrElse {
        if (newScan.output.map(_.exprId) == filter.output.map(_.exprId)) rewrittenFilter
        else Project(filter.output, rewrittenFilter)
      }
    Some((rewritten, score))
  }
}
