package graft.index.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.index.analysis.Reasons.MissingRequiredCol
import graft.index.covering.CoveringIndexDescriptor

/**
 * Beyond-reference rule: rewrites `Aggregate(groupBy keys, _, scan)` to a
 * BUCKETED covering-index scan when the index's bucket columns are a
 * subset of the grouping keys — `HashPartitioning(indexedCols, n)` then
 * satisfies the aggregation's ClusteredDistribution, so the whole
 * aggregation runs map-side with NO shuffle exchange.
 *
 * At 100 TB this turns the dominant cost of `groupBy` on a key the index
 * is bucketed on (a full-data shuffle) into a local per-bucket hash
 * aggregation.
 */
object AggIndexRule extends GraftIndexRule {

  /** Between z-order filter (60) and join (140): a whole-shuffle win. */
  val Score = 80

  override def apply(
      spark: SparkSession,
      plan: LogicalPlan,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      recurse: LogicalPlan => (LogicalPlan, Int),
      verdicts: Option[Verdicts]): Option[(LogicalPlan, Int)] = {
    val agg = plan match {
      case a: Aggregate => a
      case _ => return None
    }
    // the bucket-subset argument needs the indexed columns to appear in
    // the grouping set AS ATTRIBUTES; additional computed grouping
    // expressions (e.g. month(ship_date)) are harmless — rows agreeing
    // on the full grouping set still agree on the bucket columns, so
    // HashPartitioning(indexedCols) keeps satisfying the aggregation's
    // ClusteredDistribution. Non-deterministic keys are never rewritten.
    if (!agg.groupingExpressions.forall(_.deterministic)) return None
    // `groupBy(col.as("sk"))` keeps the key as an Alias in the grouping
    // list — grouping by Alias(c) partitions by c's value, so it counts
    // as the attribute for the subset test
    val groupAttrs = agg.groupingExpressions.collect {
      case a: AttributeReference => a
      case Alias(c: AttributeReference, _) => c
    }
    if (groupAttrs.isEmpty) return None

    val rel = linearRelation(agg.child).getOrElse(return None)
    if (!candidates.contains(rel)) return None

    // ALIAS-AWARE key matching (ROUNDLOG finding #13): a grouping key
    // renamed in the linear chain below (`select(l_partkey.as("pk"))
    // .distinct()` — the q97 channel-overlap spelling) still partitions
    // by the RELATION column's value, and ProjectExec propagates the
    // scan's bucketing claim through the alias — so the subset test
    // must compare bucket columns against the TRACED relation names,
    // or every renamed-key aggregate silently loses its shuffle-free
    // plan. Computed (non-column) keys stay under their own name.
    val groupNames = groupAttrs.map(a =>
      JoinIndexRule.traceToRel(agg.child, rel, a).map(_.name)
        .getOrElse(a.name))

    val resolver = spark.sessionState.conf.resolver
    // only columns the RELATION must supply need covering: an attribute
    // computed in the linear chain (Spark pulls computed grouping keys
    // into the child Project as `_groupingexpression`) is produced above
    // the scan, and its own inputs are in the reference set already
    val needed: Seq[String] =
      (agg.references ++ childReferences(agg.child))
        .filter(rel.outputSet.contains).toSeq.map(_.name).distinct

    // an index this aggregate cannot key (stale, or bucketed off the
    // grouping keys) is not judged here: the shape is not its own
    val applicable = candidates(rel).filter { m =>
      m.isExact && (m.entry.descriptor match {
        case d: CoveringIndexDescriptor =>
          // bucket columns ⊆ (traced) grouping keys ⇒ partitioning
          // satisfies the aggregation's required distribution
          d.indexedColumns.forall(ic =>
            groupNames.exists(g => resolver(g, ic))) && {
            val covered = Coverage.covers(d.referencedColumns, needed, resolver)
            verdicts.foreach(_.judge(m.entry,
              Option.when(!covered)(MissingRequiredCol(needed, d.referencedColumns))))
            covered
          }
        case _ => false
      })
    }
    if (applicable.isEmpty) return None

    // ALIAS-AWARE vote spelling (ROUNDLOG finding #13, the sound half):
    // consumers above this aggregate vote in the aggregate's OUTPUT
    // names (`groupBy(l_suppkey.as("sa_supp"))` → a join on sa_supp
    // votes "sa_supp"), while candidate bucket columns carry the
    // RELATION's names — so each bucket column also answers to the
    // grouping-output spellings that trace to it. The translation lives
    // HERE, at the same-grain chooser, and never in the vote names
    // themselves: resolving aggregate-born aliases at derivation time
    // would propagate relation-name votes BELOW the grain boundary and
    // re-open the qds78 regression (post-aggregate consumers un-bucketing
    // the pre-aggregate fact joins).
    // relation-name → output spellings. Post-optimization the grouping
    // list holds the RAW attributes and the rename lives in the result
    // list (`Alias(l_partkey, "bp_part")` in aggregateExpressions), so
    // both lists contribute spellings for a grouping key's exprId.
    val tracedById =
      groupAttrs.map(a => a.exprId ->
        JoinIndexRule.traceToRel(agg.child, rel, a).map(_.name)
          .getOrElse(a.name)).toMap
    val outSpellings: Seq[(String, String)] =
      (agg.groupingExpressions ++ agg.aggregateExpressions).collect {
        case a: AttributeReference if tracedById.contains(a.exprId) =>
          tracedById(a.exprId) -> a.name
        case al @ Alias(c: AttributeReference, _)
            if tracedById.contains(c.exprId) =>
          tracedById(c.exprId) -> al.name
      }
    def spellings(ic: String): Seq[String] =
      (ic +: outSpellings.collect {
        case (relName, out) if resolver(relName, ic) => out
      }).distinct

    // PAIR COHERENCE first (finding #12b): when covers with DIFFERENT
    // bucket keys qualify, prefer the key a consuming join's OTHER side
    // can actually ride bucketed — the aggregate's output partitioning
    // then co-locates with that side and the join adds no exchange
    // (qds40: the (ok, pk) returns collapse must ride the ORDERKEY
    // buckets because the sales side has no partkey layout). Then
    // interesting-orders demand, then canonical bucket-column order so
    // independent legs tie-break coherently, then size and name (see
    // ScoreBasedOptimizer)
    val best = applicable.sortBy { m =>
      val cols = m.entry.descriptor
        .asInstanceOf[CoveringIndexDescriptor].indexedColumns
      val voteCols = cols.flatMap(spellings)
      (-ScoreBasedOptimizer.coherence(voteCols, resolver),
        -ScoreBasedOptimizer.demand(voteCols, resolver),
        cols.mkString(","), m.entry.indexDataSize, m.entry.name)
    }.head.entry
    val newScan = ScanSubstitution.indexScan(spark, rel, best, useBucketSpec = true)
    val newChild = agg.child.transformUp {
      case r: LogicalRelation if r.fastEquals(rel) => newScan
    }
    Some((agg.copy(child = newChild), Score))
  }

  private def linearRelation(plan: LogicalPlan): Option[LogicalRelation] =
    plan match {
      case r: LogicalRelation => Some(r)
      case p: Project => linearRelation(p.child)
      case f: Filter if f.condition.deterministic => linearRelation(f.child)
      case _ => None
    }

  private def childReferences(plan: LogicalPlan): AttributeSet =
    plan.collect { case p => p.references }.foldLeft(AttributeSet.empty)(_ ++ _)
}
