package graft.index.rules

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.Resolver
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.index.IndexLogEntry
import graft.index.analysis.Reasons._
import graft.index.covering.CoveringIndexDescriptor

/**
 * Index-selection rule framework (reference: index/rules/HyperspaceRule.scala
 * + ScoreBasedIndexPlanOptimizer.scala:31-81).
 *
 * A rule inspects a whole subtree; if an index applies it returns the
 * rewritten subtree plus a score. The optimizer recurses top-down with
 * memoization and keeps the highest-scoring rewrite; the implicit no-op
 * (recurse into children, sum scores) guarantees full traversal.
 *
 * A rule is the only place that decides whether an index applies: with
 * `verdicts` it also writes, for each candidate of its kind whose shape it
 * reached, the checks that dropped it or that it passed (`whyNot` reads
 * them).
 */
trait GraftIndexRule {
  def apply(
      spark: SparkSession,
      plan: LogicalPlan,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      recurse: LogicalPlan => (LogicalPlan, Int),
      verdicts: Option[Verdicts]): Option[(LogicalPlan, Int)]
}

object RuleScores {
  /** Selection priors (reference: FilterIndexRule.scala:172,
    * JoinIndexRule.scala:717-718, ZOrderFilterIndexRule.scala:151,
    * ApplyDataSkippingIndex.scala:82). Non-exact matches are weighted by
    * the covered-bytes ratio. */
  val FilterIndex = 50
  val ZOrderFilterIndex = 60
  val JoinIndexPerSide = 70
  val DataSkipping = 1
}

/**
 * Rewrites `Filter(cond, scan)` / `Project(_, Filter(cond, scan))` to scan
 * a covering index when the filter references the index's head indexed
 * column and the index covers every referenced column (reference:
 * index/covering/FilterIndexRule.scala:33-174). Stale-but-overlapping
 * indexes are applied via hybrid scan (union of index + appended files,
 * lineage-filtered deletes).
 *
 * The bucketSpec is NOT claimed on the substituted scan: a filter query
 * gains nothing from `outputPartitioning` and bucketed reads cap scan
 * parallelism at numBuckets.
 */
object FilterIndexRule extends GraftIndexRule {

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
    // any provider-recognized leaf qualifies — file-based sources are
    // LogicalRelation; a table-format source (Iceberg) is a DSv2 leaf
    val rel = filter.child match {
      case r if r.children.isEmpty && candidates.contains(r) => r
      case _ => return None
    }
    val log = verdicts.flatMap(_.forFilter(filter, projectOpt.isDefined))
    if (!filter.condition.deterministic) {
      log.foreach(_.refuse(JoinIndexRule.covering(candidates, rel),
        IneligibleFilterCondition(filter.condition.sql)))
      return None
    }

    // leaf accesses: bare attributes AND struct-field chains — a nested
    // access like n.k contributes the dotted logical name "n.k", which a
    // nested index covers even though the bare struct attr "n" would not
    import graft.index.NestedColumns
    val condAccesses = NestedColumns.accesses(filter.condition)
    val projAccesses = projectOpt
      .map(_.projectList.flatMap(NestedColumns.accesses))
      .getOrElse(filter.output.collect {
        case a: AttributeReference => (a, Seq.empty[String])
      })
    val neededNames = (condAccesses ++ projAccesses)
      .map { case (a, p) => NestedColumns.logicalName(a, p) }.distinct
    val filterNames = condAccesses
      .map { case (a, p) => NestedColumns.logicalName(a, p) }.distinct
    val resolver = spark.sessionState.conf.resolver

    // A leaf access `n.k` is satisfied either by a flattened `n.k` index
    // column or by an index that materializes the WHOLE struct `n` (the
    // scan then outputs the struct attr with its original exprId and the
    // GetStructField above stays valid untouched).
    def rootOf(n: String) = n.split('.').head
    val applicable = candidates(rel).filter { m =>
      m.entry.descriptor match {
        case d: CoveringIndexDescriptor =>
          val head = d.indexedColumns.head
          lazy val headed = filterNames.exists(n =>
            resolver(n, head) || resolver(rootOf(n), head))
          lazy val covered = neededNames.forall(n =>
            Coverage.covers(d.referencedColumns, Seq(n), resolver) ||
              Coverage.covers(d.referencedColumns, Seq(rootOf(n)), resolver))
          // hybrid legs re-read the source and COMPUTE flattened
          // columns from the struct paths (ScanSubstitution.appendedLeg),
          // so nested indexes hybrid-scan like flat ones; partitioned
          // sources recover partition values via basePath
          lazy val deletesOk = JoinIndexRule.deletesOk(m, d)
          log.foreach(_.judge(m.entry,
            Option.when(!headed)(NoFirstIndexedColCond(head, filterNames)),
            Option.when(!covered)(MissingRequiredCol(neededNames, d.referencedColumns)),
            Option.when(!deletesOk)(NoDeleteSupport())))
          headed && covered && deletesOk
        case _ => false
      }
    }
    if (applicable.isEmpty) return None

    // exact matches first (smallest index); then hybrid with the most
    // still-covered bytes (reference: FilterIndexRanker.scala:43-64).
    // Final name tie-break: equivalent indexes must rank deterministically
    // regardless of catalog listing order (session-cache / FS dependent).
    val best = applicable
      .sortBy(m => (!m.isExact,
        if (m.isExact) m.entry.indexDataSize else -m.commonBytes, m.entry.name))
      .head

    val score =
      if (best.isExact) RuleScores.FilterIndex
      else {
        val total = best.commonBytes + best.appendedBytes
        math.max(1, math.round(
          RuleScores.FilterIndex * best.commonBytes.toDouble /
            math.max(1L, total)).toInt)
      }

    val newChild: LogicalPlan =
      if (best.isExact)
        ScanSubstitution.indexScan(spark, rel, best.entry, useBucketSpec = false)
      else
        ScanSubstitution.hybridScan(spark, rel, best)

    // Struct-field chains must now read the flattened physical column of
    // the index scan; top-level attributes keep their exprIds and need no
    // rewrite (identity for non-nested indexes).
    def rw(e: Expression): Expression = NestedColumns.pathOf(e) match {
      case Some((attr, path)) if path.nonEmpty =>
        val phys = NestedColumns.physicalName(NestedColumns.logicalName(attr, path))
        newChild.output.find(a => resolver(a.name, phys))
          .getOrElse(e.mapChildren(rw))
      case _ => e.mapChildren(rw)
    }

    val rewrittenFilter = Filter(rw(filter.condition), newChild)
    val rewritten = projectOpt
      .map { p =>
        val newList = p.projectList.map(e =>
          rw(e).asInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedExpression])
        p.copy(projectList = newList, child = rewrittenFilter): LogicalPlan
      }
      .getOrElse {
        // bare Filter: preserve the original output shape
        if (newChild.output.map(_.exprId) == filter.output.map(_.exprId)) rewrittenFilter
        else Project(filter.output, rewrittenFilter)
      }
    Some((rewritten, score))
  }
}

/**
 * Rewrites an inner equi-join so both sides scan covering indexes
 * bucketed on the join keys — eliminating both shuffle exchanges for a
 * sort-merge join (reference: index/covering/JoinIndexRule.scala:47-720).
 * Exact signature matches only (the reference gates join hybrid scan the
 * same way by default).
 *
 * Each side's own checks (keys, coverage, deletes) are judged by
 * [[JoinOneSideIndexRule]], which serves one side alone; this rule's
 * verdicts are about the pair.
 */
object JoinIndexRule extends GraftIndexRule {

  override def apply(
      spark: SparkSession,
      plan: LogicalPlan,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      recurse: LogicalPlan => (LogicalPlan, Int),
      verdicts: Option[Verdicts]): Option[(LogicalPlan, Int)] = {
    val (join, pairs) =
      eligibleJoin(spark, plan, candidates, verdicts).getOrElse(return None)
    val (lRel, rRel) =
      (linearRelation(join.left, candidates), linearRelation(join.right, candidates)) match {
        case (Some(l), Some(r)) => (l, r)
        case (l, r) =>
          verdicts.foreach { v =>
            l.foreach(rel => v.refuse(covering(candidates, rel), NoAvailJoinIndexPair("right")))
            r.foreach(rel => v.refuse(covering(candidates, rel), NoAvailJoinIndexPair("left")))
          }
          return None
      }

    val lNeeded = neededColumns(join.left, lRel)
    val rNeeded = neededColumns(join.right, rRel)

    val resolver = spark.sessionState.conf.resolver
    // A hybrid side zip-unions the index scan with a repartitioned
    // appended slice (BucketUnionExec requires equal partition counts).
    // With autoBucketedScan on, Spark may silently read the index leg
    // un-bucketed and that requirement fails at runtime — so in such a
    // session claim only exact-exact pairs (GraftSession disables the
    // conf; a foreign session installing the extension may not).
    val hybridSafe = !spark.sessionState.conf
      .getConfString("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
      .toBoolean
    // candidate pair: left index bucketed exactly on the left keys, right
    // index bucketed on the correspondingly-permuted right keys. Unequal
    // bucket counts are eligible: both scans still claim HashPartitioning
    // on the keys, and EnsureRequirements shuffles only the side whose
    // partition count loses — the reference's "repartition one side"
    // behavior (JoinIndexRanker.scala:34-38) falls out of Spark's own
    // requirement matching. Stale sides within hybrid thresholds are
    // eligible via BucketUnion.
    // aliased keys (a self-join's `l_orderkey AS m1_ord`) match the
    // index through their traced relation column
    val lKeys = traceKeys(join.left, lRel, pairs.map(_._1), candidates, verdicts)
      .getOrElse(return None)
    val rKeysTraced = traceKeys(join.right, rRel, pairs.map(_._2), candidates, verdicts)
      .getOrElse(return None)
    val allowSubset = subsetKeysAllowed(spark)
    val pairsFound = for {
      lm <- coveringEligible(candidates(lRel), lRel)
      if Coverage.covers(lm._2.referencedColumns, lNeeded, resolver)
      keyPerm <- keyMappingFor(lm._2.indexedColumns, lKeys, resolver,
        allowSubset).toSeq
      rKeys = keyPerm.map(i => rKeysTraced(i).name)
      rm <- coveringEligible(candidates(rRel), rRel)
      if Coverage.covers(rm._2.referencedColumns, rNeeded, resolver) &&
        rm._2.indexedColumns.size == rKeys.size &&
        rm._2.indexedColumns.zip(rKeys).forall { case (a, b) => resolver(a, b) } &&
        // hybrid legs need aligned BucketUnion partition counts per side;
        // that holds per side independently, so only the conf gate applies
        (hybridSafe || (lm._1.isExact && rm._1.isExact))
    } yield (lm, rm)
    verdicts.foreach { v =>
      val paired = pairsFound.flatMap { case (l, r) => Seq(l._1, r._1) }
        .map(_.entry.name).toSet
      def judgeSide(rel: LogicalPlan, other: LogicalPlan, otherSide: String): Unit =
        covering(candidates, rel).foreach { m =>
          if (paired(m.entry.name)) v.eligible(m.entry)
          else v.refuse(m.entry,
            if (covering(candidates, other).isEmpty) NoAvailJoinIndexPair(otherSide)
            else NoCompatibleJoinIndexPair())
        }
      judgeSide(lRel, rRel, "right")
      judgeSide(rRel, lRel, "left")
    }
    // rank (reference: JoinIndexRanker.scala:52-90): exact pairs first,
    // full-key pairs before subset-key (finer clustering distributes
    // better), same bucket count (zero-shuffle join) before mismatched,
    // more buckets (more parallelism) before fewer, then most
    // still-covered bytes under hybrid
    val best = pairsFound.sortBy { case ((l, ld), (r, rd)) =>
      (!(l.isExact && r.isExact),
        ld.indexedColumns.size != lKeys.distinct.size,
        ld.numBuckets != rd.numBuckets,
        -math.min(ld.numBuckets, rd.numBuckets),
        -(l.commonBytes + r.commonBytes),
        // interesting-orders tie-break: prefer bucket columns ancestors
        // also cluster on (a downstream join/groupBy rides the same
        // layout instead of re-shuffling), weighted by demand count;
        // then CANONICAL bucket-column order, so independent legs of
        // one query tie-break COHERENTLY (two legs that each see a tie
        // must land on the same layout or their join re-shuffles)
        -(ScoreBasedOptimizer.demand(ld.indexedColumns, resolver) +
          ScoreBasedOptimizer.demand(rd.indexedColumns, resolver)),
        ld.indexedColumns.mkString(","),
        // deterministic tie-break between equivalent pairs: smallest
        // covering indexes first (narrower = less footprint), then name —
        // selection must not depend on catalog listing order
        l.entry.indexDataSize + r.entry.indexDataSize,
        (l.entry.name, r.entry.name))
    }.headOption.getOrElse(return None)

    val (lMatch, rMatch) = (best._1._1, best._2._1)
    val newLeft = substitute(spark, join.left, lRel, joinSide(spark, lRel, lMatch))
    val newRight = substitute(spark, join.right, rRel, joinSide(spark, rRel, rMatch))
    val ratio = Seq(lMatch, rMatch).map { m =>
      val total = m.commonBytes + m.appendedBytes
      if (m.isExact || total == 0) 1.0 else m.commonBytes.toDouble / total
    }.sum / 2.0
    val score = math.max(1,
      math.round(2 * RuleScores.JoinIndexPerSide * ratio).toInt)
    Some((join.copy(left = newLeft, right = newRight), score))
  }

  private[rules] def joinSide(
      spark: SparkSession,
      rel: LogicalPlan,
      m: CandidateMatch): LogicalPlan =
    if (m.isExact)
      ScanSubstitution.indexScan(spark, rel, m.entry, useBucketSpec = true)
    else
      ScanSubstitution.hybridBucketedScan(spark, rel, m)

  /** The single provider-recognized leaf under a linear Project/Filter
    * chain. */
  private[rules] def linearRelation(
      plan: LogicalPlan,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]]): Option[LogicalPlan] =
    plan match {
      case r if r.children.isEmpty => candidates.get(r).map(_ => r)
      case p: Project => linearRelation(p.child, candidates)
      case f: Filter if f.condition.deterministic => linearRelation(f.child, candidates)
      case _ => None
    }

  private[rules] def coveringOf(
      matches: Seq[CandidateMatch]): Seq[(CandidateMatch, CoveringIndexDescriptor)] =
    matches.flatMap(m => m.entry.descriptor match {
      case d: CoveringIndexDescriptor => Some((m, d))
      case _ => None
    })

  private[rules] def covering(
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      rel: LogicalPlan): Seq[CandidateMatch] =
    coveringOf(candidates.getOrElse(rel, Nil)).map(_._1)

  /** A stale covering candidate serves only if no source file was
    * deleted, or its lineage column filters the deleted files' rows. */
  private[rules] def deletesOk(m: CandidateMatch, d: CoveringIndexDescriptor): Boolean =
    m.isExact || m.deleted.isEmpty || d.hasLineage

  private[rules] def coveringEligible(
      matches: Seq[CandidateMatch],
      rel: LogicalPlan): Seq[(CandidateMatch, CoveringIndexDescriptor)] =
    // hybrid appended legs compute flattened columns from the source's
    // struct paths (ScanSubstitution.appendedLeg), so nested indexes
    // are hybrid-eligible like flat ones
    coveringOf(matches).filter { case (m, d) => deletesOk(m, d) }

  /** The equi-join both join rules rewrite, with its key pairs; None for
    * any other join, written as NOT_ELIGIBLE_JOIN for the covering
    * candidates under either side. */
  private[rules] def eligibleJoin(
      spark: SparkSession,
      plan: LogicalPlan,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      verdicts: Option[Verdicts])
      : Option[(Join, Seq[(AttributeReference, AttributeReference)])] = {
    val join = plan match {
      case j: Join => j
      case _ => return None
    }
    def refuse(why: String): Option[Nothing] = {
      verdicts.foreach(v => Seq(join.left, join.right)
        .flatMap(linearRelation(_, candidates))
        .foreach(rel => v.refuse(covering(candidates, rel), NotEligibleJoin(why))))
      None
    }
    if (!rewritableJoinType(join.joinType))
      return refuse(s"join type is ${join.joinType}; the rewrite covers " +
        "Inner/LeftSemi/LeftAnti/LeftOuter/RightOuter/FullOuter")
    if (join.hint != JoinHint.NONE) return refuse(s"join hint ${join.hint}")
    val cond = join.condition.getOrElse(return refuse("no join condition"))
    // The whole rewrite presumes bucketed scans produce HashPartitioning.
    if (!spark.sessionState.conf
        .getConfString("spark.sql.sources.bucketing.enabled", "true").toBoolean)
      return refuse("spark.sql.sources.bucketing.enabled is false")
    val pairs = equiJoinPairs(cond, join.left.outputSet, join.right.outputSet)
      .getOrElse(Nil)
    if (pairs.isEmpty) return refuse(s"no equi conjunct to bucket on in: ${cond.sql}")
    if (!isOneToOne(pairs))
      return refuse(s"equi keys do not pair one-to-one in: ${cond.sql}")
    Some((join, pairs))
  }

  /** `keys` traced to columns of `rel` (see [[traceToRel]]); None, written
    * as NOT_ELIGIBLE_JOIN for `rel`'s covering candidates, when one is
    * computed above the scan. */
  private[rules] def traceKeys(
      side: LogicalPlan,
      rel: LogicalPlan,
      keys: Seq[AttributeReference],
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      verdicts: Option[Verdicts]): Option[Seq[AttributeReference]] = {
    val traced = keys.map(k => k -> traceToRel(side, rel, k))
    traced.collectFirst { case (k, None) => k } match {
      case Some(k) =>
        verdicts.foreach(_.refuse(covering(candidates, rel),
          NotEligibleJoin(s"join key ${k.name} is computed above the relation")))
        None
      case None => Some(traced.flatMap(_._2))
    }
  }

  /** Whether a covering candidate can serve the bucketed leg on `side`:
    * its buckets key the leg (`keyedBy`, on join keys `keys`), it covers
    * the `needed` columns, it filters deleted files' rows, and a stale
    * one may hybrid-scan (its BucketUnion needs autoBucketedScan off:
    * `hybridSafe`). Each failed check is written to `verdicts`. */
  private[rules] def servesLeg(
      m: CandidateMatch,
      d: CoveringIndexDescriptor,
      side: String,
      keys: Seq[String],
      keyedBy: => Boolean,
      needed: Seq[String],
      hybridSafe: Boolean,
      resolver: Resolver,
      verdicts: Option[Verdicts]): Boolean = {
    val deletes = deletesOk(m, d)
    lazy val covered = Coverage.covers(d.referencedColumns, needed, resolver)
    lazy val keyed = keyedBy
    lazy val hybridOk = hybridSafe || m.isExact
    verdicts.foreach(_.judge(m.entry,
      Option.when(!keyed)(
        if (keys.forall(k => d.indexedColumns.exists(resolver(_, k))))
          NotAllJoinColIndexed(side, keys, d.indexedColumns)
        else MissingIndexedCol(side, keys, d.indexedColumns)),
      Option.when(!covered)(MissingRequiredCol(needed, d.referencedColumns)),
      Option.when(!deletes)(NoDeleteSupport()),
      Option.when(!hybridOk)(SourceDataChanged())))
    deletes && covered && keyed && hybridOk
  }

  /** Columns the subtree needs FROM ITS RELATION: every relation
    * attribute it references or passes through, intersected by exprId
    * with the relation's own output. Derived aliases (`l_orderkey AS
    * m1_ord`) are computed ABOVE the scan — demanding the alias NAME
    * from the index (the old behavior) wrongly disqualified every
    * covering index under a renaming projection. */
  private[index] def neededColumns(plan: LogicalPlan,
      rel: LogicalPlan): Seq[String] = {
    val refs = plan.collect { case p => p.references }.foldLeft(AttributeSet.empty)(_ ++ _)
    (refs ++ plan.outputSet).filter(rel.outputSet.contains)
      .toSeq.map(_.name).distinct
  }

  /** Split the condition into (leftAttr, rightAttr) equality pairs.
    * Returns None on any non-equality / non-attribute conjunct. */
  private[rules] def equiJoinPairs(
      cond: Expression,
      leftOut: AttributeSet,
      rightOut: AttributeSet): Option[Seq[(AttributeReference, AttributeReference)]] = {
    val conjuncts = splitConjuncts(cond)
    // non-equi conjuncts (q95's different-warehouse inequality, range
    // bounds, one-sided predicates) are RESIDUALS: the Join keeps its
    // full condition — the rewrite only swaps the scans — so they are
    // skipped, not a reason to bail. Bucket co-location needs >= 1
    // equi pair (the caller checks) covering keys one-to-one.
    val pairs = conjuncts.flatMap {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if leftOut.contains(a) && rightOut.contains(b) => Some((a, b))
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if leftOut.contains(b) && rightOut.contains(a) => Some((b, a))
      case _ => None
    }
    Some(pairs)
  }

  private[rules] def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Join types eligible for the scan-swap rewrite: the rule never
    * touches the join TYPE or CONDITION — only the children — so
    * semantics are preserved for every type; this set names the ones
    * planned as shuffle joins that benefit from bucket co-location.
    * Catalyst's semi/anti pushdown makes LeftSemi/LeftAnti common
    * shapes (TPC-DS q95's IN-subqueries land here), and a DISJUNCTION
    * of EXISTS predicates (q35/q10 `EXISTS(...) OR EXISTS(...)`) plans
    * each branch as an ExistenceJoin — same shuffle join, same swap. */
  private[index] def rewritableJoinType(jt: JoinType): Boolean = jt match {
    case Inner | LeftSemi | LeftAnti | LeftOuter | RightOuter | FullOuter => true
    case _: org.apache.spark.sql.catalyst.plans.ExistenceJoin => true
    case _ => false
  }

  /** Every left attribute pairs with exactly one right attribute and vice
    * versa (reference: JoinIndexRule.scala:179-318 — required for bucket
    * co-location to be semantics-preserving). */
  private[rules] def isOneToOne(pairs: Seq[(AttributeReference, AttributeReference)]): Boolean = {
    val l2r = pairs.groupBy(_._1.exprId).view.mapValues(_.map(_._2.exprId).distinct)
    val r2l = pairs.groupBy(_._2.exprId).view.mapValues(_.map(_._1.exprId).distinct)
    l2r.values.forall(_.size == 1) && r2l.values.forall(_.size == 1)
  }

  /** If `indexedCols` is a permutation of the left-key names, return the
    * pair indices in indexed-column order. */
  /** Trace a join-key attribute back through the side's linear
    * Project/Filter chain to the RELATION column it renames (identity
    * for un-aliased keys). ProjectExec is alias-aware for output
    * partitioning, so a bucketing claim on the relation column
    * propagates to the alias above it — key matching must look
    * through renames or q95-style self-joins on aliased keys never
    * bucket. Computed (non-column) keys return None. */
  private[rules] def traceToRel(plan: LogicalPlan, rel: LogicalPlan,
      a: AttributeReference): Option[AttributeReference] =
    if (rel.outputSet.contains(a)) Some(a)
    else plan match {
      case p: Project =>
        p.projectList.find(_.exprId == a.exprId).flatMap {
          case al: org.apache.spark.sql.catalyst.expressions.Alias =>
            al.child match {
              case ar: AttributeReference => traceToRel(p.child, rel, ar)
              case _ => None
            }
          case ar: AttributeReference => traceToRel(p.child, rel, ar)
          case _ => None
        }
      case f: Filter => traceToRel(f.child, rel, a)
      case _ => None
    }

  private[rules] def permutationFor(
      indexedCols: Seq[String],
      leftAttrs: Seq[AttributeReference],
      resolver: Resolver): Option[Seq[Int]] = {
    if (indexedCols.size != leftAttrs.distinct.size) return None
    val idxs = indexedCols.map { c =>
      leftAttrs.indexWhere(a => resolver(a.name, c)) match {
        case -1 => return None
        case i => i
      }
    }
    if (idxs.distinct.size == idxs.size) Some(idxs) else None
  }

  /** Like [[permutationFor]], but with `allowSubset` also admits an
    * index bucketed on a strict SUBSET of the join keys (each indexed
    * column matching a distinct key). `HashPartitioning(subset)` still
    * satisfies the join's ClusteredDistribution — rows equal on all
    * keys are equal on the subset — so a same-bucket pair co-locates
    * and a one-sided claim re-shuffles only the probe side. Spark
    * honors that only when `requireAllClusterKeysForCoPartition` is
    * off (the caller passes the conf), so with the guard on the subset
    * claim is withheld rather than inviting a double shuffle. The q93
    * shape is the motivating case: sales⋈returns on (orderkey, partkey)
    * over orderkey-bucketed indexes lost acceleration entirely. */
  private[index] def keyMappingFor(
      indexedCols: Seq[String],
      keyAttrs: Seq[AttributeReference],
      resolver: Resolver,
      allowSubset: Boolean): Option[Seq[Int]] = {
    if (indexedCols.size == keyAttrs.distinct.size)
      permutationFor(indexedCols, keyAttrs, resolver)
    else if (allowSubset && indexedCols.size < keyAttrs.distinct.size) {
      val idxs = indexedCols.map { c =>
        keyAttrs.indexWhere(a => resolver(a.name, c)) match {
          case -1 => return None
          case i => i
        }
      }
      if (idxs.distinct.size == idxs.size) Some(idxs) else None
    } else None
  }

  /** Whether the session accepts subset co-partitioning (see
    * [[keyMappingFor]]). */
  private[index] def subsetKeysAllowed(spark: SparkSession): Boolean =
    !spark.sessionState.conf
      .getConfString("spark.sql.requireAllClusterKeysForCoPartition", "true")
      .toBoolean

  /** Swap the relation for the index scan. The scan's output is in
    * index-schema order and may carry a lineage `_data_file_id` attribute;
    * when the relation is the subtree root (no Project above to fix it up)
    * that would silently reorder the join output or leak a column — so
    * compensate with a Project of the original attributes in original
    * order whenever the outputs differ (reference:
    * RuleUtils.transformPlanToUseIndexOnlyScan keeps relation order and
    * excludes lineage). An upper Project prunes the extra node for free. */
  private[rules] def substitute(
      spark: SparkSession,
      plan: LogicalPlan,
      target: LogicalPlan,
      replacement: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case r if r.fastEquals(target) =>
        val covered = r.output.filter(a => replacement.outputSet.contains(a))
        if (replacement.output.map(_.exprId) == covered.map(_.exprId)) replacement
        else Project(covered, replacement)
    }
}

/**
 * EXISTS / IN-subquery acceleration. SQL `EXISTS (...)` and `IN (...)`
 * predicates only become LeftSemi / LeftAnti / ExistenceJoin nodes in
 * Catalyst's RewriteSubquery batch, which runs AFTER the pre-CBO batch
 * this optimizer is injected into — so at rule time the probe is still
 * a [[SubqueryExpression]] inside a Filter and [[JoinIndexRule]] never
 * sees a Join. This rule treats `Filter(… Exists/In …, outer)` AS that
 * future join: it extracts the correlation equi-pairs from the pulled-up
 * joinCond (or the IN values/output positional pairs), picks a bucketed
 * covering-index pair exactly like the join rule, and swaps BOTH the
 * outer relation and each subquery's inner relation. When Catalyst
 * later forms the semi/existence join over the swapped scans, both
 * sides already claim HashPartitioning on the keys and the zero-shuffle
 * probe falls out of EnsureRequirements — no join-node rewrite needed.
 * Partially-eligible filters still swap whichever sides qualify (each
 * bucketed side saves its own exchange).
 */
object ExistsIndexRule extends GraftIndexRule {
  import JoinIndexRule.{covering, coveringOf, isOneToOne, linearRelation,
    neededColumns, permutationFor, servesLeg, substitute, traceToRel}
  import org.apache.spark.sql.catalyst.expressions.{Exists, InSubquery, ListQuery}

  /** (subquery exprId, inner plan, pairs as (outerAttr, innerAttr)). */
  private[index] def probePairs(cond: Expression, outer: LogicalPlan)
      : Seq[(org.apache.spark.sql.catalyst.expressions.ExprId,
             LogicalPlan, Seq[(AttributeReference, AttributeReference)])] = {
    def equiPairs(conds: Seq[Expression], inner: LogicalPlan)
        : Option[Seq[(AttributeReference, AttributeReference)]] = {
      val ps = conds.flatMap {
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            a: AttributeReference, b: AttributeReference)
            if inner.outputSet.contains(a) && outer.outputSet.contains(b) =>
          Some((b, a))
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            a: AttributeReference, b: AttributeReference)
            if inner.outputSet.contains(b) && outer.outputSet.contains(a) =>
          Some((a, b))
        case _ => None // residual conjuncts stay on the future join
      }
      if (ps.isEmpty) None else Some(ps)
    }
    val found = mutable.Buffer.empty[(
      org.apache.spark.sql.catalyst.expressions.ExprId,
      LogicalPlan, Seq[(AttributeReference, AttributeReference)])]
    cond.foreach {
      case e: Exists =>
        equiPairs(e.joinCond, e.plan).foreach(ps =>
          found += ((e.exprId, e.plan, ps)))
      case InSubquery(values, l: ListQuery) if l.joinCond.isEmpty &&
          values.size == l.plan.output.size =>
        // IN pairs positionally: every probe value must be a plain
        // outer column or the rewrite can't claim its bucketing
        val attrs = values.map {
          case a: AttributeReference if outer.outputSet.contains(a) => a
          case _ => null
        }
        val inner = l.plan.output.map {
          case a: AttributeReference => a
          case _ => null
        }
        // strict positional alignment: every value AND every output
        // column must be a plain attribute, or the pairing could
        // silently shift
        if (!attrs.contains(null) && !inner.contains(null)) {
          found += ((l.exprId, l.plan, attrs.zip(inner)))
        }
      case _ =>
    }
    found.toSeq
  }

  override def apply(
      spark: SparkSession,
      plan: LogicalPlan,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      recurse: LogicalPlan => (LogicalPlan, Int),
      verdicts: Option[Verdicts]): Option[(LogicalPlan, Int)] = {
    val f = plan match {
      case f: Filter => f
      case _ => return None
    }
    val rel = linearRelation(f.child, candidates).getOrElse(return None)
    val probes = probePairs(f.condition, f.child)
    if (probes.isEmpty) return None
    val resolver = spark.sessionState.conf.resolver
    def refuseOuter(why: String): Unit =
      verdicts.foreach(_.refuse(covering(candidates, rel), NotEligibleJoin(why)))
    if (!spark.sessionState.conf
        .getConfString("spark.sql.sources.bucketing.enabled", "true").toBoolean) {
      refuseOuter("spark.sql.sources.bucketing.enabled is false")
      return None
    }
    val hybridSafe = !spark.sessionState.conf
      .getConfString("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
      .toBoolean

    // outer bucketing is claimable only when every probe keys the outer
    // on the SAME columns (one scan, one bucketing) and those keys trace
    // to relation columns; otherwise fall back to inner-only swaps —
    // any per-probe failure below drops THAT probe, never the rule
    // (the documented partial eligibility)
    val outerKeysOpt: Option[Seq[AttributeReference]] = {
      val keySets = probes.map(_._3.map(_._1.exprId).toSet).distinct
      if (keySets.size != 1) None
      else {
        val traced = probes.head._3.map(p => traceToRel(f.child, rel, p._1))
        if (traced.forall(_.isDefined)) Some(traced.flatten)
        else None
      }
    }
    if (outerKeysOpt.isEmpty)
      refuseOuter("the probes do not key the outer relation on one set of its columns")
    val outerNeeded = neededColumns(f, rel)
    val outerBest = outerKeysOpt.flatMap { outerKeys =>
      coveringOf(candidates(rel)).filter { case (m, d) =>
        servesLeg(m, d, "outer", outerKeys.map(_.name),
          permutationFor(d.indexedColumns, outerKeys, resolver).isDefined,
          outerNeeded, hybridSafe, resolver, verdicts)
      }.sortBy { case (m, d) =>
        // coherence/demand tie-breaks mirror the other leg rules: an
        // outer probe layout an ancestor pairing can ride beats an
        // equivalent stranger (see ScoreBasedOptimizer)
        (!m.isExact, -d.numBuckets,
          -ScoreBasedOptimizer.coherence(d.indexedColumns, resolver),
          -ScoreBasedOptimizer.demand(d.indexedColumns, resolver),
          m.entry.indexDataSize, m.entry.name)
      }.headOption
    }

    // per probe: an inner index bucketed on the inner keys, aligned to
    // the OUTER index's key order THROUGH THIS PROBE'S OWN PAIRS (two
    // probes may list the same keys in different pair order — a shared
    // positional permutation would misalign the bucketing claim)
    val innerSubs = probes.flatMap { case (id, innerPlan, pairs) =>
      for {
        innerRel <- linearRelation(innerPlan, candidates)
        tracedPairs <- Some(pairs.map { p =>
          (traceToRel(f.child, rel, p._1),
            traceToRel(innerPlan, innerRel, p._2))
        }.collect { case (Some(o), Some(i)) => (o, i) })
        if (tracedPairs.size == pairs.size && isOneToOne(tracedPairs)) || {
          verdicts.foreach(_.refuse(covering(candidates, innerRel),
            NotEligibleJoin("probe keys are computed or do not pair one-to-one")))
          false
        }
        innerNeeded = neededColumns(innerPlan, innerRel)
        // when the outer index is claimed, order this probe's inner keys
        // by matching each outer indexed column to ITS pair's inner key;
        // otherwise any permutation of the probe's own keys qualifies
        ordered <- outerBest match {
          case Some((_, od)) =>
            val byOuter = od.indexedColumns.map(c =>
              tracedPairs.find(tp => resolver(tp._1.name, c)).map(_._2))
            if (byOuter.forall(_.isDefined)) Some(byOuter.flatten) else None
          case None => Some(tracedPairs.map(_._2))
        }
        im <- coveringOf(candidates(innerRel)).filter { case (m, d) =>
          servesLeg(m, d, "probe", ordered.map(_.name), outerBest match {
              case Some(_) =>
                d.indexedColumns.size == ordered.size &&
                  d.indexedColumns.zip(ordered.map(_.name))
                    .forall { case (a, b) => resolver(a, b) }
              case None =>
                permutationFor(d.indexedColumns, ordered, resolver).isDefined
            }, innerNeeded, hybridSafe, resolver, verdicts)
        }.sortBy { case (m, d) =>
          (!m.isExact, -d.numBuckets,
            -ScoreBasedOptimizer.coherence(d.indexedColumns, resolver),
            -ScoreBasedOptimizer.demand(d.indexedColumns, resolver),
            m.entry.indexDataSize, m.entry.name)
        }.headOption
      } yield (id, innerPlan, innerRel, im)
    }
    if (outerBest.isEmpty && innerSubs.isEmpty) return None

    def sideScore(m: CandidateMatch): Int = {
      val total = m.commonBytes + m.appendedBytes
      val ratio = if (m.isExact || total == 0) 1.0
        else m.commonBytes.toDouble / total
      math.max(1, math.round(RuleScores.JoinIndexPerSide * ratio).toInt)
    }
    val newChild = outerBest match {
      case Some((om, _)) =>
        substitute(spark, f.child, rel, JoinIndexRule.joinSide(spark, rel, om))
      case None => f.child
    }
    val byId = innerSubs.map(s => s._1 -> s).toMap
    val newCond = f.condition.transform {
      case e: Exists if byId.contains(e.exprId) =>
        val (_, innerPlan, innerRel, (im, _)) = byId(e.exprId)
        e.withNewPlan(substitute(spark, innerPlan, innerRel,
          JoinIndexRule.joinSide(spark, innerRel, im)))
      case l: ListQuery if byId.contains(l.exprId) =>
        val (_, innerPlan, innerRel, (im, _)) = byId(l.exprId)
        l.withNewPlan(substitute(spark, innerPlan, innerRel,
          JoinIndexRule.joinSide(spark, innerRel, im)))
    }
    val score = outerBest.map(b => sideScore(b._1)).getOrElse(0) +
      innerSubs.map(s => sideScore(s._4._1)).sum
    Some((Filter(newCond, newChild), score))
  }
}

/**
 * ONE-SIDED join acceleration (beyond the reference, which requires
 * index pairs): when exactly one side of an inner equi-join reduces to a
 * relation whose covering index is bucketed on that side's join keys
 * (and covers its needed columns), swap THAT side for the bucketed index
 * scan. The scan claims `HashPartitioning(keys, numBuckets)`, so
 * EnsureRequirements shuffles only the OTHER side to match — at 100 TB
 * this is the "never shuffle the big indexed dimension" plan: the probe
 * stream re-partitions, the indexed side streams straight off disk.
 *
 * Scores below a two-index pair (JoinIndexRule, which eliminates BOTH
 * exchanges) so the DP prefers pairs whenever they exist; the
 * non-indexed side is recursed so its own subtree rewrites still apply.
 */
object JoinOneSideIndexRule extends GraftIndexRule {
  import JoinIndexRule._

  override def apply(
      spark: SparkSession,
      plan: LogicalPlan,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      recurse: LogicalPlan => (LogicalPlan, Int),
      verdicts: Option[Verdicts]): Option[(LogicalPlan, Int)] = {
    val (join, pairs) =
      eligibleJoin(spark, plan, candidates, verdicts).getOrElse(return None)
    val hybridSafe = !spark.sessionState.conf
      .getConfString("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
      .toBoolean
    val resolver = spark.sessionState.conf.resolver

    def oneSide(isLeft: Boolean): Option[(LogicalPlan, Int)] = {
      val subtree = if (isLeft) join.left else join.right
      val other = if (isLeft) join.right else join.left
      val rel = linearRelation(subtree, candidates).getOrElse(return None)
      val keys = traceKeys(subtree, rel,
        (if (isLeft) pairs.map(_._1) else pairs.map(_._2)).distinct,
        candidates, verdicts).getOrElse(return None)
      val needed = neededColumns(subtree, rel)
      val allowSubset = subsetKeysAllowed(spark)
      val eligible = coveringOf(candidates(rel)).filter { case (m, d) =>
        servesLeg(m, d, if (isLeft) "left" else "right", keys.map(_.name),
          keyMappingFor(d.indexedColumns, keys, resolver, allowSubset).isDefined,
          needed, hybridSafe, resolver, verdicts)
      }
      val sessionBuckets = graft.index.GraftConf.numBuckets(spark)
      val best = eligible.sortBy { case (m, d) =>
        // session-bucket-count indexes first: a multi-join chain rewrites
        // one join at a time, and legs picking DIFFERENT bucket counts
        // re-shuffle against each other — conforming indexes compose.
        // Full-key before subset-key, then more buckets (parallelism),
        // most covered bytes, smallest index, name (two equivalent
        // indexes must pick the same winner in every session)
        // nested pair: >9 keys exceeds the tuple Ordering arity
        ((!m.isExact, d.numBuckets != sessionBuckets,
          d.indexedColumns.size != keys.distinct.size, -d.numBuckets,
          -m.commonBytes),
          // pair coherence (finding #12b: the bucket key an ancestor
          // join's other side can ride beats plain demand), then
          // interesting-orders demand, then canonical bucket-column
          // order for leg-coherent ties (see ScoreBasedOptimizer)
          (-ScoreBasedOptimizer.coherence(d.indexedColumns, resolver),
            -ScoreBasedOptimizer.demand(d.indexedColumns, resolver),
            d.indexedColumns.mkString(","),
            m.entry.indexDataSize, m.entry.name))
      }.headOption.getOrElse(return None)
      val newSide = substitute(spark, subtree, rel,
        joinSide(spark, rel, best._1))
      val (newOther, otherScore) = recurse(other)
      val ratio = {
        val m = best._1
        val total = m.commonBytes + m.appendedBytes
        if (m.isExact || total == 0) 1.0 else m.commonBytes.toDouble / total
      }
      val score = math.max(1,
        math.round(RuleScores.JoinIndexPerSide * ratio).toInt) + otherScore
      val rewritten =
        if (isLeft) join.copy(left = newSide, right = newOther)
        else join.copy(left = newOther, right = newSide)
      Some((rewritten, score))
    }

    (oneSide(isLeft = true).toSeq ++ oneSide(isLeft = false).toSeq)
      .sortBy(-_._2).headOption
  }
}

/**
 * Memoized best-score subtree rewrite (reference:
 * index/rules/ScoreBasedIndexPlanOptimizer.scala:31-81).
 *
 * INTERESTING ORDERS (beyond-reference, the System R idea): the DP's
 * scores are local, so two bucket layouts that serve the CURRENT
 * operator equally well tie — and independent per-operator tie-breaks
 * can pick INCOHERENT layouts across a plan (one leg orderkey-bucketed,
 * its consumer partkey-keyed), forcing re-shuffles a coherent choice
 * avoids. The recursion therefore threads the clustering columns
 * ancestors care about — join equi-keys, grouping keys, window
 * partition keys — down to the rules, which use the set ONLY to break
 * otherwise-equal ties toward the layout a consumer can ride.
 * Correctness never depends on it: it reorders candidates that already
 * passed every eligibility gate.
 */
object ScoreBasedOptimizer {

  private val rules: Seq[GraftIndexRule] =
    Seq(JoinIndexRule, JoinOneSideIndexRule, ExistsIndexRule, AggIndexRule,
      ZOrderFilterIndexRule, FilterIndexRule, DataSkippingRule)

  /** Stamped on the root of every rule rewrite the DP keeps, so usage
    * telemetry can report per-rule hit rates (an ops team tuning a
    * 100 TB corpus wants to know WHICH mechanism served, not just which
    * index). Read immediately after optimize() by ApplyGraft — later
    * optimizer batches may rebuild nodes without tags, which is fine
    * for a same-instant read. */
  val RuleTag: org.apache.spark.sql.catalyst.trees.TreeNodeTag[String] =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[String]("graft.rule")

  private def ruleName(r: GraftIndexRule): String =
    r.getClass.getSimpleName.stripSuffix("$")

  /** The full vocabulary of names [[RuleTag]] can carry — the taxonomy
    * an ops dashboard keys IndexUsageEvent.rules on. Pinned by
    * TelemetrySpec: renaming a rule or adding one must update the
    * pinned set deliberately. */
  def ruleVocabulary: Seq[String] = rules.map(ruleName)

  /** Rule names stamped in `plan` (subqueries included), in plan order. */
  def appliedRules(plan: LogicalPlan): Seq[String] = {
    val found = mutable.Buffer.empty[String]
    plan.foreachWithSubqueries { p =>
      p.getTagValue(RuleTag).foreach(found += _)
    }
    found.toSeq.distinct
  }

  /** Clustering columns wanted by ancestors of the node being rewritten,
    * with DEMAND COUNTS — a column two ancestors cluster on outweighs a
    * column one does (q75: the composite-key gate join wants both its
    * keys, but the part join above adds a second vote for partkey)
    * (thread-local: ApplyGraft may run in concurrent sessions). */
  private[rules] val interesting =
    new scala.util.DynamicVariable[Map[String, Int]](Map.empty)

  /** PAIR-COHERENT keys (ROUNDLOG finding #12b): for each ancestor join,
    * the equi-key names whose OTHER side can actually be served by a
    * covering index bucketed on them. Plain demand counts every key of
    * every ancestor equally — but when one leg of a composite-key join
    * is coverable by layouts with DIFFERENT bucket keys, the right
    * choice is the key the CONSUMER'S OTHER SIDE is partitioned on
    * (qds40: the returns leg is covered on both partkey and orderkey
    * buckets; the sales side can only ride orderkey — picking partkey
    * re-keys the collapsed stream). Threaded separately from
    * [[interesting]] and ranked ABOVE it in the leg rules: coherence is
    * evidence of an actual serveable pairing, demand is a preference. */
  private[rules] val coherent =
    new scala.util.DynamicVariable[Map[String, Int]](Map.empty)

  /** Total ancestor demand for a candidate's bucket columns. */
  private[rules] def demand(
      cols: Seq[String],
      resolver: Resolver): Int = {
    val want = interesting.value
    cols.map(c => want.collect { case (n, k) if resolver(n, c) => k }.sum).sum
  }

  /** Total pair-coherence votes for a candidate's bucket columns. */
  private[rules] def coherence(
      cols: Seq[String],
      resolver: Resolver): Int = {
    val want = coherent.value
    cols.map(c => want.collect { case (n, k) if resolver(n, c) => k }.sum).sum
  }

  /** Join equi-key names (both sides' spellings — matching is by name)
    * at pair positions where at least one side has an ELIGIBLE covering
    * index bucketed on (a subset-key mapping of) its keys and covering
    * its needed columns — i.e. keys a consumer pairing can actually
    * ride. Name-level like [[derives]]: the signal only reorders
    * already-eligible candidates. */
  private def coherentVotes(
      spark: SparkSession,
      j: Join,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]]): Set[String] = {
    val resolver = spark.sessionState.conf.resolver
    val pairs = j.condition.toSeq.flatMap(c =>
      JoinIndexRule.equiJoinPairs(c, j.left.outputSet, j.right.outputSet)
        .getOrElse(Nil))
    if (pairs.isEmpty) return Set.empty
    val allowSubset = JoinIndexRule.subsetKeysAllowed(spark)
    def servablePositions(side: LogicalPlan,
        keys: Seq[AttributeReference]): Set[Int] = {
      val rel = JoinIndexRule.linearRelation(side, candidates)
        .getOrElse(return Set.empty)
      val traced = keys.map(k =>
        JoinIndexRule.traceToRel(side, rel, k).getOrElse(return Set.empty))
      val needed = JoinIndexRule.neededColumns(side, rel)
      JoinIndexRule.coveringEligible(candidates(rel), rel)
        .filter { case (_, d) =>
          Coverage.covers(d.referencedColumns, needed, resolver) }
        .flatMap { case (_, d) =>
          JoinIndexRule.keyMappingFor(d.indexedColumns, traced, resolver,
            allowSubset).toSeq.flatten }
        .toSet
    }
    val served = servablePositions(j.left, pairs.map(_._1)) ++
      servablePositions(j.right, pairs.map(_._2))
    // both sides' spellings AND their dealiased source names (finding
    // #13): the chooser may sit below an aggregate that renamed the key
    served.flatMap(i =>
      namesOf(j.left, pairs(i)._1) ++ namesOf(j.right, pairs(i)._2)).toSet
  }

  /** Whether `child`'s output partitioning survives into `j`'s output —
    * the condition under which an ANCESTOR's coherence votes still
    * concern a layout choice inside `child`. A sort-merge join claims
    * PartitioningCollection(left, right) for Inner but only the
    * streamed/left side for the one-sided types: a vote that cannot
    * ride through the join must not bias a deeper leg (qds40: the part
    * join's partkey vote crossing into the LeftOuter gate's RIGHT leg
    * biased the returns collapse onto partkey buckets the sales side
    * can never meet). The join's OWN votes always reach both children —
    * co-partitioning at the join itself is side-symmetric. */
  private def coherencePropagates(j: Join, child: LogicalPlan): Boolean =
    j.joinType match {
      case Inner => true
      case LeftOuter | LeftSemi | LeftAnti => child eq j.left
      case _: org.apache.spark.sql.catalyst.plans.ExistenceJoin =>
        child eq j.left
      case RightOuter => child eq j.right
      case _ => false
    }

  /** Follow an attribute DOWN through SAME-GRAIN renames to the source
    * column it carries the value of: Project output aliases map to
    * their pass-through child attribute, Filter/Window pass through, a
    * Join descends into the side that outputs the attribute. Stops
    * (returns the current attribute) at anything else — leaves,
    * computed expressions, set operations, and DELIBERATELY at
    * Aggregates: a vote crossing an aggregate boundary changes GRAIN,
    * and letting post-aggregate consumers bias the pre-aggregate scan
    * choice un-bucketed qds78's three fact-grain channel joins to
    * serve one aggregate-grain join (observed during this change; the
    * through-aggregate rename class — finding #13's qds65 face — stays
    * governed by CorpusGovernanceSpec instead). Partially closes
    * finding #13 (alias-blind demand): a `select(l_partkey.as("pk"))`
    * consumer votes for "pk", but the candidate layouts' bucket
    * columns are the RELATION's names — without dealiasing, the
    * interesting-orders signal silently dies at every projection
    * rename. */
  private[index] def dealiasToSource(
      plan: LogicalPlan, a: AttributeReference): AttributeReference =
    plan match {
      case pr: Project =>
        pr.projectList.find(_.exprId == a.exprId) match {
          case Some(al: org.apache.spark.sql.catalyst.expressions.Alias) =>
            al.child match {
              case c: AttributeReference => dealiasToSource(pr.child, c)
              case _ => a
            }
          case Some(ar: AttributeReference) => dealiasToSource(pr.child, ar)
          case _ => a
        }
      case f: Filter => dealiasToSource(f.child, a)
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        dealiasToSource(w.child, a)
      case j: Join =>
        if (j.left.outputSet.contains(a)) dealiasToSource(j.left, a)
        else if (j.right.outputSet.contains(a)) dealiasToSource(j.right, a)
        else a
      case _ => a
    }

  /** The attribute's own name plus its dealiased source name. */
  private def namesOf(side: LogicalPlan, a: AttributeReference): Seq[String] =
    Seq(a.name, dealiasToSource(side, a).name).distinct

  /** Columns a node makes interesting FOR ITS CHILDREN. Names, not
    * exprIds — index matching is by column name and the signal is a
    * preference — but each name is emitted BOTH as spelled at the node
    * AND dealiased to its source column (finding #13: the chooser deep
    * in a renamed CTE matches candidates by the relation's names).
    * (private[index]: PlanAnalysis re-derives demand for whyNot.) */
  private[index] def derives(p: LogicalPlan): Set[String] = p match {
    case j: Join =>
      j.condition.toSeq.flatMap(JoinIndexRule.splitConjuncts).flatMap {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          val aSide = if (j.left.outputSet.contains(a)) j.left else j.right
          val bSide = if (j.left.outputSet.contains(b)) j.left else j.right
          namesOf(aSide, a) ++ namesOf(bSide, b)
        case _ => Nil
      }.toSet
    case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
      a.groupingExpressions.flatMap {
        case ar: AttributeReference => namesOf(a.child, ar)
        case al: org.apache.spark.sql.catalyst.expressions.Alias =>
          al.child match {
            case c: AttributeReference => namesOf(a.child, c)
            case _ => Nil
          }
        case _ => Nil
      }.toSet
    case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
      w.partitionSpec.flatMap {
        case ar: AttributeReference => namesOf(w.child, ar)
        case _ => Nil
      }.toSet
    case _ => Set.empty
  }

  def optimize(
      spark: SparkSession,
      plan: LogicalPlan,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      verdicts: Option[Verdicts] = None): LogicalPlan = {
    val memo = mutable.HashMap
      .empty[(LogicalPlan, Map[String, Int], Map[String, Int]),
        (LogicalPlan, Int)]

    def rec(p: LogicalPlan): (LogicalPlan, Int) =
      memo.getOrElseUpdate((p, interesting.value, coherent.value), {
        // rules see the ANCESTOR sets; recursion into subtrees (both the
        // rules' own and the noop path) additionally carries what p
        // itself wants from its children
        val childSet = RuleTimer.timed("SBO.derives") {
          derives(p).foldLeft(interesting.value)(
            (m, n) => m.updated(n, m.getOrElse(n, 0) + 1))
        }
        val ownVotes: Set[String] = p match {
          case j: Join => RuleTimer.timed("SBO.coherentVotes") {
            coherentVotes(spark, j, candidates)
          }
          case _ => Set.empty
        }
        val recurse: LogicalPlan => (LogicalPlan, Int) = x => {
          // ancestor coherence crosses a join only into the child whose
          // partitioning survives it; the join's own votes reach both
          val inherited = p match {
            case j: Join if !coherencePropagates(j, x) =>
              Map.empty[String, Int]
            case _ => coherent.value
          }
          val childCoherent = ownVotes.foldLeft(inherited)(
            (m, n) => m.updated(n, m.getOrElse(n, 0) + 1))
          interesting.withValue(childSet)(
            coherent.withValue(childCoherent)(rec(x)))
        }
        val applied = rules.flatMap(r =>
          RuleTimer.timed("SBO.rule." + ruleName(r)) {
            r.apply(spark, p, candidates, recurse, verdicts)
          }.map { case (pl, s) =>
            (pl, s, Some(r))
          })
        val noop: (LogicalPlan, Int, Option[GraftIndexRule]) =
          if (p.children.isEmpty) (p, 0, None)
          else {
            val rewritten = p.children.map(recurse)
            (p.withNewChildren(rewritten.map(_._1)), rewritten.map(_._2).sum,
              None)
          }
        // stamp the telemetry tag on the WINNER only: a losing
        // candidate's tag must never pollute the kept plan, and a rule
        // that ever returned its input unchanged would otherwise stamp
        // the noop path too
        val (bestPlan, bestScore, bestRule) = (applied :+ noop).maxBy(_._2)
        bestRule.foreach(r => bestPlan.setTagValue(RuleTag, ruleName(r)))
        (bestPlan, bestScore)
      })

    interesting.withValue(Map.empty)(coherent.withValue(Map.empty)(
      rec(plan)))._1
  }
}
