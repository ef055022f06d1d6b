package graft.index.rules

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualNullSafe, EqualTo, Expression, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.index.{GraftConf, GraftRuleGuard}

/**
 * Hoist a dim-side LeftSemi GATE back above its parent inner join when
 * both join legs could ride a bucketed index pair (beyond-reference —
 * the reference rewrites scans only and never repairs operator order).
 *
 * The hazard this closes recurred in two independent TPC-DS ports:
 * Catalyst's PushDownLeftSemiAntiJoin pushes an `IN (subquery)` /
 * INTERSECT-lowered semi join below the fact⋈dim join onto the DIM leg
 * — locally sensible (filter early), but the dim leg stops being a
 * scan and NO covering-index pair can serve the join: at 100 TB the
 * "optimization" trades a tiny gate for a full re-shuffle of the fact
 * (qds38: INTERSECT semi-pushdown un-bucketing; qds33: the same via a
 * dim-keyed IN gate — ROUNDLOG findings #6 and #10).
 *
 * Rewrite (semantics-preserving for a DIRECT LeftSemi child of an
 * INNER join): `fact ⋈ (dim ⋉ gate)` → `(fact ⋈ dim) ⋉ gate`. A semi
 * join never duplicates or extends its left side and the gate cannot
 * reference the fact leg (it sits below the semi), so the kept row set
 * is identical — only evaluated later, on the joined stream, where the
 * tiny gate side broadcasts at runtime.
 *
 * GRAIN-AWARE PLACEMENT (second stage): when the consumer of a hoisted
 * gate is an Aggregate whose output carries every gate key (the keys
 * are grouping pass-throughs), the gate is placed ABOVE the aggregate:
 * `Agg(g, (fact ⋈ dim) ⋉ gate)` → `Agg(g, fact ⋈ dim) ⋉ gate`. The
 * semi removes whole groups, never rows within a kept group (its keys
 * are constant per group), so aggregate-then-gate ≡ gate-then-
 * aggregate — but the physical plans differ sharply: below the
 * aggregate the semi demands a hash partitioning of the ROW-grain
 * joined stream, above it the same exchange carries partially-
 * aggregated rows (the qds33 hand-tuned form; this makes the natural
 * qds56 SQL spelling plan identically). Applied only to gates this
 * rule itself hoisted — a user-placed semi under an aggregate keeps
 * its spelling.
 *
 * Fires conservatively: only when the dim leg (minus the gate) is a
 * plain deterministic Project/Filter scan chain AND BOTH the dim leaf
 * and a leaf on the other join leg have candidate covering indexes —
 * i.e. exactly when the pushdown robbed an available bucketed pair.
 * Without candidates the pushed-down shape is kept (filtering the dim
 * early is the right call when nothing is bucketed). Both joins must
 * carry NO hint: a user hint is a directive pinned to its operand, and
 * repositioning the operands would silently re-target it (e.g. a
 * BROADCAST on the dim leg landing on the whole fact⋈dim subtree).
 * And a pushed-down semi whose OWN keys ride the leg's bucket keys
 * (subset-key co-partitioning — qds23's shape, where the semi on
 * l_partkey sits on a partkey-bucketed fact) is servable exactly where
 * it is: hoisting would churn an already-optimal plan, so it stays.
 * `transformUp` handles gates at any join depth; conf-gated
 * (`spark.graft.hoistSemiGate.enabled`, default on) and fail-safe like
 * every entry rule. Runs pre-CBO immediately before [[ApplyGraft]] so
 * the index rules see the repaired scan pair. Candidate collection is
 * memoized per invocation — a plan with many joins lists index/source
 * files once per distinct leg, not once per pattern probe.
 */
class HoistSemiGate(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper with Logging {

  import HoistSemiGate._

  override def apply(plan: LogicalPlan): LogicalPlan = RuleTimer.timed("HoistSemiGate") {
    if (!GraftConf.applyEnabled(spark) || GraftRuleGuard.isDisabled ||
        !enabled) return plan
    try rewrite(plan, None)
    catch {
      case NonFatal(e) =>
        logWarning(s"graft: semi-gate hoist failed, using original plan: $e")
        plan
    }
  }

  /** Decision report for explain/whyNot: dry-runs the rewrite on an
    * UN-hoisted plan (PlanAnalysis plans one under the rule guard
    * anyway) and returns one TYPED decision per gate — gates it would
    * move (with the breadcrumb, including the grain-aware placement)
    * and gates it deliberately keeps in place because they are servable
    * on their leg's buckets. The report reads tags off the FRESH
    * transform result, so it is immune to later optimizer batches
    * rebuilding the join without tags (which makes the breadcrumb on a
    * final optimized plan best-effort only).
    *
    * A caller that already holds the active-index list and a candidate
    * map for THIS plan and its subquery plans (whyNot collects both
    * anyway) threads them in,
    * and the dry-run re-lists neither the catalog nor the source files
    * — the candidate map is keyed by the plan's own relation leaves, so
    * per-subtree probing is a leaf lookup. */
  def decisions(
      plan: LogicalPlan,
      indexes: Option[Seq[graft.index.IndexLogEntry]] = None,
      candidates: Option[Map[LogicalPlan, Seq[CandidateMatch]]] = None)
      : Seq[GateDecision] = {
    if (!enabled) return Nil
    val kept = mutable.Buffer.empty[GateDecision]
    val out = try rewrite(plan, Some(kept), indexes, candidates)
      catch { case NonFatal(_) => plan }
    val moved = mutable.Buffer.empty[GateDecision]
    out.foreachWithSubqueries { p =>
      p match {
        case j: Join => j.getTagValue(HoistedTag)
          .foreach(t => moved += GateDecision(HoistedCode, s"semi gate hoisted $t"))
        case _ => ()
      }
    }
    (moved ++ kept).toSeq.distinct
  }

  private def rewrite(plan: LogicalPlan,
      keptLog: Option[mutable.Buffer[GateDecision]],
      knownIndexes: Option[Seq[graft.index.IndexLogEntry]] = None,
      knownCandidates: Option[Map[LogicalPlan, Seq[CandidateMatch]]] = None)
      : LogicalPlan = {
    val indexes = knownIndexes.getOrElse(IndexCatalog.activeIndexes(spark))
    if (indexes.isEmpty) return plan
    // per-invocation memo: eligible() probes candidates on both legs
    // of every matched join — collect() walks the catalog and the
    // source file listing, so cache per subtree within this pass. A
    // pre-collected map (keyed by relation leaves; collect() omits
    // match-less leaves, so absent keys contribute nothing, exactly
    // like a fresh collect) short-circuits the listing entirely.
    val memo = mutable.Map.empty[LogicalPlan, Seq[CandidateMatch]]
    def cands(p: LogicalPlan): Seq[CandidateMatch] =
      memo.getOrElseUpdate(p, knownCandidates match {
        case Some(byLeaf) => p.collectLeaves().flatMap(byLeaf.get).flatten
        case None => IndexCandidates.collect(spark, Seq(p), indexes).values.flatten.toSeq
      })
    // subqueries too: RewritePredicateSubquery lowers IN/EXISTS into
    // the main plan, but a gate INSIDE a remaining subquery plan
    // (scalar or nested) robs its pair just the same
    plan.transformUpWithSubqueries {
      case j @ Join(left,
            sj @ Join(dim, _, LeftSemi, semiCond, shint), Inner, _, jhint)
          if jhint == JoinHint.NONE && shint == JoinHint.NONE &&
            eligible(left, dim, semiCond, cands, keptLog) =>
        tagHoisted(sj.copy(left = j.copy(right = dim)), dim, semiCond)
      case j @ Join(sj @ Join(dim, _, LeftSemi, semiCond, shint),
            right, Inner, _, jhint)
          if jhint == JoinHint.NONE && shint == JoinHint.NONE &&
            eligible(right, dim, semiCond, cands, keptLog) =>
        tagHoisted(sj.copy(left = j.copy(left = dim)), dim, semiCond)
      // the same two shapes with a PRUNING PROJECT over the semi (when
      // the gate key is not needed above, ColumnPruning interposes
      // one): hoist through it — the project keeps pruning the dim leg
      // (gate keys re-admitted), and a restoring projection above the
      // lifted semi preserves the join's exact output
      case j @ Join(left,
            pr @ Project(_, sj @ Join(dim, _, LeftSemi, semiCond, shint)),
            Inner, _, jhint)
          if jhint == JoinHint.NONE && shint == JoinHint.NONE &&
            pr.projectList.forall(_.deterministic) &&
            eligible(left, dim, semiCond, cands, keptLog) =>
        hoistThroughProject(j, pr, sj, dim, semiCond, dimOnLeft = false)
      case j @ Join(
            pr @ Project(_, sj @ Join(dim, _, LeftSemi, semiCond, shint)),
            right, Inner, _, jhint)
          if jhint == JoinHint.NONE && shint == JoinHint.NONE &&
            pr.projectList.forall(_.deterministic) &&
            eligible(right, dim, semiCond, cands, keptLog) =>
        hoistThroughProject(j, pr, sj, dim, semiCond, dimOnLeft = true)
      // grain-aware second stage: the aggregate DIRECTLY above a
      // hoisted gate (through optional pruning Projects) absorbs
      // it when the gate keys survive as grouping pass-throughs
      case agg: Aggregate if gateOf(agg.child).exists(sj =>
            sj.getTagValue(HoistedTag).isDefined) =>
        pullGateAboveAggregate(agg).getOrElse(agg)
    }
  }

  /** `fact ⋈ Project(dim ⋉ gate)` → `Project'(fact ⋈ Project''(dim) ⋉
    * gate)`: the pruning project stays on the dim leg with the gate's
    * key columns re-admitted (the semi condition must still resolve
    * above the join), and the outer projection restores the join's
    * original output exactly. */
  private def hoistThroughProject(j: Join, pr: Project, sj: Join,
      dim: LogicalPlan, semiCond: Option[Expression],
      dimOnLeft: Boolean): LogicalPlan = {
    val semiRefs = semiCond.toSeq.flatMap(_.references)
      .filter(dim.outputSet.contains).distinct
    val readmitted = semiRefs.filterNot(a =>
      pr.projectList.exists(_.toAttribute.exprId == a.exprId))
    val prunedDim = pr.copy(projectList = pr.projectList ++ readmitted,
      child = dim)
    val inner =
      if (dimOnLeft) j.copy(left = prunedDim) else j.copy(right = prunedDim)
    val lifted = tagHoisted(sj.copy(left = inner), dim, semiCond)
    Project(j.output, lifted)
  }

  private def enabled: Boolean = spark.conf
    .getOption("spark.graft.hoistSemiGate.enabled")
    // degrade-to-default on a malformed value, but warn once naming the
    // key and value — a typo'd intent to disable must leave a signal.
    // The once-guard is a companion-object CAS: rule instances are
    // created per query (and per explain dry-run) on concurrent
    // threads, so an instance-level var would both race and reset
    .forall(v => scala.util.Try(v.toBoolean).getOrElse {
      if (warnedMalformed.compareAndSet(false, true)) {
        logWarning(s"graft: malformed value '$v' for " +
          "spark.graft.hoistSemiGate.enabled; expected true|false — " +
          "using the default (enabled)")
      }
      true
    })

  private def tagHoisted(sj: Join, dim: LogicalPlan,
      semiCond: Option[Expression]): Join = {
    sj.setTagValue(HoistedTag,
      s"above bucketed pair on (${gateKeys(dim, semiCond).mkString(", ")})")
    sj
  }

  /** The hoisted LeftSemi under `p` (through an optional deterministic
    * pruning Project Catalyst may have interposed). */
  private def gateOf(p: LogicalPlan): Option[Join] = p match {
    case sj @ Join(_, _, LeftSemi, _, _) => Some(sj)
    case pr: Project if pr.projectList.forall(_.deterministic) =>
      gateOf(pr.child)
    case _ => None
  }

  /** `Agg(g, [Project] (l ⋉ gate))` → `Agg(g, [Project] l) ⋉ gate`,
    * rewriting the semi condition's left-side references onto the
    * aggregate's OUTPUT attributes. Eligible only when every left-side
    * reference of the condition maps through the (optional) Project and
    * the aggregate output as a plain attribute pass-through — which,
    * post-analysis, means each is a grouping key, i.e. constant within
    * a group, i.e. the gate drops whole groups and commutes with the
    * aggregation. Returns None (keep the shape) otherwise. */
  private def pullGateAboveAggregate(agg: Aggregate): Option[LogicalPlan] = {
    if (!agg.groupingExpressions.forall(_.deterministic)) return None
    // collect the (possibly multi-level) pruning-project chain between
    // the aggregate and the semi — the project-tolerant hoist leaves a
    // restoring projection over the lifted gate, so two stacked
    // projects is a normal shape here
    val chain = mutable.Buffer.empty[Project]
    var cur = agg.child
    while (cur.isInstanceOf[Project] &&
        cur.asInstanceOf[Project].projectList.forall(_.deterministic)) {
      chain += cur.asInstanceOf[Project]
      cur = cur.asInstanceOf[Project].child
    }
    val sj = cur match {
      case j @ Join(_, _, LeftSemi, _, _) => j
      case _ => return None
    }
    val cond = sj.condition.getOrElse(return None)
    if (!cond.deterministic) return None

    // exprId -> output attribute maps for plain pass-throughs
    import org.apache.spark.sql.catalyst.expressions.ExprId
    def outMap(exprs: Seq[NamedExpression]): Map[ExprId, Attribute] =
      exprs.collect {
        case a: AttributeReference => a.exprId -> (a: Attribute)
        case al @ Alias(c: AttributeReference, _) =>
          c.exprId -> al.toAttribute
      }.toMap
    // innermost project first, then outward, then the aggregate output
    val maps: Seq[Map[ExprId, Attribute]] =
      chain.reverse.map(p => outMap(p.projectList)).toSeq :+
        outMap(agg.aggregateExpressions)

    val leftSet = sj.left.outputSet
    var ok = true
    val newCond = cond.transform {
      case a: AttributeReference if leftSet.contains(a) =>
        maps.foldLeft(Option(a: Attribute))((cur, m) =>
          cur.flatMap(x => m.get(x.exprId))) match {
          case Some(mapped) => mapped
          case None => ok = false; a
        }
    }
    if (!ok) return None

    // rebuild the chain with the semi's left in the innermost slot
    val newChild = chain.reverse.foldLeft(sj.left: LogicalPlan)(
      (c, p) => p.copy(child = c))
    val newAgg = agg.copy(child = newChild)
    val lifted = sj.copy(left = newAgg, condition = Some(newCond))
    lifted.setTagValue(HoistedTag,
      sj.getTagValue(HoistedTag).getOrElse("above bucketed pair") +
        "; gate placed above aggregate (keys are grouping pass-throughs)")
    Some(lifted)
  }

  /** The dim leg must be a deterministic scan chain (the shape the
    * pushdown broke), both legs must have index candidates — the hoist
    * only pays when a bucketed pair is actually on the table — and the
    * semi must NOT already be servable in place on the leg's buckets
    * (that negative is reported to `keptLog` for explain/whyNot). */
  private def eligible(other: LogicalPlan, dim: LogicalPlan,
      semiCond: Option[Expression],
      cands: LogicalPlan => Seq[CandidateMatch],
      keptLog: Option[mutable.Buffer[GateDecision]]): Boolean = {
    if (!scanChain(dim)) return false
    val dimMatches = cands(dim)
    if (dimMatches.isEmpty || cands(other).isEmpty) return false
    if (gateKeys(dim, semiCond).isEmpty) return false // nothing to ride
    val servedCols = servableInPlace(dim, semiCond, dimMatches)
    servedCols.foreach { cols =>
      keptLog.foreach(_ += GateDecision(KeptCode, "semi gate kept in place on " +
        s"(${gateKeys(dim, semiCond).distinct.mkString(", ")}) — servable " +
        s"on leg bucket keys (${cols.mkString(", ")})"))
    }
    servedCols.isEmpty
  }

  /** A pushed-down semi rides the leg's layout when some candidate's
    * BUCKET keys are a subset of the semi's own equi-keys on that leg
    * (the subset-key co-partitioning rule serves it without a shuffle
    * right where it sits). Returns the serving bucket keys, for the
    * kept-in-place decision report. */
  private def servableInPlace(dim: LogicalPlan,
      semiCond: Option[Expression],
      matches: Seq[CandidateMatch]): Option[Seq[String]] = {
    val resolver = spark.sessionState.conf.resolver
    val dimKeys = gateKeys(dim, semiCond)
    matches.collectFirst {
      case m if (m.entry.descriptor match {
        case ci: graft.index.covering.CoveringIndexDescriptor =>
          ci.indexedColumns.nonEmpty && ci.indexedColumns.forall(c =>
            dimKeys.exists(k => resolver(c, k)))
        case _ => false
      }) => m.entry.descriptor.indexedColumns
    }
  }

  /** The semi's equi-key names on the gated leg. */
  private def gateKeys(dim: LogicalPlan,
      semiCond: Option[Expression]): Seq[String] =
    semiCond.toSeq.flatMap(splitConjunctivePredicates).collect {
      case EqualTo(a: Attribute, _) if dim.outputSet.contains(a) => a.name
      case EqualTo(_, a: Attribute) if dim.outputSet.contains(a) => a.name
      case EqualNullSafe(a: Attribute, _) if dim.outputSet.contains(a) => a.name
      case EqualNullSafe(_, a: Attribute) if dim.outputSet.contains(a) => a.name
    }

  private def scanChain(p: LogicalPlan): Boolean = p match {
    case _: LogicalRelation => true
    case f: Filter if f.condition.deterministic => scanChain(f.child)
    case pr: Project if pr.projectList.forall(_.deterministic) =>
      scanChain(pr.child)
    case _ => false
  }
}

object HoistSemiGate {
  /** Breadcrumb on a hoisted LeftSemi join, read by PlanAnalysis for
    * the explain `=== Logical decisions ===` section — the hoist is
    * otherwise invisible (a repaired gate renders like any plan). */
  val HoistedTag: TreeNodeTag[String] = TreeNodeTag[String]("graft.semiGateHoisted")

  /** Stable decision codes for whyNot — shared constants, never derived
    * by string-matching the human-readable detail. */
  val HoistedCode = "SEMI_GATE_HOISTED"
  val KeptCode = "SEMI_GATE_KEPT_IN_PLACE"

  /** One operator-order decision: `code` is [[HoistedCode]] or
    * [[KeptCode]]; `detail` is the human-readable line explain prints. */
  case class GateDecision(code: String, detail: String)

  private val warnedMalformed =
    new java.util.concurrent.atomic.AtomicBoolean(false)
}
