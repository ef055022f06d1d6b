package graft.index.analysis

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.index.{IndexLogEntry, IndexState, IndexManager}
import graft.index.dataskipping.DataSkippingIndexDescriptor
import graft.index.rules.{CandidateMatch, IndexCandidates, ScoreBasedOptimizer, Verdict, Verdicts}
import graft.index.sources.SourceLeaf
import graft.index.zorder.ZOrderIndexDescriptor

/**
 * Plan introspection: `explain` (plans with/without index acceleration)
 * and `whyNot` (per-index reasons an index was not applied). Reference:
 * index/plananalysis/PlanAnalyzer.scala:48-143,
 * CandidateIndexAnalyzer.scala:29-346, FilterReason.scala:33-158.
 */
object PlanAnalysis {
  import Reasons._

  /** Names of graft indexes applied in the plan (every substituted scan
    * carries the index name in its marker option). */
  def appliedIndexes(spark: SparkSession, df: DataFrame): Seq[String] =
    IndexCandidates.appliedIn(df.queryExecution.optimizedPlan)

  def explain(spark: SparkSession, df: DataFrame, verbose: Boolean = false): String = {
    val withQe = df.queryExecution
    val withPlan = withQe.optimizedPlan
    // re-plan without index rewrites under the THREAD-LOCAL guard, never
    // by toggling the shared session conf: a concurrent query planned in
    // that window would silently lose all index acceleration
    val withoutPlan = graft.index.GraftRuleGuard.withRuleDisabled {
      spark.sessionState.executePlan(withQe.logical).optimizedPlan
    }
    val applied = appliedIndexes(spark, df)
    val sb = new StringBuilder
    sb.append("=== Graft: applied indexes ===\n")
    sb.append(if (applied.isEmpty) "(none)\n" else applied.mkString(", ") + "\n")
    sb.append("\n=== Plan with indexes ===\n").append(withPlan.treeString)
    sb.append("\n=== Plan without indexes ===\n").append(withoutPlan.treeString)
    sb.append("\n").append(operatorDiffTable(spark, withQe))
    sb.append(logicalNotes(spark, withoutPlan))
    sb.append(physicalNotes(withQe))
    if (verbose) {
      sb.append("\n=== Physical plan with indexes ===\n")
        .append(withQe.executedPlan.toString)
    }
    render(spark, sb.toString, applied)
  }

  /** One-line annotations for the LOGICAL operator-order decisions
    * (HoistSemiGate): a hoisted gate renders as an ordinary plan and
    * its TreeNodeTag breadcrumb does not reliably survive the
    * post-rewrite optimizer batches, so the decisions are re-DERIVED by
    * dry-running the rule on the un-rewritten plan explain computes
    * anyway. Zero bytes when no semi-gate shape is involved. */
  private def logicalNotes(
      spark: SparkSession, withoutPlan: LogicalPlan): String = {
    val ds = new graft.index.rules.HoistSemiGate(spark)
      .decisions(withoutPlan)
    if (ds.isEmpty) ""
    else ds.map(d => s"logical: ${d.detail}\n")
      .mkString("\n=== Logical decisions ===\n", "", "")
  }

  /** One-line annotations for the PHYSICAL rule decisions the logical
    * with/without comparison cannot show: an AlignAggExchange re-key
    * renders like any other exchange, and a sorted bucketed scan's
    * ordering claim shows only as an ABSENT Sort — the operator-diff
    * table counts the missing node but not WHY. Empty (zero bytes) when
    * neither fired, so unaffected explains render unchanged. */
  private def physicalNotes(
      qe: org.apache.spark.sql.execution.QueryExecution): String = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: nodes(q.plan)
      case other => p +: other.children.flatMap(nodes)
    }
    val all = nodes(qe.executedPlan)
    val aligned = all.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.getTagValue(graft.execution.AlignAggExchange.AlignedTag)
    }.flatten
    val sortClaims = all.collect {
      case s: FileSourceScanExec
          if s.bucketedScan && s.outputOrdering.nonEmpty =>
        val cols = s.outputOrdering.map(_.child match {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name
          case other => other.sql
        })
        // index data lives at .../<indexName>/v__N/part-*; fall back to
        // the scan's own root for non-index bucketed sources
        val src = s.relation.location.rootPaths.headOption.map { p =>
          val segs = p.toString.split("/")
          val i = segs.lastIndexWhere(_.startsWith("v__"))
          if (i > 0) segs(i - 1) else p.getName
        }.getOrElse("?")
        (src, cols)
    }.distinct
    if (aligned.isEmpty && sortClaims.isEmpty) ""
    else {
      val sb = new StringBuilder("\n=== Physical decisions ===\n")
      aligned.foreach(ks => sb.append(
        s"physical: aligned agg exchange on (${ks.mkString(", ")})\n"))
      sortClaims.foreach { case (src, cols) => sb.append(
        s"physical: sort claimed by bucketed scan $src " +
          s"(${cols.mkString(", ")})\n") }
      sb.toString
    }
  }

  /** Display-mode rendering for explain output (reference:
    * plananalysis/DisplayMode.scala:24-90 — plaintext / html / console
    * modes with overridable highlight tags, re-derived Spark-first as
    * session confs). Every occurrence of an applied index's name is
    * highlighted — including inside the plan's scan Locations, which is
    * how a reader spots the swapped-in index scans. Plaintext is the
    * default and, with no applied indexes, renders byte-identical to
    * the raw text. */
  private def render(
      spark: SparkSession, raw: String, applied: Seq[String]): String = {
    def conf(k: String, dflt: String): String =
      spark.sessionState.conf.getConfString(s"spark.graft.explain.$k", dflt)
    val htmlBold = "<b style=\"background:LightGreen\">"
    val (open, close, nl, beginEnd) =
      conf("displayMode", "plaintext").toLowerCase match {
        case "html" => (htmlBold, "</b>", "<br>", ("<pre>", "</pre>"))
        case "console" => (Console.GREEN_B, Console.RESET, "\n", ("", ""))
        case _ => ("<----", "---->", "\n", ("", ""))
      }
    val (hb, he) = (conf("displayMode.highlight.beginTag", ""),
      conf("displayMode.highlight.endTag", ""))
    val tag = if (hb.nonEmpty && he.nonEmpty) (hb, he) else (open, close)
    // one single-pass alternation, longest name first: each text region
    // is tagged at most once, so a shorter applied name that happens to
    // be a prefix/substring of a longer one ("idx" / "idx2_join") can
    // never re-match inside the longer name's already-inserted tags
    val highlighted =
      if (applied.isEmpty) raw
      else {
        val alt = applied.sortBy(-_.length)
          .map(scala.util.matching.Regex.quote).mkString("|")
        alt.r.replaceAllIn(raw,
          m => scala.util.matching.Regex.quoteReplacement(
            tag._1 + m.matched + tag._2))
      }
    // plaintext/console keep real newlines; html swaps them
    val body = if (nl == "\n") highlighted else highlighted.replace("\n", nl)
    beginEnd._1 + body + beginEnd._2
  }

  /** Physical-operator count comparison between the accelerated and
    * unaccelerated plans (reference:
    * plananalysis/PhysicalOperatorAnalyzer.scala — same with/without
    * op-count table, re-derived). Rows where the count changed are
    * starred; sorting is by name for stable golden text. */
  private def operatorDiffTable(spark: SparkSession,
      withQe: org.apache.spark.sql.execution.QueryExecution): String = {
    def counts(p: org.apache.spark.sql.execution.SparkPlan): Map[String, Int] = {
      // compare the deterministic pre-AQE plan (AdaptiveSparkPlanExec
      // hides its real tree from collect, and the final plan depends on
      // runtime stats)
      val unwrapped = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          // the current (initial, pre-execution) physical plan — exchanges
          // already placed by EnsureRequirements, no runtime re-plan yet
          a.executedPlan
        case other => other
      }
      unwrapped.collect { case n => n.nodeName }
        .groupBy(identity).map { case (k, v) => k -> v.size }
    }
    val withCounts = counts(withQe.executedPlan)
    val withoutCounts = graft.index.GraftRuleGuard.withRuleDisabled {
      counts(spark.sessionState.executePlan(withQe.logical).executedPlan)
    }
    val names = (withCounts.keySet ++ withoutCounts.keySet).toSeq.sorted
    val rows = names.map { n =>
      val w = withCounts.getOrElse(n, 0)
      val wo = withoutCounts.getOrElse(n, 0)
      (n, wo.toString, w.toString,
        (if (w != wo) f"${w - wo}%+d *" else "0"))
    }
    val header = ("Physical Operator", "Without Index", "With Index", "Difference")
    val all = header +: rows
    def width(f: ((String, String, String, String)) => String): Int =
      all.map(f(_).length).max
    val (w1, w2, w3, w4) =
      (width(_._1), width(_._2), width(_._3), width(_._4))
    def line(r: (String, String, String, String)): String =
      s"| ${r._1.padTo(w1, ' ')} | ${r._2.reverse.padTo(w2, ' ').reverse} | " +
        s"${r._3.reverse.padTo(w3, ' ').reverse} | ${r._4.reverse.padTo(w4, ' ').reverse} |"
    val sep = s"+${"-" * (w1 + 2)}+${"-" * (w2 + 2)}+${"-" * (w3 + 2)}+${"-" * (w4 + 2)}+"
    (Seq("=== Physical operator stats (with vs without indexes) ===",
      sep, line(header), sep) ++ rows.map(line) :+ sep).mkString("", "\n", "\n")
  }

  /** Per-index reasons why each ACTIVE index was / was not applied: the
    * verdicts the rules wrote when replaying ApplyGraft's candidate
    * collection and optimizer on the pre-rewrite plan. */
  def whyNot(spark: SparkSession, df: DataFrame,
      indexName: Option[String] = None): String = {
    val manager = new IndexManager(spark)
    // the name filter restricts REPORTING only: candidate collection must
    // see every active index, or join-pair diagnostics can't tell "the
    // other side has an index that doesn't align" from "has none"
    val all = manager.getIndexes(Set(IndexState.Active))
    val report = all.filter(e => indexName.forall(_ == e.name))
    if (report.isEmpty)
      return indexName.map(n => s"Index '$n' does not exist or is not ACTIVE")
        .getOrElse("No ACTIVE indexes")

    val applied = appliedIndexes(spark, df).toSet
    // analyze the PRE-REWRITE optimized plan: once a rewrite fires, the
    // original relation is gone from df's plan and every not-applied
    // index would misreport NO_FILE_BASED_SOURCE. Thread-local guard,
    // not a session-conf toggle — concurrent planning must keep rewrites.
    val plan = graft.index.GraftRuleGuard.withRuleDisabled {
      spark.sessionState.executePlan(df.queryExecution.logical).optimizedPlan
    }
    val leaves = IndexCandidates.sourceLeaves(spark, plan)
    val verdicts = new Verdicts
    val candidates =
      IndexCandidates.collect(spark, plan +: plan.subqueriesAll, all, Some(verdicts))
    val collected = verdicts.log.size
    // ApplyGraft's fail-safe: a rewrite that throws leaves the plan as
    // it is, and the verdicts written before the failure stand
    if (candidates.nonEmpty) try {
      ScoreBasedOptimizer.optimize(spark, plan, candidates, Some(verdicts))
    } catch { case NonFatal(_) => () }
    val (fromCollect, fromRules) = verdicts.log.toSeq.splitAt(collected)
    val resolver = spark.sessionState.conf.resolver

    val sb = new StringBuilder
    report.foreach { e =>
      sb.append(s"Index '${e.name}' [${e.descriptor.kindAbbr}]: ")
      if (applied.contains(e.name)) sb.append("APPLIED\n")
      else {
        def mine(vs: Seq[Verdict]) = vs.filter(_.index == e.name)
        sb.append(notAppliedReasons(e, leaves.nonEmpty, mine(fromCollect),
          candidates.values.exists(_.exists(_.entry.name == e.name)),
          mine(fromRules), applied.toSeq.sorted match {
            case Seq() => Seq(Outscored())
            case names => names.map(winner =>
              interestingOrderTie(e, winner, leaves, candidates, plan, resolver)
                .getOrElse(AnotherIndexApplied(winner)))
          }).mkString("; ")).append('\n')
      }
    }
    // plan-level operator-order decisions (not per-index): a semi gate
    // HoistSemiGate deliberately left in place reads as "why didn't the
    // pair serve" without this line — name the decision and the
    // servable key set (the hoisted positive is reported symmetrically).
    // The active-index list and candidate map collected above are
    // threaded in, so the dry-run re-lists neither catalog nor files.
    val gateDecisions = new graft.index.rules.HoistSemiGate(spark)
      .decisions(plan, Some(all), Some(candidates))
    gateDecisions.foreach(d => sb.append(s"Plan: [${d.code}] ${d.detail}\n"))
    sb.toString
  }

  /** Typed reason list, most specific first (reference:
    * plananalysis/CandidateIndexAnalyzer.scala:29-346 +
    * FilterReason.scala:33-158 — same code strings): `collected` are
    * IndexCandidates.collect's verdicts for `e`, `judged` the rules'. A
    * schema mismatch is reported only when no leaf matched; an index a
    * rule found eligible lost on ranking (`fallback`); an index no rule's
    * shape reached gets its kind's shape reason. */
  private def notAppliedReasons(
      e: IndexLogEntry,
      hasSource: Boolean,
      collected: Seq[Verdict],
      isCandidate: Boolean,
      judged: Seq[Verdict],
      fallback: => Seq[Reason]): Seq[Reason] = {
    e.descriptor match {
      case _: graft.index.ivf.IvfIndexDescriptor =>
        return Seq(ApiServed("IVF", "Graft.annSearch"))
      case _: graft.index.minhash.MinHashIndexDescriptor =>
        return Seq(ApiServed("MinHash", "Graft.nearDuplicates / dedupBatch"))
      case _ => ()
    }
    if (!hasSource) return Seq(NoFileBasedSource())
    val refusals = collected.flatMap(_.refusal)
    val mismatches = refusals.collect { case m: ColSchemaMismatch => m }
    val drops = refusals.filterNot(_.isInstanceOf[ColSchemaMismatch])
    val schema =
      if (drops.nonEmpty || isCandidate || mismatches.isEmpty) Nil
      else Seq(ColSchemaMismatch(mismatches.flatMap(_.sourceColumns).distinct,
        e.descriptor.referencedColumns))
    val ruled =
      if (judged.exists(_.refusal.isEmpty)) fallback
      else judged.flatMap(_.refusal)
    // rules list a required column set in their own order
    (schema ++ drops ++ ruled).distinctBy {
      case MissingRequiredCol(required, indexCols) => (required.toSet, indexCols)
      case r => r
    } match {
      case Seq() => Seq(e.descriptor match {
        case _: ZOrderIndexDescriptor => NoFilter("z-order file pruning")
        case _: DataSkippingIndexDescriptor => NoFilter("data skipping")
        case _ => NoFilterOrJoin()
      })
      case reasons => reasons
    }
  }

  /** When a covering index lost to a same-relation winner bucketed on
    * DIFFERENT columns, explain the loss in interesting-orders terms:
    * the clustering demand ancestors place on each bucket layout (the
    * tie-break ScoreBasedOptimizer actually applies). Returns None when
    * the comparison doesn't apply (different relations, same bucket
    * columns, or no demand difference) — the generic
    * ANOTHER_INDEX_APPLIED stays. */
  private def interestingOrderTie(
      e: IndexLogEntry,
      winner: String,
      leaves: Seq[SourceLeaf],
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      plan: LogicalPlan,
      resolver: org.apache.spark.sql.catalyst.analysis.Resolver): Option[Reason] = {
    val loserDesc = e.descriptor match {
      case d: graft.index.covering.CoveringIndexDescriptor => d
      case _ => return None
    }
    for {
      leaf <- leaves.find(l => candidates.get(l.plan).exists(ms =>
        ms.exists(_.entry.name == e.name) &&
          ms.exists(_.entry.name == winner)))
      wDesc <- candidates(leaf.plan).find(_.entry.name == winner)
        .map(_.entry.descriptor).collect {
          case d: graft.index.covering.CoveringIndexDescriptor => d
        }
      if !wDesc.indexedColumns.zipAll(loserDesc.indexedColumns, "", "")
        .forall { case (a, b) => resolver(a, b) }
      demand = demandAbove(plan, leaf.plan)
      wDemand = wDesc.indexedColumns
        .map(c => demand.collect { case (n, k) if resolver(n, c) => k }.sum).sum
      lDemand = loserDesc.indexedColumns
        .map(c => demand.collect { case (n, k) if resolver(n, c) => k }.sum).sum
      if wDemand > lDemand
    } yield InterestingOrderTie(winner, wDesc.indexedColumns, wDemand,
      loserDesc.indexedColumns, lDemand)
  }

  /** Clustering demand (join equi-keys, grouping keys, window partition
    * keys, counted) accumulated along the ancestor path from the plan
    * root down to the leaf — the same derives() the optimizer threads. */
  private def demandAbove(
      plan: LogicalPlan, leaf: LogicalPlan): Map[String, Int] = {
    def dfs(p: LogicalPlan, acc: Map[String, Int]): Option[Map[String, Int]] =
      if (p.fastEquals(leaf)) Some(acc)
      else {
        val next = ScoreBasedOptimizer.derives(p)
          .foldLeft(acc)((m, n) => m.updated(n, m.getOrElse(n, 0) + 1))
        p.children.view.flatMap(c => dfs(c, next)).headOption
      }
    dfs(plan, Map.empty).getOrElse(Map.empty)
  }
}
