package graft.index.analysis

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.index.{GraftConf, IndexLogEntry, IndexState, IndexManager}
import graft.index.covering.CoveringIndexDescriptor
import graft.index.dataskipping.DataSkippingIndexDescriptor
import graft.index.rules.{CandidateMatch, IndexCandidates, IndexCatalog}
import graft.index.zorder.ZOrderIndexDescriptor

/**
 * Plan introspection: `explain` (plans with/without index acceleration)
 * and `whyNot` (per-index reasons an index was not applied). Reference:
 * index/plananalysis/PlanAnalyzer.scala:48-143,
 * CandidateIndexAnalyzer.scala:29-346, FilterReason.scala:33-158.
 */
object PlanAnalysis {

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

  /** Per-index reasons why each ACTIVE index was / was not applied. */
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
    val candidates = IndexCandidates.collect(spark, plan, all)
    val resolver = spark.sessionState.conf.resolver

    val sb = new StringBuilder
    report.foreach { e =>
      sb.append(s"Index '${e.name}' [${e.descriptor.kindAbbr}]: ")
      if (applied.contains(e.name)) sb.append("APPLIED\n")
      else sb.append(notAppliedReasons(spark, e, leaves, candidates, resolver,
        plan, applied).mkString("; ")).append('\n')
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

  import Reasons._
  import graft.index.sources.SourceLeaf

  /** Typed reason list, most specific first (reference:
    * plananalysis/CandidateIndexAnalyzer.scala:29-346 +
    * FilterReason.scala:33-158 — same code strings, re-derived). */
  private[graft] def notAppliedReasons(
      spark: SparkSession,
      e: IndexLogEntry,
      leaves: Seq[SourceLeaf],
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      resolver: org.apache.spark.sql.catalyst.analysis.Resolver,
      plan: LogicalPlan,
      applied: Set[String]): Seq[Reason] = {
    e.descriptor match {
      case _: graft.index.ivf.IvfIndexDescriptor =>
        return Seq(ApiServed("IVF", "Graft.annSearch"))
      case _: graft.index.minhash.MinHashIndexDescriptor =>
        return Seq(ApiServed("MinHash", "Graft.nearDuplicates / dedupBatch"))
      case _ => ()
    }
    if (leaves.isEmpty) return Seq(NoFileBasedSource())

    val reasons = scala.collection.mutable.ArrayBuffer.empty[Reason]
    var schemaMatchedSomewhere = false
    leaves.foreach { leaf =>
      val schemaOk = e.descriptor.referencedColumns.forall(c =>
        graft.index.NestedColumns.resolvableIn(leaf.plan.output, c, resolver))
      // a lake leaf with live deletes never has candidates
      // (IndexCandidates.collect); AddMetadataColumns materializes
      // `_metadata` into the relation output when the plan consumes it —
      // the exact condition under which every coverage check refuses
      // (MetadataGuardSpec pins the refusal). A schema-level mismatch
      // report would mislead for either: name the real blockers.
      val blockers =
        (if (leaf.liveDeletes) Seq(LiveLakeDeletes()) else Nil) ++
          (if (leaf.plan.output.exists(_.name == "_metadata"))
            Seq(MergeOnReadMetadata()) else Nil)
      if (blockers.nonEmpty) {
        schemaMatchedSomewhere = true
        reasons ++= blockers
      } else if (schemaOk) {
        schemaMatchedSomewhere = true
        candidates.get(leaf.plan).flatMap(_.find(_.entry.name == e.name)) match {
          case None => reasons ++= driftReasons(spark, e, leaf)
          case Some(cm) => reasons ++= shapeReasons(spark, plan, leaf.plan,
            cm, candidates, resolver)
        }
      }
    }
    if (!schemaMatchedSomewhere)
      reasons += ColSchemaMismatch(
        leaves.flatMap(_.plan.output.map(_.name)).distinct,
        e.descriptor.referencedColumns)
    if (reasons.isEmpty)
      reasons ++= (applied.toSeq.sorted match {
        case Seq() => Seq(Outscored())
        case names => names.map(winner =>
          interestingOrderTie(e, winner, leaves, candidates, plan, resolver)
            .getOrElse(AnotherIndexApplied(winner)))
      })
    reasons.distinct.toSeq
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
        val next = graft.index.rules.ScoreBasedOptimizer.derives(p)
          .foldLeft(acc)((m, n) => m.updated(n, m.getOrElse(n, 0) + 1))
        p.children.view.flatMap(c => dfs(c, next)).headOption
      }
    dfs(plan, Map.empty).getOrElse(Map.empty)
  }

  /** Why the file sets kept this index out of the candidate list: the
    * same appended/deleted math as IndexCandidates.collect, reported by
    * which bound broke. */
  private def driftReasons(spark: SparkSession, e: IndexLogEntry,
      leaf: SourceLeaf): Seq[Reason] = {
    def key(f: graft.index.FileMeta) = (f.path, f.size, f.modifiedTime)
    val current = IndexCandidates.currentFiles(leaf)
    val currentKeys = current.map(key).toSet
    val logged = e.relations.head.files
    val loggedKeys = logged.map(key).toSet
    val appended = current.filterNot(f => loggedKeys.contains(key(f)))
    val deleted = logged.filterNot(f => currentKeys.contains(key(f)))
    if (appended.isEmpty && deleted.isEmpty) return Nil // not a drift problem
    val loggedBytes = math.max(1L, logged.map(_.size).sum)
    val currentBytes = math.max(1L, current.map(_.size).sum)
    if (deleted.map(_.size).sum == loggedBytes && logged.nonEmpty)
      return Seq(NoCommonFiles())
    if (!GraftConf.hybridScanEnabled(spark)) return Seq(SourceDataChanged())
    val appendedRatio = appended.map(_.size).sum.toDouble / currentBytes
    val deletedRatio = deleted.map(_.size).sum.toDouble / loggedBytes
    val maxApp = GraftConf.hybridMaxAppendedRatio(spark)
    val maxDel = GraftConf.hybridMaxDeletedRatio(spark)
    Seq(
      if (appendedRatio > maxApp) Some(TooMuchAppended(appendedRatio, maxApp)) else None,
      if (deletedRatio > maxDel) Some(TooMuchDeleted(deletedRatio, maxDel)) else None
    ).flatten match {
      case Nil => Seq(SourceDataChanged()) // quick-refresh blessing math differed
      case rs => rs
    }
  }

  /** Filter/Project shapes over `leaf`, each counted once: a
    * Project(Filter(leaf)) subtree must not ALSO report as its inner
    * bare Filter — the projection is what defines the needed columns. */
  private def filterShapes(plan: LogicalPlan, leaf: LogicalPlan)
      : Seq[(Option[Project], Filter)] = {
    val projected = plan.collect {
      case p @ Project(_, f @ Filter(_, r)) if r.fastEquals(leaf) =>
        (Option(p), f)
    }
    val inner = projected.map(_._2)
    val bare = plan.collect {
      case f @ Filter(_, r) if r.fastEquals(leaf) && !inner.exists(_ eq f) =>
        (Option.empty[Project], f)
    }
    projected ++ bare
  }

  private def shapeReasons(
      spark: SparkSession,
      plan: LogicalPlan,
      leaf: LogicalPlan,
      m: CandidateMatch,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      resolver: org.apache.spark.sql.catalyst.analysis.Resolver): Seq[Reason] = {
    val filters = filterShapes(plan, leaf)
    val joins = plan.collect { case j: Join => j }
    // EXISTS/IN predicates are joins-to-be (ExistsIndexRule): analyze
    // each probe as the semi/anti/existence join it will become
    val probes = plan.collect {
      case f: Filter =>
        graft.index.rules.ExistsIndexRule.probePairs(f.condition, f.child)
          .map(pp => (f, pp))
    }.flatten
    m.entry.descriptor match {
      case d: CoveringIndexDescriptor =>
        if (filters.isEmpty && joins.isEmpty && probes.isEmpty)
          Seq(NoFilterOrJoin())
        else {
          val fr = filters.flatMap { case (projectOpt, f) =>
            if (!f.condition.deterministic)
              Seq(IneligibleFilterCondition(f.condition.sql))
            else {
              val filterNames = f.condition.references.toSeq.map(_.name).distinct
              val neededNames = (projectOpt.getOrElse(f).references ++
                projectOpt.getOrElse(f).outputSet).toSeq.map(_.name).distinct
              val head = d.indexedColumns.head
              Seq(
                if (!filterNames.exists(resolver(_, head)))
                  Some(NoFirstIndexedColCond(head, filterNames))
                else None,
                if (!d.covers(neededNames))
                  Some(MissingRequiredCol(neededNames, d.referencedColumns))
                else None,
                if (m.deleted.nonEmpty && !d.hasLineage)
                  Some(NoDeleteSupport())
                else None).flatten
            }
          }
          val jrs = joins.map(joinReasons(spark, _, leaf, m, d, candidates, resolver))
          // an involved join with ZERO blocking reasons means this index
          // COULD have served — the real explanation is then the
          // fallback (another index applied / interesting-order tie),
          // not the other routes' noise
          if (jrs.exists(_.contains(Nil))) Nil
          else {
            val jr = jrs.flatten.flatten
            val er = probes.flatMap { case (f, (_, innerPlan, pairs)) =>
              existsReasons(spark, f, innerPlan, pairs, leaf, d,
                candidates, resolver)
            }
            fr ++ jr ++ er
          }
        }
      case d: ZOrderIndexDescriptor =>
        if (!m.isExact) Seq(ZOrderRequiresExactMatch())
        else if (filters.isEmpty) Seq(NoFilter("z-order file pruning"))
        else {
          val fr = filters.flatMap { case (projectOpt, f) =>
            val filterNames = f.condition.references.toSeq.map(_.name).distinct
            val neededNames = (projectOpt.getOrElse(f).references ++
              projectOpt.getOrElse(f).outputSet).toSeq.map(_.name).distinct
            Seq(
              if (!d.indexedColumns.exists(c => filterNames.exists(resolver(_, c))))
                Some(NoFirstIndexedColCond(d.indexedColumns.mkString("|"), filterNames))
              else None,
              if (!d.covers(neededNames))
                Some(MissingRequiredCol(neededNames, d.referencedColumns))
              else None).flatten
          }
          if (fr.isEmpty) Seq(Outscored()) else fr
        }
      case _: DataSkippingIndexDescriptor =>
        if (filters.isEmpty) Seq(NoFilter("data skipping"))
        else Seq(PredicateNotTranslatable())
    }
  }

  // ------------------------------------------------------ join analysis

  /** The single candidate leaf under a linear Project/Filter chain —
    * mirrors JoinIndexRule.linearRelation. */
  private def linearLeaf(plan: LogicalPlan,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]]): Option[LogicalPlan] =
    plan match {
      case r if r.children.isEmpty =>
        if (candidates.contains(r)) Some(r) else None
      case p: Project => linearLeaf(p.child, candidates)
      case f: Filter => linearLeaf(f.child, candidates)
      case _ => None
    }

  private def equiPairs(j: Join): Either[String,
      Seq[(org.apache.spark.sql.catalyst.expressions.AttributeReference,
           org.apache.spark.sql.catalyst.expressions.AttributeReference)]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    j.condition match {
      case None => Left("no join condition")
      case Some(c) =>
        // non-equi conjuncts are residuals (they stay on the Join); the
        // rewrite needs at least one equi pair to bucket on
        val pairs = conjuncts(c).flatMap {
          case EqualTo(a: AttributeReference, b: AttributeReference) =>
            Some(if (j.left.outputSet.contains(a)) (a, b) else (b, a))
          case _ => None
        }
        if (pairs.isEmpty)
          Left(s"no equi conjunct to bucket on in: ${c.sql}")
        else Right(pairs)
    }
  }

  /** EXISTS/IN-probe reasons, mirroring [[joinReasons]] for the join the
    * probe becomes after RewriteSubquery: `leaf` is either the OUTER
    * relation (the filter's child) or the PROBE's inner relation; the
    * paired side needs its own key-compatible covering index. */
  private def existsReasons(
      spark: SparkSession,
      f: Filter,
      innerPlan: LogicalPlan,
      pairs: Seq[(org.apache.spark.sql.catalyst.expressions.AttributeReference,
                  org.apache.spark.sql.catalyst.expressions.AttributeReference)],
      leaf: LogicalPlan,
      d: CoveringIndexDescriptor,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      resolver: org.apache.spark.sql.catalyst.analysis.Resolver): Seq[Reason] = {
    val outerLeaf = linearLeaf(f.child, candidates)
    val innerLeaf = linearLeaf(innerPlan, candidates)
    val mySide =
      if (outerLeaf.exists(_.fastEquals(leaf))) "outer"
      else if (innerLeaf.exists(_.fastEquals(leaf))) "probe"
      else return Nil
    val myKeys = (if (mySide == "outer") pairs.map(_._1) else pairs.map(_._2))
      .map(_.name).distinct
    val keyReasons: Seq[Reason] =
      if (!myKeys.forall(k => d.indexedColumns.exists(resolver(_, k))) ||
          d.indexedColumns.size != myKeys.size) {
        if (myKeys.forall(k => d.indexedColumns.exists(resolver(_, k))))
          Seq(NotAllJoinColIndexed(mySide, myKeys, d.indexedColumns))
        else Seq(MissingIndexedCol(mySide, myKeys, d.indexedColumns))
      } else Nil
    val otherSide = if (mySide == "outer") "probe" else "outer"
    val otherLeaf = if (mySide == "outer") innerLeaf else outerLeaf
    val otherKeys = (if (mySide == "outer") pairs.map(_._2) else pairs.map(_._1))
      .map(_.name).distinct
    val otherCovering = otherLeaf.toSeq
      .flatMap(l => candidates.getOrElse(l, Nil))
      .map(_.entry.descriptor)
      .collect { case cd: CoveringIndexDescriptor => cd }
    val pairReasons: Seq[Reason] =
      if (otherLeaf.isEmpty || otherCovering.isEmpty)
        Seq(NoAvailJoinIndexPair(otherSide))
      else if (!otherCovering.exists(cd =>
          cd.indexedColumns.size == otherKeys.size &&
            otherKeys.forall(k => cd.indexedColumns.exists(resolver(_, k)))))
        Seq(NoCompatibleJoinIndexPair())
      else Nil
    keyReasons ++ pairReasons
  }

  /** Join-specific reasons for why `d` (an index over `leaf`, one side of
    * `j`) did not produce a join rewrite — reference granularity:
    * JoinIndexRule eligibility checks surfaced one by one. */
  /** None = this join doesn't involve the indexed relation;
    * Some(Nil) = the index is VIABLE for this join (any non-application
    * is a ranking outcome, not a shape defect); Some(reasons) = blocked.
    * Key checks are SUBSET-AWARE, mirroring the rules: an index bucketed
    * on a strict subset of the keys still co-locates the join
    * (keyMappingFor), unless the session conf forbids it. */
  private def joinReasons(
      spark: SparkSession,
      j: Join,
      leaf: LogicalPlan,
      m: CandidateMatch,
      d: CoveringIndexDescriptor,
      candidates: Map[LogicalPlan, Seq[CandidateMatch]],
      resolver: org.apache.spark.sql.catalyst.analysis.Resolver): Option[Seq[Reason]] = {
    import graft.index.rules.JoinIndexRule.keyMappingFor
    val allowSubset = graft.index.rules.JoinIndexRule.subsetKeysAllowed(spark)
    val lLeaf = linearLeaf(j.left, candidates)
    val rLeaf = linearLeaf(j.right, candidates)
    val mySide =
      if (lLeaf.exists(_.fastEquals(leaf))) "left"
      else if (rLeaf.exists(_.fastEquals(leaf))) "right"
      else return None // this join doesn't involve the indexed relation
    if (!graft.index.rules.JoinIndexRule.rewritableJoinType(j.joinType))
      return Some(Seq(NotEligibleJoin(s"join type is ${j.joinType}; the " +
        "rewrite covers Inner/LeftSemi/LeftAnti/LeftOuter/RightOuter/" +
        "FullOuter")))
    val pairs = equiPairs(j) match {
      case Left(why) => return Some(Seq(NotEligibleJoin(why)))
      case Right(ps) => ps
    }
    val myKeyAttrs =
      (if (mySide == "left") pairs.map(_._1) else pairs.map(_._2)).distinct
    val myKeys = myKeyAttrs.map(_.name)
    // bucketed on this side's keys — or an admissible subset of them
    val keyReasons: Seq[Reason] =
      if (keyMappingFor(d.indexedColumns, myKeyAttrs, resolver,
          allowSubset).isDefined) Nil
      else if (myKeys.forall(k => d.indexedColumns.exists(resolver(_, k))))
        Seq(NotAllJoinColIndexed(mySide, myKeys, d.indexedColumns))
      else Seq(MissingIndexedCol(mySide, myKeys, d.indexedColumns))
    // and it must COVER every column the side needs from the relation
    val mySubtree = if (mySide == "left") j.left else j.right
    val myNeeded =
      graft.index.rules.JoinIndexRule.neededColumns(mySubtree, leaf)
    val coverReasons: Seq[Reason] =
      if (graft.index.rules.Coverage.covers(
          d.referencedColumns, myNeeded, resolver)) Nil
      else Seq(MissingRequiredCol(myNeeded, d.referencedColumns))
    // the other side needs its own eligible covering index
    val otherSide = if (mySide == "left") "right" else "left"
    val otherLeaf = if (mySide == "left") rLeaf else lLeaf
    val otherKeyAttrs =
      (if (mySide == "left") pairs.map(_._2) else pairs.map(_._1)).distinct
    val otherCovering = otherLeaf.toSeq
      .flatMap(l => candidates.getOrElse(l, Nil))
      .map(_.entry.descriptor)
      .collect { case cd: CoveringIndexDescriptor => cd }
    val pairReasons: Seq[Reason] =
      if (otherLeaf.isEmpty || otherCovering.isEmpty)
        Seq(NoAvailJoinIndexPair(otherSide))
      else if (!otherCovering.exists(cd =>
          keyMappingFor(cd.indexedColumns, otherKeyAttrs, resolver,
            allowSubset).isDefined))
        Seq(NoCompatibleJoinIndexPair())
      else Nil
    // delete drift blocks the join rules unless lineage allows hybrid —
    // mirror their coveringEligible gate so a drift-blocked index is not
    // reported as a mere ranking loss
    val driftOk = m.isExact || m.deleted.isEmpty || d.hasLineage
    // a missing PAIR only blocks the two-sided rule —
    // JoinOneSideIndexRule serves a key-compatible covering index alone
    // (the other side re-shuffles to match), so keys + coverage = viable
    if (keyReasons.isEmpty && coverReasons.isEmpty && driftOk) Some(Nil)
    else Some(keyReasons ++ coverReasons ++
      (if (driftOk) Nil else Seq(NoDeleteSupport())) ++ pairReasons)
  }
}
