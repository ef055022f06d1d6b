package graft.index.rules

import scala.util.control.NonFatal

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.index.{GraftConf, GraftRuleGuard}

/**
 * Optimizer entry point (reference: index/rules/ApplyHyperspace.scala:45-66).
 * Injected once per session via [[graft.GraftSparkExtension]]; runs in the
 * pre-CBO batch — i.e. once per query, on the operator-optimized plan,
 * before join reordering and physical planning — the same position in the
 * pipeline the reference targets with `extraOptimizations`.
 *
 * Fail-safe: any exception during index matching falls back to the
 * original plan; acceleration is best-effort, correctness is Spark's.
 */
class ApplyGraft(spark: SparkSession) extends Rule[LogicalPlan] with Logging {

  override def apply(plan: LogicalPlan): LogicalPlan = RuleTimer.timed("ApplyGraft") {
    if (!GraftConf.applyEnabled(spark) || GraftRuleGuard.isDisabled) return plan
    try {
      val indexes = IndexCatalog.activeIndexes(spark)
      if (indexes.isEmpty) return plan
      // EXISTS/IN probes live in SUBQUERY plans the main-plan walk never
      // visits — collect their relations too so ExistsIndexRule can pair
      // them (subqueriesAll covers nesting)
      val candidates = RuleTimer.timed("ApplyGraft.candidates") {
        IndexCandidates.collect(spark, plan +: plan.subqueriesAll, indexes)
      }
      if (candidates.isEmpty) return plan
      val result = RuleTimer.timed("ApplyGraft.optimize") {
        ScoreBasedOptimizer.optimize(spark, plan, candidates)
      }
      // usage telemetry (reference: HyperspaceIndexUsageEvent,
      // telemetry/HyperspaceEvent.scala:149-166): emitted only when a
      // logger is configured AND an index actually serves the plan —
      // the unconfigured hot path pays one conf lookup, never a plan
      // render. Inside the fail-safe: a throwing logger degrades to the
      // original plan, it cannot fail the query.
      val logger = graft.telemetry.GraftEventLogging.loggerFor(spark)
      if (logger ne graft.telemetry.NoOpEventLogger) {
        val applied = IndexCandidates.appliedIn(result)
        if (applied.nonEmpty) logger.logEvent(graft.telemetry.IndexUsageEvent(
          graft.telemetry.GraftEventLogging.appInfo(spark), applied,
          ScoreBasedOptimizer.appliedRules(result),
          plan.toString, result.toString,
          s"Index(es) applied: ${applied.mkString(", ")}"))
      }
      result
    } catch {
      case NonFatal(e) =>
        logWarning(s"graft: index application failed, using original plan: $e")
        plan
    }
  }
}
