package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape regression checks for the headline queries: filters pushed
 * into the parquet scan, dimension joins broadcast, aggregations running
 * partial+final. These are the properties that keep the suite viable at
 * 100 TB — asserting them here means a refactor can't silently lose them.
 */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(q.plan)
    case other => p +: other.children.flatMap(allNodes)
  }

  private def executed(df: DataFrame) = { df.collect(); allNodes(df.queryExecution.executedPlan) }

  /** Initial physical plan, before AQE runs. Broadcast-shape audits use this:
    * at tiny test SFs an empty semi-join input lets AQE collapse the whole
    * final plan to EmptyRelation (optimal — but it erases the joins we want
    * to assert on). The static plan is what a 100 TB run would start from. */
  private def planned(df: DataFrame) = allNodes(df.queryExecution.executedPlan)

  test("q6: filters are pushed down to the parquet scan") {
    val nodes = executed(SparkEntry.queries("q6_revenue_delta")(spark, TestSpark.sfDir))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "[]")
    assert(pushed.contains("GreaterThanOrEqual") || pushed.contains("LessThan"),
      s"no pushed filters: $pushed")
    // column pruning: only the 4 needed columns are read
    val readSchema = scans.head.metadata.getOrElse("ReadSchema", "")
    assert(!readSchema.contains("l_orderkey"), s"over-read: $readSchema")
  }

  test("q3/q5: dimension joins are broadcast") {
    // sf-proportional dims carry NO hint (see the hint-audit test below):
    // the broadcast asserted here comes from size-based planning, proving
    // the de-hinted plans don't regress to shuffle joins at small SF
    Seq("q3_shipping_priority", "q5_local_supplier").foreach { q =>
      val nodes = planned(SparkEntry.queries(q)(spark, TestSpark.sfDir))
      assert(nodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
        s"$q has no broadcast join")
    }
  }

  test("q1: aggregation runs partial + final") {
    val nodes = executed(SparkEntry.queries("q1_pricing_summary")(spark, TestSpark.sfDir))
    val aggs = nodes.count(n => n.isInstanceOf[HashAggregateExec] ||
      n.isInstanceOf[ObjectHashAggregateExec])
    assert(aggs >= 2, s"expected partial+final aggregation, found $aggs")
  }

  test("tranche-3 dimension joins are broadcast (no SMJ on dims)") {
    Seq("q2_top_supplier_per_part", "q7_volume_shipping", "q8_market_share",
      "q9_product_profit", "q11_important_parts", "q20_part_promotion")
      .foreach { q =>
        val nodes = planned(SparkEntry.queries(q)(spark, TestSpark.sfDir))
        assert(nodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
          s"$q has no broadcast join")
      }
  }

  test("q9: part-name filter is pushed to the part scan") {
    val nodes = executed(SparkEntry.queries("q9_product_profit")(spark, TestSpark.sfDir))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    // the part leg may serve from part.parquet OR from a covering index
    // on part another suite built into the shared fixture — either way
    // the contains-filter must be pushed into THAT scan
    val partScan = scans.find(s => s.output.exists(_.name == "p_name"))
    assert(partScan.isDefined,
      "no scan producing p_name found:\n" +
        scans.map(_.metadata.getOrElse("Location", "?")).mkString("\n"))
    val pushed = partScan.get.metadata.getOrElse("PushedFilters", "[]")
    assert(pushed.contains("StringContains") || pushed.contains("Contains"),
      s"p_name contains-filter not pushed: $pushed")
  }

  test("sim_brute_topk: corpus side is not shuffled (broadcast NLJ only)") {
    val nodes = executed(SparkEntry.queries("sim_brute_topk")(spark, TestSpark.sfDir))
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    // allowed shuffles: the window top-k partitioning on qid + the final
    // output range-sort; the corpus scan itself must stay map-side
    assert(shuffles.size <= 2,
      s"corpus pass should be map-only + topk/sort shuffles, got ${shuffles.size}")
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
      "queries side not broadcast")
  }

  test("sim_pq_topk: ranking pass is code-only, corpus never shuffles pre-topk") {
    val nodes = executed(SparkEntry.queries("sim_pq_topk")(spark, TestSpark.sfDir))
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // queries (with their ADC tables) broadcast against the corpus codes
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
      "query/ADC-table side not broadcast")
    // the ADC ranking itself is map-side: shuffles are only the window
    // top-k on qid, the rerank joins' build sides, and the output sort
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 4,
      s"PQ ranking should be map-only before topk, got ${shuffles.size} shuffles")
  }

  test("idx_delta_cdf_changes: feed is a pruned union, one aggregation shuffle") {
    val nodes = executed(SparkEntry.queries("idx_delta_cdf_changes")(spark, TestSpark.sfDir))
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    // column pruning reaches every change-feed scan: only the aggregated
    // column (+ cdc's _change_type) is read, never the full row
    scans.foreach { s =>
      val rs = s.metadata.getOrElse("ReadSchema", "")
      assert(!rs.contains("c_name") && !rs.contains("c_address"),
        s"change-feed scan over-reads: $rs")
    }
    // no joins anywhere: derivation stamps literals, cdc rows come as-is
    assert(shufflesOnlyAggAndSort(nodes), "expected only agg+sort shuffles")
  }

  private def shufflesOnlyAggAndSort(
      nodes: Seq[org.apache.spark.sql.execution.SparkPlan]): Boolean = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    nodes.collect { case s: ShuffleExchangeExec => s }.size <= 2
  }

  test("dedup_exact: single shuffle on the digest") {
    val nodes = executed(SparkEntry.queries("dedup_exact")(spark, TestSpark.sfDir))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    // one pass over documents: no self-joins, no repeated scans
    assert(scans.size == 1, s"expected 1 scan of documents, got ${scans.size}")
  }

  test("sample_stratified: one scan, partial+final aggregate, no extra shuffle") {
    val nodes = executed(SparkEntry.queries("sample_stratified")(spark, TestSpark.sfDir))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"expected 1 scan of orders, got ${scans.size}")
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    // allowed: the stratum aggregate + the presentation sort
    assert(shuffles <= 2, s"sampling should not shuffle raw rows: $shuffles")
    val aggs = nodes.count(n => n.isInstanceOf[HashAggregateExec] ||
      n.isInstanceOf[ObjectHashAggregateExec])
    assert(aggs >= 2, s"expected partial+final aggregation, found $aggs")
  }

  test("decontam_ngram: benchmark shingles are broadcast, corpus not self-shuffled") {
    val nodes = planned(SparkEntry.queries("decontam_ngram")(spark, TestSpark.sfDir))
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
      "benchmark side not broadcast")
  }

  test("q_asof_join: one user_id hash shuffle, no inequality join") {
    val nodes = planned(SparkEntry.queries("q_asof_join")(spark, TestSpark.sfDir))
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // composed as union + running last-non-null: no join node at all, and
    // the only shuffles are the user_id window partitioning + output sort
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "as-of must not plan an inequality join")
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 2, s"as-of should shuffle once on user_id (+sort): $shuffles")
  }

  test("q_range_join: bucketed equi join, no nested-loop compare") {
    val nodes = planned(SparkEntry.queries("q_range_join")(spark, TestSpark.sfDir))
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the ±30s window must ride the bucket equi join; a nested-loop or
    // cartesian plan would be the O(n·m) shape bucketing exists to avoid
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[CartesianProductExec]),
      "range join planned as nested-loop/cartesian")
  }

  test("pack_shards: corpus windows are partition-local, exchange shared") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"),
        size(graft.queries.TextPrimitives.tokens(col("text")))
          .cast("long").as("n_tokens"))
    val out = graft.queries.Pipeline.packByBudget(spark, docs, 2048L)
    val nodes = executed(out)
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, "expected a window for the running sum")
    // a global-order window is only tolerable over the per-partition
    // TOTALS (one row per partition) — it must sit above the pid
    // aggregate, never over the corpus
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val aboveAgg = allNodes(w).collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.groupingExpressions.exists(_.name == "pid") => a
      }
      assert(aboveAgg.nonEmpty,
        "global-order window must run over per-partition totals only")
    }
    // both branches must READ ONE corpus range shuffle (the offsets
    // branch via ReusedExchange): a second REPARTITION_BY_NUM exchange
    // means exchange reuse broke and the corpus (and its upstream) is
    // shuffled twice. The final orderBy's ENSURE_REQUIREMENTS sort
    // exchange is distinct and expected.
    val corpusExchanges = nodes.count {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.shuffleOrigin == org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
      case _ => false
    }
    assert(corpusExchanges == 1,
      s"expected the corpus range exchange once (shared/reused), saw $corpusExchanges")
  }

  test("pipeline_curate: quality predicates never re-evaluate in a scan filter") {
    // the typed qualityGate exists precisely so predicate pushdown can't
    // substitute the tokenize + bigram-distinct expressions into the scan
    // Filter (measured 7x slower when it did — each reference re-evaluates
    // with no subexpression reuse). A scan whose data filters mention
    // array_distinct means the gate regressed to a pushable Column filter.
    val df = SparkEntry.queries("pipeline_curate")(spark, TestSpark.sfDir)
    val nodes = executed(df)
    val offending = nodes.collect { case s: FileSourceScanExec => s }
      .filter(_.dataFilters.exists(_.toString.contains("array_distinct")))
    assert(offending.isEmpty,
      "quality-gate expressions were pushed into a scan filter")
  }

  test("q_salted_join: shuffle join on (key, salt), dim replicated, no broadcast") {
    val df = SparkEntry.queries("q_salted_join")(spark, TestSpark.sfDir)
    val nodes = planned(df) // static shape: tiny SFs let AQE re-plan
    val shj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j }
    assert(shj.nonEmpty, "salted join must be a shuffled hash join")
    assert(shj.head.leftKeys.size == 2,
      s"join must key on (user_id, __salt), got ${shj.head.leftKeys}")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "a broadcast join would make salting a no-op")
    // the dim side replicates via explode(sequence(...))
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
      "expected the salt-replication Generate on the dim side")
  }

  test("text_rarity: vocabulary is never force-broadcast (only the 1-row total)") {
    val df = SparkEntry.queries("text_rarity")(spark, TestSpark.sfDir)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    // exactly one explicit broadcast hint is allowed: the groupless (i.e.
    // single-row) corpus-total aggregate. A hint over the vocabulary —
    // billions of rows at web scale — would OOM the driver at 100 TB;
    // AQE may still auto-broadcast it when it happens to be small, which
    // is the correct dynamic call and not what this guards against.
    assert(hints.size == 1, s"expected 1 broadcast hint, found ${hints.size}")
    val hinted = hints.head.child.collect {
      case a: Aggregate if a.groupingExpressions.isEmpty => a }
    assert(hinted.nonEmpty,
      "the only allowed broadcast hint is the single-row corpus total")
  }

  test("idx_delta_filter: the delta-table query really scans the covering index") {
    val nodes = executed(SparkEntry.queries("idx_delta_filter")(spark, TestSpark.sfDir))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.exists(_.relation.location.rootPaths.exists(
      _.toString.contains("/accel_ci_delta/"))),
      "delta query fell back to the source scan:\n" +
        scans.map(_.relation.location.rootPaths.mkString(",")).mkString("\n"))
  }

  test("MOR queries: positional deletes filter in the scan, data never shuffles") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import graft.index.sources.RowDeleted
    // the property that matters at 100 TB: applying row-level deletes
    // (Delta DVs, Iceberg positional + equality) must never shuffle the
    // DATA side. Positional deletes are a filter on the data scan itself
    // (no join, no broadcast); equality deletes are the broadcast build
    // side of one key anti-join
    val dv = planned(SparkEntry.queries("idx_delta_dv_filter")(spark, TestSpark.sfDir))
    val mor = dv.collect { case f: FilterExec
      if f.condition.find(_.isInstanceOf[RowDeleted]).isDefined => f }
    assert(mor.nonEmpty, "idx_delta_dv_filter: no row_deleted filter in plan")
    assert(!dv.exists(n => n.isInstanceOf[BaseJoinExec] ||
      n.isInstanceOf[BroadcastExchangeExec]),
      "idx_delta_dv_filter: a join or broadcast applies the deletes")
    mor.foreach(f => assert(!allNodes(f).exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"idx_delta_dv_filter: data side of the delete filter shuffled:\n$f"))
    val eq = planned(SparkEntry.queries("idx_iceberg_eq_filter")(spark, TestSpark.sfDir))
    val antis = eq.collect {
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT ANTI" => j }
    assert(antis.size == 1 && eq.count(_.isInstanceOf[BaseJoinExec]) == 1,
      "idx_iceberg_eq_filter: expected exactly one broadcast key anti-join")
    antis.foreach { j =>
      val streamed = j.buildSide match {
        case BuildRight => j.left
        case BuildLeft => j.right
      }
      assert(!allNodes(streamed).exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"idx_iceberg_eq_filter: data side of the MOR anti-join shuffled:\n$j")
    }
  }

  /** Build + PLAN a query with auto-broadcast off: at audit SF every join
    * side fits a broadcast, which hides the zero-shuffle bucketed shape
    * these audits exist to pin (planning is forced inside the conf
    * window — QueryExecution is lazy). */
  private def plannedNoBroadcast(name: String) = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries(name)(spark, TestSpark.sfDir)
      df.queryExecution.executedPlan
      allNodes(df.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_snowflake_2idx: all three indexes applied, fact join has no exchange") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nodes = plannedNoBroadcast("q_snowflake_2idx")
    val scanRoots = nodes.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString).mkString(",") }
    def scanned(idx: String) = scanRoots.exists(_.contains(s"/$idx/"))
    assert(scanned("accel_ci_li_join") && scanned("accel_ci_ord_snow") &&
      scanned("accel_ci_cust"),
      s"expected all three index scans, got:\n${scanRoots.mkString("\n")}")
    // the lineitem/orders pair must meet in a sort-merge join with NO
    // exchange under it — both index scans claim HashPartitioning on the
    // join key, which is the whole point of bucketing both sides
    val smj = nodes.collectFirst {
      case j: SortMergeJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "l_orderkey")) => j
    }.getOrElse(fail("no sort-merge join on l_orderkey in plan"))
    val underJoin = allNodes(smj.left) ++ allNodes(smj.right)
    assert(!underJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "bucketed index join shuffled anyway:\n" + smj)
    // the customer dimension is swapped by the ONE-SIDED join rule with
    // its bucket spec claimed, so only the FACT stream re-shuffles onto
    // o_custkey — the indexed dimension must not shuffle at all
    val outer = nodes.collectFirst {
      case j: SortMergeJoinExec
        if j.rightKeys.exists(_.references.exists(_.name == "c_custkey")) => j
    }.getOrElse(fail("no sort-merge join on c_custkey in plan"))
    assert(!allNodes(outer.right).exists(_.isInstanceOf[ShuffleExchangeExec]),
      "indexed customer dimension shuffled anyway:\n" + outer)
    assert(allNodes(outer.left).exists(_.isInstanceOf[ShuffleExchangeExec]),
      "fact stream must re-shuffle onto the dimension key")
  }

  test("q_star_agg_idx: AggIndexRule and JoinOneSideIndexRule fire in ONE plan") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nodes = plannedNoBroadcast("q_star_agg_idx")
    val scanRoots = nodes.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString).mkString(",") }
    def scanned(idx: String) = scanRoots.exists(_.contains(s"/$idx/"))
    assert(scanned("accel_ci_ord_agg") && scanned("accel_ci_cust"),
      s"expected both index scans, got:\n${scanRoots.mkString("\n")}")
    // the per-customer aggregation runs off the o_custkey-bucketed index:
    // partial+final with NO exchange between them, and the join consumes
    // it with NO exchange on either side — the only shuffle in the whole
    // plan is the final single-partition scalar aggregate
    val smj = nodes.collectFirst { case j: SortMergeJoinExec => j }
      .getOrElse(fail("no sort-merge join in plan"))
    assert(!(allNodes(smj.left) ++ allNodes(smj.right))
      .exists(_.isInstanceOf[ShuffleExchangeExec]),
      "bucketed agg+join pipeline shuffled anyway:\n" + smj)
    val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1 &&
      shuffles.head.outputPartitioning.numPartitions == 1,
      s"expected only the final single-partition exchange, got:\n$shuffles")
  }

  test("q_rule_rivalry: the join pair outscores the filter index on the same scan") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nodes = plannedNoBroadcast("q_rule_rivalry")
    val scanRoots = nodes.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString).mkString(",") }
    // the memoized search must take the JOIN pair (score 140) over the
    // filter-index rewrite (score 50) that is also eligible on lineitem
    val smj = nodes.collectFirst { case j: SortMergeJoinExec => j }
      .getOrElse(fail("no sort-merge join in plan — filter index won?"))
    assert(!(allNodes(smj.left) ++ allNodes(smj.right))
      .exists(_.isInstanceOf[ShuffleExchangeExec]),
      "join-pair rewrite should leave the join exchange-free:\n" + smj)
    // any compatible o_orderkey-bucketed orders index closes the pair
    // (the shared fixture path holds several; the ranker picks by size)
    assert(scanRoots.exists(_.contains("/accel_ci_ord")),
      s"orders side of the pair not substituted:\n${scanRoots.mkString("\n")}")
  }

  test("q_join_rank_tie: ranker picks the equal-bucket index, not the 8-bucket decoy") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nodes = plannedNoBroadcast("q_join_rank_tie")
    val scanRoots = nodes.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString).mkString(",") }
    assert(scanRoots.exists(_.contains("/accel_ci_li_join/")),
      s"32-bucket index not scanned:\n${scanRoots.mkString("\n")}")
    assert(!scanRoots.exists(_.contains("/accel_ci_li_rank8/")),
      "ranker picked the 8-bucket decoy (would force a re-shuffle)")
    val smj = nodes.collectFirst { case j: SortMergeJoinExec => j }
      .getOrElse(fail("no sort-merge join in plan"))
    val underJoin = allNodes(smj.left) ++ allNodes(smj.right)
    assert(!underJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "equal-bucket pair still shuffled:\n" + smj)
  }

  test("idx_iceberg_filter: the iceberg-table query really scans the covering index") {
    val nodes = executed(SparkEntry.queries("idx_iceberg_filter")(spark, TestSpark.sfDir))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.exists(_.relation.location.rootPaths.exists(
      _.toString.contains("/accel_ci_iceberg/"))),
      "iceberg query fell back to the source scan:\n" +
        scans.map(_.relation.location.rootPaths.mkString(",")).mkString("\n"))
  }

  test("q_join_one_sided: indexed fact side joins without shuffling itself") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nodes = plannedNoBroadcast("q_join_one_sided")
    // Assert the PROPERTY, not an index name: any equivalent one-sided
    // covering index bucketed on l_suppkey is a correct pick (the shared
    // /tmp fixture cache accumulates equivalent indexes across suites, and
    // the ranker's name tie-break decides which — both plans are right).
    val indexScans = nodes.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
          .exists(_.toString.contains("/accel_ci_li_")) => s
    }
    assert(indexScans.nonEmpty,
      "no lineitem covering-index scan in plan:\n" + nodes.collect {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.mkString(",")
      }.mkString("\n"))
    assert(indexScans.exists(_.relation.bucketSpec.exists(
        _.bucketColumnNames.exists(_.equalsIgnoreCase("l_suppkey")))),
      "index scan is not bucketed on the join key l_suppkey:\n" +
        indexScans.map(_.relation.bucketSpec).mkString("\n"))
    val smj = nodes.collectFirst { case j: SortMergeJoinExec => j }
      .getOrElse(fail("no sort-merge join in plan"))
    // indexed lineitem side: no exchange; supplier side: exactly the one
    // re-shuffle EnsureRequirements inserts to match the bucketed scan
    val sides = Seq(smj.left, smj.right).map(s =>
      allNodes(s).count(_.isInstanceOf[ShuffleExchangeExec]))
    assert(sides.sorted == Seq(0, 1),
      s"expected one shuffled side and one bucketed side, got $sides:\n$smj")
  }

  test("ranker determinism: with an equivalent wider index present, the " +
      "smallest covering index wins the one-sided tie") {
    // Reproduce the order that used to flake the suite: qds65 builds
    // accel_ci_li_bysupp (same key l_suppkey, wider coverage) into the
    // SHARED fixture, then q_join_one_sided plans. The tie-break must
    // deterministically pick the narrower accel_ci_li_supp — never
    // whatever the catalog listed first.
    SparkEntry.queries("qds65_underperf_parts")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan // force the bysupp index build
    val nodes = plannedNoBroadcast("q_join_one_sided")
    val scanRoots = nodes.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString).mkString(",") }
    assert(scanRoots.exists(_.contains("/accel_ci_li_supp/")),
      "smallest-covering-index tie-break not applied; scans:\n" +
        scanRoots.mkString("\n"))
    assert(!scanRoots.exists(_.contains("/accel_ci_li_bysupp/")),
      "ranker picked the wider equivalent index for the one-sided join")
  }

  test("text_quality: metrics run map-side, the final sort's exchange is " +
      "the only one") {
    // every metric is a row-wise expression: no aggregation to split into
    // partial + final, no join back, and nothing shuffled but the ordering
    val nodes = executed(SparkEntry.queries("text_quality")(spark, TestSpark.sfDir))
    val aggs = nodes.count(n => n.isInstanceOf[HashAggregateExec] ||
      n.isInstanceOf[ObjectHashAggregateExec])
    assert(aggs == 0, s"expected no aggregation, found $aggs")
    val exchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e }
    assert(exchanges.size == 1 && exchanges.head.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec],
      s"expected the sort's range exchange alone, found $exchanges")
  }

  test("TPC-H: no explicit broadcast hint targets an sf-proportional relation") {
    // A broadcast() hint OVERRIDES size estimation: at 100x scale an
    // sf-proportional relation (customer/supplier/part, or any aggregate
    // keyed by a fact-table column) exceeds the 8 GB broadcast hard limit
    // and the job FAILS rather than degrading to a shuffle join. Hints are
    // therefore only legal on relations of fixed cardinality: the
    // nation (25 rows) / region (5 rows) dims and single-row (groupless)
    // scalar aggregates. AQE still broadcasts the proportional dims while
    // they fit — that is the correct dynamic call this test preserves.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val tpch = SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted
    assert(tpch.size >= 20, s"expected the TPC-H suite, found $tpch")
    tpch.foreach { name =>
      val analyzed =
        SparkEntry.queries(name)(spark, TestSpark.sfDir).queryExecution.analyzed
      analyzed.collect { case h: ResolvedHint => h }.foreach { h =>
        val singleRow = h.child.collectFirst {
          case a: Aggregate if a.groupingExpressions.isEmpty => a }.nonEmpty
        val leafTables = h.child.collect { case l: LeafNode => l }.collect {
          case r: LogicalRelation =>
            r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources
              .HadoopFsRelation].location.rootPaths.map(_.getName).mkString(",")
        }
        val boundedDim = leafTables.nonEmpty && leafTables.forall(p =>
          p.contains("nation.parquet") || p.contains("region.parquet"))
        assert(singleRow || boundedDim,
          s"$name: broadcast hint over an sf-proportional relation " +
            s"(leaves: ${leafTables.mkString("; ")}) — would fail at scale")
      }
    }
  }

  test("text_keyword_topk: map-only tf + partial top-k (TakeOrdered)") {
    val q = SparkEntry.queries("text_keyword_topk")(spark, TestSpark.sfDir)
    val nodes = executed(q)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "ranked limit should plan as TakeOrderedAndProject (partial per-partition top-k)")
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "keyword scoring must not shuffle the corpus")
  }
}
