package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}
import graft.index.covering.CoveringIndexConfig

/**
 * explain + whyNot, with the reference's typed reason taxonomy
 * (FilterReason.scala:33-158): each engineered scenario must surface its
 * EXACT reason code — granular diagnostics are the product here, so a
 * vague catch-all is a regression even when it's technically true.
 */
class PlanAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withGraft[T](body: Graft => T): T = {
    val dir = Files.createTempDirectory("graft-pa-").toString
    spark.conf.set(GraftConf.SystemPathKey, dir)
    try body(new Graft(spark))
    finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  private def lineitem =
    spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
  private def orders =
    spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")

  /** A private copy of a table so drift scenarios can mutate files. */
  private def copyOf(df: org.apache.spark.sql.DataFrame, parts: Int = 4): String = {
    val dir = Files.createTempDirectory("graft-pa-src-").toString
    df.repartition(parts).write.mode("overwrite").parquet(dir)
    dir
  }

  private def reasonFor(g: Graft, q: org.apache.spark.sql.DataFrame,
      index: String): String = g.whyNot(q, index)

  test("explain shows applied index and both plans") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_ci", Seq("l_orderkey"), Seq("l_quantity")))
      val q = lineitem.filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_quantity"))
      val out = g.explain(q)
      assert(out.contains("pa_ci"))
      assert(out.contains("Plan with indexes"))
      assert(out.contains("Plan without indexes"))
    }
  }

  test("explain display modes: plaintext highlights the applied index, " +
      "html wraps and swaps newlines, console uses ANSI, custom tags " +
      "override (reference DisplayMode.scala parity)") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_dm", Seq("l_orderkey"), Seq("l_quantity")))
      val q = lineitem.filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_quantity"))
      // plaintext default: reference's <---- ----> markers
      assert(g.explain(q).contains("<----pa_dm---->"))
      def withConf[A](kvs: (String, String)*)(f: => A): A = {
        kvs.foreach { case (k, v) => spark.conf.set(k, v) }
        try f finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
      }
      val html = withConf(
        "spark.graft.explain.displayMode" -> "html")(g.explain(q))
      assert(html.startsWith("<pre>") && html.endsWith("</pre>") &&
        html.contains("<b style=\"background:LightGreen\">pa_dm</b>") &&
        html.contains("<br>") && !html.contains("\n"))
      val console = withConf(
        "spark.graft.explain.displayMode" -> "console")(g.explain(q))
      assert(console.contains(Console.GREEN_B + "pa_dm" + Console.RESET))
      val custom = withConf(
        "spark.graft.explain.displayMode" -> "html",
        "spark.graft.explain.displayMode.highlight.beginTag" -> "[[",
        "spark.graft.explain.displayMode.highlight.endTag" -> "]]")(
        g.explain(q))
      assert(custom.contains("[[pa_dm]]"))
    }
  }

  test("prefix-colliding applied names highlight each region exactly " +
      "once — no nested tags from a shorter name re-matching inside a " +
      "longer one") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_pfx", Seq("l_orderkey"), Seq("l_quantity")))
      g.createIndex(orders,
        CoveringIndexConfig("pa_pfx_ord", Seq("o_orderkey"), Seq("o_totalprice")))
      val q = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("o_totalprice"))
      val out = g.explain(q)
      // both names are applied and highlighted
      assert(out.contains("<----pa_pfx---->"), out.take(400))
      assert(out.contains("<----pa_pfx_ord---->"), out.take(400))
      // the shorter name must never tag INSIDE the longer name's tags
      assert(!out.contains("<----<----"), "nested highlight tags:\n" +
        out.linesIterator.filter(_.contains("<----<----")).mkString("\n"))
    }
  }

  test("explain surfaces the AlignAggExchange re-key as a physical " +
      "decision line (the qds47 shape: groupBy under a subset-key " +
      "window)") {
    withGraft { g =>
      import org.apache.spark.sql.expressions.Window
      val q = lineitem
        .groupBy(col("l_suppkey").as("sk"), col("l_returnflag").as("rf"))
        .agg(sum(col("l_quantity")).as("q"))
        .withColumn("rk",
          rank().over(Window.partitionBy(col("sk")).orderBy(col("q").desc)))
      val out = g.explain(q)
      assert(out.contains("=== Physical decisions ==="), out.takeRight(400))
      assert(out.contains("physical: aligned agg exchange on (l_suppkey)"),
        out.takeRight(400))
    }
  }

  test("explain surfaces sorted-scan ordering claims on a bucketed join " +
      "and stays silent when neither physical rule fired") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_sc_li", Seq("l_orderkey"), Seq("l_quantity")))
      g.createIndex(orders,
        CoveringIndexConfig("pa_sc_ord", Seq("o_orderkey"), Seq("o_totalprice")))
      val q = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("o_totalprice"))
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out =
        try g.explain(q)
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // applied-index highlighting reaches the annotation line too
      assert(out.contains("physical: sort claimed by bucketed scan " +
        "<----pa_sc_li----> (l_orderkey)"), out.takeRight(600))
      assert(out.contains("physical: sort claimed by bucketed scan " +
        "<----pa_sc_ord----> (o_orderkey)"), out.takeRight(600))
      // a plain filter query triggers neither rule: zero-byte section
      val quiet = g.explain(lineitem.filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey")))
      assert(!quiet.contains("=== Physical decisions ==="))
    }
  }

  test("explain surfaces HoistSemiGate as logical-decision lines — the " +
      "qds56 shape reports the hoist AND the grain-aware placement; a " +
      "plain query renders no section") {
    withGraft { g =>
      g.createIndex(lineitem, CoveringIndexConfig("pa_hs_li",
        Seq("l_partkey"), Seq("l_linenumber", "l_quantity", "l_shipdate")))
      val part = spark.read.parquet(s"${TestSpark.sfDir}/part.parquet")
      g.createIndex(part,
        CoveringIndexConfig("pa_hs_part", Seq("p_partkey"), Seq("p_brand")))
      val gate = part.filter(col("p_size") === 1)
        .select(col("p_brand").as("gb")).distinct()
      val q = lineitem
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(gate, col("p_brand") === col("gb"), "left_semi")
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(col("l_quantity")).as("qty"))
      val out = g.explain(q)
      assert(out.contains("=== Logical decisions ==="), out.takeRight(600))
      assert(out.contains("logical: semi gate hoisted above bucketed " +
        "pair on (p_brand)"), out.takeRight(600))
      assert(out.contains("gate placed above aggregate"), out.takeRight(600))
      // no semi-gate shape involved -> zero-byte section
      val quiet = g.explain(lineitem.filter(col("l_partkey") === 1L)
        .select(col("l_partkey")))
      assert(!quiet.contains("=== Logical decisions ==="))
    }
  }

  test("whyNot surfaces SEMI_GATE_KEPT_IN_PLACE with the servable key " +
      "set (the qds23 shape: the pushed-down semi rides the leg's own " +
      "buckets)") {
    withGraft { g =>
      g.createIndex(lineitem, CoveringIndexConfig("pa_kp_li",
        Seq("l_partkey"), Seq("l_quantity", "l_returnflag")))
      val part = spark.read.parquet(s"${TestSpark.sfDir}/part.parquet")
      g.createIndex(part,
        CoveringIndexConfig("pa_kp_part", Seq("p_partkey"), Seq("p_brand")))
      val gate = lineitem.select(col("l_partkey").as("gpk")).distinct()
      val q = lineitem.filter(col("l_returnflag") === "R")
        .join(part.join(gate, col("p_partkey") === col("gpk"), "left_semi"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(col("l_quantity")).as("qty"))
      // plan once OUTSIDE the measured window (first planning runs the
      // real rewrite pipeline, which collects per leg)
      q.queryExecution.optimizedPlan
      val before = rules.IndexCandidates.collectCalls.get()
      val out = g.whyNot(q)
      // the gate dry-run must reuse whyNot's own candidate collection:
      // exactly ONE collect per analysis call (the diagnostics path
      // must not re-list source files per decision probe)
      val delta = rules.IndexCandidates.collectCalls.get() - before
      assert(delta == 1, s"whyNot must collect candidates exactly once, did $delta")
      assert(out.contains("SEMI_GATE_KEPT_IN_PLACE"), out)
      assert(out.contains("servable on leg bucket keys (p_partkey)"), out)
    }
  }

  test("whyNot reports APPLIED for used index") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_used", Seq("l_orderkey"), Seq("l_quantity")))
      val q = lineitem.filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_quantity"))
      assert(g.whyNot(q).contains("'pa_used' [CI]: APPLIED"))
    }
  }

  test("explain renders the physical-operator diff table; removed shuffles starred") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_oj_l", Seq("l_orderkey"), Seq("l_quantity")))
      g.createIndex(orders,
        CoveringIndexConfig("pa_oj_o", Seq("o_orderkey"), Seq("o_totalprice")))
      val q = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_quantity"), col("o_totalprice"))
      // force the shuffle-join shape so the bucketed-index rewrite's
      // removed Exchanges show up in the diff regardless of table size
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = try g.explain(q)
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      assert(out.contains("=== Physical operator stats (with vs without indexes) ==="))
      assert(out.contains("Physical Operator"))
      val exchangeRow = out.linesIterator.find(_.startsWith("| Exchange"))
      assert(exchangeRow.isDefined, "no Exchange row in the operator table")
      assert(exchangeRow.get.contains("*"),
        s"bucketed index join should remove Exchanges: ${exchangeRow.get}")
    }
  }

  test("explain/whyNot never leak their rewrite-off state to concurrent planning") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_conc", Seq("l_orderkey"), Seq("l_quantity")))
      def q = lineitem.filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_quantity"))
      def usesIndex: Boolean =
        graft.index.analysis.PlanAnalysis.appliedIndexes(spark, q)
          .contains("pa_conc")
      assert(usesIndex)
      // hammer explain + whyNot on background threads; every plan built
      // concurrently on THIS thread must still get the rewrite — the
      // old session-conf toggle opened a window where it silently didn't
      @volatile var stop = false
      val analyzers = (1 to 2).map { _ =>
        val t = new Thread(() => {
          while (!stop) { g.explain(q); g.whyNot(q) }
        })
        t.setDaemon(true); t.start(); t
      }
      try {
        val lost = (1 to 40).count(_ => !usesIndex)
        assert(lost == 0,
          s"$lost/40 concurrent plans lost the index rewrite during analysis")
      } finally {
        stop = true
        analyzers.foreach(_.join(2000))
      }
    }
  }

  // ------------------------------------------------ filter-shape codes

  test("NO_FIRST_INDEXED_COL_COND: filter on an included, non-head column") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_head", Seq("l_orderkey"), Seq("l_quantity")))
      val q = lineitem.filter(col("l_quantity") === 10.0)
        .select(col("l_orderkey"))
      val out = reasonFor(g, q, "pa_head")
      assert(out.contains("NO_FIRST_INDEXED_COL_COND") &&
        out.contains("l_orderkey"), out)
    }
  }

  test("MISSING_REQUIRED_COL: projection outside the index, with both column lists") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_cover", Seq("l_orderkey"), Seq("l_quantity")))
      val q = lineitem.filter(col("l_orderkey") === 1L)
        .select(col("l_extendedprice"))
      val out = reasonFor(g, q, "pa_cover")
      assert(out.contains("MISSING_REQUIRED_COL") &&
        out.contains("l_extendedprice"), out)
    }
  }

  test("INELIGIBLE_FILTER_CONDITION: non-deterministic predicate") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_rand", Seq("l_orderkey"), Seq("l_quantity")))
      val q = lineitem.filter(col("l_orderkey") > rand() * 10)
        .select(col("l_orderkey"), col("l_quantity"))
      assert(reasonFor(g, q, "pa_rand").contains("INELIGIBLE_FILTER_CONDITION"))
    }
  }

  test("NO_FILTER_OR_JOIN: bare aggregation without filter or join") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_bare", Seq("l_orderkey"), Seq("l_quantity")))
      // NB: a groupBy here would be APPLIED via AggIndexRule (shuffle-free
      // bucketed agg), so the truly-bare shape is a plain projection
      val q = lineitem.select(col("l_orderkey"), col("l_quantity"))
      assert(reasonFor(g, q, "pa_bare").contains("NO_FILTER_OR_JOIN"))
    }
  }

  test("COL_SCHEMA_MISMATCH: query against an unrelated table names both sides") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_col", Seq("l_orderkey"), Seq("l_quantity")))
      val q = orders.filter(col("o_orderkey") === 1L).select(col("o_totalprice"))
      val out = reasonFor(g, q, "pa_col")
      assert(out.contains("COL_SCHEMA_MISMATCH") &&
        out.contains("indexColumns=[l_orderkey,l_quantity]"), out)
    }
  }

  // ----------------------------------------------------- drift codes

  test("SOURCE_DATA_CHANGED: drift with hybrid scan disabled") {
    withGraft { g =>
      val src = copyOf(lineitem.limit(400))
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("pa_sig", Seq("l_orderkey"), Seq("l_quantity")))
      lineitem.limit(20).coalesce(1).write.mode("append").parquet(src)
      spark.conf.set(GraftConf.HybridScanKey, "false")
      try {
        val q = spark.read.parquet(src).filter(col("l_orderkey") === 1L)
          .select(col("l_orderkey"), col("l_quantity"))
        assert(reasonFor(g, q, "pa_sig").contains("SOURCE_DATA_CHANGED"))
      } finally spark.conf.unset(GraftConf.HybridScanKey)
    }
  }

  test("TOO_MUCH_APPENDED: drift beyond the hybrid append ratio, with the numbers") {
    withGraft { g =>
      val src = copyOf(lineitem.limit(200))
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("pa_app", Seq("l_orderkey"), Seq("l_quantity")))
      // append roughly 3x the indexed bytes — way past the 0.3 ratio
      lineitem.limit(2000).coalesce(1).write.mode("append").parquet(src)
      val q = spark.read.parquet(src).filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_quantity"))
      val out = reasonFor(g, q, "pa_app")
      assert(out.contains("TOO_MUCH_APPENDED") && out.contains("0.30"), out)
    }
  }

  test("TOO_MUCH_APPENDED after a quick refresh reports the ratio the " +
      "candidate check compared: only bytes appended since the refresh") {
    withGraft { g =>
      val src = copyOf(lineitem.limit(400))
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("pa_qr", Seq("l_orderkey"), Seq("l_quantity")))
      val dir = new org.apache.hadoop.fs.Path(src)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      def parts = fs.listStatus(dir).filter(_.getPath.getName.startsWith("part-"))
      lineitem.limit(800).coalesce(1).write.mode("append").parquet(src)
      g.refreshIndex("pa_qr", "quick")
      val blessed = parts.map(_.getPath).toSet
      lineitem.limit(800).coalesce(1).write.mode("append").parquet(src)
      val current = parts
      val ratio = current.filterNot(f => blessed(f.getPath)).map(_.getLen).sum
        .toDouble / current.map(_.getLen).sum
      val q = spark.read.parquet(src).filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_quantity"))
      val out = reasonFor(g, q, "pa_qr")
      assert(out.contains("TOO_MUCH_APPENDED") &&
        out.contains(f"appendedRatio=[$ratio%.2f]"), s"ratio $ratio: $out")
    }
  }

  test("TOO_MUCH_DELETED: drift beyond the hybrid delete ratio") {
    withGraft { g =>
      val src = copyOf(lineitem.limit(1000), parts = 8)
      spark.conf.set(GraftConf.LineageKey, "true")
      try g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("pa_del", Seq("l_orderkey"), Seq("l_quantity")))
      finally spark.conf.unset(GraftConf.LineageKey)
      // delete 3 of 8 part files (~37% of bytes > 20% bound)
      val dir = new org.apache.hadoop.fs.Path(src)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).take(3)
        .foreach(fs.delete(_, false))
      val q = spark.read.parquet(src).filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_quantity"))
      val out = reasonFor(g, q, "pa_del")
      assert(out.contains("TOO_MUCH_DELETED") && out.contains("0.20"), out)
    }
  }

  test("NO_COMMON_FILES: source fully rewritten") {
    withGraft { g =>
      val src = copyOf(lineitem.limit(300))
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("pa_nocommon", Seq("l_orderkey"), Seq("l_quantity")))
      lineitem.limit(300).repartition(4).write.mode("overwrite").parquet(src)
      val q = spark.read.parquet(src).filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_quantity"))
      assert(reasonFor(g, q, "pa_nocommon").contains("NO_COMMON_FILES"))
    }
  }

  test("NO_DELETE_SUPPORT: deletes within ratio but the index has no lineage") {
    withGraft { g =>
      val src = copyOf(lineitem.limit(1000), parts = 8)
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("pa_nolin", Seq("l_orderkey"), Seq("l_quantity")))
      val dir = new org.apache.hadoop.fs.Path(src)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val victim = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).head
      fs.delete(victim, false) // ~12% of bytes, inside the 20% bound
      val q = spark.read.parquet(src).filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_quantity"))
      assert(reasonFor(g, q, "pa_nolin").contains("NO_DELETE_SUPPORT"))
    }
  }

  // ------------------------------------------------------- join codes

  test("outer join over two indexed sides IS rewritten (r12: the scan " +
      "swap covers non-inner join types); whyNot reports applied") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_jl", Seq("l_orderkey"), Seq("l_quantity")))
      g.createIndex(orders,
        CoveringIndexConfig("pa_jr", Seq("o_orderkey"), Seq("o_totalprice")))
      val (li, ord) = (lineitem, orders)
      val q = li.join(ord,
        li("l_orderkey") === ord("o_orderkey"), "left_outer")
        .select(col("l_orderkey"), col("l_quantity"), col("o_totalprice"))
      val out = reasonFor(g, q, "pa_jl")
      assert(!out.contains("NOT_ELIGIBLE_JOIN"), out)
      assert(g.explain(q).contains("pa_jl"),
        "outer join did not rewrite to the index pair")
    }
  }

  test("NOT_ELIGIBLE_JOIN: a join type outside the rewrite set") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_jc", Seq("l_orderkey"), Seq("l_quantity")))
      val (li, ord) = (lineitem, orders)
      // ExistenceJoin is internal-only; the user-reachable non-member
      // is a cross join, which has no condition — the analyzer reports
      // the missing equi conjunct as the eligibility failure
      val q = li.crossJoin(ord)
        .select(col("l_orderkey"), col("l_quantity"), col("o_totalprice"))
      val out = reasonFor(g, q, "pa_jc")
      assert(out.contains("no join condition") ||
        out.contains("NOT_ELIGIBLE_JOIN") || out.contains("NO_"), out)
    }
  }

  test("NO_AVAIL_JOIN_INDEX_PAIR: inner equi join with an index on one side only") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_only", Seq("l_orderkey"), Seq("l_quantity")))
      val (li, ord) = (lineitem, orders)
      // l_extendedprice keeps the FILTER rule from scan-swapping the left
      // side on the inferred isnotnull — only the join path is in question
      val q = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("o_totalprice"))
      val out = reasonFor(g, q, "pa_only")
      assert(out.contains("NO_AVAIL_JOIN_INDEX_PAIR") && out.contains("right"), out)
    }
  }

  test("MISSING_INDEXED_COL: index bucketed on a different column than the join key") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_wrongkey", Seq("l_partkey"),
          Seq("l_orderkey", "l_quantity")))
      g.createIndex(orders,
        CoveringIndexConfig("pa_rkey", Seq("o_orderkey"), Seq("o_totalprice")))
      val (li, ord) = (lineitem, orders)
      // no filter on l_partkey: otherwise the FILTER rule applies this
      // index and the join diagnosis never comes into play
      val q = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("o_totalprice"))
      val out = reasonFor(g, q, "pa_wrongkey")
      assert(out.contains("MISSING_INDEXED_COL") &&
        out.contains("requiredIndexedCols=[l_orderkey]"), out)
    }
  }

  test("NOT_ALL_JOIN_COL_INDEXED: index carries an extra bucketing column") {
    withGraft { g =>
      // no included columns: including l_quantity would let the FILTER
      // rule scan-swap on the inferred isnotnull and the index APPLIES
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_extra", Seq("l_orderkey", "l_linenumber")))
      g.createIndex(orders,
        CoveringIndexConfig("pa_rext", Seq("o_orderkey"), Seq("o_totalprice")))
      val (li, ord) = (lineitem, orders)
      val q = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("o_totalprice"))
      val out = reasonFor(g, q, "pa_extra")
      assert(out.contains("NOT_ALL_JOIN_COL_INDEXED") &&
        out.contains("joinCols=[l_orderkey]"), out)
    }
  }

  test("NO_COMPATIBLE_JOIN_INDEX_PAIR: other side's index keyed off the join column") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_goodl", Seq("l_orderkey"), Seq("l_quantity")))
      // right-side index exists and covers, but is bucketed on o_custkey
      g.createIndex(orders,
        CoveringIndexConfig("pa_badr", Seq("o_custkey"),
          Seq("o_orderkey", "o_totalprice")))
      val (li, ord) = (lineitem, orders)
      // l_extendedprice blocks the left filter scan-swap; o_custkey keeps
      // the right index's bucketing column from being pruned out of the
      // relation (schema-filtered candidates resolve against the pruned
      // leaf output)
      val q = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("o_custkey"), col("o_totalprice"))
      val out = reasonFor(g, q, "pa_goodl")
      assert(out.contains("NO_COMPATIBLE_JOIN_INDEX_PAIR"), out)
    }
  }

  test("ANOTHER_INDEX_APPLIED: losing index names the winner") {
    withGraft { g =>
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_win", Seq("l_orderkey"), Seq("l_quantity")))
      // same shape, but carries an extra included column -> bigger data,
      // ranked behind the tighter index
      g.createIndex(lineitem,
        CoveringIndexConfig("pa_lose", Seq("l_orderkey"),
          Seq("l_quantity", "l_extendedprice")))
      val q = lineitem.filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_quantity"))
      val out = g.whyNot(q)
      assert(out.contains("APPLIED"))
      assert(out.contains("ANOTHER_INDEX_APPLIED"), out)
    }
  }

  test("whyNot analyzes an EXISTS probe as the join it becomes") {
    withGraft { g =>
      // the probe index is bucketed on the WRONG key (orderkey, while
      // the EXISTS correlates on custkey) — whyNot must say so in
      // join-pair terms rather than a misleading filter-only reason
      g.createIndex(orders,
        CoveringIndexConfig("pa_probe_wrongkey", Seq("o_orderkey"),
          Seq("o_custkey", "o_totalprice")))
      val customer = spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")
      customer.createOrReplaceTempView("pa_exists_cust")
      orders.createOrReplaceTempView("pa_exists_ord")
      val q = spark.sql(
        """SELECT c_mktsegment FROM pa_exists_cust
          |WHERE EXISTS (SELECT 1 FROM pa_exists_ord
          |  WHERE o_custkey = c_custkey AND o_totalprice > 1000)""".stripMargin)
      val out = reasonFor(g, q, "pa_probe_wrongkey")
      assert(out.contains("MISSING_INDEXED_COL") && out.contains("probe"),
        s"expected a probe-side key reason, got: $out")
    }
  }

  test("whyNot labels API-served kinds instead of misleading rewrite reasons") {
    withGraft { g =>
      val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      g.createIndex(docs,
        graft.index.minhash.MinHashIndexConfig("pa_mh", "doc_id", "text"))
      val out = g.whyNot(docs.filter(col("doc_id") > 5))
      assert(out.contains("pa_mh") && out.contains("API_SERVED"),
        s"expected API_SERVED label, got: $out")
    }
  }
}
