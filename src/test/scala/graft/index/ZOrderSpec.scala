package graft.index

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}
import graft.index.zorder.{ZAddressFn, ZOrderIndexConfig}

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withGraft[T](body: Graft => T): T = {
    val dir = Files.createTempDirectory("graft-zo-").toString
    spark.conf.set(GraftConf.SystemPathKey, dir)
    spark.conf.set("spark.graft.index.zorder.numPartitions", "4")
    try body(new Graft(spark))
    finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      spark.conf.unset("spark.graft.index.zorder.numPartitions")
      rules.IndexCatalog.invalidate(spark)
    }
  }

  private def lineitem =
    spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(q.plan)
    case other => p +: other.children.flatMap(allNodes)
  }

  private def usesIndex(df: DataFrame, indexName: String): Boolean = {
    df.collect()
    allNodes(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
      .exists(_.relation.location.rootPaths.exists(
        _.toString.contains(s"/$indexName/")))
  }

  test("z-address interleaves bucket bits (unit)") {
    val fn = new ZAddressFn(Array(Array(5.0), Array(5.0)), 2)
    // col0 value 7 -> bucket 1 (one boundary <= 7); col1 value 3 -> bucket 0
    // interleave: bit0 of c0 at pos0, bit0 of c1 at pos1, bit1 of c0 at pos2...
    assert(fn(Seq(Double.box(7.0), Double.box(3.0))) == 1L)
    assert(fn(Seq(Double.box(3.0), Double.box(7.0))) == 2L)
    assert(fn(Seq(Double.box(7.0), Double.box(7.0))) == 3L)
    assert(fn(Seq(null, Double.box(3.0))) == 0L)
  }

  test("z-order index build clusters data and rule rewrites on any indexed column") {
    withGraft { g =>
      g.createIndex(lineitem, ZOrderIndexConfig("zo_li",
        Seq("l_orderkey", "l_suppkey"), Seq("l_quantity")))

      val e = g.indexManager.getIndexes().head
      assert(e.descriptor.kind == "ZOrderCoveringIndex")
      val data = spark.read.parquet(e.content.root)
      assert(data.columns.toSet == Set("l_orderkey", "l_suppkey", "l_quantity"))
      assert(data.count() == lineitem.count())

      // filter on NON-head indexed column must be rewritten (unlike CI)
      def q = lineitem.filter(col("l_suppkey") === 1L)
        .select(col("l_suppkey"), col("l_quantity"))
      assert(usesIndex(q, "zo_li"))

      spark.conf.set(GraftConf.ApplyEnabledKey, "false")
      val expected = q.collect().toSet
      spark.conf.set(GraftConf.ApplyEnabledKey, "true")
      assert(q.collect().toSet == expected && expected.nonEmpty)

      // clustering: each output file's l_orderkey span should be far
      // smaller than the global span (z-order locality)
      val spans = data.groupBy(input_file_name())
        .agg((max("l_orderkey") - min("l_orderkey")).as("span"))
        .collect().map(_.getLong(1))
      val globalSpan = lineitem.agg(max("l_orderkey") - min("l_orderkey"))
        .head().getLong(0)
      assert(spans.length > 1, "expected multiple z-order output files")
      // 2 dims × 4 files ⇒ ~1 high bit per dim: expect mean span well
      // below the global span (perfect 1-dim sort would give span/4)
      assert(spans.sum.toDouble / spans.length < 0.9 * globalSpan,
        s"files not clustered: spans=${spans.toSeq} global=$globalSpan")
    }
  }

  test("z-order index on a DATE column (l_shipdate) builds under ANSI") {
    // the fixture stores l_shipdate as a timestamp: index a DATE copy
    val src = Files.createTempDirectory("graft-zo-date-src-").toString
    lineitem.withColumn("l_shipdate", to_date(col("l_shipdate")))
      .write.mode("overwrite").parquet(src)
    withGraft { g =>
      assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
      val source = spark.read.parquet(src)
      g.createIndex(source, ZOrderIndexConfig("zo_date",
        Seq("l_shipdate", "l_suppkey"), Seq("l_quantity")))
      val data = spark.read.parquet(
        g.indexManager.getIndexes().head.content.root)
      assert(data.schema("l_shipdate").dataType ==
        org.apache.spark.sql.types.DateType)
      assert(data.count() == lineitem.count())
      // clustered by the date's day number: each file spans far fewer
      // days than the table does
      val spans = data.groupBy(input_file_name())
        .agg(datediff(max("l_shipdate"), min("l_shipdate")).as("span"))
        .collect().map(_.getInt(1))
      val globalSpan = source
        .agg(datediff(max("l_shipdate"), min("l_shipdate"))).head().getInt(0)
      assert(spans.length > 1, "expected multiple z-order output files")
      assert(spans.sum.toDouble / spans.length < 0.9 * globalSpan,
        s"files not clustered by date: spans=${spans.toSeq} global=$globalSpan")
    }
  }

  test("covering index beats z-order when filter hits head column") {
    withGraft { g =>
      g.createIndex(lineitem, ZOrderIndexConfig("zo_b",
        Seq("l_orderkey"), Seq("l_quantity")))
      g.createIndex(lineitem,
        graft.index.covering.CoveringIndexConfig("ci_b",
          Seq("l_orderkey"), Seq("l_quantity")))
      // z-order scores 60 > covering 50 → z-order wins per reference priors
      def q = lineitem.filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_quantity"))
      assert(usesIndex(q, "zo_b"))
    }
  }

  test("z-order hybrid scan: appended files union in, results stay exact") {
    withGraft { g =>
      val src = Files.createTempDirectory("graft-zo-hyb-").toString
      lineitem.limit(2000).repartition(4)
        .write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        graft.index.zorder.ZOrderIndexConfig("zo_hyb",
          Seq("l_partkey", "l_suppkey"), Seq("l_quantity")))

      // append < 30% of bytes
      lineitem.limit(150).select(spark.read.parquet(src).columns.map(col): _*)
        .coalesce(1).write.mode("append").parquet(src)

      def q = spark.read.parquet(src)
        .filter(col("l_suppkey") === 5L)
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      assert(usesIndex(q, "zo_hyb"),
        "z-order index should still apply via hybrid scan after append")
      spark.conf.set(GraftConf.ApplyEnabledKey, "false")
      val expected = q.collect().map(_.toString).sorted.toSeq
      spark.conf.set(GraftConf.ApplyEnabledKey, "true")
      assert(q.collect().map(_.toString).sorted.toSeq == expected)
      assert(expected.nonEmpty)
    }
  }

  test("z-order optimize under source drift does not duplicate rows") {
    withGraft { g =>
      val src = Files.createTempDirectory("graft-zo-opt-").toString
      lineitem.limit(2000).repartition(4)
        .write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        graft.index.zorder.ZOrderIndexConfig("zo_opt",
          Seq("l_partkey", "l_suppkey"), Seq("l_quantity")))

      // drift the source, then optimize: the rebuild must use the LOGGED
      // snapshot, so the appended rows stay hybrid-only (not baked in AND
      // unioned a second time)
      lineitem.limit(150).select(spark.read.parquet(src).columns.map(col): _*)
        .coalesce(1).write.mode("append").parquet(src)
      g.optimizeIndex("zo_opt", "full")

      def q = spark.read.parquet(src)
        .filter(col("l_suppkey") === 5L)
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      assert(usesIndex(q, "zo_opt"))
      spark.conf.set(GraftConf.ApplyEnabledKey, "false")
      val expected = q.collect().groupBy(identity).view.mapValues(_.length).toMap
      spark.conf.set(GraftConf.ApplyEnabledKey, "true")
      val actual = q.collect().groupBy(identity).view.mapValues(_.length).toMap
      assert(actual == expected, "duplicate or missing rows after optimize")
      assert(expected.nonEmpty)
    }
  }

  test("z-order optimize after a quick refresh that recorded a deleted file " +
      "re-clusters the index's own rows") {
    withGraft { g =>
      val src = Files.createTempDirectory("graft-zo-del-").toString
      lineitem.limit(2000).repartition(8)
        .write.mode("overwrite").parquet(src)
      spark.conf.set(GraftConf.LineageKey, "true")
      try g.createIndex(spark.read.parquet(src),
        graft.index.zorder.ZOrderIndexConfig("zo_del",
          Seq("l_partkey", "l_suppkey"), Seq("l_quantity")))
      finally spark.conf.unset(GraftConf.LineageKey)

      val dir = new org.apache.hadoop.fs.Path(src)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).head, false)
      g.refreshIndex("zo_del", "quick")
      // the logged snapshot still names the deleted file: a rebuild from
      // the source would fail on it (PATH_NOT_FOUND)
      g.optimizeIndex("zo_del", "full")

      def q = spark.read.parquet(src)
        .filter(col("l_suppkey") <= 5L)
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      assert(usesIndex(q, "zo_del"))
      spark.conf.set(GraftConf.ApplyEnabledKey, "false")
      val expected = q.collect().groupBy(identity).view.mapValues(_.length).toMap
      spark.conf.set(GraftConf.ApplyEnabledKey, "true")
      val actual = q.collect().groupBy(identity).view.mapValues(_.length).toMap
      assert(actual == expected && expected.nonEmpty)
    }
  }

  test("z-order incremental refresh over an appended and a deleted file " +
      "rebuilds into the new version dir") {
    withGraft { g =>
      val src = Files.createTempDirectory("graft-zo-inc-").toString
      lineitem.limit(2000).repartition(4)
        .write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        graft.index.zorder.ZOrderIndexConfig("zo_inc",
          Seq("l_partkey", "l_suppkey"), Seq("l_quantity")))

      val dir = new org.apache.hadoop.fs.Path(src)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val victim = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).head
      lineitem.limit(150).select(spark.read.parquet(src).columns.map(col): _*)
        .coalesce(1).write.mode("append").parquet(src)
      fs.delete(victim, false)
      g.refreshIndex("zo_inc", "incremental")

      val e = g.indexManager.getIndexes().head
      assert(new org.apache.hadoop.fs.Path(e.content.root).getName == "v__1")
      assert(e.content.files.nonEmpty &&
        e.content.filePaths.forall(_.contains(e.content.root + "/")),
        s"content outside the new version dir: ${e.content.filePaths}")
      def q = spark.read.parquet(src)
        .filter(col("l_suppkey") <= 5L)
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      assert(usesIndex(q, "zo_inc"))
      spark.conf.set(GraftConf.ApplyEnabledKey, "false")
      val expected = q.collect().groupBy(identity).view.mapValues(_.length).toMap
      spark.conf.set(GraftConf.ApplyEnabledKey, "true")
      val actual = q.collect().groupBy(identity).view.mapValues(_.length).toMap
      assert(actual == expected && expected.nonEmpty)
    }
  }
}
