package graft.index

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}
import graft.index.covering.CoveringIndexConfig
import graft.index.ivf.{IvfBuild, IvfIndexConfig, IvfIndexDescriptor}
import graft.index.minhash.{MinHashBuild, MinHashIndexConfig, MinHashIndexDescriptor}
import graft.telemetry.{GraftEventLogging, OptimizeActionEvent, RecordingEventLogger}

/** Quick-optimize file-size threshold + quick-refresh metadata delta
  * (reference analogue: actions/OptimizeAction.scala:57-148,
  * actions/RefreshQuickAction.scala:37-80). */
class OptimizeQuickRefreshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(q.plan)
    case other => p +: other.children.flatMap(allNodes)
  }

  private def indexScanPaths(df: DataFrame): Seq[String] = {
    df.collect()
    allNodes(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
  }

  private def withGraft[T](body: (Graft, String) => T): T = {
    val sys = Files.createTempDirectory("graft-oq-sys-").toString
    val src = Files.createTempDirectory("graft-oq-src-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      .limit(2000).repartition(4)
      .write.mode("overwrite").parquet(src)
    try body(new Graft(spark), src)
    finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      spark.conf.unset(GraftConf.OptimizeFileSizeThresholdKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  /** Append a copy of a few source rows whose keys live in the bucket of
    * the smallest index file, then refresh in merge mode: that bucket
    * now holds two small files (a group quick optimize compacts), every
    * other bucket still one. */
  private def growSmallestBucket(g: Graft, src: String, name: String): Unit = {
    val smallest = g.indexManager.getIndexes().find(_.name == name).get
      .content.files.minBy(_.size)
    val keys = spark.read.parquet(smallest.path).select("l_orderkey").limit(2)
    val source = spark.read.parquet(src)
    val rows = source.join(keys, "l_orderkey")
      .select(source.columns.map(col): _*).collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), source.schema)
      .coalesce(1).write.mode("append").parquet(src)
    g.refreshIndex(name, "incremental")
  }

  private def logId(g: Graft, name: String): Option[Long] =
    g.indexManager.logManager(name).getLatestId

  private def entry(g: Graft, name: String): IndexLogEntry =
    g.indexManager.getIndexes().find(_.name == name).get

  private def q(src: String) = spark.read.parquet(src)
    .filter(col("l_orderkey") <= 50L)
    .select(col("l_orderkey"), col("l_quantity"))

  test("quick optimize is a no-op when no file is under the threshold") {
    withGraft { (g, src) =>
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("oq_noop", Seq("l_orderkey"), Seq("l_quantity")))
      val before = g.indexManager.getIndexes().head
      spark.conf.set(GraftConf.OptimizeFileSizeThresholdKey, "1")
      g.optimizeIndex("oq_noop") // quick is the default mode
      val after = g.indexManager.getIndexes().head
      assert(after.content == before.content,
        "no file under threshold -> content must be untouched")
      assert(after.properties.get("dataVersion") ==
        before.properties.get("dataVersion"))
    }
  }

  test("quick optimize compacts only small files; large files stay in place") {
    withGraft { (g, src) =>
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("oq_part", Seq("l_orderkey"), Seq("l_quantity")))
      growSmallestBucket(g, src, "oq_part")
      val before = g.indexManager.getIndexes().head
      val sizes = before.content.files.map(_.size).sorted
      assert(sizes.size > 2, s"need several bucket files, got ${sizes.size}")
      // threshold between the smallest and largest file sizes: some files
      // compact, some must remain untouched at their original paths
      val threshold = sizes(sizes.size / 2)
      val expectKept = before.content.files.filter(_.size >= threshold)
      val expectSmall = before.content.files.filter(_.size < threshold)
      assert(expectKept.nonEmpty && expectSmall.nonEmpty,
        s"degenerate size split: $sizes, threshold $threshold")

      spark.conf.set(GraftConf.OptimizeFileSizeThresholdKey, threshold.toString)
      g.optimizeIndex("oq_part")
      val after = g.indexManager.getIndexes().head

      // untouched large files are still referenced at their old paths
      val afterPaths = after.content.filePaths.toSet
      assert(expectKept.forall(f => afterPaths.contains(f.path)),
        "large files must remain in content at their original paths")
      // compacted replacements live in a NEW version dir
      assert(expectSmall.forall(f => !afterPaths.contains(f.path)),
        "small files must have been rewritten")
      assert(after.content.root != before.content.root)

      // no rows lost, index still applied, results still correct
      assert(spark.read.parquet(after.content.filePaths: _*).count() ==
        spark.read.parquet(src).count())
      assert(indexScanPaths(q(src)).exists(_.contains("/oq_part/")))
      spark.conf.set(GraftConf.ApplyEnabledKey, "false")
      val expected = q(src).collect().groupBy(identity).view.mapValues(_.length).toMap
      spark.conf.set(GraftConf.ApplyEnabledKey, "true")
      val actual = q(src).collect().groupBy(identity).view.mapValues(_.length).toMap
      assert(actual == expected && expected.nonEmpty)
    }
  }

  test("full optimize rewrites everything regardless of threshold") {
    withGraft { (g, src) =>
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("oq_full", Seq("l_orderkey"), Seq("l_quantity")))
      val before = g.indexManager.getIndexes().head
      spark.conf.set(GraftConf.OptimizeFileSizeThresholdKey, "1")
      g.optimizeIndex("oq_full", "full")
      val after = g.indexManager.getIndexes().head
      assert(after.content.root != before.content.root)
      assert(after.content.filePaths.forall(_.contains(after.content.root)))
    }
  }

  test("quick refresh re-baselines the hybrid-scan staleness thresholds") {
    withGraft { (g, src) =>
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("qr_idx", Seq("l_orderkey"), Seq("l_quantity")))
      assert(indexScanPaths(q(src)).exists(_.contains("/qr_idx/")))

      // append ~100% more bytes — far beyond maxAppendedRatio (0.3):
      // the index must stop being applied
      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .limit(2000).select(spark.read.parquet(src).columns.map(col): _*)
        .coalesce(2).write.mode("append").parquet(src)
      assert(!indexScanPaths(q(src)).exists(_.contains("/qr_idx/")),
        "index should be rejected: appended drift exceeds the threshold")

      // quick refresh: metadata-only blessing of the delta
      g.refreshIndex("qr_idx", "quick")
      val e = g.indexManager.getIndexes().head
      assert(e.update.exists(_.appended.nonEmpty), "delta must be recorded")

      // hybrid scan applies again (index + appended files), results exact
      val paths = indexScanPaths(q(src))
      assert(paths.exists(_.contains("/qr_idx/")),
        s"index should be applied after quick refresh; scanned: $paths")
      spark.conf.set(GraftConf.ApplyEnabledKey, "false")
      val expected = q(src).collect().groupBy(identity).view.mapValues(_.length).toMap
      spark.conf.set(GraftConf.ApplyEnabledKey, "true")
      val actual = q(src).collect().groupBy(identity).view.mapValues(_.length).toMap
      assert(actual == expected && expected.nonEmpty)

      // a further SMALL append stays within the re-baselined threshold
      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .limit(100).select(spark.read.parquet(src).columns.map(col): _*)
        .coalesce(1).write.mode("append").parquet(src)
      assert(indexScanPaths(q(src)).exists(_.contains("/qr_idx/")),
        "small post-blessing drift must still be within thresholds")
    }
  }

  test("vacuum keeps version dirs referenced by spanning content") {
    withGraft { (g, src) =>
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("oq_vac", Seq("l_orderkey"), Seq("l_quantity")))
      growSmallestBucket(g, src, "oq_vac")
      val before = g.indexManager.getIndexes().head
      val sizes = before.content.files.map(_.size).sorted
      spark.conf.set(GraftConf.OptimizeFileSizeThresholdKey,
        sizes(sizes.size / 2).toString)
      g.optimizeIndex("oq_vac") // quick: content now spans v__0 and v__2
      val spanning = g.indexManager.getIndexes().head
      val dirs = spanning.content.filePaths
        .map(p => new org.apache.hadoop.fs.Path(p).getParent.getName).toSet
      assert(dirs.size == 2, s"expected spanning content, got $dirs")

      g.vacuumIndex("oq_vac") // must NOT delete the still-referenced old dir
      val fs = g.indexManager.indexRoot("oq_vac")
        .getFileSystem(spark.sessionState.newHadoopConf())
      val live = fs.listStatus(g.indexManager.indexRoot("oq_vac"))
        .map(_.getPath.getName).filter(_.startsWith("v__")).toSet
      assert(dirs.subsetOf(live), s"vacuum deleted referenced dirs: $live")
      // ...but the compacted-away small files inside the kept dir must be
      // physically reclaimed (file-granular cleanup, no storage leak)
      val v0Files = fs.listStatus(new org.apache.hadoop.fs.Path(
          g.indexManager.indexRoot("oq_vac"), "v__0"))
        .map(_.getPath.toString)
        .filterNot(p => p.contains("/_") || p.contains("/."))
        .toSet
      assert(v0Files.subsetOf(spanning.content.filePaths.toSet),
        s"superseded small files leaked in v__0: " +
          s"${v0Files.diff(spanning.content.filePaths.toSet)}")
      assert(indexScanPaths(q(src)).exists(_.contains("/oq_vac/")))

      // full optimize consolidates; vacuum now drops the old dirs
      g.optimizeIndex("oq_vac", "full")
      g.vacuumIndex("oq_vac")
      val after = fs.listStatus(g.indexManager.indexRoot("oq_vac"))
        .map(_.getPath.getName).filter(_.startsWith("v__")).toSet
      assert(after.size == 1, s"expected one live dir, got $after")
      spark.conf.set(GraftConf.ApplyEnabledKey, "false")
      val expected = q(src).collect().groupBy(identity).view.mapValues(_.length).toMap
      spark.conf.set(GraftConf.ApplyEnabledKey, "true")
      val actual = q(src).collect().groupBy(identity).view.mapValues(_.length).toMap
      assert(actual == expected && expected.nonEmpty)
    }
  }

  test("quick optimize leaves a fresh covering index (one file per bucket) " +
      "alone and still emits its event") {
    withGraft { (g, src) =>
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("oq_fresh", Seq("l_orderkey"), Seq("l_quantity")))
      val before = entry(g, "oq_fresh")
      val idBefore = logId(g, "oq_fresh")
      spark.conf.set(GraftEventLogging.LoggerClassKey,
        classOf[RecordingEventLogger].getName)
      RecordingEventLogger.drain()
      try g.optimizeIndex("oq_fresh")
      finally spark.conf.unset(GraftEventLogging.LoggerClassKey)
      val events = RecordingEventLogger.drain()
      val after = entry(g, "oq_fresh")
      assert(after.content == before.content)
      assert(after.properties.get("dataVersion") ==
        before.properties.get("dataVersion"))
      assert(logId(g, "oq_fresh") == idBefore, "a no-op must write no log entry")
      events match {
        case Seq(e: OptimizeActionEvent) =>
          assert(e.index.id == before.id)
          assert(e.message.contains("oq_fresh") &&
            e.message.contains("nothing to compact"), e.message)
        case other => fail(s"expected one OptimizeActionEvent, got $other")
      }
    }
  }

  test("MinHash quick optimize merges merge-mode appends into one file") {
    withGraft { (g, _) =>
      val src = Files.createTempDirectory("graft-oq-mh-").toString
      val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
        .select(col("doc_id"), col("text"))
      docs.repartition(2).write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("oq_mh", "doc_id", "text"))
      // two merge-mode appends: copies of a few docs under shifted ids
      Seq(100000L, 200000L).foreach { shift =>
        docs.filter(col("doc_id").isin(1L, 2L, 3L))
          .select((col("doc_id") + shift).as("doc_id"), col("text"))
          .coalesce(1).write.mode("append").parquet(src)
        g.refreshIndex("oq_mh", "incremental")
      }
      def pairs = g.nearDuplicates("oq_mh", 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val before = entry(g, "oq_mh")
      val pairsBefore = pairs
      assert(before.content.files.size >= 3, before.content.files)
      assert(pairsBefore.exists(_._2 == 200001L))

      g.optimizeIndex("oq_mh")
      val after = entry(g, "oq_mh")
      assert(after.content.files.size == 1, after.content.files)
      assert(pairs == pairsBefore)
      assert(MinHashBuild.readIndexData(spark, after.content).count() ==
        MinHashBuild.readIndexData(spark, before.content).count())
      assert(after.descriptor.asInstanceOf[MinHashIndexDescriptor]
        .tombstones.isEmpty)
    }
  }

  test("IVF quick optimize with tombstones still purges them") {
    withGraft { (g, _) =>
      val src = Files.createTempDirectory("graft-oq-ivf-").toString
      val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      emb.filter(col("vec_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(src)
      emb.filter(col("vec_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(src)
      g.createIndex(spark.read.parquet(src),
        IvfIndexConfig("oq_ivf", "vec_id", "embedding", k = 4, maxIter = 2))
      // one file per cell: without tombstones quick optimize has nothing
      // to merge
      val dir = new org.apache.hadoop.fs.Path(src)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val odd = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-"))
        .find(p => spark.read.parquet(p.toString)
          .filter(col("vec_id") % 2 === 1).count() > 0).get
      fs.delete(odd, false)
      g.refreshIndex("oq_ivf", "incremental")
      val before = entry(g, "oq_ivf")
      assert(before.descriptor.asInstanceOf[IvfIndexDescriptor]
        .tombstones.nonEmpty)

      g.optimizeIndex("oq_ivf")
      val after = entry(g, "oq_ivf")
      assert(after.descriptor.asInstanceOf[IvfIndexDescriptor]
        .tombstones.isEmpty, "quick optimize must purge the tombstones")
      assert(after.id > before.id)
      val ids = IvfBuild.readIndexData(spark, after.content)
        .select(col("vec_id")).collect().map(_.getLong(0))
      assert(ids.nonEmpty && ids.forall(_ % 2 == 0),
        "tombstoned rows survived the rewrite")
    }
  }

  test("a refresh with an empty delta writes no log entry; quick refresh " +
      "still clears a stale update") {
    withGraft { (g, src) =>
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("oq_nochange", Seq("l_orderkey"), Seq("l_quantity")))
      val id0 = logId(g, "oq_nochange")
      g.refreshIndex("oq_nochange", "quick")
      g.refreshIndex("oq_nochange", "incremental")
      assert(logId(g, "oq_nochange") == id0)

      // record a delta, then undo the drift: the next quick refresh
      // clears the recorded update
      val part = Files.list(java.nio.file.Paths.get(src)).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      val extra = part.resolveSibling("extra-" + part.getFileName)
      Files.copy(part, extra)
      g.refreshIndex("oq_nochange", "quick")
      assert(entry(g, "oq_nochange").update.nonEmpty)
      Files.delete(extra)
      g.refreshIndex("oq_nochange", "quick")
      assert(entry(g, "oq_nochange").update.isEmpty)
      val id1 = logId(g, "oq_nochange")
      assert(id1.get > id0.get)
      g.refreshIndex("oq_nochange", "quick")
      assert(logId(g, "oq_nochange") == id1)
    }
  }
}
