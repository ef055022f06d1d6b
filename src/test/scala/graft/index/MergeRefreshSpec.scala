package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}
import graft.index.covering.CoveringIndexConfig
import graft.index.dataskipping.{DataSkippingIndexConfig, SketchSpec}
import graft.index.ivf.{IvfBuild, IvfIndexConfig}

/**
 * Merge-mode incremental refresh: an append-only refresh must write ONLY
 * the appended slice — every pre-existing index data file stays byte-
 * identical in place (same path/size/mtime) and remains referenced by
 * content (reference: index/covering/CoveringIndexTrait.scala:58-77 Merge
 * mode + actions/RefreshIncrementalAction.scala:115-128).
 *
 * This is the O(appended)-vs-O(index) write-amplification contract: at
 * 100 TB with 1% daily append, a refresh writes ~1 TB, not 100 TB.
 */
class MergeRefreshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withDirs[T](body: (Graft, String) => T): T = {
    val sys = Files.createTempDirectory("graft-mr-sys-").toString
    val src = Files.createTempDirectory("graft-mr-src-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    try body(new Graft(spark), src)
    finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  /** (path -> (size, mtime)) for every index data file currently on disk
    * under the index root, recursively. */
  private def diskFiles(g: Graft, name: String): Map[String, (Long, Long)] = {
    val root = g.indexManager.indexRoot(name)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(root, true)
    val buf = Map.newBuilder[String, (Long, Long)]
    while (it.hasNext) {
      val s = it.next()
      val n = s.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".") &&
          !s.getPath.toString.contains("_graft_log"))
        buf += s.getPath.toString -> ((s.getLen, s.getModificationTime))
    }
    buf.result()
  }

  private def assertMergeMode(
      g: Graft, name: String,
      before: Map[String, (Long, Long)],
      refresh: => Unit): Map[String, (Long, Long)] = {
    refresh
    val after = diskFiles(g, name)
    // every pre-existing file survives byte-identical (path, size, mtime)
    before.foreach { case (p, meta) =>
      assert(after.get(p).contains(meta),
        s"pre-existing index file was rewritten or dropped: $p " +
          s"(before=$meta after=${after.get(p)})")
    }
    assert(after.size > before.size, "refresh added no new index files")
    // and the log's content references BOTH old and new files
    val content = g.indexManager.getIndexes().head.content
    val referenced = content.filePaths.toSet
    before.keys.foreach(p => assert(referenced.contains(p),
      s"old index file no longer referenced by content: $p"))
    after
  }

  test("covering: append-only incremental refresh writes only the appended slice") {
    withDirs { (g, src) =>
      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .limit(2000).repartition(4).write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("mr_ci", Seq("l_orderkey"), Seq("l_quantity")))
      val before = diskFiles(g, "mr_ci")

      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .limit(300).select(spark.read.parquet(src).columns.map(col): _*)
        .coalesce(1).write.mode("append").parquet(src)

      assertMergeMode(g, "mr_ci", before,
        g.refreshIndex("mr_ci", "incremental"))

      // merged content serves the query exactly (index is exact again)
      val e = g.indexManager.getIndexes().head
      val idxRows = spark.read.parquet(e.content.filePaths: _*).count()
      assert(idxRows == spark.read.parquet(src).count())
      val qr = spark.read.parquet(src)
        .filter(col("l_orderkey") <= 50L)
        .select(col("l_orderkey"), col("l_quantity"))
      spark.conf.set(GraftConf.ApplyEnabledKey, "false")
      val expected = qr.collect().groupBy(identity).view.mapValues(_.length).toMap
      spark.conf.set(GraftConf.ApplyEnabledKey, "true")
      val actual = qr.collect().groupBy(identity).view.mapValues(_.length).toMap
      assert(actual == expected && expected.nonEmpty)
    }
  }

  test("covering: a second append merges again without touching round-1 files") {
    withDirs { (g, src) =>
      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .limit(1000).repartition(2).write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("mr_ci2", Seq("l_orderkey"), Seq("l_quantity")))
      val cols = spark.read.parquet(src).columns.map(col).toSeq

      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .limit(100).select(cols: _*).coalesce(1)
        .write.mode("append").parquet(src)
      g.refreshIndex("mr_ci2", "incremental")
      val afterFirst = diskFiles(g, "mr_ci2")

      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .limit(150).select(cols: _*).coalesce(1)
        .write.mode("append").parquet(src)
      assertMergeMode(g, "mr_ci2", afterFirst,
        g.refreshIndex("mr_ci2", "incremental"))

      val e = g.indexManager.getIndexes().head
      assert(spark.read.parquet(e.content.filePaths: _*).count() ==
        spark.read.parquet(src).count())
    }
  }

  test("covering: refresh with DELETES still rewrites (lineage filter path)") {
    withDirs { (g, src) =>
      spark.conf.set(GraftConf.LineageKey, "true")
      try {
        spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
          .limit(1000).repartition(4).write.mode("overwrite").parquet(src)
        g.createIndex(spark.read.parquet(src),
          CoveringIndexConfig("mr_del", Seq("l_orderkey"), Seq("l_quantity")))
        val fs = new org.apache.hadoop.fs.Path(src)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val dataFile = fs.listStatus(new org.apache.hadoop.fs.Path(src))
          .map(_.getPath).filter(_.getName.startsWith("part-")).head
        fs.delete(dataFile, false)
        g.refreshIndex("mr_del", "incremental")
        val e = g.indexManager.getIndexes().head
        // rewrite: all content lives in the new version dir (file paths
        // are scheme-qualified, content.root is not — compare by contains)
        assert(e.content.filePaths.forall(_.contains(e.content.root)))
        assert(spark.read.parquet(e.content.filePaths: _*).count() ==
          spark.read.parquet(src).count())
      } finally spark.conf.unset(GraftConf.LineageKey)
    }
  }

  test("covering without lineage: incremental refresh over deletes refuses " +
      "before writing anything") {
    withDirs { (g, src) =>
      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .limit(1000).repartition(4).write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("mr_nolin", Seq("l_orderkey"), Seq("l_quantity")))
      val log = g.indexManager.logManager("mr_nolin")
      val root = g.indexManager.indexRoot("mr_nolin")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      def versionDirs = fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("v__")).toSet
      val (idBefore, dirsBefore) = (log.getLatestId, versionDirs)

      val srcDir = new org.apache.hadoop.fs.Path(src)
      fs.delete(fs.listStatus(srcDir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).head, false)
      val e = intercept[IllegalArgumentException] {
        g.refreshIndex("mr_nolin", "incremental")
      }
      assert(e.getMessage.contains("requires lineage"))
      assert(log.getLatestId == idBefore, "the refused refresh wrote a log entry")
      assert(versionDirs == dirsBefore, "the refused refresh made a version dir")
      assert(log.getLatestStableLog.get.state == IndexState.Active)
      // a full refresh still recovers the index
      g.refreshIndex("mr_nolin", "full")
      assert(spark.read.parquet(
        g.indexManager.getIndexes().head.content.filePaths: _*).count() ==
        spark.read.parquet(src).count())
    }
  }

  test("data-skipping: append-only refresh adds sketch rows, keeps old files") {
    withDirs { (g, src) =>
      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .limit(1000).repartition(3).write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        DataSkippingIndexConfig("mr_ds", Seq(SketchSpec.minMax("l_orderkey"))))
      val before = diskFiles(g, "mr_ds")

      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .limit(200).select(spark.read.parquet(src).columns.map(col): _*)
        .coalesce(1).write.mode("append").parquet(src)

      assertMergeMode(g, "mr_ds", before,
        g.refreshIndex("mr_ds", "incremental"))
      val e = g.indexManager.getIndexes().head
      // one sketch row per current source file, across old + new files
      assert(spark.read.parquet(e.content.filePaths: _*).count() ==
        spark.read.parquet(src).inputFiles.length)
    }
  }

  test("ivf: append-only refresh writes only new cell files; search spans dirs") {
    withDirs { (g, src) =>
      val embeddings = spark.read
        .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      embeddings.filter(col("vec_id") % 2 === 0).repartition(2)
        .write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        IvfIndexConfig("mr_ivf", "vec_id", "embedding", k = 4, maxIter = 2))
      val before = diskFiles(g, "mr_ivf")

      embeddings.filter(col("vec_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(src)
      assertMergeMode(g, "mr_ivf", before,
        g.refreshIndex("mr_ivf", "incremental"))

      // version-dir-spanning read sees every row with its cell
      val e = g.indexManager.getIndexes().head
      val data = IvfBuild.readIndexData(spark, e.content)
      assert(data.count() == spark.read.parquet(src).count())
      assert(data.columns.contains(IvfBuild.CellColumn))

      // search works across the spanning content
      val queries = embeddings.limit(5)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      assert(g.annSearch("mr_ivf", queries, topK = 3, nProbe = 4).count() == 15)

      // full-probe search must SEE the appended (odd) vectors: an odd
      // query's own vector is its cosine-1.0 top hit
      val oddQ = embeddings.filter(col("vec_id") % 2 === 1).limit(3)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      val hits = g.annSearch("mr_ivf", oddQ, topK = 1, nProbe = 4)
        .select(col("qid"), col("vec_id")).collect()
      hits.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"appended vector not found as its own nearest neighbor: $r"))
    }
  }
}
