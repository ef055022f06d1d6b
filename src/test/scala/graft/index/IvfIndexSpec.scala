package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}
import graft.index.ivf.{IvfBuild, IvfIndexConfig, IvfIndexDescriptor}

/** IVF similarity index: managed lifecycle + data-derived codebook +
  * probe-limited search with acceptable recall vs exact brute force. */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withGraft[T](body: Graft => T): T = {
    val dir = Files.createTempDirectory("graft-ivf-").toString
    spark.conf.set(GraftConf.SystemPathKey, dir)
    try body(new Graft(spark))
    finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  private def embeddings = spark.read
    .parquet(s"${TestSpark.sfDir}/embeddings.parquet")

  test("build: codebook trained, data cell-partitioned, catalog lists it") {
    withGraft { g =>
      g.createIndex(embeddings, IvfIndexConfig("ann_idx", "vec_id", "embedding",
        k = 8, maxIter = 3))
      val e = g.indexManager.getIndexes().head
      val d = e.descriptor.asInstanceOf[IvfIndexDescriptor]
      assert(d.centroids.size == 8)
      assert(d.centroids.forall(_.size == 64))
      // data is laid out by cell (partition dirs) and complete
      val data = spark.read.parquet(e.content.root)
      assert(data.columns.contains(IvfBuild.CellColumn))
      assert(data.count() == embeddings.count())
      val cells = data.select(IvfBuild.CellColumn).distinct().count()
      assert(cells > 1 && cells <= 8, s"degenerate clustering: $cells cells")
      // catalog surface
      val row = g.indexes.filter(col("name") === "ann_idx").collect().head
      assert(row.getAs[String]("kind") == "IvfIndex")
    }
  }

  test("search recall vs exact brute force is acceptable; full probe is exact") {
    withGraft { g =>
      g.createIndex(embeddings, IvfIndexConfig("ann_rec", "vec_id", "embedding",
        k = 8, maxIter = 3))
      val queries = embeddings.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))

      // exact top-5 by cosine (same tie-break as the index search)
      val dot = graft.functions.VectorFunctions.dotp _
      val corpus = embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("nv"))
      val exact = broadcast(queries).crossJoin(corpus)
        .withColumn("cosine", dot(col("qv"), col("nv")) /
          (sqrt(dot(col("qv"), col("qv"))) * sqrt(dot(col("nv"), col("nv")))))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("cosine").desc, col("vec_id"))))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      val approx = g.annSearch("ann_rec", queries, topK = 5, nProbe = 3)
        .select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = exact.intersect(approx).size.toDouble / exact.size
      assert(recall >= 0.6, s"recall $recall too low for nProbe=3 of 8")

      // probing every cell = exact search
      val full = g.annSearch("ann_rec", queries, topK = 5, nProbe = 8)
        .select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(full == exact, "nProbe=k must reproduce exact top-k")

      // the packaged diagnostic agrees: full probe = recall 1.0
      // everywhere; the nProbe=3 aggregate matches the hand-computed one
      val rFull = g.annRecall("ann_rec", queries, topK = 5, nProbe = 8)
        .collect()
      assert(rFull.nonEmpty && rFull.forall(_.getAs[Double]("recall") == 1.0))
      assert(rFull.forall(_.getAs[Long]("n_exact") == 5L))
      val r3 = g.annRecall("ann_rec", queries, topK = 5, nProbe = 3).collect()
      val overall = r3.map(_.getAs[Long]("n_hit")).sum.toDouble /
        r3.map(_.getAs[Long]("n_exact")).sum
      assert(math.abs(overall - recall) < 1e-9,
        s"annRecall overall $overall != hand-computed $recall")
    }
  }

  test("lifecycle: refresh rebuilds, delete hides, restore re-lists") {
    withGraft { g =>
      g.createIndex(embeddings, IvfIndexConfig("ann_lc", "vec_id", "embedding",
        k = 4, maxIter = 2))
      val v0 = g.indexManager.getIndexes().head.content.root
      g.refreshIndex("ann_lc", "full")
      val e = g.indexManager.getIndexes().head
      assert(e.content.root != v0)
      assert(e.descriptor.asInstanceOf[IvfIndexDescriptor].centroids.size == 4)
      g.deleteIndex("ann_lc")
      intercept[NoSuchElementException] {
        g.annSearch("ann_lc", embeddings.limit(1)
          .select(col("vec_id").as("qid"),
            col("embedding").cast("array<double>").as("qv")))
      }
      g.restoreIndex("ann_lc")
      assert(g.indexManager.getIndexes().map(_.name).contains("ann_lc"))
    }
  }

  test("incremental refresh assigns appended vectors with the frozen codebook") {
    val sys = Files.createTempDirectory("graft-ivf-inc-").toString
    val src = Files.createTempDirectory("graft-ivf-src-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    try {
      val g = new Graft(spark)
      embeddings.filter(col("vec_id") % 2 === 0).repartition(2)
        .write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        IvfIndexConfig("ann_inc", "vec_id", "embedding", k = 4, maxIter = 2))
      val before = g.indexManager.getIndexes().head
      val codebook = before.descriptor
        .asInstanceOf[IvfIndexDescriptor].centroids

      // append the odd half and refresh incrementally
      embeddings.filter(col("vec_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(src)
      g.refreshIndex("ann_inc", "incremental")
      val after = g.indexManager.getIndexes().head
      assert(after.content.root != before.content.root)
      // codebook FROZEN (no retrain on incremental)
      assert(after.descriptor.asInstanceOf[IvfIndexDescriptor].centroids
        == codebook)
      // all rows present, partition layout intact (merge mode: content
      // spans version dirs, each with its own basePath)
      val data = IvfBuild.readIndexData(spark, after.content)
      assert(data.count() == spark.read.parquet(src).count())
      assert(data.columns.contains(IvfBuild.CellColumn))
      // search still works against the refreshed index
      val queries = embeddings.limit(5)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      assert(g.annSearch("ann_inc", queries, topK = 3, nProbe = 4)
        .count() == 15)
    } finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  test("IVFADC: codes + norms stored; ADC ranking scan never reads vectors") {
    withGraft { g =>
      g.createIndex(embeddings, IvfIndexConfig("ann_pq", "vec_id", "embedding",
        k = 8, maxIter = 3, pqM = 16))
      val e = g.indexManager.getIndexes().head
      val d = e.descriptor.asInstanceOf[IvfIndexDescriptor]
      assert(d.pqM.contains(16))
      assert(d.pqCodebook.length == 16 &&
        d.pqCodebook.forall(cw => cw.size == graft.index.ivf.PqCodec.K &&
          cw.forall(_.size == 4)))
      val data = spark.read.parquet(e.content.root)
      assert(data.columns.contains(IvfBuild.CodesColumn))
      assert(data.columns.contains(IvfBuild.NormColumn))
      // every row: 16 sub-codes, each a 1-based codeword slot in [1, 16]
      val bad = data.select(col(IvfBuild.CodesColumn).as("c"))
        .filter(size(col("c")) =!= 16 ||
          exists(col("c"), x => x < 1 || x > graft.index.ivf.PqCodec.K))
        .count()
      assert(bad == 0, s"$bad rows with malformed PQ codes")

      val queries = embeddings.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      val res = g.annSearch("ann_pq", queries, topK = 5, nProbe = 3)
      // the ADC ranking scan reads (id, codes, norm, cell) ONLY — column
      // pruning must keep the raw vector out of it; the rerank scan is
      // the only reader of the vector column
      spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
      val plan = res.queryExecution.executedPlan.toString
      val readSchemas = plan.linesIterator
        .filter(_.contains("ReadSchema")).toSeq
      val adcScans = readSchemas.filter(_.contains(IvfBuild.CodesColumn))
      assert(adcScans.nonEmpty, "no scan reads the PQ codes column")
      assert(adcScans.forall(!_.contains("embedding")),
        s"ADC ranking scan reads raw vectors:\n${adcScans.mkString("\n")}")
      assert(res.count() > 0)
    }
  }

  test("IVFADC: exact rerank keeps recall high; annRecall measures the PQ path") {
    withGraft { g =>
      g.createIndex(embeddings, IvfIndexConfig("ann_pqr", "vec_id", "embedding",
        k = 8, maxIter = 3, pqM = 16))
      val queries = embeddings.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      // full probe isolates the PQ approximation (no cell misses): the
      // only loss left is a true neighbor falling outside the ADC
      // shortlist — the exact rerank repairs ordering inside it
      val rFull = g.annRecall("ann_pqr", queries, topK = 5, nProbe = 8)
        .collect()
      assert(rFull.nonEmpty && rFull.forall(_.getAs[Long]("n_exact") == 5L))
      val overall = rFull.map(_.getAs[Long]("n_hit")).sum.toDouble /
        rFull.map(_.getAs[Long]("n_exact")).sum
      assert(overall >= 0.6,
        s"IVFADC full-probe recall@5 $overall below floor")
      // served cosines are EXACT (rerank recomputes from raw vectors):
      // every served (q, n) cosine matches the brute-force value
      val dot = graft.functions.VectorFunctions.dotp _
      val served = g.annSearch("ann_pqr", queries, topK = 5, nProbe = 8)
      val corpus = embeddings.select(col("vec_id").as("nid2"),
        col("embedding").cast("array<double>").as("nv"))
      val mismatch = served
        .join(corpus, col("vec_id") === col("nid2"))
        .join(queries.withColumnRenamed("qid", "qid2"),
          col("qid") === col("qid2"))
        .withColumn("cosine_bf", dot(col("qv"), col("nv")) /
          (sqrt(dot(col("qv"), col("qv"))) * sqrt(dot(col("nv"), col("nv")))))
        .filter(abs(col("cosine") - col("cosine_bf")) > 1e-12)
        .count()
      assert(mismatch == 0, s"$mismatch served cosines are not exact")
    }
  }

  test("IVFADC: incremental refresh encodes appended vectors with codes") {
    val sys = Files.createTempDirectory("graft-ivfpq-inc-").toString
    val src = Files.createTempDirectory("graft-ivfpq-src-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    try {
      val g = new Graft(spark)
      embeddings.filter(col("vec_id") % 2 === 0).repartition(2)
        .write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        IvfIndexConfig("ann_pqi", "vec_id", "embedding",
          k = 4, maxIter = 2, pqM = 16))
      embeddings.filter(col("vec_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(src)
      g.refreshIndex("ann_pqi", "incremental")
      val after = g.indexManager.getIndexes().head
      val data = IvfBuild.readIndexData(spark, after.content)
      assert(data.count() == spark.read.parquet(src).count())
      // appended rows carry codes too (merge-mode write goes through the
      // same encode pass) — no null-codes stragglers for ADC to drop
      assert(data.filter(col(IvfBuild.CodesColumn).isNull).count() == 0)
      val queries = embeddings.filter(col("vec_id") % 2 === 1).limit(3)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      // appended (odd) ids are servable through the PQ path
      val got = g.annSearch("ann_pqi", queries, topK = 3, nProbe = 4)
      assert(got.count() == 9)
    } finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  test("pqM validation: wrong vector dimension refuses at build") {
    withGraft { g =>
      val e = intercept[Exception] {
        g.createIndex(embeddings, IvfIndexConfig("ann_bad", "vec_id",
          "embedding", k = 4, maxIter = 0, pqM = 5)) // 5*8=40 != 64
      }
      assert(e.getMessage.contains("dim") || e.getMessage.contains("pqM"),
        s"unexpected error: ${e.getMessage}")
    }
  }

  test("drifted index serves hybrid: appended vectors searchable without refresh") {
    val sys = Files.createTempDirectory("graft-ivf-hyb-").toString
    val src = Files.createTempDirectory("graft-ivf-hsrc-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    spark.conf.set(GraftConf.IvfStaleCheckKey, "strict")
    try {
      val g = new Graft(spark)
      embeddings.filter(col("vec_id") < 400).repartition(2)
        .write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        IvfIndexConfig("ann_hyb", "vec_id", "embedding", k = 4, maxIter = 2))
      // drift: append more vectors, never refresh
      embeddings.filter(col("vec_id") >= 400).limit(20)
        .coalesce(1).write.mode("append").parquet(src)
      val appendedIds = spark.read.parquet(src)
        .filter(col("vec_id") >= 400)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      assert(appendedIds.nonEmpty)
      // query WITH an appended vector: hybrid serve must surface it as
      // its own exact nearest neighbor (cosine 1.0 to itself)
      val qid = appendedIds.head
      val queries = spark.read.parquet(src).filter(col("vec_id") === qid)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      val top = g.annSearch("ann_hyb", queries, topK = 1, nProbe = 4)
        .collect().head
      assert(top.getLong(1) == qid, s"appended vector $qid not surfaced: $top")
      assert(math.abs(top.getDouble(2) - 1.0) < 1e-9)
      // with hybrid disabled the same drift refuses to serve
      spark.conf.set(GraftConf.ServeHybridDriftKey, "false")
      val ex = intercept[IllegalArgumentException](
        g.annSearch("ann_hyb", queries).collect())
      assert(ex.getMessage.contains("stale"))
    } finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      spark.conf.unset(GraftConf.IvfStaleCheckKey)
      spark.conf.unset(GraftConf.ServeHybridDriftKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  test("deleted source files tombstone: no rebuild, search excludes them") {
    val sys = Files.createTempDirectory("graft-ivf-del-").toString
    val src = Files.createTempDirectory("graft-ivf-delsrc-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    try {
      val g = new Graft(spark)
      embeddings.filter(col("vec_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite").parquet(src)
      embeddings.filter(col("vec_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(src)
      g.createIndex(spark.read.parquet(src),
        IvfIndexConfig("ann_del", "vec_id", "embedding", k = 4, maxIter = 2))
      val before = g.indexManager.getIndexes().head
      val codebook = before.descriptor.asInstanceOf[IvfIndexDescriptor].centroids

      // index data files on disk before the delete
      def indexDataFiles(): Map[String, (Long, Long)] = {
        val root = g.indexManager.indexRoot("ann_del")
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val it = fs.listFiles(root, true)
        val b = Map.newBuilder[String, (Long, Long)]
        while (it.hasNext) {
          val s = it.next()
          if (!s.getPath.getName.startsWith("_") &&
              !s.getPath.toString.contains("_graft_log"))
            b += s.getPath.toString -> ((s.getLen, s.getModificationTime))
        }
        b.result()
      }
      val filesBefore = indexDataFiles()

      // drop the file holding the ODD vectors
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val oddFile = fs.listStatus(new org.apache.hadoop.fs.Path(src))
        .map(_.getPath).filter(_.getName.startsWith("part-"))
        .find(p => spark.read.parquet(p.toString)
          .filter(col("vec_id") % 2 === 1).count() > 0).get
      fs.delete(oddFile, false)

      g.refreshIndex("ann_del", "incremental")
      val after = g.indexManager.getIndexes().head
      val d = after.descriptor.asInstanceOf[IvfIndexDescriptor]
      // no retrain, no data rewrite — a delete is metadata-only
      assert(d.centroids == codebook, "delete must not retrain the codebook")
      assert(d.tombstones.nonEmpty, "deleted file ids should be tombstoned")
      assert(indexDataFiles() == filesBefore,
        "a delete-only refresh must not touch index data files")

      // search over EVEN queries never surfaces an odd (deleted) neighbor
      val queries = embeddings.filter(col("vec_id") % 2 === 0).limit(10)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      val hits = g.annSearch("ann_del", queries, topK = 5, nProbe = 4)
        .select(col("vec_id")).collect().map(_.getLong(0))
      assert(hits.nonEmpty && hits.forall(_ % 2 == 0),
        s"tombstoned vectors surfaced: ${hits.filter(_ % 2 == 1).toSeq}")

      // optimize compacts the tombstones away; search unchanged
      val beforeOpt = hits.toSeq.sorted
      g.optimizeIndex("ann_del", "full")
      val dOpt = g.indexManager.getIndexes().head
        .descriptor.asInstanceOf[IvfIndexDescriptor]
      assert(dOpt.tombstones.isEmpty, "optimize should clear tombstones")
      val afterOpt = g.annSearch("ann_del", queries, topK = 5, nProbe = 4)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq.sorted
      assert(afterOpt.nonEmpty && afterOpt.forall(_ % 2 == 0))
    } finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  test("large codebooks move to a parquet sidecar; search results identical") {
    withGraft { g =>
      // force the sidecar at toy scale: inline budget of 64 doubles,
      // k=4 × 64 dims = 256 doubles > 64
      spark.conf.set(IvfBuild.InlineMaxKey, "64")
      try {
        g.createIndex(embeddings, IvfIndexConfig("ann_side", "vec_id",
          "embedding", k = 4, maxIter = 2))
        val side = g.indexManager.getIndexes().head
        val dSide = side.descriptor.asInstanceOf[IvfIndexDescriptor]
        assert(dSide.centroids.isEmpty && dSide.centroidsPath.nonEmpty,
          "codebook should have moved to the sidecar")
        // the log entry stays compact: no centroid array in the JSON
        val entryJson = JsonCodec.write(side)
        assert(entryJson.length < 20000, s"log entry bloated: ${entryJson.length}")

        // identical data + deterministic training ⇒ sidecar and inline
        // codebooks agree, so searches must return identical rows
        spark.conf.set(IvfBuild.InlineMaxKey, "1000000")
        g.createIndex(embeddings, IvfIndexConfig("ann_line", "vec_id",
          "embedding", k = 4, maxIter = 2))
        val queries = embeddings.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("qid"),
            col("embedding").cast("array<double>").as("qv"))
        def rows(idx: String) = g.annSearch(idx, queries, topK = 3, nProbe = 2)
          .select(col("qid"), col("vec_id"), col("rank"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(rows("ann_side") == rows("ann_line"))
      } finally spark.conf.unset(IvfBuild.InlineMaxKey)
    }
  }

  test("quick optimize compacts cell files without retraining") {
    val sys = Files.createTempDirectory("graft-ivf-opt-").toString
    val src = Files.createTempDirectory("graft-ivf-optsrc-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    try {
      val g = new Graft(spark)
      val embeddingsDf = embeddings
      embeddingsDf.filter(col("vec_id") % 3 === 0).coalesce(1)
        .write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        IvfIndexConfig("ann_opt", "vec_id", "embedding", k = 4, maxIter = 2))
      // two merge refreshes → three file generations per touched cell
      embeddingsDf.filter(col("vec_id") % 3 === 1).coalesce(1)
        .write.mode("append").parquet(src)
      g.refreshIndex("ann_opt", "incremental")
      embeddingsDf.filter(col("vec_id") % 3 === 2).coalesce(1)
        .write.mode("append").parquet(src)
      g.refreshIndex("ann_opt", "incremental")
      val before = g.indexManager.getIndexes().head
      val codebook = before.descriptor.asInstanceOf[IvfIndexDescriptor].centroids
      assert(before.content.files.size > 4, "expected accumulated cell files")

      g.optimizeIndex("ann_opt") // quick: everything is tiny at test scale
      val after = g.indexManager.getIndexes().head
      val d = after.descriptor.asInstanceOf[IvfIndexDescriptor]
      assert(d.centroids == codebook, "optimize must not retrain")
      assert(after.content.files.size < before.content.files.size)
      val data = IvfBuild.readIndexData(spark, after.content)
      assert(data.count() == spark.read.parquet(src).count())
      // still searchable, all rows reachable
      val queries = embeddingsDf.limit(4)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      assert(g.annSearch("ann_opt", queries, topK = 3, nProbe = 4).count() == 12)
    } finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  test("codebook sidecar survives optimize + vacuum of its version dir") {
    val sys = Files.createTempDirectory("graft-ivf-sopt-").toString
    val src = Files.createTempDirectory("graft-ivf-soptsrc-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    spark.conf.set(IvfBuild.InlineMaxKey, "64") // force the sidecar
    try {
      val g = new Graft(spark)
      embeddings.coalesce(2).write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        IvfIndexConfig("ann_sv", "vec_id", "embedding", k = 4, maxIter = 2))
      val d0 = g.indexManager.getIndexes().head
        .descriptor.asInstanceOf[IvfIndexDescriptor]
      assert(d0.centroidsPath.nonEmpty)

      // full optimize moves ALL data files out of v__0; the sidecar stays
      g.optimizeIndex("ann_sv", "full")
      g.vacuumIndex("ann_sv")
      val side = new org.apache.hadoop.fs.Path(d0.centroidsPath.get)
      val fs = side.getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(side),
        s"vacuum deleted the live codebook sidecar at $side")
      val queries = embeddings.limit(3)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      assert(g.annSearch("ann_sv", queries, topK = 2, nProbe = 4).count() == 6)
    } finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      spark.conf.unset(IvfBuild.InlineMaxKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  test("vacuum reclaims outdated IVF versions despite nested cell dirs") {
    withGraft { g =>
      g.createIndex(embeddings, IvfIndexConfig("ann_vac", "vec_id", "embedding",
        k = 4, maxIter = 1))
      g.refreshIndex("ann_vac", "full") // v__1 supersedes v__0
      g.vacuumIndex("ann_vac")
      val root = g.indexManager.indexRoot("ann_vac")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val dirs = fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("v__")).toSet
      assert(dirs == Set("v__1"), s"outdated IVF version leaked: $dirs")
      // index still searchable after vacuum
      val queries = embeddings.limit(3)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      assert(g.annSearch("ann_vac", queries, topK = 2, nProbe = 4).count() == 6)
    }
  }

  test("antiTombstone retains NULL-lineage and lineage-less rows") {
    import spark.implicits._
    val d = IvfIndexDescriptor("id", "v", k = 2, maxIter = 1,
      centroids = Seq(Seq(0.0), Seq(1.0)), schemaJson = "",
      tombstones = Seq(7L))
    // lineage present: tombstoned id dropped, NULL lineage RETAINED
    // (three-valued logic under a bare `!isin` would silently drop it)
    val withLineage = Seq(
      (1L, Some(7L)), (2L, Some(8L)), (3L, Option.empty[Long]))
      .toDF("id", IvfBuild.LineageColumn)
    val kept = IvfBuild.antiTombstone(withLineage, d)
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))
    // no lineage column at all (pre-lineage index data): untouched
    val legacy = Seq(1L, 2L).toDF("id")
    assert(IvfBuild.antiTombstone(legacy, d).count() == 2)
  }

  test("staleCheck modes: cached verdict serves, strict relists, off skips") {
    // source in a writable temp dir so we can drift it after indexing
    val srcDir = Files.createTempDirectory("graft-ivf-src-").toString
    embeddings.limit(200).write.mode("overwrite").parquet(srcDir)
    withGraft { g =>
      g.createIndex(spark.read.parquet(srcDir),
        IvfIndexConfig("ann_stale", "vec_id", "embedding", k = 4, maxIter = 1))
      val queries = embeddings.limit(2)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      // clean search caches a clean-drift verdict (default mode = cached)
      assert(g.annSearch("ann_stale", queries, topK = 2, nProbe = 4)
        .count() == 4)
      // drift the source: append new files
      embeddings.limit(10).write.mode("append").parquet(srcDir)
      // cached: verdict still fresh (TTL 10s) — search serves without relist
      assert(g.annSearch("ann_stale", queries, topK = 2, nProbe = 4)
        .count() == 4)
      // strict + hybrid (default): relists, folds the appended slice in,
      // still serves full results
      spark.conf.set(GraftConf.IvfStaleCheckKey, "strict")
      try {
        assert(g.annSearch("ann_stale", queries, topK = 2, nProbe = 4)
          .count() == 4)
        // strict + hybrid disabled: refuses the stale index
        spark.conf.set(GraftConf.ServeHybridDriftKey, "false")
        val ex = intercept[IllegalArgumentException] {
          g.annSearch("ann_stale", queries, topK = 2, nProbe = 4)
        }
        assert(ex.getMessage.contains("stale"))
        // off: search proceeds against the indexed snapshot regardless
        spark.conf.set(GraftConf.IvfStaleCheckKey, "off")
        assert(g.annSearch("ann_stale", queries, topK = 2, nProbe = 4)
          .count() == 4)
      } finally {
        spark.conf.unset(GraftConf.IvfStaleCheckKey)
        spark.conf.unset(GraftConf.ServeHybridDriftKey)
      }
    }
  }

  test("appended file re-containing an indexed id serves the fresh vector, once") {
    val sys = Files.createTempDirectory("graft-ivf-rw-").toString
    val src = Files.createTempDirectory("graft-ivf-rwsrc-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    spark.conf.set(GraftConf.IvfStaleCheckKey, "strict")
    try {
      val g = new Graft(spark)
      embeddings.filter(col("vec_id") < 400).repartition(2)
        .write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        IvfIndexConfig("ann_rw", "vec_id", "embedding", k = 4, maxIter = 2))
      // append-rewrite: vec 0 reappears in a NEW file with vec 1's vector
      embeddings.filter(col("vec_id") === 1L)
        .withColumn("vec_id", lit(0L))
        .coalesce(1).write.mode("append").parquet(src)
      // query = vec 1's vector; both ids now carry it (cosine 1.0)
      val queries = embeddings.filter(col("vec_id") === 1L)
        .select(lit(100L).as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      val top = g.annSearch("ann_rw", queries, topK = 10, nProbe = 4).collect()
      // without the per-(qid,id) dedup, the persisted vec-0 row would
      // occupy a second topK slot with its old cosine
      val idCounts = top.groupBy(_.getLong(1)).view.mapValues(_.length)
      assert(idCounts.forall(_._2 == 1),
        s"neighbor id ranked twice within topK: $idCounts")
      val cos0 = top.find(_.getLong(1) == 0L).map(_.getDouble(2))
      assert(cos0.exists(c => math.abs(c - 1.0) < 1e-9),
        s"appended rewrite of vec 0 not the served row: cosine=$cos0")

      // two appended files share an id: the rewrite lands twice
      embeddings.filter(col("vec_id") === 1L)
        .withColumn("vec_id", lit(0L))
        .coalesce(1).write.mode("append").parquet(src)
      val top2 = g.annSearch("ann_rw", queries, topK = 10, nProbe = 4).collect()
      val idCounts2 = top2.groupBy(_.getLong(1)).view.mapValues(_.length)
      assert(idCounts2.forall(_._2 == 1),
        s"neighbor id ranked twice with two appended rows of it: $idCounts2")
      assert(top2.find(_.getLong(1) == 0L)
        .exists(r => math.abs(r.getDouble(2) - 1.0) < 1e-9))
      assert(top2.map(_.getInt(3)).sorted.toSeq == (1 to top2.length))
    } finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      spark.conf.unset(GraftConf.IvfStaleCheckKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  test("a drifted search shuffles once") {
    val sys = Files.createTempDirectory("graft-ivf-shape-").toString
    val src = Files.createTempDirectory("graft-ivf-shapesrc-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    spark.conf.set(GraftConf.IvfStaleCheckKey, "strict")
    try {
      val g = new Graft(spark)
      embeddings.filter(col("vec_id") < 400).repartition(2)
        .write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        IvfIndexConfig("ann_shape", "vec_id", "embedding", k = 4, maxIter = 2))
      embeddings.filter(col("vec_id").between(400L, 420L))
        .coalesce(1).write.mode("append").parquet(src)
      val queries = embeddings.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val res = g.annSearch("ann_shape", queries, topK = 5, nProbe = 2)
      // the initial plan: the union's qid partitioning serves both the
      // (qid, id) dedup window and the rank window
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          nodes(a.executedPlan)
        case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
      }
      val shuffles = nodes(res.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(shuffles.size == 1, s"${shuffles.size} shuffles:\n" +
        res.queryExecution.executedPlan)
      // appended vectors are served: an appended query finds itself
      val rows = res.collect()
      assert(rows.exists(r => r.getLong(0) == 400L && r.getLong(1) == 400L))
    } finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      spark.conf.unset(GraftConf.IvfStaleCheckKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }
}
