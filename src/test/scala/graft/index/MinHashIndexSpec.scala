package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}
import graft.index.minhash.{MinHashBuild, MinHashIndexConfig}
import graft.queries.TextPrimitives._

/**
 * MinHash near-duplicate index: build/search parity with the from-scratch
 * pipeline, merge-mode append refresh (byte-identical old files),
 * incremental batch dedup, delete tombstones, and optimize compaction.
 */
class MinHashIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withDirs[T](body: (Graft, String) => T): T = {
    val sys = Files.createTempDirectory("graft-mh-sys-").toString
    val src = Files.createTempDirectory("graft-mh-src-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    try body(new Graft(spark), src)
    finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  private def writeDocs(src: String, parts: Int = 2): Unit =
    spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text"))
      .repartition(parts).write.mode("overwrite").parquet(src)

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

  /** From-scratch band-collision candidate pairs over a doc frame — the
    * operator-side derivation the persisted index must reproduce. */
  private def scratchCandidates(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    val sig = graft.functions.MinHashFunctions.minhashSignature(
      shingleHashSet(col("text")),
      (0 until MinHashK).map(permA), (0 until MinHashK).map(permB), HashP)
    val bandCols = (0 until LshBands).map { b =>
      val mins = (0 until LshRows)
        .map(r => element_at(col("sig"), b * LshRows + r + 1))
      struct(lit(b).as("band"),
        concat_ws(",", mins.map(_.cast("string")): _*).as("key")).as(s"b$b")
    }
    val bands = df.select(col("doc_id"), sig.as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("pairs from the persisted index == from-scratch band collisions") {
    withDirs { (g, src) =>
      writeDocs(src)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_base", "doc_id", "text"))
      val fromIndex = g.nearDuplicates("mh_base", minEstJaccard = 0.0)
        .select(col("id1"), col("id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val scratch = scratchCandidates(spark.read.parquet(src))
      assert(scratch.nonEmpty, "test corpus has no near-dup candidates")
      assert(fromIndex == scratch)
      // identical-signature pairs score est 1.0; every estimate is in [0,1]
      val ests = g.nearDuplicates("mh_base", 0.0)
        .select(col("est_jaccard")).collect().map(_.getDouble(0))
      assert(ests.forall(e => e >= 0.0 && e <= 1.0))
    }
  }

  test("append-only incremental refresh is merge-mode; new docs join the corpus") {
    withDirs { (g, src) =>
      writeDocs(src)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_app", "doc_id", "text"))
      val before = diskFiles(g, "mh_app")

      // append copies of 3 docs under shifted ids: guaranteed est-1.0 dups
      spark.read.parquet(src)
        .filter(col("doc_id").isin(1L, 2L, 3L))
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .coalesce(1).write.mode("append").parquet(src)

      g.refreshIndex("mh_app", "incremental")
      val after = diskFiles(g, "mh_app")
      before.foreach { case (p, meta) =>
        assert(after.get(p).contains(meta),
          s"pre-existing index file rewritten or dropped: $p")
      }
      assert(after.size > before.size, "refresh added no new index files")

      val dups = g.nearDuplicates("mh_app", minEstJaccard = 1.0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Seq(1L, 2L, 3L).foreach(id =>
        assert(dups.contains((id, id + 100000L)),
          s"appended copy of doc $id not detected"))
    }
  }

  test("dedupBatch: new batch dedups against the corpus without re-signing it") {
    withDirs { (g, src) =>
      writeDocs(src)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_batch", "doc_id", "text"))
      import spark.implicits._
      val copies = spark.read.parquet(src)
        .filter(col("doc_id").isin(5L, 6L))
        .select((col("doc_id") + 900000L).as("new_id"), col("text"))
      val shorty = Seq((999999L, "too short")).toDF("new_id", "text")
      val batch = copies.unionByName(shorty)
      val hits = g.dedupBatch("mh_batch", batch, "new_id", "text",
          minEstJaccard = 1.0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.contains((900005L, 5L)) && hits.contains((900006L, 6L)))
      // a sub-shingle-length doc has no signature: silently no candidates
      assert(!hits.exists(_._1 == 999999L))
    }
  }

  test("catalog lists every index kind side by side") {
    withDirs { (g, src) =>
      writeDocs(src)
      val docs = spark.read.parquet(src)
      g.createIndex(docs, MinHashIndexConfig("cat_mh", "doc_id", "text"))
      // no .limit before createIndex: a limit inserts a shuffle after
      // which input_file_name() (the lineage source) is empty
      val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      g.createIndex(li, graft.index.covering.CoveringIndexConfig(
        "cat_ci", Seq("l_orderkey"), Seq("l_quantity")))
      val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      g.createIndex(emb, graft.index.ivf.IvfIndexConfig(
        "cat_ivf", "vec_id", "embedding", k = 2, maxIter = 1))
      val byName = g.indexes.collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(byName("cat_mh") == "MinHashIndex")
      assert(byName("cat_ci") == "CoveringIndex")
      assert(byName("cat_ivf") == "IvfIndex")
    }
  }

  test("curateBatch: quality gate + corpus dedup + batch-internal dedup") {
    withDirs { (g, src) =>
      writeDocs(src)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_cur", "doc_id", "text"))
      import spark.implicits._
      val corpusCopy = spark.read.parquet(src)
        .filter(col("doc_id") === 3L)
        .select(lit(10L).as("new_id"), col("text"))
      val cleanText = (0 until 25).map(i => s"uniq$i").mkString(" ")
      val twinText = (0 until 25).map(i => s"twin$i").mkString(" ")
      val local = Seq(
        (1L, cleanText),             // clean + unique: KEPT
        (2L, twinText),              // identical pair: min id KEPT
        (9L, twinText),              //                 larger id dropped
        (4L, Seq.fill(30)("junk").mkString(" ")) // top-token 100%: dropped
      ).toDF("new_id", "text")
      val kept = g.curateBatch("mh_cur", local.unionByName(corpusCopy),
          "new_id", "text")
        .select(col("new_id")).collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L),
        s"expected {1, 2} to survive curation, got $kept")
    }
  }

  test("curateBatch gates once: same rows as the per-consumer composition, " +
      "one batch scan in the returned plan") {
    withDirs { (g, src) =>
      val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
        .select(col("doc_id"), col("text"))
      docs.filter(col("doc_id") % 2 === 0).coalesce(2)
        .write.mode("overwrite").parquet(src)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_once", "doc_id", "text"))
      // unseen (odd) docs, copies of corpus docs and of batch docs under
      // new ids: planted corpus and batch-internal duplicates
      val odd = docs.filter(col("doc_id") % 2 === 1)
      val planted = odd.select(col("doc_id").as("new_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") <= 20L)
          .select((col("doc_id") + 900000L).as("new_id"), col("text")))
      val batchDir = Files.createTempDirectory("graft-mh-batch-").toString
      planted.coalesce(2).write.mode("overwrite").parquet(batchDir)
      val batch = spark.read.parquet(batchDir)

      val kept = g.curateBatch("mh_once", batch, "new_id", "text")
      val scans = allNodes(kept.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(batchDir)) => f
      }
      assert(scans.size == 1, s"batch scanned ${scans.size} times")

      // the composition before the gate was materialized: every consumer
      // re-derives the gated batch from `batch`
      val entry = g.indexManager.getIndexes().find(_.name == "mh_once").get
      val d = entry.descriptor.asInstanceOf[graft.index.minhash.MinHashIndexDescriptor]
      val std = batch.select(col("new_id").cast("long").as("doc_id"),
        col("text").as("text"))
      val clean = std.join(graft.queries.Pipeline.qualityGate(
        graft.queries.Pipeline.qualityMetrics(std)).select(col("doc_id")), "doc_id")
      val corpusDups = graft.index.minhash.MinHashSearch.dedupAgainst(
          spark, entry, clean, "doc_id", "text", 0.5)
        .select(col("batch_id").as("doc_id")).distinct()
      val internalDups = graft.index.minhash.MinHashSearch.selfPairs(
          spark, d, clean, "doc_id", "text", 0.5)
        .select(col("id2").as("doc_id")).distinct()
      val keptIds = clean.select(col("doc_id"))
        .join(corpusDups, Seq("doc_id"), "left_anti")
        .join(internalDups, Seq("doc_id"), "left_anti")
      val expected = batch.join(keptIds, col("new_id") === col("doc_id"))
        .drop("doc_id")

      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("new_id"), col("text")).collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val got = rows(kept)
      assert(got == rows(expected))
      assert(got.nonEmpty && got.size < batch.count(),
        s"curation kept ${got.size} of ${batch.count()} rows")
      assert(!got.exists(_._1 >= 900000L), "a planted copy survived curation")
    }
  }

  /** Every node of a physical plan: through adaptive plans, query
    * stages, reused exchanges and subqueries. */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children ++ other.subqueries
    }
    p +: inner.flatMap(allNodes)
  }

  test("deletes tombstone (no data rewrite); optimize full compacts them away") {
    withDirs { (g, src) =>
      writeDocs(src, parts = 2)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_del", "doc_id", "text"))
      val allDocs = spark.read.parquet(src)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet

      // delete one source part file
      val dir = new org.apache.hadoop.fs.Path(src)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val part = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).head
      fs.delete(part, false)
      val remaining = spark.read.parquet(src)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(remaining.size < allDocs.size)

      val before = diskFiles(g, "mh_del")
      g.refreshIndex("mh_del", "incremental")
      val after = diskFiles(g, "mh_del")
      assert(before == after, "delete-only refresh must be metadata-only")

      val ids = g.nearDuplicates("mh_del", 0.0)
        .select(col("id1"), col("id2"))
        .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      assert(ids.subsetOf(remaining),
        "tombstoned docs still surface in near-dup pairs")

      val pairsBefore = g.nearDuplicates("mh_del", 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      g.optimizeIndex("mh_del", "full")
      val e = g.indexManager.getIndexes().head
      assert(e.descriptor
        .asInstanceOf[graft.index.minhash.MinHashIndexDescriptor]
        .tombstones.isEmpty, "full optimize should clear tombstones")
      val pairsAfter = g.nearDuplicates("mh_del", 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairsBefore == pairsAfter)
      // compacted data physically dropped the tombstoned rows
      val live = MinHashBuild.readIndexData(spark, e.content)
      val storedIds = live.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(storedIds.subsetOf(remaining))
    }
  }

  test("drifted index serves HYBRID results; refuses when hybrid disabled") {
    withDirs { (g, src) =>
      writeDocs(src)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_stale", "doc_id", "text"))
      // drift: copies of docs 1,2 under new ids, never refreshed
      spark.read.parquet(src).filter(col("doc_id").isin(1L, 2L))
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
        .coalesce(1).write.mode("append").parquet(src)
      spark.conf.set(GraftConf.IvfStaleCheckKey, "strict")
      try {
        // hybrid serve (default): appended docs join the corpus at query
        // time — est-1.0 pairs to their originals appear, no refresh run
        val dups = g.nearDuplicates("mh_stale", minEstJaccard = 1.0)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(dups.contains((1L, 500001L)) && dups.contains((2L, 500002L)))
        // and dedupBatch sees the appended leg too
        import spark.implicits._
        val probe = spark.read.parquet(src).filter(col("doc_id") === 500001L)
          .select(lit(7L).as("new_id"), col("text"))
        val hits = g.dedupBatch("mh_stale", probe, "new_id", "text", 1.0)
          .collect().map(_.getLong(1)).toSet
        assert(hits.contains(500001L), "batch dedup missed the appended doc")

        // repeated hybrid serves list again and still return the
        // appended docs
        (1 to 2).foreach { _ =>
          val again = g.nearDuplicates("mh_stale", minEstJaccard = 1.0)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(again.contains((1L, 500001L)))
        }

        spark.conf.set(GraftConf.ServeHybridDriftKey, "false")
        val ex = intercept[IllegalArgumentException](
          g.nearDuplicates("mh_stale", 0.5).collect())
        assert(ex.getMessage.contains("stale"))
      } finally {
        spark.conf.unset(GraftConf.IvfStaleCheckKey)
        spark.conf.unset(GraftConf.ServeHybridDriftKey)
      }
    }
  }

  test("default staleCheck: a file appended right after a clean search " +
      "is served by the next nearDuplicates") {
    withDirs { (g, src) =>
      writeDocs(src)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_dflt", "doc_id", "text"))
      // the catalog TTL no longer governs the drift check: even an
      // hour-long TTL must not hide the appended file
      spark.conf.set(GraftConf.CacheTtlKey, "3600000")
      try {
        def pairs(): Set[(Long, Long)] =
          g.nearDuplicates("mh_dflt", minEstJaccard = 1.0)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(!pairs().contains((1L, 500001L)))
        spark.read.parquet(src).filter(col("doc_id") === 1L)
          .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
          .coalesce(1).write.mode("append").parquet(src)
        assert(pairs().contains((1L, 500001L)),
          "the appended doc was not served by the next nearDuplicates")
      } finally spark.conf.unset(GraftConf.CacheTtlKey)
    }
  }

  test("hybrid serve anti-filters files deleted since the last refresh") {
    withDirs { (g, src) =>
      // 8 parts: one deleted file is ~12% of source bytes, inside the
      // hybrid maxDeletedRatio bound (one of two would be 50% -> refusal)
      writeDocs(src, parts = 8)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_hdel", "doc_id", "text"))
      val dir = new org.apache.hadoop.fs.Path(src)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val part = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).head
      fs.delete(part, false)
      val remaining = spark.read.parquet(src)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      spark.conf.set(GraftConf.IvfStaleCheckKey, "strict")
      try {
        val ids = g.nearDuplicates("mh_hdel", 0.0)
          .select(col("id1"), col("id2"))
          .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
        assert(ids.nonEmpty && ids.subsetOf(remaining),
          "hybrid serve surfaced docs from a deleted source file")
      } finally spark.conf.unset(GraftConf.IvfStaleCheckKey)
    }
  }

  test("appended file re-containing an indexed id: the appended row wins, once") {
    withDirs { (g, src) =>
      writeDocs(src)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_rewrite", "doc_id", "text"))
      // an append-rewrite the lister can't pair with a delete: doc 1
      // reappears in a NEW file, now carrying doc 2's text
      val doc2Text = spark.read.parquet(src).filter(col("doc_id") === 2L)
        .select(col("text")).collect().head.getString(0)
      import spark.implicits._
      Seq((1L, doc2Text)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(src)
      spark.conf.set(GraftConf.IvfStaleCheckKey, "strict")
      try {
        val rows = g.nearDuplicates("mh_rewrite", minEstJaccard = 0.0)
          .select(col("id1"), col("id2"), col("est_jaccard")).collect()
        // both the persisted and the appended doc-1 rows joining would
        // emit duplicate (id1,id2) pairs with differing estimates
        val keys = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(keys.distinct.length == keys.length,
          "duplicate (id1,id2) pairs under hybrid serve")
        // and the APPENDED content won: doc 1 now carries doc 2's text
        val est12 = rows.collectFirst {
          case r if r.getLong(0) == 1L && r.getLong(1) == 2L => r.getDouble(2) }
        assert(est12.contains(1.0),
          s"appended rewrite of doc 1 not the served row: est=$est12")

        // two appended files share an id: the rewrite lands twice
        Seq((1L, doc2Text)).toDF("doc_id", "text")
          .coalesce(1).write.mode("append").parquet(src)
        val again = g.nearDuplicates("mh_rewrite", minEstJaccard = 0.0)
          .select(col("id1"), col("id2"), col("est_jaccard")).collect()
        val keys2 = again.map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(keys2.distinct.length == keys2.length,
          "duplicate (id1,id2) pairs with two appended rows of one id")
        assert(again.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
          r.getDouble(2) == 1.0))
        // a batch probe sees the appended doc 1 once, and never the
        // superseded persisted row — even where only that row collides
        val doc1Text = spark.read.parquet(src)
          .filter(col("doc_id") === 1L && col("text") =!= doc2Text)
          .select(col("text")).collect().head.getString(0)
        val probe = Seq((77L, doc2Text), (78L, doc1Text)).toDF("new_id", "text")
        val hits = g.dedupBatch("mh_rewrite", probe, "new_id", "text", 1.0)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(hits.distinct.length == hits.length, s"duplicate hits: $hits")
        assert(hits.contains((77L, 1L)) && hits.contains((77L, 2L)))
        assert(!hits.contains((78L, 1L)),
          "the persisted row of a rewritten id was served")
      } finally spark.conf.unset(GraftConf.IvfStaleCheckKey)
    }
  }

  test("curateBatch gates a repeated id per row and returns each surviving " +
      "row once") {
    withDirs { (g, src) =>
      writeDocs(src)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_rep", "doc_id", "text"))
      import spark.implicits._
      val clean = (0 until 25).map(i => s"alpha$i").mkString(" ")
      val clean2 = (0 until 25).map(i => s"beta$i").mkString(" ")
      val junk = Seq.fill(30)("junk").mkString(" ")
      val batch = Seq(
        (5L, clean), (5L, clean), // the same row twice: both kept, once each
        (6L, clean2), (6L, junk)  // one id, two texts: only the clean one
      ).toDF("new_id", "text")
      val got = g.curateBatch("mh_rep", batch, "new_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got == Seq((5L, clean), (5L, clean), (6L, clean2)), got.toString)
    }
  }

  test("curateBatch plan: the batch is signed once and no shuffle carries a " +
      "signature, drifted corpus included") {
    withDirs { (g, src) =>
      writeDocs(src)
      g.createIndex(spark.read.parquet(src),
        MinHashIndexConfig("mh_shape", "doc_id", "text"))
      // drift, so the appended leg is in the plan too
      spark.read.parquet(src).filter(col("doc_id").isin(1L, 2L))
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
        .coalesce(1).write.mode("append").parquet(src)
      val docs = spark.read.parquet(src)
      val batchDir = Files.createTempDirectory("graft-mh-shape-").toString
      import spark.implicits._
      val unseen = Seq((1L, (0 until 25).map(i => s"gamma$i").mkString(" ")))
        .toDF("new_id", "text")
      docs.filter(col("doc_id") <= 40L)
        .select((col("doc_id") + 900000L).as("new_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") <= 40L)
          .select((col("doc_id") + 800000L).as("new_id"), col("text")))
        .unionByName(unseen)
        .coalesce(2).write.mode("overwrite").parquet(batchDir)
      val batch = spark.read.parquet(batchDir)

      val plans = new java.util.concurrent.ConcurrentLinkedQueue[
        (String, org.apache.spark.sql.execution.SparkPlan)]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          plans.add((f, qe.executedPlan))
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.conf.set(GraftConf.IvfStaleCheckKey, "strict")
      spark.listenerManager.register(listener)
      val kept =
        try {
          val rows = g.curateBatch("mh_shape", batch, "new_id", "text").collect()
          val deadline = System.currentTimeMillis() + 20000
          while (!plans.toArray.exists(_.asInstanceOf[(String, _)]._1 == "collect") &&
              System.currentTimeMillis() < deadline) Thread.sleep(50)
          rows
        } finally {
          spark.listenerManager.unregister(listener)
          spark.conf.unset(GraftConf.IvfStaleCheckKey)
        }
      // every planted copy collides with the corpus (and the 8000xx
      // copies with the 9000xx ones); the unseen doc survives
      assert(kept.map(_.getAs[Long]("new_id")).toSeq == Seq(1L),
        kept.toSeq.toString)

      import scala.jdk.CollectionConverters._
      val executed = plans.asScala.toSeq.map(_._2)
      // the batch is read from its files or from a checkpoint of it (the
      // only RDD scans in these plans)
      def readsBatch(p: org.apache.spark.sql.execution.SparkPlan) =
        allNodes(p).exists {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains(batchDir))
          case _: org.apache.spark.sql.execution.RDDScanExec => true
          case _ => false
        }
      val signing = executed.flatMap(allNodes).filter(n =>
        n.expressions.exists(_.exists(
          _.isInstanceOf[graft.functions.MinHashSignature])) && readsBatch(n))
      assert(signing.size == 1,
        s"minhash_signature evaluated over the batch ${signing.size} times")
      val exchanges = executed.flatMap(allNodes).collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
        "the drifted corpus leg should shuffle its (small) hits once")
      exchanges.foreach { e =>
        assert(!e.output.exists(_.name == MinHashBuild.SigColumn),
          s"an exchange outputs ${MinHashBuild.SigColumn}: $e")
        // the broadcast of the batch's band rows carries the batch's
        // signatures by design; no shuffle carries any
        if (e.isInstanceOf[
            org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
          assert(!e.output.exists(_.dataType ==
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType, false)),
            s"a shuffle carries a signature: $e")
      }
    }
  }
}
