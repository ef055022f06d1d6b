package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.sources.{DeltaLog, DeltaTable}

/**
 * MERGE (CDC upsert) on the jarless Delta writer: matched rows are
 * DV-deleted and re-landed as fresh files in ONE commit, delete markers
 * remove, unmatched rows insert, CDF records the exact row-level effect
 * (delete / update_preimage / update_postimage / insert), duplicate
 * source keys refuse, and the executor-side DV write leaves only
 * descriptors on the driver (multiple DV files across partitions).
 */
class DeltaMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")

  test("merge: update + insert + delete markers land in one commit") {
    val root = Files.createTempDirectory("graft-delta-merge-").toString
    val target = customer.filter($"c_custkey" % 2 === 0)
    DeltaTable.create(target, root)
    // source: every third customer, balance bumped; nationkey>=20 rows
    // are delete markers
    val source = customer.filter($"c_custkey" % 3 === 0)
      .withColumn("c_acctbal", $"c_acctbal" + 1000)
    val v = DeltaTable.merge(spark, root, source, Seq("c_custkey"),
      deleteCondition = Some($"c_nationkey" >= 20))
    assert(v == 1L)

    val got = DeltaTable.read(spark, root)
      .select($"c_custkey", $"c_acctbal").as[(Long, Double)]
      .collect().toMap
    val base = customer
      .select($"c_custkey", $"c_acctbal", $"c_nationkey")
      .as[(Long, Double, Long)].collect()
    val expected = base.flatMap { case (k, bal, nat) =>
      val even = k % 2 == 0
      val inSrc = k % 3 == 0
      val isDel = nat >= 20
      if (even && inSrc && isDel) None // matched delete marker
      else if (even && inSrc) Some(k -> (bal + 1000))
      else if (even) Some(k -> bal) // untouched
      else if (inSrc && !isDel) Some(k -> (bal + 1000))
      else None // odd, not upserted
    }.toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, bal) =>
      assert(math.abs(got(k) - bal) < 1e-6, s"key $k: ${got(k)} != $bal")
    }
    // single commit: exactly one new version in the log
    assert(DeltaLog.snapshot(spark, root).version == 1L)
  }

  test("merge CDF: changes() replays delete/update pre+post/insert exactly") {
    val root = Files.createTempDirectory("graft-delta-merge-cdf-").toString
    val target = customer.filter($"c_custkey" % 2 === 0)
    DeltaTable.create(target, root,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val source = customer.filter($"c_custkey" % 3 === 0)
      .withColumn("c_acctbal", $"c_acctbal" + 1000)
    DeltaTable.merge(spark, root, source, Seq("c_custkey"),
      deleteCondition = Some($"c_nationkey" >= 20))

    val feed = DeltaTable.changes(spark, root, 1L)
      .select($"_change_type", $"c_custkey").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val base = customer.select($"c_custkey", $"c_nationkey")
      .as[(Long, Long)].collect()
    val expDeletes = base.collect {
      case (k, nat) if k % 2 == 0 && k % 3 == 0 && nat >= 20 => k }.sorted.toSeq
    val expUpdates = base.collect {
      case (k, nat) if k % 2 == 0 && k % 3 == 0 && nat < 20 => k }.sorted.toSeq
    val expInserts = base.collect {
      case (k, nat) if k % 2 == 1 && k % 3 == 0 && nat < 20 => k }.sorted.toSeq
    assert(feed.getOrElse("delete", Nil) == expDeletes)
    assert(feed.getOrElse("update_preimage", Nil) == expUpdates)
    assert(feed.getOrElse("update_postimage", Nil) == expUpdates)
    assert(feed.getOrElse("insert", Nil) == expInserts)
    // postimages carry the NEW balance, preimages the old
    val pre = DeltaTable.changes(spark, root, 1L)
      .filter($"_change_type" === "update_preimage")
      .select(sum($"c_acctbal")).as[Double].head()
    val post = DeltaTable.changes(spark, root, 1L)
      .filter($"_change_type" === "update_postimage")
      .select(sum($"c_acctbal")).as[Double].head()
    assert(math.abs((post - pre) - 1000.0 * expUpdates.size) < 1e-3)
  }

  test("merge refuses duplicate source keys") {
    val root = Files.createTempDirectory("graft-delta-merge-dup-").toString
    DeltaTable.create(customer.limit(100), root)
    val dup = customer.limit(10).union(customer.limit(10))
    val e = intercept[IllegalArgumentException] {
      DeltaTable.merge(spark, root, dup, Seq("c_custkey"))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("merge on a partitioned table keeps partition values on all adds") {
    // fixture keys span 0..149 at sf0.001
    val root = Files.createTempDirectory("graft-delta-merge-part-").toString
    DeltaTable.create(customer.filter($"c_custkey" < 100), root,
      partitionBy = Seq("c_mktsegment"))
    val source = customer.filter($"c_custkey".between(60L, 130L))
      .withColumn("c_acctbal", lit(42.0))
    DeltaTable.merge(spark, root, source, Seq("c_custkey"))
    val got = DeltaTable.read(spark, root)
    assert(got.count() == customer.filter($"c_custkey" < 131).count())
    // partition pruning still works post-merge: a segment filter reads rows
    val seg = got.filter($"c_mktsegment" === "BUILDING")
    assert(seg.count() > 0)
    // all rows in 60..130 carry the merged balance
    val bals = got.filter($"c_custkey".between(60L, 130L))
      .select($"c_acctbal").distinct().as[Double].collect()
    assert(bals.toSeq == Seq(42.0))
  }

  test("repeat merges union into existing DVs; pure-insert merge appends") {
    val root = Files.createTempDirectory("graft-delta-merge-rep-").toString
    DeltaTable.create(customer.filter($"c_custkey" < 100), root)
    // first merge: update keys 0..49
    DeltaTable.merge(spark, root,
      customer.filter($"c_custkey" < 50)
        .withColumn("c_acctbal", $"c_acctbal" + 1), Seq("c_custkey"))
    // second merge: update keys 30..79 (files already carrying DVs)
    DeltaTable.merge(spark, root,
      customer.filter($"c_custkey".between(30L, 79L))
        .withColumn("c_acctbal", $"c_acctbal" + 2), Seq("c_custkey"))
    // pure-insert merge: keys beyond the table
    val v = DeltaTable.merge(spark, root,
      customer.filter($"c_custkey".between(100L, 129L)), Seq("c_custkey"))
    assert(v == 3L)
    val got = DeltaTable.read(spark, root)
    assert(got.count() == customer.filter($"c_custkey" < 130).count())
    val bal = got.filter($"c_custkey" === 40L)
      .select($"c_acctbal").as[Double].head()
    val orig = customer.filter($"c_custkey" === 40L)
      .select($"c_acctbal").as[Double].head()
    assert(math.abs(bal - orig - 2) < 1e-6) // second merge won
  }

  test("DV write is executor-side: a many-file delete writes multiple DV files") {
    val root = Files.createTempDirectory("graft-delta-merge-dv-").toString
    // 16 files so the grouped DV build spans several shuffle partitions
    // (AQE would coalesce the tiny shuffle to one partition — and one DV
    // file; disable it to surface the per-partition write path)
    DeltaTable.create(customer.repartition(16), root)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try DeltaTable.deleteWhere(spark, root, $"c_custkey" % 2 === 0)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dvFiles = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("deletion_vector_"))
    assert(dvFiles.length > 1,
      s"expected per-partition DV files, got ${dvFiles.toSeq}")
    // every snapshot descriptor resolves into one of them, and the read
    // serves the right answer
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.files.forall(_.dv.isDefined))
    assert(DeltaTable.read(spark, root).count() ==
      customer.filter($"c_custkey" % 2 === 1).count())
  }

  test("dynamic file pruning: a narrow merge scans only the key-range " +
      "candidate files, and the result is still exact") {
    import graft.index.sources.MergePruning
    val root = Files.createTempDirectory("graft-delta-merge-dfp-").toString
    // 8 files with DISJOINT key ranges (range partitioning → tight
    // per-file min/max stats in the log)
    DeltaTable.create(
      customer.repartitionByRange(8, $"c_custkey"), root)
    val prior = DeltaLog.snapshot(spark, root)
    assert(prior.files.size == 8)
    assert(prior.files.forall(_.stats.isDefined))

    // a source touching only the lowest ~6% of the key space
    val lo = customer.select(min($"c_custkey")).as[Long].head()
    val narrow = customer.filter($"c_custkey" <= lo + 80)
      .withColumn("c_acctbal", $"c_acctbal" + 5)
    val cands = MergePruning.candidates(prior.files, prior.schema,
      MergePruning.keyStats(narrow, Seq("c_custkey"))._2)
    assert(cands.size < prior.files.size,
      s"expected pruning, got ${cands.size}/${prior.files.size}")
    assert(cands.nonEmpty)

    // and the merge through that path computes the exact upsert
    DeltaTable.merge(spark, root, narrow, Seq("c_custkey"))
    val got = DeltaTable.read(spark, root)
    assert(got.count() == customer.count())
    val want = customer.withColumn("c_acctbal",
      when($"c_custkey" <= lo + 80, $"c_acctbal" + 5)
        .otherwise($"c_acctbal"))
    assert(got.select(sum($"c_acctbal".cast("decimal(18,2)"))).head() ==
      want.select(sum($"c_acctbal".cast("decimal(18,2)"))).head())
    // only the candidate files took DVs
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.files.count(_.dv.exists(_.cardinality > 0)) <= cands.size)
  }

  test("dynamic file pruning on a PARTITION-column key: hive path " +
      "values substitute for the missing stats") {
    import graft.index.sources.MergePruning
    val root = Files.createTempDirectory("graft-delta-merge-pdfp-").toString
    DeltaTable.create(customer, root, partitionBy = Seq("c_mktsegment"))
    val prior = DeltaLog.snapshot(spark, root)
    assert(prior.files.size > 1)
    // a merge keyed on (c_mktsegment, c_custkey): the segment is a
    // partition column (no stats entry), its value comes from the path
    val src = customer.filter($"c_mktsegment" === "BUILDING" &&
      $"c_custkey" < 50)
    val cands = MergePruning.candidates(prior.files, prior.schema,
      MergePruning.keyStats(src,
        Seq("c_mktsegment", "c_custkey"))._2)
    assert(cands.nonEmpty && cands.size < prior.files.size,
      s"expected partition pruning, got ${cands.size}/${prior.files.size}")
    assert(cands.forall(_.path.contains("c_mktsegment=BUILDING")))
    // and the merge through that path stays exact
    DeltaTable.merge(spark, root,
      src.withColumn("c_acctbal", $"c_acctbal" + 3),
      Seq("c_mktsegment", "c_custkey"))
    val got = DeltaTable.read(spark, root)
    val want = customer.withColumn("c_acctbal",
      when($"c_mktsegment" === "BUILDING" && $"c_custkey" < 50,
        $"c_acctbal" + 3).otherwise($"c_acctbal"))
    assert(got.count() == customer.count())
    assert(got.select(sum($"c_acctbal".cast("decimal(18,2)"))).head() ==
      want.select(sum($"c_acctbal".cast("decimal(18,2)"))).head())
  }

  test("concurrent appends both land on both legs (ingest never loses " +
      "data to a fence race)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.index.sources.{IcebergMeta, IcebergTable}
    val droot = Files.createTempDirectory("graft-dapp-conc-").toString
    DeltaTable.create(customer.limit(1), droot)
    val da = Future(DeltaTable.append(
      customer.filter($"c_custkey" >= 1 && $"c_custkey" < 50), droot))
    val db = Future(DeltaTable.append(
      customer.filter($"c_custkey" >= 50 && $"c_custkey" < 100), droot))
    Await.result(da, 120.seconds); Await.result(db, 120.seconds)
    assert(DeltaTable.read(spark, droot).count() ==
      1 + customer.filter($"c_custkey" >= 1 && $"c_custkey" < 100).count())

    val iroot = Files.createTempDirectory("graft-iapp-conc-").toString
    IcebergTable.create(customer.limit(1), iroot)
    val ia = Future(IcebergTable.append(
      customer.filter($"c_custkey" >= 1 && $"c_custkey" < 50), iroot))
    val ib = Future(IcebergTable.append(
      customer.filter($"c_custkey" >= 50 && $"c_custkey" < 100), iroot))
    Await.result(ia, 120.seconds); Await.result(ib, 120.seconds)
    assert(IcebergTable.read(spark, iroot).count() ==
      1 + customer.filter($"c_custkey" >= 1 && $"c_custkey" < 100).count())
    // both snapshots retained (two real commits, whatever the order)
    assert(IcebergMeta.snapshot(spark, iroot).snapshotId == 3L)
  }

  test("concurrent merges both land: the fence loser auto-retries " +
      "against the winner's committed state") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = Files.createTempDirectory("graft-delta-merge-conc-").toString
    DeltaTable.create(customer, root)
    // two disjoint-key merges racing on the same table: whoever loses
    // the create-no-overwrite fence re-runs against the winner's state
    val a = Future(DeltaTable.merge(spark, root,
      customer.filter($"c_custkey" < 50)
        .withColumn("c_acctbal", $"c_acctbal" + 1), Seq("c_custkey")))
    val b = Future(DeltaTable.merge(spark, root,
      customer.filter($"c_custkey".between(50L, 99L))
        .withColumn("c_acctbal", $"c_acctbal" + 2), Seq("c_custkey")))
    val (va, vb) = (Await.result(a, 120.seconds), Await.result(b, 120.seconds))
    assert(Set(va, vb) == Set(1L, 2L), s"got versions $va, $vb")
    val got = DeltaTable.read(spark, root)
    assert(got.count() == customer.count())
    val want = customer.withColumn("c_acctbal",
      when($"c_custkey" < 50, $"c_acctbal" + 1)
        .when($"c_custkey".between(50L, 99L), $"c_acctbal" + 2)
        .otherwise($"c_acctbal"))
    assert(got.select(sum($"c_acctbal".cast("decimal(18,2)"))).head() ==
      want.select(sum($"c_acctbal".cast("decimal(18,2)"))).head())
  }

  test("pruning is sound-by-default: no stats, null bounds, and " +
      "multi-key conjunctions all keep files") {
    import graft.index.sources.MergePruning
    val root = Files.createTempDirectory("graft-delta-merge-dfp2-").toString
    DeltaTable.create(customer.repartitionByRange(4, $"c_custkey"), root)
    val prior = DeltaLog.snapshot(spark, root)

    // empty source → null bounds → keep everything
    val empty = customer.filter(lit(false))
    assert(MergePruning.candidates(prior.files, prior.schema,
      MergePruning.keyStats(empty, Seq("c_custkey"))._2)
      .size == prior.files.size)

    // stats stripped → keep everything
    val statless = prior.files.map(_.copy(stats = None))
    val lo = customer.select(min($"c_custkey")).as[Long].head()
    val narrow = customer.filter($"c_custkey" <= lo + 10)
    assert(MergePruning.candidates(statless, prior.schema,
      MergePruning.keyStats(narrow, Seq("c_custkey"))._2)
      .size == statless.size)

    // two-key conjunction still prunes (both ranges must overlap)
    val cands2 = MergePruning.candidates(prior.files, prior.schema,
      MergePruning.keyStats(narrow,
        Seq("c_custkey", "c_nationkey"))._2)
    assert(cands2.size < prior.files.size)
  }
}
