package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.sources.{DeltaLog, DeltaTable, IcebergTable, LakeTable}

/**
 * Format-dispatching facade: the same pipeline code drives a Delta and
 * an Iceberg table through detection, reads, time travel, history,
 * incremental changes, row deletes, compaction, and cleanup.
 */
class LakeTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")

  test("one code path drives both formats through the full lifecycle") {
    val delta = Files.createTempDirectory("graft-lake-d-").toString
    val ice = Files.createTempDirectory("graft-lake-i-").toString
    DeltaTable.create(customer.filter(col("c_custkey") < 100), delta,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaTable.append(customer.filter(col("c_custkey") >= 100), delta)
    IcebergTable.create(customer.filter(col("c_custkey") < 100), ice)
    IcebergTable.append(customer.filter(col("c_custkey") >= 100), ice)

    assert(LakeTable.formatOf(spark, delta) == "delta")
    assert(LakeTable.formatOf(spark, ice) == "iceberg")
    intercept[IllegalArgumentException] {
      LakeTable.formatOf(spark, TestSpark.sfDir)
    }

    Seq(delta, ice).foreach { path =>
      assert(LakeTable.read(spark, path).count() == customer.count())
      // time travel to the first id (Delta v0 / Iceberg snapshot 1)
      val firstId = if (path == delta) 0L else 1L
      assert(LakeTable.readAsOf(spark, path, firstId).count() ==
        customer.filter(col("c_custkey") < 100).count())
      // history: 2 data commits (+ the CDF property commit is v0 config)
      val h = LakeTable.history(spark, path).collect()
      assert(h.length == 2)
      assert(h.head.getLong(0) > h.last.getLong(0), "newest first")
      // incremental changes since the first id = the appended half
      val inc = LakeTable.changes(spark, path, firstId)
      assert(inc.filter(col("_change_type") === "insert").count() ==
        customer.filter(col("c_custkey") >= 100).count())
      // row-level delete, then compaction folds it away
      LakeTable.deleteWhere(spark, path, col("c_nationkey") < 3)
      val expect = customer.filter(col("c_nationkey") >= 3).count()
      assert(LakeTable.read(spark, path).count() == expect)
      LakeTable.compact(spark, path)
      assert(LakeTable.read(spark, path).count() == expect)
      // cleanup with zero retention reclaims the pre-compaction files
      val removed = LakeTable.cleanup(spark, path, retentionMs = 0L)
      assert(removed.nonEmpty, s"cleanup removed nothing at $path")
      assert(LakeTable.read(spark, path).count() == expect)
    }
  }

  test("every history row's timestamp reads back that row's id, on both formats") {
    val delta = Files.createTempDirectory("graft-lake-clock-d-").toString
    val ice = Files.createTempDirectory("graft-lake-clock-i-").toString
    DeltaTable.create(customer.filter(col("c_custkey") < 50), delta)
    IcebergTable.create(customer.filter(col("c_custkey") < 50), ice)
    Seq(delta, ice).foreach { path =>
      LakeTable.append(spark, path,
        customer.filter(col("c_custkey") >= 50 && col("c_custkey") < 100))
      LakeTable.deleteWhere(spark, path, col("c_nationkey") < 3)
      LakeTable.append(spark, path, customer.filter(col("c_custkey") >= 100))
    }
    // Delta's commit clock here is the commit file's mtime (no in-commit
    // timestamps): pin each version one second apart and an hour before
    // its commitInfo wall-clock stamp, so a reader on another clock
    // resolves another version
    val fs = new org.apache.hadoop.fs.Path(delta)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val base = System.currentTimeMillis() - 3600L * 1000
    (0L to 3L).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(delta,
        f"_delta_log/$v%020d.json"), base + v * 1000, -1)
    }
    Seq(delta, ice).foreach { path =>
      val rows = LakeTable.history(spark, path).collect()
      assert(rows.length == 4, s"$path: ${rows.toSeq}")
      rows.foreach { r =>
        val (id, ts) = (r.getLong(0), r.getTimestamp(1).getTime)
        assert(LakeTable.readTimestampAsOf(spark, path, ts).collect().toSet ==
          LakeTable.readAsOf(spark, path, id).collect().toSet,
          s"$path: AS OF history's timestamp $ts does not read id $id")
      }
    }
  }

  test("OPTIMIZE ZORDER BY a DATE column clusters on both formats") {
    val orders = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .withColumn("o_orderdate", to_date(col("o_orderdate")))
      .repartition(4)
    val delta = Files.createTempDirectory("graft-lake-zd-d-").toString
    val ice = Files.createTempDirectory("graft-lake-zd-i-").toString
    DeltaTable.create(orders, delta)
    IcebergTable.create(orders, ice)
    Seq(delta, ice).foreach { path =>
      val bytes = LakeTable.inspect(spark, path, "files")
        .agg(sum("file_size_in_bytes")).head().getLong(0)
      // aim at four files: each must span far fewer days than the table
      LakeTable.optimize(spark, path, targetSizeBytes = bytes / 4 + 1,
        zorderBy = Seq("o_orderdate"))
      val t = LakeTable.read(spark, path)
      assert(t.count() == orders.count())
      val spans = t.groupBy(input_file_name())
        .agg(datediff(max("o_orderdate"), min("o_orderdate")).as("span"))
        .collect().map(_.getInt(1))
      val global = t.agg(datediff(max("o_orderdate"), min("o_orderdate")))
        .head().getInt(0)
      assert(spans.length > 1, s"$path: expected several files")
      assert(spans.sum.toDouble / spans.length < 0.5 * global,
        s"$path: files not clustered by date: ${spans.toSeq} of $global")
    }
  }

  test("changes at the head id is the normal no-new-changes poll: empty feed") {
    val delta = Files.createTempDirectory("graft-lake-poll-d-").toString
    val ice = Files.createTempDirectory("graft-lake-poll-i-").toString
    DeltaTable.create(customer.limit(10), delta,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    IcebergTable.create(customer.limit(10), ice)
    val dHead = DeltaLog.snapshot(spark, delta).version
    val iHead = LakeTable.history(spark, ice).collect().map(_.getLong(0)).max
    Seq(delta -> dHead, ice -> iHead).foreach { case (path, head) =>
      val feed = LakeTable.changes(spark, path, head)
      assert(feed.count() == 0, s"head poll at $path served rows")
      // schema keeps the stamps so downstream unions don't break
      assert(feed.columns.contains("_change_type"))
    }
    // past the head is equally quiet (a reader that cached a stale head)
    assert(LakeTable.changes(spark, delta, dHead + 5).count() == 0)
  }

  test("undoTo dispatches: restore a Delta version, roll back an Iceberg snapshot") {
    val delta = Files.createTempDirectory("graft-lake-undo-d-").toString
    val ice = Files.createTempDirectory("graft-lake-undo-i-").toString
    val first = customer.filter(col("c_custkey") < 100)
    DeltaTable.create(first, delta)
    DeltaTable.append(customer.filter(col("c_custkey") >= 100), delta)
    IcebergTable.create(first, ice)
    IcebergTable.append(customer.filter(col("c_custkey") >= 100), ice)

    LakeTable.undoTo(spark, delta, 0L)
    LakeTable.undoTo(spark, ice, 1L)
    Seq(delta, ice).foreach { path =>
      assert(LakeTable.read(spark, path).count() == first.count(),
        s"undo at $path did not restore the first state")
    }
  }

  test("merge dispatches: the same upsert drives both formats identically") {
    val delta = Files.createTempDirectory("graft-lake-merge-d-").toString
    val ice = Files.createTempDirectory("graft-lake-merge-i-").toString
    val target = customer.filter(col("c_custkey") % 2 === 0)
    DeltaTable.create(target, delta)
    IcebergTable.create(target, ice)
    val source = customer.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1000)
    Seq(delta, ice).foreach { path =>
      LakeTable.merge(spark, path, source, Seq("c_custkey"),
        deleteCondition = Some(col("c_nationkey") >= 20))
    }
    val a = LakeTable.read(spark, delta)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val b = LakeTable.read(spark, ice)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(a.nonEmpty && a == b,
      "Delta and Iceberg merges diverged on the same source")
  }
}
