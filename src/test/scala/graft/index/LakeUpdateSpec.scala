package graft.index

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.sources.{DeltaLog, DeltaTable, IcebergMeta, IcebergTable,
  LakeMerge, LakeTable}

/**
 * Row-level UPDATE on both jarless legs: matched rows are replaced by
 * versions with the SET expressions applied (evaluated on the old row)
 * in ONE merge-on-read commit — Delta DV-deletes the matched positions
 * and CDF records exact update pre/post pairs; Iceberg publishes a
 * positional delete plus the rewritten rows in one `overwrite` snapshot
 * whose changelog replays delete + insert. Time travel sees the
 * pre-update state; rows an earlier delete removed never resurrect.
 */
class LakeUpdateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("delta: update replaces matched rows; CDF records pre/post; " +
      "time travel sees the pre-update state") {
    val root = tmp("graft-upd-delta-")
    DeltaTable.create(customer, root,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val v = DeltaTable.update(spark, root,
      col("c_mktsegment") === "BUILDING",
      Map("c_acctbal" -> (col("c_acctbal") + 250),
        "c_name" -> lit("updated")))
    assert(v == 1L)

    val got = DeltaTable.read(spark, root)
    assert(got.count() == customer.count())
    val want = customer.withColumn("c_acctbal",
      when(col("c_mktsegment") === "BUILDING", col("c_acctbal") + 250)
        .otherwise(col("c_acctbal")))
    assert(got.select(sum(col("c_acctbal").cast("decimal(18,2)"))).head() ==
      want.select(sum(col("c_acctbal").cast("decimal(18,2)"))).head())
    assert(got.filter(col("c_name") === "updated").count() ==
      customer.filter(col("c_mktsegment") === "BUILDING").count())

    // CDF: one pre + one post per matched row, amounts exact
    val n = customer.filter(col("c_mktsegment") === "BUILDING").count()
    val cdf = DeltaTable.changes(spark, root, 1L)
    assert(cdf.filter(col("_change_type") === "update_preimage").count() == n)
    assert(cdf.filter(col("_change_type") === "update_postimage").count() == n)
    val delta = cdf.groupBy("_change_type")
      .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(delta("update_postimage").subtract(delta("update_preimage"))
      .doubleValue() == 250.0 * n)

    // time travel: version 0 still serves the original values
    assert(DeltaTable.read(spark, root, versionAsOf = Some(0L))
      .filter(col("c_name") === "updated").count() == 0)
  }

  test("delta: update never resurrects previously-deleted rows; " +
      "no-match update commits nothing") {
    val root = tmp("graft-upd-delta2-")
    DeltaTable.create(customer, root)
    DeltaTable.deleteWhere(spark, root, col("c_custkey") % 10 === 1)
    val before = DeltaTable.read(spark, root).count()
    // condition overlaps the deleted keys — they must stay gone
    DeltaTable.update(spark, root, col("c_custkey") % 5 === 1,
      Map("c_acctbal" -> (col("c_acctbal") + 1)))
    assert(DeltaTable.read(spark, root).count() == before)

    val vBefore = DeltaLog.snapshot(spark, root).version
    val r = DeltaTable.update(spark, root, col("c_custkey") < 0,
      Map("c_acctbal" -> (col("c_acctbal") + 1)))
    assert(r == vBefore)
    assert(DeltaLog.snapshot(spark, root).version == vBefore)
  }

  test("iceberg: update in one overwrite snapshot; changelog replays " +
      "delete + insert; partitioned layout preserved") {
    val loc = tmp("graft-upd-ice-")
    IcebergTable.create(customer, loc,
      partitionColumns = Seq("c_mktsegment"))
    val before = IcebergMeta.snapshot(spark, loc)
    IcebergTable.update(spark, loc,
      col("c_nationkey") === 7,
      Map("c_acctbal" -> (col("c_acctbal") * 2)))
    val after = IcebergMeta.snapshot(spark, loc)
    assert(after.snapshotId == before.snapshotId + 1)
    assert(after.files.forall(_.path.contains("/c_mktsegment=")))

    val got = IcebergTable.read(spark, loc)
    val want = customer.withColumn("c_acctbal",
      when(col("c_nationkey") === 7, col("c_acctbal") * 2)
        .otherwise(col("c_acctbal")))
    assert(got.count() == customer.count())
    assert(got.select(sum(col("c_acctbal").cast("decimal(18,2)"))).head() ==
      want.select(sum(col("c_acctbal").cast("decimal(18,2)"))).head())

    // changelog: the update snapshot contributes delete + insert rows
    val n = customer.filter(col("c_nationkey") === 7).count()
    val changes = IcebergTable.incrementalChanges(spark, loc, before.snapshotId)
    assert(changes.filter(col("_change_type") === "delete").count() == n)
    assert(changes.filter(col("_change_type") === "insert").count() == n)

    // time travel to the pre-update snapshot
    assert(IcebergTable.read(spark, loc, snapshotAsOf = Some(before.snapshotId))
      .select(sum(col("c_acctbal").cast("decimal(18,2)"))).head() ==
      customer.select(sum(col("c_acctbal").cast("decimal(18,2)"))).head())
  }

  test("refusals: both formats refuse the same bad update and merge inputs") {
    val rows = customer.limit(100)
    val d = tmp("graft-refuse-d-")
    val i = tmp("graft-refuse-i-")
    DeltaTable.create(rows, d, partitionBy = Seq("c_mktsegment"))
    IcebergTable.create(rows, i, partitionColumns = Seq("c_mktsegment"))
    val src = rows.limit(5)
    // (expected message fragment, SET map)
    val updates: Seq[(String, Map[String, Column])] = Seq(
      "no SET expressions" -> Map.empty,
      "is not a table column" -> Map("no_such_col" -> lit(1)),
      "SET touches a partition column" -> Map("c_mktsegment" -> lit("X")),
      "cast inside the expression" -> Map("c_acctbal" -> lit("not-a-number")))
    // (expected message fragment, source, keys, deleteCondition)
    val merges: Seq[(String, DataFrame, Seq[String], Option[Column])] = Seq(
      ("no key columns", src, Nil, None),
      ("key column 'nope' is not a table column", src, Seq("nope"), None),
      ("must match the table columns", src.drop("c_acctbal"),
        Seq("c_custkey"), None),
      ("cast it first", src.withColumn("c_acctbal", col("c_acctbal").cast("string")),
        Seq("c_custkey"), None),
      ("duplicate values", src.union(src), Seq("c_custkey"), None),
      ("EITHER", src.withColumn(LakeMerge.DeleteMarker, lit(false)),
        Seq("c_custkey"), Some(lit(true))))
    Seq("delta" -> d, "iceberg" -> i).foreach { case (fmt, root) =>
      def head(): Long =
        if (fmt == "delta") DeltaLog.snapshot(spark, root).version
        else IcebergMeta.snapshot(spark, root).snapshotId
      val before = head()
      updates.foreach { case (want, set) =>
        val e = intercept[IllegalArgumentException] {
          LakeTable.update(spark, root, lit(true), set)
        }
        assert(e.getMessage.contains(want), s"$fmt update: ${e.getMessage}")
      }
      merges.foreach { case (want, source, keys, cond) =>
        val e = intercept[IllegalArgumentException] {
          LakeTable.merge(spark, root, source, keys, cond)
        }
        assert(e.getMessage.contains(want), s"$fmt merge: ${e.getMessage}")
      }
      assert(head() == before, s"$fmt: a refused verb committed")
    }
  }

  test("LakeTable.update dispatches: the same statement drives both formats") {
    val d = tmp("graft-upd-lake-d-")
    val i = tmp("graft-upd-lake-i-")
    DeltaTable.create(customer, d)
    IcebergTable.create(customer, i)
    Seq(d, i).foreach { p =>
      LakeTable.update(spark, p, col("c_custkey") <= 100,
        Map("c_acctbal" -> lit(0.0)))
    }
    val want = customer.withColumn("c_acctbal",
      when(col("c_custkey") <= 100, lit(0.0)).otherwise(col("c_acctbal")))
      .select(sum(col("c_acctbal").cast("decimal(18,2)"))).head()
    assert(LakeTable.read(spark, d)
      .select(sum(col("c_acctbal").cast("decimal(18,2)"))).head() == want)
    assert(LakeTable.read(spark, i)
      .select(sum(col("c_acctbal").cast("decimal(18,2)"))).head() == want)
  }
}
