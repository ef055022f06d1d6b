package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.sources.{DeltaLog, DeltaTable, IcebergMeta, IcebergTable}

/**
 * The undo operations: Delta RESTORE (metadata-only flip back to a
 * historic file set, CDF-recorded when the feed is on) and Iceberg
 * ROLLBACK (current-snapshot-id repointed at a retained ancestor) —
 * history preserved, lineage un-forked, vacuumed targets refused.
 */
class RestoreRollbackSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")

  test("delta restore: flips the file set back, history intact") {
    val root = Files.createTempDirectory("graft-restore-").toString
    val v0 = customer.filter(col("c_custkey") < 100)
    DeltaTable.create(v0, root)                                   // v0
    DeltaTable.create(customer.filter(col("c_custkey") >= 100), root) // v1 ow
    DeltaTable.deleteWhere(spark, root, col("c_custkey") >= 140)  // v2

    val restored = DeltaTable.restore(spark, root, 0L)            // v3
    assert(restored == 3L)
    val got = DeltaTable.read(spark, root)
    assert(got.count() == v0.count())
    assert(got.select(sum(col("c_custkey"))).head().getLong(0) ==
      v0.select(sum(col("c_custkey"))).head().getLong(0))
    // the undone versions still time travel
    assert(DeltaTable.read(spark, root, versionAsOf = Some(1L)).count() ==
      customer.filter(col("c_custkey") >= 100).count())
    // history records the restore
    val ops = DeltaTable.history(spark, root).collect().map(_.getString(2))
    assert(ops.head == "RESTORE")
    // appending after a restore continues normally
    DeltaTable.append(customer.filter(col("c_custkey") >= 100), root)
    assert(DeltaTable.read(spark, root).count() == customer.count())
  }

  test("delta restore: DV-era target restores the DVs; same-version no-op") {
    val root = Files.createTempDirectory("graft-restore-dv-").toString
    DeltaTable.create(customer, root)                             // v0
    DeltaTable.deleteWhere(spark, root, col("c_nationkey") < 5)   // v1 (DV)
    val afterDelete = DeltaTable.read(spark, root).count()
    DeltaTable.create(customer.limit(10), root)                   // v2 ow
    assert(DeltaTable.restore(spark, root, 1L) == 3L)
    assert(DeltaTable.read(spark, root).count() == afterDelete)
    // restoring to where we already are commits nothing
    assert(DeltaTable.restore(spark, root, 3L) == 3L)
    assert(DeltaLog.snapshot(spark, root).version == 3L)
  }

  test("delta restore: CDF table records the full row-level effect") {
    val root = Files.createTempDirectory("graft-restore-cdf-").toString
    val v0 = customer.filter(col("c_custkey") < 50)
    DeltaTable.create(v0, root,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val repl = customer.filter(col("c_custkey") >= 100)
    DeltaTable.create(repl, root)                                 // v1 ow
    DeltaTable.restore(spark, root, 0L)                           // v2
    val v2 = DeltaTable.changes(spark, root, 2L)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v2("delete") == repl.count())
    assert(v2("insert") == v0.count())
  }

  test("delta restore: vacuumed-away target refuses loudly") {
    val root = Files.createTempDirectory("graft-restore-vac-").toString
    DeltaTable.create(customer.filter(col("c_custkey") < 100), root)
    DeltaTable.create(customer.filter(col("c_custkey") >= 100), root)
    DeltaTable.vacuum(spark, root, retentionMs = 0L)
    val e = intercept[IllegalArgumentException] {
      DeltaTable.restore(spark, root, 0L)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("iceberg rollback: repoints current, next append branches cleanly") {
    val loc = Files.createTempDirectory("graft-rollback-").toString
    val s1data = customer.filter(col("c_custkey") < 50)
    IcebergTable.create(s1data, loc)                              // 1
    IcebergTable.append(customer.filter(
      col("c_custkey").between(50, 99)), loc)                     // 2
    IcebergTable.append(customer.filter(col("c_custkey") >= 100), loc) // 3

    assert(IcebergTable.rollback(spark, loc, 1L) == 1L)
    assert(IcebergTable.read(spark, loc).count() == s1data.count())
    // the undone snapshots are retained: time travel still serves them
    assert(IcebergTable.read(spark, loc, snapshotAsOf = Some(3L)).count() ==
      customer.count())
    // the next append gets a FRESH id (no collision with retained 2/3)
    val late = customer.filter(col("c_custkey") >= 140)
    IcebergTable.append(late, loc)
    val cur = IcebergMeta.snapshot(spark, loc)
    assert(cur.snapshotId == 4L, s"expected fresh id 4, got ${cur.snapshotId}")
    assert(IcebergTable.read(spark, loc).count() == s1data.count() + late.count())
    // incremental from the rollback point serves only the new branch
    assert(IcebergTable.incrementalAppends(spark, loc, 1L).count() == late.count())
  }

  test("iceberg rollback: non-ancestor and unknown targets refuse") {
    val loc = Files.createTempDirectory("graft-rollback-bad-").toString
    IcebergTable.create(customer.limit(10), loc)                  // 1
    IcebergTable.append(customer.limit(5), loc)                   // 2
    IcebergTable.rollback(spark, loc, 1L)
    IcebergTable.append(customer.limit(3), loc)                   // 3 (branch)
    // 2 is retained but no longer on the current lineage
    val e = intercept[IllegalArgumentException] {
      IcebergTable.rollback(spark, loc, 2L)
    }
    assert(e.getMessage.contains("not an ancestor"))
    intercept[IllegalArgumentException] {
      IcebergTable.rollback(spark, loc, 99L)
    }
  }

  test("iceberg TIMESTAMP AS OF after a rollback resolves on the current " +
      "lineage") {
    val loc = Files.createTempDirectory("graft-rollback-asof-").toString
    val a = customer.filter(col("c_custkey") < 50)
    IcebergTable.create(a, loc)                                   // 1 = A
    Thread.sleep(5)
    IcebergTable.append(customer.filter(col("c_custkey") >= 100), loc) // 2 = B
    Thread.sleep(5)
    IcebergTable.rollback(spark, loc, 1L)
    Thread.sleep(5)
    val c = customer.filter(col("c_custkey").between(50, 59))
    IcebergTable.append(c, loc)                                   // 3 = C
    val ts = IcebergTable.history(spark, loc).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(ts(2L) < ts(3L), s"commit times not ordered: $ts")
    // between B and C: B was undone, so the table's state then was A
    val asOf = IcebergTable.readTimestampAsOf(spark, loc, ts(2L))
    assert(asOf.count() == a.count())
    // C and A still resolve as before
    assert(IcebergTable.readTimestampAsOf(spark, loc, ts(3L)).count() ==
      a.count() + c.count())
    assert(IcebergTable.readTimestampAsOf(spark, loc, ts(1L)).count() ==
      a.count())
  }
}
