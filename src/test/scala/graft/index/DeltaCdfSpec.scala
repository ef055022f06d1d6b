package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.sources.{DeltaLog, DeltaTable, UnsupportedDeltaProtocolException}

/**
 * Delta CHANGE DATA FEED: cdc files written by `deleteWhere` and
 * overwrite commits on CDF-enabled tables, the `changes` reader
 * (cdc-exclusive commits, derived inserts/deletes for cdc-less ones),
 * per-version enablement enforcement, protocol upgrades, and the
 * snapshot read's blindness to `_change_data`.
 */
class DeltaCdfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")

  private val CdfOn = Map("delta.enableChangeDataFeed" -> "true")

  private def changeTypes(root: String, from: Long = 0L): Map[(Long, String), Long] =
    DeltaTable.changes(spark, root, from)
      .groupBy("_commit_version", "_change_type").count()
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

  test("create+append+delete on a CDF table: inserts derived, deletes from cdc") {
    val root = Files.createTempDirectory("graft-cdf-basic-").toString
    val even = customer.filter(col("c_custkey") % 2 === 0)
    val odd = customer.filter(col("c_custkey") % 2 === 1)
    DeltaTable.create(even, root, configuration = CdfOn)          // v0
    DeltaTable.append(odd, root)                                  // v1
    DeltaTable.deleteWhere(spark, root, col("c_nationkey") < 5)   // v2

    // the delete commit produced a real cdc file under _change_data
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(root, "_change_data")),
      "deleteWhere on a CDF table must write cdc files")

    val nEven = even.count()
    val nOdd = odd.count()
    val nDeleted = customer.filter(col("c_nationkey") < 5).count()
    val got = changeTypes(root)
    assert(got((0L, "insert")) == nEven)
    assert(got((1L, "insert")) == nOdd)
    assert(got((2L, "delete")) == nDeleted)
    assert(got.size == 3)

    // the delete change rows are exactly the predicate-matching rows
    val delKeys = DeltaTable.changes(spark, root, 2L)
      .filter(col("_change_type") === "delete")
      .select("c_custkey").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    val expected = customer.filter(col("c_nationkey") < 5)
      .select("c_custkey").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    assert(delKeys.sameElements(expected))

    // _commit_timestamp rides along and is non-null
    assert(DeltaTable.changes(spark, root, 0L)
      .filter(col("_commit_timestamp").isNull).count() == 0)
  }

  test("overwrite on a CDF table records pre-image deletes + new inserts") {
    val root = Files.createTempDirectory("graft-cdf-ow-").toString
    DeltaTable.create(customer.filter(col("c_custkey") <= 50), root,
      configuration = CdfOn)                                      // v0
    val replacement = customer.filter(col("c_custkey") > 100)
    DeltaTable.create(replacement, root)                          // v1 overwrite

    val got = changeTypes(root, from = 1L)
    assert(got((1L, "delete")) ==
      customer.filter(col("c_custkey") <= 50).count())
    assert(got((1L, "insert")) == replacement.count())

    // snapshot read serves only the replacement — cdc files are invisible
    assert(DeltaTable.read(spark, root).count() == replacement.count())
  }

  test("a second delete re-matching the predicate emits only newly-deleted rows") {
    val root = Files.createTempDirectory("graft-cdf-redel-").toString
    DeltaTable.create(customer, root, configuration = CdfOn)
    DeltaTable.deleteWhere(spark, root, col("c_nationkey") < 3)   // v1
    // widens the predicate: rows with nationkey < 3 are ALREADY deleted
    // and must not re-appear as v2 change rows
    DeltaTable.deleteWhere(spark, root, col("c_nationkey") < 6)   // v2
    val got = changeTypes(root, from = 1L)
    assert(got((1L, "delete")) ==
      customer.filter(col("c_nationkey") < 3).count())
    assert(got((2L, "delete")) ==
      customer.filter(col("c_nationkey") >= 3 && col("c_nationkey") < 6).count())
  }

  test("partitioned CDF table: cdc files are hive-partitioned, values recovered") {
    val root = Files.createTempDirectory("graft-cdf-part-").toString
    DeltaTable.create(customer.withColumn("bucket", col("c_custkey") % 4),
      root, partitionBy = Seq("bucket"), configuration = CdfOn)
    DeltaTable.deleteWhere(spark, root, col("c_acctbal") < 0)
    val del = DeltaTable.changes(spark, root, 1L)
      .filter(col("_change_type") === "delete")
    val expected = customer.filter(col("c_acctbal") < 0)
    assert(del.count() == expected.count())
    // partition column values round-trip through the hive dirs
    val gotBuckets = del.select(col("c_custkey"), col("bucket")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    expected.select("c_custkey").collect().map(_.getLong(0)).foreach { k =>
      assert(gotBuckets(k) == k % 4, s"bucket of suppkey $k")
    }
    // and the cdc files on disk are under hive-layout partition dirs
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(new Path(root, "_change_data"))
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(dirs.exists(_.startsWith("bucket=")),
      s"expected bucket= dirs under _change_data, got ${dirs.mkString(",")}")
  }

  test("enableChangeDataFeed upgrades protocol; pre-enable versions refuse") {
    val root = Files.createTempDirectory("graft-cdf-enable-").toString
    DeltaTable.create(customer.filter(col("c_custkey") <= 75), root) // v0, no CDF
    DeltaTable.enableChangeDataFeed(spark, root)                     // v1
    DeltaTable.append(customer.filter(col("c_custkey") > 75), root)  // v2

    val s = DeltaLog.snapshot(spark, root)
    assert(s.configuration.get("delta.enableChangeDataFeed").contains("true"))
    assert(s.minWriterVersion >= 4,
      s"legacy CDF protocol floor is writer 4, got ${s.minWriterVersion}")

    // v0's data changed while CDF was off → a range touching it refuses
    val e = intercept[UnsupportedDeltaProtocolException] {
      DeltaTable.changes(spark, root, 0L).collect()
    }
    assert(e.getMessage.contains("change data was not recorded"))
    // a range starting after enablement serves
    val got = changeTypes(root, from = 1L)
    assert(got((2L, "insert")) == customer.filter(col("c_custkey") > 75).count())
  }

  test("feature-protocol table gains the changeDataFeed writer feature") {
    val root = Files.createTempDirectory("graft-cdf-feat-").toString
    DeltaTable.create(customer, root)
    // deleteWhere upgrades to (3,7)+deletionVectors first
    DeltaTable.deleteWhere(spark, root, col("c_custkey") === 1L)
    DeltaTable.enableChangeDataFeed(spark, root)
    val s = DeltaLog.snapshot(spark, root)
    assert(s.minWriterVersion == 7)
    assert(s.writerFeatures.contains("changeDataFeed"))
    // CDF adds no reader feature: plain snapshot readers stay compatible
    assert(!s.readerFeatures.contains("changeDataFeed"))
  }

  test("cdc-less commit that both adds and removes data fails loudly") {
    val root = Files.createTempDirectory("graft-cdf-mixed-").toString
    DeltaTable.create(customer.limit(10), root, configuration = CdfOn)
    // hand-craft a v1 commit that rewrites a file without cdc actions
    // (the shape an external non-CDF-aware writer would produce)
    val s = DeltaLog.snapshot(spark, root)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val rel = new Path(s.files.head.path).getName
    val lines = Seq(
      s"""{"remove":{"path":"$rel","deletionTimestamp":1,"dataChange":true}}""",
      s"""{"add":{"path":"$rel","partitionValues":{},"size":${s.files.head.size},"modificationTime":1,"dataChange":true}}""")
    val out = fs.create(new Path(root, "_delta_log/00000000000000000001.json"), false)
    try out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val e = intercept[UnsupportedDeltaProtocolException] {
      DeltaTable.changes(spark, root, 0L).collect()
    }
    assert(e.getMessage.contains("cannot be reconstructed"))
  }

  test("ICT table: changes() stamps the in-commit clock, agreeing with history") {
    val root = Files.createTempDirectory("graft-cdf-ict-").toString
    DeltaTable.create(customer.filter(col("c_custkey") < 100), root,
      configuration = CdfOn)                                          // v0
    DeltaTable.enableInCommitTimestamps(spark, root)                  // v1
    DeltaTable.append(customer.filter(col("c_custkey") >= 100), root) // v2
    // sabotage commit mtimes: the CDF clock must come from the ICT,
    // not the file, or it disagrees with history()/readTimestampAsOf()
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    (0L to 2L).foreach { v =>
      fs.setTimes(new Path(root, f"_delta_log/$v%020d.json"), 1000L + v, -1)
    }
    val histTs = DeltaTable.history(spark, root).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    val cdfTs = DeltaTable.changes(spark, root, 2L)
      .select("_commit_version", "_commit_timestamp").distinct().collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(cdfTs(2L) == histTs(2L),
      s"CDF clock ${cdfTs(2L)} disagrees with history ${histTs(2L)} on an ICT commit")
    assert(cdfTs(2L) > 1000000L, "CDF fell back to the sabotaged mtime")
  }

  test("delete matching zero live rows still serves an empty, well-typed feed") {
    val root = Files.createTempDirectory("graft-cdf-zero-").toString
    DeltaTable.create(customer, root, configuration = CdfOn)
    DeltaTable.deleteWhere(spark, root, col("c_nationkey") < 2)     // v1
    DeltaTable.deleteWhere(spark, root, col("c_nationkey") < 2)     // re-match only
    val latest = DeltaLog.snapshot(spark, root).version
    if (latest == 2L) {
      val v2 = DeltaTable.changes(spark, root, 2L)
      assert(v2.count() == 0)
      assert(v2.columns.takeRight(3).toSeq ==
        Seq("_change_type", "_commit_version", "_commit_timestamp"))
    }
  }

  test("changes() after checkpoint-time log cleanup reads only its range; " +
      "a change-feed stream starts there") {
    val root = Files.createTempDirectory("graft-cdf-cleaned-").toString
    DeltaTable.create(customer.filter(col("c_custkey") <= 50), root,
      configuration = CdfOn +
        ("delta.logRetentionDuration" -> "interval 0 seconds"))       // v0
    DeltaTable.append(customer.filter(col("c_custkey") > 50 &&
      col("c_custkey") <= 100), root)                                 // v1
    val ckpt = DeltaTable.checkpoint(spark, root)
    // the cleanup removed the commits before the checkpoint
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(root, f"_delta_log/${0L}%020d.json")))
    val late = customer.filter(col("c_custkey") > 100)
    DeltaTable.append(late, root)                                     // ckpt+1
    DeltaTable.deleteWhere(spark, root, col("c_nationkey") < 5)       // ckpt+2
    val nDel = customer.filter(col("c_nationkey") < 5).count()

    val want = Map((ckpt + 1, "insert") -> late.count(),
      (ckpt + 2, "delete") -> nDel)
    assert(changeTypes(root, from = ckpt + 1) == want)

    val out = Files.createTempDirectory("graft-cdf-cleaned-out-").toString
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", (ckpt + 1).toString).load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdf-cleaned-ck-").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
      .groupBy("_commit_version", "_change_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == want)
  }
}
