package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.sources.{DeltaFeed, DeltaLog, DeltaTable, IcebergFeed, IcebergTable, LakeStreamSink, LakeStreamSource}

/**
 * Exactly-once streaming sinks into the jarless lakehouse tables: the
 * (appId, batchId) transaction watermark makes replayed micro-batches
 * no-ops, per-batch commits append through the normal transactional
 * writers, and the end-to-end file-stream → table pipeline lands every
 * source row exactly once across restarts.
 */
class LakeStreamSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")

  private def drainInto(format: String, srcDir: String, dst: String,
      ckpt: String): Unit = {
    val q = spark.readStream.schema(customer.schema).parquet(srcDir + "/*")
      .writeStream.format(format)
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("graft-delta sink: file stream lands exactly once across drains") {
    val src = Files.createTempDirectory("graft-dsink-src-").toString
    val dst = Files.createTempDirectory("graft-dsink-dst-").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-dsink-ck-").toString
    val first = customer.filter(col("c_custkey") < 100)
    first.write.parquet(src + "/b0")

    drainInto("graft-delta", src, dst, ckpt)
    assert(DeltaTable.read(spark, dst).count() == first.count())
    // the batch commit carries the txn watermark
    val s = DeltaLog.snapshot(spark, dst)
    assert(s.transactions.nonEmpty && s.transactions.values.max >= 0L)

    // no new source data: a re-drain commits nothing
    drainInto("graft-delta", src, dst, ckpt)
    assert(DeltaTable.read(spark, dst).count() == first.count())

    customer.filter(col("c_custkey") >= 100).write.parquet(src + "/b1")
    drainInto("graft-delta", src, dst, ckpt)
    assert(DeltaTable.read(spark, dst).count() == customer.count())
    val got = DeltaTable.read(spark, dst)
      .select(sum(col("c_custkey"))).head().getLong(0)
    assert(got == customer.select(sum(col("c_custkey"))).head().getLong(0))
  }

  test("replayed micro-batch is recognized by the watermark and skipped") {
    val dst = Files.createTempDirectory("graft-dsink-replay-").toString + "/t"
    val sink = new LakeStreamSink(new DeltaFeed(spark, dst,
      Map("txnAppId" -> "replay-test")), Nil)
    val half = customer.filter(col("c_custkey") < 75)
    sink.addBatch(0, half)
    sink.addBatch(0, half) // replay: between-commit-and-checkpoint failure
    assert(DeltaTable.read(spark, dst).count() == half.count())
    sink.addBatch(1, customer.filter(col("c_custkey") >= 75))
    assert(DeltaTable.read(spark, dst).count() == customer.count())
    // stale replay of an OLD batch after progress: still skipped
    sink.addBatch(0, half)
    assert(DeltaTable.read(spark, dst).count() == customer.count())
    assert(DeltaLog.snapshot(spark, dst).transactions("replay-test") == 1L)
  }

  test("graft-iceberg sink: exactly-once via table-property watermark") {
    val dst = Files.createTempDirectory("graft-isink-").toString + "/t"
    val sink = new LakeStreamSink(new IcebergFeed(spark, dst,
      Map("txnAppId" -> "ice-test")), Nil)
    val half = customer.filter(col("c_custkey") < 75)
    sink.addBatch(0, half)
    sink.addBatch(0, half)
    assert(IcebergTable.read(spark, dst).count() == half.count())
    sink.addBatch(1, customer.filter(col("c_custkey") >= 75))
    sink.addBatch(1, customer.filter(col("c_custkey") >= 75))
    assert(IcebergTable.read(spark, dst).count() == customer.count())
    assert(IcebergTable.transactions(spark, dst)("ice-test") == 1L)
  }

  test("graft-iceberg sink: every micro-batch is a FAST APPEND — commit " +
      "metadata stays O(batch), and rewriteManifests folds the ingest " +
      "history back to one manifest") {
    val dst = Files.createTempDirectory("graft-isink-fast-").toString + "/t"
    val sink = new LakeStreamSink(new IcebergFeed(spark, dst,
      Map("txnAppId" -> "ice-fast")), Nil)
    (0 until 5).foreach(b =>
      sink.addBatch(b, customer.filter(col("c_custkey") % 5 === b)))
    // one manifest per micro-batch, none rewritten: a 100 TB ingest's
    // commit cost is its own batch, not the table's whole file list
    def dataManifests() = graft.index.sources.LakeTable
      .inspect(spark, dst, "manifests").where(col("content") === "data")
    assert(dataManifests().count() == 5,
      s"expected 5 fast-append manifests, got ${dataManifests().count()}")
    assert(IcebergTable.read(spark, dst).count() == customer.count())
    IcebergTable.rewriteManifests(spark, dst)
    assert(dataManifests().count() == 1)
    assert(IcebergTable.read(spark, dst).count() == customer.count())
  }

  test("explicit txnAppId outranks the streaming queryId") {
    // a user pins txnAppId to keep idempotence across a checkpoint-reset
    // restart (where the queryId changes); preferring the queryId would
    // silently ignore the pin
    val src = Files.createTempDirectory("graft-txnid-src-").toString
    val dst = Files.createTempDirectory("graft-txnid-dst-").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-txnid-ck-").toString
    customer.limit(20).write.parquet(src + "/b0")
    val q = spark.readStream.schema(customer.schema).parquet(src + "/*")
      .writeStream.format("graft-delta")
      .option("path", dst)
      .option("txnAppId", "pinned-app")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val txns = DeltaLog.snapshot(spark, dst).transactions
    assert(txns.contains("pinned-app"),
      s"expected the pinned txnAppId in the watermark map, got ${txns.keys}")
    // a fresh checkpoint (new queryId) with the same pin: batch 0 is
    // recognized as already-committed and skipped
    val ckpt2 = Files.createTempDirectory("graft-txnid-ck2-").toString
    val q2 = spark.readStream.schema(customer.schema).parquet(src + "/*")
      .writeStream.format("graft-delta")
      .option("path", dst)
      .option("txnAppId", "pinned-app")
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(DeltaTable.read(spark, dst).count() == 20,
      "checkpoint-reset replay with a pinned txnAppId must not double-apply")
  }

  test("graft-delta sink: partitionBy lands a hive-partitioned table") {
    val src = Files.createTempDirectory("graft-psink-src-").toString
    val dst = Files.createTempDirectory("graft-psink-dst-").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-psink-ck-").toString
    customer.withColumn("bucket", col("c_custkey") % 3)
      .write.parquet(src + "/b0")
    val schema = spark.read.parquet(src + "/b0").schema
    val q = spark.readStream.schema(schema).parquet(src + "/*")
      .writeStream.format("graft-delta")
      .partitionBy("bucket")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val s = DeltaLog.snapshot(spark, dst)
    assert(s.partitionColumns == Seq("bucket"))
    assert(s.files.forall(_.path.contains("bucket=")),
      "data files should live under hive partition dirs")
    val got = DeltaTable.read(spark, dst)
    assert(got.count() == customer.count())
    // partition values survive the dir round-trip
    assert(got.filter(col("bucket") === col("c_custkey") % 3).count() ==
      customer.count())
  }

  test("sink-written table round-trips through the matching stream source") {
    val src = Files.createTempDirectory("graft-rt-src-").toString
    val dst = Files.createTempDirectory("graft-rt-dst-").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-rt-ck-").toString
    customer.write.parquet(src + "/b0")
    drainInto("graft-delta", src, dst, ckpt)
    // the written table streams back out through graft-delta
    val out = Files.createTempDirectory("graft-rt-out-").toString
    val ckpt2 = Files.createTempDirectory("graft-rt-ck2-").toString
    val q = spark.readStream.format("graft-delta").load(dst)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.schema(customer.schema).parquet(out).count() ==
      customer.count())
  }

  /** Stream `srcTable`'s change feed into `dstTable` via mode=merge. */
  private def cdcApply(srcFormat: String, srcTable: String,
      dstFormat: String, dstTable: String, ckpt: String): Unit = {
    val q = spark.readStream.format(srcFormat)
      .option("readChangeFeed", "true").load(srcTable)
      .writeStream.format(dstFormat)
      .option("mode", "merge").option("mergeKeys", "c_custkey")
      .option("path", dstTable)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("c_custkey").collect().toSeq

  test("mode=merge: a Delta CDF stream CDC-applies; target converges " +
      "to source across multi-commit batches and incremental drains") {
    val srcT = Files.createTempDirectory("graft-cdc-src-").toString + "/a"
    val dstT = Files.createTempDirectory("graft-cdc-dst-").toString + "/b"
    val ckpt = Files.createTempDirectory("graft-cdc-ck-").toString
    // source history: create + merge (update/insert/delete) — the CDF
    // records every row-level change
    DeltaTable.create(customer.filter(col("c_custkey") % 2 === 0), srcT,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaTable.merge(spark, srcT,
      customer.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000),
      Seq("c_custkey"), deleteCondition = Some(col("c_nationkey") >= 20))

    // ONE drain carries both commits: last change per key must win
    cdcApply("graft-delta", srcT, "graft-delta", dstT, ckpt)
    assert(sortedRows(DeltaTable.read(spark, dstT)) ==
      sortedRows(DeltaTable.read(spark, srcT)))

    // more source changes; an incremental drain converges again
    DeltaTable.deleteWhere(spark, srcT, col("c_custkey") % 10 === 4)
    DeltaTable.merge(spark, srcT,
      customer.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_mktsegment", lit("CDCSEG")),
      Seq("c_custkey"))
    cdcApply("graft-delta", srcT, "graft-delta", dstT, ckpt)
    assert(sortedRows(DeltaTable.read(spark, dstT)) ==
      sortedRows(DeltaTable.read(spark, srcT)))
  }

  test("mode=merge: an Iceberg changelog stream CDC-applies into an " +
      "Iceberg target") {
    val srcT = Files.createTempDirectory("graft-cdci-src-").toString + "/a"
    val dstT = Files.createTempDirectory("graft-cdci-dst-").toString + "/b"
    val ckpt = Files.createTempDirectory("graft-cdci-ck-").toString
    IcebergTable.create(customer.filter(col("c_custkey") % 2 === 0), srcT)
    IcebergTable.deleteWhere(spark, srcT, col("c_custkey") % 10 === 6)
    IcebergTable.append(customer.filter(col("c_custkey") % 2 === 1), srcT)

    cdcApply("graft-iceberg", srcT, "graft-iceberg", dstT, ckpt)
    assert(sortedRows(IcebergTable.read(spark, dstT)) ==
      sortedRows(IcebergTable.read(spark, srcT)))
  }

  test("mode=merge CROSS-FORMAT: an Iceberg changelog replicates into a " +
      "Delta target (live format migration)") {
    val srcT = Files.createTempDirectory("graft-cdcx-src-").toString + "/a"
    val dstT = Files.createTempDirectory("graft-cdcx-dst-").toString + "/b"
    val ckpt = Files.createTempDirectory("graft-cdcx-ck-").toString
    IcebergTable.create(customer.filter(col("c_custkey") % 2 === 0), srcT)
    IcebergTable.deleteWhere(spark, srcT, col("c_custkey") % 10 === 2)
    IcebergTable.merge(spark, srcT,
      customer.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 9),
      Seq("c_custkey"))

    val q = spark.readStream.format("graft-iceberg")
      .option("readChangeFeed", "true").load(srcT)
      .writeStream.format("graft-delta")
      .option("mode", "merge").option("mergeKeys", "c_custkey")
      .option("path", dstT)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the Delta replica converges to the Iceberg source
    assert(sortedRows(DeltaTable.read(spark, dstT)) ==
      sortedRows(IcebergTable.read(spark, srcT)))
  }

  test("mode=merge: plain (non-CDF) stream upserts; deleteWhen marks " +
      "deletes") {
    val src = Files.createTempDirectory("graft-mrg-src-").toString
    val dstT = Files.createTempDirectory("graft-mrg-dst-").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-mrg-ck-").toString
    customer.filter(col("c_custkey") <= 100).write.parquet(src + "/b0")
    def drainMerge(): Unit = {
      val q = spark.readStream.schema(customer.schema).parquet(src + "/*")
        .writeStream.format("graft-delta")
        .option("mode", "merge").option("mergeKeys", "c_custkey")
        .option("deleteWhen", "c_nationkey >= 20")
        .option("path", dstT).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainMerge()
    val afterFirst = DeltaTable.read(spark, dstT)
    assert(afterFirst.count() ==
      customer.filter(col("c_custkey") <= 100 && col("c_nationkey") < 20).count())

    // second batch UPDATES half the rows and INSERTS new ones; rows
    // matching deleteWhen remove their targets
    customer.filter(col("c_custkey") > 100 && col("c_custkey") <= 150)
      .union(customer.filter(col("c_custkey") <= 50)
        .withColumn("c_acctbal", col("c_acctbal") + 777))
      .write.parquet(src + "/b1")
    drainMerge()
    val got = DeltaTable.read(spark, dstT)
    val want = customer.filter(col("c_custkey") <= 150)
      .withColumn("c_acctbal",
        when(col("c_custkey") <= 50, col("c_acctbal") + 777)
          .otherwise(col("c_acctbal")))
      .filter(col("c_nationkey") < 20)
    assert(got.count() == want.count())
    assert(got.select(sum(col("c_acctbal").cast("decimal(18,2)"))).head() ==
      want.select(sum(col("c_acctbal").cast("decimal(18,2)"))).head())
  }

  test("graft-iceberg sink mergeSchema=true evolves the table " +
      "additively mid-stream; conflicting types refuse") {
    import graft.index.sources.IcebergMeta
    val dst = Files.createTempDirectory("graft-isink-evo-").toString + "/t"
    val sink = new LakeStreamSink(new IcebergFeed(spark, dst,
      Map("txnAppId" -> "evo-test", "mergeSchema" -> "true")), Nil)
    sink.addBatch(0, customer.filter(col("c_custkey") < 50))
    // the stream widens: a new column appears mid-stream
    sink.addBatch(1, customer.filter(col("c_custkey") >= 50)
      .withColumn("tier", (col("c_custkey") % 3).cast("int")))
    val got = IcebergTable.read(spark, dst)
    assert(got.columns.contains("tier"))
    assert(got.count() == customer.count())
    // pre-evolution rows read the new column as null
    assert(got.filter(col("tier").isNull).count() == 50)
    assert(got.filter(col("tier").isNotNull).count() ==
      customer.count() - 50)
    // the column has a REAL field id in the table metadata
    assert(IcebergMeta.snapshot(spark, dst).schema.fieldNames.contains("tier"))
    // two new columns in one batch evolve the schema in ONE commit:
    // every schema commit publishes the next current-schema-id
    def schemaVersions(): BigInt = {
      val meta = new java.io.File(dst, "metadata").listFiles()
        .filter(_.getName.endsWith(".metadata.json"))
        .maxBy(_.getName.filter(_.isDigit).toLong)
      val json = org.json4s.jackson.JsonMethods.parse(
        new String(Files.readAllBytes(meta.toPath), "UTF-8"))
      (json \ "current-schema-id") match {
        case org.json4s.JInt(id) => id
        case other => fail(s"no current-schema-id in ${meta.getName}: $other")
      }
    }
    val before = schemaVersions()
    sink.addBatch(2, customer.limit(3)
      .withColumn("tier", lit(7))
      .withColumn("region", lit("north"))
      .withColumn("score", lit(1.5)))
    assert(schemaVersions() == before + 1,
      s"two new columns should add one schema version, got ${schemaVersions() - before}")
    val wide = IcebergTable.read(spark, dst)
    assert(wide.count() == customer.count() + 3)
    assert(wide.filter(col("region") === "north" && col("score") === 1.5)
      .count() == 3)
    // a conflicting type never merges
    val e = intercept[IllegalArgumentException] {
      sink.addBatch(3, customer.limit(1)
        .withColumn("tier", lit("not-an-int")))
    }
    assert(e.getMessage.contains("conflicting"))
  }

  test("mode=merge: a replayed upsert batch is skipped by the txn " +
      "watermark (no new version, no double-apply)") {
    val dstT = Files.createTempDirectory("graft-mrgrpl-").toString + "/t"
    val sink = new LakeStreamSink(new DeltaFeed(spark, dstT,
      Map("txnAppId" -> "merge-replay", "mode" -> "merge",
        "mergeKeys" -> "c_custkey")), Nil)
    sink.addBatch(0, customer.filter(col("c_custkey") <= 50))
    sink.addBatch(1, customer.filter(col("c_custkey") <= 50)
      .withColumn("c_acctbal", col("c_acctbal") + 100))
    val vAfter = DeltaLog.snapshot(spark, dstT).version
    val balAfter = DeltaTable.read(spark, dstT)
      .select(sum(col("c_acctbal").cast("decimal(18,2)"))).head()
    // replay of batch 1: recognized, skipped — nothing moves
    sink.addBatch(1, customer.filter(col("c_custkey") <= 50)
      .withColumn("c_acctbal", col("c_acctbal") + 100))
    assert(DeltaLog.snapshot(spark, dstT).version == vAfter)
    assert(DeltaTable.read(spark, dstT)
      .select(sum(col("c_acctbal").cast("decimal(18,2)"))).head() == balAfter)
  }

  test("write-audit-publish: stream to an Iceberg branch, main serves " +
      "the old snapshot until fastForward; exactly-once survives publish") {
    import graft.index.sources.{IcebergMeta, LakeTable}
    val dst = Files.createTempDirectory("graft-isink-wap-").toString + "/t"
    val base = customer.filter(col("c_custkey") <= 50)
    IcebergTable.create(base, dst)                                  // snap 1

    val sink = new LakeStreamSink(new IcebergFeed(spark, dst,
      Map("txnAppId" -> "wap-ingest", "branch" -> "audit")), Nil)
    sink.addBatch(0, customer.filter(
      col("c_custkey") > 50 && col("c_custkey") <= 100))            // snap 2
    sink.addBatch(1, customer.filter(col("c_custkey") > 100))       // snap 3

    // WRITE landed on the branch; main still serves the published state
    assert(IcebergTable.read(spark, dst).count() == base.count(),
      "unaudited branch rows leaked into main")
    assert(IcebergTable.readRef(spark, dst, "audit").count() ==
      customer.count())
    // AUDIT side: a stream source following the ref sees the branch head
    val srcHead = new LakeStreamSource(
      new IcebergFeed(spark, dst, Map("branch" -> "audit")))
    assert(srcHead.reportLatestOffset().json.toLong == 3L)
    val srcMain = new LakeStreamSource(new IcebergFeed(spark, dst, Map.empty))
    assert(srcMain.reportLatestOffset().json.toLong == 1L)

    // replayed batch: the TABLE-level watermark catches it even though
    // the commits sit on the branch
    sink.addBatch(1, customer.filter(col("c_custkey") > 100))
    assert(IcebergMeta.snapshot(spark, dst).refs("audit").snapshotId == 3L,
      "replayed branch batch committed a new snapshot")

    // PUBLISH: fastForward repoints main at the audited head
    assert(IcebergTable.fastForward(spark, dst, "audit") == 3L)
    assert(IcebergTable.read(spark, dst).count() == customer.count())
    // ...and the watermark still guards after publication
    sink.addBatch(0, base) // ancient replay: skipped
    assert(IcebergMeta.snapshot(spark, dst).snapshotId == 3L)

    // misuse refuses loudly
    val e1 = intercept[IllegalArgumentException] {
      new LakeStreamSink(new IcebergFeed(spark,
        Files.createTempDirectory("graft-isink-wap2-").toString + "/t",
        Map("txnAppId" -> "x", "branch" -> "b")), Nil)
        .addBatch(0, base)
    }
    assert(e1.getMessage.contains("existing Iceberg table"))
    val e2 = intercept[IllegalArgumentException] {
      new LakeStreamSink(new DeltaFeed(spark, dst,
        Map("txnAppId" -> "x", "branch" -> "b")), Nil)
    }
    assert(e2.getMessage.contains("graft-iceberg"))
  }
}
