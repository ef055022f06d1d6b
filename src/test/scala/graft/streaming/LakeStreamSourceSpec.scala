package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.sources.{DeltaFeed, DeltaTable, IcebergFeed, IcebergTable, LakeFeed, LakeStreamSource}

/**
 * Structured Streaming over the jarless lakehouse logs: the
 * `graft-delta` / `graft-iceberg` v1 sources serve each commit's
 * appended rows as micro-batches, resume from the checkpoint without
 * re-serving, refuse row-deleting commits loudly (or skip them with
 * `skipChangeCommits=true`), and honor `startingVersion=latest`. The
 * behaviour both formats share is driven over both ([[lakes]]).
 */
class LakeStreamSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")

  /** One lake format as the shared cases drive it. `create`'s flag
    * asks for a table that records its change feed. */
  private case class Lake(format: String, startingId: String,
      idColumn: String, refusal: String,
      create: (DataFrame, String, Boolean) => Unit,
      append: (DataFrame, String) => Unit,
      delete: (String, Column) => Unit,
      feed: (SparkSession, String, Map[String, String]) => LakeFeed)

  private lazy val lakes = Seq(
    Lake("graft-delta", "startingVersion", "_commit_version",
      "append stream cannot represent",
      (df, p, cdf) => DeltaTable.create(df, p, configuration =
        if (cdf) Map("delta.enableChangeDataFeed" -> "true") else Map.empty),
      (df, p) => DeltaTable.append(df, p),
      (p, c) => DeltaTable.deleteWhere(spark, p, c),
      new DeltaFeed(_, _, _)),
    Lake("graft-iceberg", "startingSnapshotId", "_commit_snapshot_id",
      "appends-only",
      (df, p, _) => IcebergTable.create(df, p),
      (df, p) => IcebergTable.append(df, p),
      (p, c) => IcebergTable.deleteWhere(spark, p, c),
      new IcebergFeed(_, _, _)))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Every message along a failure's cause chain. */
  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  /** Drain the stream into a parquet sink with AvailableNow; returns the
    * sink's current row count. */
  private def drain(format: String, table: String, out: String, ckpt: String,
      options: Map[String, String] = Map.empty): Long = {
    var reader = spark.readStream.format(format)
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    val df = reader.load(table)
    val schema = df.schema
    val q = df
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // explicit schema: a zero-batch drain leaves the sink file-less
    spark.read.schema(schema).parquet(out).count()
  }

  test("graft-delta: per-commit batches, checkpoint resume, no re-serving") {
    val root = Files.createTempDirectory("graft-dstream-").toString
    val out = Files.createTempDirectory("graft-dstream-out-").toString
    val ckpt = Files.createTempDirectory("graft-dstream-ck-").toString
    val first = customer.filter(col("c_custkey") < 100)
    DeltaTable.create(first, root)

    assert(drain("graft-delta", root, out, ckpt) == first.count())
    // nothing new: a second drain serves zero additional rows
    assert(drain("graft-delta", root, out, ckpt) == first.count())

    DeltaTable.append(customer.filter(col("c_custkey") >= 100), root)
    assert(drain("graft-delta", root, out, ckpt) == customer.count())

    // the streamed rows are exactly the table rows (no dupes, no loss)
    val got = spark.read.parquet(out).select(sum(col("c_custkey"))).head().getLong(0)
    val want = customer.select(sum(col("c_custkey"))).head().getLong(0)
    assert(got == want)
  }

  test("graft-delta: row-deleting commits refuse; skipChangeCommits skips") {
    lakes.foreach { lake =>
      val root = tmp("graft-stream-del-")
      val out = tmp("graft-stream-del-out-")
      val ckpt = tmp("graft-stream-del-ck-")
      lake.create(customer.filter(col("c_custkey") < 100), root, false)
      assert(drain(lake.format, root, out, ckpt) == 100)

      lake.delete(root, col("c_custkey") < 10)
      val late = customer.filter(col("c_custkey") >= 100)
      lake.append(late, root)

      val e = intercept[StreamingQueryException] {
        drain(lake.format, root, out, ckpt)
      }
      assert(msgs(e).exists(_.contains(lake.refusal)),
        s"${lake.format}: expected the strict refusal, got ${msgs(e).mkString(" | ")}")

      // with the skip option the delete commit is passed over, appends flow
      val n = drain(lake.format, root, tmp("graft-stream-del-out2-"),
        tmp("graft-stream-del-ck2-"), Map("skipChangeCommits" -> "true"))
      assert(n == 100 + late.count(), lake.format)
    }
  }

  test("graft-delta: startingVersion=latest serves only post-start commits") {
    lakes.foreach { lake =>
      val root = tmp("graft-stream-late-")
      val out = tmp("graft-stream-late-out-")
      val ckpt = tmp("graft-stream-late-ck-")
      val latest = Map(lake.startingId -> "latest")
      lake.create(customer.filter(col("c_custkey") < 100), root, false)
      // stream created AFTER the first commit: drains nothing yet
      assert(drain(lake.format, root, out, ckpt, latest) == 0L, lake.format)
      val late = customer.filter(col("c_custkey") >= 100)
      lake.append(late, root)
      assert(drain(lake.format, root, out, ckpt, latest) == late.count(),
        lake.format)
      // a start beyond the head waits for it instead of failing
      assert(drain(lake.format, root, tmp("graft-stream-ahead-out-"),
        tmp("graft-stream-ahead-ck-"), Map(lake.startingId -> "100")) == 0L,
        lake.format)
    }
  }

  test("graft-iceberg: startingSnapshotId=latest under a BRANCH pins " +
      "the branch head, not main's") {
    val root = Files.createTempDirectory("graft-istream-blate-").toString
    val out = Files.createTempDirectory("graft-istream-blate-out-").toString
    val ckpt = Files.createTempDirectory("graft-istream-blate-ck-").toString
    IcebergTable.create(customer.filter(col("c_custkey") < 100), root) // 1
    // two UNPUBLISHED branch commits main doesn't see
    IcebergTable.append(customer.filter(col("c_custkey") === 100), root,
      branch = Some("audit"))                                          // 2
    IcebergTable.append(customer.filter(col("c_custkey") === 101), root,
      branch = Some("audit"))                                          // 3
    // latest = the BRANCH head (3): the stream must NOT replay the
    // existing unpublished window the user asked to skip
    assert(drain("graft-iceberg", root, out, ckpt,
      Map("branch" -> "audit", "startingSnapshotId" -> "latest")) == 0L)
    IcebergTable.append(customer.filter(col("c_custkey") === 102), root,
      branch = Some("audit"))                                          // 4
    assert(drain("graft-iceberg", root, out, ckpt,
      Map("branch" -> "audit", "startingSnapshotId" -> "latest")) == 1L)
  }

  test("graft-delta readChangeFeed: deletes stream as first-class change rows") {
    lakes.foreach { lake =>
      val root = tmp("graft-stream-cdc-")
      val out = tmp("graft-stream-cdc-out-")
      val ckpt = tmp("graft-stream-cdc-ck-")
      lake.create(customer, root, true)
      val opts = Map("readChangeFeed" -> "true")
      assert(drain(lake.format, root, out, ckpt, opts) == customer.count())

      lake.delete(root, col("c_nationkey") < 5)
      val nDel = customer.filter(col("c_nationkey") < 5).count()
      // no refusal in CDC mode: the delete arrives as change rows
      assert(drain(lake.format, root, out, ckpt, opts) ==
        customer.count() + nDel, lake.format)
      val byType = spark.read.parquet(out)
        .groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType("insert") == customer.count(), lake.format)
      assert(byType("delete") == nDel, lake.format)
      // stamps ride along
      assert(spark.read.parquet(out)
        .filter(col("_commit_timestamp").isNull ||
          col(lake.idColumn).isNull).count() == 0, lake.format)
    }
  }

  test("graft-iceberg: snapshot-id offsets, resume, strict delete refusal") {
    val loc = Files.createTempDirectory("graft-istream-").toString
    val out = Files.createTempDirectory("graft-istream-out-").toString
    val ckpt = Files.createTempDirectory("graft-istream-ck-").toString
    val first = customer.filter(col("c_custkey") < 100)
    IcebergTable.create(first, loc)

    assert(drain("graft-iceberg", loc, out, ckpt) == first.count())
    IcebergTable.append(customer.filter(col("c_custkey") >= 100), loc)
    assert(drain("graft-iceberg", loc, out, ckpt) == customer.count())
    assert(drain("graft-iceberg", loc, out, ckpt) == customer.count())

    IcebergTable.deleteWhere(spark, loc, col("c_custkey") < 10)
    IcebergTable.append(customer.limit(5), loc)
    val e = intercept[StreamingQueryException] {
      drain("graft-iceberg", loc, out, ckpt)
    }
    assert(e.getMessage.contains("appends-only") ||
      Option(e.getCause).exists(_.getMessage.contains("appends-only")))
    // skipping the delete snapshot serves the trailing append
    val n = drain("graft-iceberg", loc, out, ckpt,
      Map("skipChangeCommits" -> "true"))
    assert(n == customer.count() + 5)
  }

  test("graft-iceberg: a dropped-and-recreated table fails the checkpoint " +
      "instead of yielding empty batches forever") {
    lakes.foreach { lake =>
      val loc = tmp("graft-stream-reset-")
      val out = tmp("graft-stream-reset-out-")
      val ckpt = tmp("graft-stream-reset-ck-")
      lake.create(customer.filter(col("c_custkey") < 50), loc, false)
      lake.append(customer.filter(col("c_custkey") >= 50 &&
        col("c_custkey") < 100), loc)
      lake.append(customer.filter(col("c_custkey") >= 100 &&
        col("c_custkey") < 150), loc)
      drain(lake.format, loc, out, ckpt) // checkpoint now at the third commit

      // drop + recreate: commit ids restart below the checkpointed end
      def rmrf(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rmrf)); p.delete()
      }
      rmrf(new java.io.File(loc))
      lake.create(customer.filter(col("c_custkey") < 20), loc, false)

      val e = intercept[StreamingQueryException] {
        drain(lake.format, loc, out, ckpt)
      }
      assert(msgs(e).exists(_.contains("dropped and recreated")),
        s"${lake.format}: expected the recreation divergence error, got: " +
          msgs(e).mkString(" | "))
    }
  }

  /** Completed micro-batches recorded in the checkpoint's offset log. */
  private def batchCount(ckpt: String): Int =
    new java.io.File(ckpt, "offsets").list()
      .count(n => n.forall(_.isDigit))

  test("graft-delta: maxFilesPerTrigger — Trigger.AvailableNow DRAINS " +
      "the whole backlog in bounded per-commit batches") {
    lakes.foreach { lake =>
      val root = tmp("graft-stream-rate-")
      val out = tmp("graft-stream-rate-out-")
      val ckpt = tmp("graft-stream-rate-ck-")
      // 3 commits × 2 files each — the backlog a restart would face
      val c0 = customer.filter(col("c_custkey") < 50)
      val c1 = customer.filter(col("c_custkey") >= 50 && col("c_custkey") < 100)
      val c2 = customer.filter(col("c_custkey") >= 100)
      lake.create(c0.repartition(2), root, false)
      lake.append(c1.repartition(2), root)
      lake.append(c2.repartition(2), root)

      // ONE AvailableNow run drains everything — the admission-control
      // protocol paces it as one micro-batch per commit under the cap
      val opts = Map("maxFilesPerTrigger" -> "2")
      assert(drain(lake.format, root, out, ckpt, opts) == customer.count())
      assert(batchCount(ckpt) == 3,
        s"${lake.format}: expected 3 capped batches, got ${batchCount(ckpt)}")
      // drained: a further capped run serves nothing new
      assert(drain(lake.format, root, out, ckpt, opts) == customer.count())
      // RESUME MID-BACKLOG: new commits drain from the checkpointed
      // offset in capped batches, never re-serving
      lake.append(customer.limit(30).repartition(2), root)
      lake.append(customer.limit(20).repartition(2), root)
      assert(drain(lake.format, root, out, ckpt, opts) ==
        customer.count() + 50, lake.format)
      assert(spark.read.parquet(out).count() == customer.count() + 50)
      assert(batchCount(ckpt) == 5, lake.format)
    }
  }

  test("getBatch: a repeated range resolves once per session, for both " +
      "formats and both modes") {
    /** The resolved rows a batch frame wraps (its one LogicalRDD). */
    def rddOf(batch: DataFrame) = batch.queryExecution.logical
      .collectFirst { case r: LogicalRDD => r.rdd }.get
    for (lake <- lakes; cdc <- Seq(false, true)) {
      val root = tmp("graft-stream-cache-")
      lake.create(customer.filter(col("c_custkey") < 100), root, true)
      lake.append(customer.filter(col("c_custkey") >= 100), root)
      val opts = if (cdc) Map("readChangeFeed" -> "true") else Map.empty[String, String]
      val source = new LakeStreamSource(lake.feed(spark, root, opts))
      val end = LongOffset(source.reportLatestOffset().json.toLong)
      val first = rddOf(source.getBatch(None, end))
      // a second source on the same table and session: same resolution
      val again = new LakeStreamSource(lake.feed(spark, root, opts))
      assert(rddOf(again.getBatch(None, end)).id == first.id,
        s"${lake.format} cdc=$cdc: the repeated range was resolved again")
      // a different range is its own batch
      val second = LongOffset(end.offset - 1)
      assert(rddOf(source.getBatch(Some(second), end)).id != first.id,
        s"${lake.format} cdc=$cdc")
    }
  }

  test("graft-delta: a wider files cap admits multiple commits per batch; " +
      "a tiny bytes cap still makes progress (at least one commit)") {
    val root = Files.createTempDirectory("graft-dstream-rate2-").toString
    val c0 = customer.filter(col("c_custkey") < 50)
    val c1 = customer.filter(col("c_custkey") >= 50 && col("c_custkey") < 100)
    val c2 = customer.filter(col("c_custkey") >= 100)
    DeltaTable.create(c0.repartition(2), root)
    DeltaTable.append(c1.repartition(2), root)
    DeltaTable.append(c2.repartition(2), root)

    // 4-file cap ⇒ batch 1 = commits 0+1, batch 2 = commit 2
    val out = Files.createTempDirectory("graft-dstream-rate2-out-").toString
    val ckpt = Files.createTempDirectory("graft-dstream-rate2-ck-").toString
    assert(drain("graft-delta", root, out, ckpt,
      Map("maxFilesPerTrigger" -> "4")) == customer.count())
    assert(batchCount(ckpt) == 2)

    // 1-byte cap: every commit exceeds it, yet each batch admits one
    // commit (progress is never starved) — 3 batches, full drain
    val out2 = Files.createTempDirectory("graft-dstream-rate2b-out-").toString
    val ckpt2 = Files.createTempDirectory("graft-dstream-rate2b-ck-").toString
    assert(drain("graft-delta", root, out2, ckpt2,
      Map("maxBytesPerTrigger" -> "1")) == customer.count())
    assert(batchCount(ckpt2) == 3)
  }

  test("graft-iceberg: maxFilesPerTrigger paces the snapshot lineage " +
      "and AvailableNow drains it fully") {
    val loc = Files.createTempDirectory("graft-istream-rate-").toString
    val out = Files.createTempDirectory("graft-istream-rate-out-").toString
    val ckpt = Files.createTempDirectory("graft-istream-rate-ck-").toString
    val c0 = customer.filter(col("c_custkey") < 50)
    val c1 = customer.filter(col("c_custkey") >= 50 && col("c_custkey") < 100)
    val c2 = customer.filter(col("c_custkey") >= 100)
    IcebergTable.create(c0.repartition(2), loc)
    IcebergTable.append(c1.repartition(2), loc)
    IcebergTable.append(c2.repartition(2), loc)

    val opts = Map("maxFilesPerTrigger" -> "2")
    assert(drain("graft-iceberg", loc, out, ckpt, opts) == customer.count())
    assert(batchCount(ckpt) == 3,
      s"expected 3 capped batches, got ${batchCount(ckpt)}")
    assert(drain("graft-iceberg", loc, out, ckpt, opts) == customer.count())
    assert(spark.read.parquet(out).select(sum(col("c_custkey")))
      .head().getLong(0) ==
      customer.select(sum(col("c_custkey"))).head().getLong(0))
  }

  test("an uncapped checkpoint upgraded to caps resumes from the " +
      "committed offset — no regression, no re-serving") {
    val root = Files.createTempDirectory("graft-dstream-upg-").toString
    val out = Files.createTempDirectory("graft-dstream-upg-out-").toString
    val ckpt = Files.createTempDirectory("graft-dstream-upg-ck-").toString
    val c0 = customer.filter(col("c_custkey") < 100)
    DeltaTable.create(c0.repartition(2), root)
    assert(drain("graft-delta", root, out, ckpt) == c0.count())
    DeltaTable.append(
      customer.filter(col("c_custkey") >= 100).repartition(2), root)
    // caps added on the live checkpoint: the engine hands the source
    // its committed offset, so pacing starts exactly there
    val n = drain("graft-delta", root, out, ckpt,
      Map("maxFilesPerTrigger" -> "2"))
    assert(n == customer.count())
    assert(spark.read.parquet(out).select(sum(col("c_custkey")))
      .head().getLong(0) ==
      customer.select(sum(col("c_custkey"))).head().getLong(0))
  }

  test("startingTimestamp: both sources serve only commits at/after the time") {
    // Delta: v0, pause, v1 — a timestamp between the two serves only v1
    val root = Files.createTempDirectory("graft-dstream-ts-").toString
    val a = customer.filter(col("c_custkey") < 80)
    val b = customer.filter(col("c_custkey") >= 80)
    DeltaTable.create(a, root)
    Thread.sleep(1500)
    val mid = System.currentTimeMillis()
    Thread.sleep(1500)
    DeltaTable.append(b, root)
    val out = Files.createTempDirectory("graft-dstream-ts-out-").toString
    val ckpt = Files.createTempDirectory("graft-dstream-ts-ck-").toString
    assert(drain("graft-delta", root, out, ckpt,
      Map("startingTimestamp" -> mid.toString)) == b.count())
    // a future timestamp serves nothing yet, then picks up new commits
    val out2 = Files.createTempDirectory("graft-dstream-ts2-out-").toString
    val ckpt2 = Files.createTempDirectory("graft-dstream-ts2-ck-").toString
    val future = (System.currentTimeMillis() + 3600 * 1000L).toString
    assert(drain("graft-delta", root, out2, ckpt2,
      Map("startingTimestamp" -> future)) == 0L)
    // both options together refuse
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain("graft-delta", root,
        Files.createTempDirectory("graft-dstream-ts3-out-").toString,
        Files.createTempDirectory("graft-dstream-ts3-ck-").toString,
        Map("startingTimestamp" -> mid.toString, "startingVersion" -> "0"))
    }

    // Iceberg: same shape over snapshot timestamps
    val iroot = Files.createTempDirectory("graft-istream-ts-").toString
    IcebergTable.create(a, iroot)
    Thread.sleep(1500)
    val imid = System.currentTimeMillis()
    Thread.sleep(1500)
    IcebergTable.append(b, iroot)
    val iout = Files.createTempDirectory("graft-istream-ts-out-").toString
    val ickpt = Files.createTempDirectory("graft-istream-ts-ck-").toString
    assert(drain("graft-iceberg", iroot, iout, ickpt,
      Map("startingTimestamp" -> imid.toString)) == b.count())
  }
}
