package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{EventTs, TestSpark}

/**
 * The STREAMING queries' schema-adaptive branches, end to end on
 * hand-written fixtures: the fixture generator has shipped `events.ts`
 * as TIMESTAMP(NANOS)-as-long in some generations and TIMESTAMP_NTZ µs
 * in others, and whichever one the current `/root/testdata` carries, the
 * OTHER branch retains coverage only through these synthetic dirs. Both
 * variants hold the SAME instants, so every query must return identical
 * rows — window counts, sessions (incl. the sentinel write path, which
 * constructs a raw-typed row per variant), and the enrich row shape.
 * The same fixtures pin the harness plumbing: the sentinel is derived
 * again when the events glob matches a new file, and `drain` holds its
 * conf pins only across `start()`, so harness queries started from
 * several threads on one session do not see each other's pins.
 */
class EventTsVariantStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** (epoch-second, user, type, value) fixtures: two users, one session
    * gap larger than 30 min for user 1. */
  private val base = 1723500000L
  private val events = Seq(
    (base + 0L, 1L, "view", 1.0),
    (base + 60L, 1L, "click", 2.0),
    (base + 120L, 2L, "view", 3.0),
    (base + 60L * 60L, 1L, "view", 4.0), // > 30 min after user 1's last
    (base + 61L * 60L, 2L, "click", 5.0))

  /** Write the fixture as `<dir>/events.parquet` in the given variant. */
  private def writeFixture(variant: EventTs.Variant): String = {
    val dir = Files.createTempDirectory(
      s"graft-evts-${variant.getClass.getSimpleName.stripSuffix("$")}-").toString
    writeEvents(s"$dir/events.parquet", variant, events)
    dir
  }

  /** Write `rows` (raw-typed by `variant`) as the parquet dir `path`. */
  private def writeEvents(path: String, variant: EventTs.Variant,
      rows: Seq[(Long, Long, String, Double)]): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", variant.tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val data = rows.zipWithIndex.map { case ((sec, user, tpe, v), i) =>
      Row(i.toLong, variant.rowValue(sec * 1000000L), user, tpe, v, "{}")
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), schema)
      .write.parquet(path)
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("probe picks the matching variant per fixture dir") {
    Seq(EventTs.NanosLong, EventTs.Micros, EventTs.MicrosNtz).foreach { v =>
      val dir = writeFixture(v)
      assert(EventTs.probe(spark, dir) == v, s"probe mis-typed $v fixture")
    }
  }

  test("stream_window_counts: identical rows across all ts variants") {
    val results = Seq(EventTs.NanosLong, EventTs.Micros, EventTs.MicrosNtz)
      .map { v =>
        v -> collectSorted(
          StreamingQueries.qStreamWindowCounts(spark, writeFixture(v)))
      }
    assert(results.head._2.nonEmpty)
    results.tail.foreach { case (v, rows) =>
      assert(rows == results.head._2, s"$v disagrees with ${results.head._1}")
    }
  }

  test("stream_sessions: sentinel + gap logic identical across ts variants") {
    val results = Seq(EventTs.NanosLong, EventTs.Micros, EventTs.MicrosNtz)
      .map { v =>
        v -> collectSorted(
          StreamingQueries.qStreamSessions(spark, writeFixture(v)))
      }
    // both users' event pairs straddle a > 30 min gap → 4 sessions
    assert(results.head._2.size == 4, s"got ${results.head._2}")
    results.tail.foreach { case (v, rows) =>
      assert(rows == results.head._2, s"$v disagrees with ${results.head._1}")
    }
  }

  test("stream_sessions: a new file the events glob matches re-derives " +
      "the sentinel") {
    val dir = writeFixture(EventTs.Micros)
    assert(StreamingQueries.qStreamSessions(spark, dir).count() == 4)
    // user 3's one event, ten days after every other, in a sibling that
    // `events.parquet*` matches: only a sentinel past it closes its session
    writeEvents(s"$dir/events.parquet_late", EventTs.Micros,
      Seq((base + 10L * 86400L, 3L, "view", 6.0)))
    val rows = collectSorted(StreamingQueries.qStreamSessions(spark, dir))
    assert(rows.size == 5 && rows.exists(_.startsWith("[3,")),
      s"the late file's session is missing: $rows")
  }

  test("drain pins confs only across start(): while the stream runs the " +
      "caller's session has its own values and the query's clone the pins") {
    val parts = "spark.sql.shuffle.partitions"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val (partsBefore, noDataBefore) =
      (spark.conf.get(parts), spark.conf.getOption(noData))
    val started = new java.util.concurrent.CompletableFuture[
      org.apache.spark.sql.streaming.StreamingQuery]()
    val name = "pin_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val runner = new Thread(() =>
      StreamingQueries.drain(spark, Map(parts -> "3", noData -> "false")) {
        ckpt =>
          val q = spark.readStream.format("rate")
            .option("rowsPerSecond", "1").load()
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(
              "200 milliseconds"))
            .start()
          started.complete(q)
          q
      })
    runner.start()
    val q = started.get(60, java.util.concurrent.TimeUnit.SECONDS)
    try {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (spark.conf.get(parts) != partsBefore &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(q.isActive, "the stream must still be running")
      assert(spark.conf.get(parts) == partsBefore)
      assert(spark.conf.getOption(noData) == noDataBefore)
      // the session every micro-batch plans against (protected in Scala)
      val exec = q.asInstanceOf[org.apache.spark.sql.execution.streaming
        .runtime.StreamingQueryWrapper].streamingQuery
      val forStream = exec.getClass.getMethod("sparkSessionForStream")
        .invoke(exec).asInstanceOf[org.apache.spark.sql.SparkSession]
      assert(forStream.conf.get(parts) == "3")
      assert(forStream.conf.get(noData) == "false")
    } finally {
      q.stop()
      runner.join(60000)
      spark.catalog.dropTempView(name)
    }
  }

  test("stream_sessions and stream_join started from two threads on one " +
      "session each equal their single-run rows") {
    val dir = writeFixture(EventTs.Micros)
    val sessions = collectSorted(StreamingQueries.qStreamSessions(spark, dir))
    val joined = collectSorted(StreamingQueries.qStreamJoin(spark, dir))
    assert(sessions.size == 4 && joined.size == 2)
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1 to 3).foreach { _ =>
        val j = pool.submit(() =>
          collectSorted(StreamingQueries.qStreamJoin(spark, dir)))
        val s = pool.submit(() =>
          collectSorted(StreamingQueries.qStreamSessions(spark, dir)))
        assert(s.get == sessions)
        assert(j.get == joined)
      }
    } finally pool.shutdown()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
  }
}
