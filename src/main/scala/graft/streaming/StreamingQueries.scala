package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.Tables

/**
 * Driver-gate entry for the streaming path: runs the REAL Structured
 * Streaming pipeline (file source → watermarked windowed aggregation →
 * sink) over the events table with an `AvailableNow` trigger, then
 * returns the sink contents as a batch DataFrame for the DuckDB oracle
 * compare. Complete output mode emits every window, and all files fit the
 * first micro-batch (watermark starts at 0 → nothing dropped), so the
 * result must equal the batch aggregate bit-for-bit — proving the
 * streaming operator's semantics against an engine that has no streaming
 * at all.
 *
 * The memory sink is harness-only (test scale); the operator under test
 * ([[StreamingOps.windowedEventCounts]]) is sink-agnostic and its state
 * is partitioned by (window, event_type) — executor-sharded at scale.
 */
object StreamingQueries {

  /** Streaming state costs scale with the shuffle partition count (a
    * state store per partition, checkpointed per micro-batch); the gate
    * corpus is small, so every harness query runs its fresh checkpoint at
    * a low count. State partitioning is fixed at first run per checkpoint
    * — this is a per-checkpoint sizing decision; production sizes it to
    * the rate. */
  private val GatePartitions = "spark.sql.shuffle.partitions" -> "4"

  /** AvailableNow runs one extra NO-DATA micro-batch after the data drains
    * whenever the watermark moved. Its only effects are state eviction and
    * emission of rows the watermark newly released — so queries that emit
    * on watermark advance (sessions' event-time timeouts) REQUIRE it,
    * while stream-stream INNER joins and `dropDuplicates*` emit their rows
    * in the data batch itself and the no-data batch writes nothing. For
    * those, skip it: a full planning + state-commit + WAL cycle per
    * invocation for a batch that cannot change the result (the query
    * terminates right after, discarding the state the batch would have
    * evicted). Result equality stays pinned by the oracle gate at every
    * SF. */
  private val NoNoDataBatch =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** Checkpoint scratch for the gate queries: each invocation runs a
    * FRESH checkpoint (results must be computed from the inputs every
    * time — nothing may carry over), so the checkpoint is write-once
    * scratch by construction, never recovered from. Place it on the
    * fastest local volume (tmpfs when present) instead of java.io.tmpdir:
    * offsets/commits WAL files and state-store delta snapshots are many
    * small synchronous writes per batch. Production deployments pass a
    * DURABLE `checkpointLocation` — this default only governs the
    * memory-sink gate harness; override via `GRAFT_STREAM_SCRATCH`. */
  private[graft] def scratchCheckpointDir(): java.nio.file.Path = {
    val base = sys.env.get("GRAFT_STREAM_SCRATCH").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm"
      else sys.props("java.io.tmpdir")
    }
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), "graft-ckpt-")
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    } catch { case scala.util.control.NonFatal(_) => () }

  private val pinLock = new Object

  /** Run `mk`'s streaming query to completion on a scratch checkpoint,
    * deleting the checkpoint afterwards. `pins` hold on the session only
    * across `start()`: the query's `StreamExecution` clones the session
    * when it is constructed and plans every micro-batch against that
    * clone, so the caller's session has its own values back before the
    * first batch runs. Pin, start and restore run under one lock, so
    * harness queries started from several threads never see or restore
    * each other's pins. */
  private[graft] def drain(spark: SparkSession, pins: Map[String, String])(
      mk: String => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ckpt = scratchCheckpointDir()
    try {
      val query = pinLock.synchronized {
        val prev = pins.keys.map(k => k -> spark.conf.getOption(k))
        pins.foreach { case (k, v) => spark.conf.set(k, v) }
        try mk(ckpt.toString)
        finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      query.awaitTermination()
    } finally deleteRecursively(ckpt)
  }

  /**
   * events.parquet physical schema, probed per run: the `ts` column has
   * shipped as TIMESTAMP(NANOS)-as-long in some fixture generations and
   * TIMESTAMP_MICROS (NTZ) in others. `readStream` needs an explicit
   * schema, so a footer-only batch schema read picks the
   * [[graft.EventTs.Variant]] and the matching raw schema before the
   * stream starts. At production scale this probe is one footer read —
   * negligible against the stream itself.
   */
  private def eventsRaw(spark: SparkSession, sfDir: String)
      : (StructType, graft.EventTs.Variant) = {
    val variant = graft.EventTs.probe(spark, sfDir)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", variant.tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    (schema, variant)
  }

  def qStreamWindowCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // glob, not the bare path: events.parquet is a single FILE and the
    // file stream source requires its basePath to be a directory — the
    // glob makes basePath resolve to sfDir
    val (rawSchema, variant) = eventsRaw(spark, sfDir)
    val raw = spark.readStream.schema(rawSchema)
      .parquet(Tables.path(sfDir, "events") + "*")
    val events = variant.micros(raw)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamEvent]

    val name = "stream_win_" + UUID.randomUUID().toString.replace("-", "")
    // complete mode rewrites the whole output every batch — a no-data
    // batch recomputes the identical table, so skipping it is a pure cut
    drain(spark, Map(GatePartitions, NoNoDataBatch)) { ckpt =>
      StreamingOps.windowedEventCounts(events)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
    }

    // materialize off the memory sink, then drop it — repeated runs in
    // one session would otherwise each leak a full result table
    val result = spark.table(name)
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
    val rows = result.collect()
    val schema = result.schema
    spark.catalog.dropTempView(name)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  /**
   * Sessionization through the REAL streaming pipeline with event-time
   * timeouts, verified against a batch islands-SQL oracle.
   *
   * Append-mode sessions only emit when the WATERMARK passes their
   * timeout, and a stream that simply runs out of files never advances
   * the watermark past the tail sessions — so the events source is
   * unioned with a single SENTINEL event (user_id -1) whose timestamp
   * lies beyond every real session's (last + gap + watermark delay).
   * After the data micro-batch, the no-data flush batch (AvailableNow
   * runs one when the watermark moved) fires every real user's
   * event-time timeout and all sessions emit; the sentinel's own
   * still-open session is filtered out.
   *
   * Timestamps are floored to SECONDS before sessionizing so the gap
   * comparison is integral on both engines, and the per-session value
   * sum is not emitted (double accumulation order over equal-timestamp
   * ties is not deterministic — the bounds and counts are).
   */
  def qStreamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val glob = Tables.path(sfDir, "events") + "*"
    val gapMs = 1800L * 1000L
    val (rawSchema, variant) = eventsRaw(spark, sfDir)

    val (maxUsOpt, sentinelDir) = sentinelProbe(spark, sfDir, rawSchema, variant)
    if (maxUsOpt.isEmpty) {
      // empty source: no sessions, and no stream to run
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("session_start",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("session_end",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_events",
            org.apache.spark.sql.types.LongType))))
    }
    def fileStream(path: String) =
      spark.readStream.schema(rawSchema).parquet(path)
    // second-floored event time: integral gap arithmetic on both engines
    val events = variant.seconds(fileStream(glob).union(fileStream(sentinelDir)))
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamEvent]

    val name = "stream_sess_" + UUID.randomUUID().toString.replace("-", "")
    // sessions NEED the no-data batch: the event-time timeouts fire there
    drain(spark, Map(GatePartitions)) { ckpt =>
      StreamingOps.sessionize(events, gapMs = gapMs)
        .toDF()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }

    val result = spark.table(name)
      .filter(col("user_id") >= 0L) // drop the sentinel's open session
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
    val rows = result.collect()
    val schema = result.schema
    spark.catalog.dropTempView(name)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  /** The max event time and the sentinel's one-row parquet dir for
    * [[qStreamSessions]]. The sentinel's timestamp depends only on the
    * max ts of the files the events glob matches (+ fixed slack), and the
    * dir is immutable once written — re-deriving both per invocation cost
    * an aggregate job plus a write job per pass — so both are cached per
    * session on the signature of those files: a rewritten part file or a
    * new file the glob matches re-derives. Dirs are per-JVM temp scratch,
    * deleted at exit. */
  private def sentinelProbe(
      spark: SparkSession, sfDir: String,
      rawSchema: StructType, variant: graft.EventTs.Variant)
      : (Option[Long], String) = {
    val glob = Tables.path(sfDir, "events") + "*"
    graft.index.rules.PlanArtifacts.overFiles(spark, "sentinel", glob) {
      val maxRow = variant.micros(spark.read.schema(rawSchema).parquet(glob))
        .agg(max(unix_micros(col("ts")))).head()
      if (maxRow.isNullAt(0)) (None, "")
      else {
        // sentinel ts: gap (30 min) + watermark delay (10 min) + slack
        val sentinelUs = maxRow.getLong(0) + 2L * 3600L * 1000000L
        val dir = java.nio.file.Files
          .createTempDirectory("graft-sess-sentinel-")
        Runtime.getRuntime.addShutdownHook(
          new Thread(() => deleteRecursively(dir)))
        spark.createDataFrame(
            spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
              -1L, variant.rowValue(sentinelUs), -1L, "sentinel", 0.0, "{}")), 1),
            rawSchema)
          .write.mode("overwrite").parquet(dir.toString)
        (Some(maxRow.getLong(0)), dir.toString)
      }
    }
  }

  /** DuckDB twin: gaps-and-islands over second-floored event times. */
  val qStreamSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |marked AS (
      |  SELECT user_id, sec,
      |    CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec) IS NULL
      |      OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM e),
      |sess AS (
      |  SELECT user_id, sec, SUM(new_session)
      |    OVER (PARTITION BY user_id ORDER BY sec ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked)
      |SELECT user_id,
      |  strftime(make_timestamp(MIN(sec) * 1000000), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(make_timestamp(MAX(sec) * 1000000), '%Y-%m-%d %H:%M:%S') AS session_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** DuckDB twin: hour-tumbling windows align with date_trunc('hour'). */
  val qStreamWindowCountsSql: String =
    """SELECT
      | strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      | strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
      | event_type,
      | CAST(COUNT(*) AS BIGINT) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 3""".stripMargin

  /** documents.parquet physical schema. */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /**
   * Streaming-ingest exact dedup: a file stream of documents drops
   * content duplicates (`dropDuplicates` on the text digest) as they
   * arrive — the shape a crawl-feed ingester runs so downstream batch
   * jobs only ever see unique docs. Only TEXT-DERIVED columns are
   * emitted (digest, char length): which physical row of a duplicate set
   * is kept is arrival-order-dependent, but the kept set's text is not —
   * that determinism boundary is exactly what the oracle pins.
   *
   * State is the digest set; a production feed bounds it with
   * `dropDuplicatesWithinWatermark` (crawl re-fetches cluster in time).
   * The gate corpus fits one AvailableNow batch, where the unbounded
   * variant is exact.
   */
  def qStreamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = spark.readStream.schema(docSchema)
      .parquet(Tables.path(sfDir, "documents") + "*")
    val deduped = raw
      .select(md5(col("text")).as("digest"),
        length(col("text")).cast(LongType).as("char_len"))
      .dropDuplicates("digest")

    val name = "stream_dedup_" + UUID.randomUUID().toString.replace("-", "")
    drain(spark, Map(GatePartitions)) { ckpt =>
      deduped
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }

    val result = spark.table(name).orderBy(col("digest"))
    val rows = result.collect()
    val schema = result.schema
    spark.catalog.dropTempView(name)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  val qStreamDedupSql: String =
    """SELECT DISTINCT md5(text) AS digest,
      |  CAST(length(text) AS BIGINT) AS char_len
      |FROM documents
      |ORDER BY digest""".stripMargin

  /**
   * WATERMARK-BOUNDED streaming dedup (`dropDuplicatesWithinWatermark`):
   * the first event per (user_id, event_type) key is emitted and later
   * duplicates within the watermark horizon are dropped — the
   * production-shape dedup whose state is EVICTED as event time
   * advances, unlike [[qStreamDedup]]'s grow-forever digest set. Only
   * KEY columns are emitted (which physical row arrives first is
   * arrival-order-dependent; the kept key set is not). The gate corpus
   * fits one AvailableNow batch, where the bounded variant equals the
   * exact distinct — which is what the oracle pins.
   */
  def qStreamDedupWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    val (rawSchema, variant) = eventsRaw(spark, sfDir)
    val raw = spark.readStream.schema(rawSchema)
      .parquet(Tables.path(sfDir, "events") + "*")
    val deduped = variant.micros(raw)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

    val name = "stream_dedup_wm_" + UUID.randomUUID().toString.replace("-", "")
    // dropDuplicatesWithinWatermark emits the first-seen row in the data
    // batch itself; the no-data batch only evicts state the terminating
    // query discards anyway — skip it
    drain(spark, Map(GatePartitions, NoNoDataBatch)) { ckpt =>
      deduped
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }

    val result = spark.table(name).orderBy(col("user_id"), col("event_type"))
    val rows = result.collect()
    val schema = result.schema
    spark.catalog.dropTempView(name)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  val qStreamDedupWatermarkSql: String =
    """SELECT DISTINCT user_id, event_type
      |FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /**
   * Stream-static enrichment: the event stream joins the STATIC customer
   * dimension mid-flight (Spark plans this as a broadcast join per
   * micro-batch — no stream-side state for the join) and aggregates
   * revenue per market segment and event type. This is the canonical
   * "enrich the firehose with a dimension table" shape; the value sum
   * rides the decimal-accumulation contract so the complete-mode result
   * is bit-equal to the batch oracle.
   */
  def qStreamEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val (rawSchema, _) = eventsRaw(spark, sfDir)
    val raw = spark.readStream.schema(rawSchema)
      .parquet(Tables.path(sfDir, "events") + "*")
      .select(col("user_id"), col("event_type"), col("value"))
    val cust = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = raw
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).cast(LongType).as("n_events"),
        sum(col("value").cast(DecimalType(28, 6))).cast(DoubleType)
          .as("sum_value"))

    val name = "stream_enrich_" + UUID.randomUUID().toString.replace("-", "")
    drain(spark, Map(GatePartitions)) { ckpt =>
      agg.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
    }

    val result = spark.table(name)
      .orderBy(col("c_mktsegment"), col("event_type"))
    val rows = result.collect()
    val schema = result.schema
    spark.catalog.dropTempView(name)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  val qStreamEnrichSql: String =
    """SELECT c_mktsegment, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment, event_type
      |ORDER BY c_mktsegment, event_type""".stripMargin

  /**
   * Stream-stream watermarked join through the REAL streaming pipeline:
   * view events attribute to the same user's click events within 24
   * hours ([[StreamingOps.attributionJoin]]). Both sides stream from the
   * events file; timestamps are floored to seconds so the range
   * comparison is integral on both engines. The corpus fits one
   * micro-batch per side, where the inner join emits exactly the batch
   * join's pairs — which is what the DuckDB twin computes.
   */
  def qStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (rawSchema, variant) = eventsRaw(spark, sfDir)
    def side(eventType: String) = variant.seconds(
        spark.readStream.schema(rawSchema)
          .parquet(Tables.path(sfDir, "events") + "*"))
      .filter(col("event_type") === eventType)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamEvent]

    val joined = StreamingOps.attributionJoin(
      side("view"), side("click"), maxLag = "24 hours")

    val name = "stream_join_" + UUID.randomUUID().toString.replace("-", "")
    // stream-stream join state costs scale with the partition count (two
    // state stores per partition, four puts/gets per row); a production
    // deployment sizes it to rate × (maxLag + delay). An INNER join's
    // matches emit inside the data batch (the watermark only governs state
    // eviction/late drops), so the no-data batch would emit nothing
    drain(spark, Map(GatePartitions, NoNoDataBatch)) { ckpt =>
      joined.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }

    val result = spark.table(name)
      .select(col("user_id"),
        date_format(col("lead_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        date_format(col("follow_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
      .orderBy(col("user_id"), col("view_ts"), col("click_ts"))
    val rows = result.collect()
    val schema = result.schema
    spark.catalog.dropTempView(name)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  /** DuckDB twin: the same time-range self-join over second-floored ts. */
  val qStreamJoinSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events)
      |SELECT a.user_id,
      |  strftime(make_timestamp(a.sec * 1000000), '%Y-%m-%d %H:%M:%S') AS view_ts,
      |  strftime(make_timestamp(b.sec * 1000000), '%Y-%m-%d %H:%M:%S') AS click_ts
      |FROM e a JOIN e b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'view' AND b.event_type = 'click'
      | AND b.sec > a.sec AND b.sec <= a.sec + 86400
      |ORDER BY a.user_id, view_ts, click_ts""".stripMargin

  val entries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "stream_window_counts" -> (qStreamWindowCounts _, qStreamWindowCountsSql),
    "stream_sessions" -> (qStreamSessions _, qStreamSessionsSql),
    "stream_dedup" -> (qStreamDedup _, qStreamDedupSql),
    "stream_dedup_watermark" -> (qStreamDedupWatermark _, qStreamDedupWatermarkSql),
    "stream_enrich" -> (qStreamEnrich _, qStreamEnrichSql),
    "stream_join" -> (qStreamJoin _, qStreamJoinSql))
}
