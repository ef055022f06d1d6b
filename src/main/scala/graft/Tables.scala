package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.rules.PlanArtifacts

/**
 * Access to the TPC-H-ish test tables (see TESTDATA.md). Every table is a
 * single parquet dataset under `<sfDir>/<name>.parquet`.
 *
 * Scale notes: readers here are plain `spark.read.parquet` scans so Catalyst
 * performs predicate pushdown / column pruning / partition pruning natively;
 * at cluster scale the same call distributes file listing + scan across
 * executors. Nothing in this layer collects to the driver.
 */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = {
    val dir = if (sfDir.endsWith("/")) sfDir.dropRight(1) else sfDir
    s"$dir/$name.parquet"
  }

  /** The resolved relation, cached per session in [[PlanArtifacts]]:
    * `spark.read.parquet` pays a footer schema read + file listing +
    * relation resolution on EVERY call (~40-60 ms here) — per-query
    * per-pass, that was ~40% of a whole bench pass (amortize listing and
    * metadata, exactly what a catalog table does on a real cluster). The
    * cached DataFrame is an immutable logical plan; executing it re-reads
    * the parquet every time, so no data/results are cached. Keyed on the
    * signature of the dataset's leaf files: a rewritten part file or a
    * rewritten fixture re-resolves. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    PlanArtifacts.overFiles(spark, "table", path(sfDir, name))(
      loadFresh(spark, sfDir, name))

  private def loadFresh(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(path(sfDir, name))
    // events.ts has shipped as parquet TIMESTAMP(NANOS) in some fixture
    // generations and TIMESTAMP_MICROS (NTZ) in others; normalize whatever
    // the file actually holds to the session-standard TimestampType.
    if (name == "events") EventTs.of(df.schema("ts").dataType).micros(df)
    else df
  }

  /** Register all tables as temp views named after themselves. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => load(spark, sfDir, n).createOrReplaceTempView(n) }
}

/**
 * Schema-adaptive handling of the `events.ts` column. Fixture generators
 * (and real users' writers) vary in the physical parquet timestamp they
 * produce; the engine accepts every encoding Spark can read and
 * normalizes to the session-standard `TimestampType` (session TZ is UTC,
 * so TIMESTAMP_NTZ values map to the identical instant):
 *
 *  - parquet TIMESTAMP(NANOS) → Spark reads `LongType` nanosecond epochs
 *    under `spark.sql.legacy.parquet.nanosAsLong=true`
 *  - parquet TIMESTAMP_MICROS with isAdjustedToUTC=false → `TimestampNTZType`
 *  - parquet TIMESTAMP_MICROS/MILLIS adjusted to UTC → `TimestampType`
 *
 * All arithmetic is integral (`div`, `unix_micros`): floor(ts/1000) via
 * doubles is inexact at nanosecond-epoch magnitude (~1.77e18 > 2^53).
 */
object EventTs {

  sealed trait Variant {
    /** Physical Spark type of the raw `ts` column for this variant. */
    def tsType: DataType
    /** Normalize raw `ts` → `TimestampType` at microsecond precision. */
    def micros(df: DataFrame): DataFrame
    /** Normalize raw `ts` → `TimestampType` floored to whole seconds
      * (integral gap/range arithmetic on both engines). */
    def seconds(df: DataFrame): DataFrame
    /** External (Row-encoder) value for a synthetic event at `us`
      * microseconds since epoch, typed to match `tsType`. */
    def rowValue(us: Long): Any
  }

  /** TIMESTAMP(NANOS) read as Long ns epochs (legacy nanosAsLong). */
  case object NanosLong extends Variant {
    val tsType: DataType = LongType
    def micros(df: DataFrame): DataFrame =
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    def seconds(df: DataFrame): DataFrame =
      df.withColumn("ts", timestamp_seconds(expr("ts div 1000000000")))
    def rowValue(us: Long): Any = java.lang.Long.valueOf(Math.multiplyExact(us, 1000L))
  }

  /** TIMESTAMP (with local TZ) — already the session-standard type. */
  case object Micros extends Variant {
    val tsType: DataType = TimestampType
    def micros(df: DataFrame): DataFrame = df
    def seconds(df: DataFrame): DataFrame =
      df.withColumn("ts", timestamp_seconds(expr("unix_micros(ts) div 1000000")))
    def rowValue(us: Long): Any =
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L)
  }

  /** TIMESTAMP_NTZ — identical instants under the UTC session TZ. */
  case object MicrosNtz extends Variant {
    val tsType: DataType = TimestampNTZType
    def micros(df: DataFrame): DataFrame =
      df.withColumn("ts", col("ts").cast(TimestampType))
    def seconds(df: DataFrame): DataFrame =
      df.withColumn("ts",
        timestamp_seconds(expr("unix_micros(cast(ts as timestamp)) div 1000000")))
    def rowValue(us: Long): Any =
      java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L),
        java.time.ZoneOffset.UTC)
  }

  def of(dt: DataType): Variant = dt match {
    case LongType          => NanosLong
    case TimestampType     => Micros
    case TimestampNTZType  => MicrosNtz
    case other => throw new IllegalStateException(
      s"events.ts has unsupported physical type $other; " +
        "expected TIMESTAMP(NANOS)-as-long, TIMESTAMP, or TIMESTAMP_NTZ")
  }

  /** Probe the on-disk variant via a footer-only batch schema read.
    * The variant depends only on the file bytes, so it is cached per
    * session on the signature of the dataset's leaf files — every
    * streaming query probed the footer again on each construction (a
    * full relation resolution, ~40-60 ms). */
  def probe(spark: SparkSession, sfDir: String): Variant = {
    val p = Tables.path(sfDir, "events")
    PlanArtifacts.overFiles(spark, "eventts", p)(
      of(spark.read.parquet(p).schema("ts").dataType))
  }
}
