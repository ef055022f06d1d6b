package graft.index

import org.apache.spark.sql.SparkSession

/** Engine configuration (reference: util/HyperspaceConf.scala). */
object GraftConf {
  val SystemPathKey = "spark.graft.index.systemPath"
  val NumBucketsKey = "spark.graft.index.numBuckets"
  val LineageKey = "spark.graft.index.lineage.enabled"
  val ApplyEnabledKey = "spark.graft.index.apply.enabled"
  val CacheTtlKey = "spark.graft.index.cache.ttlMs"

  def systemPath(spark: SparkSession): String =
    spark.conf.getOption(SystemPathKey).getOrElse(
      sys.props("java.io.tmpdir").stripSuffix("/") + "/graft/indexes")

  def numBuckets(spark: SparkSession): Int =
    spark.conf.getOption(NumBucketsKey).map(_.toInt).getOrElse(
      spark.sessionState.conf.numShufflePartitions)

  def lineageEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption(LineageKey).exists(_.toBoolean)

  def applyEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption(ApplyEnabledKey).forall(_.toBoolean)

  /** How long [[graft.index.rules.IndexCatalog]] serves its listing of
    * active index log entries before re-reading the logs, so entries
    * written by other processes become visible; in-JVM mutations
    * invalidate eagerly. No other cache reads it: derived state in
    * [[graft.index.rules.PlanArtifacts]] is keyed on log ids and file
    * signatures instead of a clock. */
  def cacheTtlMs(spark: SparkSession): Long =
    spark.conf.getOption(CacheTtlKey).map(_.toLong).getOrElse(10000L)

  /** Staleness guard of the directly-served kinds (IVF annSearch,
    * MinHash nearDuplicates/dedupBatch/curateBatch): `strict` (default)
    * lists the source on every call, `off` skips the listing entirely
    * (for hot search paths where the caller owns refresh discipline). */
  val IvfStaleCheckKey = "spark.graft.index.ivf.staleCheck"

  def ivfStaleCheckOff(spark: SparkSession): Boolean =
    spark.conf.getOption(IvfStaleCheckKey).map(_.toLowerCase) match {
      case None | Some("strict") => false
      case Some("off") => true
      case Some(other) => throw new IllegalArgumentException(
        s"$IvfStaleCheckKey must be strict or off, got '$other'")
    }

  /** IVFADC shortlist size = topK x this multiplier: the ADC pass keeps
    * that many candidates per query for the exact rerank. Larger = more
    * recall headroom against quantization error, more raw-vector rows
    * fetched; 3 is the conventional serving default. */
  val IvfPqRerankKey = "spark.graft.index.ivf.pq.rerankMultiplier"

  def ivfPqRerankMultiplier(spark: SparkSession): Int =
    spark.conf.getOption(IvfPqRerankKey).map(_.toInt).getOrElse(3)

  val ServeHybridDriftKey = "spark.graft.index.serve.hybridDrift"

  /** Directly-served kinds (IVF annSearch, MinHash nearDuplicates): when
    * the source has drifted, fold appended files in at query time and
    * anti-filter deleted file ids instead of refusing to serve — the
    * hybrid-scan philosophy applied to API-served indexes. Bounded by the
    * same maxAppendedRatio/maxDeletedRatio as covering hybrid scan;
    * beyond the bounds the stale error returns. */
  def serveHybridDrift(spark: SparkSession): Boolean =
    spark.conf.getOption(ServeHybridDriftKey).forall(_.toBoolean)

  val HybridScanKey = "spark.graft.index.hybridscan.enabled"
  val HybridMaxAppendedKey = "spark.graft.index.hybridscan.maxAppendedRatio"
  val HybridMaxDeletedKey = "spark.graft.index.hybridscan.maxDeletedRatio"

  /** Hybrid scan: use a stale index by unioning appended source files and
    * filtering deleted rows via lineage (reference default off; on here —
    * the rewrite is correctness-preserving and spec-covered). */
  def hybridScanEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption(HybridScanKey).forall(_.toBoolean)

  def hybridMaxAppendedRatio(spark: SparkSession): Double =
    spark.conf.getOption(HybridMaxAppendedKey).map(_.toDouble).getOrElse(0.3)

  def hybridMaxDeletedRatio(spark: SparkSession): Double =
    spark.conf.getOption(HybridMaxDeletedKey).map(_.toDouble).getOrElse(0.2)

  val OptimizeFileSizeThresholdKey = "spark.graft.index.optimize.fileSizeThreshold"

  /** Quick optimize compacts only index files below this size (reference:
    * index/IndexConstants.scala:116-117 — 256 MB). Keeps maintenance
    * O(small files), not O(index). */
  def optimizeFileSizeThreshold(spark: SparkSession): Long =
    spark.conf.getOption(OptimizeFileSizeThresholdKey).map(_.toLong)
      .getOrElse(256L * 1024 * 1024)
}
