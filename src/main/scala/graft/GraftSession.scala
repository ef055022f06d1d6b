package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory with the engine's standard configuration.
 *
 * Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
 * coalescing), shuffle partitions sized for the local harness (on a real
 * cluster this is `2-3 × totalCores` or left to AQE's
 * `spark.sql.adaptive.coalescePartitions`), UTC everywhere for oracle
 * parity, and nanos-as-long so TIMESTAMP(NANOS) parquet (the `events`
 * table) is readable.
 */
object GraftSession {

  def builder(master: String = null,
              shufflePartitions: Int = defaultShufflePartitions)
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // auto-disabling bucketed scans would desync BucketUnion's
      // zip-by-partition children; bucketing itself stays on
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // composite-key joins between same-bucketed relations (q93's
      // (orderkey, partkey) sales⋈returns over orderkey-bucketed
      // indexes) must accept SUBSET co-partitioning — the 3.3+ default
      // `true` re-shuffles BOTH 100 TB sides on the full key for a skew
      // guard the bounded per-key fan-out doesn't need
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // covering indexes are written bucketed AND sorted, one file per
      // bucket — claiming the scan's sort order drops the per-leg
      // SortExec under every bucketed sort-merge join (a full pass over
      // the fact at 100 TB). Spark gates the claim behind this flag
      // only because the ≤1-file-per-bucket check costs a listing; it
      // verifies that invariant itself, so refreshed/hybrid legs with
      // multiple files per bucket just decline the claim and keep their
      // Sort (SortedIndexScanSpec pins both directions)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.extensions", "graft.GraftSparkExtension")
      // Always use the sort-based shuffle writer (never the bypass-merge
      // writer). Thread dumps of hot stage-latency-bound queries showed
      // most task threads inside FileChannel.map/unmap: the bypass writer
      // gives every map task one file PER REDUCE PARTITION and then
      // concatenates them via NIO transferTo, which mmaps+munmaps each
      // tiny segment — map_tasks × reduce_partitions munmaps per stage,
      // serialized kernel-side with cross-core TLB shootdowns. The sort
      // writer emits ONE file per map task with no merge. At production
      // partition counts (>200) the bypass writer is never selected
      // anyway, so 0 also aligns local plan shapes with at-scale
      // behavior. Measured: full-suite composite −10%, qds family up to
      // 2× (OPTIMIZATION_r18.md §3). Static core conf — must be set
      // before the context exists.
      // (`spark.shuffle.file.transferTo=false` was A/B-measured 2× WORSE
      // — it swaps the mmap for a buffered copy but keeps all the files.)
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
    if (master != null) b.master(master) else b
  }

  def defaultShufflePartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Local session for mains/tests: local[cpus] with matching shuffle width. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
