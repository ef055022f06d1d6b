package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.{IndexConfig, IndexManager, IndexState}

/**
 * Public API facade (reference: Hyperspace.scala:27-193). Usage:
 *
 * {{{
 *   val g = new Graft(spark)
 *   g.createIndex(df, CoveringIndexConfig("idx", Seq("k"), Seq("v")))
 *   g.indexes.show()
 *   // queries over df's source are now accelerated transparently when
 *   // graft.GraftSparkExtension is installed
 * }}}
 */
class Graft(spark: SparkSession) {
  private val manager = new IndexManager(spark)

  /** Catalog view of all indexes. */
  def indexes: DataFrame = manager.indexes

  def createIndex(df: DataFrame, config: IndexConfig): Unit =
    manager.create(df, config)

  /** Soft delete — optimizer stops using the index; data retained. */
  def deleteIndex(name: String): Unit = manager.delete(name)

  /** Undo a soft delete. */
  def restoreIndex(name: String): Unit = manager.restore(name)

  /** Hard delete of a soft-deleted index, or outdated-version cleanup of
    * an active one. */
  def vacuumIndex(name: String): Unit = manager.vacuum(name)

  /** Rebuild index data against current source files.
    * Modes (reference: index/IndexConstants.scala:108-110):
    *  - "full": complete rebuild from the source;
    *  - "incremental": fold appended files in and deleted files out, by
    *    the kind's rule — covering and data-skipping merge, or rewrite
    *    under deletes; IVF and MinHash merge and tombstone; z-order
    *    rebuilds from the source;
    *  - "quick": metadata-only — record the appended/deleted file delta
    *    in the log so query-time hybrid scan keeps applying it and the
    *    staleness thresholds re-baseline from this point.
    * An incremental or quick refresh that finds no delta and no recorded
    * update writes no log entry. */
  def refreshIndex(name: String, mode: String = "full"): Unit = mode match {
    case "full" => manager.refreshFull(name)
    case "incremental" => manager.refreshIncremental(name)
    case "quick" => manager.refreshQuick(name)
    case m => throw new IllegalArgumentException(s"Unknown refresh mode '$m'")
  }

  /** Compact index data files (reference: Hyperspace.scala:110-133).
    * "quick" (default) compacts only files below
    * spark.graft.index.optimize.fileSizeThreshold, and only in groups
    * holding at least two of them (covering: per bucket; IVF: per cell;
    * data-skipping, z-order, MinHash: the whole index); an IVF or MinHash
    * index with tombstones rewrites every small file to purge them.
    * "full" rewrites all. When nothing qualifies no log entry is written
    * and the event says there was nothing to compact. */
  def optimizeIndex(name: String, mode: String = "quick"): Unit =
    manager.optimize(name, mode)

  /** Roll an in-flight action back to the last stable state
    * (reference: Hyperspace.scala:149). */
  def cancel(name: String): Unit = manager.cancel(name)

  /** Side-by-side optimized plans with and without index acceleration
    * (reference: Hyperspace.scala:160 + plananalysis/PlanAnalyzer.scala). */
  def explain(df: DataFrame, verbose: Boolean = false): String =
    graft.index.analysis.PlanAnalysis.explain(spark, df, verbose)

  /** Why each ACTIVE index was / was not applied to this query
    * (reference: Hyperspace.scala:183 whyNot + FilterReason codes). */
  def whyNot(df: DataFrame, indexName: String = null): String =
    graft.index.analysis.PlanAnalysis.whyNot(spark, df, Option(indexName))

  /** Workload-driven covering-index proposals (beyond-reference):
    * replay `queries` without rewrites, collect every demand site a
    * bucketed layout could serve, and rank governance-checked
    * [[graft.index.covering.CoveringIndexConfig]] proposals — a
    * proposal that would open a cross-key coverage edge or an
    * equal-width tie against the ACTIVE corpus (or an earlier-accepted
    * proposal) is returned rejected, naming the exact hazard. See
    * [[graft.index.rules.IndexAdvisor]]. */
  def recommend(queries: Seq[DataFrame], maxPerTable: Int = 3)
      : Seq[graft.index.rules.IndexAdvisor.Recommendation] =
    graft.index.rules.IndexAdvisor.recommend(spark, queries, maxPerTable)

  /** Index statistics view for one index. */
  def index(name: String): DataFrame =
    indexes.filter(org.apache.spark.sql.functions.col("name") === name)

  /** Approximate nearest-neighbor search against an IVF index (see
    * [[graft.index.ivf.IvfIndexConfig]]): probes the nProbe nearest
    * codebook cells per query and scores only those partitions. On a
    * drifted source the appended files are scored brute-force against
    * every query and unioned in (see `resolveDrift`); the union is
    * partitioned on qid once, so the per-(qid, id) dedup and the top-k
    * window share one shuffle — a drifted search shuffles no more than
    * a clean one.
    * `queries` needs columns `qid` (long) and `qv` (float/double array).
    * Returns topK rows per query: (qid, <idColumn>, cosine, rank). */
  def annSearch(indexName: String, queries: DataFrame,
      topK: Int = 10, nProbe: Int = 4): DataFrame =
    annSearchImpl(indexName, queries, topK, nProbe, usePq = true)

  private def annSearchImpl(indexName: String, queries: DataFrame,
      topK: Int, nProbe: Int, usePq: Boolean): DataFrame = {
    // per-query entry lookup through the TTL'd catalog cache (the same
    // source of truth the rewrite rules serve from; in-JVM mutations
    // invalidate it) — getIndexes re-lists the system path + re-reads
    // every index log on each call, a per-query planning tax
    val entry = graft.index.rules.IndexCatalog.activeIndexes(spark)
      .find(e => e.name == indexName &&
        e.descriptor.isInstanceOf[graft.index.ivf.IvfIndexDescriptor])
      .getOrElse(throw new NoSuchElementException(
        s"IVF index '$indexName' not found, not ACTIVE, or not an IVF index"))
    val (appendedDf, droppedFids) = resolveDrift(entry)
    graft.index.ivf.IvfSearch.search(spark, entry, queries, topK, nProbe,
      appendedDf, droppedFids, usePq)
  }

  /** Recall@k diagnostic for an IVF index: the probed search against the
    * EXACT top-k (probing every cell scores the whole corpus — cell
    * partitions are a complete cover, so all-cells IVF ≡ brute force
    * over the same served rows, drift included). Returns one row per
    * query, `(qid, n_exact, n_hit, recall)`, ordered by qid. This is the
    * standard tuning loop: sweep nProbe until recall clears the target,
    * then ship that nProbe — cost grows with cells probed, recall with
    * coverage. */
  def annRecall(indexName: String, queries: DataFrame,
      topK: Int = 10, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions._
    val approx = annSearch(indexName, queries, topK, nProbe)
    // the exact leg bypasses PQ as well as probing: all cells scored on
    // RAW vectors, so for an IVFADC index the recall measures the full
    // serving approximation (cell pruning + quantization + shortlist cut)
    val exact = annSearchImpl(indexName, queries, topK,
      nProbe = Int.MaxValue, usePq = false)
    val idCol = approx.columns(1) // (qid, <idColumn>, cosine, rank)
    val hits = approx.select(col("qid"), col(idCol))
      .join(exact.select(col("qid"), col(idCol)), Seq("qid", idCol))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"))
      .orderBy(col("qid"))
  }

  /** Staleness resolution for the directly-served index kinds (IVF,
    * MinHash): unlike covering reads — which honor drift via hybrid
    * scan — these serve results straight from index data, so silently
    * serving stale results would be a correctness trap. Check modes via
    * `spark.graft.index.ivf.staleCheck`: `cached` (default; only a CLEAN
    * listing verdict is cached per (index, log id) for cacheTtlMs — once
    * drift is seen every call re-lists, so appended files arriving inside
    * the TTL are picked up immediately and a compacted-away appended file
    * is never served from a pinned path), `strict` (relist every call),
    * `off` (serve as-is, no listing).
    *
    * When drift IS found and `spark.graft.index.serve.hybridDrift` is on
    * (default), the caller receives a HYBRID answer instead of an error:
    * the appended source slice (to fold in at query time) and the
    * deleted file ids (to anti-filter like tombstones) — bounded by the
    * covering hybrid-scan ratios, beyond which the stale error returns
    * (a drifted-past-recognition index needs a real refresh). */
  private def resolveDrift(entry: graft.index.IndexLogEntry)
      : (Option[DataFrame], Seq[Long]) = {
    val staleMode = graft.index.GraftConf.ivfStaleCheck(spark)
    if (staleMode == "off") return (None, Nil)
    val name = entry.name
    def serve(appendedPaths: Seq[String], droppedFids: Seq[Long])
        : (Option[DataFrame], Seq[Long]) =
      (if (appendedPaths.nonEmpty)
         Some(manager.readFiles(entry, appendedPaths))
       else None,
        droppedFids)
    def requireHybridOn(nApp: Int, nDel: Int): Unit =
      if (!graft.index.GraftConf.serveHybridDrift(spark))
        throw new IllegalArgumentException(
          s"Index '$name' is stale (hybrid drift serving disabled): source " +
            s"has $nApp appended and $nDel deleted files since the last " +
            "refresh; run refreshIndex(name, \"incremental\")")
    val cacheKey = (graft.index.GraftConf.systemPath(spark), name, entry.id)
    val ttlNs = graft.index.GraftConf.cacheTtlMs(spark) * 1000000L
    val now = System.nanoTime()
    // only CLEAN verdicts are cached: a drifted verdict pins concrete
    // appended paths, which go stale within the TTL (compaction removes
    // them → read failure; later appends stay invisible). Drift is the
    // transient state — paying a re-list per query until someone
    // refreshes is the safe trade.
    val cachedClean = staleMode == "cached" &&
      (Option(Graft.driftVerdicts.get(cacheKey)) match {
        case Some((t, paths, fids)) =>
          now - t < ttlNs && paths.isEmpty && fids.isEmpty
        case None => false
      })
    if (cachedClean) return (None, Nil)
    // a quick-refresh delta recorded in entry.update needs no special
    // handling: the live listing below re-derives it against the logged
    // source files, so it flows through the same hybrid/error paths
    val (appended, deleted) = manager.sourceDrift(entry)
    if (appended.isEmpty && deleted.isEmpty) {
      Graft.driftVerdicts.put(cacheKey, (now, Nil, Nil))
      return (None, Nil)
    }
    def stale(reason: String): Nothing = throw new IllegalArgumentException(
      s"Index '$name' is stale ($reason): source has ${appended.size} appended" +
        s" and ${deleted.size} deleted files since the last refresh;" +
        " run refreshIndex(name, \"incremental\")")
    requireHybridOn(appended.size, deleted.size)
    val totalBytes = math.max(entry.sourceFiles.map(_.size).sum, 1L)
    val appendedRatio = appended.map(_.size).sum.toDouble / totalBytes
    val deletedRatio = deleted.map(_.size).sum.toDouble / totalBytes
    if (appendedRatio > graft.index.GraftConf.hybridMaxAppendedRatio(spark) ||
        deletedRatio > graft.index.GraftConf.hybridMaxDeletedRatio(spark))
      stale(f"drift beyond hybrid bounds: appended $appendedRatio%.2f," +
        f" deleted $deletedRatio%.2f of source bytes")
    // drifted verdicts are deliberately NOT cached (see above)
    serve(appended.map(_.path), deleted.map(_.id))
  }

  private def minHashEntry(indexName: String): graft.index.IndexLogEntry =
    graft.index.rules.IndexCatalog.activeIndexes(spark)
      .find(e => e.name == indexName &&
        e.descriptor.isInstanceOf[graft.index.minhash.MinHashIndexDescriptor])
      .getOrElse(throw new NoSuchElementException(
        s"MinHash index '$indexName' not found, not ACTIVE, or not a MinHash index"))

  /** All near-duplicate pairs within a MinHash-indexed corpus (see
    * [[graft.index.minhash.MinHashIndexConfig]]): LSH band collisions
    * verified by the signature estimate. Returns
    * (id1, id2, est_jaccard >= minEstJaccard). */
  def nearDuplicates(indexName: String, minEstJaccard: Double = 0.5): DataFrame = {
    val entry = minHashEntry(indexName)
    val (appendedDf, droppedFids) = resolveDrift(entry)
    graft.index.minhash.MinHashSearch.pairs(spark, entry, minEstJaccard,
      appendedDf, droppedFids)
  }

  /** Incremental dedup of a NEW batch against a MinHash-indexed corpus —
    * the batch is signed on the fly; the corpus is never re-signed.
    * Returns (batch_id, corpus_id, est_jaccard >= minEstJaccard). */
  def dedupBatch(indexName: String, batch: DataFrame,
      idCol: String, textCol: String,
      minEstJaccard: Double = 0.5): DataFrame = {
    val entry = minHashEntry(indexName)
    val (appendedDf, droppedFids) = resolveDrift(entry)
    graft.index.minhash.MinHashSearch.dedupAgainst(
      spark, entry, batch, idCol, textCol, minEstJaccard,
      appendedDf, droppedFids)
  }

  /** Incremental CURATION of a new batch against a MinHash-indexed
    * corpus — the nightly ingest step, composed from the suite's own
    * pieces:
    *  1. quality gate (integer-exact Gopher thresholds: ≥20 tokens, top
    *     token ≤20%, duplicate bigrams ≤25%), each row on its own text;
    *  2. drop rows near-duplicating the INDEXED CORPUS (the corpus is
    *     never re-signed — [[dedupBatch]] machinery, hybrid-drift aware);
    *  3. pairwise dedup WITHIN the batch (of each colliding pair the
    *     smaller id survives — pairwise greedy, not transitive closure:
    *     batches are small and re-collide against the corpus once
    *     ingested, where the closure runs at corpus scale).
    *
    * The gate and the signing run HERE, at call time, once: one
    * map-only pass gates the batch and signs the surviving rows, and
    * `localCheckpoint` holds `(doc_id, row hash, sig, bands)` (batches
    * are small by contract). Steps 2 and 3 share one broadcast of that
    * copy's band rows: the corpus is scanned once and estimated inside
    * the broadcast join, the batch-internal leg is a broadcast self-join,
    * and no exchange carries a signature. Returns the surviving batch
    * rows (original columns preserved), each once — a repeated id is
    * judged per row, by its own text; the returned plan scans `batch`
    * once. */
  def curateBatch(indexName: String, batch: DataFrame,
      idCol: String, textCol: String,
      minEstJaccard: Double = 0.5): DataFrame = {
    val entry = minHashEntry(indexName)
    val d = entry.descriptor
      .asInstanceOf[graft.index.minhash.MinHashIndexDescriptor]
    val (appendedDf, droppedFids) = resolveDrift(entry)
    import org.apache.spark.sql.functions.{broadcast, col, xxhash64}
    // a row's identity: its id and the hash of its text
    val rowHash = "__graft_h"
    val std = batch.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"), xxhash64(col(textCol)).as(rowHash))
    val gated = graft.queries.Pipeline.qualityGate(
      graft.queries.Pipeline.qualityMetrics(std, carry = Seq("text", rowHash)))
    val signed = graft.index.minhash.MinHashSearch
      .signedRows(d, gated, "doc_id", "text", "doc_id", carry = Seq(rowHash))
      .localCheckpoint()
    val drops = graft.index.minhash.MinHashSearch.curationDrops(spark, entry,
      signed, rowHash, minEstJaccard, appendedDf, droppedFids)
    // batch rows that passed the gate and are not dropped, matched on
    // (id, text hash): semi and anti joins never multiply a row
    def rowsIn(keys: DataFrame) = broadcast(keys.select(
      col("doc_id").as("__graft_kept_id"), col(rowHash).as("__graft_kept_h")))
    val matches = col(idCol).cast("long") === col("__graft_kept_id") &&
      xxhash64(col(textCol)) === col("__graft_kept_h")
    batch
      .join(rowsIn(signed), matches, "left_semi")
      .join(rowsIn(drops), matches, "left_anti")
  }

  /** Per-data-file min/max envelope + overlap count for one index column
    * (reference: util/MinMaxAnalysisUtil.scala) — low overlap = good
    * clustering = effective file skipping. Defaults to the head indexed
    * column. */
  def analyzeIndexDistribution(name: String, column: String = null): DataFrame = {
    val entry = manager.getIndexes(graft.index.IndexState.stable)
      .find(_.name == name)
      .getOrElse(throw new NoSuchElementException(s"Index '$name' not found"))
    val c = Option(column).getOrElse(entry.descriptor.indexedColumns.head)
    graft.index.analysis.MinMaxAnalysis.analyzeIndexFiles(spark, entry, c)
  }

  private[graft] def indexManager: IndexManager = manager
}

object Graft {
  /** Source-drift listing results: (systemPath, indexName, logId) →
    * (nanos of the listing, appended file paths, deleted file ids).
    * Only clean verdicts (empty seqs) are ever served from this cache —
    * a drifted listing is recomputed per call so its file paths can't go
    * stale (see resolveDrift). Bounded by the number of live API-served
    * indexes; entries for superseded log ids are never consulted again. */
  private[graft] val driftVerdicts =
    new java.util.concurrent.ConcurrentHashMap[
      (String, String, Long), (Long, Seq[String], Seq[Long])]()

  /** SparkSession convenience syntax. */
  implicit class GraftSparkSessionOps(val spark: SparkSession) extends AnyVal {
    def enableGraft(): SparkSession = {
      spark.conf.set(graft.index.GraftConf.ApplyEnabledKey, "true"); spark
    }
    def disableGraft(): SparkSession = {
      spark.conf.set(graft.index.GraftConf.ApplyEnabledKey, "false"); spark
    }
    def isGraftEnabled: Boolean =
      graft.index.GraftConf.applyEnabled(spark)
  }
}
