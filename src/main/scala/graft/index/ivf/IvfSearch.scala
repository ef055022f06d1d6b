package graft.index.ivf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.IndexLogEntry

/**
 * Probe-limited ANN search against an [[IvfIndexDescriptor]] index.
 *
 * Scale shape: the query set maps to its nProbe nearest cells using the
 * broadcast codebook (tiny), the index scan is restricted to the probed
 * `graft__cell=` partitions — a broadcast join on the PARTITION column,
 * which Spark prunes dynamically (DPP) — and scoring is the codegen
 * DotProduct over only nProbe/k of the corpus. The final per-query top-k
 * is a window over qid (query-count-proportional, not corpus-sized).
 */
object IvfSearch {

  private def nearestCells(
      centroids: Array[Array[Double]], v: Array[Double], n: Int): Seq[Int] =
    centroids.indices
      .map(c => (IvfBuild.sqDist(centroids(c), v), c))
      .sorted.take(n).map(_._2)

  /**
   * @param queries DataFrame with columns `qid` (long) and `qv`
   *                (array of float/double)
   * @return (qid, neighbor id column, cosine, rank) — topK rows per query
   */
  /** Hybrid-serve inputs (both default empty = serve the index as-is):
    * `appended` — a source slice not yet indexed; it has no cell
    * assignment, so it is scored BRUTE-FORCE against every query (the
    * slice is ratio-bounded small) and unioned in before the top-k.
    * `droppedFids` — source files deleted since the last refresh,
    * anti-filtered via lineage exactly like tombstones. */
  def search(
      spark: SparkSession,
      entry: IndexLogEntry,
      queries: DataFrame,
      topK: Int,
      nProbe: Int,
      appended: Option[DataFrame] = None,
      droppedFids: Seq[Long] = Nil,
      usePq: Boolean = true): DataFrame = {
    import spark.implicits._
    val d = entry.descriptor.asInstanceOf[IvfIndexDescriptor]
    // internal working-column names must not collide with the id column
    require(!Set("qid", "qv", "qn", "nn", "probe_cell", "cosine", "rank",
        "qtab", "codes", "srank", "cosine_adc", "nv")
        .contains(d.idColumn),
      s"IVF id column '${d.idColumn}' collides with a search output column")
    // inline for small k, parquet sidecar for large (driver-side load)
    val centroids = IvfBuild.centroidsOf(spark, d)
    require(centroids.nonEmpty, s"index '${entry.name}' has no codebook")
    val probe = math.min(math.max(1, nProbe), centroids.length)

    val dot = graft.functions.VectorFunctions.dotp _
    val bc = spark.sparkContext.broadcast(centroids)
    val queryRows = queries
      .select(col("qid").cast("long"), col("qv").cast("array<double>"))
      // a null query vector has no nearest cell (and would NPE in sqDist
      // before the zero-norm filter below could drop it)
      .filter(col("qv").isNotNull)
    val probes = queryRows
      .as[(Long, Array[Double])]
      .flatMap { case (qid, v) =>
        nearestCells(bc.value, v, probe).map(c => (qid, v, c))
      }
      .toDF("qid", "qv", "probe_cell")
      // query norm once per probe row (tiny side), not per corpus pair;
      // zero-norm queries have no defined cosine to anybody — drop them
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
      .filter(col("qn") > 0.0)

    // reader invariant (IndexManager): content may span version dirs
    // after merge-mode refreshes — each dir carries its own basePath for
    // the cell partition column, so read per-dir and union
    val base = IvfBuild.readIndexData(spark, entry.content, d.schemaJson)
    // deleted source files are TOMBSTONED (no data rewrite): anti-filter
    // their rows via the lineage column (NULL-safe — see antiTombstone);
    // `optimize` compacts them away
    val live = IvfBuild.antiTombstone(base, d, droppedFids)
    val scored: DataFrame = d.pqM match {
      case Some(m) if usePq =>
        // IVFADC: rank the probed cells by the ASYMMETRIC dot product
        // over the STORED PQ codes — the ranking scan reads only
        // (id, codes, norm, cell); column pruning keeps the raw vector
        // column out of it entirely — then exact-rerank the per-query
        // shortlist, fetching raw vectors for shortlist rows only (the
        // rerank scan is pruned to the same probed cells, and its join
        // against the broadcast shortlist materializes |q| x rerankK
        // rows, never a cell's full contents).
        val rerankK = math.max(topK,
          topK * graft.index.GraftConf.ivfPqRerankMultiplier(spark))
        require(d.pqCodebook.nonEmpty && d.pqCodebook.length == m,
          s"IVF index '${entry.name}' is PQ-enabled but carries no codebook")
        val probesPq = probes.withColumn("qtab",
          PqCodec.queryTableCol(col("qv"), d.pqCodebook))
        val codes = live
          .select(col(d.idColumn), col(IvfBuild.CodesColumn).as("codes"),
            col(IvfBuild.NormColumn).as("nn"), col(IvfBuild.CellColumn))
          // zero-norm vectors have no cosine to anybody (NaN sorts above
          // every real value under desc ordering) — drop, as below
          .filter(col("nn") > 0.0)
        val adc = codes
          .join(broadcast(probesPq.select(col("qid"), col("qtab"), col("qn"),
            col("probe_cell"))), col(IvfBuild.CellColumn) === col("probe_cell"))
          .withColumn("cosine_adc",
            PqCodec.adcDot(col("codes"), col("qtab")) / (col("qn") * col("nn")))
        val sw = Window.partitionBy(col("qid"))
          .orderBy(col("cosine_adc").desc, col(d.idColumn))
        val shortlist = adc
          .withColumn("srank", row_number().over(sw))
          .filter(col("srank") <= rerankK)
          .select(col("qid"), col(d.idColumn), col(IvfBuild.CellColumn))
        val vecs = live
          .select(col(d.idColumn),
            col(d.vectorColumn).cast("array<double>").as("nv"),
            col(IvfBuild.NormColumn).as("nn"), col(IvfBuild.CellColumn))
        val q1 = probes.select(col("qid"), col("qv"), col("qn")).distinct()
        vecs
          .join(broadcast(shortlist), Seq(d.idColumn, IvfBuild.CellColumn))
          .join(broadcast(q1), Seq("qid"))
          .withColumn("cosine",
            dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .select(col("qid"), col(d.idColumn), col("cosine"))
      case _ =>
        val data = live
          .select(col(d.idColumn),
            col(d.vectorColumn).cast("array<double>").as("nv"),
            col(IvfBuild.CellColumn))
          .withColumn("nn", sqrt(dot(col("nv"), col("nv"))))
          // zero-norm corpus vectors would score NaN, and NaN sorts ABOVE
          // every real cosine under desc ordering — they'd surface as rank-1
          .filter(col("nn") > 0.0)
        data
          .join(broadcast(probes), col(IvfBuild.CellColumn) === col("probe_cell"))
          .withColumn("cosine",
            dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .select(col("qid"), col(d.idColumn), col("cosine"))
    }
    // appended leg: no cells, so every query scores the (small) slice —
    // one row per query row in `q1` (probes fan it out nProbe times).
    // An appended file may re-contain an already-indexed id (an
    // append-rewrite the lister can't pair with a delete); without the
    // per-(qid, id) dedup below the same neighbor id could occupy two
    // of the topK slots with different cosines. The appended (fresher)
    // row wins, and the dedup also collapses a query row given twice.
    // The union is hash-partitioned on qid once: that satisfies both the
    // dedup window's (qid, id) clustering and the rank window's qid, so
    // the drifted search shuffles once, like the clean one.
    val all = appended match {
      case Some(app) =>
        val q1 = queryRows
          .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
          .filter(col("qn") > 0.0)
        val appScored = app
          .filter(col(d.vectorColumn).isNotNull)
          .select(col(d.idColumn).cast("long").as(d.idColumn),
            col(d.vectorColumn).cast("array<double>").as("nv"))
          .withColumn("nn", sqrt(dot(col("nv"), col("nv"))))
          .filter(col("nn") > 0.0)
          .crossJoin(broadcast(q1))
          .withColumn("cosine", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .select(col("qid"), col(d.idColumn), col("cosine"))
        val dedup = Window.partitionBy(col("qid"), col(d.idColumn))
          .orderBy(col("__prio").desc)
        scored.withColumn("__prio", lit(0))
          .unionByName(appScored.withColumn("__prio", lit(1)))
          .repartition(col("qid"))
          .withColumn("__rn", row_number().over(dedup))
          .filter(col("__rn") === 1)
          .drop("__prio", "__rn")
      case None => scored
    }
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col(d.idColumn))
    all
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid"), col(d.idColumn), col("cosine"), col("rank"))
  }
}
