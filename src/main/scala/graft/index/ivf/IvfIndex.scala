package graft.index.ivf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{ContentMeta, FileMeta, IndexBuildContext, IndexConfig,
  IndexDescriptor, TombstoneIndex, TombstoneReads}

/**
 * IVF (inverted-file) similarity index: a first-class index kind for
 * approximate nearest-neighbor search over an embedding column — the
 * managed-lifecycle upgrade of the fixed-codebook IVF in
 * `queries/Similarity.scala` (beyond the reference, which has no vector
 * indexes; part of the LLM-pipeline family).
 *
 * Build = small-k k-means on the corpus:
 *  1. deterministic seeding — the k vectors with the smallest
 *     (md5-derived hash, id) keys, so rebuilds over identical data start
 *     identically and no RNG state leaks into the metadata;
 *  2. `maxIter` Lloyd rounds — assignment is a broadcast-centroid map
 *     pass; means come from `reduceGroups` over (sumVec, count) pairs
 *     (associative ⇒ map-side partial aggregation; one small shuffle of
 *     k partial sums per round);
 *  3. the corpus is written WITH its cell id and source-file lineage,
 *     `partitionBy(_cell)` — at query time probes touch only nProbe/k of
 *     the data via partition pruning; lineage lets deletes tombstone
 *     instead of rebuild.
 *
 * The codebook lives inline in the descriptor JSON while small
 * (k × dim ≤ `spark.graft.index.ivf.codebook.inlineMaxDoubles`, default
 * 4096 doubles) and is promoted to a parquet SIDECAR beside the index
 * data beyond that — a k=4096 × 768-dim codebook would otherwise bloat
 * every log entry by ~50 MB of JSON. The sidecar is hidden from data
 * listings (underscore-prefixed) and rewritten wherever the codebook is
 * retrained.
 *
 * Maintenance cost shape:
 *  - appended files → MERGE mode (only new cell files written, frozen
 *    codebook);
 *  - deleted files → TOMBSTONES (their file ids recorded in the
 *    descriptor; search anti-filters on the lineage column) — O(listing),
 *    no data touched;
 *  - optimize → per-cell compaction, codebook untouched, tombstoned rows
 *    dropped; full refresh → retrain + rewrite, clearing tombstones.
 */
final case class IvfIndexDescriptor(
    idColumn: String,
    vectorColumn: String,
    k: Int,
    maxIter: Int,
    centroids: Seq[Seq[Double]],
    schemaJson: String,
    centroidsPath: Option[String] = None,
    tombstones: Seq[Long] = Nil,
    pqM: Option[Int] = None,
    pqIter: Int = 0,
    pqCodebook: Seq[Seq[Seq[Double]]] = Nil) extends TombstoneIndex {

  override def kind: String = "IvfIndex"
  override def kindAbbr: String = "IVF"
  override def indexedColumns: Seq[String] = Seq(vectorColumn)
  override def referencedColumns: Seq[String] = Seq(idColumn, vectorColumn)
  override def covers(columns: Seq[String]): Boolean =
    columns.forall(c => referencedColumns.exists(_.equalsIgnoreCase(c)))

  override def build(ctx: IndexBuildContext, source: DataFrame): IndexDescriptor =
    IvfBuild.build(ctx, source, this)

  override def withTombstones(ids: Seq[Long]): IvfIndexDescriptor =
    copy(tombstones = ids)

  /** Appended vectors are assigned with the FROZEN codebook (no retrain —
    * codebook drift is gradual and a full refresh re-trains) and only
    * their cell files are written. */
  override protected def writeAppended(ctx: IndexBuildContext,
      appended: DataFrame): Unit = {
    val centroids = IvfBuild.centroidsOf(ctx.spark, this)
    require(centroids.nonEmpty, "incremental refresh needs a trained codebook")
    IvfBuild.writeAssigned(ctx,
      IvfBuild.srcWithLineage(ctx, appended, this), centroids, this)
  }

  /** Cells are independent: small cell files compact per cell with the
    * codebook untouched, never reading the kept files; retraining belongs
    * to refreshIndex("full"). */
  override protected def rewrite(ctx: IndexBuildContext,
      files: ContentMeta): Unit =
    IvfBuild.writeCells(ctx, IvfBuild.antiTombstone(
      IvfBuild.readIndexData(ctx.spark, files, schemaJson), this))

  override def compactionGroup(file: FileMeta): String =
    new org.apache.hadoop.fs.Path(file.path).getParent.getName // graft__cell=<c>

  /** A live codebook sidecar can outlive its version dir's data files
    * (frozen codebook + later compaction moved all data elsewhere): its
    * host dir must never be reaped while the descriptor points at it. */
  override def protectedDirs: Set[String] =
    centroidsPath.map(p => new org.apache.hadoop.fs.Path(p).getParent.getName).toSet
}

/** User-facing config: `IvfIndexConfig("ann", "vec_id", "embedding", k=16)`.
  * `pqM > 0` additionally PRODUCT-QUANTIZES each stored vector into pqM
  * sub-codes (the vector dimension must divide evenly by pqM): search
  * then serves the IVFADC shape — ADC ranking over codes in the probed
  * cells, exact rerank of the shortlist only. The PQ codebook is
  * initialized from deterministically-sampled corpus rows and refined by
  * `pqIter` per-subspace Lloyd rounds (0 = sample-anchored, fully
  * oracle-reproducible). */
final case class IvfIndexConfig(
    indexName: String,
    idColumn: String,
    vectorColumn: String,
    k: Int = 16,
    maxIter: Int = 5,
    pqM: Int = 0,
    pqIter: Int = 0) extends IndexConfig {
  require(k > 0 && maxIter >= 0, "k must be positive, maxIter non-negative")
  require(pqM >= 0, "pqM must be non-negative (0 = no product quantization)")
  require(pqIter >= 0, "pqIter must be non-negative")

  override def referencedColumns: Seq[String] = Seq(idColumn, vectorColumn)

  override def toDescriptor(source: DataFrame): IndexDescriptor = {
    val resolved = graft.index.ColumnResolver.resolveAll(source, referencedColumns)
    require(!resolved.exists(graft.index.NestedColumns.isNested),
      "IVF indexes take top-level id/vector columns")
    IvfIndexDescriptor(resolved.head, resolved(1), k, maxIter,
      centroids = Nil, schemaJson = "",
      pqM = if (pqM > 0) Some(pqM) else None, pqIter = pqIter)
  }
}

object IvfBuild extends TombstoneReads {

  // no leading underscore: partitionBy dirs named `_x=N` would be hidden
  // from Spark's file listing (hiddenFileFilter) and the data unreadable
  val CellColumn = "graft__cell"

  /** PQ sidecar columns (present only when the descriptor sets `pqM`):
    * per-row sub-codes + the exact vector norm — together they are all
    * the ADC ranking pass reads, so column pruning keeps the raw vector
    * out of the ranking scan entirely. */
  val CodesColumn = "graft__pq_codes"
  val NormColumn = "graft__norm"

  /** Codebook sidecar dir name — underscore-prefixed so data listings and
    * parquet reads of the version dir never see it. */
  val CodebookDir = "_graft_codebook"

  val InlineMaxKey = "spark.graft.index.ivf.codebook.inlineMaxDoubles"
  private def inlineMax(spark: SparkSession): Int =
    spark.conf.getOption(InlineMaxKey).map(_.toInt).getOrElse(4096)

  /** Squared L2 distance — the single metric kernel shared by build-time
    * assignment and query-time probing (they MUST agree or recall rots). */
  def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { val t = b(i) - a(i); d += t * t; i += 1 }
    d
  }

  private def nearest(centroids: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = sqDist(centroids(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Resolve the trained codebook: inline from the descriptor, or loaded
    * from the parquet sidecar for large k. The sidecar dir is hidden
    * (underscore-prefixed), which Spark's recursive listing skips — so
    * its part files are enumerated explicitly and read by path. */
  def centroidsOf(spark: SparkSession, d: IvfIndexDescriptor): Array[Array[Double]] =
    if (d.centroids.nonEmpty) d.centroids.map(_.toArray).toArray
    else d.centroidsPath match {
      case Some(p) =>
        // the sidecar is immutable once written (one per build version
        // dir), but loading it is a listing + a collect JOB — cache per
        // session+path so repeated searches pay it once (PlanArtifacts)
        graft.index.rules.PlanArtifacts.getOrCompute[Array[Array[Double]]](
            spark, s"ivfcb#$p") {
          val dir = new org.apache.hadoop.fs.Path(p)
          val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
          val parts = fs.listStatus(dir).map(_.getPath)
            .filter(_.getName.startsWith("part-")).map(_.toString)
          spark.read.parquet(parts: _*)
            .orderBy(col("cell"))
            .select(col("centroid"))
            .collect()
            .map(_.getSeq[Double](0).toArray)
        }
      case None => Array.empty
    }

  /** Source rows as (id, vector, source-file id), vectorless rows dropped. */
  private[ivf] def srcWithLineage(ctx: IndexBuildContext, source: DataFrame,
      d: IvfIndexDescriptor) = {
    val spark = ctx.spark
    import spark.implicits._
    graft.index.covering.CoveringIndexDescriptor.attachLineage(ctx, source)
      .filter(col(d.vectorColumn).isNotNull)
      .select(
        col(d.idColumn).cast("long").as("id"),
        col(d.vectorColumn).cast("array<double>").as("v"),
        col(LineageColumn).cast("long").as("fid"))
      .as[(Long, Array[Double], Long)]
  }

  private[ivf] def writeAssigned(ctx: IndexBuildContext,
      src: org.apache.spark.sql.Dataset[(Long, Array[Double], Long)],
      centroids: Array[Array[Double]], d: IvfIndexDescriptor): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    val assigned = src
      .map { case (id, v, fid) => (id, v, fid, nearest(bc.value, v)) }
      .toDF("id", "v", "fid", CellColumn)
      .withColumnRenamed("id", d.idColumn)
      .withColumnRenamed("v", d.vectorColumn)
      .withColumnRenamed("fid", LineageColumn)
    // PQ leg: encode codes + exact norm INLINE in the same write pass
    // (both are codegen column expressions — no extra scan, no shuffle)
    val withPq = d.pqM match {
      case Some(_) =>
        require(d.pqCodebook.nonEmpty,
          "PQ-enabled IVF index has no codebook (build order bug)")
        val dot = graft.functions.VectorFunctions.dotp _
        assigned
          .withColumn(CodesColumn,
            PqCodec.codesCol(col(d.vectorColumn), d.pqCodebook))
          .withColumn(NormColumn,
            sqrt(dot(col(d.vectorColumn), col(d.vectorColumn))))
      case None => assigned
    }
    writeCells(ctx, withPq)
    bc.destroy()
    withPq
  }

  /** Write cell-assigned rows under ctx.dataPath, one dir per cell. */
  private[ivf] def writeCells(ctx: IndexBuildContext, rows: DataFrame): Unit =
    rows.repartition(col(CellColumn))
      .write.mode("overwrite")
      .partitionBy(CellColumn)
      .parquet(ctx.dataPath)

  /** Persist the codebook inline or as a sidecar, clearing tombstones —
    * every caller of this has just (re)written the full corpus. */
  private def finishDescriptor(ctx: IndexBuildContext,
      centroids: Array[Array[Double]], schemaJson: String,
      d: IvfIndexDescriptor): IvfIndexDescriptor = {
    val spark = ctx.spark
    import spark.implicits._
    val dim = centroids.headOption.map(_.length).getOrElse(0)
    if (centroids.length * dim <= inlineMax(spark))
      d.copy(centroids = centroids.map(_.toSeq).toSeq,
        centroidsPath = None, tombstones = Nil, schemaJson = schemaJson)
    else {
      // sidecar AFTER the data write (the partitioned overwrite above
      // would wipe anything already inside the version dir)
      val path = ctx.dataPath + "/" + CodebookDir
      centroids.toIndexedSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(path)
      d.copy(centroids = Nil, centroidsPath = Some(path),
        tombstones = Nil, schemaJson = schemaJson)
    }
  }

  /** Deterministic data sample: the `n` rows with the smallest
    * (md5-derived hash, id) keys — shared by the IVF seed pass and the
    * PQ codebook init, so rebuilds over identical data are identical and
    * an external oracle can re-derive both. Null vectors are filtered
    * (same as the clustering pass) or a vectorless row whose hash ranks
    * among the smallest would become a null centroid/codeword. */
  private def hashSample(source: DataFrame, d: IvfIndexDescriptor,
      n: Int): Array[Array[Double]] = {
    val spark = source.sparkSession
    import spark.implicits._
    source.select(
        graft.functions.HashFunctions.md5Prefix60(
          col(d.idColumn).cast("string")).as("h"),
        col(d.idColumn).cast("long").as("id"),
        col(d.vectorColumn).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .orderBy(col("h"), col("id"))
      .limit(n)
      .select(col("v")).as[Array[Double]].collect()
  }

  /** Per-subspace Lloyd refinement of a PQ codebook: each round assigns
    * every (row, subspace) pair to its nearest codeword in ONE map pass
    * over the corpus and shuffles only M x K partial (sum, count) pairs
    * (map-side combined) — the same cost shape as the IVF centroid
    * rounds, run for all subspaces at once. Emptied codewords keep their
    * previous value (standard Lloyd handling). */
  private def refinePqCodebook(
      src: org.apache.spark.sql.Dataset[(Long, Array[Double], Long)],
      init: Seq[Seq[Seq[Double]]], iters: Int): Seq[Seq[Seq[Double]]] = {
    val spark = src.sparkSession
    import spark.implicits._
    var cb: Array[Array[Array[Double]]] =
      init.map(_.map(_.toArray).toArray).toArray
    (0 until iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(cb)
      val means = src
        .flatMap { case (_, v, _) =>
          val cbl = bc.value
          cbl.indices.iterator.map { m =>
            val s = cbl(m)(0).length
            val sub = java.util.Arrays.copyOfRange(v, m * s, m * s + s)
            var best = 0
            var bestD = Double.MaxValue
            var k = 0
            while (k < cbl(m).length) {
              val dd = sqDist(cbl(m)(k), sub)
              if (dd < bestD) { bestD = dd; best = k }
              k += 1
            }
            ((m, best), (sub, 1L))
          }
        }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val (sa, na) = a._2; val (sb, nb) = b._2
          val s = Array.tabulate(sa.length)(i => sa(i) + sb(i))
          (a._1, (s, na + nb))
        }
        .map { case ((m, k), (_, (sum, n))) => (m, k, sum.map(_ / n)) }
        .collect()
      bc.destroy()
      val next = cb.map(_.clone())
      means.foreach { case (m, k, mean) => next(m)(k) = mean }
      cb = next
    }
    cb.map(_.map(_.toSeq).toSeq).toSeq
  }

  def build(ctx: IndexBuildContext, source: DataFrame,
      d0: IvfIndexDescriptor): IndexDescriptor = {
    val spark = ctx.spark
    import spark.implicits._
    val src = srcWithLineage(ctx, source, d0)

    // PQ codebook (when enabled): sample-anchored, optionally refined —
    // computed BEFORE the write so the encode pass uses the final book
    val d = d0.pqM match {
      case Some(m) =>
        val sample = hashSample(source, d0, PqCodec.K)
        require(sample.nonEmpty, "cannot train a PQ codebook on an empty corpus")
        val dim = sample.head.length
        require(dim % m == 0,
          s"pqM=$m does not divide the ${dim}-dim '${d0.vectorColumn}' vectors")
        val init = PqCodec.codebookFromSamples(sample.map(_.toSeq).toSeq, m)
        d0.copy(pqCodebook =
          if (d0.pqIter == 0) init else refinePqCodebook(src, init, d0.pqIter))
      case None => d0
    }

    val seeds = hashSample(source, d, d.k)

    var centroids = seeds
    (0 until d.maxIter).foreach { _ =>
      val bc = spark.sparkContext.broadcast(centroids)
      val means: Map[Int, Array[Double]] = src
        .map { case (_, v, _) => (nearest(bc.value, v), (v, 1L)) }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val (sa, na) = a._2; val (sb, nb) = b._2
          val s = Array.tabulate(sa.length)(i => sa(i) + sb(i))
          (a._1, (s, na + nb))
        }
        .map { case (cell, (_, (sum, n))) => (cell, sum.map(_ / n)) }
        .collect().toMap
      bc.destroy()
      // a slot whose cell emptied keeps ITS previous centroid (standard
      // Lloyd handling) — padding with unrelated seeds would create
      // duplicate centroids and permanently dead cells
      centroids = Array.tabulate(centroids.length)(c =>
        means.getOrElse(c, centroids(c)))
    }

    val assigned = writeAssigned(ctx, src, centroids, d)
    finishDescriptor(ctx, centroids, assigned.schema.json, d)
  }

  /** Read IVF index data whose content spans version dirs (after
    * merge-mode refreshes). The `graft__cell=` partition column lives in
    * the directory layout, so each version dir needs its own `basePath`;
    * files are grouped by their enclosing `v__N` ancestor and the groups
    * unioned. One version dir (the common case) stays a single read.
    * Each read takes the logged `schemaJson` (see [[graft.index.IndexData]]). */
  def readIndexData(spark: SparkSession,
      content: graft.index.ContentMeta, schemaJson: String = ""): DataFrame = {
    def versionDir(path: String): String = {
      // file lives at <root>/v__N/graft__cell=C/part-*.parquet — walk up
      // to the ancestor whose name starts with the version prefix
      var p = new org.apache.hadoop.fs.Path(path)
      while (p.getParent != null && !p.getName.startsWith("v__"))
        p = p.getParent
      if (!p.getName.startsWith("v__"))
        throw new IllegalStateException(
          s"IVF index file $path has no v__N version-dir ancestor — " +
            "content metadata is corrupt")
      p.toString
    }
    // relation resolution per version dir on EVERY search — the content
    // file set is immutable for a given log entry, so cache the resolved
    // (immutable) logical plan per session+file-set; execution still
    // reads the parquet each time (PlanArtifacts)
    graft.index.rules.PlanArtifacts.getOrCompute[DataFrame](
        spark, "ivfdata#" + content.filePaths.mkString("|")) {
      content.filePaths.groupBy(versionDir).toSeq.sortBy(_._1)
        .map { case (base, files) =>
          graft.index.IndexData.parquet(spark, schemaJson, files, Some(base))
        }
        .reduce(_.unionByName(_))
    }
  }
}
