package graft.index.minhash

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{ContentMeta, IndexBuildContext, IndexConfig, IndexDescriptor,
  TombstoneIndex, TombstoneReads}
import graft.queries.TextPrimitives

/**
 * MinHash near-duplicate index: a first-class index kind that PERSISTS
 * per-document MinHash signatures and LSH band keys, so near-duplicate
 * detection over a growing corpus never recomputes the shingle/signature
 * pipeline for already-indexed documents (beyond the reference, which
 * has no text indexes; part of the LLM-pipeline family).
 *
 * The killer use at 100 TB is INCREMENTAL dedup: a new crawl batch is
 * signed on the fly (one codegen pass over the batch) and its band keys
 * join against the persisted band table — O(batch + collisions), while
 * the query-suite operator (`dedup_minhash_lsh`) re-signs the whole
 * corpus every run.
 *
 * Layout: ONE ROW PER DOCUMENT — `(id, graft__sig: array<long>,
 * graft__band0..B-1: string, lineage)`. Band keys are materialized as
 * columns, so query-time banding is a map-only explode of stored values
 * (no hashing), and the exchange payload for the band self-join is the
 * constant-size `(id, band, key)` triple — signatures stay out of the
 * shuffle and are re-joined only onto surviving collision pairs.
 *
 * Maintenance cost shape (same contract as the other kinds):
 *  - appended source files → MERGE mode: only the appended docs are
 *    signed and written as NEW files; old index files byte-identical.
 *  - deleted source files → TOMBSTONES (lineage ids anti-filtered at
 *    query time) — metadata-only.
 *  - optimize → compacts small files per the shared size threshold,
 *    physically dropping tombstoned rows from the rewritten slice.
 */
final case class MinHashIndexDescriptor(
    idColumn: String,
    textColumn: String,
    numPerm: Int,
    bands: Int,
    schemaJson: String,
    tombstones: Seq[Long] = Nil) extends TombstoneIndex {

  override def kind: String = "MinHashIndex"
  override def kindAbbr: String = "MH"
  override def indexedColumns: Seq[String] = Seq(textColumn)
  override def referencedColumns: Seq[String] = Seq(idColumn, textColumn)
  override def covers(columns: Seq[String]): Boolean =
    columns.forall(c => referencedColumns.exists(_.equalsIgnoreCase(c)))

  def rowsPerBand: Int = numPerm / bands

  override def build(ctx: IndexBuildContext, source: DataFrame): IndexDescriptor =
    MinHashBuild.build(ctx, source, this)

  override def withTombstones(ids: Seq[Long]): MinHashIndexDescriptor =
    copy(tombstones = ids)

  /** Sign only the appended docs and write them as new files. */
  override protected def writeAppended(ctx: IndexBuildContext,
      appended: DataFrame): Unit =
    MinHashBuild.write(ctx, MinHashBuild.indexRows(ctx, appended, this))

  /** Plain rewrite (rows are independent) into ⌈bytes / size threshold⌉
    * files. Left to the scan split, every small file would be its own
    * partition (the open cost) and come out as its own file again. */
  override protected def rewrite(ctx: IndexBuildContext,
      files: ContentMeta): Unit = {
    val threshold = graft.index.GraftConf.optimizeFileSizeThreshold(ctx.spark)
    MinHashBuild.write(ctx, MinHashBuild.antiTombstone(
        MinHashBuild.readIndexData(ctx.spark, files, schemaJson), this)
      .coalesce(math.max(1, math.ceil(files.totalSize.toDouble / threshold).toInt)))
  }
}

/** User-facing config: `MinHashIndexConfig("dedup", "doc_id", "text")`.
  * `numPerm` permutations banded into `bands` groups of `numPerm/bands`
  * rows — the standard LSH S-curve knobs (more bands = higher recall,
  * lower precision at fixed numPerm). */
final case class MinHashIndexConfig(
    indexName: String,
    idColumn: String,
    textColumn: String,
    numPerm: Int = TextPrimitives.MinHashK,
    bands: Int = TextPrimitives.LshBands) extends IndexConfig {
  require(numPerm > 0 && bands > 0 && numPerm % bands == 0,
    "numPerm must be a positive multiple of bands")

  override def referencedColumns: Seq[String] = Seq(idColumn, textColumn)

  override def toDescriptor(source: DataFrame): IndexDescriptor = {
    val resolved = graft.index.ColumnResolver.resolveAll(source, referencedColumns)
    require(!resolved.exists(graft.index.NestedColumns.isNested),
      "MinHash indexes take top-level id/text columns")
    MinHashIndexDescriptor(resolved.head, resolved(1), numPerm, bands,
      schemaJson = "")
  }
}

object MinHashBuild extends TombstoneReads {

  val SigColumn = "graft__sig"
  def bandColumn(b: Int): String = s"graft__band$b"

  /** MinHash signature over a text column — the SAME primitives as the
    * `dedup_minhash_lsh` operator (fused shingle-hash + k-slot signature
    * codegen expressions), so index results and from-scratch results
    * agree. NULL when the doc has no shingles (under 3 tokens). */
  def sigCol(d: MinHashIndexDescriptor, text: Column): Column = {
    import TextPrimitives._
    graft.functions.MinHashFunctions.minhashSignature(
      shingleHashSet(text),
      (0 until d.numPerm).map(permA), (0 until d.numPerm).map(permB), HashP)
  }

  /** True exactly where [[sigCol]] is non-null: a doc has a 3-token
    * shingle, so a signature, from 3 tokens on. Rows are filtered on this
    * BEFORE signing: a filter on the signature column is pushed below the
    * projection that computes it and would sign every row again. */
  def signable(text: Column): Column =
    size(TextPrimitives.tokens(text)) >= 3

  /** Band-key projections from a materialized [[SigColumn]]: comma-joined
    * row minima per band (identical to the operator/oracle derivation). */
  def bandCols(d: MinHashIndexDescriptor): Seq[Column] =
    (0 until d.bands).map { b =>
      concat_ws(",", (0 until d.rowsPerBand).map(r =>
        element_at(col(SigColumn), b * d.rowsPerBand + r + 1).cast("string")): _*)
        .as(bandColumn(b))
    }

  /** Index rows for any doc slice: `(id, sig, band keys..., lineage)`.
    * Docs with no shingles (under 3 tokens) carry no signature and are
    * excluded — they cannot near-duplicate anything via MinHash. */
  def indexRows(ctx: IndexBuildContext, source: DataFrame,
      d: MinHashIndexDescriptor): DataFrame = {
    val withLineage =
      graft.index.covering.CoveringIndexDescriptor.attachLineage(ctx, source)
    withLineage
      .filter(signable(col(d.textColumn)))
      .select(col(d.idColumn).cast("long").as(d.idColumn),
        sigCol(d, col(d.textColumn)).as(SigColumn), col(LineageColumn))
      .select(col(d.idColumn) +: col(SigColumn) +:
        bandCols(d) :+ col(LineageColumn): _*)
  }

  def write(ctx: IndexBuildContext, rows: DataFrame): Unit =
    rows.write.mode("overwrite").parquet(ctx.dataPath)

  def build(ctx: IndexBuildContext, source: DataFrame,
      d: MinHashIndexDescriptor): IndexDescriptor = {
    val rows = indexRows(ctx, source, d)
    write(ctx, rows)
    d.copy(schemaJson = rows.schema.json, tombstones = Nil)
  }

  /** Read index data across version dirs (plain unpartitioned parquet —
    * a flat path-list read; no per-dir basePath dance needed) under the
    * logged `schemaJson` (see [[graft.index.IndexData]]). */
  def readIndexData(spark: SparkSession,
      content: graft.index.ContentMeta, schemaJson: String = ""): DataFrame =
    // relation resolution per search; the file set is immutable for a
    // given log entry — cache the resolved logical plan per session
    // (execution still reads the parquet each time; PlanArtifacts)
    graft.index.rules.PlanArtifacts.getOrCompute[DataFrame](
        spark, "mhdata#" + content.filePaths.mkString("|")) {
      graft.index.IndexData.parquet(spark, schemaJson, content.filePaths)
    }
}
