package graft.index.minhash

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IndexLogEntry

/**
 * Near-duplicate queries against a [[MinHashIndexDescriptor]] index.
 *
 * Every entry point shares the LSH shape that keeps 100 TB tractable:
 * band keys collide only for likely-duplicates, SIGNATURES NEVER RIDE A
 * SHUFFLE, and verification is the MinHash ESTIMATE (fraction of equal
 * signature slots), so no text is ever re-read. Corpus self-pairs
 * ([[MinHashSearch.pairs]]) exchange constant-size `(id, band, key)`
 * rows, distinct candidate pairs on bare ids and re-join the signatures
 * onto surviving pairs only. Batch probes (`dedupAgainst`, `selfPairs`,
 * curation) broadcast the batch's band rows together with their
 * signatures and estimate inside the broadcast join, so the corpus is
 * scanned once and nothing re-joins. Callers wanting exact Jaccard
 * confirmation re-join the (tiny) result against the corpus text
 * themselves.
 */
object MinHashSearch {

  import MinHashBuild._

  private def desc(entry: IndexLogEntry): MinHashIndexDescriptor =
    entry.descriptor.asInstanceOf[MinHashIndexDescriptor]

  /** Estimated Jaccard between two signature columns: the fraction of
    * equal slots ([[graft.functions.MinHashEstimate]]). Native codegen,
    * so a band join can verify inside its condition and stay compiled. */
  private def estJaccard(s1: Column, s2: Column, numPerm: Int): Column =
    graft.functions.MinHashFunctions.minhashEstimate(s1, s2, numPerm)

  /** Sign a raw `(id, text)` slice into the uniform
    * `(<alias>, [carry...], sig, band0..B-1)` row shape; `carry` names
    * further columns of `docs` kept beside the id. */
  private[graft] def signedRows(d: MinHashIndexDescriptor, docs: DataFrame,
      idCol: String, textCol: String, idAlias: String,
      carry: Seq[String] = Nil): DataFrame =
    docs
      .filter(signable(col(textCol)))
      .select(col(idCol).cast("long").as(idAlias) +: carry.map(col) :+
        sigCol(d, col(textCol)).as(SigColumn): _*)
      .select((col(idAlias) +: carry.map(col) :+ col(SigColumn)) ++
        bandCols(d): _*)

  private def persistedRows(spark: SparkSession, entry: IndexLogEntry,
      droppedFids: Seq[Long]): DataFrame = {
    val d = desc(entry)
    antiTombstone(readIndexData(spark, entry.content, d.schemaJson), d,
      droppedFids)
  }

  /** Live index rows in the uniform shape, with hybrid-serve inputs
    * folded in: `appended` (a source slice not yet indexed) is signed ON
    * THE FLY and `droppedFids` anti-filter like tombstones. Together
    * they let a drifted index serve exact results with zero maintenance
    * I/O. This shape serves [[pairs]] only: its band self-join and the
    * two signature re-joins consume the appended leg, re-signing it up
    * to 4×. That stays cheap because drift is ratio-bounded small, and
    * is the deliberate trade against a library-held persist (which could
    * never be released safely under a lazy result) — sustained heavy
    * drift is what `refreshIndex("incremental")` is for. Batch probes
    * ([[dedupAgainst]], curation) go through [[corpusHits]] instead,
    * which consumes and signs the appended leg once.
    *
    * An appended file may RE-CONTAIN an already-indexed id (an
    * append-rewrite the lister can't pair with a delete); serving both
    * rows would multiply the signature re-joins and emit duplicate
    * (id1, id2) pairs with differing estimates. The union therefore
    * dedups per id, preferring the appended (fresher) row. The dedup
    * window shuffles signature rows on id — a cost that exists ONLY
    * under drift; the steady-state path keeps the signatures-never-
    * shuffle invariant, and a refresh restores it. */
  private def liveRows(spark: SparkSession, entry: IndexLogEntry,
      appended: Option[DataFrame], droppedFids: Seq[Long]): DataFrame = {
    val d = desc(entry)
    val persisted = persistedRows(spark, entry, droppedFids)
    val shape = col(d.idColumn) +: col(SigColumn) +:
      (0 until d.bands).map(b => col(bandColumn(b)))
    appended match {
      case Some(app) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(d.idColumn)).orderBy(col("__prio").desc)
        persisted.select(shape: _*).withColumn("__prio", lit(0))
          .unionByName(signedRows(d, app, d.idColumn, d.textColumn, d.idColumn)
            .withColumn("__prio", lit(1)))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__prio", "__rn")
      case None => persisted.select(shape: _*)
    }
  }

  /** The `(band, key)` struct of each band of a uniform row. */
  private def bandStructs(d: MinHashIndexDescriptor): Seq[Column] =
    (0 until d.bands).map(b =>
      struct(lit(b).as("band"), col(bandColumn(b)).as("key")))

  /** Exploded `(<id>, band, key)` from uniform rows. */
  private def bandsOf(d: MinHashIndexDescriptor, rows: DataFrame,
      idName: String): DataFrame =
    rows.select(col(idName), explode(array(bandStructs(d): _*)).as("bk"))
      .select(col(idName), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Bare candidate id pairs → signature re-join → estimate filter. */
  private def verified(d: MinHashIndexDescriptor, cand: DataFrame,
      leftSigs: DataFrame, rightSigs: DataFrame,
      left: String, right: String, minEst: Double): DataFrame =
    cand
      .join(leftSigs, left)
      .join(rightSigs, right)
      .select(col(left), col(right),
        estJaccard(col("__s1"), col("__s2"), d.numPerm).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)

  /** All near-duplicate pairs within the indexed corpus:
    * `(id1, id2, est_jaccard)` with `est_jaccard >= minEst`. */
  def pairs(spark: SparkSession, entry: IndexLogEntry, minEst: Double,
      appended: Option[DataFrame] = None,
      droppedFids: Seq[Long] = Nil): DataFrame = {
    val d = desc(entry)
    val rows = liveRows(spark, entry, appended, droppedFids)
    val bands = bandsOf(d, rows, d.idColumn)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.${d.idColumn}") < col(s"b.${d.idColumn}"))
      .select(col(s"a.${d.idColumn}").as("id1"),
        col(s"b.${d.idColumn}").as("id2"))
      .distinct()
    verified(d, cand,
      rows.select(col(d.idColumn).as("id1"), col(SigColumn).as("__s1")),
      rows.select(col(d.idColumn).as("id2"), col(SigColumn).as("__s2")),
      "id1", "id2", minEst)
  }

  /** Signed probe rows (`keys`, sig, bands — see [[signedRows]]) as the
    * BROADCAST side of a band join: one `(keys..., __s1, __pband,
    * __pkey)` row per band, each carrying its row's signature. Probes
    * are small by contract (a curation batch), and a broadcast ships the
    * signatures without an exchange. */
  private def probeBands(d: MinHashIndexDescriptor, probe: DataFrame,
      keys: Seq[String]): DataFrame =
    broadcast(probe.select(keys.map(col) :+ col(SigColumn).as("__s1") :+
        explode(array(bandStructs(d): _*)).as("bk"): _*)
      .select(keys.map(col) ++ Seq(col("__s1"),
        col("bk.band").as("__pband"), col("bk.key").as("__pkey")): _*))

  /** Verified near-duplicates of signed `probe` rows (small, broadcast)
    * in the live corpus: `(keys..., corpus_id, est_jaccard)` with
    * `est_jaccard >= minEst`, one row per colliding band — callers
    * wanting one row per pair dedup the bare result.
    *
    * The corpus is scanned once and exploded map-side into band rows
    * that carry their own signature; the estimate is the broadcast
    * join's condition, so no signature re-join and no exchange carries
    * a signature. Hybrid serve: `appended` is signed once and unioned
    * in. An appended row supersedes the persisted row of its id (an
    * append-rewrite) even where only the persisted row collides, so
    * each appended row also emits a marker band that the outer join
    * passes through; a window over corpus_id on the small result —
    * verified hits plus markers, no signatures — keeps the appended
    * side's hits wherever an id has one. Tombstones and `droppedFids`
    * anti-filter as everywhere else. */
  private def corpusHits(spark: SparkSession, entry: IndexLogEntry,
      probe: DataFrame, keys: Seq[String], minEst: Double,
      appended: Option[DataFrame], droppedFids: Seq[Long]): DataFrame = {
    val d = desc(entry)
    val probes = probeBands(d, probe, keys)
    val est = estJaccard(col("__s1"), col(SigColumn), d.numPerm)
    val persisted = persistedRows(spark, entry, droppedFids)
      .select((col(d.idColumn).as("corpus_id") +: col(SigColumn) +:
        (0 until d.bands).map(b => col(bandColumn(b)))): _*)
    def bandJoin(rows: DataFrame, bands: Column, joinType: String) =
      rows.select(col("corpus_id"), col(SigColumn), col("__prio"),
          explode(bands).as("bk"))
        .join(probes, col("bk.band") === col("__pband") &&
          col("bk.key") === col("__pkey") && est >= minEst, joinType)
    val out = keys.map(col) :+ col("corpus_id") :+ est.as("est_jaccard")
    val outNames = keys :+ "corpus_id" :+ "est_jaccard"
    appended match {
      case None =>
        bandJoin(persisted.withColumn("__prio", lit(0)),
            array(bandStructs(d): _*), "inner")
          .select(out: _*)
      case Some(app) =>
        val marker = struct(lit(-1).as("band"), lit(null).cast("string").as("key"))
        val rows = persisted.withColumn("__prio", lit(0))
          .unionByName(signedRows(d, app, d.idColumn, d.textColumn, "corpus_id")
            .withColumn("__prio", lit(1)))
        val bands = when(col("__prio") === 1,
            array(bandStructs(d) :+ marker: _*))
          .otherwise(array(bandStructs(d): _*))
        val served = max(col("__prio")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("corpus_id")))
        bandJoin(rows, bands, "left_outer")
          .filter(col("__pband").isNotNull || col("bk.band") === -1)
          .select(out :+ col("__prio") :+
            col("__pband").isNotNull.as("__hit"): _*)
          .withColumn("__served", served)
          .filter(col("__hit") && col("__prio") === col("__served"))
          .select(outNames.map(col): _*)
    }
  }

  /** Verified near-duplicate pairs within signed rows (`id` plus the
    * other `keys`, sig, bands): a self-join of the rows' bands against
    * their broadcast copy, estimated inside the join. Returns one row
    * per colliding band, `l_<key>` of the smaller id and `r_<key>` of
    * the larger, plus `est_jaccard`. */
  private def rowPairs(d: MinHashIndexDescriptor, rows: DataFrame,
      id: String, keys: Seq[String], minEst: Double): DataFrame = {
    val left = rows.select(keys.map(k => col(k).as("l_" + k)) ++
        Seq(col(SigColumn), explode(array(bandStructs(d): _*)).as("bk")): _*)
    val est = estJaccard(col(SigColumn), col("__s1"), d.numPerm)
    left.join(probeBands(d, rows, keys),
        col("bk.band") === col("__pband") && col("bk.key") === col("__pkey") &&
          col("l_" + id) < col(id) && est >= minEst)
      .select(keys.map(k => col("l_" + k)) ++
        keys.map(k => col(k).as("r_" + k)) :+ est.as("est_jaccard"): _*)
  }

  /** Near-duplicate pairs WITHIN a standalone `(id, text)` frame (no
    * index involved) — the batch-internal leg of incremental curation.
    * Returns `(id1, id2, est_jaccard)` with `id1 < id2`. */
  def selfPairs(spark: SparkSession, d: MinHashIndexDescriptor,
      docs: DataFrame, idCol: String, textCol: String,
      minEst: Double): DataFrame =
    rowPairs(d, signedRows(d, docs, idCol, textCol, "id"), "id", Seq("id"),
        minEst)
      .select(col("l_id").as("id1"), col("r_id").as("id2"), col("est_jaccard"))
      .distinct()

  /** Incremental dedup: near-duplicates of a NEW batch against the
    * indexed corpus without re-signing the corpus. The batch is signed
    * on the fly (`idCol`/`textCol` name its columns) and its band rows —
    * broadcast with their signatures, batches are small by definition —
    * probe the persisted band table. Returns
    * `(batch_id, corpus_id, est_jaccard)`.
    *
    * Batch ids live in a DIFFERENT id space than the corpus (they are
    * not yet ingested), so no `id1 < id2` dedup applies — every
    * (batch, corpus) collision is a candidate. */
  def dedupAgainst(spark: SparkSession, entry: IndexLogEntry,
      batch: DataFrame, idCol: String, textCol: String, minEst: Double,
      appended: Option[DataFrame] = None,
      droppedFids: Seq[Long] = Nil): DataFrame =
    corpusHits(spark, entry,
        signedRows(desc(entry), batch, idCol, textCol, "batch_id"),
        Seq("batch_id"), minEst, appended, droppedFids)
      .distinct()

  /** Row keys of a signed, gated curation batch (`doc_id`, `rowKey`,
    * sig, bands — see [[signedRows]]) that near-duplicate the live
    * corpus or, within the batch, a row of a smaller id: the rows
    * curation drops. One broadcast of the batch's band rows serves both
    * legs; keys may repeat. */
  private[graft] def curationDrops(spark: SparkSession, entry: IndexLogEntry,
      signed: DataFrame, rowKey: String, minEst: Double,
      appended: Option[DataFrame], droppedFids: Seq[Long]): DataFrame = {
    val keys = Seq("doc_id", rowKey)
    corpusHits(spark, entry, signed, keys, minEst, appended, droppedFids)
      .select(keys.map(col): _*)
      .unionByName(rowPairs(desc(entry), signed, "doc_id", keys, minEst)
        .select(keys.map(k => col("r_" + k).as(k)): _*))
  }
}
