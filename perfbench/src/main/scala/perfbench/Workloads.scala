package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Graft, SparkEntry}
import graft.index.{GraftConf, IndexConfig, IndexLogEntry, IndexManager}
import graft.index.covering.CoveringIndexConfig
import graft.index.dataskipping.{DataSkippingIndexConfig, SketchSpec}
import graft.index.ivf.IvfIndexConfig
import graft.index.minhash.MinHashIndexConfig
import graft.index.sources.LakeTable
import graft.index.zorder.ZOrderIndexConfig

/** What one workload does. [[Main]] calls [[generate]], [[build]] and
  * [[prepare]] once each, then [[step]] until the timed phase is over,
  * then [[finish]]. Ops inside a step are timed through the
  * [[Recorder]]; correctness checks run between ops and are never timed. */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val srcDir: String, val rec: Recorder) {
  /** Write the seeded inputs under `dir`. */
  def generate(dir: String): Unit
  /** Build the indexes (and tables) over the generated inputs; returns
    * the seconds spent in index creation. */
  def build(): Double
  def prepare(): Unit = ()
  def step(n: Int): Unit
  def finish(): Unit = ()
  /** Indexes whose size is reported, read from their logs. */
  def liveIndexes: Seq[IndexLogEntry] = new IndexManager(spark).getIndexes()
  /** Extra per-workload end-to-end facts (printed, not in the JSON). */
  def extras: Seq[(String, Double, String)] = Nil
  /** Extra per-layer facts of this workload (printed in traced runs). */
  def layerExtras: Seq[(String, Double, String)] = Nil

  /** A session with the rewrite rules off, for reference results. */
  lazy val plain: SparkSession = {
    val s = spark.newSession()
    s.conf.set(GraftConf.ApplyEnabledKey, "false")
    s
  }

  protected def timeIt[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  protected def money(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)

  /** Time one index action as a maintenance op, per kind. */
  protected def maint(action: String, kind: String)(f: => Unit): Unit =
    rec.op("maint", s"$action.$kind")(rec.span("index", s"$action.$kind")(f))

  protected val g = new Graft(spark)
  protected def kindOf(c: IndexConfig): String = c match {
    case _: CoveringIndexConfig => "covering"
    case _: ZOrderIndexConfig => "zorder"
    case _: DataSkippingIndexConfig => "dataskipping"
    case _: IvfIndexConfig => "ivf"
    case _: MinHashIndexConfig => "minhash"
    case _ => "other"
  }

  /** Create every index of `configs` over its source; returns seconds. */
  protected def createAll(configs: Seq[(DataFrame, IndexConfig)]): Double =
    configs.map { case (df, c) =>
      val (_, s) = timeIt(rec.span("index", s"create.${kindOf(c)}")(g.createIndex(df, c)))
      rec.setupOps += ((s"create.${kindOf(c)}", s))
      s
    }.sum
}

object Workloads {
  val names = Seq("serve_indexed", "maintain_drift", "lake_dml", "corpus_dedup")

  def apply(name: String, spark: SparkSession, seed: Long, srcDir: String,
      rec: Recorder): Workload = name match {
    case "serve_indexed" => new ServeIndexed(spark, seed, srcDir, rec)
    case "maintain_drift" => new MaintainDrift(spark, seed, srcDir, rec)
    case "lake_dml" => new LakeDml(spark, seed, srcDir, rec)
    case "corpus_dedup" => new CorpusDedup(spark, seed, srcDir, rec)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** The system path the program's accelerated queries pin for `sfDir`
    * (`IndexAccel.ensureSystemPath`): under `java.io.tmpdir`, which the
    * benchmark points at its private run directory. */
  def accelSystemPath(spark: SparkSession, sfDir: String): String =
    sys.props("java.io.tmpdir").stripSuffix("/") +
      s"/graft_accel_${Integer.toHexString(sfDir.hashCode)}_b${GraftConf.numBuckets(spark)}"
}

/** The index-served read mix: covering, join, z-order, data-skipping and
  * bloom queries plus TPC-DS shapes, over indexes built in setup. The
  * source never changes, so planning caches stay warm and no maintenance
  * runs. */
final class ServeIndexed(spark: SparkSession, seed: Long, srcDir: String,
    rec: Recorder) extends Workload(spark, seed, srcDir, rec) {
  /** The served mix; setup builds exactly the indexes these queries use. */
  val mix = Seq("idx_covering_filter", "idx_zorder_filter",
    "idx_dataskip_filter", "idx_sql_bloom", "qds95_multi_supplier_ship")
  private var sfDir = ""
  private val expected = mutable.Map.empty[String, Array[Row]]

  def generate(dir: String): Unit = {
    sfDir = s"$dir/sf"
    // 30% of the orders (by a seeded key hash) with their line items; the
    // dimensions whole
    val keep = 0.3
    val ord = Gen.source(spark, srcDir, "orders")
      .filter(Gen.u(seed, "ord", col("o_orderkey")) < keep)
    val li = Gen.source(spark, srcDir, "lineitem")
      .filter(Gen.u(seed, "ord", col("l_orderkey")) < keep)
    Gen.writeSplit(li, s"$sfDir/lineitem.parquet", 8, seed,
      col("l_orderkey"), col("l_linenumber"))
    Gen.writeSplit(ord, s"$sfDir/orders.parquet", 4, seed, col("o_orderkey"))
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      Files.copy(Paths.get(s"$srcDir/$t.parquet"), Paths.get(s"$sfDir/$t.parquet"))
    }
  }

  def build(): Double = {
    spark.conf.set(GraftConf.SystemPathKey,
      Workloads.accelSystemPath(spark, sfDir))
    // building each query's DataFrame creates the indexes it needs
    mix.map { q =>
      val (_, s) = timeIt(rec.span("index", "create.accel")(
        SparkEntry.queries(q)(spark, sfDir)))
      rec.setupOps += (("create.accel", s))
      s
    }.sum
  }

  override def prepare(): Unit = mix.foreach { q =>
    expected(q) = SparkEntry.queries(q)(plain, sfDir).collect()
  }

  def step(n: Int): Unit = {
    val order = new Random(seed * 7919 + n).shuffle(mix)
    order.foreach { q =>
      rec.read(q)(SparkEntry.queries(q)(spark, sfDir))
        .foreach(rows => rec.check(q, rows, expected(q)))
    }
  }
}

/** Writes beside reads: each round appends ~1% new files and deletes
  * one, reads through hybrid scan, searches and curates against the
  * drifting corpus, refreshes all five index kinds quickly and
  * incrementally, reads again and runs quick optimize. */
final class MaintainDrift(spark: SparkSession, seed: Long, srcDir: String,
    rec: Recorder) extends Workload(spark, seed, srcDir, rec) {
  private var dir = ""
  private def tbl(t: String) = s"$dir/tables/$t.parquet"
  private def stage(t: String) = s"$dir/stage/$t"
  private var annQ: DataFrame = _
  private var curate: DataFrame = _
  private var nextBatch = 0
  private val Batches = 4
  private val appendedBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val writtenPerAppended = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val hybridS = ArrayBuffer.empty[Double]
  private val freshS = ArrayBuffer.empty[Double]
  private var recall = Double.NaN

  val configs: Seq[(String, IndexConfig)] = Seq(
    "lineitem" -> CoveringIndexConfig("drift_ci", Seq("l_orderkey"),
      Seq("l_quantity", "l_extendedprice")),
    "lineitem" -> ZOrderIndexConfig("drift_zo", Seq("l_partkey", "l_suppkey"),
      Seq("l_quantity")),
    "lineitem" -> DataSkippingIndexConfig("drift_ds",
      Seq(SketchSpec.minMax("l_orderkey"), SketchSpec.bloom("l_suppkey"))),
    "embeddings" -> IvfIndexConfig("drift_ivf", "vec_id", "embedding",
      k = 8, maxIter = 2),
    "documents" -> MinHashIndexConfig("drift_mh", "doc_id", "text"))

  def generate(d: String): Unit = {
    dir = d
    // base copy + a pool of append batches per table; appended line
    // items carry perturbed order keys
    def split(t: String, df: DataFrame, key: Column, base: Double,
        files: Int, perturb: DataFrame => DataFrame): Unit = {
      val r = Gen.u(seed, t, key)
      val h = pmod(xxhash64(key, lit(seed)), lit(files.toLong))
      val withFile = df.withColumn("__f", when(r < base, h)
        .when(r < base * 1.6, lit(files.toLong) + pmod(h, lit(Batches.toLong)))
        .cast("int"))
      Gen.writeByFile(perturb(withFile), n => if (n < files) tbl(t) else stage(t))
    }
    // only the columns the indexes and reads use
    val li = Gen.source(spark, srcDir, "lineitem").select("l_orderkey",
      "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    split("lineitem", li, xxhash64(col("l_orderkey"), col("l_linenumber")),
      0.06, 8, _.withColumn("l_orderkey", when(col("__f") >= 8, col("l_orderkey") +
        pmod(xxhash64(col("l_linenumber"), lit(seed)), lit(5L))).otherwise(col("l_orderkey"))))
    val docs = Gen.source(spark, srcDir, "documents")
    split("documents", docs, col("doc_id"), 0.15, 4, identity)
    split("embeddings", Gen.source(spark, srcDir, "embeddings"), col("vec_id"),
      0.3, 4, identity)
    annQ = localCopy(Gen.annQueries(spark.read.parquet(tbl("embeddings")), seed, 20))
    // unseen documents plus copies of base-corpus ones (never deleted)
    curate = Gen.curateBatch(docs, Gen.u(seed, "documents", col("doc_id")), 0.15,
      0.03, seed, s"$dir/curate")
  }

  def build(): Double = {
    spark.conf.set(GraftConf.SystemPathKey, s"$dir/indexes")
    // incremental refresh drops the rows of deleted files through lineage
    spark.conf.set(GraftConf.LineageKey, "true")
    // reads right after an append must see it: the default `cached` check
    // reuses a clean listing for the cache TTL (10 s), so IVF and MinHash
    // answers may miss files appended within it
    spark.conf.set(GraftConf.IvfStaleCheckKey, "strict")
    createAll(configs.map { case (t, c) => (spark.read.parquet(tbl(t)), c) })
  }

  private def localCopy(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def li(s: SparkSession) = s.read.parquet(tbl("lineitem"))

  /** The rewrite-served reads of a round, as (name, query per session). */
  private val rewriteReads: Seq[(String, SparkSession => DataFrame)] = Seq(
    "covering" -> (s => li(s).filter(col("l_orderkey").between(1000L, 60000L))
      .agg(count(lit(1)).as("n"), money(col("l_quantity")).as("q"),
        money(col("l_extendedprice")).as("p"))),
    "zorder" -> (s => li(s).filter(col("l_partkey").between(100L, 900L) &&
        col("l_suppkey").between(10L, 200L))
      .agg(count(lit(1)).as("n"), money(col("l_quantity")).as("q"))),
    "dataskipping" -> (s => li(s).filter(col("l_orderkey") <= 20000L &&
        col("l_suppkey").isin(1L, 2L, 3L, 4L))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("k"))))

  /** One phase's reads: two passes of the rewrite-served queries (checked
    * against the same query with the rules off on the same source state;
    * the second pass is the client asking again), plus — in the hybrid
    * phase — ANN search off the IVF index and batch curation against the
    * MinHash index (`graft.queries.Pipeline`'s quality gate, then MinHash
    * signatures from `graft.functions` matched against the drifted
    * corpus). */
  private def reads(phase: String, refs: Map[String, Array[Row]],
      into: ArrayBuffer[Double]): Unit = {
    for (_ <- 1 to 2; (n, q) <- rewriteReads) {
      val t0 = System.nanoTime()
      rec.read(s"$phase.$n")(q(spark)).foreach(rows => rec.check(s"$phase.$n", rows, refs(n)))
      into += (System.nanoTime() - t0) / 1e9
    }
    if (phase == "hybrid") {
      rec.read(s"$phase.ann")(rec.span("search", "ann")(
        g.annSearch("drift_ivf", annQ, topK = 10, nProbe = 4)))
      rec.read(s"$phase.curate_batch")(rec.span("search", "curate_batch")(
          g.curateBatch("drift_mh", curate, "doc_id", "text")))
        .foreach(rows => Gen.checkCurated(rec, "curate_batch", rows, curate))
    }
  }

  /** Copy the next staged batch of every table in and delete one of the
    * original line-item files. */
  private def drift(): Unit = {
    Seq("lineitem", "documents", "embeddings").foreach { t =>
      val files = Gen.dataFiles(stage(t))
      val f = files(nextBatch % files.size)
      val dst = Paths.get(tbl(t), s"append-$nextBatch-${f.getFileName}")
      Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
      appendedBytes(t) += Files.size(dst)
    }
    val base = Gen.dataFiles(tbl("lineitem"))
      .filterNot(_.getFileName.toString.startsWith("append-"))
    if (base.size > 1) Files.delete(base(new Random(seed + nextBatch).nextInt(base.size)))
    nextBatch += 1
  }

  private def refreshAll(mode: String): Unit = {
    configs.foreach { case (t, c) =>
      val kind = kindOf(c)
      val before = Gen.du(s"$dir/indexes/${c.indexName}")._1
      maint(s"refresh_$mode", kind)(g.refreshIndex(c.indexName, mode))
      val after = Gen.du(s"$dir/indexes/${c.indexName}")._1
      if (mode == "incremental" && appendedBytes(t) > 0 && rec.isTracing)
        writtenPerAppended.getOrElseUpdate(kind, ArrayBuffer.empty) +=
          math.max(0L, after - before).toDouble / appendedBytes(t)
    }
    if (mode == "incremental") appendedBytes.clear()
  }

  /** One round: append ~1% and delete one original line-item file; read
    * through hybrid scan (appended files unioned in, rows of the deleted
    * file dropped through lineage); quick refresh of every kind (the
    * delta is only recorded); incremental refresh of every kind; read the
    * refreshed indexes; quick optimize of every kind. Both read phases see
    * the same source state, so one set of reference results checks both.
    *
    * Optimize runs after the incremental refresh. Run right after a
    * quick refresh that recorded a deleted file, the z-order optimize
    * rebuilds from the logged source files and fails on the missing one
    * (PATH_NOT_FOUND) — a defect of the program, not exercised here. */
  def step(round: Int): Unit = {
    drift()
    val refs = rewriteReads.map { case (n, q) => n -> q(plain).collect() }.toMap
    reads("hybrid", refs, hybridS)
    refreshAll("quick")
    refreshAll("incremental")
    reads("fresh", refs, freshS)
    configs.foreach { case (_, c) =>
      maint("optimize_quick", kindOf(c))(g.optimizeIndex(c.indexName, "quick"))
    }
  }

  override def finish(): Unit = {
    val r = g.annRecall("drift_ivf", annQ, topK = 10, nProbe = 4)
      .agg(avg(col("recall"))).head().getDouble(0)
    recall = r
    if (r < MaintainDrift.RecallFloor)
      rec.fail(f"ann recall@10 $r%.3f below floor ${MaintainDrift.RecallFloor}")
  }

  override def extras = Seq(("ann_recall_at_10", recall, "ratio"))

  override def layerExtras: Seq[(String, Double, String)] = {
    val logEntries = configs.map(c =>
      Gen.du(s"$dir/indexes/${c._2.indexName}/_graft_log")._2).sum
    val files = liveIndexes.map(e => (kindOf(configs.find(_._2.indexName == e.name).get._2),
      e.content.files.size.toDouble))
    Seq(("hybrid.read_s", Stats.median(hybridS), "s"),
      ("fresh.read_s", Stats.median(freshS), "s"),
      ("maint.log_entries", logEntries.toDouble, "count")) ++
      writtenPerAppended.toSeq.sortBy(_._1).map { case (k, v) =>
        (s"maint.bytes_written_per_appended_byte.$k", Stats.median(v), "ratio") } ++
      files.map { case (k, n) => (s"maint.index_files.$k", n, "count") }
  }
}

object MaintainDrift {
  /** Lowest acceptable mean recall@10 of the drifting IVF index at
    * nProbe 4 of 8 cells. */
  val RecallFloor = 0.6
}

/** Identical seeded DML on a Delta and an Iceberg copy of `orders`,
  * interleaved with snapshot and time-travel reads, compaction, refresh
  * of a lake-backed covering index and an indexed filter; both logs grow
  * for the whole run. */
final class LakeDml(spark: SparkSession, seed: Long, srcDir: String,
    rec: Recorder) extends Workload(spark, seed, srcDir, rec) {
  private var dir = ""
  private val fmts = Seq("delta", "iceberg")
  private def path(f: String) = s"$dir/lake/$f"
  private var base: DataFrame = _
  private var replay: DataFrame = _
  /** Each format's table version that holds the replay's state. */
  private var versions = Map.empty[String, Long]
  private val stats = mutable.Map.empty[String, ArrayBuffer[Double]]
  private var bytesPerRow = 1.0

  def generate(d: String): Unit = {
    dir = d
    Gen.writeSplit(Gen.source(spark, srcDir, "orders")
        .filter(Gen.u(seed, "lake", col("o_orderkey")) < 0.2),
      s"$d/orders", 4, seed, col("o_orderkey"))
    base = spark.read.parquet(s"$d/orders")
    bytesPerRow = Gen.du(s"$d/orders")._1.toDouble / math.max(1L, base.count())
  }

  def build(): Double = {
    spark.conf.set(GraftConf.SystemPathKey, s"$dir/indexes")
    // incremental refresh drops the rows of rewritten files through lineage
    spark.conf.set(GraftConf.LineageKey, "true")
    versions = Map(
      "delta" -> rec.span("sources", "create.delta")(
        graft.index.sources.DeltaTable.create(base, path("delta"))),
      "iceberg" -> rec.span("sources", "create.iceberg")(
        graft.index.sources.IcebergTable.create(base, path("iceberg"))))
    replay = base.localCheckpoint()
    createAll(fmts.map(f => (LakeTable.read(spark, path(f)),
      CoveringIndexConfig(s"lake_ci_$f", Seq("o_custkey"), Seq("o_totalprice")))))
  }

  private def resolve(f: String): DataFrame = {
    val t0 = System.nanoTime()
    val df = rec.span("sources", s"resolve.$f")(LakeTable.read(spark, path(f)))
    stat(s"lake.$f.resolve_s", (System.nanoTime() - t0) / 1e9)
    df
  }

  private def stat(k: String, v: Double): Unit =
    stats.getOrElseUpdate(k, ArrayBuffer.empty) += v

  private def snapshotAgg(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), money(col("o_totalprice")).as("p"),
        sum(col("o_orderkey")).as("k"))

  private def indexedAgg(df: DataFrame): DataFrame =
    df.filter(col("o_custkey").between(1000L, 4000L))
      .agg(count(lit(1)).as("n"), money(col("o_totalprice")).as("p"))

  /** One DML batch of `kind`: what it does to a lake table, what it does
    * to the replay, and the rows it touches (counted only when tracing). */
  private def batch(step: Int, kind: String): ((String => Long), DataFrame => DataFrame, Long) = {
    val salt = lit(seed * 1000 + step)
    def touched(df: => DataFrame) = if (rec.isTracing) df.count() else 0L
    kind match {
      case "delete" =>
        val cond = pmod(xxhash64(col("o_orderkey"), salt), lit(150L)) === 0
        (f => LakeTable.deleteWhere(spark, path(f), cond), _.filter(!cond),
          touched(replay.filter(cond)))
      case "update" =>
        val cond = pmod(xxhash64(col("o_orderkey"), salt), lit(120L)) === 1
        val set = Map("o_totalprice" -> (col("o_totalprice") + 10.0),
          "o_orderstatus" -> lit("U"))
        (f => LakeTable.update(spark, path(f), cond, set),
          df => df.select(df.columns.map(c => set.get(c)
            .map(e => when(cond, e).otherwise(col(c)).as(c))
            .getOrElse(col(c))): _*), touched(replay.filter(cond)))
      case _ =>
        val pick = Gen.u(seed, s"merge$step", col("o_orderkey"))
        val upd = base.filter(pick < 0.006)
          .withColumn("o_totalprice", col("o_totalprice") + 5.0)
        val ins = base.filter(pick >= 0.006 && pick < 0.012)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L * (step + 1))
        val src = upd.union(ins).localCheckpoint()
        (f => LakeTable.merge(spark, path(f), src, Seq("o_orderkey")),
          df => df.join(src.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
            .unionByName(src), touched(src))
    }
  }

  /** One step: a delete, an update and a merge batch, in a seeded order.
    * Each batch is applied to both formats and followed by a snapshot
    * read of each (merge-on-read: deletion vectors and delete files).
    * Then, per format, a time-travel read of the state before the step;
    * compaction — incremental refresh cannot read the deletion vectors and
    * delete files that the batches leave — an incremental refresh of the
    * lake-backed index, and the indexed-filter read. */
  def step(n: Int): Unit = {
    val (prior, priorState) = (versions, replay)
    new Random(seed * 17 + n).shuffle(Seq("delete", "update", "merge")).foreach { kind =>
      val (apply, onReplay, rows) = batch(n, kind)
      versions = fmts.map { f =>
        val before = Gen.du(path(f))
        val t0 = System.nanoTime()
        val v = rec.op("write", s"$kind.$f")(
          rec.span("sources", s"$kind.$f")(apply(f))).getOrElse(-1L)
        stat(s"lake.$f.${kind}_s", (System.nanoTime() - t0) / 1e9)
        val after = Gen.du(path(f))
        if (rows > 0) stat(s"lake.$f.bytes_written_per_user_byte",
          math.max(0L, after._1 - before._1) / (rows * bytesPerRow))
        f -> v
      }.toMap
      replay = onReplay(replay).localCheckpoint()
      val want = snapshotAgg(replay).collect()
      fmts.foreach { f =>
        rec.read(s"snapshot.$f")(snapshotAgg(resolve(f)))
          .foreach(r => rec.check(s"snapshot.$f@$n.$kind", r, want))
      }
    }
    val wantPrior = snapshotAgg(priorState).collect()
    val wantIndexed = indexedAgg(replay).collect()
    fmts.foreach { f =>
      rec.read(s"timetravel.$f")(snapshotAgg(rec.span("sources", s"resolve.$f")(
          LakeTable.readAsOf(spark, path(f), prior(f)))))
        .foreach(r => rec.check(s"timetravel.$f@$n", r, wantPrior))
      val t0 = System.nanoTime()
      rec.op("write", s"compact.$f")(rec.span("sources", s"compact.$f")(
        LakeTable.compact(spark, path(f))))
      stat(s"lake.$f.compact_s", (System.nanoTime() - t0) / 1e9)
      maint("refresh_incremental", s"covering.$f")(
        g.refreshIndex(s"lake_ci_$f", "incremental"))
      rec.read(s"indexed.$f")(indexedAgg(resolve(f)))
        .foreach(r => rec.check(s"indexed.$f@$n", r, wantIndexed))
    }
  }

  /** Both tables end with the replay's contents, row for row: as many
    * rows, and every replay row among them (as a multiset). */
  override def finish(): Unit = {
    val want = replay.count()
    fmts.foreach { f =>
      val got = LakeTable.read(spark, path(f))
      if (got.count() != want || !replay.exceptAll(got).isEmpty)
        rec.fail(s"final contents of $f differ from the replay")
    }
  }

  override def layerExtras: Seq[(String, Double, String)] =
    stats.toSeq.sortBy(_._1).map { case (k, v) =>
      (k, Stats.median(v), if (k.endsWith("_s")) "s" else "ratio") } ++
      fmts.map { f =>
        val log = if (f == "delta") s"${path(f)}/_delta_log" else s"${path(f)}/metadata"
        (s"lake.$f.log_files", Gen.du(log)._2.toDouble, "count")
      }
}

/** Long, shuffle- and skew-heavy corpus ops: curation, n-gram and MinHash
  * dedup, decontamination, PQ and IVF top-k, batch curation against the
  * MinHash index and ANN search, over a seeded corpus with planted near
  * duplicates. */
final class CorpusDedup(spark: SparkSession, seed: Long, srcDir: String,
    rec: Recorder) extends Workload(spark, seed, srcDir, rec) {
  private var sfDir = ""
  private var dir = ""
  private var annQ: DataFrame = _
  private var curate: DataFrame = _
  private val expected = mutable.Map.empty[String, Array[Row]]
  private var recall = Double.NaN
  val queries = Seq("pipeline_curate", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "decontam_ngram", "sim_pq_topk", "idx_ivfpq_topk")
  val apiOps = Seq("curate_batch", "ann_search", "near_duplicates")

  def generate(d: String): Unit = {
    dir = d
    sfDir = s"$dir/sf"
    val docs = Gen.source(spark, srcDir, "documents")
    val r = Gen.u(seed, "docs", col("doc_id"))
    // the corpus, plus planted near duplicates of a tenth of it (one
    // word dropped, new ids)
    val corpus = docs.filter(r < 0.3)
    val planted = docs.filter(r < 0.03)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
    Gen.writeSplit(corpus.unionByName(planted), s"$sfDir/documents.parquet", 4,
      seed, col("doc_id"))
    Gen.writeSplit(Gen.source(spark, srcDir, "embeddings")
        .filter(Gen.u(seed, "emb", col("vec_id")) < 0.6),
      s"$sfDir/embeddings.parquet", 4, seed, col("vec_id"))
    curate = Gen.curateBatch(docs, r, 0.3, 0.1, seed, s"$dir/curate")
    annQ = {
      val q = Gen.annQueries(spark.read.parquet(s"$sfDir/embeddings.parquet"), seed, 20)
      spark.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema)
    }
  }

  def build(): Double = {
    spark.conf.set(GraftConf.SystemPathKey, Workloads.accelSystemPath(spark, sfDir))
    val created = createAll(Seq(
      spark.read.parquet(s"$sfDir/documents.parquet") ->
        MinHashIndexConfig("corpus_mh", "doc_id", "text"),
      spark.read.parquet(s"$sfDir/embeddings.parquet") ->
        IvfIndexConfig("corpus_ivf", "vec_id", "embedding", k = 8, maxIter = 2)))
    // the PQ top-k query builds its own index on first use
    val (_, s) = timeIt(rec.span("index", "create.ivf")(
      SparkEntry.queries("idx_ivfpq_topk")(spark, sfDir)))
    rec.setupOps += (("create.ivf", s))
    created + s
  }

  override def prepare(): Unit = {
    queries.foreach(q => expected(q) = SparkEntry.queries(q)(plain, sfDir).collect())
    expected("near_duplicates") = {
      val e = new IndexManager(spark).getIndexes().find(_.name == "corpus_mh").get
      val d = e.descriptor.asInstanceOf[graft.index.minhash.MinHashIndexDescriptor]
      graft.index.minhash.MinHashSearch.selfPairs(plain, d,
        plain.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", 0.5)
        .select("id1", "id2", "est_jaccard").collect()
    }
  }

  def step(n: Int): Unit = {
    val order = new Random(seed * 104729 + n).shuffle(queries ++ apiOps)
    order.foreach {
      case "curate_batch" =>
        rec.read("curate_batch")(rec.span("search", "curate_batch")(
            g.curateBatch("corpus_mh", curate, "doc_id", "text")))
          .foreach(rows => Gen.checkCurated(rec, "curate_batch", rows, curate))
      case "ann_search" =>
        rec.read("ann_search")(rec.span("search", "ann")(
          g.annSearch("corpus_ivf", annQ, topK = 10, nProbe = 4)))
      case "near_duplicates" =>
        rec.read("near_duplicates")(rec.span("search", "minhash")(
            g.nearDuplicates("corpus_mh", 0.5)))
          .foreach(rows => rec.check("near_duplicates", rows, expected("near_duplicates")))
      case q =>
        rec.read(q)(SparkEntry.queries(q)(spark, sfDir))
          .foreach(rows => rec.check(q, rows, expected(q)))
    }
  }

  override def finish(): Unit = {
    recall = g.annRecall("corpus_ivf", annQ, topK = 10, nProbe = 4)
      .agg(avg(col("recall"))).head().getDouble(0)
    if (recall < MaintainDrift.RecallFloor)
      rec.fail(f"ann recall@10 $recall%.3f below floor ${MaintainDrift.RecallFloor}")
  }

  override def extras = Seq(("ann_recall_at_10", recall, "ratio"))
}
