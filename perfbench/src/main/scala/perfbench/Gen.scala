package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's seeded input generator. Every workload input is
  * derived from the read-only source tables: a row's membership in a
  * sample, its file, its batch and any perturbation are pure functions of
  * (seed, salt, row key), so one seed always gives the same inputs and
  * the program only ever sees the generated files. */
object Gen {
  private val Scale = 1L << 30

  /** A value uniform in [0, 1) per row, fixed by the seed and a salt. */
  def u(seed: Long, salt: String, keys: Column*): Column =
    pmod(xxhash64((keys :+ lit(seed) :+ lit(salt)): _*), lit(Scale))
      .cast("double") / Scale.toDouble

  def source(spark: SparkSession, srcDir: String, table: String): DataFrame =
    spark.read.parquet(s"$srcDir/$table.parquet")

  /** Write `df` as `files` parquet files under `dir`, each row's file
    * fixed by the seed. */
  def writeSplit(df: DataFrame, dir: String, files: Int, seed: Long,
      keys: Column*): Unit =
    writeByFile(df.withColumn("__f",
      pmod(xxhash64((keys :+ lit(seed)): _*), lit(files.toLong)).cast("int")), _ => dir)

  /** Write each row of `df` into the file numbered by its int column `__f`
    * (rows where it is null are dropped) in the directory `dirOf(number)`:
    * one partitioned write, whose per-value files are then moved into
    * place. */
  def writeByFile(df: DataFrame, dirOf: Int => String): Unit = {
    val tmp = dirOf(0) + ".split"
    df.filter(col("__f").isNotNull).write.partitionBy("__f").parquet(tmp)
    val parts = Files.list(Paths.get(tmp))
    try parts.iterator().forEachRemaining { d =>
      val name = d.getFileName.toString
      if (name.startsWith("__f=")) {
        val n = name.stripPrefix("__f=").toInt
        val target = Paths.get(dirOf(n))
        Files.createDirectories(target)
        dataFiles(d.toString).zipWithIndex.foreach { case (f, i) =>
          Files.move(f, target.resolve(f"part-$n%05d-$i%03d.parquet"))
        }
      }
    } finally parts.close()
    rmrf(tmp)
  }

  /** Bytes and count of regular files under `dir` (0 when missing). */
  def du(dir: String): (Long, Int) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L; var n = 0
        s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); n += 1 }
        (bytes, n)
      } finally s.close()
    }
  }

  /** Parquet data files (not Spark's markers) directly under `dir`. */
  def dataFiles(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try {
      val it = s.iterator()
      val b = Seq.newBuilder[Path]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getFileName.toString
        if (n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")) b += f
      }
      b.result().sortBy(_.getFileName.toString)
    } finally s.close()
  }

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Offset of the ids of planted corpus copies in a curate batch. */
  val PlantedId = 2000000L

  /** A curate batch written under `dir`: a `share` of the unseen
    * documents (`r` >= 0.3) plus copies of a `share` of the corpus
    * documents (`r` < `corpusCut`) under new ids from [[PlantedId]] up,
    * which curation must drop. */
  def curateBatch(docs: DataFrame, r: Column, corpusCut: Double, share: Double,
      seed: Long, dir: String): DataFrame = {
    val rb = u(seed, "curate", col("doc_id"))
    docs.filter(r >= 0.3 && rb < share)
      .unionByName(docs.filter(r < corpusCut && rb < share)
        .withColumn("doc_id", col("doc_id") + PlantedId))
      .select("doc_id", "text").write.parquet(dir)
    docs.sparkSession.read.parquet(dir)
  }

  /** Curation keeps some of the batch's unseen rows, unchanged, and drops
    * every planted copy. */
  def checkCurated(rec: Recorder, what: String, rows: Array[Row],
      batch: DataFrame): Unit = {
    val unseen = batch.collect().filter(_.getAs[Long]("doc_id") < PlantedId).toSet
    if (rows.exists(_.getAs[Long]("doc_id") >= PlantedId))
      rec.fail(s"$what kept a planted corpus duplicate")
    else if (rows.isEmpty || !rows.forall(unseen))
      rec.fail(s"$what kept ${rows.length} rows, not a non-empty subset of the batch")
  }

  /** Seeded ANN query vectors: `n` embeddings of `emb` moved by a small
    * per-component perturbation, as (qid, qv). */
  def annQueries(emb: DataFrame, seed: Long, n: Int): DataFrame =
    emb.orderBy(u(seed, "annq", col("vec_id")))
      .limit(n)
      .select(col("vec_id").as("qid"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + (u(seed, "annp", col("vec_id"), i) - 0.5) * 0.02)
            .cast("float")).as("qv"))
}
