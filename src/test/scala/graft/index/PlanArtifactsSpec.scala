package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, Tables, TestSpark}
import graft.index.covering.CoveringIndexConfig
import graft.index.rules.PlanArtifacts

/**
 * The one cache of derived state, [[PlanArtifacts]]: it must be
 * (a) actually caching — one computation per key and per session —,
 * (b) structurally incapable of serving stale content: every key embeds
 * what would invalidate it (an index's LOG ID, or the signature of every
 * leaf file a read resolves to, so an in-place rewrite of one part file
 * inside a directory re-derives), and (c) bounded: a per-session LRU of
 * [[PlanArtifacts.Capacity]] entries where a failed computation leaves
 * nothing behind.
 */
class PlanArtifactsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("getOrCompute computes once per key and per session") {
    var n = 0
    def inc(): Integer = { n += 1; Integer.valueOf(n) }
    val k = "spec#" + java.util.UUID.randomUUID()
    assert(PlanArtifacts.getOrCompute(spark, k)(inc()) == 1)
    assert(PlanArtifacts.getOrCompute(spark, k)(inc()) == 1) // cached
    assert(n == 1)
    assert(PlanArtifacts.getOrCompute(spark, k + "/other")(inc()) == 2)
  }

  test("bounded: Capacity + 1000 distinct keys leave at most Capacity " +
      "entries, and a key touched just before the overflow still hits") {
    val s = spark.newSession()
    val cap = PlanArtifacts.Capacity
    var hotRuns = 0
    def hot(): AnyRef =
      PlanArtifacts.getOrCompute(s, "spec#hot") { hotRuns += 1; "hot" }
    def put(i: Int): AnyRef =
      PlanArtifacts.getOrCompute(s, s"spec#$i")(Integer.valueOf(i))
    hot()
    (1 until cap).foreach(put(_))
    assert(PlanArtifacts.size(s) == cap)
    hot() // the oldest key, touched just before ...
    put(cap) // ... the overflow
    hot()
    assert(hotRuns == 1, "the key touched before the overflow was evicted")
    (cap + 1 to cap + 1000).foreach { i =>
      put(i)
      assert(PlanArtifacts.size(s) <= cap)
    }
    // the least recently used keys were evicted: they compute again
    var recomputed = false
    PlanArtifacts.getOrCompute(s, "spec#1") { recomputed = true; "again" }
    assert(recomputed)
  }

  test("a computation that throws leaves no entry; the next call computes") {
    val s = spark.newSession()
    intercept[IllegalStateException](
      PlanArtifacts.getOrCompute[AnyRef](s, "spec#throws")(
        throw new IllegalStateException("listing failed")))
    assert(PlanArtifacts.size(s) == 0)
    var runs = 0
    assert(PlanArtifacts.getOrCompute(s, "spec#throws") { runs += 1; "ok" } == "ok")
    assert(PlanArtifacts.getOrCompute(s, "spec#throws") { runs += 1; "no" } == "ok")
    assert(runs == 1)
  }

  test("a computation may itself call getOrCompute") {
    val s = spark.newSession()
    val outer = PlanArtifacts.getOrCompute(s, "spec#outer") {
      PlanArtifacts.getOrCompute(s, "spec#inner")("inner") + "+outer"
    }
    assert(outer == "inner+outer")
    assert(PlanArtifacts.size(s) == 2)
  }

  test("index-scan artifacts roll over with the log id: a refreshed " +
      "index serves the appended rows, never the cached old content") {
    val sys = Files.createTempDirectory("graft-pa-sys-").toString
    val src = Files.createTempDirectory("graft-pa-src-").toString + "/t"
    spark.conf.set(GraftConf.SystemPathKey, sys)
    try {
      val g = new Graft(spark)
      spark.range(0, 100).select(col("id").as("k"),
        (col("id") * 2).as("v")).write.parquet(src)
      g.createIndex(spark.read.parquet(src),
        CoveringIndexConfig("pa_ci", Seq("k"), Seq("v")))
      def served(): Long = {
        val df = spark.read.parquet(src).filter(col("k") >= 0)
          .groupBy().agg(sum(col("v"))).as("s")
        val applied = graft.index.rules.IndexCandidates
          .appliedIn(df.queryExecution.optimizedPlan)
        assert(applied.contains("pa_ci"),
          s"index must serve; applied=$applied\n" +
            df.queryExecution.optimizedPlan)
        df.collect()(0).getLong(0)
      }
      assert(served() == (0L until 100L).map(_ * 2).sum)
      // append + refresh: new log id => new artifact keys; the query must
      // see the appended rows through the refreshed index
      spark.range(100, 150).select(col("id").as("k"),
        (col("id") * 2).as("v")).write.mode("append").parquet(src)
      g.refreshIndex("pa_ci", "incremental")
      assert(served() == (0L until 150L).map(_ * 2).sum)
    } finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      graft.index.rules.IndexCatalog.invalidate(spark)
    }
  }

  test("Tables.load relation cache re-resolves when the file changes") {
    val dir = Files.createTempDirectory("graft-pa-tbl-").toString
    val p = Tables.path(dir, "orders")
    spark.range(0, 10).toDF("o_orderkey").coalesce(1).write
      .mode("overwrite").parquet("/tmp/__pa_tmp1")
    val f1 = new java.io.File("/tmp/__pa_tmp1").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(f1.toPath, java.nio.file.Paths.get(p))
    assert(Tables.load(spark, dir, "orders").count() == 10)
    assert(Tables.load(spark, dir, "orders").count() == 10) // cached plan
    // replace the file with different content (different length => the
    // (mtime, length) stamp misses even within mtime granularity)
    spark.range(0, 25).toDF("o_orderkey").coalesce(1).write
      .mode("overwrite").parquet("/tmp/__pa_tmp2")
    val f2 = new java.io.File("/tmp/__pa_tmp2").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(f2.toPath, java.nio.file.Paths.get(p),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.load(spark, dir, "orders").count() == 25)
  }

  test("Tables.load re-resolves a directory dataset when one part file " +
      "is rewritten in place with the same length") {
    val dir = Files.createTempDirectory("graft-pa-dir-").toString
    val table = new java.io.File(Tables.path(dir, "orders"))
    table.mkdirs()
    // single-file parts of ten fixed-width keys, plain and uncompressed:
    // equal lengths for any key range
    def part(from: Long): Array[Byte] = {
      val out = Files.createTempDirectory("graft-pa-part-").toString
      spark.range(from, from + 10).toDF("o_orderkey").coalesce(1).write
        .option("compression", "none")
        .option("parquet.enable.dictionary", "false")
        .mode("overwrite").parquet(out)
      Files.readAllBytes(new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath)
    }
    val p0 = new java.io.File(table, "part-00000.parquet")
    val p1 = new java.io.File(table, "part-00001.parquet")
    Files.write(p0.toPath, part(0))
    Files.write(p1.toPath, part(100))
    def newRows(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("o_orderkey") >= 1000).count()
    val before = Tables.load(spark, dir, "orders")
    assert(Tables.load(spark, dir, "orders") eq before) // cached plan
    assert(newRows(before) == 0)
    val rewrite = part(1000)
    assert(rewrite.length == p1.length(), "the rewrite must keep the length")
    val mtime = p1.lastModified()
    // in place: same inode, so the directory's own status does not move
    Files.write(p1.toPath, rewrite)
    assert(p1.setLastModified(mtime + 5000))
    val after = Tables.load(spark, dir, "orders")
    assert(!(after eq before), "the rewritten part file did not re-resolve")
    assert(newRows(after) == 10)
    assert(after.count() == 20)
  }
}
