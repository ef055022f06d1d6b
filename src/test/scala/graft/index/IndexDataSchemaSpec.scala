package graft.index

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}
import graft.index.ivf.{IvfBuild, IvfIndexConfig, IvfIndexDescriptor}
import graft.index.minhash.{MinHashBuild, MinHashIndexConfig, MinHashIndexDescriptor}

/** Index data is read under the schema its log entry recorded: building
  * the read starts no Spark job (a plain `spark.read.parquet` starts a
  * footer-inference job), and the schema is the one inference reports.
  * An entry logged without a schema still infers. */
class IndexDataSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A started job: (its last stage's call site, inside a SQL execution,
    * description). */
  private case class Job(callSite: String, inSql: Boolean, description: String)

  /** `body`'s result and the jobs started while it ran. A sentinel job
    * afterwards flushes the asynchronous listener bus. */
  private def jobsDuring[T](body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        def prop(k: String) = p.map(_.getProperty(k)).orNull
        seen.add(Job(js.stageInfos.lastOption.map(_.name).orNull,
          prop("spark.sql.execution.id") != null, prop("spark.job.description")))
      }
    }
    val sentinel = s"graft-sentinel-${System.nanoTime()}"
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 20000
      while (!seen.asScala.exists(_.description == sentinel) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.asScala.exists(_.description == sentinel), "listener bus stalled")
      (out, seen.asScala.toSeq.filterNot(_.description == sentinel))
    } finally sc.removeSparkListener(listener)
  }

  private def withGraft[T](body: (Graft, String) => T): T = {
    val sys = Files.createTempDirectory("graft-schema-sys-").toString
    val src = Files.createTempDirectory("graft-schema-src-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    try body(new Graft(spark), src)
    finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  private def entry(g: Graft, name: String): IndexLogEntry =
    g.indexManager.getIndexes().find(_.name == name).get

  test("IVF readIndexData: no job, the inferred schema") {
    withGraft { (g, _) =>
      g.createIndex(spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet"),
        IvfIndexConfig("schema_ivf", "vec_id", "embedding", k = 4, maxIter = 1))
      val e = entry(g, "schema_ivf")
      val d = e.descriptor.asInstanceOf[IvfIndexDescriptor]
      assert(d.schemaJson.nonEmpty)
      val (df, jobs) = jobsDuring(IvfBuild.readIndexData(spark, e.content, d.schemaJson))
      assert(jobs.isEmpty, s"building the read started jobs: $jobs")
      val inferred = spark.read.option("basePath", e.content.root)
        .parquet(e.content.filePaths: _*)
      assert(df.schema == inferred.schema)
      assert(df.count() == inferred.count())
    }
  }

  test("MinHash readIndexData: no job, the inferred schema; an empty " +
      "schemaJson still infers") {
    withGraft { (g, _) =>
      g.createIndex(spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet"),
        MinHashIndexConfig("schema_mh", "doc_id", "text"))
      val e = entry(g, "schema_mh")
      val d = e.descriptor.asInstanceOf[MinHashIndexDescriptor]
      assert(d.schemaJson.nonEmpty)
      val (df, jobs) = jobsDuring(MinHashBuild.readIndexData(spark, e.content, d.schemaJson))
      assert(jobs.isEmpty, s"building the read started jobs: $jobs")
      val inferred = spark.read.parquet(e.content.filePaths: _*)
      assert(df.schema == inferred.schema)
      assert(df.count() == inferred.count())

      val (legacy, legacyJobs) =
        jobsDuring(IndexData.parquet(spark, "", e.content.filePaths))
      assert(legacyJobs.nonEmpty, "an empty schemaJson should infer")
      assert(legacy.schema == inferred.schema)
      assert(legacy.count() == inferred.count())
    }
  }

  test("an incremental refresh reads old index data without inference") {
    withGraft { (g, src) =>
      spark.conf.set(GraftConf.LineageKey, "true")
      try {
        spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
          .select("l_orderkey", "l_quantity").repartition(3)
          .write.mode("overwrite").parquet(src)
        g.createIndex(spark.read.parquet(src), covering.CoveringIndexConfig(
          "schema_ci", Seq("l_orderkey"), Seq("l_quantity")))
        // a deleted file sends the refresh down the rewrite path, which
        // reads the old index data
        val victim = Files.list(Paths.get(src)).iterator().asScala
          .find(_.getFileName.toString.startsWith("part-")).get
        Files.delete(victim)
        val (_, jobs) = jobsDuring(g.refreshIndex("schema_ci", "incremental"))
        val outsideSql = jobs.filterNot(_.inSql)
        assert(outsideSql.isEmpty, s"jobs outside a SQL execution: $outsideSql")
        val e = entry(g, "schema_ci")
        assert(spark.read.parquet(e.content.filePaths: _*).count() ==
          spark.read.parquet(src).count())
      } finally spark.conf.unset(GraftConf.LineageKey)
    }
  }

  test("data-skipping build logs the schema a read of its data reports") {
    withGraft { (g, _) =>
      g.createIndex(spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet"),
        dataskipping.DataSkippingIndexConfig("schema_ds",
          Seq(dataskipping.SketchSpec.minMax("l_orderkey"),
            dataskipping.SketchSpec.bloom("l_suppkey"))))
      val e = entry(g, "schema_ds")
      assert(e.descriptor.schemaJson ==
        spark.read.parquet(e.content.filePaths: _*).schema.json)
    }
  }
}
