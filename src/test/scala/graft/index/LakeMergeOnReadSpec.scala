package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.sources.{DeltaDeletionVectors => Dv, DeltaLog, DeltaTable, FileSequence, IcebergMeta, IcebergTable, LakeTable, RowDeleted}

/**
 * Merge-on-read inside the lake scan, table-driven over Delta and
 * Iceberg: every read of a state with positional deletes (deletion
 * vectors, position-delete files) equals a plain-DataFrame replay of the
 * same DML, and its executed plan is the plan of a read without deletes
 * plus one `row_deleted` filter — no join, no broadcast exchange, no
 * scan of a DV or delete file — running as many Spark jobs as the same
 * read of the table before any delete. Iceberg equality deletes (what
 * `merge` writes there) keep their one key anti-join and no other.
 */
class LakeMergeOnReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")
      .repartition(4, col("c_custkey"))

  private val formats = Seq("delta", "iceberg")

  /** A fresh table of `df`; returns (root, the created version / snapshot id). */
  private def create(fmt: String, df: DataFrame,
      partitionBy: Seq[String] = Nil): (String, Long) = {
    val root = Files.createTempDirectory(s"graft-mor-$fmt-").toString
    val v = fmt match {
      case "delta" => DeltaTable.create(df, root, partitionBy = partitionBy)
      case _ => IcebergTable.create(df, root, partitionColumns = partitionBy)
    }
    (root, v)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Spark jobs started while `body` runs; a sentinel job afterwards
    * flushes the asynchronous listener bus. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sentinel = s"graft-mor-sentinel-${System.nanoTime()}"
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 20000
      while (!seen.asScala.exists(_ == sentinel) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.asScala.exists(_ == sentinel), "listener bus stalled")
      seen.asScala.count(_ != sentinel)
    } finally sc.removeSparkListener(listener)
  }

  private def sameRows(label: String, got: DataFrame, want: DataFrame): Unit = {
    val g = got.select(want.columns.map(col): _*)
    assert(g.count() == want.count(), s"$label: row count")
    assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty,
      s"$label: rows differ from the replay")
  }

  /** `read()` equals `replay`; its plan applies positional deletes in
    * the scan (plus `eqJoins` equality-delete anti-joins and their
    * delete-file scans); a collect runs as many jobs as one of `clean()`. */
  private def checkRead(label: String, read: () => DataFrame,
      replay: DataFrame, clean: () => DataFrame, eqJoins: Int = 0): Unit = {
    val df = read()
    sameRows(label, df, replay)
    val plan = nodes(df.queryExecution.executedPlan)
    def uses(cls: Class[_]) =
      plan.exists(_.expressions.exists(_.find(cls.isInstance).isDefined))
    assert(uses(if (eqJoins == 0) classOf[RowDeleted] else classOf[FileSequence]),
      s"$label: no in-scan lookup in\n${df.queryExecution.executedPlan}")
    assert(plan.count(_.isInstanceOf[BaseJoinExec]) == eqJoins,
      s"$label: joins in\n${df.queryExecution.executedPlan}")
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1 + eqJoins, s"$label: scans in\n${df.queryExecution.executedPlan}")
    val scanned = scans.flatMap(_.relation.location.inputFiles)
    assert(!scanned.exists(f => f.endsWith(".bin") || f.contains("/delete-")),
      s"$label: a deletion vector or position-delete file is scanned: $scanned")
    if (eqJoins == 0) {
      assert(!plan.exists(_.isInstanceOf[BroadcastExchangeExec]),
        s"$label: broadcast in\n${df.queryExecution.executedPlan}")
      val withDeletes = jobsDuring(read().collect())
      val without = jobsDuring(clean().collect())
      assert(withDeletes == without,
        s"$label: $withDeletes jobs with deletes vs $without without")
    }
  }

  private val drop7: Column = col("c_custkey") % 7 === 3
  private val drop5: Column = col("c_custkey") % 5 === 1

  for (fmt <- formats) {
    test(s"$fmt deleteWhere: deleted rows filter in the scan") {
      val base = customer
      val (root, v0) = create(fmt, base)
      LakeTable.deleteWhere(spark, root, drop7)
      checkRead(s"$fmt delete", () => LakeTable.read(spark, root),
        base.filter(!drop7), () => LakeTable.readAsOf(spark, root, v0))
    }

    test(s"$fmt update: the old versions filter in the scan") {
      val base = customer
      val (root, v0) = create(fmt, base)
      val set = Map("c_acctbal" -> (col("c_acctbal") + 10.0))
      LakeTable.update(spark, root, drop5, set)
      checkRead(s"$fmt update", () => LakeTable.read(spark, root),
        base.withColumn("c_acctbal",
          when(drop5, col("c_acctbal") + 10.0).otherwise(col("c_acctbal"))),
        () => LakeTable.readAsOf(spark, root, v0))
    }

    test(s"$fmt merge: matched rows replaced, unmatched inserted") {
      val base = customer
      val (root, v0) = create(fmt, base)
      val src = base.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 5.0)
        .unionByName(base.filter(col("c_custkey") % 10 === 1)
          .withColumn("c_custkey", col("c_custkey") + 100000L))
        .localCheckpoint()
      LakeTable.merge(spark, root, src, Seq("c_custkey"))
      // Iceberg merges commit an equality delete: one key anti-join
      checkRead(s"$fmt merge", () => LakeTable.read(spark, root),
        base.join(src.select("c_custkey"), Seq("c_custkey"), "left_anti")
          .unionByName(src),
        () => LakeTable.readAsOf(spark, root, v0),
        eqJoins = if (fmt == "iceberg") 1 else 0)
    }

    test(s"$fmt the same rows deleted twice, then an overlapping delete") {
      val base = customer
      val (root, v0) = create(fmt, base)
      LakeTable.deleteWhere(spark, root, drop7)
      LakeTable.deleteWhere(spark, root, drop7)
      LakeTable.deleteWhere(spark, root, drop5)
      checkRead(s"$fmt twice", () => LakeTable.read(spark, root),
        base.filter(!drop7 && !drop5), () => LakeTable.readAsOf(spark, root, v0))
    }

    test(s"$fmt hive-partitioned table") {
      val base = customer
      val (root, v0) = create(fmt, base, partitionBy = Seq("c_mktsegment"))
      LakeTable.deleteWhere(spark, root, drop7)
      checkRead(s"$fmt partitioned", () => LakeTable.read(spark, root),
        base.filter(!drop7), () => LakeTable.readAsOf(spark, root, v0))
    }

    test(s"$fmt readAsOf a version with deletes") {
      val base = customer
      val (root, v0) = create(fmt, base)
      val v1 = LakeTable.deleteWhere(spark, root, drop7)
      LakeTable.deleteWhere(spark, root, drop5)
      checkRead(s"$fmt asOf", () => LakeTable.readAsOf(spark, root, v1),
        base.filter(!drop7), () => LakeTable.readAsOf(spark, root, v0))
    }
  }

  test("delta column mapping: deletes apply under the renamed column") {
    val base = customer
    val (root, v0) = create("delta", base)
    DeltaTable.renameColumn(spark, root, "c_acctbal", "balance")
    LakeTable.deleteWhere(spark, root, col("balance") > 5000.0)
    checkRead("delta column mapping", () => LakeTable.read(spark, root),
      base.withColumnRenamed("c_acctbal", "balance").filter(!(col("balance") > 5000.0)),
      () => LakeTable.readAsOf(spark, root, v0))
  }

  test("delta inline and file-backed deletion vectors in one snapshot") {
    val base = customer
    val (root, v0) = create("delta", base)
    LakeTable.deleteWhere(spark, root, drop7)
    // re-commit ONE file's deletion vector inline (same positions): the
    // snapshot then mixes an inline DV with file-backed ones
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val s1 = DeltaLog.snapshot(spark, root)
    val f = s1.files.find(_.dv.exists(_.cardinality > 0)).get
    val dvFile = f.dv.get.absolutePath(new Path(root)).get
    val bytes = {
      val buf = new Array[Byte](fs.getFileStatus(dvFile).getLen.toInt)
      val in = fs.open(dvFile)
      try in.readFully(0, buf) finally in.close()
      buf
    }
    val (blob, card) = Dv.serializePositions(Dv.positionsOf(f.dv.get, Some(bytes)).iterator)
    val rel = new Path(f.path).getName
    val commit1 = new String(Files.readAllBytes(java.nio.file.Paths.get(
      s"$root/_delta_log/00000000000000000001.json")), StandardCharsets.UTF_8)
    val add = commit1.split("\n").map(l => JsonMethods.parse(l))
      .find(j => (j \ "add" \ "path") match {
        case JString(p) => p == rel
        case _ => false
      }).get
    val inlineAdd = add.transformField {
      case ("deletionVector", _) => ("deletionVector", JObject(
        "storageType" -> JString("i"),
        "pathOrInlineDv" -> JString(Dv.base85Encode(blob)),
        "sizeInBytes" -> JInt(blob.length),
        "cardinality" -> JLong(card)))
    }
    val lines = Seq(
      s"""{"remove":{"path":"$rel","deletionTimestamp":1,"dataChange":true}}""",
      JsonMethods.compact(JsonMethods.render(inlineAdd)))
    val out = fs.create(new Path(root, "_delta_log/00000000000000000002.json"), false)
    try out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val s2 = DeltaLog.snapshot(spark, root)
    assert(s2.files.exists(_.dv.exists(_.storageType == "i")) &&
      s2.files.exists(_.dv.exists(_.storageType == "u")))
    checkRead("delta inline+file DVs", () => LakeTable.read(spark, root),
      base.filter(!drop7), () => LakeTable.readAsOf(spark, root, v0))
  }

  test("delta CDF removed-file leg drops the rows its DV had already deleted") {
    val base = customer
    val root = Files.createTempDirectory("graft-mor-cdf-").toString
    DeltaTable.create(base, root,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaTable.deleteWhere(spark, root, drop7)
    // a cdc-less commit removing one DV-bearing file whole (the shape a
    // non-CDF-aware writer produces): its delete rows are the file's rows
    // minus the positions its DV had deleted
    val f = DeltaLog.snapshot(spark, root).files.find(_.dv.exists(_.cardinality > 0)).get
    val rel = new Path(f.path).getName
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(root, "_delta_log/00000000000000000002.json"), false)
    try out.write(s"""{"remove":{"path":"$rel","deletionTimestamp":1,"dataChange":true}}\n"""
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val feed = DeltaTable.changes(spark, root, 2L)
    sameRows("delta cdf removed", feed.drop("_change_type", "_commit_version", "_commit_timestamp"),
      spark.read.parquet(f.path).filter(!drop7))
    val plan = nodes(feed.queryExecution.executedPlan)
    assert(plan.exists(_.expressions.exists(_.find(_.isInstanceOf[RowDeleted]).isDefined)))
    assert(!plan.exists(p => p.isInstanceOf[BaseJoinExec] || p.isInstanceOf[BroadcastExchangeExec]),
      s"delta cdf removed: join or broadcast in\n${feed.queryExecution.executedPlan}")
    assert(plan.count(_.isInstanceOf[FileSourceScanExec]) == 1)
  }

  test("iceberg changelog delete victims: named rows minus those already deleted") {
    val base = customer
    val (root, v0) = create("iceberg", base)
    val s1 = LakeTable.deleteWhere(spark, root, drop7)
    val s2 = LakeTable.deleteWhere(spark, root, drop5)
    val feed = IcebergTable.incrementalChanges(spark, root, v0)
    def victims(sid: Long) = feed.filter(col("_commit_snapshot_id") === sid &&
      col("_change_type") === "delete")
      .drop("_change_type", "_commit_snapshot_id", "_commit_timestamp")
    sameRows("iceberg victims 1", victims(s1), base.filter(drop7))
    sameRows("iceberg victims 2", victims(s2), base.filter(drop5 && !drop7))
    val plan = nodes(feed.queryExecution.executedPlan)
    assert(!plan.exists(p => p.isInstanceOf[BaseJoinExec] || p.isInstanceOf[BroadcastExchangeExec]),
      s"iceberg victims: join or broadcast in\n${feed.queryExecution.executedPlan}")
    val scanned = plan.collect { case s: FileSourceScanExec => s }
      .flatMap(_.relation.location.inputFiles)
    val dataFiles = IcebergMeta.snapshot(spark, root).files
      .map(f => new Path(f.path).getName).toSet
    assert(scanned.forall(p => dataFiles.contains(new Path(p).getName)),
      s"iceberg victims: a delete file is scanned: $scanned")
  }
}
