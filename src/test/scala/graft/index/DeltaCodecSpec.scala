package graft.index

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.sources.{DeltaDeletionVectors => Dv, DeltaFeed, DeltaLog, DeltaTable, UnsupportedDeltaProtocolException}

/**
 * The one Delta log codec: every reader of `_delta_log` (snapshot
 * replay, history, the change feed, the stream feed, vacuum) decodes
 * actions through it, so the rules it owns hold for all of them at
 * once — JSON integer widths, an absent `dataChange` meaning true, an
 * undated tombstone never expiring, the DV descriptor decode, and the
 * refusal of a malformed action. Also pins what a checkpoint carries
 * for vacuum (the unexpired tombstones) and that checkpoint replay
 * collects the checkpoint in one Spark job.
 */
class DeltaCodecSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def writeRawCommit(root: String, version: Long,
      lines: Seq[String]): Unit = {
    val fs = fsOf(root)
    fs.mkdirs(DeltaLog.logDir(new Path(root)))
    val out = fs.create(new Path(DeltaLog.logDir(new Path(root)),
      f"$version%020d.json"), false)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def norm(p: String): String = p.replaceFirst("^file:/+", "/")

  /** Every message along a failure's cause chain. */
  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)

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
    val sentinel = s"graft-codec-sentinel-${System.nanoTime()}"
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

  test("checkpoint replay collects the checkpoint in one Spark job") {
    val root = tmp("graft-codec-jobs-")
    DeltaTable.create(customer.limit(20), root)
    DeltaTable.append(customer.limit(5), root, txn = Some(("app-1", 3L)))
    DeltaTable.setDomainMetadata(spark, root, "graft.test", """{"k":1}""")
    DeltaTable.checkpoint(spark, root)
    val expect = DeltaLog.snapshot(spark, root)
    var got: graft.index.sources.DeltaSnapshot = null
    // protocol, metaData, txn, domainMetadata, add and sidecar rows all
    // come off one collect of the (sidecar-less) checkpoint
    assert(jobsDuring { got = DeltaLog.snapshot(spark, root) } == 1)
    assert(got.files.map(_.path).toSet == expect.files.map(_.path).toSet)
    assert(got.files.size == 2)
    assert(got.transactions == Map("app-1" -> 3L))
    assert(got.liveDomains == Map("graft.test" -> """{"k":1}"""))
    assert(got.schemaString == expect.schemaString && got.tableId.isDefined)
  }

  test("vacuum keeps a file whose tombstone sits below a checkpoint " +
      "after the pre-checkpoint commits are gone") {
    val root = tmp("graft-codec-vac-")
    val fs = fsOf(root)
    def parquetFiles: Set[String] = fs.listStatus(new Path(root))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => norm(st.getPath.toString)).toSet
    DeltaTable.create(customer.filter(col("c_custkey") < 100), root)   // v0
    val v0Files = parquetFiles
    DeltaTable.create(customer.filter(col("c_custkey") >= 100), root)  // v1 removes v0
    DeltaTable.append(customer.limit(0), root)                         // v2
    DeltaTable.checkpoint(spark, root)
    Seq(0L, 1L).foreach(v => assert(fs.delete(
      new Path(DeltaLog.logDir(new Path(root)), f"$v%020d.json"), false)))
    // the removed files' own mtimes are far past any window: only the
    // tombstone (removed just now, carried by the checkpoint) keeps them
    v0Files.foreach(p => fs.setTimes(new Path(p), 1000L, -1))
    assert(DeltaTable.vacuum(spark, root).isEmpty)
    assert(v0Files.subsetOf(parquetFiles))
    assert(DeltaTable.read(spark, root).count() ==
      customer.filter(col("c_custkey") >= 100).count())
    // once the tombstone ages out they go
    val deleted = DeltaTable.vacuum(spark, root, retentionMs = 0L)
      .map(norm).toSet
    assert(deleted == v0Files)
  }

  test("vacuum keeps a file removed below a checkpoint that restates no " +
      "tombstone while the commit that removed it is retained") {
    val root = tmp("graft-codec-vac-old-")
    val fs = fsOf(root)
    def parquetFiles: Set[String] = fs.listStatus(new Path(root))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => norm(st.getPath.toString)).toSet
    DeltaTable.create(customer.filter(col("c_custkey") < 100), root)   // v0
    val v0Files = parquetFiles
    DeltaTable.create(customer.filter(col("c_custkey") >= 100), root)  // v1 removes v0
    DeltaTable.append(customer.limit(0), root)                         // v2
    DeltaTable.checkpoint(spark, root)
    // the checkpoint as a writer that restates no tombstones leaves it
    val ckpt = new Path(DeltaLog.logDir(new Path(root)),
      "00000000000000000002.checkpoint.parquet")
    val stage = new Path(root, ".ckpt-stage")
    val rows = spark.read.parquet(ckpt.toString)
    assert(rows.where(col("remove").isNotNull).count() > 0)
    rows.where(col("remove").isNull).coalesce(1).write.parquet(stage.toString)
    val part = fs.listStatus(stage).find(_.getPath.getName.endsWith(".parquet")).get
    assert(fs.delete(ckpt, false) && fs.rename(part.getPath, ckpt))
    fs.delete(stage, true)
    v0Files.foreach(p => fs.setTimes(new Path(p), 1000L, -1))
    // commit 1, below the checkpoint but retained, still dates the removal
    assert(DeltaTable.vacuum(spark, root).isEmpty)
    assert(v0Files.subsetOf(parquetFiles))
    assert(DeltaTable.vacuum(spark, root, retentionMs = 0L).map(norm).toSet == v0Files)
  }

  test("a checkpoint's remove is a tombstone only: the live add of the " +
      "same path under another deletion vector stays, in either row order") {
    val ckptSchema = Seq(
      "add STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>, " +
        "size: BIGINT, modificationTime: BIGINT, dataChange: BOOLEAN, " +
        "deletionVector: STRUCT<storageType: STRING, pathOrInlineDv: STRING, " +
        "offset: INT, sizeInBytes: INT, cardinality: BIGINT>>",
      "remove STRUCT<path: STRING, deletionTimestamp: BIGINT, dataChange: BOOLEAN, " +
        "deletionVector: STRUCT<storageType: STRING, pathOrInlineDv: STRING, " +
        "offset: INT, sizeInBytes: INT, cardinality: BIGINT>>",
      "metaData STRUCT<id: STRING, format: STRUCT<provider: STRING, " +
        "options: MAP<STRING, STRING>>, schemaString: STRING, " +
        "partitionColumns: ARRAY<STRING>, configuration: MAP<STRING, STRING>>",
      "protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT, " +
        "readerFeatures: ARRAY<STRING>, writerFeatures: ARRAY<STRING>>"
    ).mkString(", ")
    val schemaJson = customer.schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    def dv(positions: Long*): String = {
      val (blob, card) = Dv.serializePositions(positions.iterator)
      s"""{"storageType":"i","pathOrInlineDv":"${Dv.base85Encode(blob)}",""" +
        s""""sizeInBytes":${blob.length},"cardinality":$card}"""
    }
    val (dv1, dv2) = (dv(0L), dv(0L, 1L))
    Seq(true, false).foreach { addFirst =>
      val root = tmp("graft-codec-ckpt-dv-")
      val fs = fsOf(root)
      val size = writeOneFile(customer.filter(col("c_custkey").between(1, 10)),
        new Path(root, "f1.parquet"))
      def add(d: String) =
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$size,""" +
          s""""modificationTime":1,"dataChange":true,"deletionVector":$d}}"""
      val protocol = """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""
      val metaData = s"""{"metaData":{"id":"dv-ckpt","format":{"provider":"parquet",""" +
        s""""options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}"""
      val remove1 = s"""{"remove":{"path":"f1.parquet","deletionTimestamp":""" +
        s"""${System.currentTimeMillis()},"dataChange":true,"deletionVector":$dv1}}"""
      writeRawCommit(root, 0L, Seq(protocol, metaData, add(dv1)))
      writeRawCommit(root, 1L, Seq(remove1, add(dv2)))
      // the checkpoint at v1 as delta-spark may lay it out: the live
      // add(f1, dv2) and the restated tombstone remove(f1, dv1)
      val fileRows = if (addFirst) Seq(add(dv2), remove1) else Seq(remove1, add(dv2))
      import spark.implicits._
      val stage = new Path(root, ".ckpt-stage")
      spark.read.schema(ckptSchema).json((Seq(protocol, metaData) ++ fileRows).toDS())
        .coalesce(1).write.parquet(stage.toString)
      val part = fs.listStatus(stage).find(_.getPath.getName.endsWith(".parquet")).get
      assert(fs.rename(part.getPath, new Path(DeltaLog.logDir(new Path(root)),
        "00000000000000000001.checkpoint.parquet")))
      fs.delete(stage, true)
      val s = DeltaLog.snapshot(spark, root)
      assert(s.files.map(f => (new Path(f.path).getName, f.dv.map(_.cardinality))) ==
        Seq(("f1.parquet", Some(2L))), s"addFirst=$addFirst")
      assert(DeltaTable.read(spark, root).count() == 8L, s"addFirst=$addFirst")
      assert(DeltaTable.vacuum(spark, root, retentionMs = 0L).isEmpty)
    }
  }

  test("an add without a path is refused, naming the commit and the " +
      "action, by replay, the change feed and the stream") {
    val root = tmp("graft-codec-bad-")
    DeltaTable.create(customer.limit(5), root,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    writeRawCommit(root, 1L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"add":{"partitionValues":{},"size":4321,"modificationTime":1,"dataChange":true}}"""))
    def refused(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("commit 1") &&
        e.getMessage.contains("\"add\"") && e.getMessage.contains("4321"),
        e.getMessage)
    }
    refused(DeltaLog.snapshot(spark, root))
    refused(DeltaTable.changes(spark, root, 1L))
    refused(new DeltaFeed(spark, root, Map.empty).loads(0L, 1L, cdc = false))
    val out = tmp("graft-codec-bad-out-")
    val failure = intercept[Exception] {
      spark.readStream.format("graft-delta").load(root)
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(msgs(failure).exists(m =>
      m.contains("commit 1") && m.contains("4321")), msgs(failure))
  }

  /** Write `df` as exactly one parquet file at `target`; its length. */
  private def writeOneFile(df: DataFrame, target: Path): Long = {
    val fs = fsOf(target.getParent.toString)
    val stage = new Path(target.getParent, s".stage-${java.util.UUID.randomUUID()}")
    df.repartition(1).sortWithinPartitions("c_custkey").write.parquet(stage.toString)
    val part = fs.listStatus(stage).find(_.getPath.getName.endsWith(".parquet")).get
    fs.mkdirs(target.getParent)
    assert(fs.rename(part.getPath, target))
    fs.delete(stage, true)
    fs.getFileStatus(target).getLen
  }

  test("one foreign log, every reader: what replay, history, the change " +
      "feed, the stream feed and vacuum read from it") {
    val root = tmp("graft-codec-foreign-")
    val fs = fsOf(root)
    val keys = (lo: Int, hi: Int) => customer.filter(col("c_custkey").between(lo, hi))
    val f0Size = writeOneFile(keys(1, 10), new Path(root, "f0.parquet"))
    writeOneFile(keys(11, 20), new Path(root, "f1.parquet"))
    val cdcSize = writeOneFile(keys(1, 12).withColumn("_change_type", lit("delete")),
      new Path(root, "_change_data/c2.parquet"))
    // f1's first two rows (keys 11, 12) deleted by an inline DV
    val (blob, card) = Dv.serializePositions(Iterator(0L, 1L))
    val big = 5000000000L // an add size beyond Int.MaxValue
    val schemaJson = customer.schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    val ict = Seq(1700000000000L, 1700000001000L, 1700000002000L)
    // a foreign writer's shape: commitInfo LAST, no dataChange fields, an
    // undated remove
    writeRawCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors","changeDataFeed","domainMetadata"]}}""",
      s"""{"metaData":{"id":"foreign","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":1}}""",
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":$f0Size,"modificationTime":1}}""",
      s"""{"commitInfo":{"timestamp":1,"operation":"CREATE TABLE","inCommitTimestamp":${ict(0)}}}"""))
    writeRawCommit(root, 1L, Seq(
      """{"txn":{"appId":"ingest","version":7,"lastUpdated":1}}""",
      """{"domainMetadata":{"domain":"graft.fixture","configuration":"{\"k\":1}","removed":false}}""",
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$big,"modificationTime":2}}""",
      s"""{"commitInfo":{"timestamp":2,"operation":"WRITE","inCommitTimestamp":${ict(1)}}}"""))
    writeRawCommit(root, 2L, Seq(
      """{"remove":{"path":"f0.parquet"}}""",
      """{"remove":{"path":"f1.parquet","deletionTimestamp":3}}""",
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$big,"modificationTime":2,"deletionVector":{"storageType":"i","pathOrInlineDv":"${Dv.base85Encode(blob)}","sizeInBytes":${blob.length},"cardinality":$card}}}""",
      s"""{"cdc":{"path":"_change_data/c2.parquet","partitionValues":{},"size":$cdcSize,"dataChange":false}}""",
      s"""{"commitInfo":{"timestamp":3,"operation":"DELETE","inCommitTimestamp":${ict(2)}}}"""))

    val f0 = norm(new Path(root, "f0.parquet").toString)
    val feed = new DeltaFeed(spark, root, Map.empty)
    def replayed = {
      val s = DeltaLog.snapshot(spark, root)
      (s.files.map(f => (new Path(f.path).getName, f.size,
          f.dv.map(d => (d.storageType, d.cardinality)))),
        s.transactions, s.liveDomains,
        s.tombstones.map { case (p, r) => p -> r.deletedAt })
    }
    val expectReplay = (Seq(("f1.parquet", big, Some(("i", 2L)))),
      Map("ingest" -> 7L), Map("graft.fixture" -> """{"k":1}"""),
      Map(f0 -> Long.MaxValue))
    val changes = DeltaTable.changes(spark, root, 0L)
      .groupBy("_commit_version", "_change_type")
      .agg(count(lit(1)), max(col("_commit_timestamp")).cast("timestamp"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getTimestamp(3).getTime)).sortBy(_._1).toSeq
    val reads: Seq[(String, Any, Any)] = Seq(
      // integer widths, dataChange default, DV decode, undated tombstone
      ("replay", replayed, expectReplay),
      ("snapshot read", DeltaTable.read(spark, root).count(), 8L),
      // commitInfo found though written last; the in-commit clock
      ("history", DeltaTable.history(spark, root).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2))).toSeq,
        Seq((2L, ict(2), "DELETE"), (1L, ict(1), "WRITE"),
          (0L, ict(0), "CREATE TABLE"))),
      // dataChange-less adds are inserts; the cdc commit serves its file
      ("changes", changes, Seq((0L, "insert", 10L, ict(0)),
        (1L, "insert", 10L, ict(1)), (2L, "delete", 12L, ict(2)))),
      ("stream loads", feed.loads(-1L, 2L, cdc = false),
        Seq((0L, 1L, f0Size), (1L, 1L, big), (2L, 1L, big))),
      ("stream cdc loads", feed.loads(-1L, 2L, cdc = true).last,
        (2L, 2L, big + cdcSize)),
      ("stream appends", feed.appends(-1L, 1L, strict = true).count(), 20L),
      ("stream appends skipping the rewrite",
        feed.appends(1L, 2L, strict = false).count(), 0L))
    reads.foreach { case (reader, got, want) =>
      assert(got == want, s"$reader read $got, expected $want")
    }
    intercept[UnsupportedDeltaProtocolException](feed.appends(1L, 2L, strict = true))

    // vacuum: the undated tombstone never expires, so f0 stays at zero
    // retention though its mtime is ancient; the aged cdc file goes.
    // The checkpoint restates the tombstone, so the rule outlives the
    // commits below it.
    fs.setTimes(new Path(f0), 1000L, -1)
    assert(DeltaTable.vacuum(spark, root, retentionMs = 0L).map(norm) ==
      Seq(norm(new Path(root, "_change_data/c2.parquet").toString)))
    DeltaTable.checkpoint(spark, root)
    Seq(0L, 1L).foreach(v => assert(fs.delete(
      new Path(DeltaLog.logDir(new Path(root)), f"$v%020d.json"), false)))
    assert(replayed == expectReplay)
    assert(DeltaTable.vacuum(spark, root, retentionMs = 0L).isEmpty)
    assert(fs.exists(new Path(f0)))
  }
}
