package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}
import graft.index.covering.CoveringIndexConfig
import graft.index.sources.{IcebergMeta, IcebergTable}

/**
 * Jarless Iceberg support: metadata.json + avro manifest-list/manifest
 * replay, snapshot-pinned reads, the fixture writer, schema conversion,
 * and the index lifecycle over an Iceberg table (reference semantics:
 * sources/iceberg/IcebergRelation.scala — signature = snapshot id +
 * location, files from the metadata walk).
 */
class IcebergMetaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("create + append: snapshots advance, read sees the union") {
    val loc = tmp("graft-ice-")
    val a = customer.filter(col("c_custkey") % 2 === 0)
    val b = customer.filter(col("c_custkey") % 2 === 1)
    assert(IcebergTable.create(a, loc) == 1L)
    assert(IcebergMeta.snapshot(spark, loc).snapshotId == 1L)
    assert(IcebergTable.read(spark, loc).count() == a.count())

    assert(IcebergTable.append(b, loc) == 2L)
    val s = IcebergMeta.snapshot(spark, loc)
    assert(s.snapshotId == 2L)
    val got = IcebergTable.read(spark, loc)
    assert(got.count() == customer.count())
    assert(got.select(sum(col("c_custkey"))).head().getLong(0) ==
      customer.select(sum(col("c_custkey"))).head().getLong(0))
    // the spark schema round-trips through the iceberg schema json
    assert(s.schema == customer.schema)
  }

  test("time travel: snapshotAsOf pins a retained snapshot's file set") {
    val loc = tmp("graft-ice-tt-")
    val a = customer.filter(col("c_custkey") % 2 === 0)
    val b = customer.filter(col("c_custkey") % 2 === 1)
    IcebergTable.create(a, loc)
    IcebergTable.append(b, loc)

    // latest sees both commits; snapshot 1 sees only the first
    assert(IcebergTable.read(spark, loc).count() == customer.count())
    val pinned = IcebergTable.read(spark, loc, snapshotAsOf = Some(1L))
    assert(pinned.count() == a.count())
    assert(pinned.select(sum(col("c_custkey"))).head().getLong(0) ==
      a.select(sum(col("c_custkey"))).head().getLong(0))
    // pinned frames stay pinned across further commits
    IcebergTable.append(customer.limit(5), loc)
    assert(pinned.count() == a.count())

    val err = intercept[IllegalArgumentException] {
      IcebergTable.read(spark, loc, snapshotAsOf = Some(99L)).count()
    }
    assert(err.getMessage.contains("snapshotAsOf 99"))
  }

  test("schema conversion round-trips primitives, decimals, and nesting") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("bin", BinaryType),
      StructField("dec", DecimalType(12, 3)),
      StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("nested", StructType(Seq(
        StructField("x", LongType), StructField("y", StringType))))))
    val rt = IcebergMeta.icebergSchemaToSpark(
      IcebergMeta.sparkSchemaToIceberg(schema))
    assert(rt == schema)
  }

  /** Rewrite an avro file in place through a record mutation. */
  private def rewriteAvro(f: java.io.File)(
      mutate: org.apache.avro.generic.GenericRecord => Unit): Unit = {
    import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableFileInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val rd = new DataFileReader[GenericRecord](
      new SeekableFileInput(f), new GenericDatumReader[GenericRecord]())
    val schema = rd.getSchema
    val recs = new java.util.ArrayList[GenericRecord]()
    while (rd.hasNext) { val r = rd.next(); mutate(r); recs.add(r) }
    rd.close()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    recs.forEach(r => w.append(r))
    w.close()
    // the raw rewrite bypassed ChecksumFileSystem — drop the stale .crc
    new java.io.File(f.getParent, s".${f.getName}.crc").delete()
  }

  test("a data manifest mislabeled as a delete manifest is refused, not misread") {
    val loc = tmp("graft-ice-del-")
    IcebergTable.create(customer.limit(10), loc)
    // flip the manifest list's content flag to 1: the pointed-to manifest
    // holds DATA entries, which a delete-manifest walk must refuse
    val mlPath = new java.io.File(s"$loc/metadata").listFiles()
      .find(f => f.getName.startsWith("snap-00001") && f.getName.endsWith(".avro")).get
    rewriteAvro(mlPath)(_.put("content", 1))
    val ex = intercept[IllegalArgumentException](
      IcebergMeta.snapshot(spark, loc))
    assert(ex.getMessage.contains("not a delete file"))
  }

  // --- v2 merge-on-read: positional + equality deletes applied

  test("deleteWhere: positional deletes drop exactly the matching rows") {
    val loc = tmp("graft-ice-mor-")
    IcebergTable.create(customer, loc)
    val snap = IcebergTable.deleteWhere(spark, loc, col("c_custkey") % 7 === 3)
    assert(snap == 2L)
    val expected = customer.filter(!(col("c_custkey") % 7 === 3))
    val got = IcebergTable.read(spark, loc)
    assert(got.count() == expected.count())
    assert(got.select(sum(col("c_custkey"))).head().getLong(0) ==
      expected.select(sum(col("c_custkey"))).head().getLong(0))
    // data files untouched (merge-on-read): the snapshot still lists them
    assert(IcebergMeta.snapshot(spark, loc).files.nonEmpty)
    assert(IcebergMeta.snapshot(spark, loc).deleteFiles.nonEmpty)
  }

  test("deletes stay in force across a later append; time travel sees pre-delete rows") {
    val loc = tmp("graft-ice-mor2-")
    val old = customer.filter(col("c_custkey") <= 100)
    val more = customer.filter(col("c_custkey") > 100 && col("c_custkey") <= 120)
    IcebergTable.create(old, loc)                                  // snap 1
    IcebergTable.deleteWhere(spark, loc, col("c_custkey") <= 10)   // snap 2
    IcebergTable.append(more, loc)                                 // snap 3
    val got = IcebergTable.read(spark, loc)
    assert(got.count() == old.filter(col("c_custkey") > 10).count() + more.count())
    assert(got.filter(col("c_custkey") <= 10).count() == 0,
      "append resurrected positionally-deleted rows")
    // a second delete composes with the first
    IcebergTable.deleteWhere(spark, loc, col("c_custkey") > 110)   // snap 4
    assert(IcebergTable.read(spark, loc).count() ==
      old.filter(col("c_custkey") > 10).count() +
        more.filter(col("c_custkey") <= 110).count())
    // time travel to the pre-delete snapshot still sees every row
    assert(IcebergTable.read(spark, loc, snapshotAsOf = Some(1L)).count() ==
      old.count())
  }

  test("deleteWhere on a many-file table bands the delete write: " +
      ">=2 sorted delete files, no single-task funnel") {
    val loc = tmp("graft-ice-band-")
    // 8 data files so the positions shard across file_path bands
    IcebergTable.create(customer.repartition(8), loc)
    assert(IcebergMeta.snapshot(spark, loc).files.size == 8)
    // the writer bands positions on pmod(hash(file_path), maxShards),
    // and `repartition(maxShards, _graft_band)` then hashes the BAND
    // VALUE again to pick the write task — so distinct bands can
    // co-locate and the file count is the number of distinct
    // pmod(hash(band), maxShards) values, not distinct bands (with few
    // files this occasionally collapses to ONE task, which is why a
    // bare `>= 2` flaked). Recompute the exact expected count from this
    // run's actual (random, UUID-named) file paths with the same
    // two-level expression: deterministic by construction.
    val priorPaths = IcebergMeta.snapshot(spark, loc).files
      .map(_.path.replaceFirst("^file:/+", "/"))
    val maxShards = math.min(spark.sessionState.conf.numShufflePartitions,
      priorPaths.size)
    val expectedBands = {
      import spark.implicits._
      priorPaths.toDF("file_path")
        .select(pmod(hash(pmod(hash(col("file_path")), lit(maxShards))),
          lit(maxShards)).as("task"))
        .distinct().count().toInt
    }
    IcebergTable.deleteWhere(spark, loc, col("c_custkey") % 2 === 0)
    val snap = IcebergMeta.snapshot(spark, loc)
    val dels = snap.deleteFiles.filter(_.content == 1)
    assert(dels.size == expectedBands,
      s"expected the delete write banded into $expectedBands file(s) " +
        s"(from ${priorPaths.size} data files over $maxShards bands), " +
        s"got ${dels.size}: ${dels.map(_.path).mkString(", ")}")

    // each band is internally sorted by (file_path, pos) per the spec
    dels.foreach { d =>
      val rows = spark.read.parquet(d.path)
        .select("file_path", "pos").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == rows.sorted, s"delete file ${d.path} is not sorted")
      assert(rows.nonEmpty, s"empty delete file ${d.path} was committed")
    }
    // a file's positions all live in exactly one band (hash on file_path)
    val byFile = dels.flatMap(d => spark.read.parquet(d.path)
      .select("file_path").distinct().collect().map(_.getString(0) -> d.path))
    assert(byFile.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1),
      "a data file's delete positions were split across bands")
    // and the read still applies them all
    val got = IcebergTable.read(spark, loc)
    val expected = customer.filter(col("c_custkey") % 2 =!= 0)
    assert(got.count() == expected.count())
    assert(got.select(sum(col("c_custkey"))).head().getLong(0) ==
      expected.select(sum(col("c_custkey"))).head().getLong(0))
  }

  test("deleteWhere matching nothing commits no delete files") {
    val loc = tmp("graft-ice-noop-")
    IcebergTable.create(customer.limit(50), loc)
    val before = IcebergMeta.snapshot(spark, loc).snapshotId
    assert(IcebergTable.deleteWhere(spark, loc, col("c_custkey") < 0) == before)
    val snap = IcebergMeta.snapshot(spark, loc)
    assert(snap.snapshotId == before, "a no-match delete published a snapshot")
    assert(snap.deleteFiles.isEmpty,
      "a no-match delete committed an empty delete file")
    assert(IcebergTable.read(spark, loc).count() == 50)
  }

  test("update matching nothing commits nothing") {
    val loc = tmp("graft-ice-noop-upd-")
    IcebergTable.create(customer.limit(50), loc)
    val before = IcebergMeta.snapshot(spark, loc)
    assert(IcebergTable.update(spark, loc, col("c_custkey") < 0,
      Map("c_acctbal" -> lit(0.0))) == before.snapshotId)
    val after = IcebergMeta.snapshot(spark, loc)
    assert(after.snapshotId == before.snapshotId,
      "a no-match update published a snapshot")
    assert(after.files.map(_.path) == before.files.map(_.path))
    assert(after.deleteFiles.isEmpty)
  }

  test("deleteWhere on a table with no data files commits nothing") {
    val loc = tmp("graft-ice-noop-empty-")
    IcebergTable.create(customer.limit(0), loc)
    val before = IcebergMeta.snapshot(spark, loc)
    assert(before.files.isEmpty)
    assert(IcebergTable.deleteWhere(spark, loc, lit(true)) == before.snapshotId)
    assert(IcebergMeta.snapshot(spark, loc).snapshotId == before.snapshotId)
  }

  test("equality-delete keys band across files past the size threshold") {
    val loc = tmp("graft-ice-eqband-")
    IcebergTable.create(customer, loc)
    val keys = customer.filter(col("c_custkey") % 3 === 0).select("c_custkey")
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // shrink one task's worth so the fixture-sized key frame exceeds it
      spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
      IcebergTable.deleteWhereEquality(spark, loc, keys)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", before)
    val snap = IcebergMeta.snapshot(spark, loc)
    val dels = snap.deleteFiles.filter(_.content == 2)
    assert(dels.size >= 2,
      s"expected the key write banded, got ${dels.size} file(s)")
    dels.foreach { d =>
      val ks = spark.read.parquet(d.path).collect().map(_.getLong(0)).toSeq
      assert(ks == ks.sorted, s"eq-delete file ${d.path} is not sorted")
    }
    val got = IcebergTable.read(spark, loc)
    val expected = customer.filter(col("c_custkey") % 3 =!= 0)
    assert(got.count() == expected.count())
    assert(got.select(sum(col("c_custkey"))).head().getLong(0) ==
      expected.select(sum(col("c_custkey"))).head().getLong(0))
  }

  test("an equality delete entry without equality_ids is refused (corrupt tree)") {
    val loc = tmp("graft-ice-eq-")
    IcebergTable.create(customer.limit(20), loc)
    IcebergTable.deleteWhere(spark, loc, col("c_custkey") === 1L)
    // flip the delete manifest's entries to equality WITHOUT providing
    // ids: applying such a delete would be guesswork, so it must refuse
    val dmPath = new java.io.File(s"$loc/metadata").listFiles()
      .find(f => f.getName.startsWith("delete-manifest-00002")).get
    rewriteAvro(dmPath) { r =>
      r.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        .put("content", 2)
    }
    val ex = intercept[IllegalArgumentException](
      IcebergMeta.snapshot(spark, loc))
    assert(ex.getMessage.contains("equality_ids"))
  }

  test("hint-less resolution past 10 versions: numeric sort, not lexicographic") {
    val loc = tmp("graft-ice-v10-")
    val one = customer.limit(1)
    IcebergTable.create(one, loc)
    (2 to 12).foreach(_ => IcebergTable.append(one, loc))
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // stale/missing hint is exactly when the fallback sort decides —
    // a lexicographic sort would resolve v9 above v12
    fs.delete(new org.apache.hadoop.fs.Path(s"$loc/metadata/version-hint.text"), false)
    val s = IcebergMeta.snapshot(spark, loc)
    assert(s.snapshotId == 12L, s"fallback resolved snapshot ${s.snapshotId}, not 12")
    assert(IcebergTable.read(spark, loc).count() == 12)
  }

  test("hint-less resolution handles legacy UNPADDED metadata names numerically") {
    val loc = tmp("graft-ice-legacy-")
    val one = customer.limit(1)
    IcebergTable.create(one, loc)
    (2 to 11).foreach(_ => IcebergTable.append(one, loc))
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // strip the zero padding (tables written by older graft versions)
    // and the hint: v10/v11 must still sort above v9
    val dir = new org.apache.hadoop.fs.Path(s"$loc/metadata")
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(".metadata.json")) {
        val ver = n.stripPrefix("v").takeWhile(_.isDigit).toLong
        val unpadded = s"v$ver.metadata.json"
        if (unpadded != n) {
          fs.rename(st.getPath, new org.apache.hadoop.fs.Path(dir, unpadded))
          new java.io.File(s"$loc/metadata/.$n.crc").delete()
        }
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$loc/metadata/version-hint.text"), false)
    val s = IcebergMeta.snapshot(spark, loc)
    assert(s.snapshotId == 11L, s"fallback resolved snapshot ${s.snapshotId}, not 11")
  }

  // --- commit staging: the manifest's added entries are exactly this
  // --- writer's files, and the fence loser cleans up after itself

  /** Run `append` while a watcher thread interferes once the writer's
    * stage dir appears (the slow column widens the staging window). */
  private def appendWithInterference(loc: String, rows: Int, sleepMs: Int = 15)(
      interfere: () => Unit): Either[Throwable, Long] = {
    val slow = udf((i: Long) => { Thread.sleep(sleepMs); i })
    val df = customer.limit(rows).repartition(1)
      .withColumn("c_slow", slow(col("c_custkey")))
    val rootPath = new org.apache.hadoop.fs.Path(loc)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    @volatile var fired = false
    val watcher = new Thread(() => {
      val deadline = System.currentTimeMillis() + 30000
      while (!fired && System.currentTimeMillis() < deadline) {
        val staging = fs.exists(rootPath) && fs.listStatus(rootPath)
          .exists(_.getPath.getName.startsWith(".graft-stage-"))
        if (staging) {
          try interfere() catch { case _: Throwable => }
          fired = true
        } else Thread.sleep(5)
      }
    })
    watcher.start()
    val out = try Right(IcebergTable.append(df, loc))
      catch { case t: Throwable => Left(t) }
    fired = true
    watcher.join()
    out
  }

  test("commit race: a concurrent writer's data file is never absorbed into the manifest") {
    val loc = tmp("graft-ice-race1-")
    val base = customer.limit(10).repartition(1)
      .withColumn("c_slow", col("c_custkey"))
    IcebergTable.create(base, loc)
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val res = appendWithInterference(loc, 5) { () =>
      base.limit(3).coalesce(1).write.mode("overwrite").parquet(s"$loc/.foreign")
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$loc/.foreign"))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$loc/data/foreign-inflight.parquet"))
    }
    assert(res.isRight, s"append failed: $res")
    val s = IcebergMeta.snapshot(spark, loc)
    assert(!s.files.exists(_.path.contains("foreign-inflight")),
      "a concurrent writer's file was absorbed into the manifest")
    assert(IcebergTable.read(spark, loc).count() == 15)
  }

  test("commit race: the fence loser cleans its data files, manifests, and retries cleanly") {
    // a REAL concurrent append races the slow writer: the watcher fires
    // only after the slow writer has read its prior snapshot (stage dir
    // visible), so if the fast append completes first both target
    // snapshot 2 and the slow writer must lose the fence. The wide sleep
    // window makes that ordering near-certain; bounded attempts absorb
    // scheduler jitter without ever accepting a wrong outcome.
    val loc = tmp("graft-ice-race2-")
    val base = customer.limit(10).repartition(1)
      .withColumn("c_slow", col("c_custkey"))
    IcebergTable.create(base, loc)
    val winnerRows = customer.limit(2).repartition(1)
      .withColumn("c_slow", col("c_custkey"))
    val res = appendWithInterference(loc, 5, sleepMs = 250) { () =>
      IcebergTable.append(winnerRows, loc)
    }
    // the fence loser AUTO-RETRIES against the winner's state: both
    // appends land (whichever order), never a lost or duplicated row
    assert(res.isRight, s"append should retry and land, got $res")
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val s = IcebergMeta.snapshot(spark, loc)
    assert(s.snapshotId == 3L) // create + winner + retried loser
    assert(IcebergTable.read(spark, loc).count() == 17)
    // the lost attempt's staged data files and manifests are gone:
    // disk holds exactly the snapshot's files
    val dataOnDisk = fs.listStatus(new org.apache.hadoop.fs.Path(s"$loc/data"))
      .map(_.getPath.toString).filter(_.endsWith(".parquet"))
      .map(_.stripPrefix("file:")).toSet
    assert(dataOnDisk == s.files.map(_.path.stripPrefix("file:")).toSet,
      "fence loser left orphan data files")
    // exactly one manifest per committed snapshot id
    Seq("manifest-00002", "manifest-00003").foreach { pre =>
      val ms = fs.listStatus(new org.apache.hadoop.fs.Path(s"$loc/metadata"))
        .map(_.getPath.getName).filter(_.startsWith(pre))
      assert(ms.length == 1, s"expected one $pre manifest, got: ${ms.mkString(",")}")
    }
    // a further append lands cleanly at snapshot 4
    val retryRows = customer.limit(5).repartition(1)
      .withColumn("c_slow", col("c_custkey"))
    assert(IcebergTable.append(retryRows, loc) == 4L)
    assert(IcebergTable.read(spark, loc).count() == 22)
  }

  test("provider: iceberg leaf recognized, snapshot-based signature") {
    val loc = tmp("graft-ice-sig-")
    IcebergTable.create(customer, loc)
    def leaf = SourceRelation.collectLeaves(IcebergTable.read(spark, loc)).head
    val l0 = leaf
    assert(l0.format == "iceberg")
    assert(l0.rootPaths == Seq(loc))
    val sig0 = SourceRelation.capture(l0, new FileIdTracker).signature
    assert(SourceRelation.capture(leaf, new FileIdTracker).signature == sig0)
    IcebergTable.append(customer.limit(3), loc)
    assert(SourceRelation.capture(leaf, new FileIdTracker).signature != sig0)
  }

  test("index lifecycle on an Iceberg table: rewrite, hybrid drift, refresh") {
    val sys = tmp("graft-ice-sys-")
    val loc = tmp("graft-ice-idx-")
    spark.conf.set(GraftConf.SystemPathKey, sys)
    try {
      val g = new Graft(spark)
      IcebergTable.create(customer, loc)
      g.createIndex(IcebergTable.read(spark, loc),
        CoveringIndexConfig("ci_ice", Seq("c_nationkey"), Seq("c_acctbal")))
      val e = g.indexManager.getIndexes().head
      assert(e.relations.head.format == "iceberg")

      def query = IcebergTable.read(spark, loc)
        .filter(col("c_nationkey") === 5L)
        .select(col("c_nationkey"), col("c_acctbal"))
      def usesIndex(df: org.apache.spark.sql.DataFrame): Boolean = {
        df.collect()
        df.queryExecution.executedPlan.collectWithSubqueries {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(
              _.toString.contains("/ci_ice/")) => s
        }.nonEmpty
      }
      spark.conf.set(GraftConf.ApplyEnabledKey, "false")
      val expected = query.collect().toSet
      spark.conf.set(GraftConf.ApplyEnabledKey, "true")
      assert(usesIndex(query), "covering index not applied to iceberg scan:\n" +
        query.queryExecution.executedPlan)
      assert(query.collect().toSet == expected && expected.nonEmpty)

      // drift: a new snapshot appends rows — hybrid scan serves them
      val extra = customer.filter(col("c_nationkey") === 5L).limit(2)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
      IcebergTable.append(extra, loc)
      val afterDrift = query
      assert(usesIndex(afterDrift), "hybrid scan did not keep the index:\n" +
        afterDrift.queryExecution.executedPlan)
      assert(afterDrift.collect().length == expected.size + 2,
        "hybrid scan lost the appended iceberg snapshot")

      // incremental refresh re-baselines: exact match again
      g.refreshIndex("ci_ice", "incremental")
      assert(usesIndex(query))
      assert(query.collect().length == expected.size + 2)
    } finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }
}
