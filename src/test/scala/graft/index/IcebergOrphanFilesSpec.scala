package graft.index

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.sources.{IcebergMeta, IcebergTable}

/**
 * Iceberg orphan-file removal (the `remove_orphan_files` procedure):
 * files under the table's own trees that no snapshot references —
 * crash leftovers, foreign drops, stale staging dirs — are swept
 * age-gated; everything any snapshot references, and every metadata
 * document, survives even with the cutoff in the future.
 */
class IcebergOrphanFilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def fsOf(loc: String) =
    new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())

  /** Plant one foreign parquet in data/, one unreferenced avro in
    * metadata/, and the staging dir each Iceberg writer leaves behind
    * when it crashes (append/DML, compactSmall, compactSort); returns
    * their paths. */
  private def plantOrphans(loc: String): Seq[Path] = {
    val fs = fsOf(loc)
    val dataOrphan = new Path(loc, "data/crashed-writer-leftover.parquet")
    customer.limit(3).coalesce(1).write.mode("overwrite")
      .parquet(s"$loc/.plant")
    val part = fs.listStatus(new Path(s"$loc/.plant"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, dataOrphan)
    fs.delete(new Path(s"$loc/.plant"), true)
    val metaOrphan = new Path(loc, "metadata/manifest-99999-deadbeef.avro")
    val os = fs.create(metaOrphan)
    os.write("not a live manifest".getBytes("UTF-8")); os.close()
    val stages = Seq("stage", "binpack", "zsort").map { kind =>
      val stage = new Path(loc, s".graft-$kind-crashed")
      fs.mkdirs(stage)
      val so = fs.create(new Path(stage, "part-0.parquet"))
      so.write(Array[Byte](1, 2, 3)); so.close()
      stage
    }
    Seq(dataOrphan, metaOrphan) ++ stages
  }

  test("orphans are swept; every referenced file and metadata doc survives") {
    val loc = tmp("graft-ice-orphan-")
    IcebergTable.create(customer.filter($"c_custkey" % 2 === 0), loc)
    IcebergTable.append(customer.filter($"c_custkey" % 2 === 1), loc)
    val fs = fsOf(loc)
    val planted = plantOrphans(loc)
    val before = IcebergTable.read(spark, loc).count()

    // cutoff in the FUTURE: age cannot save an orphan, and liveness
    // alone must protect everything the snapshots reference
    val removed = IcebergTable.removeOrphanFiles(spark, loc,
      olderThanMs = Some(System.currentTimeMillis() + 60000))
    planted.foreach { p =>
      assert(removed.exists(_.endsWith(p.getName)), s"missed orphan $p")
      assert(!fs.exists(p), s"orphan still on disk: $p")
    }
    // both snapshots still replay: time travel to snapshot 1 AND the
    // current read survive the sweep
    assert(IcebergTable.read(spark, loc).count() == before)
    assert(IcebergTable.read(spark, loc, snapshotAsOf = Some(1L)).count() ==
      customer.filter($"c_custkey" % 2 === 0).count())
    // metadata documents are never candidates
    assert(fs.listStatus(new Path(loc, "metadata"))
      .exists(_.getPath.getName.endsWith(".metadata.json")))
  }

  test("a v1 snapshot's INLINE manifests protect their files from the sweep") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val loc = tmp("graft-ice-orphan-v1-")
    IcebergTable.create(customer.limit(40), loc)
    val fs = fsOf(loc)
    // rewrite the metadata to the v1 shape: the snapshot lists its data
    // manifests INLINE and drops the manifest-list file reference
    val metaDir = new Path(loc, "metadata")
    val metaFile = fs.listStatus(metaDir).map(_.getPath)
      .filter(_.getName.endsWith(".metadata.json")).maxBy(_.getName)
    val j = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(metaFile.toUri)), "UTF-8"))
    val dataManifests: List[JValue] = fs.listStatus(metaDir).toList
      .map(_.getPath).filter(_.getName.startsWith("manifest-"))
      .map(p => JString(p.toString): JValue)
    assert(dataManifests.nonEmpty)
    val v1 = j transformField {
      case ("snapshots", JArray(snaps)) =>
        ("snapshots", JArray(snaps.map(s => JObject(
          s.asInstanceOf[JObject].obj.filterNot(_._1 == "manifest-list") :+
            ("manifests" -> (JArray(dataManifests): JValue))))))
    }
    val os = fs.create(metaFile, true)
    os.write(JsonMethods.pretty(JsonMethods.render(v1)).getBytes("UTF-8"))
    os.close()
    assert(IcebergTable.read(spark, loc).count() == 40) // v1 shape reads

    val removed = IcebergTable.removeOrphanFiles(spark, loc,
      olderThanMs = Some(System.currentTimeMillis() + 60000))
    // the now-unreferenced manifest-list file may go; the inline
    // manifests and every data file they mention MUST survive
    assert(!removed.exists(_.contains("/data/")),
      s"v1 inline manifests' data files were swept: $removed")
    assert(!removed.exists(_.contains("manifest-00001")),
      s"an inline-referenced manifest was swept: $removed")
    assert(IcebergTable.read(spark, loc).count() == 40)
  }

  test("dryRun lists the orphans without deleting them") {
    val loc = tmp("graft-ice-orphan-dry-")
    IcebergTable.create(customer.limit(20), loc)
    val fs = fsOf(loc)
    val planted = plantOrphans(loc)
    val listed = IcebergTable.removeOrphanFiles(spark, loc,
      olderThanMs = Some(System.currentTimeMillis() + 60000), dryRun = true)
    planted.foreach { p =>
      assert(listed.exists(_.endsWith(p.getName)), s"dryRun missed $p")
      assert(fs.exists(p), s"dryRun deleted $p")
    }
  }

  test("the age gate keeps files newer than the cutoff") {
    val loc = tmp("graft-ice-orphan-age-")
    IcebergTable.create(customer.limit(20), loc)
    val fs = fsOf(loc)
    val planted = plantOrphans(loc)
    // cutoff one minute in the PAST: the just-planted files are newer
    val removed = IcebergTable.removeOrphanFiles(spark, loc,
      olderThanMs = Some(System.currentTimeMillis() - 60000))
    assert(removed.isEmpty, s"age gate failed: $removed")
    planted.foreach(p => assert(fs.exists(p), s"fresh file swept: $p"))
  }
}
