package graft.index

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.sources.{IcebergMeta, IcebergTable}

/**
 * Iceberg table-property verbs (`ALTER TABLE … SET/UNSET
 * TBLPROPERTIES`) and the opt-in metadata-history pruning they switch
 * on (`write.metadata.delete-after-commit.enabled` +
 * `write.metadata.previous-versions-max`): a high-commit-rate ingest
 * table writes one `v*.metadata.json` per commit forever unless the
 * writer prunes them — table CONTENT is untouched because every
 * retained snapshot hangs off the current document.
 */
class IcebergPropertiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def metadataDocs(loc: String): Seq[String] = {
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new Path(loc, "metadata")).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".metadata.json")).sorted
  }

  test("setProperties merges, unsetProperties removes; data untouched") {
    val loc = tmp("graft-ice-props-")
    IcebergTable.create(customer.limit(30), loc)
    IcebergTable.setProperties(spark, loc,
      Map("commit.manifest.min-count-to-merge" -> "7", "owner" -> "etl"))
    val s1 = IcebergMeta.snapshot(spark, loc)
    assert(s1.properties.get("commit.manifest.min-count-to-merge")
      .contains("7"))
    assert(s1.properties.get("owner").contains("etl"))
    // merge semantics: a second set keeps unrelated keys
    IcebergTable.setProperties(spark, loc, Map("owner" -> "ml"))
    val s2 = IcebergMeta.snapshot(spark, loc)
    assert(s2.properties.get("owner").contains("ml"))
    assert(s2.properties.get("commit.manifest.min-count-to-merge")
      .contains("7"))
    IcebergTable.unsetProperties(spark, loc, Set("owner"))
    val s3 = IcebergMeta.snapshot(spark, loc)
    assert(!s3.properties.contains("owner"))
    assert(IcebergTable.read(spark, loc).count() == 30)
  }

  test("engine bookkeeping keys and junk numeric values refuse at SET time") {
    val loc = tmp("graft-ice-props-guard-")
    IcebergTable.create(customer.limit(10), loc)
    // graft.* keys are engine state: a hand-set txn watermark would
    // make the exactly-once sink silently skip batches
    val e1 = intercept[IllegalArgumentException](
      IcebergTable.setProperties(spark, loc, Map("graft.txn.etl" -> "999")))
    assert(e1.getMessage.contains("engine bookkeeping"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      IcebergTable.unsetProperties(spark, loc, Set("graft.field-ids")))
    assert(e2.getMessage.contains("engine bookkeeping"), e2.getMessage)
    // numeric knobs validate at declaration — their read sites run
    // after commit fences and must never fail a committed write
    val e3 = intercept[IllegalArgumentException](
      IcebergTable.setProperties(spark, loc,
        Map("write.metadata.previous-versions-max" -> "ten")))
    assert(e3.getMessage.contains("positive integer"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](
      IcebergTable.setProperties(spark, loc,
        Map("write.metadata.delete-after-commit.enabled" -> "yes")))
    assert(e4.getMessage.contains("true or false"), e4.getMessage)
    // and a junk value planted by an EXTERNAL writer degrades to the
    // default instead of failing the committed append
    graft.index.sources.IcebergTable.append(customer.limit(1), loc)
    assert(IcebergTable.read(spark, loc).count() == 11)
  }

  test("a property drives writer behavior: min-count-to-merge from the table") {
    val loc = tmp("graft-ice-props-merge-")
    IcebergTable.create(customer.filter($"c_custkey" % 3 === 0), loc)
    IcebergTable.setProperties(spark, loc,
      Map("commit.manifest.min-count-to-merge" -> "2"))
    IcebergTable.append(customer.filter($"c_custkey" % 3 === 1), loc)
    // 2 data manifests reached the property's cap: the next append merges
    IcebergTable.append(customer.filter($"c_custkey" % 3 === 2), loc)
    val dm = graft.index.sources.LakeTable.inspect(spark, loc, "manifests")
      .where(col("content") === "data").count()
    assert(dm == 1, s"table-property merge cap ignored: $dm manifests")
    assert(IcebergTable.read(spark, loc).count() == customer.count())
  }

  test("metadata-history pruning: opt-in, bounded, content-preserving") {
    val loc = tmp("graft-ice-props-prune-")
    IcebergTable.create(customer.filter($"c_custkey" < 30), loc)
    // default OFF: history accumulates
    (0 until 3).foreach(i => IcebergTable.append(
      customer.filter($"c_custkey" === lit(30 + i)), loc))
    assert(metadataDocs(loc).size == 4, metadataDocs(loc).toString)

    IcebergTable.setProperties(spark, loc, Map(
      "write.metadata.delete-after-commit.enabled" -> "true",
      "write.metadata.previous-versions-max" -> "2"))
    (0 until 4).foreach(i => IcebergTable.append(
      customer.filter($"c_custkey" === lit(40 + i)), loc))
    // current + 2 previous
    assert(metadataDocs(loc).size == 3, metadataDocs(loc).toString)
    // the OLDEST documents went; the newest survive
    assert(metadataDocs(loc).last.contains("00009"), metadataDocs(loc).toString)

    // content untouched: full read AND time travel to the first snapshot
    assert(IcebergTable.read(spark, loc).count() == 37)
    assert(IcebergTable.read(spark, loc, snapshotAsOf = Some(1L)).count() == 30)

    // every metadata-publishing verb prunes, not only data commits: on
    // a table of five snapshots (v1..v5) with pruning switched on (v6),
    // four commits of one verb leave the current document + 2 previous
    val verbs: Seq[(String, (String, Int) => Unit)] = Seq(
      "rollback" -> ((l, i) => IcebergTable.rollback(spark, l, 4L - i)),
      "addColumn" -> ((l, i) =>
        IcebergTable.addColumn(spark, l, s"extra_$i",
          org.apache.spark.sql.types.StringType)),
      "expireSnapshots" -> ((l, i) =>
        IcebergTable.expireSnapshots(spark, l, keepLast = 4 - i)))
    verbs.foreach { case (verb, commit) =>
      val l = tmp(s"graft-ice-props-prune-$verb-")
      IcebergTable.create(customer.filter($"c_custkey" < 30), l)
      (0 until 4).foreach(i => IcebergTable.append(
        customer.filter($"c_custkey" === lit(30 + i)), l))
      IcebergTable.setProperties(spark, l, Map(
        "write.metadata.delete-after-commit.enabled" -> "true",
        "write.metadata.previous-versions-max" -> "2"))
      (0 until 4).foreach(i => commit(l, i))
      assert(metadataDocs(l).size == 3, s"$verb: ${metadataDocs(l)}")
      assert(metadataDocs(l).last.contains("00010"), s"$verb: ${metadataDocs(l)}")
      assert(IcebergTable.read(spark, l).count() > 0, verb)
    }
  }
}
