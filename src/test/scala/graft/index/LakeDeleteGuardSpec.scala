package graft.index

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}
import graft.index.covering.CoveringIndexConfig
import graft.index.sources.{DeltaLog, DeltaTable, IcebergMeta, IcebergTable, LakeTable}

/**
 * A lake read with live row-level deletes is one source leaf whose scan
 * drops rows its files still hold. No index may serve it (`whyNot` names
 * the deletes), its listing still reports the delete files, so source
 * drift, quick refresh and the stale checks see a delete as appended
 * files, and an incremental refresh over new deletes refuses with a
 * message naming the way out (compaction, or a full refresh).
 */
class LakeDeleteGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def customer =
    spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")
      .repartition(4, col("c_custkey"))

  private val drop7 = col("c_custkey") % 7 === 3

  /** A fresh table of `fmt` with a covering index over its read. */
  private def withIndexedTable(fmt: String)(
      body: (Graft, IndexManager, String, String) => Unit): Unit = {
    val sys = Files.createTempDirectory("graft-guard-sys-").toString
    val root = Files.createTempDirectory(s"graft-guard-$fmt-").toString
    spark.conf.set(GraftConf.SystemPathKey, sys)
    spark.conf.set(GraftConf.LineageKey, "true")
    try {
      fmt match {
        case "delta" => DeltaTable.create(customer, root)
        case _ => IcebergTable.create(customer, root)
      }
      val g = new Graft(spark)
      val name = s"guard_$fmt"
      g.createIndex(LakeTable.read(spark, root),
        CoveringIndexConfig(name, Seq("c_nationkey"), Seq("c_acctbal")))
      body(g, new IndexManager(spark), root, name)
    } finally {
      spark.conf.unset(GraftConf.SystemPathKey)
      spark.conf.unset(GraftConf.LineageKey)
      rules.IndexCatalog.invalidate(spark)
    }
  }

  /** File names of the delete sources the table's head snapshot applies. */
  private def deleteFileNames(fmt: String, root: String): Set[String] = fmt match {
    case "delta" => DeltaLog.snapshot(spark, root).files
      .flatMap(_.dv.flatMap(_.absolutePath(new Path(root)))).map(_.getName).toSet
    case _ => IcebergMeta.snapshot(spark, root).deleteFiles
      .map(d => new Path(d.path).getName).toSet
  }

  private def query(root: String) =
    LakeTable.read(spark, root).filter(col("c_nationkey") === 5).select(col("c_acctbal"))

  private def expected =
    customer.filter(!drop7 && col("c_nationkey") === 5).count()

  for (fmt <- Seq("delta", "iceberg")) {
    test(s"$fmt: live deletes keep the index from serving; whyNot names them") {
      withIndexedTable(fmt) { (g, _, root, name) =>
        LakeTable.deleteWhere(spark, root, drop7)
        val q = query(root)
        assert(q.count() == expected)
        assert(!q.queryExecution.executedPlan.toString.contains(name))
        val why = g.whyNot(q, name)
        assert(why.contains("LIVE_LAKE_DELETES"), s"whyNot:\n$why")
      }
    }

    test(s"$fmt: drift and quick refresh report the delete files as appended") {
      withIndexedTable(fmt) { (g, manager, root, name) =>
        LakeTable.deleteWhere(spark, root, drop7)
        val dels = deleteFileNames(fmt, root)
        assert(dels.nonEmpty)
        def entry = manager.getIndexes().find(_.name == name).get
        val (appended, deleted) = manager.sourceDrift(entry)
        assert(deleted.isEmpty)
        assert(appended.map(f => new Path(f.path).getName).toSet == dels)
        g.refreshIndex(name, "quick")
        assert(entry.update.map(_.appended.map(f => new Path(f.path).getName).toSet)
          .contains(dels))
      }
    }

    test(s"$fmt: incremental refresh over new deletes refuses; compaction clears it") {
      withIndexedTable(fmt) { (g, _, root, name) =>
        LakeTable.deleteWhere(spark, root, drop7)
        val e = intercept[UnsupportedOperationException] {
          g.refreshIndex(name, "incremental")
        }
        assert(e.getMessage.contains("LakeTable.compact") &&
          e.getMessage.contains("\"full\""), e.getMessage)
        LakeTable.compact(spark, root)
        g.refreshIndex(name, "incremental")
        val q = query(root)
        assert(q.count() == expected)
        assert(q.queryExecution.executedPlan.toString.contains(name),
          "the refreshed index serves the compacted table")
      }
    }
  }
}
