package graft.index.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.index.FileMeta

/**
 * Apache Iceberg source provider (reference:
 * sources/iceberg/IcebergFileBasedSource.scala +
 * sources/iceberg/IcebergRelation.scala:66-73,239-259): recognizes an
 * Iceberg table's batch read and fingerprints it by SNAPSHOT ID + table
 * location — the Iceberg metadata tree already names an exact immutable
 * snapshot, so snapshot equality is both cheaper and stricter than
 * re-hashing per-file stats.
 *
 * An Iceberg batch read surfaces as a DSv2 leaf
 * (`DataSourceV2Relation(SparkTable)`, or `DataSourceV2ScanRelation`
 * after scan planning); `SparkTable` lives under
 * `org.apache.iceberg.spark.source`, so everything Iceberg-specific is
 * REFLECTION-gated: this compiles and loads without the iceberg-spark
 * runtime jar and activates when it is present. Register via
 * `spark.graft.index.sources.providers =
 *   graft.index.sources.IcebergSource,graft.index.sources.DefaultFileBasedSource`.
 *
 * Scale/design notes:
 *  - File listing walks `table.newScan().planFiles()` — the Iceberg
 *    manifest tree, one metadata read, no object-store LIST calls.
 *  - Files get a constant modifiedTime of 0: Iceberg data files are
 *    immutable (a path is never rewritten in place), so (path, size) is
 *    already a complete identity and the constant keeps append/delete
 *    detection exact across snapshots. The reference instead issues a
 *    per-file `fs.listStatus` for mtime (IcebergRelation.scala:247) —
 *    an RPC per file that adds nothing at 100 TB.
 *  - The schema comes from the UNDERLYING `DataSourceV2Relation`, whose
 *    output is the full table schema even when the matched leaf is a
 *    column-pruned `DataSourceV2ScanRelation` (the reference needs
 *    `SparkSchemaUtil.convert(table.schema)` for the same reason).
 *  - Index data built over an Iceberg source is plain bucketed parquet;
 *    hybrid-scan appended legs read the appended data files directly as
 *    parquet (Iceberg data files are parquet underneath) via the logged
 *    relation metadata — see ScanSubstitution.appendedLeg.
 */
final class IcebergSource extends SourceProvider {
  import IcebergSource._

  override def asSourceLeaf(leaf: LogicalPlan): Option[SourceLeaf] = leaf match {
    // jarless path: an IcebergTable.read scan, snapshot pinned in options
    // (backed by the in-repo IcebergMeta metadata walk)
    case l: org.apache.spark.sql.execution.datasources.LogicalRelation
        if l.relation.isInstanceOf[
             org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
          l.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .options.contains(IcebergTable.LocationOption) =>
      val rel = l.relation.asInstanceOf[
        org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      val location = rel.options(IcebergTable.LocationOption)
      val snapshotId = rel.options(IcebergTable.SnapshotOption)
      Some(new SourceLeaf {
        override def plan: LogicalPlan = l
        override def rootPaths: Seq[String] = Seq(location)
        override def schemaJson: String = rel.schema.json
        override def format: String = "iceberg"
        override def options: Map[String, String] = rel.options
        override def listFiles(): Seq[(String, Long, Long)] =
          rel.location.listFiles(Nil, Nil).flatMap(_.files).map(s =>
            // immutable data files: (path, size) is a complete identity,
            // constant mtime keeps drift detection exact across snapshots
            (s.getPath.toString, s.getLen, 0L)) ++
            // positional-delete files list beside them: a delete shows up
            // as drift, as an appended file
            LakeDeletes.listSources(rel.options)
        override def liveDeletes: Boolean = LakeDeletes.live(rel.options)
        override def signature(files: Seq[FileMeta]): String = {
          val md = java.security.MessageDigest.getInstance("MD5")
          md.update(s"iceberg|$snapshotId|${rootPaths.sorted.mkString(",")}"
            .getBytes("UTF-8"))
          md.digest().map("%02x".format(_)).mkString
        }
      })
    case r: DataSourceV2Relation if isIcebergTable(r.table) =>
      Some(mkLeaf(r, r))
    case s: DataSourceV2ScanRelation if isIcebergTable(s.relation.table) =>
      Some(mkLeaf(s, s.relation))
    case _ => None
  }

  private def mkLeaf(leafPlan: LogicalPlan, rel: DataSourceV2Relation): SourceLeaf =
    new SourceLeaf {
      // org.apache.iceberg.Table behind the connector's SparkTable
      private val iceTable: AnyRef = invoke(rel.table, "table")
      private def snapshot: Option[AnyRef] =
        Option(invoke(iceTable, "currentSnapshot"))

      override def plan: LogicalPlan = leafPlan
      override def rootPaths: Seq[String] =
        Seq(invoke(iceTable, "location").toString)
      override def schemaJson: String = rel.schema.json
      override def format: String = "iceberg"
      override def options: Map[String, String] =
        rel.options.asCaseSensitiveMap().asScala.toMap
      override def listFiles(): Seq[(String, Long, Long)] = {
        val scan = invoke(iceTable, "newScan")
        val tasks = invoke(scan, "planFiles")
        try {
          tasks.asInstanceOf[java.lang.Iterable[AnyRef]].asScala.map { task =>
            val file = invoke(task, "file")
            (invoke(file, "path").toString,
              unboxLong(invoke(file, "fileSizeInBytes")),
              0L)
          }.toSeq
        } finally tasks match {
          case c: AutoCloseable => c.close()
          case _ => ()
        }
      }
      override def signature(files: Seq[FileMeta]): String = {
        val snapId = snapshot.map(s => invoke(s, "snapshotId").toString)
          .getOrElse("empty")
        val md = java.security.MessageDigest.getInstance("MD5")
        md.update(s"iceberg|$snapId|${rootPaths.sorted.mkString(",")}"
          .getBytes("UTF-8"))
        md.digest().map("%02x".format(_)).mkString
      }
    }
}

object IcebergSource {
  private def isIcebergTable(t: Table): Boolean =
    t.getClass.getName.startsWith("org.apache.iceberg.spark.source.")

  /** No-arg reflective call, tolerant of package-private impl classes
    * (the declaring class may not be public even when the method is). */
  private def invoke(target: AnyRef, method: String): AnyRef = {
    val m = target.getClass.getMethod(method)
    try m.setAccessible(true) catch { case _: RuntimeException => () }
    m.invoke(target)
  }

  private def unboxLong(v: AnyRef): Long = v match {
    case n: java.lang.Long => n.longValue
    case n: java.lang.Integer => n.longValue
    case other => other.toString.toLong
  }
}
