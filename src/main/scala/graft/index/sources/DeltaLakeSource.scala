package graft.index.sources

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.index.FileMeta

/**
 * Delta Lake source provider (reference:
 * sources/delta/DeltaLakeSourceProvider.scala +
 * sources/delta/DeltaLakeRelation.scala:34-45): recognizes a Delta table's
 * batch read and fingerprints it by TABLE VERSION + path instead of
 * per-file stats — the Delta transaction log already names an exact
 * snapshot, so version equality is both cheaper and stricter than
 * re-hashing file metadata.
 *
 * Two recognition paths, first match wins:
 *  1. JARLESS (always on — in the default provider list): a scan built by
 *    [[DeltaTable.read]] carries `graft.delta.root`/`graft.delta.version`
 *    options; the snapshot version those pin is the signature. This is
 *    the path that works everywhere, backed by the in-repo [[DeltaLog]]
 *    replay.
 *  2. REFLECTION-gated: when the delta-spark jar IS present, its batch
 *    scan surfaces as `LogicalRelation(HadoopFsRelation(TahoeLogFileIndex))`
 *    (class under `org.apache.spark.sql.delta`); Delta's classes are
 *    referenced by name only so this compiles without the jar.
 */
final class DeltaLakeSource extends SourceProvider {

  private def versionSignature(v: Long, roots: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"delta|$v|${roots.sorted.mkString(",")}".getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  override def asSourceLeaf(leaf: LogicalPlan): Option[SourceLeaf] = leaf match {
    // jarless path: a DeltaTable.read scan, version pinned in options
    case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] &&
        l.relation.asInstanceOf[HadoopFsRelation].options
          .contains(DeltaTable.RootOption) =>
      val rel = l.relation.asInstanceOf[HadoopFsRelation]
      val root = rel.options(DeltaTable.RootOption)
      val version = rel.options(DeltaTable.VersionOption).toLong
      Some(new SourceLeaf {
        override def plan: LogicalRelation = l
        override def rootPaths: Seq[String] = Seq(root)
        override def schemaJson: String = rel.schema.json
        override def format: String = "delta"
        override def options: Map[String, String] = rel.options
        // deletion-vector files list beside the data files: a delete
        // shows up as drift, as an appended file
        override def listFiles(): Seq[(String, Long, Long)] =
          rel.location.listFiles(Nil, Nil).flatMap(_.files).map(s =>
            (s.getPath.toString, s.getLen, s.getModificationTime)) ++
            LakeDeletes.listSources(rel.options)
        override def signature(files: Seq[FileMeta]): String =
          versionSignature(version, rootPaths)
        override def liveDeletes: Boolean = LakeDeletes.live(rel.options)
      })
    case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] &&
        l.relation.asInstanceOf[HadoopFsRelation].location.getClass.getName
          .startsWith("org.apache.spark.sql.delta") =>
      val rel = l.relation.asInstanceOf[HadoopFsRelation]
      val loc = rel.location
      // TahoeFileIndex exposes tableVersion: Long (snapshot version the
      // scan is pinned to); absent methods degrade to file-stat signature
      val tableVersion: Option[Long] =
        try Some(loc.getClass.getMethod("tableVersion").invoke(loc) match {
          case n: java.lang.Long => n.longValue
          case n: java.lang.Integer => n.longValue
        })
        catch { case _: ReflectiveOperationException | _: MatchError => None }
      Some(new SourceLeaf {
        override def plan: LogicalRelation = l
        override def rootPaths: Seq[String] = loc.rootPaths.map(_.toString)
        override def schemaJson: String = rel.schema.json
        override def format: String = "delta"
        override def options: Map[String, String] = rel.options
        override def listFiles(): Seq[(String, Long, Long)] =
          loc.listFiles(Nil, Nil).flatMap(_.files).map(s =>
            (s.getPath.toString, s.getLen, s.getModificationTime))
        override def signature(files: Seq[FileMeta]): String =
          tableVersion match {
            case Some(v) => versionSignature(v, rootPaths)
            case None => super.signature(files)
          }
      })
    case _ => None
  }
}
