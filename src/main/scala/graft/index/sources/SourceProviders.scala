package graft.index.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

import graft.index.{FileMeta, Signatures}

/**
 * Pluggable source-provider SPI (reference:
 * index/sources/FileBasedSourceProviderManager.scala + the provider trait
 * family in sources/interfaces.scala:43-163). A provider recognizes a
 * logical-plan leaf as an indexable source and exposes the uniform view
 * the index subsystem needs: files, schema, format, options, signature.
 *
 * The default provider covers `LogicalRelation(HadoopFsRelation)` —
 * parquet/orc/csv/json/avro/text. Table-format providers (Delta Lake,
 * Iceberg) slot in through `spark.graft.index.sources.providers` when
 * their jars are present: their batch reads also surface a
 * HadoopFsRelation, so they mainly override file listing (from the
 * transaction log) and the signature (table version instead of file
 * stats; reference: sources/delta/DeltaLakeRelation.scala:34-45).
 */
trait SourceLeaf {
  /** The leaf node rewrite rules substitute. File-based providers return
    * a `LogicalRelation`; table-format providers (Iceberg) may return a
    * DSv2 relation — the rules key candidates by this node and swap it
    * for the index scan wholesale. */
  def plan: LogicalPlan
  def rootPaths: Seq[String]
  def schemaJson: String
  def format: String
  def options: Map[String, String]
  /** (path, size, modifiedTime) of every file the leaf currently reads. */
  def listFiles(): Seq[(String, Long, Long)]
  /** Fingerprint of the captured state; default = file-stat digest. */
  def signature(files: Seq[FileMeta]): String = Signatures.ofFiles(files)
  /** Does the leaf apply row-level deletes inside its scan (a lake
    * snapshot with deletion vectors or delete files)? Its files then
    * hold rows the read drops, so no index may serve it. */
  def liveDeletes: Boolean = false
}

trait SourceProvider {
  /** Recognize `leaf` as an indexable source, or None to let the next
    * provider try. */
  def asSourceLeaf(leaf: LogicalPlan): Option[SourceLeaf]
}

/** Default provider: any `LogicalRelation` wrapping a `HadoopFsRelation`
  * (reference: index/sources/default/DefaultFileBasedSource.scala:76-86). */
final class DefaultFileBasedSource extends SourceProvider {
  override def asSourceLeaf(leaf: LogicalPlan): Option[SourceLeaf] = leaf match {
    case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
      val rel = l.relation.asInstanceOf[HadoopFsRelation]
      Some(new SourceLeaf {
        override def plan: LogicalRelation = l
        override def rootPaths: Seq[String] =
          rel.location.rootPaths.map(_.toString)
        override def schemaJson: String = rel.schema.json
        override def format: String = {
          val n = rel.fileFormat.getClass.getSimpleName.toLowerCase
          n.stripSuffix("fileformat") match {
            case "" => n
            case s => s
          }
        }
        override def options: Map[String, String] = rel.options
        override def listFiles(): Seq[(String, Long, Long)] = rel.location match {
          case p: PartitioningAwareFileIndex =>
            p.allFiles().map(s =>
              (s.getPath.toString, s.getLen, s.getModificationTime))
          case other =>
            other.listFiles(Nil, Nil).flatMap(_.files).map(s =>
              (s.getPath.toString, s.getLen, s.getModificationTime))
        }
      })
    case _ => None
  }
}

object SourceProviders {
  val ProvidersKey = "spark.graft.index.sources.providers"
  // Table-format providers first: a jarless Delta/Iceberg scan is ALSO a
  // plain LogicalRelation(HadoopFsRelation), so the more specific
  // providers must get first refusal (each non-match is one options
  // lookup)
  private val DefaultProviders = Seq(
    classOf[DeltaLakeSource].getName,
    classOf[IcebergSource].getName,
    classOf[DefaultFileBasedSource].getName).mkString(",")

  @volatile private var cached: (String, Seq[SourceProvider]) = ("", Nil)

  /** Providers for this session, in configured order (reflective no-arg
    * construction, instances cached per class list). */
  def providers(spark: SparkSession): Seq[SourceProvider] = {
    val names = spark.conf.getOption(ProvidersKey).getOrElse(DefaultProviders)
    val c = cached
    if (c._1 == names) c._2
    else {
      val built = names.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { cls =>
        Class.forName(cls).getDeclaredConstructor()
          .newInstance().asInstanceOf[SourceProvider]
      }
      cached = (names, built)
      built
    }
  }

  /** First provider that recognizes the leaf wins. */
  def asSourceLeaf(spark: SparkSession, leaf: LogicalPlan): Option[SourceLeaf] =
    providers(spark).iterator.flatMap(_.asSourceLeaf(leaf)).nextOption()
}
