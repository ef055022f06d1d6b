package graft.index.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * One Delta log action (the protocol's action and checkpoint schema:
 * https://github.com/delta-io/delta/blob/master/PROTOCOL.md#actions).
 * The classes double as the checkpoint row shape: the checkpoint writer
 * encodes them ([[CkptRow]]) and [[DeltaCodec]] decodes commit lines and
 * checkpoint rows back into them. `CkptCdc` and `CkptCommitInfo` occur
 * in commits only; `CkptCheckpointMetadata` is written for v2 readers and
 * never needed by the replay.
 */
private[sources] sealed trait DeltaAction

private[sources] case class CkptFormat(
    provider: String, options: Map[String, String])
private[sources] case class CkptMetaData(
    id: Option[String], format: CkptFormat, schemaString: String,
    partitionColumns: Seq[String], configuration: Map[String, String])
    extends DeltaAction
private[sources] case class CkptProtocol(
    minReaderVersion: Int, minWriterVersion: Int,
    readerFeatures: Option[Seq[String]], writerFeatures: Option[Seq[String]])
    extends DeltaAction
private[sources] case class CkptAdd(
    path: String, partitionValues: Map[String, String], size: Long,
    modificationTime: Long, dataChange: Boolean,
    deletionVector: Option[DvDescriptor] = None, stats: Option[String] = None,
    baseRowId: Option[Long] = None,
    defaultRowCommitVersion: Option[Long] = None) extends DeltaAction
private[sources] case class CkptRemove(
    path: String, deletionTimestamp: Option[Long], dataChange: Boolean,
    deletionVector: Option[DvDescriptor] = None) extends DeltaAction {
  /** When the tombstone was set; an undated one never expires. */
  def deletedAt: Long = deletionTimestamp.getOrElse(Long.MaxValue)
}
private[sources] case class CkptTxn(appId: String, version: Long)
    extends DeltaAction
private[sources] case class CkptCheckpointMetadata(
    version: Long, tags: Option[Map[String, String]] = None)
private[sources] case class CkptSidecar(
    path: String, sizeInBytes: Long, modificationTime: Long) extends DeltaAction
private[sources] case class CkptDomainMetadata(
    domain: String, configuration: String, removed: Boolean) extends DeltaAction
private[sources] case class CkptCdc(path: String, size: Long) extends DeltaAction
private[sources] case class CkptCommitInfo(
    inCommitTimestamp: Option[Long], operation: Option[String]) extends DeltaAction

private[sources] case class CkptRow(
    add: Option[CkptAdd], remove: Option[CkptRemove],
    metaData: Option[CkptMetaData], protocol: Option[CkptProtocol],
    txn: Option[CkptTxn] = None,
    checkpointMetadata: Option[CkptCheckpointMetadata] = None,
    sidecar: Option[CkptSidecar] = None,
    domainMetadata: Option[CkptDomainMetadata] = None)

/**
 * One listing of a table's `_delta_log`: the commit files by version and
 * the checkpoint files — single-part, multi-part groups, and uuid-named
 * v2 spec checkpoints (one file plus optional `_sidecars/`).
 */
private[sources] final class DeltaListing(fs: FileSystem, dir: Path,
    entries: Seq[FileStatus]) {
  import DeltaListing._

  val commits: Map[Long, FileStatus] = entries.flatMap { st =>
    st.getPath.getName match {
      case CommitRe(v) => Some(v.toLong -> st)
      case _ => None
    }
  }.toMap

  /** Every checkpoint file: (version, file, declared part count of a
    * multi-part group). */
  val checkpointFiles: Seq[(Long, FileStatus, Option[Int])] = entries.flatMap { st =>
    st.getPath.getName match {
      case CkptSingleRe(v) => Some((v.toLong, st, None))
      case CkptMultiRe(v, _, n) => Some((v.toLong, st, Some(n.toInt)))
      case CkptV2Re(v) => Some((v.toLong, st, None))
      case _ => None
    }
  }

  def latest: Long = commits.keys.max

  /** The complete checkpoint instance at the highest version <= `v`. A
    * version may legally hold SEVERAL instances — a classic and a v2
    * checkpoint, or two v2 checkpoints from racing writers — so files
    * group per instance: a single-part or v2 file is complete alone, a
    * multi-part group (keyed by its declared part count) needs all n
    * distinct parts. */
  def checkpointAtOrBefore(v: Long): Option[(Long, Seq[Path])] =
    checkpointFiles.filter(_._1 <= v).groupBy(_._1).toSeq.sortBy(-_._1)
      .iterator.flatMap { case (version, files) =>
        val (singles, multi) = files.partition(_._3.isEmpty)
        singles.map(_._2.getPath).sortBy(_.getName).headOption.map(Seq(_))
          .orElse(multi.groupBy(_._3).collectFirst {
            case (Some(n), ps) if ps.map(_._2.getPath.getName).distinct.size == n =>
              ps.map(_._2.getPath).distinctBy(_.getName).sortBy(_.getName)
          })
          .map(version -> _)
      }.nextOption()

  /** The v2 checkpoints' sidecar files, listed on first use. */
  lazy val sidecarFiles: Seq[FileStatus] =
    try fs.listStatus(new Path(dir, "_sidecars")).toSeq.filter(_.isFile)
    catch { case _: FileNotFoundException => Nil }
}

private[sources] object DeltaListing {
  private val CommitRe = """(\d{20})\.json""".r
  private val CkptSingleRe = """(\d{20})\.checkpoint\.parquet""".r
  private val CkptMultiRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  // v2 spec checkpoints are uuid-named; the uuid never parses as the
  // multi-part regex's all-digit groups, so the three stay disjoint
  private val CkptV2Re = """(\d{20})\.checkpoint\.[0-9a-zA-Z-]+\.parquet""".r
}

/**
 * The Delta action codec: commit lines and checkpoint rows decode into
 * the same [[DeltaAction]]s, and every reader of `_delta_log` goes
 * through it. The rules all readers must agree on live here once: JSON
 * and parquet integers of any width read as Long; an absent `dataChange`
 * means true; an undated tombstone never expires
 * ([[CkptRemove.deletedAt]]); a deletion-vector descriptor needs its four
 * spec fields (a struct missing one is refused, since guessing would
 * resurrect deleted rows); and an action missing a field the protocol
 * requires (an `add` without a path, …) is refused with the commit and
 * the action named.
 */
private[sources] object DeltaCodec {

  /** One listing of `root`'s `_delta_log`; None when there is none. */
  def list(fs: FileSystem, root: Path): Option[DeltaListing] = {
    val dir = DeltaLog.logDir(root)
    try Some(new DeltaListing(fs, dir, fs.listStatus(dir).toSeq))
    catch { case _: FileNotFoundException => None }
  }

  def commitPath(root: Path, version: Long): Path =
    new Path(DeltaLog.logDir(root), f"$version%020d.json")

  /** Run `f` over commit `version`'s actions, decoded lazily line by
    * line: a reader that stops early (at `commitInfo`) reads no further. */
  def readCommit[T](fs: FileSystem, file: Path, version: Long, root: String)(
      f: Iterator[DeltaAction] => T): T = {
    val site = s"commit $version at $root"
    val in = fs.open(file)
    try f(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).flatMap { line =>
        JsonMethods.parse(line) match {
          case JObject(actions) => actions.iterator.flatMap {
            case (kind, o: JObject) => decode(kind, new JsonFields(o), site, line)
            case _ => None
          }
          case _ => Iterator.empty
        }
      })
    finally in.close()
  }

  /** The actions of checkpoint `files` (one instance's parts, or its
    * sidecars), collected in one Spark job. The rows are read under the
    * first file's footer schema, so no schema-inference job runs, pruned
    * to the fields [[decode]] reads ([[Decoded]]), so the unread columns
    * (`stats_parsed`, `tags`, `checkpointMetadata`, …) stay on disk. */
  def readCheckpoint(spark: SparkSession, files: Seq[Path],
      site: String): Iterator[DeltaAction] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(files.head,
      spark.sessionState.newHadoopConf()))
    val schema =
      try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(footer.getFileMetaData.getSchema)
      finally footer.close()
    val read = StructType(schema.fields.toSeq.flatMap { action =>
      (Decoded.get(action.name), action.dataType) match {
        case (Some(names), t: StructType) =>
          val kept = t.fields.filter(f => names.contains(f.name))
          if (kept.isEmpty) None else Some(action.copy(dataType = StructType(kept)))
        case _ => None
      }
    })
    if (read.isEmpty) return Iterator.empty
    spark.read.schema(read).parquet(files.map(_.toString): _*).collect()
      .iterator.flatMap { row =>
        (0 until row.length).iterator.flatMap { i =>
          row.get(i) match {
            case o: Row => decode(read(i).name, new RowFields(o), site, row.json)
            case _ => None
          }
        }
      }
  }

  /** The fields [[decode]] reads from each action a checkpoint can
    * hold; a struct-valued one (`deletionVector`, `format`) is read
    * whole. */
  private val Decoded: Map[String, Set[String]] = Map(
    "add" -> Set("path", "partitionValues", "size", "modificationTime",
      "dataChange", "deletionVector", "stats", "baseRowId",
      "defaultRowCommitVersion"),
    "remove" -> Set("path", "deletionTimestamp", "dataChange", "deletionVector"),
    "metaData" -> Set("id", "format", "schemaString", "partitionColumns",
      "configuration"),
    "protocol" -> Set("minReaderVersion", "minWriterVersion", "readerFeatures",
      "writerFeatures"),
    "txn" -> Set("appId", "version"),
    "domainMetadata" -> Set("domain", "configuration", "removed"),
    "sidecar" -> Set("path", "sizeInBytes", "modificationTime"))

  private val DvFields = Seq("storageType", "pathOrInlineDv", "sizeInBytes", "cardinality")

  private def decode(kind: String, b: Fields, site: String,
      shown: => String): Option[DeltaAction] = {
    def need[T](field: String, v: Option[T]): T = v.getOrElse(
      throw new IllegalStateException(
        s"malformed $kind action in $site (no $field): $shown"))
    def path = need("path", b.str("path"))
    def dataChange = b.bool("dataChange").getOrElse(true)
    def dv = b.obj("deletionVector").map(deletionVector(_, site))
    kind match {
      case "add" => Some(CkptAdd(path, b.strMap("partitionValues").getOrElse(Map.empty),
        b.long("size").getOrElse(0L), b.long("modificationTime").getOrElse(0L),
        dataChange, dv, b.str("stats"), b.long("baseRowId"),
        b.long("defaultRowCommitVersion")))
      case "remove" =>
        Some(CkptRemove(path, b.long("deletionTimestamp"), dataChange, dv))
      case "cdc" => Some(CkptCdc(path, b.long("size").getOrElse(0L)))
      case "metaData" => Some(CkptMetaData(b.str("id"),
        b.obj("format").map(f => CkptFormat(f.str("provider").getOrElse("parquet"),
          f.strMap("options").getOrElse(Map.empty)))
          .getOrElse(CkptFormat("parquet", Map.empty)),
        need("schemaString", b.str("schemaString")),
        b.strs("partitionColumns").getOrElse(Nil),
        b.strMap("configuration").getOrElse(Map.empty)))
      case "protocol" => Some(CkptProtocol(
        need("minReaderVersion", b.long("minReaderVersion")).toInt,
        need("minWriterVersion", b.long("minWriterVersion")).toInt,
        b.strs("readerFeatures"), b.strs("writerFeatures")))
      case "txn" => Some(CkptTxn(need("appId", b.str("appId")),
        need("version", b.long("version"))))
      case "domainMetadata" => Some(CkptDomainMetadata(
        need("domain", b.str("domain")),
        // a serialized string by spec; a writer that inlined an object
        // is read as that object's JSON
        b.text("configuration").getOrElse(""),
        b.bool("removed").getOrElse(false)))
      case "commitInfo" =>
        Some(CkptCommitInfo(b.long("inCommitTimestamp"), b.str("operation")))
      case "sidecar" => Some(CkptSidecar(path,
        b.long("sizeInBytes").getOrElse(0L), b.long("modificationTime").getOrElse(0L)))
      case _ => None
    }
  }

  private def deletionVector(b: Fields, site: String): DvDescriptor = {
    val missing = DvFields.filterNot(b.has)
    if (missing.nonEmpty) {
      throw new UnsupportedDeltaProtocolException(
        s"Delta $site carries deletionVector structs missing " +
          s"${missing.sorted.mkString(", ")}; cannot decode the deletion " +
          "vectors. Read this table with the delta-spark connector instead.")
    }
    def str(f: String): String = b.str(f).getOrElse(
      throw new IllegalStateException(s"deletionVector.$f is ${b.show(f)} in $site"))
    DvDescriptor(str("storageType"), str("pathOrInlineDv"),
      b.long("offset").map(_.toInt), b.long("sizeInBytes").getOrElse(0L).toInt,
      b.long("cardinality").getOrElse(0L))
  }

  /** Typed reads of one action's fields: a commit line's JSON object or
    * a checkpoint row's struct. "Has" means the format declares the
    * field (a struct declares every field of its schema, null or not).
    * Integers of any JSON or parquet width read as Long. */
  private sealed trait Fields {
    def has(f: String): Boolean
    def str(f: String): Option[String]
    def long(f: String): Option[Long]
    def bool(f: String): Option[Boolean]
    def strs(f: String): Option[Seq[String]]
    def strMap(f: String): Option[Map[String, String]]
    def obj(f: String): Option[Fields]
    /** A string field, or the JSON of an object written in its place. */
    def text(f: String): Option[String]
    def show(f: String): String
  }

  private final class JsonFields(o: JObject) extends Fields {
    def has(f: String): Boolean = o.obj.exists(_._1 == f)
    def str(f: String): Option[String] = o \ f match {
      case JString(s) => Some(s)
      case _ => None
    }
    def long(f: String): Option[Long] = o \ f match {
      case JInt(n) => Some(n.toLong)
      case JLong(n) => Some(n)
      case _ => None
    }
    def bool(f: String): Option[Boolean] = o \ f match {
      case JBool(v) => Some(v)
      case _ => None
    }
    def strs(f: String): Option[Seq[String]] = o \ f match {
      case JArray(vs) => Some(vs.collect { case JString(s) => s })
      case _ => None
    }
    def strMap(f: String): Option[Map[String, String]] = o \ f match {
      case JObject(kvs) => Some(kvs.collect { case (k, JString(v)) => k -> v }.toMap)
      case _ => None
    }
    def obj(f: String): Option[Fields] = o \ f match {
      case j: JObject => Some(new JsonFields(j))
      case _ => None
    }
    def text(f: String): Option[String] = o \ f match {
      case j: JObject => Some(JsonMethods.compact(j))
      case _ => str(f)
    }
    def show(f: String): String = (o \ f).toString
  }

  private final class RowFields(r: Row) extends Fields {
    private def index(f: String): Int = r.schema.fields.indexWhere(_.name == f)
    private def get(f: String): Option[Any] = index(f) match {
      case -1 => None
      case i => Option(r.get(i))
    }
    def has(f: String): Boolean = index(f) >= 0
    def str(f: String): Option[String] = get(f).collect { case s: String => s }
    def long(f: String): Option[Long] = get(f).collect {
      case n: Long => n
      case n: Int => n.toLong
      case n: Short => n.toLong
      case n: Byte => n.toLong
    }
    def bool(f: String): Option[Boolean] = get(f).collect { case b: Boolean => b }
    def strs(f: String): Option[Seq[String]] = get(f).collect {
      case vs: scala.collection.Seq[_] => vs.collect { case s: String => s }.toSeq
    }
    def strMap(f: String): Option[Map[String, String]] = get(f).collect {
      case m: scala.collection.Map[_, _] =>
        m.collect { case (k: String, v: String) => k -> v }.toMap
    }
    def obj(f: String): Option[Fields] = get(f).collect { case o: Row => new RowFields(o) }
    def text(f: String): Option[String] = get(f).collect {
      case o: Row => o.json
      case s: String => s
    }
    def show(f: String): String = get(f).fold("null")(String.valueOf)
  }
}
