package graft.index.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Where one data file's deleted row positions live: a Delta deletion
  * vector (inline, or a blob in the DV file `file`), or an Iceberg
  * positional-delete file whose (`file_path`, `pos`) rows may name it. */
private[sources] sealed trait DeleteSource extends Serializable
private[sources] final case class DvSource(dv: DvDescriptor, file: Option[String])
    extends DeleteSource
private[sources] final case class PositionDeleteFile(path: String) extends DeleteSource

/**
 * MERGE-ON-READ INSIDE THE SCAN: positional deletes (Delta deletion
 * vectors, Iceberg position-delete files) apply as one deterministic
 * filter, `NOT row_deleted(_metadata.file_path, _metadata.row_index)`,
 * on the data scan — a lake read with deletes stays one source leaf and
 * one scan stage, like a read without them.
 *
 * The filter carries metadata only, O(files with deletes): each data
 * file's delete sources, keyed by the exact string `_metadata.file_path`
 * yields for it (spelled once on the driver, so no row pays a path
 * rewrite). Each task decodes a file's positions the first time it meets
 * the file and keeps them for the task; nothing is collected on the
 * driver and no decode job runs.
 *
 * The scan also names its delete-source files in the relation option
 * [[SourcesOption]]: the lake source leaves list them beside the data
 * files, so drift detection sees a new deletion vector or delete file as
 * an appended file, and the option marks the leaf as carrying live
 * deletes, which no index may serve.
 */
object LakeDeletes {

  /** Relation option of a lake scan with live row-level deletes: its
    * delete-source files, newline-separated (empty when every DV is
    * inline, or when only equality deletes apply). */
  val SourcesOption = "graft.lake.deleteSources"

  def sourcesValue(files: Seq[String]): String = files.distinct.mkString("\n")

  def live(options: Map[String, String]): Boolean = options.contains(SourcesOption)

  /** (path, size, mtime) of the delete-source files a relation names. */
  def listSources(options: Map[String, String]): Seq[(String, Long, Long)] =
    options.get(SourcesOption).toSeq.flatMap(_.split('\n')).filter(_.nonEmpty)
      .map { p =>
        val path = new Path(p)
        val st = path.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
          .getFileStatus(path)
        (st.getPath.toString, st.getLen, st.getModificationTime)
      }

  /** The string `_metadata.file_path` yields for a file the scan opened
    * from the path string `p`: its qualified path, URI-encoded. */
  private def metadataPath(conf: Configuration, p: String): String = {
    val path = new Path(p)
    new Path(path.getFileSystem(conf).makeQualified(path).toString).toUri.toString
  }

  /** `row_deleted(_metadata.file_path, _metadata.row_index)` over
    * `byFile` (data file path as read → its delete sources). */
  def rowDeleted(spark: SparkSession, byFile: Map[String, Seq[DeleteSource]]): Column = {
    val conf = spark.sessionState.newHadoopConf()
    val deletes = new RowDeletes(
      byFile.map { case (p, s) => metadataPath(conf, p) -> s },
      if (sourceFiles(byFile).isEmpty) None
      else Some(spark.sparkContext.broadcast(new SerializableConfiguration(conf))))
    GraftBridge.column(RowDeleted(
      GraftBridge.expression(col("_metadata.file_path")),
      GraftBridge.expression(col("_metadata.row_index")), deletes))
  }

  /** `file_sequence(_metadata.file_path)`: the data sequence number of
    * the row's file (`seqs`, keyed by the path as read; 0 when absent). */
  def fileSequence(spark: SparkSession, seqs: Map[String, Long]): Column = {
    val conf = spark.sessionState.newHadoopConf()
    GraftBridge.column(FileSequence(
      GraftBridge.expression(col("_metadata.file_path")),
      new FileSequences(seqs.map { case (p, s) => metadataPath(conf, p) -> s })))
  }

  /** Delta: each DV-bearing file of `files` (table root `root`) → its DV. */
  def deletionVectors(files: Seq[DeltaFileMeta],
      root: Path): Map[String, Seq[DeleteSource]] =
    files.filter(_.dv.exists(_.cardinality > 0L)).map { f =>
      f.path -> Seq(DvSource(f.dv.get, f.dv.get.absolutePath(root).map(_.toString)))
    }.toMap

  /** Iceberg: each data file of `s` → the positional deletes among
    * `deletes` the spec lets name it (delete sequence number not below
    * the file's); files newer than every delete carry no entry. */
  def positional(s: IcebergSnapshot,
      deletes: Seq[IceDeleteFile]): Map[String, Seq[DeleteSource]] = {
    val pos = deletes.filter(_.content == 1)
    s.files.groupBy(f => s.dataSeq.getOrElse(f.path, 0L)).toSeq.flatMap {
      case (seq, files) =>
        val applicable = pos.filter(_.seq >= seq).map(d => PositionDeleteFile(d.path))
        if (applicable.isEmpty) Nil else files.map(_.path -> applicable)
    }.toMap
  }

  /** The delete-source FILES among `byFile`'s sources. */
  def sourceFiles(byFile: Map[String, Seq[DeleteSource]]): Seq[String] =
    byFile.valuesIterator.flatten.collect {
      case DvSource(_, Some(f)) => f
      case PositionDeleteFile(f) => f
    }.toSeq.distinct
}

/** Per-task memo of the last file's looked-up value: rows arrive file by
  * file, so a lookup is paid once per file, not once per row. */
final class LastFile[T] private[sources] (load: String => T) {
  private var path: UTF8String = _
  private var value: T = _
  def apply(p: UTF8String): T = {
    if (path == null || !path.equals(p)) {
      path = p.clone()
      value = load(p.toString)
    }
    value
  }
}

/** The payload of [[RowDeleted]] (compares by identity): delete sources
  * keyed by `_metadata.file_path`, and the Hadoop configuration their
  * files are read with. */
final class RowDeletes private[sources] (byFile: Map[String, Seq[DeleteSource]],
    conf: Option[Broadcast[SerializableConfiguration]]) extends Serializable {

  /** One task's decoder. A DV file's bytes and a positional-delete file's
    * rows are read at most once per task, however many of the task's
    * data files they cover. */
  def probe(): LastFile[Roaring64NavigableMap] = {
    lazy val hadoop = conf.get.value.value
    val dvFiles = mutable.HashMap.empty[String, Array[Byte]]
    val deleteFiles = mutable.HashMap.empty[String, Map[String, Array[Long]]]
    val decoded = mutable.HashMap.empty[String, Roaring64NavigableMap]
    new LastFile(p => decoded.getOrElseUpdate(p, {
      val rows = new Roaring64NavigableMap()
      byFile.getOrElse(p, Nil).foreach {
        case DvSource(dv, file) =>
          DeltaDeletionVectors.positionsOf(dv, file.map(f => dvFiles.getOrElseUpdate(f, {
            val path = new Path(f)
            DeltaDeletionVectors.readFile(path.getFileSystem(hadoop), path)
          }))).foreach(rows.addLong)
        case PositionDeleteFile(f) =>
          // delete files spell the data path scheme-normalized
          deleteFiles.getOrElseUpdate(f, RowDeletes.positionDeletes(hadoop, f))
            .getOrElse(DeltaTable.normPath(p), Array.emptyLongArray).foreach(rows.addLong)
      }
      rows
    }))
  }
}

private[sources] object RowDeletes {
  /** An Iceberg positional-delete file's (`file_path`, `pos`) rows,
    * grouped by the scheme-normalized data path. */
  def positionDeletes(conf: Configuration, file: String): Map[String, Array[Long]] = {
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.parquet.schema.MessageType
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val full = reader.getFooter.getFileMetaData.getSchema
      def field(name: String) = full.getType(full.getFieldIndex(name))
      val schema = new MessageType(full.getName, field("file_path"), field("pos"))
      reader.setRequestedSchema(schema)
      val longPos = field("pos").asPrimitiveType.getPrimitiveTypeName == INT64
      val io = new ColumnIOFactory().getColumnIO(schema)
      val out = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
      // rows come sorted by file_path: normalize each distinct path once
      var lastRaw = ""
      var last: mutable.ArrayBuilder.ofLong = null
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val rows = io.getRecordReader(pages, new GroupRecordConverter(schema))
        for (_ <- 0L until pages.getRowCount) {
          val g = rows.read()
          if (last == null || g.getString(0, 0) != lastRaw) {
            lastRaw = g.getString(0, 0)
            last = out.getOrElseUpdate(DeltaTable.normPath(lastRaw),
              new mutable.ArrayBuilder.ofLong)
          }
          last += (if (longPos) g.getLong(1, 0) else g.getInteger(1, 0).toLong)
        }
        pages = reader.readNextRowGroup()
      }
      out.map { case (k, b) => k -> b.result() }.toMap
    } finally reader.close()
  }
}

/** `row_deleted(file_path, row_index)`: does one of the file's positional
  * delete sources delete this row? Never null. See [[LakeDeletes]]. */
case class RowDeleted(path: Expression, rowIndex: Expression, deletes: RowDeletes)
    extends BinaryExpression with Predicate with ExpectsInputTypes {
  override def left: Expression = path
  override def right: Expression = rowIndex
  override def inputTypes = Seq(StringType, LongType)
  override def nullable: Boolean = false
  override def prettyName: String = "row_deleted"
  // the payload is metadata, not an argument worth printing in a plan
  override protected def stringArgs: Iterator[Any] = Iterator(path, rowIndex)

  @transient private lazy val probe = deletes.probe()

  override def eval(input: InternalRow): Any = {
    val p = path.eval(input)
    val i = rowIndex.eval(input)
    p != null && i != null &&
      probe(p.asInstanceOf[UTF8String]).contains(i.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rowDeletes", deletes)
    val probe = ctx.addMutableState(classOf[LastFile[_]].getName, "deleteProbe",
      v => s"$v = $ref.probe();")
    val (p, i) = (path.genCode(ctx), rowIndex.genCode(ctx))
    ev.copy(code = code"""
      ${p.code}
      ${i.code}
      boolean ${ev.value} = !${p.isNull} && !${i.isNull} &&
        ((${classOf[Roaring64NavigableMap].getName}) $probe.apply(${p.value}))
          .contains(${i.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RowDeleted =
    copy(path = newLeft, rowIndex = newRight)
}

/** The payload of [[FileSequence]]; compares by identity. */
final class FileSequences private[sources] (bySeq: Map[String, Long])
    extends Serializable {
  def probe(): LastFile[Long] = new LastFile[Long](bySeq.getOrElse(_, 0L))
}

/** `file_sequence(file_path)`: the data sequence number of the row's
  * file — the left side of Iceberg's equality-delete ordering rule. */
case class FileSequence(path: Expression, seqs: FileSequences)
    extends UnaryExpression with ExpectsInputTypes {
  override def child: Expression = path
  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType)
  override def nullable: Boolean = false
  override def prettyName: String = "file_sequence"
  override protected def stringArgs: Iterator[Any] = Iterator(path)

  @transient private lazy val probe = seqs.probe()

  override def eval(input: InternalRow): Any = path.eval(input) match {
    case null => 0L
    case p => probe(p.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fileSequences", seqs)
    val probe = ctx.addMutableState(classOf[LastFile[_]].getName, "seqProbe",
      v => s"$v = $ref.probe();")
    val p = path.genCode(ctx)
    ev.copy(code = code"""
      ${p.code}
      long ${ev.value} = ${p.isNull} ? 0L :
        ((java.lang.Long) $probe.apply(${p.value})).longValue();""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): FileSequence =
    copy(path = newChild)
}
