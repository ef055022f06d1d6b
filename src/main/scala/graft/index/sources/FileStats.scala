package graft.index.sources

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-file column statistics for LOG-LEVEL FILE SKIPPING — the lakehouse
 * scale lever: a filtered scan over a 100 TB table should open only the
 * files whose [min, max] range can possibly match, and the decision must
 * come from table metadata (the Delta log's per-add `stats` JSON, an
 * Iceberg manifest's `lower_bounds`/`upper_bounds`), never from touching
 * the files. Both jarless sources funnel into this one module: they
 * decode their native stats encoding into [[FileStats]] and wrap the
 * scan's `FileIndex` in [[StatsPruningFileIndex]], which drops provably
 * empty files when Spark pushes the data filters down at listing time.
 *
 * Stat values live in a small comparison DOMAIN keyed by the column's
 * Catalyst type: Long (integral, date-days, timestamp-µs), Double,
 * String, java.math.BigDecimal, Boolean. Pruning is SOUND-by-default:
 * any unknown — missing stats, an expression shape we don't model, a
 * type outside the domain — keeps the file. Skipping must be provable,
 * never assumed (same contract as DataSkippingFileIndex).
 *
 * Reference counterpart: the reference delegates per-file stats to the
 * connector jars (sources/delta/DeltaLakeRelation.scala:34-45 hands the
 * whole scan to delta's own skipping); re-deriving the log semantics
 * jarlessly means re-deriving the skipping too, or every filtered read
 * pays a full-table scan the real connectors never would.
 */
final case class FileColStats(
    min: Option[Any], max: Option[Any], nullCount: Option[Long])

final case class FileStats(
    numRecords: Option[Long], cols: Map[String, FileColStats])

object StatsPredicate {

  /** Three-way compare within one domain; None = incomparable (mixed
    * domains or NaN) → treat as unknown. */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double) =>
      if (x.isNaN || y.isNaN) None else Some(java.lang.Double.compare(x, y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  /** Catalyst literal value → comparison domain (None = outside it). */
  def toDomain(value: Any, dt: DataType): Option[Any] = {
    if (value == null) return None
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(value.asInstanceOf[Number].longValue)
      case FloatType => Some(value.asInstanceOf[Float].toDouble)
      case DoubleType => Some(value.asInstanceOf[Double])
      case _: DecimalType =>
        Some(value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal)
      case StringType => Some(value.toString)
      case DateType => Some(value.asInstanceOf[Number].longValue) // days
      case TimestampType | TimestampNTZType =>
        Some(value.asInstanceOf[Number].longValue) // µs
      case BooleanType => Some(value.asInstanceOf[Boolean])
      case _ => None
    }
  }

  /** attr-op-literal comparison, normalized so the attribute is on the
    * left (flipping the operator when the literal was). */
  private object AttrCmp {
    def unapply(e: Expression): Option[(String, DataType, Any, String)] = {
      def lit(l: Literal): Option[Any] = toDomain(l.value, l.dataType)
      e match {
        case EqualTo(a: AttributeReference, l: Literal) =>
          lit(l).map(v => (a.name, a.dataType, v, "="))
        case EqualTo(l: Literal, a: AttributeReference) =>
          lit(l).map(v => (a.name, a.dataType, v, "="))
        case EqualNullSafe(a: AttributeReference, l: Literal) if l.value != null =>
          lit(l).map(v => (a.name, a.dataType, v, "="))
        case EqualNullSafe(l: Literal, a: AttributeReference) if l.value != null =>
          lit(l).map(v => (a.name, a.dataType, v, "="))
        case LessThan(a: AttributeReference, l: Literal) =>
          lit(l).map(v => (a.name, a.dataType, v, "<"))
        case LessThan(l: Literal, a: AttributeReference) =>
          lit(l).map(v => (a.name, a.dataType, v, ">"))
        case LessThanOrEqual(a: AttributeReference, l: Literal) =>
          lit(l).map(v => (a.name, a.dataType, v, "<="))
        case LessThanOrEqual(l: Literal, a: AttributeReference) =>
          lit(l).map(v => (a.name, a.dataType, v, ">="))
        case GreaterThan(a: AttributeReference, l: Literal) =>
          lit(l).map(v => (a.name, a.dataType, v, ">"))
        case GreaterThan(l: Literal, a: AttributeReference) =>
          lit(l).map(v => (a.name, a.dataType, v, "<"))
        case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
          lit(l).map(v => (a.name, a.dataType, v, ">="))
        case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
          lit(l).map(v => (a.name, a.dataType, v, "<="))
        case _ => None
      }
    }
  }

  /** Can any row of a file with these stats satisfy `e`? Unknown → true. */
  def mayMatch(stats: FileStats, e: Expression): Boolean = e match {
    case And(l, r) => mayMatch(stats, l) && mayMatch(stats, r)
    case Or(l, r) => mayMatch(stats, l) || mayMatch(stats, r)

    case AttrCmp(name, _, v, op) =>
      stats.cols.get(name) match {
        case None => true
        case Some(cs) =>
          val (mn, mx) = (cs.min, cs.max)
          // a file of all-null values has no min/max but can never
          // satisfy a comparison; distinguish that (nullCount==numRecords
          // handles it below via IsNotNull which Spark always conjoins)
          op match {
            case "=" =>
              mn.flatMap(cmp(_, v)).forall(_ <= 0) &&
                mx.flatMap(cmp(_, v)).forall(_ >= 0)
            case "<" => mn.flatMap(cmp(_, v)).forall(_ < 0)
            case "<=" => mn.flatMap(cmp(_, v)).forall(_ <= 0)
            case ">" => mx.flatMap(cmp(_, v)).forall(_ > 0)
            case ">=" => mx.flatMap(cmp(_, v)).forall(_ >= 0)
            case _ => true
          }
      }

    case Not(EqualTo(a: AttributeReference, l: Literal)) =>
      // `a != v` prunes a file where every NON-NULL row equals v
      // (min==max==v); null rows yield NULL and fail the filter anyway
      (for {
        cs <- stats.cols.get(a.name)
        v <- toDomain(l.value, l.dataType)
        mn <- cs.min; mx <- cs.max
        cMn <- cmp(mn, v); cMx <- cmp(mx, v)
      } yield !(cMn == 0 && cMx == 0)).getOrElse(true)

    case In(a: AttributeReference, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.exists {
        case l: Literal if l.value == null => false // NULL never satisfies In
        case l: Literal => toDomain(l.value, l.dataType) match {
          case None => true // unknown literal domain → may match
          case Some(_) => mayMatch(stats, EqualTo(a, l)) // "=" interval test
        }
      }

    case InSet(a: AttributeReference, values) =>
      stats.cols.get(a.name) match {
        case None => true
        case Some(cs) => values.exists { raw =>
          toDomain(raw, a.dataType) match {
            case None => raw != null
            case Some(v) =>
              cs.min.flatMap(cmp(_, v)).forall(_ <= 0) &&
                cs.max.flatMap(cmp(_, v)).forall(_ >= 0)
          }
        }
      }

    case IsNull(a: AttributeReference) =>
      stats.cols.get(a.name).flatMap(_.nullCount).forall(_ > 0L)

    case IsNotNull(a: AttributeReference) =>
      (for {
        cs <- stats.cols.get(a.name)
        nulls <- cs.nullCount
        total <- stats.numRecords
      } yield nulls < total).getOrElse(true)

    case StartsWith(a: AttributeReference, l: Literal) if l.value != null =>
      // ∃ s ∈ [min, max] with prefix p  ⇔  min.take(|p|) ≤ p ≤ max.take(|p|)
      stats.cols.get(a.name) match {
        case None => true
        case Some(cs) =>
          val p = l.value.toString
          def trunc(x: Any): Option[String] = x match {
            case s: String => Some(s.take(p.length))
            case _ => None
          }
          cs.min.flatMap(trunc).forall(_ <= p) &&
            cs.max.flatMap(trunc).forall(_ >= p)
      }

    case _ => true
  }
}

/**
 * `FileIndex` decorator dropping files whose stats prove the pushed-down
 * data filters can't match. Purely driver-side per-file interval checks
 * at listing time — no Spark job, unlike DataSkippingFileIndex's index
 * query (stats here are already in memory from the log replay). Paths
 * are scheme-normalized on both sides so `file:`-qualified listing
 * results match bare log paths.
 */
final class StatsPruningFileIndex(
    base: FileIndex,
    statsByPath: Map[String, FileStats]) extends FileIndex {

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = base.listFiles(partitionFilters, dataFilters)
    val pred = dataFilters.reduceOption(And)
    if (pred.isEmpty || statsByPath.isEmpty) return listed
    listed.map { pd =>
      pd.copy(files = pd.files.filter { f =>
        statsByPath.get(DeltaTable.normPath(f.getPath.toString))
          .forall(s =>
            try StatsPredicate.mayMatch(s, pred.get)
            catch { case NonFatal(_) => true })
      })
    }.filter(_.files.nonEmpty)
  }

  override def rootPaths: Seq[Path] = base.rootPaths
  override def inputFiles: Array[String] = base.inputFiles
  override def refresh(): Unit = base.refresh()
  override def sizeInBytes: Long = base.sizeInBytes
  override def partitionSchema: StructType = base.partitionSchema
}

object StatsPruning {

  /** Rewrap `df`'s file-source scan so its listing prunes by `stats`.
    * Output attributes are preserved (LogicalRelation.copy), so the
    * frame stays drop-in for every downstream operator. */
  def wrap(df: DataFrame, statsByPath: Map[String, FileStats]): DataFrame = {
    if (statsByPath.isEmpty) return df
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed.transform {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        val hfs = l.relation.asInstanceOf[HadoopFsRelation]
        l.copy(relation = hfs.copy(
          location = new StatsPruningFileIndex(hfs.location, statsByPath))(spark))
    }
    GraftBridge.ofRows(spark, plan)
  }
}

/**
 * DYNAMIC FILE PRUNING for MERGE: a merge's matched-position scan only
 * needs the target files whose log stats admit a key inside the
 * source's [min, max] key range — everything else provably holds no
 * matched row. One small aggregate over the source buys an
 * O(affected-files) scan instead of an O(table) one, the decisive
 * difference for a narrow merge against a 100 TB table. Sound by
 * construction: missing stats, null bounds (empty or all-null-key
 * source), unmodeled types, and column-mapped stats all degrade to
 * KEEP — pruning is an optimization, never a correctness gate.
 */
private[graft] object MergePruning {

  /** ONE aggregate over a merge source's key columns: the most rows any
    * key value carries (more than one makes the merge ambiguous) and
    * each key's [min, max] — the merge's pruning evidence, None when any
    * key's bound is null (an empty or all-null-key source). */
  def keyStats(source: DataFrame,
      keys: Seq[String]): (Long, Option[Seq[(String, Any, Any)]]) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val row = source.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__graft_rows"))
      .agg(max(col("__graft_rows")),
        keys.flatMap(k => Seq(min(col(k)), max(col(k)))): _*)
      .head()
    val perKey = keys.zipWithIndex.map { case (k, i) =>
      (k, row.get(1 + 2 * i), row.get(2 + 2 * i))
    }
    (if (row.isNullAt(0)) 0L else row.getLong(0),
      if (perKey.exists(b => b._2 == null || b._3 == null)) None
      else Some(perKey))
  }

  /** Target files that may hold a row matching some source key. Log
    * stats cover the FILE columns; a key that is a hive PARTITION
    * column has no stats entry, so its single value is recovered from
    * the file's `k=v` path segment (min = max = value) — a merge keyed
    * on a partition column (the date-partitioned CDC shape) prunes to
    * the matching partitions. */
  def candidates(files: Seq[DeltaFileMeta], schema: StructType,
      kb: Option[Seq[(String, Any, Any)]]): Seq[DeltaFileMeta] =
    kb match {
      case None => files
      case Some(b) =>
        val expr = b.map { case (k, mn, mx) =>
          val dt = schema(k).dataType
          And(
            GreaterThanOrEqual(AttributeReference(k, dt)(), Literal.create(mn, dt)),
            LessThanOrEqual(AttributeReference(k, dt)(), Literal.create(mx, dt)))
        }.reduce(And(_, _))
        val keyNames = b.map(_._1)
        files.filter { f =>
          val base = f.stats.flatMap(DeltaStats.parse(_, schema))
            .getOrElse(FileStats(None, Map.empty))
          val withParts = base.copy(cols = base.cols ++ pathValues(
            f.path, keyNames.filterNot(base.cols.contains), schema))
          if (withParts.cols.isEmpty) true // nothing provable: keep
          else {
            try StatsPredicate.mayMatch(withParts, expr)
            catch { case NonFatal(_) => true }
          }
        }
    }

  /** Hive `k=v` path segments for `names` → single-value column stats
    * in the comparison domain; unparseable values are skipped (keep). */
  private def pathValues(path: String, names: Seq[String],
      schema: StructType): Map[String, FileColStats] =
    if (names.isEmpty) Map.empty
    else {
      val segs: Map[String, String] = path.split('/').flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, v) if names.contains(k) =>
            Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap
      names.flatMap { n =>
        for {
          raw <- segs.get(n)
          if raw != "__HIVE_DEFAULT_PARTITION__"
          dt = schema(n).dataType
          v <- try Some(dt match {
            case ByteType | ShortType | IntegerType | LongType => raw.toLong
            case StringType => raw
            case BooleanType => raw.toBoolean
            case DateType =>
              java.sql.Date.valueOf(raw).toLocalDate.toEpochDay
            case _ => null
          }).filter(_ != null) catch { case NonFatal(_) => None }
        } yield n -> FileColStats(Some(v), Some(v), Some(0L))
      }.toMap
    }

  /** The same bounds as a pushable Column filter — restricts the CDF
    * classification scans to rows that could match a source key (a
    * live row outside every key's range can match nothing). */
  def rangeFilter(kb: Seq[(String, Any, Any)]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    kb.map { case (k, mn, mx) =>
      col(k) >= lit(mn) && col(k) <= lit(mx)
    }.reduce(_ && _)
  }
}

/**
 * Writer-side stats collection from parquet FOOTERS — metadata-only
 * reads (no row data), the same numbers the writer's row groups already
 * recorded. Distributed over executors above a small threshold so a
 * 100k-file initial load doesn't serialize footer reads through the
 * driver; each task opens only footers, so the cost is one metadata RPC
 * per file — strictly less than the write that just produced them.
 */
object ParquetFooterStats {

  def collect(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String], schema: StructType): Map[String, FileStats] = {
    if (paths.isEmpty) return Map.empty
    val confW = new org.apache.spark.SerializableWritable(
      spark.sessionState.newHadoopConf())
    val fields: Seq[(String, DataType)] =
      schema.fields.toSeq.map(f => f.name -> f.dataType)
    def readAll(ps: Iterator[String]): Iterator[(String, FileStats)] =
      ps.map(p => p -> readOne(confW.value, p, fields))
    if (paths.size <= 64) {
      readAll(paths.iterator).toMap
    } else {
      val n = math.min(paths.size, 32)
      spark.sparkContext.parallelize(paths, n)
        .mapPartitions(readAll).collect().toMap
    }
  }

  /** One footer → FileStats; any decode trouble degrades to no-stats
    * (pruning treats missing as unknown). */
  private def readOne(conf: org.apache.hadoop.conf.Configuration,
      path: String, fields: Seq[(String, DataType)]): FileStats = {
    import scala.jdk.CollectionConverters._
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(path), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val numRecords = blocks.map(_.getRowCount).sum
        val byName = fields.toMap
        val acc = mutable.Map.empty[String, (Option[Any], Option[Any], Option[Long], Boolean)]
        blocks.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            val dotted = c.getPath.toDotString
            if (!dotted.contains('.') && byName.contains(dotted)) {
              val dt = byName(dotted)
              val st = c.getStatistics
              val (mn, mx) =
                if (st == null || !st.hasNonNullValue) (None, None)
                else (physToDomain(st.genericGetMin, dt),
                  physToDomain(st.genericGetMax, dt))
              val nulls: Option[Long] =
                if (st != null && st.isNumNullsSet) Some(st.getNumNulls) else None
              val rowsAllNull = st != null && st.isNumNullsSet &&
                st.getNumNulls == b.getRowCount
              val prev = acc.getOrElse(dotted, (None, None, Some(0L), true))
              val known = prev._4 &&
                // a block with rows but no min/max that is NOT all-null
                // makes the file's range unknowable
                (mn.isDefined || b.getRowCount == 0L || rowsAllNull)
              acc(dotted) = (
                minOf(prev._1, mn), maxOf(prev._2, mx),
                for (a <- prev._3; x <- nulls) yield a + x,
                known)
            }
          }
        }
        FileStats(Some(numRecords), acc.toMap.map { case (k, (mn, mx, nc, known)) =>
          k -> (if (known) FileColStats(mn, mx, nc) else FileColStats(None, None, nc))
        })
      } finally reader.close()
    } catch { case NonFatal(_) => FileStats(None, Map.empty) }
  }

  private def minOf(a: Option[Any], b: Option[Any]): Option[Any] = (a, b) match {
    case (Some(x), Some(y)) => Some(if (cmpLoose(x, y) <= 0) x else y)
    case _ => a.orElse(b)
  }
  private def maxOf(a: Option[Any], b: Option[Any]): Option[Any] = (a, b) match {
    case (Some(x), Some(y)) => Some(if (cmpLoose(x, y) >= 0) x else y)
    case _ => a.orElse(b)
  }
  private def cmpLoose(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => 0
  }

  /** Parquet physical stat value → comparison domain for the column's
    * LOGICAL type. INT96 timestamps (12-byte binaries) and any other
    * unmodeled physical shape → None. */
  private def physToDomain(v: Any, dt: DataType): Option[Any] = {
    import org.apache.parquet.io.api.Binary
    (v, dt) match {
      case (n: java.lang.Integer, ByteType | ShortType | IntegerType) =>
        Some(n.longValue)
      case (n: java.lang.Long, LongType) => Some(n.longValue)
      case (n: java.lang.Float, FloatType) => Some(n.doubleValue)
      case (n: java.lang.Double, DoubleType) => Some(n.doubleValue)
      case (b: Binary, StringType) => Some(b.toStringUsingUTF8)
      case (n: java.lang.Integer, DateType) => Some(n.longValue)
      case (n: java.lang.Long, TimestampType | TimestampNTZType) =>
        Some(n.longValue)
      case (b: java.lang.Boolean, BooleanType) => Some(b.booleanValue)
      case (n: java.lang.Integer, d: DecimalType) =>
        Some(java.math.BigDecimal.valueOf(n.longValue, d.scale))
      case (n: java.lang.Long, d: DecimalType) =>
        Some(java.math.BigDecimal.valueOf(n.longValue, d.scale))
      case (b: Binary, d: DecimalType) =>
        Some(new java.math.BigDecimal(
          new java.math.BigInteger(b.getBytes), d.scale))
      case _ => None
    }
  }
}
