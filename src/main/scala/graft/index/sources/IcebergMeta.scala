package graft.index.sources

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Minimal Apache Iceberg TABLE-METADATA implementation — reader and
 * fixture writer — with no dependency on the iceberg-spark runtime jar.
 * Iceberg's metadata tree is an open format: `.metadata.json` documents
 * under `metadata/` (schema, snapshots) pointing at avro manifest lists, which
 * point at avro manifests, which enumerate the data files. The avro
 * core jars ship with Spark, so the tree is fully parseable jarless
 * (reference consumes it through the connector:
 * sources/iceberg/IcebergRelation.scala — signature = snapshot id +
 * location, files from `planFiles`; this module re-derives the
 * metadata-walk itself).
 *
 * Scope: v1/v2 DATA manifests plus v2 row-level DELETE manifests —
 * positional (content=1) AND equality (content=2) delete files, both
 * applied merge-on-read by [[IcebergTable.read]].
 *
 * Scale note: one metadata.json read + one manifest-list read + one read
 * per manifest — the same driver-side walk the connector does; state is
 * file METADATA only, never row data.
 */

/** A v2 row-level delete file: positional (`content=1`, rows of
  * `file_path`,`pos`) or equality (`content=2`, rows of the columns
  * named by `equalityIds`). `seq` is the DATA SEQUENCE NUMBER of the
  * commit that added it — the spec's ordering rule: an equality delete
  * applies only to data files with a strictly smaller sequence, so a
  * key re-inserted AFTER the delete survives. */
final case class IceDeleteFile(
    path: String, size: Long, content: Int,
    equalityIds: Seq[Int], seq: Long)

/** A named snapshot ref (`refs` in table metadata): a `branch` moves
  * with writes targeting it, a `tag` is immutable. `main` is NOT
  * stored here — `current-snapshot-id` is authoritative for it (real
  * readers treat it so), which keeps every metadata-only repoint
  * (rollback, expire) consistent for free. Retention (the spec's
  * optional ref fields): `maxRefAgeMs` ages the REF itself out during
  * expireSnapshots; `minSnapshotsToKeep`/`maxSnapshotAgeMs`
  * (branches only) bound how much of the branch's ancestor chain
  * expiration retains. */
final case class IceRef(snapshotId: Long, refType: String,
    maxRefAgeMs: Option[Long] = None,
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None)

final case class IcebergSnapshot(
    location: String,
    snapshotId: Long,
    schema: StructType,
    files: Seq[DeltaFileMeta], // (path, size, mtime=0): iceberg files are immutable
    // v2 merge-on-read: delete files whose rows the read drops from
    // `files`
    deleteFiles: Seq[IceDeleteFile] = Nil,
    // per-data-file sequence numbers (path → seq), for the equality-
    // delete ordering rule; legacy manifests without the field read as 0
    dataSeq: Map[String, Long] = Map.empty,
    // top-level field id → column name, from the snapshot's own schema
    // JSON (resolves equality_ids against external tables' real ids)
    fieldIdToName: Map[Int, String] = Map.empty,
    // the current iceberg schema JSON verbatim (compact) — republishing
    // entries and schema EVOLUTION must preserve its field ids
    schemaJsonStr: String = "",
    // table properties (metadata.json "properties")
    properties: Map[String, String] = Map.empty,
    // metadata.json last-column-id: ids of DROPPED columns stay retired
    lastColumnId: Int = 0,
    // the metadata.json version this snapshot was read from — the COMMIT
    // FENCE base: a commit publishes exactly version+1, so two writers
    // sharing a prior collide on the create-no-overwrite, never fork
    metadataVersion: Long = 0L,
    // the default partition spec's fields (source-id resolved against
    // the current schema) — identity AND hidden-partitioning transforms
    // (bucket/truncate/year/month/day/hour, see [[IceTransforms]]);
    // empty = spec 0 / unpartitioned. Fixed at create; every write honors it.
    partitionFields: Seq[IcePartField] = Nil,
    // per-data-file partition tuple from the manifests (normPath →
    // field name → value in the stats domain; None = null partition) —
    // the read-side pruning evidence for transform fields
    partitionValues: Map[String, Map[String, Option[Any]]] = Map.empty,
    // named branch/tag refs (metadata.json "refs", minus main — see
    // [[IceRef]]): the write-audit-publish surface
    refs: Map[String, IceRef] = Map.empty) {

  /** Identity partition columns — the ones whose SOURCE column is
    * path-encoded (data files drop it; reads reconstruct it). */
  def partitionColumns: Seq[String] =
    partitionFields.collect { case f if f.kind == TIdentity => f.sourceCol }

  /** Latest committed txn version per appId — the `graft.txn.<appId>`
    * table properties exactly-once writers stamp. */
  def transactions: Map[String, Long] = properties.collect {
    case (k, v) if k.startsWith(IcebergTable.TxnPrefix) =>
      k.stripPrefix(IcebergTable.TxnPrefix) -> v.toLong
  }

  /** `live` data files (default: all of them) paired with their
    * sequence numbers — the existing-data entries a commit republishes. */
  def liveData(live: Seq[DeltaFileMeta] = files): Seq[(DeltaFileMeta, Long)] =
    live.map(f => (f, dataSeq.getOrElse(f.path, 0L)))
}

/**
 * Iceberg SINGLE-VALUE SERIALIZATION (spec appendix D) for manifest
 * bounds: little-endian fixed-width numerics, UTF-8 strings, big-endian
 * unscaled decimals. Values travel in the [[FileStats]] comparison
 * domain (Long / Double / String / BigDecimal / Boolean) so both
 * jarless sources share one pruning evaluator.
 */
private[graft] object IceSingleValue {
  import java.nio.{ByteBuffer, ByteOrder}

  def serialize(v: Any, dt: DataType): Option[Array[Byte]] = (v, dt) match {
    case (n: Long, ByteType | ShortType | IntegerType | DateType)
        if n >= Int.MinValue && n <= Int.MaxValue =>
      Some(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(n.toInt).array())
    case (n: Long, LongType | TimestampType | TimestampNTZType) =>
      Some(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        .putLong(n).array())
    case (d: Double, FloatType) =>
      Some(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putFloat(d.toFloat).array())
    case (d: Double, DoubleType) =>
      Some(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        .putDouble(d).array())
    case (s: String, StringType) =>
      Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case (b: Boolean, BooleanType) =>
      Some(Array[Byte](if (b) 1 else 0))
    case (d: java.math.BigDecimal, dec: DecimalType) =>
      Some(d.setScale(dec.scale).unscaledValue.toByteArray)
    case _ => None
  }

  def deserialize(bytes: Array[Byte], dt: DataType): Option[Any] = dt match {
    case ByteType | ShortType | IntegerType | DateType if bytes.length == 4 =>
      Some(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        .getInt.toLong)
    case LongType | TimestampType | TimestampNTZType if bytes.length == 8 =>
      Some(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getLong)
    case FloatType if bytes.length == 4 =>
      Some(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        .getFloat.toDouble)
    case DoubleType if bytes.length == 8 =>
      Some(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getDouble)
    case StringType =>
      Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    case BooleanType if bytes.length == 1 => Some(bytes(0) != 0)
    case dec: DecimalType =>
      Some(new java.math.BigDecimal(
        new java.math.BigInteger(bytes), dec.scale))
    case _ => None
  }
}

/** Raw per-entry metrics as read from a data manifest (field-id keyed,
  * bounds still single-value-serialized). */
private[sources] final case class RawBounds(
    recordCount: Long,
    nullCounts: Map[Int, Long],
    lower: Map[Int, Array[Byte]],
    upper: Map[Int, Array[Byte]])

/** One `snapshots[]` entry of an Iceberg metadata document. */
private[sources] final case class IceSnapEntry(id: Long,
    parentId: Option[Long], timestampMs: Long, operation: Option[String],
    json: JValue)

/** A metadata document's `snapshots[]` in file order, with its
  * `current-snapshot-id` (-1 = no snapshot yet) — parsed once by
  * [[IcebergMeta.snapshotLog]], the one reader of snapshot ids, lineage,
  * commit times and operations. */
private[sources] final case class IceSnapLog(entries: Seq[IceSnapEntry],
    currentId: Long) {
  lazy val byId: Map[Long, IceSnapEntry] = entries.map(e => e.id -> e).toMap

  def contains(id: Long): Boolean = byId.contains(id)

  /** `parent-snapshot-id`; metadata without lineage falls back to the
    * previous entry in file order. */
  def parentOf(id: Long): Option[Long] =
    byId.get(id).flatMap(_.parentId).orElse {
      val i = entries.indexWhere(_.id == id)
      if (i > 0) Some(entries(i - 1).id) else None
    }

  /** The lineage `(from, to]`, oldest first, walked back from `to`:
    * `Right((ids, reached))`, `reached` telling whether the walk met
    * `from` (else it ran off the root of the lineage), or `Left(id)`
    * when it met an id missing from snapshots[] (expired). */
  def lineage(from: Long, to: Long): Either[Long, (Seq[Long], Boolean)] = {
    val chain = mutable.Buffer.empty[Long]
    var cursor: Option[Long] = Some(to)
    while (cursor.exists(_ != from)) {
      if (!contains(cursor.get)) return Left(cursor.get)
      chain += cursor.get
      cursor = parentOf(cursor.get)
    }
    Right((chain.reverse.toSeq, cursor.isDefined))
  }

  /** The current lineage: `currentId` and its retained ancestors, walked
    * back until the root or an expired id. */
  def currentLineage: Seq[Long] =
    Iterator.iterate(Option(currentId))(_.flatMap(parentOf))
      .takeWhile(_.exists(contains)).flatten.toSeq
}

object IcebergMeta {

  // ------------------------------------------------------- metadata json

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  def metadataDir(location: String): Path = new Path(location, "metadata")

  def isIcebergTable(spark: SparkSession, location: String): Boolean = {
    val dir = metadataDir(location)
    val fs = fsOf(spark, dir)
    fs.exists(dir) && fs.listStatus(dir)
      .exists(_.getPath.getName.endsWith(".metadata.json"))
  }

  /** The current metadata document: `version-hint.text` if present (the
    * hadoop-catalog convention), else the NUMERICALLY-latest
    * `*.metadata.json`. The numeric parse matters: a lexicographic sort
    * over unpadded names resolves `v9` above `v10` — a silent
    * time-travel to a stale snapshot once a table passes 10 versions. */
  private[sources] def currentMetadataFile(fs: FileSystem, location: String): Path = {
    val dir = metadataDir(location)
    val hint = new Path(dir, "version-hint.text")
    if (fs.exists(hint)) {
      val in = fs.open(hint)
      val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // padded (this writer, real hadoop catalogs) then legacy unpadded
      val candidates = scala.util.Try(v.toLong).toOption.toSeq
        .map(n => new Path(dir, f"v$n%05d.metadata.json")) :+
        new Path(dir, s"v$v.metadata.json")
      candidates.find(fs.exists).foreach(p => return p)
    }
    val VersionPrefix = """^v?0*(\d+)\D.*""".r
    def numericVersion(name: String): Long = name match {
      case VersionPrefix(digits) => digits.toLong
      case _ => -1L
    }
    fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".metadata.json"))
      .sortBy(p => (numericVersion(p.getName), p.getName))
      .lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table (no metadata.json under $dir)"))
  }

  /** Opt-in METADATA-HISTORY PRUNING (real Iceberg's
    * `write.metadata.delete-after-commit.enabled` +
    * `write.metadata.previous-versions-max`, default 100): after a
    * commit, delete the OLDEST `v*.metadata.json` documents beyond the
    * retention count. Table content is untouched — every retained
    * snapshot's tree hangs off the CURRENT document; older documents
    * only serve metadata archaeology, and a high-commit-rate ingest
    * table accumulates one per commit forever without this. */
  private[sources] def pruneMetadataHistory(fs: FileSystem,
      location: String, properties: Map[String, String]): Seq[String] = {
    if (!properties.get("write.metadata.delete-after-commit.enabled")
        .contains("true")) return Nil
    // tolerant parse — this runs AFTER the commit fence, where a junk
    // value (planted by an external writer; our setProperties
    // validates) must never fail an already-committed write
    val keep = math.max(1, properties
      .get("write.metadata.previous-versions-max")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(100))
    val dir = metadataDir(location)
    val docs = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".metadata.json"))
      .sortBy(p => (metadataVersionOf(p.getName), p.getName)).toSeq
    // newest `keep` previous versions + the current document stay
    val doomed = docs.dropRight(keep + 1)
    doomed.foreach(p => fs.delete(p, false))
    doomed.map(_.toString)
  }

  private[sources] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** The current metadata document and its file. */
  private[sources] def currentMetadata(fs: FileSystem,
      location: String): (Path, JValue) = {
    val f = currentMetadataFile(fs, location)
    (f, JsonMethods.parse(readString(fs, f)))
  }

  /** A metadata document's `properties`. */
  private[sources] def propertiesOf(j: JValue): Map[String, String] =
    (j \ "properties") match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }

  private def longOf(v: JValue): Option[Long] = v match {
    case JInt(n) => Some(n.toLong)
    case JLong(n) => Some(n)
    case _ => None
  }

  /** Parse `snapshots[]` and `current-snapshot-id` (entries without an
    * id are skipped; an absent timestamp reads 0). */
  private[sources] def snapshotLog(j: JValue): IceSnapLog =
    IceSnapLog(((j \ "snapshots") match {
      case JArray(snaps) => snaps
      case _ => Nil
    }).flatMap { sj =>
      longOf(sj \ "snapshot-id").map(id => IceSnapEntry(id,
        longOf(sj \ "parent-snapshot-id"),
        longOf(sj \ "timestamp-ms").getOrElse(0L),
        (sj \ "summary" \ "operation") match {
          case JString(o) => Some(o)
          case _ => None
        }, sj))
    }, longOf(j \ "current-snapshot-id").filter(_ >= 0).getOrElse(-1L))

  /** Resolve a snapshot: the current one, or — TIME TRAVEL — any
    * snapshot still listed in `snapshots[]` via `snapshotAsOf`. Schema is
    * the metadata file's current schema (this engine's fixtures never
    * evolve schemas between snapshots; a schema-id-per-snapshot lookup
    * would slot in here). */
  def snapshot(spark: SparkSession, location: String,
      snapshotAsOf: Option[Long] = None): IcebergSnapshot = {
    val fs = fsOf(spark, new Path(location))
    val (metaFile, j) = currentMetadata(fs, location)
    val log = snapshotLog(j)

    val schemaJson: JValue = (j \ "schemas") match {
      // v2: schemas[] selected by current-schema-id
      case JArray(schemas) if schemas.nonEmpty =>
        val currentId = (j \ "current-schema-id") match {
          case JInt(n) => n.toInt
          case _ => 0
        }
        schemas.find(s => (s \ "schema-id") == JInt(currentId))
          .getOrElse(schemas.head)
      // v1: a single inline schema
      case _ => j \ "schema"
    }
    val schema = icebergSchemaToSpark(schemaJson)
    val fieldIds: Map[Int, String] = (schemaJson \ "fields") match {
      case JArray(fields) => fields.flatMap { f =>
        ((f \ "id"), (f \ "name")) match {
          case (JInt(i), JString(n)) => Some(i.toInt -> n)
          case _ => None
        }
      }.toMap
      case _ => Map.empty
    }
    // default partition spec → [[IcePartField]]s: identity AND hidden-
    // partitioning transforms (bucket[N]/truncate[W]/year/month/day/
    // hour/void); an unknown transform still refuses loudly — a write
    // against it would publish files its partition tuple can't
    // describe, and reads planned here would mis-prune.
    val partFieldsParsed: Seq[IcePartField] = {
      val specId = (j \ "default-spec-id") match {
        case JInt(n) => n.toInt
        case _ => 0
      }
      (j \ "partition-specs") match {
        case JArray(specs) =>
          specs.find(s => (s \ "spec-id") == JInt(specId)).toSeq.flatMap {
            s => (s \ "fields") match {
              case JArray(fs) => fs.zipWithIndex.map { case (f, i) =>
                val transform = (f \ "transform") match {
                  case JString(t) => t
                  case _ => "identity"
                }
                // canonicality check — throws on unsupported transforms
                IceTransforms.parseTransform(transform)
                val src = (f \ "source-id") match {
                  case JInt(sid) => fieldIds.getOrElse(sid.toInt,
                    throw new IllegalArgumentException(
                      s"partition spec of $location names source-id $sid, " +
                        "not a top-level column of the current schema"))
                  case _ => (f \ "name") match {
                    case JString(n) => n
                    case _ => throw new IllegalArgumentException(
                      s"partition spec field of $location has neither " +
                        "source-id nor name")
                  }
                }
                val name = (f \ "name") match {
                  case JString(n) => n
                  case _ => src
                }
                val fieldId = (f \ "field-id") match {
                  case JInt(n) => n.toInt
                  case _ => 1000 + i
                }
                IcePartField(name, src, transform, fieldId)
              }
              case _ => Nil
            }
          }
        case _ => Nil
      }
    }

    val snapshotId = snapshotAsOf.getOrElse(log.currentId)
    if (snapshotId < 0)
      return IcebergSnapshot(location, -1L, schema, Nil,
        schemaJsonStr = JsonMethods.compact(JsonMethods.render(schemaJson)),
        properties = propertiesOf(j),
        metadataVersion = metadataVersionOf(metaFile.getName),
        partitionFields = partFieldsParsed, refs = parseRefs(j))

    val snap = log.byId.getOrElse(snapshotId, throw new IllegalArgumentException(
      if (snapshotAsOf.isDefined)
        s"snapshotAsOf $snapshotId not in snapshots[] of $metaFile " +
          "(expired or never existed)"
      else
        s"current-snapshot-id $snapshotId not in snapshots[] of $metaFile")).json

    // v1 snapshots may carry an inline "manifests" array; v1/v2 normally
    // carry a "manifest-list" avro file. Entries are (path, content):
    // content 0 = data manifest, 1 = delete manifest (v2 merge-on-read).
    val manifests: Seq[(String, Int)] = (snap \ "manifest-list") match {
      case JString(ml) => readManifestList(fs, resolve(location, ml))
      case _ => (snap \ "manifests") match {
        case JArray(ms) => ms.collect { case JString(m) => m -> 0 }
        case _ => throw new IllegalStateException(
          s"snapshot $snapshotId has neither manifest-list nor manifests")
      }
    }

    val rawEntries = manifests.collect { case (m, 0) => m }
      .flatMap(m => readManifest(fs, resolve(location, m)))
    // per-file partition tuples (only fields of the CURRENT spec are
    // kept — entries written under other spec ids contribute what they
    // share; missing fields just don't prune)
    val partValues: Map[String, Map[String, Option[Any]]] =
      if (partFieldsParsed.isEmpty) Map.empty
      else rawEntries.flatMap { case (f, _, _, tuple) =>
        tuple.map { t =>
          DeltaTable.normPath(f.path) ->
            t.view.filterKeys(partFieldsParsed.map(_.name).toSet).toMap
        }
      }.toMap
    val deleteFiles = manifests.collect { case (m, 1) => m }
      .flatMap(m => readDeleteManifest(fs, resolve(location, m)))
    // decode manifest bounds into the shared stats dialect (carried on
    // DeltaFileMeta.stats like the Delta leg, so both sources prune
    // through one evaluator and re-publish existing entries losslessly)
    val dataEntries = rawEntries.map { case (f, seq, bounds, _) =>
      val statsJson = bounds.flatMap { b =>
        val cols = b.lower.keySet ++ b.upper.keySet ++ b.nullCounts.keySet
        val byName = cols.toSeq.flatMap { id =>
          for {
            name <- fieldIds.get(id)
            field <- schema.fields.find(_.name == name)
          } yield name -> FileColStats(
            b.lower.get(id).flatMap(IceSingleValue.deserialize(_, field.dataType)),
            b.upper.get(id).flatMap(IceSingleValue.deserialize(_, field.dataType)),
            b.nullCounts.get(id))
        }.toMap
        DeltaStats.render(FileStats(Some(b.recordCount), byName), schema)
      }
      (f.copy(stats = statsJson), seq)
    }
    val properties = propertiesOf(j)
    val lastColId = (j \ "last-column-id") match {
      case JInt(n) => n.toInt
      case _ => 0
    }
    IcebergSnapshot(location, snapshotId, schema, dataEntries.map(_._1),
      deleteFiles, dataEntries.map(e => e._1.path -> e._2).toMap, fieldIds,
      JsonMethods.compact(JsonMethods.render(schemaJson)), properties,
      lastColId, metadataVersionOf(metaFile.getName), partFieldsParsed,
      partValues, refs = parseRefs(j))
  }

  /** Parse metadata `refs` (branches/tags) — `main` entries are dropped
    * in favor of the authoritative `current-snapshot-id`. */
  private[sources] def parseRefs(j: JValue): Map[String, IceRef] =
    (j \ "refs") match {
      case JObject(fields) => fields.flatMap { case (name, v) =>
        if (name == "main") None
        else {
          val id = longOf(v \ "snapshot-id")
          val tpe = (v \ "type") match {
            case JString(t) => t
            case _ => "branch"
          }
          id.map(i => name -> IceRef(i, tpe,
            maxRefAgeMs = longOf(v \ "max-ref-age-ms"),
            minSnapshotsToKeep = longOf(v \ "min-snapshots-to-keep").map(_.toInt),
            maxSnapshotAgeMs = longOf(v \ "max-snapshot-age-ms")))
        }
      }.toMap
      case _ => Map.empty
    }

  /** Version number encoded in a metadata.json file name. */
  private[sources] def metadataVersionOf(name: String): Long = {
    val VersionPrefix = """^v?0*(\d+)\D.*""".r
    name match {
      case VersionPrefix(d) => d.toLong
      case _ => 0L
    }
  }

  private[sources] def sameShape(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).toSeq ==
      b.fields.map(f => (f.name, f.dataType)).toSeq

  /** The schema JSON a commit must publish: the PRIOR one verbatim when
    * the logical shape is unchanged — preserving its field ids, which
    * evolution and the manifests' bounds keys depend on — and a freshly
    * id-assigned one only for schema-replacing commits. */
  private[sources] def publishedSchemaJson(prior: Option[IcebergSnapshot],
      schema: StructType): JValue = prior match {
    case Some(p) if p.schemaJsonStr.nonEmpty && sameShape(schema, p.schema) =>
      JsonMethods.parse(p.schemaJsonStr)
    case _ => sparkSchemaToIceberg(schema)
  }

  /** Max field id anywhere in an iceberg schema JSON (last-column-id). */
  private[sources] def maxFieldId(j: JValue): Int = {
    def walk(v: JValue): Seq[Int] = v match {
      case JObject(fields) => fields.flatMap {
        case (("id" | "element-id" | "key-id" | "value-id"), JInt(n)) =>
          Seq(n.toInt)
        case (_, child) => walk(child)
      }
      case JArray(items) => items.flatMap(walk)
      case _ => Nil
    }
    (0 +: walk(j)).max
  }

  /** Iceberg metadata stores absolute URIs; strip `file:` to the same
    * scheme-less form the rest of the engine uses. */
  private[sources] def resolve(location: String, uri: String): String = {
    val p = new Path(uri)
    if (p.isAbsolute || uri.contains(":/")) uri
    else new Path(location, uri).toString
  }

  // ----------------------------------------------------------- avro io

  private def readAvro(fs: FileSystem, path: String): Seq[GenericRecord] = {
    // buffer the (small) metadata file: DataFileReader needs seekable input
    val p = new Path(path)
    val len = fs.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    val reader = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.toList
    finally reader.close()
  }

  /** Schema-aware optional field read: avro GenericData.Record.get
    * throws on a field the writer schema never had. */
  private[sources] def fieldOpt(r: GenericRecord, name: String): Option[AnyRef] =
    Option(r.getSchema.getField(name)).flatMap(f => Option(r.get(f.pos)))

  /** The manifest list's raw avro records — the fast-append path
    * carries prior entries forward verbatim (rebuilt onto this writer's
    * schema), and the `manifests` inspection table surfaces them. */
  private[sources] def readManifestListRecords(fs: FileSystem,
      path: String): Seq[GenericRecord] =
    readAvro(fs, path)

  /** The resolved manifest-list path of `snapshotId` — the ONE
    * resolution shared by fast appends, manifest compaction and the
    * inspection table. None when the snapshot is absent or is a v1
    * snapshot carrying an inline `manifests` array instead
    * ([[inlineManifestsOf]]). */
  private[sources] def manifestListPathOf(location: String,
      log: IceSnapLog, snapshotId: Long): Option[String] =
    log.byId.get(snapshotId).flatMap(s => manifestListOf(location, s.json))

  /** A snapshot JSON's resolved `manifest-list` path. */
  private[sources] def manifestListOf(location: String,
      s: JValue): Option[String] = (s \ "manifest-list") match {
    case JString(ml) => Some(resolve(location, ml))
    case _ => None
  }

  /** A v1 snapshot's inline `manifests` array (data manifests listed
    * directly on the snapshot, no manifest-list file). */
  private[sources] def inlineManifestsOf(s: JValue): Seq[String] =
    (s \ "manifests") match {
      case JArray(ms) => ms.collect { case JString(m) => m }
      case _ => Nil
    }

  /** Every data_file path a manifest lists, ANY status and either
    * content kind — the orphan sweep's notion of "referenced" (a
    * DELETED entry's file may still serve an older snapshot, so the
    * sweep keeps it; expiration owns removing history). */
  private[sources] def manifestEntryPaths(fs: FileSystem,
      path: String): Seq[String] =
    readAvro(fs, path).flatMap(r => Option(r.get("data_file")).collect {
      case df: GenericRecord => df.get("file_path").toString
    })

  private[sources] def readManifestList(fs: FileSystem, path: String): Seq[(String, Int)] =
    readAvro(fs, path).map { r =>
      val content = fieldOpt(r, "content").map(_.toString.toInt).getOrElse(0)
      require(content == 0 || content == 1,
        s"manifest list $path carries manifest content=$content " +
          "(only data=0 and delete=1 manifests exist in the v2 spec)")
      r.get("manifest_path").toString -> content
    }

  /** Per-entry data sequence number; legacy manifests without the field
    * (or with null, meaning "inherit") read as 0 — ordering-neutral for
    * positional deletes, and conservative (always-applies) for equality
    * deletes over legacy data. */
  private def entrySeq(r: GenericRecord): Long =
    fieldOpt(r, "sequence_number").map(_.toString.toLong).getOrElse(0L)

  /** An avro map-as-array field (`[{key, value}, …]`) → Scala map. */
  private def avroMap[V](r: GenericRecord, name: String)(
      conv: AnyRef => Option[V]): Map[Int, V] =
    fieldOpt(r, name) match {
      case Some(l: java.util.List[_]) => l.asScala.collect {
        case kv: GenericRecord =>
          conv(kv.get("value")).map(v => kv.get("key").toString.toInt -> v)
      }.flatten.toMap
      case _ => Map.empty
    }

  private[sources] def bytesOf(v: AnyRef): Option[Array[Byte]] = v match {
    case b: java.nio.ByteBuffer =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); Some(arr)
    case b: Array[Byte] => Some(b)
    case _ => None
  }

  private def readManifest(fs: FileSystem, path: String)
      : Seq[(DeltaFileMeta, Long, Option[RawBounds],
             Option[Map[String, Option[Any]]])] =
    readAvro(fs, path).flatMap { r =>
      val status = fieldOpt(r, "status").map(_.toString.toInt).getOrElse(1)
      if (status == 2) None // DELETED entry
      else {
        val df = r.get("data_file").asInstanceOf[GenericRecord]
        val lower = avroMap(df, "lower_bounds")(bytesOf)
        val upper = avroMap(df, "upper_bounds")(bytesOf)
        val nulls = avroMap(df, "null_value_counts")(v =>
          Option(v).map(_.toString.toLong))
        val rc = fieldOpt(df, "record_count").map(_.toString.toLong).getOrElse(-1L)
        val bounds =
          if (rc >= 0L && (lower.nonEmpty || upper.nonEmpty || nulls.nonEmpty))
            Some(RawBounds(rc, nulls, lower, upper))
          else None
        // the entry's partition tuple (field name → value, normalized
        // to the stats domain) — the hidden-partition pruning evidence
        val tuple: Option[Map[String, Option[Any]]] =
          fieldOpt(df, "partition").collect { case p: GenericRecord =>
            import scala.jdk.CollectionConverters._
            p.getSchema.getFields.asScala.map { f =>
              f.name() -> (p.get(f.name()) match {
                case null => None
                case n: java.lang.Integer => Some(n.longValue: Any)
                case n: java.lang.Long => Some(n.longValue: Any)
                case b: java.lang.Boolean => Some(b.booleanValue: Any)
                case s => Some(s.toString: Any)
              })
            }.toMap
          }
        Some((DeltaFileMeta(
          df.get("file_path").toString,
          df.get("file_size_in_bytes").toString.toLong,
          0L), entrySeq(r), bounds, tuple))
      }
    }

  /** A DELETE manifest's entries are delete FILES: positional
    * (data_file.content=1: rows of `file_path`,`pos`) or equality
    * (content=2: rows of the columns in `equality_ids`), both applied at
    * read time by [[IcebergTable.read]]. An entry without delete content
    * is a corrupt tree (a data file listed in a delete manifest),
    * refused; so is an equality entry without its ids. */
  private def readDeleteManifest(fs: FileSystem, path: String): Seq[IceDeleteFile] =
    readAvro(fs, path).flatMap { r =>
      val status = fieldOpt(r, "status").map(_.toString.toInt).getOrElse(1)
      if (status == 2) None // DELETED entry
      else {
        val df = r.get("data_file").asInstanceOf[GenericRecord]
        val content = fieldOpt(df, "content").map(_.toString.toInt).getOrElse(0)
        require(content == 1 || content == 2,
          s"delete manifest $path entry ${df.get("file_path")} has " +
            s"content=$content — not a delete file (corrupt tree?)")
        val ids: Seq[Int] = fieldOpt(df, "equality_ids") match {
          case Some(l: java.util.List[_]) =>
            l.asScala.map(_.toString.toInt).toSeq
          case _ => Nil
        }
        if (content == 2) require(ids.nonEmpty,
          s"equality delete file ${df.get("file_path")} in $path names no " +
            "equality_ids (corrupt tree?)")
        Some(IceDeleteFile(
          df.get("file_path").toString,
          df.get("file_size_in_bytes").toString.toLong,
          content, ids, entrySeq(r)))
      }
    }

  // ------------------------------------------- iceberg schema <-> spark

  /** Iceberg schema JSON → Spark StructType (primitives + struct/list/map;
    * reference needs the connector's SparkSchemaUtil for the same job). */
  def icebergSchemaToSpark(j: JValue, withFieldIds: Boolean = false): StructType = {
    def typeOf(t: JValue): DataType = t match {
      case JString(s) => primitive(s)
      case obj: JObject => (obj \ "type") match {
        case JString("struct") => structOf(obj)
        case JString("list") =>
          ArrayType(typeOf(obj \ "element"),
            (obj \ "element-required") != JBool(true))
        case JString("map") =>
          MapType(typeOf(obj \ "key"), typeOf(obj \ "value"),
            (obj \ "value-required") != JBool(true))
        case other => throw new IllegalArgumentException(
          s"unsupported iceberg nested type: $other")
      }
      case other =>
        throw new IllegalArgumentException(s"unsupported iceberg type: $other")
    }
    def primitive(s: String): DataType = s match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "string" => StringType
      case "uuid" => StringType
      case "binary" => BinaryType
      // spec: `timestamp` is zone-less (Spark NTZ), `timestamptz` is UTC-
      // adjusted — both µs precision
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case d if d.startsWith("decimal(") =>
        val Array(p, sc) = d.stripPrefix("decimal(").stripSuffix(")").split(",")
        DecimalType(p.trim.toInt, sc.trim.toInt)
      case f if f.startsWith("fixed[") => BinaryType
      case other =>
        throw new IllegalArgumentException(s"unsupported iceberg primitive: $other")
    }
    def structOf(obj: JValue): StructType = StructType(
      (obj \ "fields") match {
        case JArray(fields) => fields.map { f =>
          val JString(name) = (f \ "name"): @unchecked
          val base = StructField(name, typeOf(f \ "type"),
            nullable = (f \ "required") != JBool(true))
          if (!withFieldIds) base
          else (f \ "id") match {
            case JInt(id) => base.copy(metadata = new MetadataBuilder()
              .putLong(ParquetFieldId, id.toLong).build())
            case _ => base
          }
        }
        case _ => Nil
      })
    structOf(j)
  }

  /** Parquet's field-id metadata key (what Spark's reader/writer honor
    * when `spark.sql.parquet.fieldId.{read,write}.enabled` are on). */
  val ParquetFieldId = "parquet.field.id"

  /** Like [[icebergSchemaToSpark]] but with each struct field carrying
    * its iceberg field id as `parquet.field.id` metadata — the read
    * schema for ID-BASED column resolution of EVOLVED tables (renamed
    * columns resolve to the files' original names; dropped-then-readded
    * names do NOT resurrect old data, because the new id differs). */
  def icebergSchemaToSparkWithIds(j: JValue): StructType =
    icebergSchemaToSpark(j, withFieldIds = true)

  /** Spark StructType → Iceberg schema JSON (fixture writer; primitives
    * and nested structs/arrays/maps, ids assigned in walk order). */
  def sparkSchemaToIceberg(schema: StructType): JValue = {
    var nextId = 0
    def id(): Int = { nextId += 1; nextId }
    def typeOf(dt: DataType): JValue = dt match {
      case BooleanType => JString("boolean")
      case IntegerType | ShortType | ByteType => JString("int")
      case LongType => JString("long")
      case FloatType => JString("float")
      case DoubleType => JString("double")
      case DateType => JString("date")
      case StringType => JString("string")
      case BinaryType => JString("binary")
      case TimestampType => JString("timestamptz")
      case TimestampNTZType => JString("timestamp")
      case d: DecimalType => JString(s"decimal(${d.precision}, ${d.scale})")
      case s: StructType => structOf(s)
      case a: ArrayType => JObject(
        "type" -> JString("list"), "element-id" -> JInt(id()),
        "element" -> typeOf(a.elementType),
        "element-required" -> JBool(!a.containsNull))
      case m: MapType => JObject(
        "type" -> JString("map"), "key-id" -> JInt(id()),
        "key" -> typeOf(m.keyType), "value-id" -> JInt(id()),
        "value" -> typeOf(m.valueType),
        "value-required" -> JBool(!m.valueContainsNull))
      case other => throw new IllegalArgumentException(
        s"cannot map $other to an iceberg type")
    }
    def structOf(s: StructType): JValue = JObject(
      "type" -> JString("struct"),
      "fields" -> JArray(s.fields.toList.map { f =>
        JObject("id" -> JInt(id()), "name" -> JString(f.name),
          "required" -> JBool(!f.nullable), "type" -> typeOf(f.dataType))
      }))
    structOf(schema) match {
      case JObject(kvs) => JObject(("schema-id" -> JInt(0)) :: kvs)
    }
  }
}

/**
 * Snapshot-pinned reads and minimal fixture-grade writes of Iceberg
 * tables (jarless — see [[IcebergMeta]]). The writer produces the real
 * on-disk format (metadata.json + avro manifest list + avro manifest +
 * parquet data) with the spec's required fields, so the READER path it
 * exercises is the one real tables hit.
 *
 * Partitioned tables: Iceberg data files are COMPLETE rows — identity
 * partition columns are stored in the files themselves (unlike
 * hive-layout tables, where values live only in directory names), so
 * reading the manifest-listed files directly is correct for any
 * partition spec. Hidden-partitioning transforms (bucket/truncate/days)
 * derive bookkeeping values that are not table columns at all and never
 * appear in query output.
 */
object IcebergTable {

  val LocationOption = "graft.iceberg.location"
  val SnapshotOption = "graft.iceberg.snapshot"

  /** Batch read of the table — or, with `snapshotAsOf`, TIME TRAVEL to
    * any retained snapshot (the iceberg analogue of Delta's
    * `versionAsOf`: the pinned snapshot's manifest tree alone decides
    * the file set, so later appends/overwrites are invisible).
    *
    * v2 MERGE-ON-READ: positional-delete files apply inside the data
    * scan, as one `NOT row_deleted(_metadata.file_path,
    * _metadata.row_index)` filter ([[LakeDeletes]]) that carries, per
    * data file, the delete files the sequence rule lets name it; each
    * task reads the (`file_path`, `pos`) rows of those files for the
    * data files it scans. Equality deletes stay a key anti-join (their
    * rows are the build side, broadcast by size), restricted by the
    * sequence rule through the row's `file_sequence(_metadata.file_path)`
    * — a per-file lookup in the scan, never a join. */
  def read(spark: SparkSession, location: String,
      snapshotAsOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val s = IcebergMeta.snapshot(spark, location, snapshotAsOf)
    if (s.files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
    val readSchema = scanSchema(spark, s)
    val posDeletes = s.deleteFiles.filter(_.content == 1)
    val eqDeletes = s.deleteFiles.filter(_.content == 2)
    val reader = spark.read
      .schema(readSchema)
      .option(LocationOption, location)
      .option(SnapshotOption, s.snapshotId.toString)
    // a zero-copy clone's files live under the SOURCE root — basePath
    // (ancestor-of-all-inputs) only when everything is under this table
    val raw = DeltaTable.maybeBasePath(spark, s"$location/data",
      if (s.deleteFiles.isEmpty) reader
      else reader.option(LakeDeletes.SourcesOption,
        LakeDeletes.sourcesValue(posDeletes.map(_.path))),
      s.files.map(_.path))
      .parquet(s.files.map(_.path): _*)
    // manifest-bounds FILE SKIPPING: list only the files whose
    // lower/upper bounds admit the pushed-down predicates (sound for
    // MOR too — deletes only remove rows, never widen a file's range)
    val statsByPath: Map[String, FileStats] = s.files.flatMap(f =>
      f.stats.flatMap(DeltaStats.parse(_, s.schema))
        .map(fs => DeltaTable.normPath(f.path) -> fs)).toMap
    // HIDDEN-PARTITION pruning: predicates on a transform's SOURCE
    // column translate into checks against the per-file partition tuple
    // — the only pruning path a bucket transform has (its data-file
    // min/max are scrambled by design)
    val data = IceTransformPruning.wrap(
      StatsPruning.wrap(raw, statsByPath),
      s.partitionFields, s.partitionValues, s.schema)
    val positional = LakeDeletes.positional(s, posDeletes)
    var cur =
      if (positional.isEmpty) data
      else data.filter(!LakeDeletes.rowDeleted(spark, positional))

    if (eqDeletes.nonEmpty) {
      // EQUALITY deletes (content=2): anti-join on the columns named by
      // equality_ids, restricted by the spec's SEQUENCE rule — a delete
      // applies only to rows from data files committed strictly before
      // it (seq(data) < seq(delete)), so later re-inserts of the same
      // key survive. Each delete row carries its file's seq so one
      // anti-join per distinct equality-column-set handles every delete
      // generation at once.
      cur = cur.withColumn("__seq", LakeDeletes.fileSequence(spark,
        s.files.map(f => f.path -> s.dataSeq.getOrElse(f.path, 0L)).toMap))
      equalityDeletes(spark, s, eqDeletes).foreach { case (cols, delRows) =>
        // null-safe equality: the spec matches null keys to null values
        val cond = cols.map(c => cur(c) <=> delRows(s"__del_$c"))
          .reduce(_ && _) && cur("__seq") < delRows("__del_seq")
        cur = cur.join(delRows, cond, "left_anti")
      }
      cur = cur.drop("__seq")
    }
    // a transform's DERIVED hive directory (e.g. `ts_day=…`) surfaces
    // as an extra inferred column next to the explicit schema — it is
    // spec bookkeeping, not a table column: strip it from the output
    // and restore the published column order (a partition dir not in
    // the explicit schema makes Spark append ALL partition columns,
    // identity ones included, after the data columns)
    val derivedDirs: Seq[String] = s.partitionFields
      .filter(_.kind != TIdentity).map(_.name)
    if (derivedDirs.isEmpty) cur
    else cur.drop(derivedDirs: _*)
      .select(readSchema.fieldNames.map(col(_)).toSeq: _*)
  }

  /** The equality deletes among `deletes`, one frame per distinct
    * equality-column set: its columns (resolved against `s`), and the
    * delete rows — the keys as `__del_<col>`, and the file's `__del_seq`.
    * Delete files resolve by field id too (an equality delete written
    * before a rename still matches after it); the explicit schema spares
    * a footer-inference job per file. */
  private def equalityDeletes(spark: SparkSession, s: IcebergSnapshot,
      deletes: Seq[IceDeleteFile]): Seq[(Seq[String], DataFrame)] = {
    import org.apache.spark.sql.functions.{col, lit}
    val readSchema = scanSchema(spark, s)
    deletes.filter(_.content == 2).groupBy(_.equalityIds.sorted).toSeq.map {
      case (ids, group) =>
        val cols = ids.map(id => s.fieldIdToName.getOrElse(id,
          throw new IllegalArgumentException(
            s"equality delete names field id $id, which is not a " +
              s"top-level column of the schema at ${s.location} — nested " +
              "or dropped columns are not supported by the jarless reader")))
        val delSchema = StructType(cols.map(c => readSchema(c)))
        cols -> group.map { d =>
          spark.read.schema(delSchema).parquet(d.path)
            .select(cols.map(c => col(c).as(s"__del_$c")): _*)
            .withColumn("__del_seq", lit(d.seq))
        }.reduce(_ unionByName _)
    }
  }

  /** The schema a scan of `s`'s data files reads with: ID-BASED column
    * resolution when the table guarantees field ids in every data file
    * (`graft.field-ids`) — renamed columns resolve to the files' original
    * spellings, added columns read as null from older files,
    * dropped-then-readded names don't resurrect old data. Tables without
    * the guarantee keep plain name resolution. */
  private[sources] def scanSchema(spark: SparkSession,
      s: IcebergSnapshot): StructType =
    if (!s.properties.get("graft.field-ids").contains("true")) s.schema
    else {
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      IcebergMeta.icebergSchemaToSparkWithIds(JsonMethods.parse(s.schemaJsonStr))
    }

  /** INCREMENTAL APPEND scan — the rows committed by every `append`
    * snapshot in `(fromSnapshotId, toSnapshotId]` (from exclusive, to
    * inclusive/default current; `fromSnapshotId = 0` means "since the
    * table began"), stamped with `_change_type` (`insert`),
    * `_commit_snapshot_id`, and `_commit_timestamp` — the jarless
    * analogue of Iceberg's `IncrementalAppendScan`, and the Iceberg
    * sibling of [[DeltaTable.changes]].
    *
    * The chain walks `parent-snapshot-id` lineage (falling back to
    * snapshots[] order for metadata without the field); `replace`
    * snapshots (compaction) rewrite files without changing rows and
    * contribute nothing. Snapshots whose operation deletes or replaces
    * ROWS (`delete` / `overwrite`) cannot be represented in an
    * appends-only feed: `strict = true` (default) refuses them loudly —
    * silently skipping a delete would hand the consumer a feed that
    * looks complete and isn't — while `strict = false` skips them, which
    * is upstream Iceberg's own appends-between contract.
    *
    * Scale: per-snapshot file sets are manifest metadata (driver-side,
    * the same cost class as snapshot replay); the appended rows stream
    * straight from the listed parquet, no shuffle, pushdown intact. */
  def incrementalAppends(spark: SparkSession, location: String,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None,
      strict: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val fs = new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
    val (metaFile, j) = IcebergMeta.currentMetadata(fs, location)
    val log = IcebergMeta.snapshotLog(j)
    require(log.currentId >= 0, s"no current snapshot at $location")
    val to = toSnapshotId.getOrElse(log.currentId)
    require(log.contains(to), s"toSnapshotId $to not in snapshots[] of $metaFile")
    require(fromSnapshotId == 0L || log.contains(fromSnapshotId),
      s"fromSnapshotId $fromSnapshotId not in snapshots[] of $metaFile " +
        "(expired or never existed); pass 0 to read from the beginning")
    val ordered = lineageOrRefuse(log, location, fromSnapshotId, to)

    // walk oldest-first, diffing manifest file sets against the parent
    var prevPaths: Set[String] =
      if (fromSnapshotId == 0L) Set.empty
      else IcebergMeta.snapshot(spark, location, Some(fromSnapshotId))
        .files.map(f => DeltaTable.normPath(f.path)).toSet
    final case class Slice(id: Long, tsMs: Long, paths: Seq[String])
    val slices = mutable.Buffer.empty[Slice]
    ordered.foreach { sid =>
      val e = log.byId(sid)
      val tsMs = e.timestampMs
      val s = IcebergMeta.snapshot(spark, location, Some(sid))
      val paths = s.files.map(f => DeltaTable.normPath(f.path))
      // v1 metadata may omit the summary
      e.operation.getOrElse("append") match {
        case "append" =>
          val added = s.files.filterNot(f =>
            prevPaths.contains(DeltaTable.normPath(f.path)))
          if (added.nonEmpty) slices += Slice(sid, tsMs, added.map(_.path))
        case "replace" => // compaction: same rows, new files — no change
        case other =>
          if (strict) throw new UnsupportedOperationException(
            s"snapshot $sid at $location is a '$other' operation; its " +
              "row-level effect cannot be represented in an appends-only " +
              "incremental feed. Pass strict = false to skip non-append " +
              "snapshots (upstream appends-between semantics), or read " +
              "full snapshots instead.")
      }
      prevPaths = paths.toSet
    }

    // read with the TO-snapshot schema (id-resolved when the table
    // guarantees field ids, so renames/adds resolve across the range)
    val toSnap = IcebergMeta.snapshot(spark, location, Some(to))
    val readSchema = scanSchema(spark, toSnap)
    val parts = slices.toSeq.map { sl =>
      DeltaTable.maybeBasePath(spark, s"$location/data",
        spark.read.schema(readSchema), sl.paths)
        .parquet(sl.paths: _*)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_snapshot_id", lit(sl.id))
        .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(sl.tsMs)))
    }
    parts.reduceOption(_.union(_)).getOrElse {
      val empty = StructType(toSnap.schema.fields ++ Seq(
        StructField("_change_type", StringType),
        StructField("_commit_snapshot_id", LongType),
        StructField("_commit_timestamp", TimestampType)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
  }

  /** The lineage `(from, to]` oldest first, refusing a range an
    * expiration cut or whose `from` is not an ancestor of `to` (`from`
    * 0 = from the beginning). */
  private def lineageOrRefuse(log: IceSnapLog, location: String,
      from: Long, to: Long): Seq[Long] =
    log.lineage(from, to) match {
      case Left(gone) => throw new IllegalArgumentException(
        s"snapshot $gone in the lineage of $to has been EXPIRED from " +
          s"$location; the incremental range ($from, $to] is no longer " +
          "reconstructible")
      case Right((ids, reached)) =>
        require(reached || from == 0L,
          s"fromSnapshotId $from is not an ancestor of $to at $location")
        ids
    }

  /** Per-snapshot ADMISSION LOAD along the lineage `(fromSnapshotId,
    * toSnapshotId]` — (snapshot id, files added, bytes added), file-set
    * diffed against each parent. Metadata-only (manifest replay per
    * snapshot in the chain); the streaming source's rate limiter picks
    * how far one micro-batch's offset may advance from this. `memo`
    * (caller-held, per stream) caches per-snapshot loads: with a deep
    * backlog paced a few snapshots per trigger, each trigger re-walks
    * the remaining chain, and snapshots already measured — always a
    * chain PREFIX, since admission takes prefixes — replay no
    * manifests again (one anchor snapshot read seeds the diff). */
  private[sources] def lineageLoad(spark: SparkSession, location: String,
      fromSnapshotId: Long, toSnapshotId: Long,
      memo: mutable.Map[Long, (Long, Long)] = mutable.Map.empty)
      : Seq[(Long, Long, Long)] = {
    val fs = new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
    val log = IcebergMeta.snapshotLog(IcebergMeta.currentMetadata(fs, location)._2)
    val ordered = log.lineage(fromSnapshotId, toSnapshotId) match {
      case Right((ids, _)) => ids
      case Left(_) => return Nil // expired mid-walk
    }
    val (cachedIds, freshIds) = ordered.span(memo.contains)
    def fileSet(sid: Long): Set[String] =
      IcebergMeta.snapshot(spark, location, Some(sid))
        .files.map(f => DeltaTable.normPath(f.path)).toSet
    val fresh: Seq[(Long, Long, Long)] =
      if (freshIds.isEmpty) Nil
      else {
        // anchor the diff at the last measured snapshot (or the range
        // start) — ONE snapshot replay, then one per unmeasured link
        var prevPaths: Set[String] = cachedIds.lastOption match {
          case Some(anchor) => fileSet(anchor)
          case None if fromSnapshotId != 0L && log.contains(fromSnapshotId) =>
            fileSet(fromSnapshotId)
          case None => Set.empty
        }
        freshIds.map { sid =>
          val s = IcebergMeta.snapshot(spark, location, Some(sid))
          val added = s.files.filterNot(f =>
            prevPaths.contains(DeltaTable.normPath(f.path)))
          prevPaths = s.files.map(f => DeltaTable.normPath(f.path)).toSet
          val load = (added.size.toLong, added.map(_.size).sum)
          memo(sid) = load
          (sid, load._1, load._2)
        }
      }
    cachedIds.map { sid =>
      val (f, b) = memo(sid)
      (sid, f, b)
    } ++ fresh
  }

  /** INCREMENTAL CHANGELOG scan — [[incrementalAppends]] upgraded to a
    * FULL change feed: `append` snapshots contribute inserts, `delete`
    * snapshots contribute the rows their newly-added POSITIONAL delete
    * files removed (the inverse of the merge-on-read filter: the parent
    * snapshot's rows that `row_deleted` over the new delete files keeps
    * and over the parent's own delete files drops), `replace`
    * snapshots are transparent
    * — the Iceberg twin of `DeltaTable.changes`. Equality-delete
    * snapshots refuse loudly (their victims depend on the sequence
    * rule against the parent state; read full snapshots instead), as
    * do `overwrite`s. Same stamps as the Delta feed: `_change_type`,
    * `_commit_snapshot_id`, `_commit_timestamp`. */
  def incrementalChanges(spark: SparkSession, location: String,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val fs = new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
    val (metaFile, j) = IcebergMeta.currentMetadata(fs, location)
    val log = IcebergMeta.snapshotLog(j)
    require(log.currentId >= 0, s"no current snapshot at $location")
    val to = toSnapshotId.getOrElse(log.currentId)
    require(log.contains(to), s"toSnapshotId $to not in snapshots[] of $metaFile")
    require(fromSnapshotId == 0L || log.contains(fromSnapshotId),
      s"fromSnapshotId $fromSnapshotId not in snapshots[] of $metaFile")
    val ordered = lineageOrRefuse(log, location, fromSnapshotId, to)

    val toSnap = IcebergMeta.snapshot(spark, location, Some(to))
    val stamps = Seq("_change_type", "_commit_snapshot_id", "_commit_timestamp")
    def stamp(df: DataFrame, tpe: String, sid: Long, tsMs: Long): DataFrame = df
      .withColumn("_change_type", lit(tpe))
      .withColumn("_commit_snapshot_id", lit(sid))
      .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(tsMs)))
      .select((toSnap.schema.fieldNames.toSeq ++ stamps).map(col): _*)

    var prevFiles: Set[String] = Set.empty
    var prevDeletes: Set[String] = Set.empty
    var prev: Option[IcebergSnapshot] = None
    if (fromSnapshotId != 0L) {
      val base = IcebergMeta.snapshot(spark, location, Some(fromSnapshotId))
      prevFiles = base.files.map(f => DeltaTable.normPath(f.path)).toSet
      prevDeletes = base.deleteFiles.map(d => DeltaTable.normPath(d.path)).toSet
      prev = Some(base)
    }
    val parts = mutable.Buffer.empty[DataFrame]
    ordered.foreach { sid =>
      val e = log.byId(sid)
      val tsMs = e.timestampMs
      val s = IcebergMeta.snapshot(spark, location, Some(sid))
      e.operation.getOrElse("append") match {
        case "append" =>
          val added = s.files.filterNot(f =>
            prevFiles.contains(DeltaTable.normPath(f.path)))
          if (added.nonEmpty) {
            parts += stamp(DeltaTable.maybeBasePath(spark,
              s"$location/data", spark.read.schema(toSnap.schema),
              added.map(_.path))
              .parquet(added.map(_.path): _*), "insert", sid, tsMs)
          }
        case "replace" => // row-transparent
        case op @ ("delete" | "overwrite") =>
          // a rewriting overwrite (data files REMOVED) has no row-level
          // replay; merge/delete snapshots only carry adds + delete files
          val removedData = prevFiles --
            s.files.map(f => DeltaTable.normPath(f.path)).toSet
          if (removedData.nonEmpty) {
            throw new UnsupportedOperationException(
              s"snapshot $sid at $location is a rewriting '$op' (it drops " +
                s"${removedData.size} data file(s)); its row-level effect " +
                "cannot be replayed by this changelog scan. Read full " +
                "snapshots instead.")
          }
          val newDeletes = s.deleteFiles.filterNot(d =>
            prevDeletes.contains(DeltaTable.normPath(d.path)))
          val posNew = newDeletes.filter(_.content == 1)
          val eqNew = newDeletes.filter(_.content == 2)
          if (posNew.nonEmpty) prev.foreach { parent =>
            // inverse of the MOR filter: keep exactly the named rows —
            // minus positions the PARENT state had already deleted, which
            // are not victims again even if a non-conforming writer
            // re-names them in a later delete file
            val named = LakeDeletes.rowDeleted(spark,
              LakeDeletes.positional(parent, posNew))
            val prior = LakeDeletes.positional(parent, parent.deleteFiles)
            val parentPaths = parent.files.map(_.path)
            val victims = DeltaTable.maybeBasePath(spark,
              s"$location/data", spark.read.schema(toSnap.schema), parentPaths)
              .parquet(parentPaths: _*)
              .filter(if (prior.isEmpty) named
                else named && !LakeDeletes.rowDeleted(spark, prior))
            parts += stamp(victims, "delete", sid, tsMs)
          }
          if (eqNew.nonEmpty) {
            // EQUALITY-delete victims (the merge/CDC shape): the rows of
            // the parent LIVE state whose key columns match any delete
            // row. The parent MOR read already excludes rows earlier
            // deletes killed; the spec's sequence rule holds because
            // every parent file's seq <= parent snapshot id < the new
            // delete's seq (this writer commits delete seq = prior+1).
            val parentSid = prev.map(_.snapshotId).orElse(log.parentOf(sid))
            parentSid.foreach { p =>
              val parentLive = read(spark, location, Some(p))
              equalityDeletes(spark, toSnap, eqNew).foreach { case (cols, delRows) =>
                val cond = cols.map(c => parentLive(c) <=> delRows(s"__del_$c"))
                  .reduce(_ && _)
                parts += stamp(
                  parentLive.join(delRows, cond, "left_semi"),
                  "delete", sid, tsMs)
              }
            }
          }
          // the merge upsert leg: data files ADDED alongside the deletes
          val added = s.files.filterNot(f =>
            prevFiles.contains(DeltaTable.normPath(f.path)))
          if (added.nonEmpty) {
            parts += stamp(DeltaTable.maybeBasePath(spark,
              s"$location/data", spark.read.schema(toSnap.schema),
              added.map(_.path))
              .parquet(added.map(_.path): _*), "insert", sid, tsMs)
          }
        case other =>
          throw new UnsupportedOperationException(
            s"snapshot $sid at $location is a '$other' operation; this " +
              "changelog scan replays appends, merges, and row-level " +
              "deletes only.")
      }
      prevFiles = s.files.map(f => DeltaTable.normPath(f.path)).toSet
      prevDeletes = s.deleteFiles.map(d => DeltaTable.normPath(d.path)).toSet
      prev = Some(s)
    }
    parts.reduceOption(_.union(_)).getOrElse {
      val empty = StructType(toSnap.schema.fields ++ Seq(
        StructField("_change_type", StringType),
        StructField("_commit_snapshot_id", LongType),
        StructField("_commit_timestamp", TimestampType)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
  }

  // ------------------------------------------------ schema evolution

  /** Replace/insert top-level fields of a JSON object. */
  private def setFields(o: JValue, kvs: (String, JValue)*): JValue = o match {
    case JObject(fields) =>
      val keys = kvs.map(_._1).toSet
      JObject(fields.filterNot(kv => keys.contains(kv._1)) ++ kvs.toList)
    case other => other
  }

  /** Reassign EVERY id slot in an Iceberg type JSON (field `id`s plus
    * list `element-id` / map `key-id`/`value-id`) to fresh sequential
    * ids after `start` — how a struct/list/map-typed ADDED column gets
    * its inner ids allocated against last-column-id. Returns the
    * rewritten JSON and the last id consumed. */
  private def withFreshIds(t: JValue, start: Int): (JValue, Int) = {
    var next = start
    def id(): JInt = { next += 1; JInt(next) }
    def walk(v: JValue): JValue = v match {
      case JObject(kvs) => JObject(kvs.map {
        case ("id", _) => ("id", id(): JValue)
        case ("element-id", _) => ("element-id", id(): JValue)
        case ("key-id", _) => ("key-id", id(): JValue)
        case ("value-id", _) => ("value-id", id(): JValue)
        case (k, vv) => (k, walk(vv))
      })
      case JArray(xs) => JArray(xs.map(walk))
      case other => other
    }
    (walk(t), next)
  }

  /** Rewrite the struct field list at a nested parent path. The parent
    * chain must exist and be struct-typed; refusals are loud (column
    * DDL never guesses). */
  private def atFieldsOf(fields: List[JValue], parent: Seq[String],
      done: Seq[String])(op: List[JValue] => List[JValue]): List[JValue] =
    if (parent.isEmpty) op(fields)
    else {
      val idx = fields.indexWhere(f => (f \ "name") == JString(parent.head))
      require(idx >= 0,
        s"no column '${(done :+ parent.head).mkString(".")}'")
      val f = fields(idx)
      val newType = (f \ "type") match {
        case t: JObject if (t \ "type") == JString("struct") =>
          val inner = (t \ "fields") match {
            case JArray(fs0) => fs0
            case _ => Nil
          }
          setFields(t, "fields" -> JArray(
            atFieldsOf(inner, parent.tail, done :+ parent.head)(op)))
        case other => throw new IllegalArgumentException(
          s"'${(done :+ parent.head).mkString(".")}' is not a struct " +
            s"(${JsonMethods.compact(JsonMethods.render(other))}); nested " +
            "column DDL needs a struct path")
      }
      fields.updated(idx, setFields(f, "type" -> newType))
    }

  /** The field id at a (possibly nested) name path, if present. */
  private def fieldIdAt(fields: List[JValue],
      path: Seq[String]): Option[Int] = {
    val f = fields.find(f => (f \ "name") == JString(path.head))
    f.flatMap { fld =>
      if (path.size == 1) (fld \ "id") match {
        case JInt(n) => Some(n.toInt)
        case _ => None
      }
      else (fld \ "type") match {
        case t: JObject if (t \ "type") == JString("struct") =>
          (t \ "fields") match {
            case JArray(fs0) => fieldIdAt(fs0, path.tail)
            case _ => None
          }
        case _ => None
      }
    }
  }

  /** Rename a column WITHOUT rewriting any data file: a metadata-only
    * update appending a new schema (field id KEPT) to schemas[] and
    * repointing current-schema-id. Requires the table's field-id
    * guarantee (`graft.field-ids`) — files are then resolved by id, so
    * every file keeps serving under its original spelling. */
  def renameColumn(spark: SparkSession, location: String,
      oldName: String, newName: String): Long =
    renameColumnAt(spark, location, Seq(oldName), newName)

  /** Nested-path rename (`a.b.c TO new`): field id KEPT at any depth,
    * so id-resolved files keep serving under the original spelling. */
  def renameColumnAt(spark: SparkSession, location: String,
      path: Seq[String], newName: String): Long = {
    require(path.nonEmpty, s"renameColumnAt $location: empty column path")
    val prior = IcebergMeta.snapshot(spark, location)
    require(prior.properties.get("graft.field-ids").contains("true"),
      s"renameColumn on $location needs id-resolvable data files " +
        "(table property graft.field-ids); tables written before the " +
        "field-id writer must be rewritten (compact) first")
    if (path.size == 1) {
      require(prior.schema.fieldNames.contains(path.head),
        s"no column '${path.head}' at $location " +
          s"(have ${prior.schema.fieldNames.mkString(", ")})")
      require(!prior.schema.fieldNames.contains(newName),
        s"column '$newName' already exists at $location")
      // partition values are reconstructed from hive path segments that
      // carry the ORIGINAL column name — a rename would orphan every
      // existing directory. Real Iceberg renames partition sources via
      // spec evolution; this writer's spec is fixed at create: refuse.
      require(!prior.partitionFields.exists(_.sourceCol == path.head),
        s"cannot rename '${path.head}': it is a partition source column " +
          s"of $location (hive directories carry its name); rewrite into " +
          "a new table instead")
    }
    updateSchema(spark, location) { (fields, lastColId) =>
      (atFieldsOf(fields, path.init, Nil) { siblings =>
        require(siblings.exists(f => (f \ "name") == JString(path.last)),
          s"no column '${path.mkString(".")}' at $location")
        require(!siblings.exists(f => (f \ "name") == JString(newName)),
          s"column '${(path.init :+ newName).mkString(".")}' already " +
            s"exists at $location")
        siblings.map {
          case f if (f \ "name") == JString(path.last) =>
            setFields(f, "name" -> JString(newName))
          case f => f
        }
      }, lastColId)
    }
  }

  /** Add a nullable column (fresh field id): older files read it as
    * null; appends from now on fill it. Metadata-only. */
  def addColumn(spark: SparkSession, location: String,
      name: String, dataType: DataType): Long =
    addColumns(spark, location, Seq(Seq(name) -> dataType))

  /** `ALTER TABLE … ADD COLUMNS (a INT, b.c STRING, …)` in ONE schema
    * commit. A name path targets a nested struct; struct/list/map-typed
    * additions allocate their inner field ids against last-column-id
    * ([[withFreshIds]]), per the spec's id-uniqueness rule. */
  def addColumns(spark: SparkSession, location: String,
      cols: Seq[(Seq[String], DataType)]): Long = {
    require(cols.nonEmpty, s"addColumns at $location: no columns given")
    IcebergMeta.snapshot(spark, location) // assert table exists
    updateSchema(spark, location) { (fields, lastColId) =>
      var fs0 = fields
      var last = lastColId
      cols.foreach { case (path, dataType) =>
        require(path.nonEmpty, s"addColumns at $location: empty column path")
        val raw: JValue = IcebergMeta.sparkSchemaToIceberg(
          StructType(Seq(StructField(path.last, dataType)))) \ "fields" match {
          case JArray(f :: Nil) => f
          case _ => throw new IllegalArgumentException(
            s"cannot map $dataType")
        }
        val (fresh, newLast) = withFreshIds(raw, last)
        last = newLast
        fs0 = atFieldsOf(fs0, path.init, Nil) { siblings =>
          require(!siblings.exists(f => (f \ "name") == JString(path.last)),
            s"column '${path.mkString(".")}' already exists at $location")
          siblings :+ fresh
        }
      }
      (fs0, last)
    }
  }

  /** The Iceberg spec's safe primitive type promotions
    * (`ALTER TABLE ... ALTER COLUMN ... TYPE`): int→long, float→double,
    * decimal(P,S)→decimal(P',S) with P'>P. Metadata-only — old files
    * keep their narrower physical types and the scan upcasts (the same
    * contract the Delta `typeWidening` reads rely on). Anything else
    * refuses: a non-spec promotion would corrupt every reader. */
  def promoteColumnType(spark: SparkSession, location: String,
      name: String, to: DataType): Long = {
    val prior = IcebergMeta.snapshot(spark, location)
    val from = prior.schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$name' at $location " +
          s"(have ${prior.schema.fieldNames.mkString(", ")})")).dataType
    val ok = (from, to) match {
      case (IntegerType, LongType) | (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision > d1.precision
      case _ => false
    }
    require(ok,
      s"promoteColumnType at $location: ${from.simpleString} -> " +
        s"${to.simpleString} on '$name' is not a spec-safe promotion " +
        "(int->long, float->double, decimal precision widening); " +
        "narrowing and cross-family changes are refused")
    // a partition SOURCE column's transform results are type-sensitive
    // (bucket hashes differ by physical width in some engines); refuse
    // rather than silently re-route rows
    require(!prior.partitionFields.exists(_.sourceCol == name),
      s"cannot promote '$name': it is a partition source column of " +
        s"$location; rewrite into a new table instead")
    val typeJson: JValue = IcebergMeta.sparkSchemaToIceberg(
      StructType(Seq(StructField(name, to)))) \ "fields" match {
      case JArray(f :: Nil) => f \ "type"
      case _ => throw new IllegalArgumentException(s"cannot map $to")
    }
    updateSchema(spark, location) { (fields, lastColId) =>
      (fields.map {
        case f if (f \ "name") == JString(name) =>
          setFields(f, "type" -> typeJson)
        case f => f
      }, lastColId)
    }
  }

  /** Drop a column: metadata-only; the field id is RETIRED
    * (last-column-id never decreases), so re-adding the same name later
    * gets a fresh id and does NOT resurrect the old values. Refused
    * while an equality delete still references the column. */
  def dropColumn(spark: SparkSession, location: String,
      name: String): Long = dropColumnAt(spark, location, Seq(name))

  /** Nested-path drop (`a.b.c`): the leaf's field id is RETIRED at any
    * depth (last-column-id never decreases); equality deletes that
    * still reference the id refuse, as do partition sources. */
  def dropColumnAt(spark: SparkSession, location: String,
      path: Seq[String]): Long = {
    require(path.nonEmpty, s"dropColumnAt $location: empty column path")
    val prior = IcebergMeta.snapshot(spark, location)
    if (path.size == 1) {
      require(prior.schema.fieldNames.contains(path.head),
        s"no column '${path.head}' at $location")
      // the partition spec resolves by source-id against the CURRENT
      // schema: dropping a partition SOURCE column (identity or
      // transform) would leave the spec dangling and every later
      // snapshot() unreadable — refuse loudly instead
      require(!prior.partitionFields.exists(_.sourceCol == path.head),
        s"cannot drop '${path.head}': it is a partition source column of " +
          s"$location (the spec is fixed at create); rewrite into a new " +
          "table instead")
    }
    updateSchema(spark, location) { (fields, lastColId) =>
      fieldIdAt(fields, path).foreach { id =>
        val referencedBy = prior.deleteFiles
          .filter(d => d.content == 2 && d.equalityIds.contains(id))
        require(referencedBy.isEmpty,
          s"cannot drop '${path.mkString(".")}': ${referencedBy.size} " +
            "equality delete file(s) still reference it — compact first")
      }
      (atFieldsOf(fields, path.init, Nil) { siblings =>
        require(siblings.exists(f => (f \ "name") == JString(path.last)),
          s"no column '${path.mkString(".")}' at $location")
        require(siblings.size > 1,
          s"cannot drop '${path.mkString(".")}': it is the only field " +
            "of its struct (drop the struct instead)")
        siblings.filterNot(f => (f \ "name") == JString(path.last))
      }, lastColId)
    }
  }

  /** Shared metadata-only schema update: append the transformed schema
    * to schemas[] under a fresh schema-id, repoint current-schema-id,
    * advance last-column-id, publish the next metadata version (same
    * create-no-overwrite fence as snapshots; the snapshot tree is
    * untouched). */
  private def updateSchema(spark: SparkSession, location: String)(
      transform: (List[JValue], Int) => (List[JValue], Int)): Long = {
    val fs = new Path(location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val (metaFile, j) = IcebergMeta.currentMetadata(fs, location)
    val schemas: List[JValue] = (j \ "schemas") match {
      case JArray(ss) if ss.nonEmpty => ss
      case _ => throw new UnsupportedOperationException(
        s"schema evolution needs a v2 schemas[] list at $location " +
          "(v1 inline-schema tables are read-only here)")
    }
    val currentId = (j \ "current-schema-id") match {
      case JInt(n) => n.toInt
      case _ => 0
    }
    val current = schemas.find(s => (s \ "schema-id") == JInt(currentId))
      .getOrElse(schemas.head)
    val lastColId = (j \ "last-column-id") match {
      case JInt(n) => n.toInt
      case _ => 0
    }
    val fields: List[JValue] = (current \ "fields") match {
      case JArray(fs0) => fs0
      case _ => Nil
    }
    val (newFields, newLastColId) = transform(fields, lastColId)
    val maxSchemaId = schemas.map(s => (s \ "schema-id") match {
      case JInt(n) => n.toInt
      case _ => 0
    }).max
    val newSchema: JValue = setFields(current,
      "schema-id" -> JInt(maxSchemaId + 1),
      "fields" -> JArray(newFields))
    publishMetadata(fs, location, nextVersion(metaFile), setFields(j,
      "schemas" -> JArray(schemas :+ newSchema),
      "current-schema-id" -> JInt(maxSchemaId + 1),
      "last-column-id" -> JInt(math.max(lastColId, newLastColId)),
      "last-updated-ms" -> JLong(System.currentTimeMillis())))
  }

  /** Attach each top-level column's iceberg field id as
    * `parquet.field.id` metadata so the files this writer produces are
    * ID-RESOLVABLE — the substrate schema evolution stands on. */
  private def withIdMetadata(df: DataFrame,
      schemaJson: JValue): DataFrame =
    withFieldIds(df, IcebergMeta.icebergSchemaToSparkWithIds(schemaJson)
      .fields.map(f => f.name -> f.metadata).toMap)

  /** `df` with the `parquet.field.id` metadata `ids` carries per column
    * name, and Spark's field-id writes switched on — every writer of
    * id-carrying files (data and equality deletes) comes through here.
    * The switch is session-wide and stays on. */
  private def withFieldIds(df: DataFrame,
      ids: Map[String, Metadata]): DataFrame = {
    df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    df.select(df.schema.fieldNames.toSeq.map { n =>
      ids.get(n) match {
        case Some(md) => df.col(n).as(n, md)
        case None => df.col(n)
      }
    }: _*)
  }

  /** `parquet.field.id` metadata for the named top-level columns. */
  private def fieldIdsOf(prior: IcebergSnapshot,
      names: Seq[String]): Map[String, Metadata] = {
    val nameToId = prior.fieldIdToName.map { case (i, n) => n -> i }
    names.map(c => c -> new MetadataBuilder()
      .putLong(IcebergMeta.ParquetFieldId, nameToId(c).toLong).build()).toMap
  }

  /** `partitionColumns` declares the partition spec, fixed at create.
    * Each entry is either a plain column name (IDENTITY: data files
    * land hive-laid-out under `data/<col>=<val>/…` with the column
    * dropped from the files and reconstructed from the path via
    * `basePath` — the layout Spark's own partitioned sources use) or a
    * HIDDEN-PARTITIONING transform in Iceberg SQL syntax —
    * `"bucket(16, id)"`, `"truncate(4, name)"`, `"days(ts)"`,
    * `"months(ts)"`, `"years(ts)"`, `"hours(ts)"` — whose DERIVED value
    * partitions the layout while the source column stays in the data
    * files. The published metadata carries the real spec (spec-id 0),
    * each manifest entry records the file's partition tuple, and
    * filtered reads prune through the transforms from metadata alone
    * ([[IceTransforms.pruningPredicate]]). Reference counterpart: the
    * reference's Iceberg relation surfaces identity partitions and
    * delegates transforms to the iceberg jar
    * (sources/iceberg/IcebergRelation.scala:77-86). */
  def create(df: DataFrame, location: String,
      txn: Option[(String, Long)] = None,
      partitionColumns: Seq[String] = Nil): Long =
    commit(df, location, firstVersion = true, txn = txn,
      partitionColumns = partitionColumns)

  /** OVERWRITE — replace the table's data with `df` in one snapshot
    * (prior files drop from the manifest, stay on disk for time travel
    * until expireSnapshots; the changelog diffs the replacement).
    * Creates the table when absent. The partition spec stays fixed at
    * create, like every other write. */
  def overwrite(df: DataFrame, location: String,
      txn: Option[(String, Long)] = None,
      partitionColumns: Seq[String] = Nil): Long =
    commit(df, location, firstVersion = true, txn = txn,
      partitionColumns = partitionColumns, replaceData = true)

  /** `txn` stamps the commit with an idempotence watermark in the
    * table properties (`graft.txn.<appId>` = version) — the pattern
    * Iceberg streaming writers use via snapshot/table metadata, checked
    * by the exactly-once sink before re-applying a replayed batch.
    * `partitionColumns`, when given, must NAME the table's existing
    * spec (the spec is fixed at create); appends always write the
    * table's layout either way. */
  def append(df: DataFrame, location: String,
      txn: Option[(String, Long)] = None,
      partitionColumns: Seq[String] = Nil,
      // WAP: target a branch — main (current-snapshot-id) stays put
      // until [[fastForward]] publishes the audited head
      branch: Option[String] = None): Long =
    // concurrent ingest: a loser of the metadata-version fence has
    // cleaned its staged files — re-run against the winner's snapshot
    CommitRetry() {
      commit(df, location, firstVersion = false, txn = txn,
        partitionColumns = partitionColumns,
        branch = branch.filterNot(_ == "main"))
    }

  /** Latest committed txn version per appId (from table properties). */
  def transactions(spark: SparkSession, location: String): Map[String, Long] =
    IcebergMeta.snapshot(spark, location).transactions

  /** Table-property prefix of the txn watermarks. */
  private[sources] val TxnPrefix = "graft.txn."

  /** The property a commit carrying `txn` stamps. */
  private def txnProperty(txn: Option[(String, Long)]): Map[String, String] =
    txn.map { case (app, v) => s"$TxnPrefix$app" -> v.toString }.toMap

  /** Data-manifest entries carry the spec's per-field metrics maps
    * (avro map-as-array encoding, like real Iceberg manifests):
    * `value_counts`/`null_value_counts` keyed by field id, and
    * `lower_bounds`/`upper_bounds` holding single-value-serialized
    * min/max — the payload [[IcebergTable.read]] prunes files with.
    * All optional-with-null-default so pre-stats manifests replay. */
  private val ManifestSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int"},
      |  {"name":"snapshot_id","type":["null","long"],"default":null},
      |  {"name":"sequence_number","type":["null","long"],"default":null},
      |  {"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |    {"name":"file_path","type":"string"},
      |    {"name":"file_format","type":"string"},
      |    {"name":"record_count","type":"long"},
      |    {"name":"file_size_in_bytes","type":"long"},
      |    {"name":"value_counts","type":["null",{"type":"array","items":
      |      {"type":"record","name":"k119_v120","fields":[
      |        {"name":"key","type":"int"},{"name":"value","type":"long"}]},
      |      "logicalType":"map"}],"default":null},
      |    {"name":"null_value_counts","type":["null",{"type":"array","items":
      |      {"type":"record","name":"k121_v122","fields":[
      |        {"name":"key","type":"int"},{"name":"value","type":"long"}]},
      |      "logicalType":"map"}],"default":null},
      |    {"name":"lower_bounds","type":["null",{"type":"array","items":
      |      {"type":"record","name":"k126_v127","fields":[
      |        {"name":"key","type":"int"},{"name":"value","type":"bytes"}]},
      |      "logicalType":"map"}],"default":null},
      |    {"name":"upper_bounds","type":["null",{"type":"array","items":
      |      {"type":"record","name":"k128_v129","fields":[
      |        {"name":"key","type":"int"},{"name":"value","type":"bytes"}]},
      |      "logicalType":"map"}],"default":null}
      |  ]}}
      |]}""".stripMargin)

  /** DELETE-manifest entries carry the spec's `content` discriminator
    * in data_file (1 = positional deletes, 2 = equality deletes) and,
    * for equality deletes, the field ids of the match columns. */
  private val DeleteManifestSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int"},
      |  {"name":"snapshot_id","type":["null","long"],"default":null},
      |  {"name":"sequence_number","type":["null","long"],"default":null},
      |  {"name":"data_file","type":{"type":"record","name":"r2d","fields":[
      |    {"name":"content","type":"int","default":0},
      |    {"name":"file_path","type":"string"},
      |    {"name":"file_format","type":"string"},
      |    {"name":"record_count","type":"long"},
      |    {"name":"file_size_in_bytes","type":"long"},
      |    {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}
      |  ]}}
      |]}""".stripMargin)

  private val ManifestListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string"},
      |  {"name":"manifest_length","type":"long"},
      |  {"name":"partition_spec_id","type":"int"},
      |  {"name":"content","type":"int","default":0},
      |  {"name":"added_snapshot_id","type":["null","long"],"default":null},
      |  {"name":"partitions","type":["null",{"type":"array","items":
      |    {"type":"record","name":"field_summary","fields":[
      |      {"name":"contains_null","type":"boolean"},
      |      {"name":"lower_bound","type":["null","bytes"],"default":null},
      |      {"name":"upper_bound","type":["null","bytes"],"default":null}]}}],
      |   "default":null}
      |]}""".stripMargin)

  // ------------------------------------------ identity partition support

  /** Partition column types the jarless writer can round-trip through a
    * hive path segment AND the manifest partition tuple. */
  private[sources] def partitionable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         BooleanType | DateType => true
    case _ => false
  }

  /** Avro type name for a partition record field. */
  private def avroPartType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | DateType => "int"
    case LongType => "long"
    case BooleanType => "boolean"
    case StringType => "string"
    case other => throw new IllegalArgumentException(
      s"unpartitionable type ${other.simpleString}")
  }

  /** Data-manifest schema with the spec's per-entry `partition` record
    * (one nullable field per identity partition column); the static
    * [[ManifestSchema]] when the table is unpartitioned. Built by
    * splicing a `partition` field into the entry record programmatically
    * (avro Schema objects are immutable — rebuild field lists). */
  private def manifestSchemaFor(parts: Seq[(String, DataType)]): Schema = {
    import scala.jdk.CollectionConverters._
    if (parts.isEmpty) return ManifestSchema
    val partFields = parts.map { case (n, dt) =>
      new Schema.Field(n,
        Schema.createUnion(Schema.create(Schema.Type.NULL),
          Schema.create(Schema.Type.valueOf(avroPartType(dt).toUpperCase))),
        null, Schema.Field.NULL_DEFAULT_VALUE)
    }
    val partRecord = Schema.createRecord("r102", null, null, false,
      partFields.asJava)
    def copyField(f: Schema.Field): Schema.Field =
      if (f.hasDefaultValue)
        new Schema.Field(f.name(), f.schema(), f.doc(), f.defaultVal())
      else new Schema.Field(f.name(), f.schema(), f.doc())
    val oldDf = ManifestSchema.getField("data_file").schema()
    val dfFields = oldDf.getFields.asScala.toSeq.map(copyField) :+
      new Schema.Field("partition", partRecord, null)
    val newDf = Schema.createRecord(oldDf.getName, null, null, false,
      dfFields.asJava)
    val entryFields = ManifestSchema.getFields.asScala.toSeq.map { f =>
      if (f.name() == "data_file") new Schema.Field("data_file", newDf, null)
      else copyField(f)
    }
    Schema.createRecord(ManifestSchema.getName, null, null, false,
      entryFields.asJava)
  }

  /** Decode one hive path segment value (`%XX`-escaped by Spark's
    * partitioned writer; `__HIVE_DEFAULT_PARTITION__` = null). */
  private[sources] def unescapeHive(s: String): Option[String] = {
    if (s == "__HIVE_DEFAULT_PARTITION__") return None
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    Some(sb.toString)
  }

  /** Identity partition values of a data file, parsed from its hive
    * path segments relative to `data/` — returned in BOTH shapes needed
    * downstream: the stats comparison domain (for bounds/pruning) and
    * the avro record domain (for the manifest partition tuple). */
  private[sources] def hivePartitionValues(path: String,
      parts: Seq[(String, DataType)]): Map[String, Option[Any]] = {
    if (parts.isEmpty) return Map.empty
    val segs = path.split('/').toSeq
    val byName: Map[String, Option[String]] = segs.flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(k -> unescapeHive(v))
        case _ => None
      }
    }.toMap
    parts.map { case (n, dt) =>
      n -> byName.getOrElse(n, throw new IllegalArgumentException(
        s"data file $path carries no hive segment for partition " +
          s"column '$n'")).map(castPartValue(_, dt))
    }.toMap
  }

  /** Hive string → stats-domain value (Long / String / Boolean; dates
    * as epoch days — the [[FileStats]] comparison domain). */
  private[sources] def castPartValue(s: String, dt: DataType): Any = dt match {
    case ByteType | ShortType | IntegerType | LongType => s.toLong
    case BooleanType => s.toBoolean
    case DateType => java.sql.Date.valueOf(s).toLocalDate.toEpochDay
    case _ => s
  }

  /** Stats-domain partition value → the avro value the manifest's
    * partition record carries. */
  private def avroPartValue(v: Any, dt: DataType): AnyRef = (v, dt) match {
    case (n: Long, ByteType | ShortType | IntegerType | DateType) =>
      Int.box(n.toInt)
    case (n: Long, LongType) => Long.box(n)
    case (b: Boolean, BooleanType) => Boolean.box(b)
    case (s: String, _) => s
    case (other, _) => other.asInstanceOf[AnyRef]
  }

  private def writeAvro(fs: FileSystem, path: Path, schema: Schema,
      records: Seq[GenericRecord]): Long = {
    val out = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, out)
    records.foreach(w.append)
    w.close()
    val bytes = out.toByteArray
    val os = fs.create(path, false)
    try os.write(bytes) finally os.close()
    bytes.length.toLong
  }

  private def commit(df: DataFrame, location: String, firstVersion: Boolean,
      txn: Option[(String, Long)] = None,
      partitionColumns: Seq[String] = Nil,
      replaceData: Boolean = false,
      branch: Option[String] = None): Long = {
    val spark = df.sparkSession
    val root = new Path(location)

    // a branch-targeted write stacks on the BRANCH head (created at the
    // current head on first write); a main write on the current head
    val prior: Option[IcebergSnapshot] =
      if (IcebergMeta.isIcebergTable(spark, location)) {
        val head = IcebergMeta.snapshot(spark, location)
        branch.flatMap(head.refs.get) match {
          case Some(r) =>
            require(r.refType == "branch",
              s"write to ref '${branch.get}' of $location refused: it is " +
                "a tag (tags are immutable); target a branch")
            Some(IcebergMeta.snapshot(spark, location, Some(r.snapshotId)))
          case None => Some(head)
        }
      } else None
    require(prior.isDefined || firstVersion,
      s"append to a non-Iceberg directory: $location (create it first)")
    require(branch.isEmpty || prior.exists(_.snapshotId >= 0),
      s"branch write to $location: the table has no snapshot yet")
    // txn idempotence inside the retry loop (see the Delta twin)
    prior.foreach(p =>
      if (LakeDml.replayed(p.transactions, txn)) return p.snapshotId)
    // partition spec resolution: fixed at create, appends must conform.
    // Spec strings parse through [[IceTransforms.parseFieldSpec]]:
    // plain names are identity; "bucket(16, id)" / "days(ts)" / … are
    // hidden-partitioning transforms.
    val parts: Seq[IcePartField] = prior match {
      case Some(p) =>
        val given = partitionColumns.zipWithIndex.map { case (s, i) =>
          IceTransforms.parseFieldSpec(s, df.schema, i)
        }
        def sig(fs: Seq[IcePartField]) =
          fs.map(f => (f.name, f.sourceCol, f.transform))
        require(given.isEmpty || sig(given) == sig(p.partitionFields),
          s"append to $location: partitionBy(${given.mkString(", ")}) " +
            s"does not match the table's partition spec " +
            s"(${if (p.partitionFields.isEmpty) "unpartitioned"
               else p.partitionFields.mkString(", ")}); the spec is fixed " +
            "at create")
        p.partitionFields
      case None =>
        val fields = partitionColumns.zipWithIndex.map { case (s, i) =>
          IceTransforms.parseFieldSpec(s, df.schema, i)
        }
        fields.filter(_.kind != TIdentity).foreach { f =>
          require(!df.schema.fieldNames.contains(f.name),
            s"create at $location: derived partition field '${f.name}' " +
              s"collides with a data column; rename the column or the field")
        }
        require(fields.map(_.name).distinct.size == fields.size,
          s"create at $location: duplicate partition field names in " +
            partitionColumns.mkString(", "))
        fields
    }
    // APPEND SCHEMA ENFORCEMENT: a shape-mismatched frame would fall off
    // the published-schema fast path and silently REPUBLISH the table
    // schema with fresh field ids — corrupting id-based resolution for
    // every earlier file. Iceberg evolves schemas through explicit
    // metadata operations (addColumn / renameColumn / dropColumn), so a
    // mismatched append refuses loudly instead.
    if (!firstVersion) prior.foreach { p =>
      require(IcebergMeta.sameShape(df.schema, p.schema),
        s"append to $location: frame schema " +
          s"${df.schema.simpleString} does not match the table schema " +
          s"${p.schema.simpleString}; evolve with addColumn/renameColumn/" +
          "dropColumn first, then append matching frames")
    }

    val added = stageData(spark, root, df,
      IcebergMeta.publishedSchemaJson(prior, df.schema), df.schema, parts)
    publishSnapshot(spark, location, prior, df.schema,
      if (replaceData && prior.isDefined) "overwrite" else "append",
      dataExisting = if (replaceData) Nil else prior.toSeq.flatMap(_.liveData()),
      dataAdded = added,
      deleteExisting =
        if (replaceData) Nil else prior.toSeq.flatMap(_.deleteFiles),
      deleteAdded = Nil,
      extraProperties = txnProperty(txn),
      createPartitionFields = parts,
      branch = branch,
      // a non-replace commit removes nothing: eligible for fast append
      appendOnly = !replaceData)
  }

  /** Stage-write `df` (field ids from `schemaJson`) under the partition
    * spec `fields` through a per-writer temp dir — the manifest's ADDED
    * entries are exactly the files this writer produced; a concurrent
    * writer's files landing in data/ mid-commit can never be absorbed
    * (the silent-duplication race a before/after directory diff
    * invites) — and land them ([[landStaged]]). Identity fields
    * partition by the source column itself; transform fields by a
    * DERIVED bookkeeping column (computed per row as a codegen'd
    * Catalyst column, stripped from the files by `partitionBy` — it
    * exists only in the path and the manifest's partition tuple, never
    * in the data, which keeps the source column in the files as the
    * spec requires). */
  private def stageData(spark: SparkSession, root: Path, df: DataFrame,
      schemaJson: JValue, schema: StructType,
      fields: Seq[IcePartField]): Seq[DeltaFileMeta] = {
    val stage = new Path(root,
      s".graft-stage-${java.util.UUID.randomUUID().toString}")
    val idDf = withIdMetadata(df, schemaJson)
    val withDerived = fields.filter(_.kind != TIdentity)
      .foldLeft(idDf)((d, f) => d.withColumn(f.name, IceTransforms.column(f, d)))
    // HASH-DISTRIBUTE on the partition values before the write (real
    // Iceberg's write.distribution-mode=hash, its default): every
    // partition combo lands in exactly one task, so a write emits ONE
    // file per partition instead of tasks x partitions tiny files — the
    // difference between a scan listing 10^3 and 10^6 files at scale.
    val clustered =
      if (fields.isEmpty) withDerived
      else withDerived.repartition(
        fields.map(f => withDerived.col(f.partitionByName)): _*)
    val w = clustered.write.mode(SaveMode.Append)
    (if (fields.nonEmpty) w.partitionBy(fields.map(_.partitionByName): _*) else w)
      .parquet(stage.toString)
    landStaged(spark, root, stage, schema, fields)
  }

  /** Move the files staged under `stage` into `data/` (PRESERVING hive
    * partition subdirectories) and describe them for the manifest:
    * footer stats (metadata-only reads) → manifest bounds, the payload
    * every real Iceberg reader prunes files with. Partitioned files
    * carry only the non-partition columns; the partition columns'
    * min=max=value bounds are injected from the hive path, so the one
    * pruning evaluator covers both. ZERO-ROW staged files (an idle
    * micro-batch's empty part, an all-marker merge's upserts) are
    * deleted, not committed: a streaming sink firing empty triggers
    * would otherwise accumulate an empty data file — and, on the
    * fast-append path, an empty manifest — per trigger. */
  private def landStaged(spark: SparkSession, root: Path, stage: Path,
      schema: StructType, fields: Seq[IcePartField]): Seq[DeltaFileMeta] = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dataDir = new Path(root, "data")
    fs.mkdirs(dataDir)
    val stageUri = fs.makeQualified(stage).toUri
    val added = DeltaTable.dataFiles(fs, stage).map { s =>
      val target = new Path(dataDir, stageUri.relativize(s.getPath.toUri).getPath)
      fs.mkdirs(target.getParent)
      if (!fs.rename(s.getPath, target)) {
        throw new IllegalStateException(
          s"failed to move staged file ${s.getPath} to $target")
      }
      fs.getFileStatus(target)
    }
    fs.delete(stage, true)
    val statsByPath = partitionedFooterStats(spark, schema, fields,
      added.map(_.getPath.toString))
    val (empty, nonEmpty) = added.partition(s =>
      statsByPath.get(s.getPath.toString).flatMap(_.numRecords).contains(0L))
    empty.foreach(s => fs.delete(s.getPath, false))
    nonEmpty.map(s => DeltaFileMeta(s.getPath.toString, s.getLen, 0L,
      stats = statsByPath.get(s.getPath.toString)
        .flatMap(DeltaStats.render(_, schema))))
  }

  /** Footer stats over the FILE columns (table schema minus partition
    * columns), augmented with the hive-path partition values as
    * min = max = value bounds (null partition → all-null column). */
  private def partitionedFooterStats(spark: SparkSession,
      schema: StructType, fields: Seq[IcePartField],
      paths: Seq[String]): Map[String, FileStats] = {
    // identity sources are DROPPED from the data files (path-encoded);
    // transform sources stay in the files and get real footer stats
    val identityCols: Seq[String] =
      fields.collect { case f if f.kind == TIdentity => f.sourceCol }
    val partFields: Seq[(String, DataType)] =
      identityCols.map(n => n -> schema(n).dataType)
    val fileSchema =
      if (identityCols.isEmpty) schema
      else StructType(schema.filterNot(f => identityCols.contains(f.name)))
    val base = ParquetFooterStats.collect(spark, paths, fileSchema)
    if (identityCols.isEmpty) return base
    paths.map { p =>
      val fsStats = base.getOrElse(p, FileStats(None, Map.empty))
      val vals = hivePartitionValues(p, partFields)
      val partCols = partFields.map { case (n, _) =>
        n -> (vals.getOrElse(n, None) match {
          case Some(v) => FileColStats(Some(v), Some(v), Some(0L))
          case None => FileColStats(None, None, fsStats.numRecords)
        })
      }.toMap
      p -> fsStats.copy(cols = fsStats.cols ++ partCols)
    }.toMap
  }

  /** A data file's partition TUPLE (field name → stats-domain value)
    * parsed back from its hive path segments — identity values by the
    * source column's type, transform values by the transform's RESULT
    * type. Lenient: a missing or unparseable segment yields no entry
    * (pruning treats the file as unknown — sound). */
  private def partitionTupleFromPath(path: String,
      fields: Seq[IcePartField], schema: StructType): Map[String, Option[Any]] = {
    if (fields.isEmpty) return Map.empty
    val segs: Map[String, Option[String]] = path.split('/').flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(k -> unescapeHive(v))
        case _ => None
      }
    }.toMap
    fields.flatMap { f =>
      val st = schema.fields.find(_.name == f.sourceCol).map(_.dataType)
      segs.get(f.partitionByName).flatMap {
        case None => Some(f.name -> (None: Option[Any])) // null partition
        case Some(raw) => st match {
          case Some(t) => f.kind match {
            case TIdentity =>
              try Some(f.name -> Some(castPartValue(raw, t)))
              catch { case scala.util.control.NonFatal(_) => None }
            case _ => IceTransforms.pathToDomain(f, t, raw)
              .map(v => f.name -> Some(v))
          }
          case None => None
        }
      }
    }.toMap
  }

  /** Band `rows` across up to `maxShards` executor tasks keyed on
    * `bandCols`, write ONE SORTED parquet delete file per non-empty
    * WRITE TASK into `dataDir` (the repartition hashes the band value a
    * second time to pick the task, so distinct bands may co-locate —
    * a data file's positions still always land in exactly one file,
    * sorted), and return the descriptors only — the
    * distributed shape of the Delta DV write (`DeltaLog`'s executor-
    * side bitmap writes): delete positions/keys never funnel through a
    * single task or the driver. `maxShards <= 1` degenerates to the
    * one-file layout small tables want. Empty staged parts are
    * dropped (Spark always materializes partition 0's file, rows or
    * not), so a predicate matching nothing adds no delete files. */
  private def writeDeleteFiles(spark: SparkSession, fs: FileSystem,
      root: Path, dataDir: Path, rows: DataFrame, bandCols: Seq[String],
      sortCols: Seq[String], maxShards: Int, namePrefix: String,
      content: Int, equalityIds: Seq[Int], seq: Long): Seq[IceDeleteFile] = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val stage = new Path(root,
      s".graft-stage-${java.util.UUID.randomUUID().toString}")
    // band on an EXPLICIT derived column, not bandCols directly: an
    // upstream shuffle on the same keys (dropDuplicates) would make a
    // bandCols repartition redundant, and the surviving
    // ENSURE_REQUIREMENTS exchange is AQE-coalescible — collapsing the
    // bands back into one task. A REPARTITION_BY_NUM exchange on a
    // fresh column survives both the optimizer and AQE.
    val banded =
      if (maxShards <= 1) rows.repartition(1)
      else rows
        .withColumn("_graft_band",
          pmod(hash(bandCols.map(col): _*), lit(maxShards)))
        .repartition(maxShards, col("_graft_band"))
    banded.sortWithinPartitions(sortCols.head, sortCols.tail: _*)
      .drop("_graft_band")
      .write.parquet(stage.toString)
    val conf = spark.sessionState.newHadoopConf()
    fs.mkdirs(dataDir)
    val added = fs.listStatus(stage).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .filter { s =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(s.getPath, conf))
        try r.getRecordCount > 0L finally r.close()
      }
      .zipWithIndex.map { case (s, i) =>
        val target = new Path(dataDir, s"$namePrefix$i-${s.getPath.getName}")
        if (!fs.rename(s.getPath, target)) {
          throw new IllegalStateException(
            s"failed to move staged delete file ${s.getPath} to $target")
        }
        val st = fs.getFileStatus(target)
        IceDeleteFile(st.getPath.toString, st.getLen, content, equalityIds, seq)
      }
    fs.delete(stage, true)
    added
  }

  /** Shard count for an equality-delete key frame: 1 (the single tidy
    * file CDC writers produce) until the optimizer's size estimate for
    * the frame exceeds one write task's worth (`maxPartitionBytes`),
    * then one band per task's worth, capped at the shuffle width. The
    * estimate costs no job — it reads the plan's statistics. */
  private def eqDeleteShards(spark: SparkSession, keys: DataFrame): Int = {
    val band = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val est = keys.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= band) 1
    else ((est + band - 1) / band)
      .min(BigInt(spark.sessionState.conf.numShufflePartitions))
      .max(BigInt(1)).toInt
  }

  /** v2 MERGE-ON-READ row-level DELETE: write a positional-delete file
    * (rows of `file_path`,`pos` per the spec) for every current row
    * matching `predicate` and commit a snapshot whose manifest list
    * carries it (content=1). Data files are untouched — that is the
    * point of merge-on-read; [[read]] filters the deletes out in the scan.
    * The position rows are computed and written DISTRIBUTED (metadata
    * columns + a filtered write), never collected to the driver. A
    * predicate matching no row (an empty table included) commits
    * nothing and returns the current snapshot id. */
  def deleteWhere(spark: SparkSession, location: String,
      predicate: org.apache.spark.sql.Column): Long =
    CommitRetry() { deleteWhereOnce(spark, location, predicate) }

  private def deleteWhereOnce(spark: SparkSession, location: String,
      predicate: org.apache.spark.sql.Column): Long = {
    require(IcebergMeta.isIcebergTable(spark, location),
      s"deleteWhere on a non-Iceberg directory: $location")
    val prior = IcebergMeta.snapshot(spark, location)
    if (prior.files.isEmpty) return prior.snapshotId
    val added = positionalDeletes(spark, prior, predicate, "")
    if (added.isEmpty) return prior.snapshotId // no matching rows: no commit
    publishSnapshot(spark, location, Some(prior), prior.schema, "delete",
      dataExisting = prior.liveData(),
      dataAdded = Nil,
      deleteExisting = prior.deleteFiles,
      deleteAdded = added)
  }

  /** Positional delete files (content=1) over the rows `condition`
    * matches — positions from the shared stats-pruned
    * [[LakeDml.matchedPositions]] scan (manifest-bounds FILE SKIPPING,
    * as in [[read]]), paths stored scheme-normalized, the form real
    * writers use. The files are sorted by (file_path, pos) per the
    * spec's recommendation, BANDED on file_path across executor tasks —
    * one sorted file per non-empty band, never a single-task funnel: a
    * wide delete on a 100 TB table writes its positions in parallel and
    * the driver sees only the (path, size) descriptors. Empty when
    * nothing matched. */
  private def positionalDeletes(spark: SparkSession, prior: IcebergSnapshot,
      condition: org.apache.spark.sql.Column,
      nameTag: String): Seq[IceDeleteFile] = {
    val root = new Path(prior.location)
    val doomed = LakeDml.matchedPositions(spark, s"${prior.location}/data",
      prior.files, prior.schema, Some(prior.schema), _.filter(condition))
    writeDeleteFiles(spark, root.getFileSystem(spark.sessionState.newHadoopConf()),
      root, new Path(root, "data"), doomed,
      bandCols = Seq("file_path"), sortCols = Seq("file_path", "pos"),
      maxShards = math.min(spark.sessionState.conf.numShufflePartitions,
        prior.files.size),
      namePrefix = f"delete-${prior.snapshotId + 1}%05d-$nameTag",
      content = 1, equalityIds = Nil, seq = prior.snapshotId + 1)
  }

  /**
   * Row-level UPDATE — positional-delete the matched rows AND land
   * their updated versions (each SET expression evaluated against the
   * OLD row) in ONE `overwrite` snapshot, so the changelog replays the
   * effect as delete + insert and time travel sees the pre-update
   * state. Matched positions come from the stats-pruned MOR read
   * (rows earlier deletes removed are never resurrected: the new
   * versions are computed from the LIVE read). SET expressions must
   * preserve column types; partition columns refuse (a cross-partition
   * rewrite is a merge). Honors the table's partition spec for the
   * rewritten files. A condition matching no row commits nothing and
   * returns the current snapshot id.
   */
  def update(spark: SparkSession, location: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      txn: Option[(String, Long)] = None): Long =
    CommitRetry() { updateOnce(spark, location, condition, set, txn) }

  private def updateOnce(spark: SparkSession, location: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      txn: Option[(String, Long)]): Long = {
    require(IcebergMeta.isIcebergTable(spark, location),
      s"update on a non-Iceberg directory: $location")
    val prior = IcebergMeta.snapshot(spark, location)
    if (LakeDml.replayed(prior.transactions, txn)) return prior.snapshotId
    LakeDml.checkSet(location, set, prior.schema,
      prior.partitionFields.map(_.sourceCol))
    if (prior.files.isEmpty) return prior.snapshotId
    // matched LIVE rows (MOR read — earlier deletes already excluded)
    val updated = LakeDml.applySet(location,
      read(spark, location).filter(condition), set, prior.schema)
    // positional delete file over the matched positions
    val delAdded = positionalDeletes(spark, prior, condition, "u")
    if (delAdded.isEmpty) return prior.snapshotId // nothing matched: no commit
    // updated versions land as fresh data files (table partition spec)
    publishSnapshot(spark, location, Some(prior), prior.schema, "overwrite",
      dataExisting = prior.liveData(),
      dataAdded = stageData(spark, new Path(location), updated,
        IcebergMeta.publishedSchemaJson(Some(prior), prior.schema),
        prior.schema, prior.partitionFields),
      deleteExisting = prior.deleteFiles,
      deleteAdded = delAdded,
      extraProperties = txnProperty(txn))
  }

  /**
   * v2 EQUALITY DELETE (content=2): delete every row whose values in
   * `keys`' columns match ANY row of `keys` — the shape CDC writers
   * (Flink upserts) produce, where the deleted key set is known but the
   * rows' positions are not. Data files are untouched; [[read]] applies
   * the delete as an anti-join on the equality columns, restricted by
   * the spec's SEQUENCE rule: only data files committed strictly BEFORE
   * this delete are affected, so a key re-inserted later survives.
   *
   * `keys` must project top-level columns of the table schema; its rows
   * are written verbatim (deduplicated) as the delete file.
   */
  def deleteWhereEquality(spark: SparkSession, location: String,
      keys: DataFrame): Long = {
    val root = new Path(location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dataDir = new Path(root, "data")
    require(IcebergMeta.isIcebergTable(spark, location),
      s"deleteWhereEquality on a non-Iceberg directory: $location")
    val prior = IcebergMeta.snapshot(spark, location)
    val nameToId: Map[String, Int] =
      prior.fieldIdToName.map { case (i, n) => n -> i }
    val ids: Seq[Int] = keys.columns.toSeq.map { c =>
      nameToId.getOrElse(c, throw new IllegalArgumentException(
        s"equality-delete column '$c' is not a top-level column of the " +
          s"table at $location (have ${nameToId.keys.toSeq.sorted.mkString(", ")})"))
    }

    // equality-delete files are read back under the CURRENT column names;
    // field ids keep them resolvable across later renames
    val keysWithIds = withFieldIds(keys, fieldIdsOf(prior, keys.columns.toSeq))
    val added = writeDeleteFiles(spark, fs, root, dataDir,
      keysWithIds.dropDuplicates(keys.columns.toSeq),
      bandCols = keys.columns.toSeq, sortCols = keys.columns.toSeq,
      maxShards = eqDeleteShards(spark, keys),
      namePrefix = f"eq-delete-${prior.snapshotId + 1}%05d-",
      content = 2, equalityIds = ids, seq = prior.snapshotId + 1)

    publishSnapshot(spark, location, Some(prior), prior.schema, "delete",
      dataExisting = prior.liveData(),
      dataAdded = Nil,
      deleteExisting = prior.deleteFiles,
      deleteAdded = added)
  }

  /**
   * MERGE — the CDC-upsert verb, in the exact shape Flink's Iceberg
   * upsert writer commits: ONE snapshot carrying an EQUALITY-DELETE
   * file on `keys` (covering every source key) plus fresh data files
   * holding the upsert rows. The spec's sequence rule does the rest:
   * the delete (seq = prior+1) removes every OLDER row with a source
   * key, while the new data files (committed at the same sequence) are
   * strictly NOT older, so the upserted versions survive — matched
   * rows are replaced, unmatched rows insert, and rows where
   * `deleteCondition` holds are pure delete markers (their key is in
   * the delete file, no new version lands).
   *
   * Refuses a source with duplicate keys (ambiguous upsert). Data
   * files are untouched — merge-on-read; [[compact]] materializes.
   */
  def merge(spark: SparkSession, location: String, source: DataFrame,
      keys: Seq[String],
      deleteCondition: Option[org.apache.spark.sql.Column] = None,
      txn: Option[(String, Long)] = None): Long =
    CommitRetry() { mergeOnce(spark, location, source, keys, deleteCondition, txn) }

  private def mergeOnce(spark: SparkSession, location: String,
      source: DataFrame, keys: Seq[String],
      deleteCondition: Option[org.apache.spark.sql.Column],
      txn: Option[(String, Long)]): Long = {
    val root = new Path(location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(IcebergMeta.isIcebergTable(spark, location),
      s"merge into a non-Iceberg directory: $location (create it first)")
    val prior = IcebergMeta.snapshot(spark, location)
    // (appId, version) idempotence inside the retry loop (see the
    // Delta twin): a replayed twin transaction no-ops, never re-applies
    if (LakeDml.replayed(prior.transactions, txn)) return prior.snapshotId
    val LakeDml.MergeSource(src, _, ups, _) =
      LakeDml.mergeSource(location, source, keys, deleteCondition, prior.schema)

    // ---- upsert data files (same staged write as append, honoring the
    // table's partition spec) ----
    val added = stageData(spark, root, ups,
      IcebergMeta.publishedSchemaJson(Some(prior), prior.schema),
      prior.schema, prior.partitionFields)

    // ---- equality-delete file over EVERY source key (upserts AND
    // markers — the Flink upsert shape; unmatched keys are no-ops) ----
    val nameToId: Map[String, Int] =
      prior.fieldIdToName.map { case (i, n) => n -> i }
    val keyRows = withFieldIds(src.select(keys.map(src.col): _*),
      fieldIdsOf(prior, keys))
    // banded when the key frame exceeds one write task's worth —
    // a 100 TB CDC merge's delete keys write in parallel, a small
    // batch keeps the single tidy file real Flink writers produce
    val delAdded = writeDeleteFiles(spark, fs, root, new Path(root, "data"),
      keyRows.dropDuplicates(keys),
      bandCols = keys, sortCols = keys,
      maxShards = eqDeleteShards(spark, keyRows),
      namePrefix = f"eq-delete-${prior.snapshotId + 1}%05d-",
      content = 2, equalityIds = keys.map(nameToId), seq = prior.snapshotId + 1)

    publishSnapshot(spark, location, Some(prior), prior.schema, "overwrite",
      dataExisting = prior.liveData(),
      dataAdded = added,
      deleteExisting = prior.deleteFiles,
      deleteAdded = delAdded,
      extraProperties = txnProperty(txn))
  }

  /**
   * MANIFEST COMPACTION (Iceberg's `rewrite_manifests` procedure): a
   * METADATA-ONLY snapshot (operation `replace`, no data row changes —
   * changelog and incremental scans see nothing) that rewrites the
   * accumulated fast-append manifest list back into one data manifest
   * (+ one delete manifest when deletes are in force). Entries keep
   * their sequence numbers, stats bounds, and partition tuples, so
   * pruning and the equality-delete ordering rule are unaffected; scan
   * planning goes back to opening ONE manifest instead of one per
   * ingest commit. Returns the new snapshot id (the current one when
   * there is nothing to rewrite).
   */
  def rewriteManifests(spark: SparkSession, location: String): Long = {
    val prior = IcebergMeta.snapshot(spark, location)
    if (prior.snapshotId < 0) return prior.snapshotId
    // already compact (one manifest per content kind): a nightly
    // maintenance call on a quiet table must be a no-op, not an
    // O(files) rewrite plus a spurious history entry
    val fs = new Path(location).getFileSystem(
      spark.sessionState.newHadoopConf())
    val compactAlready = IcebergMeta.manifestListPathOf(location,
      IcebergMeta.snapshotLog(IcebergMeta.currentMetadata(fs, location)._2),
      prior.snapshotId).exists { ml =>
      val kinds = IcebergMeta.readManifestList(fs, ml).map(_._2)
      kinds.count(_ == 0) <= 1 && kinds.count(_ == 1) <= 1
    }
    if (compactAlready) return prior.snapshotId
    publishSnapshot(spark, location, Some(prior), prior.schema, "replace",
      dataExisting = prior.liveData(),
      dataAdded = Nil,
      deleteExisting = prior.deleteFiles,
      deleteAdded = Nil)
  }

  /**
   * MERGE-ON-READ COMPACTION (Iceberg's rewriteDataFiles/`REPLACE`
   * analogue): when delete files are in force, materialize the
   * surviving rows (positional + equality deletes applied) into fresh
   * data files and publish a snapshot that references ONLY them — no
   * delete manifests, plain scans again. Prior snapshots stay in
   * `snapshots[]`, so time travel still sees the merge-on-read history.
   * A no-op when the table carries no delete files.
   */
  def compact(spark: SparkSession, location: String): Long = {
    val prior = IcebergMeta.snapshot(spark, location)
    if (prior.deleteFiles.isEmpty) return prior.snapshotId
    publishSnapshot(spark, location, Some(prior), prior.schema, "replace",
      dataExisting = Nil,
      dataAdded = stageData(spark, new Path(location), read(spark, location),
        IcebergMeta.publishedSchemaJson(Some(prior), prior.schema),
        prior.schema, prior.partitionFields),
      deleteExisting = Nil,
      deleteAdded = Nil)
  }

  /** `files` scoped by a `WHERE` over the partition fields — the
    * `rewriteDataFiles(filter)` shape ([[LakeMaint.scopeByPartition]]):
    * identity fields are referenced by their source column name,
    * transform fields by the DERIVED field name (`ts_year`,
    * `id_bucket`, … — the names the partitions inspection table shows)
    * typed by the transform's result. */
  private def scopeByPartition(spark: SparkSession, prior: IcebergSnapshot,
      files: Seq[DeltaFileMeta], where: Option[Column],
      verb: String): Seq[DeltaFileMeta] =
    LakeMaint.scopeByPartition(spark, files, where,
      prior.partitionFields.map { f =>
        val srcType = prior.schema.fields.find(_.name == f.sourceCol)
          .map(_.dataType).getOrElse(StringType)
        f.partitionByName -> IceTransforms.resultType(f, srcType)
      }, s"$verb WHERE at ${prior.location}")(f =>
        LakeMaint.hiveValues(f.path).toMap)

  /** SMALL-FILE COMPACTION (rewriteDataFiles binpack analogue, the
    * Iceberg sibling of [[DeltaTable.optimizeCompact]]): data files
    * under `targetSizeBytes` are bin-packed per first-fit and each
    * 2+-file bin rewrites into one file, published as a `replace`
    * snapshot (row-transparent: incremental scans and the streaming
    * source serve nothing for it). Only legal while NO delete files
    * are in force — a positional delete names (file, position) pairs a
    * rewrite would invalidate — so MOR state routes through [[compact]]
    * first; refused loudly otherwise. Returns the new snapshot id (the
    * current one when nothing qualified). */
  def compactSmall(spark: SparkSession, location: String,
      targetSizeBytes: Long = 128L << 20,
      where: Option[org.apache.spark.sql.Column] = None): Long = {
    val root = new Path(location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prior = IcebergMeta.snapshot(spark, location)
    require(prior.deleteFiles.isEmpty,
      s"compactSmall at $location: delete files are in force; their " +
        "(file, position) references would dangle across a rewrite — " +
        "run compact() first")
    // bins never cross a partition: a rewritten file must keep a single
    // partition tuple (one hive directory)
    val packs = LakeMaint.binPack(
      scopeByPartition(spark, prior, prior.files, where, "compactSmall"),
      targetSizeBytes)(f => new Path(f.path).getParent.toString)
    if (packs.isEmpty) return prior.snapshotId

    val fileSchema =
      if (prior.partitionColumns.isEmpty) prior.schema
      else StructType(prior.schema.filterNot(f =>
        prior.partitionColumns.contains(f.name)))
    val stage = new Path(root,
      s".graft-binpack-${java.util.UUID.randomUUID().toString}")
    // groups are independent single-file writes into disjoint staging
    // dirs — run them from a bounded pool (wall ≈ Σ/maxThreads, not Σ)
    val added = GroupJobs.mapConcurrently(spark, packs) { (pack, i) =>
      // read WITHOUT basePath: rewrite exactly the file columns, then
      // land the packed file back in the same partition directory
      val df = spark.read.schema(fileSchema).parquet(pack.map(_.path): _*)
      withIdMetadata(df, JsonMethods.parse(prior.schemaJsonStr))
        .coalesce(1).write.parquet(new Path(stage, i.toString).toString)
      fs.listStatus(new Path(stage, i.toString)).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map { s =>
          val target = new Path(new Path(pack.head.path).getParent,
            s"binpack-${prior.snapshotId + 1}-$i-${s.getPath.getName}")
          if (!fs.rename(s.getPath, target)) {
            throw new IllegalStateException(
              s"failed to move staged file ${s.getPath} to $target")
          }
          fs.getFileStatus(target)
        }
    }.flatten
    fs.delete(stage, true)

    val packed = packs.flatten.map(f => DeltaTable.normPath(f.path)).toSet
    val kept = prior.files.filterNot(f =>
      packed.contains(DeltaTable.normPath(f.path)))
    val statsByPath = partitionedFooterStats(spark, prior.schema,
      prior.partitionFields, added.map(_.getPath.toString))
    publishSnapshot(spark, location, Some(prior), prior.schema, "replace",
      dataExisting = prior.liveData(kept),
      dataAdded = added.map(s => DeltaFileMeta(s.getPath.toString, s.getLen, 0L,
        stats = statsByPath.get(s.getPath.toString)
          .flatMap(DeltaStats.render(_, prior.schema)))),
      deleteExisting = Nil,
      deleteAdded = Nil)
  }

  /**
   * Z-ORDER COMPACTION (rewriteDataFiles sort/zorder analogue — the
   * Iceberg sibling of [[DeltaTable.optimizeCompact]]'s `zorderBy`):
   * EVERY data file is rewritten clustered by the interleaved z-address
   * of `zorderBy`, range-partitioned toward `targetSizeBytes`, and
   * published as a row-transparent `replace` snapshot — per-file
   * manifest bounds on every z-order column tighten, so multi-column
   * filtered scans prune files they previously had to open. Refused
   * while delete files are in force (their positional references would
   * dangle — run [[compact]] first); on a partitioned table rows are
   * z-clustered within their partition, as on the Delta leg.
   */
  def compactSort(spark: SparkSession, location: String,
      zorderBy: Seq[String],
      targetSizeBytes: Long = 128L << 20,
      where: Option[org.apache.spark.sql.Column] = None): Long = {
    val root = new Path(location)
    val prior = IcebergMeta.snapshot(spark, location)
    require(zorderBy.nonEmpty, s"compactSort at $location: no z-order columns")
    zorderBy.foreach(c => require(prior.schema.fieldNames.contains(c),
      s"z-order column '$c' is not a column of $location"))
    require(prior.deleteFiles.isEmpty,
      s"compactSort at $location: delete files are in force; run compact() first")
    require(!prior.partitionFields.exists(f =>
        zorderBy.contains(f.partitionByName) ||
          (f.kind == TIdentity && zorderBy.contains(f.sourceCol))),
      s"compactSort at $location: z-ordering by a partition column is a " +
        "no-op (it is constant within each file); drop it from zorderBy")
    // WHERE scopes the rewrite to matching partitions; the rest of the
    // table re-publishes untouched
    val scoped = scopeByPartition(spark, prior, prior.files, where, "compactSort")
    if (scoped.isEmpty) return prior.snapshotId

    val df = DeltaTable.maybeBasePath(spark, s"$location/data",
      spark.read.schema(prior.schema), scoped.map(_.path))
      .parquet(scoped.map(_.path): _*)
    val nFiles = math.max(1L,
      (scoped.map(_.size).sum + targetSizeBytes - 1) / targetSizeBytes).toInt

    val stage = new Path(root,
      s".graft-zsort-${java.util.UUID.randomUUID().toString}")
    // Z-ORDER WITHIN PARTITIONS on a partitioned table: range-cluster
    // on (partition values, z-address) in ONE distributed pass — rows
    // stay in their hive/hidden partition (partitionBy splits any
    // range boundary that straddles two partitions into separate
    // files) and are z-clustered inside it, the same rewrite
    // rewriteDataFiles(zorder) performs per partition.
    val parts = prior.partitionFields
    val withDerived = parts.filter(_.kind != TIdentity)
      .foldLeft(df)((d, f) => d.withColumn(f.name, IceTransforms.column(f, d)))
    val clustered = graft.index.zorder.ZOrderBuild.clustered(df, withDerived,
      zorderBy, parts.map(_.partitionByName), nFiles)
    val w = withIdMetadata(clustered, JsonMethods.parse(prior.schemaJsonStr)).write
    (if (parts.nonEmpty) w.partitionBy(parts.map(_.partitionByName): _*) else w)
      .parquet(stage.toString)
    val added = landStaged(spark, root, stage, prior.schema, parts)

    val scopedPaths = scoped.map(_.path).toSet
    publishSnapshot(spark, location, Some(prior), prior.schema, "replace",
      dataExisting = prior.liveData(
        prior.files.filterNot(f => scopedPaths.contains(f.path))),
      dataAdded = added,
      deleteExisting = Nil,
      deleteAdded = Nil)
  }

  /** MIGRATE — upgrade a plain parquet directory to an Iceberg table
    * IN PLACE (the `migrate` procedure shape): files stay where they
    * are, referenced by absolute path from the first snapshot's
    * manifest, with footer-collected bounds so filtered reads prune
    * from day one. Unpartitioned directories only (hive layouts carry
    * values in paths, not files — convert those with
    * `create(spark.read.parquet(dir), …, partitionColumns)`). New
    * writes land under `location/data` alongside; mixed file sets read
    * fine — manifests store absolute paths. */
  def migrate(spark: SparkSession, location: String): Long = {
    require(!IcebergMeta.isIcebergTable(spark, location),
      s"$location is already an Iceberg table")
    val root = new Path(location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val files = DeltaTable.dataFiles(fs, root)
    require(files.nonEmpty, s"migrate at $location: no parquet files found")
    val rootUri = fs.makeQualified(root).toUri
    files.foreach { st =>
      val rel = rootUri.relativize(fs.makeQualified(st.getPath).toUri).getPath
      require(!rel.contains("="),
        s"migrate at $location: hive-partitioned layout ($rel) is not " +
          "supported in place; rewrite with create(spark.read.parquet(dir), " +
          "target, partitionColumns = …)")
    }
    val schema = spark.read.parquet(location).schema
    val paths = files.map(st => fs.makeQualified(st.getPath).toString)
    val statsByPath = ParquetFooterStats.collect(spark, paths, schema)
    publishSnapshot(spark, location, None, schema, "append",
      dataExisting = Nil,
      dataAdded = files.map { st =>
        val p = fs.makeQualified(st.getPath).toString
        DeltaFileMeta(p, st.getLen, 0L,
          stats = statsByPath.get(p).flatMap(DeltaStats.render(_, schema)))
      },
      deleteExisting = Nil,
      deleteAdded = Nil)
  }

  /** ZERO-COPY CLONE (the `snapshot` table-procedure shape): publish a
    * fresh table at `target` whose first snapshot references the
    * source's CURRENT data and delete files by ABSOLUTE path — no
    * bytes move at any size. The source's schema JSON republishes
    * VERBATIM (field ids keep matching the referenced files), per-file
    * sequence numbers carry over (equality deletes keep applying to
    * exactly the files they applied to), and the clone then evolves
    * independently; its expireSnapshots/compact never touch source
    * files (their rewrites land under the clone root). Source
    * expireSnapshots remains the documented hazard, as with Delta
    * [[DeltaTable.clone]]. Partitioned sources refuse — identity
    * values are path-reconstructed under basePath, which cannot span
    * two roots. */
  def cloneFrom(spark: SparkSession, sourceLoc: String, targetLoc: String,
      snapshotAsOf: Option[Long] = None): Long = {
    val s = IcebergMeta.snapshot(spark, sourceLoc, snapshotAsOf)
    require(!IcebergMeta.isIcebergTable(spark, targetLoc),
      s"clone target $targetLoc is already an Iceberg table")
    require(s.partitionFields.isEmpty,
      s"zero-copy clone of partitioned $sourceLoc is not supported: " +
        "partition values are path-reconstructed under basePath, which " +
        "cannot span the source and clone roots; rewrite with " +
        "create(read(source), target, partitionColumns) instead")
    val srcFs = new Path(sourceLoc)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def abs(p: String): String = srcFs.makeQualified(new Path(p)).toString
    publishSnapshot(spark, targetLoc, None, s.schema, "clone",
      dataExisting = s.files.map(f =>
        (f.copy(path = abs(f.path)), s.dataSeq.getOrElse(f.path, 0L))),
      dataAdded = Nil,
      deleteExisting = s.deleteFiles.map(d => d.copy(path = abs(d.path))),
      deleteAdded = Nil,
      extraProperties = s.properties +
        ("graft.clone.source" -> sourceLoc) +
        ("graft.clone.source-snapshot" -> s.snapshotId.toString),
      schemaJsonOverride =
        if (s.schemaJsonStr.nonEmpty) Some(JsonMethods.parse(s.schemaJsonStr))
        else None)
  }

  /** The snapshot TIMELINE, oldest first: every retained snapshot's (or,
    * with `currentLineage`, only those of the current lineage)
    * (id, `timestamp-ms`, summary operation) from the current metadata
    * document — the Iceberg sibling of [[DeltaTable.commits]]. */
  private[sources] def commits(spark: SparkSession, location: String,
      currentLineage: Boolean = false): Seq[(Long, Long, String)] = {
    val fs = new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
    val log = IcebergMeta.snapshotLog(IcebergMeta.currentMetadata(fs, location)._2)
    val kept = if (currentLineage) log.currentLineage.toSet else log.byId.keySet
    log.entries.filter(e => kept(e.id))
      .map(e => (e.id, e.timestampMs, e.operation.orNull))
      .sortBy(c => (c._2, c._1))
  }

  /** Table HISTORY — one row per retained snapshot (newest first):
    * snapshot id, commit timestamp, and summary operation — the Iceberg
    * sibling of [[DeltaTable.history]]. Driver-side metadata. */
  def history(spark: SparkSession, location: String): DataFrame =
    LakeTable.historyOf(spark, commits(spark, location), "snapshot_id")

  /** `TIMESTAMP AS OF` time travel: read the LATEST snapshot of the
    * current lineage whose `timestamp-ms` is at or before `tsMillis` (the
    * Iceberg spec's snapshot-log resolution rule): a snapshot undone by a
    * rollback was never current after it, so it is not a candidate.
    * Fails loudly when the timestamp precedes the lineage's first
    * retained snapshot. */
  def readTimestampAsOf(spark: SparkSession, location: String,
      tsMillis: Long): DataFrame =
    read(spark, location, snapshotAsOf = Some(LakeTable.idAsOf(
      commits(spark, location, currentLineage = true), tsMillis, location)))

  /** ROLLBACK to a retained ANCESTOR snapshot — the undo operation,
    * metadata-only: `current-snapshot-id` is repointed at the target
    * (whose manifest tree is untouched on disk) in a fenced new
    * metadata version; every snapshot stays retained, so the undone
    * range remains time-travelable until [[expireSnapshots]]. The next
    * append branches from the rolled-back state with a fresh id (ids
    * clear every RETAINED snapshot, so lineage never forks onto a
    * reused id). Fails loudly for ids not in snapshots[] or not on the
    * current lineage. */
  def rollback(spark: SparkSession, location: String, snapshotId: Long): Long = {
    val fs = new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
    val (metaFile, j) = IcebergMeta.currentMetadata(fs, location)
    val log = IcebergMeta.snapshotLog(j)
    require(log.contains(snapshotId),
      s"rollback target $snapshotId not in snapshots[] of $metaFile " +
        "(expired or never existed)")
    if (log.currentId == snapshotId) return snapshotId
    // ancestry check along parent-snapshot-id (file order as fallback)
    require(log.lineage(snapshotId, log.currentId).exists(_._2),
      s"rollback target $snapshotId is not an ancestor of the current " +
        s"snapshot ${log.currentId} at $location")
    publishMetadata(fs, location, nextVersion(metaFile), setFields(j,
      "current-snapshot-id" -> JLong(snapshotId),
      "last-updated-ms" -> JLong(System.currentTimeMillis())))
    snapshotId
  }

  // ---- snapshot refs: branches + tags (write-audit-publish) ----

  /** THE metadata publish tail every Iceberg commit ends in: write
    * `newMeta` as `v<version>.metadata.json` behind the
    * create-no-overwrite COMMIT FENCE, repoint `version-hint.text`, then
    * prune the metadata history by the document's own properties
    * ([[IcebergMeta.pruneMetadataHistory]]). `onLostFence` runs before a
    * lost fence's collision propagates. Returns `version`. */
  private def publishMetadata(fs: FileSystem, location: String,
      version: Long, newMeta: JValue,
      onLostFence: () => Unit = () => ()): Long = {
    val metaDir = IcebergMeta.metadataDir(location)
    val os =
      try CommitFence.create(fs, new Path(metaDir, f"v$version%05d.metadata.json"))
      catch { case e: Throwable => onLostFence(); throw e }
    try os.write(JsonMethods.pretty(JsonMethods.render(newMeta))
      .getBytes(StandardCharsets.UTF_8))
    finally os.close()
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(version.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    IcebergMeta.pruneMetadataHistory(fs, location,
      IcebergMeta.propertiesOf(newMeta))
    version
  }

  /** The metadata version after the current document `metaFile`. */
  private def nextVersion(metaFile: Path): Long =
    IcebergMeta.metadataVersionOf(metaFile.getName) + 1L

  /** Fenced metadata-only publish: read the current metadata.json,
    * apply `mutate`, publish it as the next version ([[publishMetadata]])
    * — shared by the ref and property verbs. O(metadata), no data or
    * manifest writes. */
  private def publishMetadataOnly(spark: SparkSession, location: String)(
      mutate: JValue => JValue): Long = {
    val fs = new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
    val (metaFile, j) = IcebergMeta.currentMetadata(fs, location)
    publishMetadata(fs, location, nextVersion(metaFile), setFields(mutate(j),
      "last-updated-ms" -> JLong(System.currentTimeMillis())))
  }

  /** `graft.*` properties are ENGINE bookkeeping — txn idempotence
    * watermarks (`graft.txn.<appId>`: overwriting one makes the
    * exactly-once sink silently skip batches) and the field-id
    * guarantee (`graft.field-ids`: flipping it corrupts id-based
    * schema resolution). Refused by the property verbs. */
  private def guardIcebergProperties(keys: Iterable[String],
      verb: String): Unit =
    keys.find(_.startsWith("graft.")).foreach { k =>
      throw new IllegalArgumentException(
        s"$verb: property '$k' is engine bookkeeping (txn watermarks, " +
          "field-id guarantees) maintained by the write paths — it " +
          "cannot be set or removed by hand")
    }

  /** Writer knobs read as numbers: validated HERE, at declaration
    * time, because the read sites run after a commit fence (a junk
    * value must fail the SET, never a later committed append). */
  private val NumericProperties = Seq(
    "commit.manifest.min-count-to-merge",
    "write.metadata.previous-versions-max")

  /** SET table properties (the `ALTER TABLE … SET TBLPROPERTIES`
    * verb): a metadata-only commit merging `props` over the current
    * map — the switchboard for writer behaviors keyed off properties
    * (`commit.manifest.min-count-to-merge`,
    * `write.metadata.delete-after-commit.enabled`, …). Engine
    * bookkeeping keys (`graft.*`) refuse; numeric knobs validate. */
  def setProperties(spark: SparkSession, location: String,
      props: Map[String, String]): Long = {
    guardIcebergProperties(props.keys, s"setProperties at $location")
    NumericProperties.foreach(k => props.get(k).foreach { v =>
      require(scala.util.Try(v.toInt).toOption.exists(_ >= 1),
        s"setProperties at $location: '$k' must be a positive integer, " +
          s"got '$v'")
    })
    props.get("write.metadata.delete-after-commit.enabled").foreach { v =>
      require(v == "true" || v == "false",
        s"setProperties at $location: " +
          s"'write.metadata.delete-after-commit.enabled' must be " +
          s"true or false, got '$v'")
    }
    publishMetadataOnly(spark, location) { j =>
      val current: List[(String, JValue)] = (j \ "properties") match {
        case JObject(fields) => fields
        case _ => Nil
      }
      val merged = (current.toMap ++ props.view.mapValues(JString(_): JValue))
        .toList.sortBy(_._1)
      setFields(j, "properties" -> JObject(merged))
    }
  }

  /** REMOVE table properties (`ALTER TABLE … UNSET TBLPROPERTIES`). */
  def unsetProperties(spark: SparkSession, location: String,
      keys: Set[String]): Long = {
    guardIcebergProperties(keys, s"unsetProperties at $location")
    publishMetadataOnly(spark, location) { j =>
      val current: List[(String, JValue)] = (j \ "properties") match {
        case JObject(fields) => fields
        case _ => Nil
      }
      setFields(j, "properties" -> JObject(
        current.filterNot { case (k, _) => keys.contains(k) }))
    }
  }

  private def renderRefs(refs: Map[String, IceRef]): JValue =
    JObject("refs" -> JObject(refs.toList.sortBy(_._1).map { case (n, r) =>
      n -> (JObject(List(
        "snapshot-id" -> (JLong(r.snapshotId): JValue),
        "type" -> (JString(r.refType): JValue)) ++
        r.maxRefAgeMs.map(v =>
          "max-ref-age-ms" -> (JLong(v): JValue)).toList ++
        r.minSnapshotsToKeep.map(v =>
          "min-snapshots-to-keep" -> (JInt(BigInt(v)): JValue)).toList ++
        r.maxSnapshotAgeMs.map(v =>
          "max-snapshot-age-ms" -> (JLong(v): JValue)).toList): JValue)
    }))

  /** Create (or repoint) a BRANCH or TAG at `at` (default: the current
    * head). A tag may not be repointed (immutable) unless `orReplace`
    * (the SQL `CREATE OR REPLACE` form — drop-and-recreate in one
    * commit); a branch may. Retention per the spec's optional ref
    * fields: `maxRefAgeMs` (RETAIN n DAYS) ages the ref out during
    * expireSnapshots; `minSnapshotsToKeep`/`maxSnapshotAgeMs` (WITH
    * SNAPSHOT RETENTION, branches only) bound branch-chain retention. */
  def createRef(spark: SparkSession, location: String, name: String,
      refType: String = "branch", at: Option[Long] = None,
      orReplace: Boolean = false,
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None): Long =
    CommitRetry() {
      require(refType == "branch" || refType == "tag",
        s"ref type must be 'branch' or 'tag', got '$refType'")
      require(name != "main", "'main' is the table head itself")
      require(refType == "branch" ||
        (minSnapshotsToKeep.isEmpty && maxSnapshotAgeMs.isEmpty),
        s"createRef at $location: WITH SNAPSHOT RETENTION applies to " +
          "branches (a tag pins exactly one snapshot)")
      Seq("max-ref-age" -> maxRefAgeMs, "max-snapshot-age" -> maxSnapshotAgeMs)
        .foreach { case (what, v) => v.foreach(ms => require(ms > 0,
          s"createRef at $location: $what must be positive, got $ms")) }
      minSnapshotsToKeep.foreach(k => require(k >= 1,
        s"createRef at $location: min-snapshots-to-keep must be >= 1, got $k"))
      val snap = IcebergMeta.snapshot(spark, location)
      val target = at.getOrElse(snap.snapshotId)
      require(target >= 0, s"createRef at $location: the table has no snapshot")
      // pin must resolve (throws for expired/unknown ids)
      if (target != snap.snapshotId)
        IcebergMeta.snapshot(spark, location, Some(target))
      if (!orReplace)
        snap.refs.get(name).foreach(r => require(r.refType == "branch",
          s"ref '$name' of $location is a tag and cannot be repointed " +
            "(use CREATE OR REPLACE to move it deliberately)"))
      val newRefs = snap.refs + (name -> IceRef(target, refType,
        maxRefAgeMs, minSnapshotsToKeep, maxSnapshotAgeMs))
      publishMetadataOnly(spark, location) { j =>
        // rewrite refs WHOLESALE: a json4s merge would keep a replaced
        // ref's stale retention keys alongside the new definition
        JObject((j match {
          case JObject(fields) => fields.filterNot(_._1 == "refs")
          case _ => Nil
        }) ++ (renderRefs(newRefs) match {
          case JObject(f) => f
          case _ => Nil
        }))
      }
      target
    }

  /** `j` with its refs replaced by `refs` wholesale (json4s merge can't
    * REMOVE a key). */
  private def withRefs(j: JValue, refs: Map[String, IceRef]): JValue =
    JObject((j match {
      case JObject(fields) => fields.filterNot(_._1 == "refs")
      case _ => Nil
    }) ++ (renderRefs(refs) match {
      case JObject(f) if refs.nonEmpty => f
      case _ => Nil
    }))

  /** Drop a branch or tag. Unknown names are a no-op. */
  def dropRef(spark: SparkSession, location: String, name: String): Unit =
    CommitRetry() {
      val snap = IcebergMeta.snapshot(spark, location)
      if (snap.refs.contains(name)) {
        val kept = snap.refs - name
        publishMetadataOnly(spark, location)(withRefs(_, kept))
      }
    }

  /** FAST-FORWARD publish (the WAP third act): repoint main at a
    * branch's head, REQUIRING the current head to be an ancestor of it
    * — exactly Iceberg's `fast_forward` procedure. Audited snapshots
    * become the table; a diverged branch refuses (merge or rebuild it
    * instead of silently dropping main's commits). */
  def fastForward(spark: SparkSession, location: String,
      branchName: String): Long = CommitRetry() {
    val snap = IcebergMeta.snapshot(spark, location)
    val ref = snap.refs.getOrElse(branchName,
      throw new IllegalArgumentException(
        s"fastForward at $location: no such branch '$branchName' " +
          s"(have ${snap.refs.keys.toSeq.sorted.mkString(", ")})"))
    require(ref.refType == "branch",
      s"fastForward at $location: '$branchName' is a tag")
    val current = snap.snapshotId
    if (ref.snapshotId == current) return current
    // current must be an ANCESTOR of the branch head
    val fs = new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
    val lineage = IcebergMeta.snapshotLog(
      IcebergMeta.currentMetadata(fs, location)._2).lineage(current, ref.snapshotId)
    // a chain id missing from snapshots[] was EXPIRED, not forked:
    // distinguish "unverifiable" from a genuine divergence below
    val expiredGap = lineage.left.toOption
    val isAncestor = lineage.exists(_._2)
    require(isAncestor || current < 0, expiredGap match {
      case Some(g) =>
        s"fastForward at $location: ancestry of branch '$branchName' " +
          s"(${ref.snapshotId}) is unverifiable — snapshot $g on its " +
          s"parent chain was expired before reaching main ($current). " +
          "Expire with ref ancestors retained, or rebuild the branch."
      case None =>
        s"fastForward at $location: main ($current) is not an ancestor " +
          s"of branch '$branchName' (${ref.snapshotId}); the branch has " +
          "diverged — merge it instead"
    })
    publishMetadataOnly(spark, location)(
      setFields(_, "current-snapshot-id" -> JLong(ref.snapshotId)))
    ref.snapshotId
  }

  /** Time travel by REF NAME: read the snapshot a branch or tag pins. */
  def readRef(spark: SparkSession, location: String,
      name: String): DataFrame = {
    val snap = IcebergMeta.snapshot(spark, location)
    if (name == "main") read(spark, location)
    else {
      val ref = snap.refs.getOrElse(name,
        throw new IllegalArgumentException(
          s"readRef at $location: no such ref '$name' " +
            s"(have ${snap.refs.keys.toSeq.sorted.mkString(", ")})"))
      read(spark, location, snapshotAsOf = Some(ref.snapshotId))
    }
  }

  /** EXPIRE SNAPSHOTS — the metadata half of the Iceberg lifecycle
    * ([[compact]] rewrites data; this bounds history): drop every
    * snapshot except the current one, the `keepLast` most recent, and
    * any newer than `olderThanMs`, publishing a metadata version whose
    * snapshots[] holds only the survivors. With `deleteFiles` (default),
    * the data files, delete files, manifests, and manifest lists
    * referenced ONLY by expired snapshots are removed from disk — on a
    * 100 TB table this, not the metadata trim, is the storage relief:
    * every compaction's pre-image stays fully on disk until expired.
    * Time travel and incremental scans into the expired range fail
    * loudly afterward, exactly as for real `expireSnapshots`. Returns
    * the deleted (or would-delete) paths. */
  def expireSnapshots(spark: SparkSession, location: String,
      keepLast: Int = 1, olderThanMs: Option[Long] = None,
      deleteFiles: Boolean = true): Seq[String] = {
    require(keepLast >= 1, "keepLast must retain at least the current snapshot")
    val root = new Path(location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val (metaFile, j) = IcebergMeta.currentMetadata(fs, location)
    val log = IcebergMeta.snapshotLog(j)
    val current = log.currentId
    // newest-first by commit timestamp (file order as tiebreak)
    val newestFirst = log.entries.zipWithIndex
      .sortBy { case (e, i) => (-e.timestampMs, -i) }.map(_._1.id)
    val now = System.currentTimeMillis()
    val tsOfId: Map[Long, Long] = log.byId.map { case (id, e) => id -> e.timestampMs }
    // refs past their own RETAIN window (`max-ref-age-ms`, measured
    // from the pinned snapshot's commit time, the spec's rule) age out
    // HERE: the ref leaves the metadata and its snapshot becomes
    // expirable like any other. Refs whose pinned snapshot is already
    // gone from snapshots[] are kept conservatively (age unknowable).
    val (agedOutRefs, liveRefs) = IcebergMeta.parseRefs(j).partition {
      case (_, r) => r.maxRefAgeMs.exists(age =>
        tsOfId.get(r.snapshotId).exists(ts => now - ts > age))
    }
    val baseRetain: Set[Long] =
      newestFirst.take(keepLast).toSet ++
        olderThanMs.map(cut => log.entries.filter(_.timestampMs >= cut).map(_.id))
          .getOrElse(Nil) ++
        // branch/tag-pinned snapshots never expire while the ref lives
        liveRefs.values.map(_.snapshotId) + current
    // ...and neither do an UNPUBLISHED branch head's ANCESTORS back to a
    // retained snapshot: fastForward verifies publishability by walking
    // parent-snapshot-id, so expiring a branch's intermediate commits
    // would make a cleanly-stacked branch look diverged. Only branches
    // whose head is NOT current need this (main's own history prunes
    // normally — that is the point of expiration; tags need only their
    // pinned snapshot). The walk stops at the first retained ancestor,
    // bounding the extra retention to each branch's unpublished window.
    val parentOf: Map[Long, Option[Long]] = log.byId.map { case (id, e) => id -> e.parentId }
    val retainIds: Set[Long] = {
      // the walk stops only at the MAIN LINE (current + its ancestors)
      // or a snapshot another branch walk already kept — NOT at any
      // retained snapshot: a tag can pin a mid-chain snapshot whose own
      // ancestry down to main would then expire, and fastForward would
      // later refuse the cleanly-stacked branch as unverifiable
      val mainChain = mutable.Set.empty[Long]
      var mc: Option[Long] = Some(current)
      while (mc.isDefined && mainChain.add(mc.get))
        mc = parentOf.get(mc.get).flatten
      var keep = baseRetain
      liveRefs.values
        .filter(r => r.refType == "branch" && r.snapshotId != current)
        .foreach { r =>
          // WITH SNAPSHOT RETENTION bounds the walk: keep an ancestor
          // while it is within the branch's min-snapshots-to-keep count
          // (head = position 1) OR newer than max-snapshot-age-ms; with
          // neither set, keep the WHOLE unpublished chain (fastForward
          // publishability — the conservative default)
          val bounded =
            r.minSnapshotsToKeep.isDefined || r.maxSnapshotAgeMs.isDefined
          var idx = 1
          var cursor = parentOf.get(r.snapshotId).flatten
          var stop = false
          while (!stop && cursor.isDefined &&
              !mainChain.contains(cursor.get)) {
            val c = cursor.get
            idx += 1
            val keepThis = !bounded ||
              r.minSnapshotsToKeep.exists(idx <= _) ||
              r.maxSnapshotAgeMs.exists(a =>
                tsOfId.get(c).exists(_ >= now - a))
            if (keepThis && !keep.contains(c)) {
              keep += c
              cursor = parentOf.get(c).flatten
            } else if (keepThis) {
              // already retained (shared chain segment): continue past
              cursor = parentOf.get(c).flatten
            } else stop = true
          }
        }
      keep
    }
    val (retained, expired) = log.entries.partition(e => retainIds.contains(e.id))
    // aged-out refs must leave the metadata even when every snapshot
    // is retained (their removal is what LETS a later run expire)
    if (expired.isEmpty && agedOutRefs.isEmpty) return Nil

    // file references per snapshot group: manifest list + manifests +
    // data/delete files (all metadata-scale reads)
    def refsOf(group: Seq[IceSnapEntry]): Set[String] = group.flatMap { s =>
      IcebergMeta.manifestListOf(location, s.json).toSeq.flatMap { mlPath =>
        val manifests = IcebergMeta.readManifestList(fs, mlPath)
        val snap = IcebergMeta.snapshot(spark, location, Some(s.id))
        Seq(mlPath) ++
          manifests.map(m => IcebergMeta.resolve(location, m._1)) ++
          snap.files.map(_.path) ++ snap.deleteFiles.map(_.path)
      }
    }.map(DeltaTable.normPath).toSet
    val keepRefs = refsOf(retained)
    val doomed = (refsOf(expired) -- keepRefs).toSeq.sorted

    // publish the trimmed metadata (version fence, like every commit)
    val trimmed = setFields(j,
      "snapshots" -> JArray(retained.map(_.json).toList),
      "last-updated-ms" -> JLong(System.currentTimeMillis()))
    // aged-out refs (RETAIN window passed) leave the metadata with the
    // snapshots they pinned — rewrite refs wholesale (merge can't remove)
    publishMetadata(fs, location, nextVersion(metaFile),
      if (agedOutRefs.isEmpty) trimmed
      else withRefs(trimmed, liveRefs))

    if (deleteFiles) FsSweep.deleteFiles(spark, fs, doomed.map(new Path(_)))
    doomed
  }

  /**
   * ORPHAN-FILE REMOVAL (Iceberg's `remove_orphan_files` procedure):
   * delete files under the table's `data/` and `metadata/` trees that
   * NO snapshot in the current metadata references — crash leftovers
   * from fence-losing writers, interrupted jobs, files dropped in by
   * hand — plus crashed writers' stale `.graft-*` staging dirs
   * ([[FsSweep.sweep]]). Distinct from
   * [[expireSnapshots]], which trims HISTORY: orphans were never part
   * of any snapshot, so no amount of expiration reaches them.
   *
   * Age-gated: only files modified before `olderThanMs` (default: 3
   * days ago) are candidates, so an in-flight writer's staged files
   * and just-committed data are never swept — the same guardrail as
   * the real procedure. Metadata documents (`*.metadata.json`,
   * `version-hint.text`) are always kept. `dryRun` lists without
   * deleting. NOTE: like upstream, never run this on a table that is
   * the SOURCE of zero-copy clones — the clones reference data files
   * this table's own metadata may no longer list.
   *
   * Scale: the live set is manifest metadata (driver-side, O(files)
   * strings — the cost class of snapshot replay); the walk and the
   * deletes run on [[FsSweep.sweep]]'s bounded pools.
   */
  def removeOrphanFiles(spark: SparkSession, location: String,
      olderThanMs: Option[Long] = None,
      dryRun: Boolean = false): Seq[String] = {
    val root = new Path(location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(IcebergMeta.isIcebergTable(spark, location),
      s"removeOrphanFiles on a non-Iceberg directory: $location")
    val cutoff = olderThanMs.getOrElse(
      System.currentTimeMillis() - 3L * 24 * 3600 * 1000)
    val log = IcebergMeta.snapshotLog(IcebergMeta.currentMetadata(fs, location)._2)

    // the LIVE set: every retained snapshot's manifest list, manifests,
    // and every file those manifests mention (any entry status, both
    // content kinds — conservative). ONE walk: manifests shared across
    // snapshots (fast appends) are read once, and v1 snapshots with
    // inline `manifests` arrays contribute theirs too — skipping them
    // would sweep a readable table's data as orphans.
    val live = mutable.Set.empty[String]
    val seenManifests = mutable.Set.empty[String]
    def addManifest(mp: String): Unit = {
      val n = DeltaTable.normPath(mp)
      live += n
      if (seenManifests.add(n))
        IcebergMeta.manifestEntryPaths(fs, mp)
          .foreach(p => live += DeltaTable.normPath(p))
    }
    log.entries.foreach { s =>
      IcebergMeta.manifestListOf(location, s.json) match {
        case Some(mlPath) =>
          live += DeltaTable.normPath(mlPath)
          IcebergMeta.readManifestList(fs, mlPath).foreach { case (m, _) =>
            addManifest(IcebergMeta.resolve(location, m))
          }
        case None => IcebergMeta.inlineManifestsOf(s.json).foreach(m =>
          addManifest(IcebergMeta.resolve(location, m)))
      }
    }

    // the two table-owned trees; metadata documents are never candidates
    val rootQ = fs.makeQualified(root).toString
    val owned = Seq("data", "metadata").map(d => s"$rootQ/$d/")
    FsSweep.sweep(spark, fs, root, cutoff, dryRun)(FsSweep.plain)(_.filter { st =>
      val p = fs.makeQualified(st.getPath).toString
      val n = st.getPath.getName
      owned.exists(p.startsWith) && !n.endsWith(".metadata.json") &&
        n != "version-hint.text" && !live.contains(DeltaTable.normPath(p))
    }).map(p => DeltaTable.normPath(p.toString)).sorted
  }

  /** A prior manifest-list record rebuilt onto THIS writer's
    * [[ManifestListSchema]] (a record written by another writer may
    * carry a richer schema — real Iceberg adds counts and key metadata —
    * so fields are copied by name, not by schema identity). Partition
    * field summaries are carried so manifest-level pruning keeps working
    * on reused manifests. */
  private def rebuildManifestListEntry(r: GenericRecord): GenericRecord = {
    import scala.jdk.CollectionConverters._
    val out = new GenericData.Record(ManifestListSchema)
    out.put("manifest_path", r.get("manifest_path").toString)
    out.put("manifest_length",
      Long.box(r.get("manifest_length").toString.toLong))
    out.put("partition_spec_id", Int.box(IcebergMeta
      .fieldOpt(r, "partition_spec_id").map(_.toString.toInt).getOrElse(0)))
    out.put("content", Int.box(IcebergMeta.fieldOpt(r, "content")
      .map(_.toString.toInt).getOrElse(0)))
    IcebergMeta.fieldOpt(r, "added_snapshot_id")
      .foreach(v => out.put("added_snapshot_id", Long.box(v.toString.toLong)))
    IcebergMeta.fieldOpt(r, "partitions") match {
      case Some(l: java.util.List[_]) =>
        val itemSchema = ManifestListSchema.getField("partitions").schema()
          .getTypes.get(1).getElementType
        val items = l.asScala.toSeq.collect { case fr: GenericRecord =>
          val it = new GenericData.Record(itemSchema)
          it.put("contains_null", Boolean.box(IcebergMeta
            .fieldOpt(fr, "contains_null").exists(_.toString.toBoolean)))
          IcebergMeta.fieldOpt(fr, "lower_bound")
            .flatMap(IcebergMeta.bytesOf).foreach(b =>
              it.put("lower_bound", java.nio.ByteBuffer.wrap(b)))
          IcebergMeta.fieldOpt(fr, "upper_bound")
            .flatMap(IcebergMeta.bytesOf).foreach(b =>
              it.put("upper_bound", java.nio.ByteBuffer.wrap(b)))
          it
        }
        out.put("partitions", java.util.Arrays.asList(items: _*))
      case _ =>
    }
    out
  }

  /** Shared commit tail: write the data manifest (+ a delete manifest
    * when positional deletes are in force), the manifest list, and the
    * metadata document. The metadata file's create-no-overwrite is the
    * SINGLE commit fence — manifest names carry a per-writer uuid so
    * racing writers never collide before it — and the loser removes its
    * added files and manifests so a retry starts clean. */
  private def publishSnapshot(spark: SparkSession, location: String,
      prior: Option[IcebergSnapshot], schema: StructType, operation: String,
      dataExisting: Seq[(DeltaFileMeta, Long)], dataAdded: Seq[DeltaFileMeta],
      deleteExisting: Seq[IceDeleteFile], deleteAdded: Seq[IceDeleteFile],
      extraProperties: Map[String, String] = Map.empty,
      createPartitionFields: Seq[IcePartField] = Nil,
      // clone: republish the SOURCE's schema JSON verbatim so field ids
      // keep matching the referenced files' parquet metadata
      schemaJsonOverride: Option[JValue] = None,
      // WAP: a write targeting a BRANCH moves only that ref —
      // `current-snapshot-id` (main) stays where it was; `prior` must
      // then be the snapshot pinned at the branch head
      branch: Option[String] = None,
      // pure appends (dataExisting IS the prior state, nothing removed)
      // may take the FAST-APPEND path: reuse the prior snapshot's
      // manifests and write one O(added) manifest — see below
      appendOnly: Boolean = false): Long = {
    // the table's partition spec: fixed at create (prior wins; the
    // explicit fields only seed the FIRST metadata version)
    val parts: Seq[IcePartField] =
      prior.map(_.partitionFields).getOrElse(createPartitionFields)
    // partition field name → its RESULT type (the manifest tuple's and
    // path segment's type; identity = source type, bucket/time = int)
    val partFields: Seq[(String, DataType)] = parts.map { f =>
      val srcType = schema.fields.find(_.name == f.sourceCol).getOrElse(
        throw new IllegalArgumentException(
          s"partition source column '${f.sourceCol}' of $location is not " +
            s"in the published schema ${schema.simpleString}")).dataType
      f.name -> IceTransforms.resultType(f, srcType)
    }
    // partition tuples: prior entries keep their manifest-carried
    // values; freshly added files parse theirs from the staged path
    val priorTuples: Map[String, Map[String, Option[Any]]] =
      prior.map(_.partitionValues).getOrElse(Map.empty)
    def tupleOf(path: String): Map[String, Option[Any]] =
      priorTuples.getOrElse(DeltaTable.normPath(path),
        partitionTupleFromPath(path, parts, schema))
    val root = new Path(location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val metaDir = IcebergMeta.metadataDir(location)
    // metadata versions advance independently of snapshot ids (schema
    // evolution writes metadata-only versions) but are pinned to the
    // PRIOR snapshot's version: racing writers share a prior, so they
    // collide on the same target file — the commit fence
    val version = prior.map(_.metadataVersion).getOrElse(0L) + 1L
    fs.mkdirs(metaDir)
    val schemaJson = schemaJsonOverride.getOrElse(
      IcebergMeta.publishedSchemaJson(prior, schema))
    // `graft.field-ids` guarantees every data file carries parquet field
    // ids, unlocking id-based resolution (schema evolution). A commit
    // whose files are all fresh (create / replace / first append) can
    // assert it; appends to a table without it keep it absent.
    val tblProperties: Map[String, String] = {
      val base = prior.map(_.properties).getOrElse(Map.empty)
      (if (dataExisting.isEmpty) base + ("graft.field-ids" -> "true") else base) ++
        extraProperties
    }

    // real Iceberg metadata RETAINS prior snapshots in snapshots[] (until
    // expiration) — carry them forward so snapshotAsOf time travel can
    // resolve any retained snapshot's manifest tree. The CURRENT head
    // (main) is read from the same file: a branch-targeted commit must
    // leave it untouched.
    val priorLog: IceSnapLog =
      if (prior.isDefined)
        IcebergMeta.snapshotLog(IcebergMeta.currentMetadata(fs, location)._2)
      else IceSnapLog(Nil, -1L)
    // next id clears EVERY retained snapshot, not just the current one:
    // after a rollback the current snapshot is an ancestor and
    // current+1 would collide with a retained (undone) id
    val snapshotId = (0L +: prior.map(_.snapshotId).toSeq ++:
      priorLog.entries.map(_.id)).max + 1L

    // ---------------------------------------------------- FAST APPEND
    // An append-only commit REUSES the prior snapshot's manifests
    // verbatim and writes ONE manifest holding just this commit's added
    // entries — O(batch) commit metadata instead of O(total files). At
    // 100 TB (millions of live files) that is the difference between a
    // streaming ingest whose every commit rewrites a multi-million-entry
    // manifest driver-side and one whose commits cost only their own
    // batch. Reused entries keep their status/snapshot_id/sequence_number
    // as written, so the equality-delete ordering rule and per-manifest
    // partition summaries survive untouched; the read side already walks
    // a multi-manifest list. Once the list accumulates
    // `commit.manifest.min-count-to-merge` data manifests (table
    // property, then spark conf, default 100 — real Iceberg's
    // manifest-merge knob), the commit falls back to the full rewrite
    // below, which compacts the list back to one data manifest (the same
    // path [[IcebergTable.rewriteManifests]] invokes explicitly).
    // `fastManifests` = the prior manifest-list records to carry, rebuilt
    // onto this writer's schema; None = take the full-rewrite path.
    val fastManifests: Option[Seq[GenericRecord]] =
      if (!appendOnly || prior.isEmpty || deleteAdded.nonEmpty ||
          schemaJsonOverride.isDefined) None
      else {
        // v1 inline "manifests" snapshots return None: the full rewrite
        // below migrates them to a manifest list
        IcebergMeta.manifestListPathOf(location, priorLog,
            prior.get.snapshotId).flatMap { ml =>
          val records = IcebergMeta.readManifestListRecords(fs, ml)
            .map(rebuildManifestListEntry)
          // tolerant parse: external writers may have planted junk in
          // the property (our own setProperties validates it) — a
          // malformed knob must not fail committed appends
          val mergeMin = tblProperties
            .get("commit.manifest.min-count-to-merge")
            .flatMap(v => scala.util.Try(v.toInt).toOption)
            .orElse(spark.conf.getOption(
              "spark.graft.iceberg.manifestMergeMinCount")
              .flatMap(v => scala.util.Try(v.toInt).toOption))
            .getOrElse(100)
          val dataCount = records.count(r => r.get("content") == Int.box(0))
          if (dataCount + 1 > mergeMin) None else Some(records)
        }
      }

    // top-level field ids of the schema being published (the ids the
    // manifest's bounds maps must key by)
    val topFieldIds: Map[String, Int] =
      (schemaJson \ "fields") match {
        case JArray(fields) => fields.flatMap { f =>
          ((f \ "id"), (f \ "name")) match {
            case (JInt(i), JString(n)) => Some(n -> i.toInt)
            case _ => None
          }
        }.toMap
        case _ => Map.empty
      }

    def entry(avroSchema: Schema, status: Int, content: Option[Int],
        path: String, size: Long, seq: Long,
        equalityIds: Seq[Int] = Nil,
        statsJson: Option[String] = None): GenericRecord = {
      val dfSchema = avroSchema.getField("data_file").schema()
      val dfr = new GenericData.Record(dfSchema)
      content.foreach(c => dfr.put("content", c))
      dfr.put("file_path", path)
      dfr.put("file_format", "PARQUET")
      dfr.put("file_size_in_bytes", size)
      val parsed = statsJson.flatMap(DeltaStats.parse(_, schema))
      dfr.put("record_count",
        parsed.flatMap(_.numRecords).getOrElse(-1L))
      parsed.foreach { fsStats =>
        def mapRec(field: String, key: Int, value: AnyRef): GenericRecord = {
          val itemSchema = dfSchema.getField(field).schema()
            .getTypes.get(1).getElementType
          val kv = new GenericData.Record(itemSchema)
          kv.put("key", key)
          kv.put("value", value)
          kv
        }
        def put(field: String, entries: Seq[GenericRecord]): Unit =
          if (entries.nonEmpty)
            dfr.put(field, java.util.Arrays.asList(entries: _*))
        val byId = fsStats.cols.toSeq.flatMap { case (name, cs) =>
          for {
            id <- topFieldIds.get(name)
            f <- schema.fields.find(_.name == name)
          } yield (id, f.dataType, cs)
        }.sortBy(_._1)
        put("lower_bounds", byId.flatMap { case (id, dt, cs) =>
          cs.min.flatMap(IceSingleValue.serialize(_, dt))
            .map(b => mapRec("lower_bounds", id, java.nio.ByteBuffer.wrap(b)))
        })
        put("upper_bounds", byId.flatMap { case (id, dt, cs) =>
          cs.max.flatMap(IceSingleValue.serialize(_, dt))
            .map(b => mapRec("upper_bounds", id, java.nio.ByteBuffer.wrap(b)))
        })
        put("null_value_counts", byId.flatMap { case (id, _, cs) =>
          cs.nullCount.map(n => mapRec("null_value_counts", id, Long.box(n)))
        })
        put("value_counts", fsStats.numRecords.toSeq.flatMap(n =>
          byId.map { case (id, _, _) => mapRec("value_counts", id, Long.box(n)) }))
      }
      if (equalityIds.nonEmpty) {
        dfr.put("equality_ids",
          java.util.Arrays.asList(equalityIds.map(Int.box): _*))
      }
      // the spec's per-entry partition tuple: prior entries keep their
      // manifest values; added files' values parse from the staged path
      Option(dfSchema.getField("partition")).foreach { pf =>
        val rec = new GenericData.Record(pf.schema())
        val vals = tupleOf(path)
        partFields.foreach { case (n, dt) =>
          rec.put(n, vals.getOrElse(n, None)
            .map(avroPartValue(_, dt)).orNull)
        }
        dfr.put("partition", rec)
      }
      val r = new GenericData.Record(avroSchema)
      r.put("status", status)
      r.put("snapshot_id", snapshotId)
      // explicit per-entry sequence numbers (never null-inherited):
      // existing entries keep the seq of the commit that added them —
      // the equality-delete ordering rule depends on this surviving the
      // single-manifest-per-commit rewrite this writer does
      r.put("sequence_number", seq)
      r.put("data_file", dfr)
      r
    }
    // full rewrite: prior live files carry over as EXISTING (0), this
    // commit's as ADDED (1). Fast append: prior files stay in their
    // reused manifests — the new manifest holds ADDED entries only.
    val dataManifestSchema = manifestSchemaFor(partFields)
    val dataEntries =
      (if (fastManifests.isDefined) Nil
       else dataExisting.map { case (f, seq) =>
         entry(dataManifestSchema, 0, None, f.path, f.size, seq, Nil, f.stats) }) ++
        dataAdded.map(f =>
          entry(dataManifestSchema, 1, None, f.path, f.size, snapshotId, Nil, f.stats))
    val deleteEntries =
      if (fastManifests.isDefined) Nil
      else deleteExisting.map(f => entry(DeleteManifestSchema, 0, Some(f.content),
        f.path, f.size, f.seq, f.equalityIds)) ++
        deleteAdded.map(f => entry(DeleteManifestSchema, 1, Some(f.content),
          f.path, f.size, f.seq, f.equalityIds))

    // per-writer unique names (like real Iceberg's uuid-suffixed
    // manifests): racing writers never collide here, so the metadata
    // file below is the SINGLE commit fence and cleanup is exact
    val writerTag = java.util.UUID.randomUUID().toString.take(8)
    // an EMPTY fast append (idle micro-batch) reuses the prior list
    // as-is: writing a zero-entry manifest per idle trigger would grow
    // the list — and the merge counter — with nothing (real Iceberg
    // skips empty manifests too). The full path always writes its
    // manifest: a created-empty table needs one as its state anchor.
    val dataManifest: Option[(Path, Long)] =
      if (fastManifests.isDefined && dataEntries.isEmpty) None
      else {
        val mp = new Path(metaDir, f"manifest-$snapshotId%05d-$writerTag.avro")
        Some((mp, writeAvro(fs, mp, dataManifestSchema, dataEntries)))
      }
    val deleteManifest: Option[(Path, Long)] =
      if (deleteEntries.isEmpty) None
      else {
        val dm = new Path(metaDir,
          f"delete-manifest-$snapshotId%05d-$writerTag.avro")
        Some((dm, writeAvro(fs, dm, DeleteManifestSchema, deleteEntries)))
      }

    // per-partition-field summaries for the DATA manifest (the spec's
    // manifest-level pruning payload: contains_null + serialized
    // lower/upper across every entry in the manifest)
    val partSummaries: Option[java.util.List[GenericRecord]] =
      if (partFields.isEmpty) None
      else {
        val itemSchema = ManifestListSchema.getField("partitions").schema()
          .getTypes.get(1).getElementType
        // fast append: this manifest holds only the added files, so its
        // summary spans only them (reused manifests keep their own)
        val allPaths =
          (if (fastManifests.isDefined) Nil
           else dataExisting.map(_._1.path)) ++ dataAdded.map(_.path)
        def cmpDom(a: Any, b: Any): Int = (a, b) match {
          case (x: Long, y: Long) => java.lang.Long.compare(x, y)
          case (x: String, y: String) => x.compareTo(y)
          case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
          case _ => 0
        }
        val recs = partFields.map { case (n, dt) =>
          val vs = allPaths.map(p => tupleOf(p).getOrElse(n, None))
          val defined = vs.flatten
          val r = new GenericData.Record(itemSchema)
          r.put("contains_null", Boolean.box(vs.exists(_.isEmpty)))
          if (defined.nonEmpty) {
            val lo = defined.reduce((a, b) => if (cmpDom(a, b) <= 0) a else b)
            val hi = defined.reduce((a, b) => if (cmpDom(a, b) >= 0) a else b)
            IceSingleValue.serialize(lo, dt).foreach(b =>
              r.put("lower_bound", java.nio.ByteBuffer.wrap(b)))
            IceSingleValue.serialize(hi, dt).foreach(b =>
              r.put("upper_bound", java.nio.ByteBuffer.wrap(b)))
          }
          r
        }
        Some(java.util.Arrays.asList(recs: _*))
      }

    def mlEntry(path: Path, len: Long, content: Int): GenericRecord = {
      val r = new GenericData.Record(ManifestListSchema)
      r.put("manifest_path", path.toString)
      r.put("manifest_length", len)
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("added_snapshot_id", snapshotId)
      if (content == 0) partSummaries.foreach(r.put("partitions", _))
      r
    }
    val manifestList = new Path(metaDir, f"snap-$snapshotId%05d-$writerTag.avro")
    writeAvro(fs, manifestList, ManifestListSchema,
      fastManifests.getOrElse(Nil) ++
        dataManifest.map { case (p, l) => mlEntry(p, l, 0) } ++
        deleteManifest.map { case (p, l) => mlEntry(p, l, 1) })

    val now = System.currentTimeMillis()
    // carried-forward refs, plus the targeted branch repointed at the
    // new snapshot (created on first write); a TAG target refuses
    val refsOut: Map[String, IceRef] = {
      val carried = prior.map(_.refs).getOrElse(Map.empty)
      branch match {
        case None => carried
        case Some(b) =>
          carried.get(b).foreach(r => require(r.refType == "branch",
            s"write to ref '$b' of $location refused: it is a tag " +
              "(tags are immutable); target a branch"))
          // a repoint moves the pin but KEEPS the branch's declared
          // retention (RETAIN / WITH SNAPSHOT RETENTION)
          carried + (b -> carried.get(b)
            .map(_.copy(snapshotId = snapshotId))
            .getOrElse(IceRef(snapshotId, "branch")))
      }
    }
    val meta = JObject(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(java.util.UUID.randomUUID().toString),
      "location" -> JString(location),
      "last-updated-ms" -> JLong(now),
      "last-column-id" -> JInt(math.max(IcebergMeta.maxFieldId(schemaJson),
        prior.map(_.lastColumnId).getOrElse(0))),
      "current-schema-id" -> JInt((schemaJson \ "schema-id") match {
        case JInt(n) => n.toInt
        case _ => 0
      }),
      "schemas" -> JArray(List(schemaJson)),
      "properties" -> JObject(tblProperties.toList.sortBy(_._1)
        .map { case (k, v) => k -> (JString(v): JValue) }),
      "default-spec-id" -> JInt(0),
      "partition-specs" -> JArray(List(JObject(
        "spec-id" -> JInt(0),
        "fields" -> JArray(parts.toList.map { f =>
          JObject(
            "name" -> JString(f.name),
            "transform" -> JString(f.transform),
            "source-id" -> JInt(BigInt(topFieldIds.getOrElse(f.sourceCol, -1))),
            "field-id" -> JInt(f.fieldId)): JValue
        })))),
      "current-snapshot-id" -> JLong(branch match {
        // a branch write moves its ref only; main stays put
        case Some(_) => priorLog.currentId
        case None => snapshotId
      }),
      "snapshots" -> JArray(priorLog.entries.map(_.json).toList :+ JObject(
        List[(String, JValue)](
          "snapshot-id" -> JLong(snapshotId),
          "timestamp-ms" -> JLong(now),
          "manifest-list" -> JString(manifestList.toString),
          "summary" -> JObject("operation" -> JString(operation))) ++
          // lineage for incremental scans (and real Iceberg readers)
          prior.map(p => "parent-snapshot-id" -> (JLong(p.snapshotId): JValue)))))
    val metaWithRefs =
      if (refsOut.isEmpty) meta
      // renderRefs carries the retention fields (RETAIN / WITH SNAPSHOT
      // RETENTION) — rendering only id+type here would silently strip a
      // branch's declared retention on every append
      else meta merge renderRefs(refsOut)
    // zero-padded like the manifest names above: the hint-less fallback
    // sorts correctly even lexicographically, and numeric-parse readers
    // are unaffected
    // the metadata create-no-overwrite is the commit fence: of two racing
    // writers of the same version the loser fails. Its added files,
    // manifests and manifest list are removed so a retry starts clean
    // and no later commit can absorb them.
    publishMetadata(fs, location, version, metaWithRefs, () => {
      (dataAdded.map(_.path) ++ deleteAdded.map(_.path))
        .foreach(p => fs.delete(new Path(p), false))
      dataManifest.foreach { case (p, _) => fs.delete(p, false) }
      deleteManifest.foreach { case (p, _) => fs.delete(p, false) }
      fs.delete(manifestList, false)
    })
    snapshotId
  }
}
