package graft.index.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID
import java.util.zip.CRC32

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.roaringbitmap.RoaringBitmap

/**
 * On-add deletion-vector descriptor (Delta protocol `deletionVector`
 * struct on `add`/`remove` actions; reference consumes DV tables through
 * the delta-spark connector — sources/delta/DeltaLakeRelation.scala —
 * this module re-derives the open format so DV tables serve jarless).
 *
 *  - `storageType` "u": DV stored in a file under the table root;
 *    `pathOrInlineDv` = `<random prefix><base85 UUID (20 chars)>`
 *  - `storageType` "p": DV file at an absolute path
 *  - `storageType` "i": DV inlined, `pathOrInlineDv` = base85 of the
 *    serialized bitmap itself
 */
final case class DvDescriptor(
    storageType: String,
    pathOrInlineDv: String,
    offset: Option[Int],
    sizeInBytes: Int,
    cardinality: Long) {

  /** Absolute path of the DV file ("u"/"p"); None for inline. */
  def absolutePath(tableRoot: Path): Option[Path] = storageType match {
    case "p" => Some(new Path(pathOrInlineDv))
    case "u" =>
      val prefix = pathOrInlineDv.dropRight(DeltaDeletionVectors.EncodedUuidLength)
      val uuid = DeltaDeletionVectors.decodeUUID(
        pathOrInlineDv.takeRight(DeltaDeletionVectors.EncodedUuidLength))
      val name = s"deletion_vector_$uuid.bin"
      Some(if (prefix.isEmpty) new Path(tableRoot, name)
           else new Path(new Path(tableRoot, prefix), name))
    case "i" => None
    case other => throw new UnsupportedDeltaProtocolException(
      s"deletion vector storageType '$other' is not in the Delta spec " +
        "(expected u, p, or i)")
  }
}

/**
 * Deletion-vector codec: RFC 1924 base85 (the variant the Delta spec
 * mandates for UUIDs and inline DVs), the portable 64-bit
 * RoaringBitmapArray serialization (magic 1681511377; 32-bit roaring
 * sub-bitmaps via Spark's bundled org.roaringbitmap), and the DV file
 * framing (`<1-byte version><per-DV: 4-byte BE size, data, 4-byte BE
 * CRC-32>`). Everything here is pure byte work, usable on executors.
 */
object DeltaDeletionVectors {

  // ------------------------------------------------------- base85 (RFC 1924)

  private val EncodeMap: Array[Char] =
    (('0' to '9') ++ ('A' to 'Z') ++ ('a' to 'z') ++ "!#$%&()*+-;<=>?@^_`{|}~").toArray
  private val DecodeMap: Array[Byte] = {
    val m = Array.fill[Byte](128)(-1)
    EncodeMap.zipWithIndex.foreach { case (c, i) => m(c.toInt) = i.toByte }
    m
  }
  val EncodedUuidLength = 20

  /** Encode bytes — 4 bytes → 5 chars, big-endian, most significant
    * digit first. A non-aligned payload is zero-padded to the next
    * 4-byte boundary (the decoder truncates back via the descriptor's
    * `sizeInBytes`, the same contract Delta's codec uses). */
  def base85Encode(raw: Array[Byte]): String = {
    val bytes =
      if (raw.length % 4 == 0) raw
      else java.util.Arrays.copyOf(raw, (raw.length / 4 + 1) * 4)
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var acc: Long = ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
        ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
      val digits = new Array[Char](5)
      var d = 4
      while (d >= 0) { digits(d) = EncodeMap((acc % 85).toInt); acc /= 85; d -= 1 }
      sb.appendAll(digits)
      i += 4
    }
    sb.toString
  }

  def base85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0,
      s"base85 string length ${s.length} is not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var acc = 0L
      var d = 0
      while (d < 5) {
        val c = s.charAt(i + d)
        val v = if (c < 128) DecodeMap(c.toInt) else -1
        require(v >= 0, s"invalid base85 character '$c' in deletion vector")
        acc = acc * 85 + v
        d += 1
      }
      val o = i / 5 * 4
      out(o) = ((acc >> 24) & 0xff).toByte
      out(o + 1) = ((acc >> 16) & 0xff).toByte
      out(o + 2) = ((acc >> 8) & 0xff).toByte
      out(o + 3) = (acc & 0xff).toByte
      i += 5
    }
    out
  }

  def encodeUUID(uuid: UUID): String = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits)
    bb.putLong(uuid.getLeastSignificantBits)
    base85Encode(bb.array())
  }

  def decodeUUID(s: String): UUID = {
    val bytes = base85Decode(s)
    val bb = ByteBuffer.wrap(bytes)
    new UUID(bb.getLong, bb.getLong)
  }

  // ------------------------------------- portable RoaringBitmapArray codec

  /** Magic of the Delta "portable" RoaringBitmapArray format. */
  val PortableMagic = 1681511377

  /** Serialize 64-bit positions as the portable RoaringBitmapArray:
    * magic (4B LE), bitmap count (8B LE), then per sub-bitmap the 32-bit
    * key (4B LE) + the standard little-endian roaring serialization.
    * Keys ascend; a position's key is its high 32 bits. */
  def serializePositions(positions: Iterator[Long]): (Array[Byte], Long) = {
    val parts = mutable.SortedMap.empty[Int, RoaringBitmap]
    var cardinality = 0L
    positions.foreach { pos =>
      require(pos >= 0, s"negative row position $pos")
      val key = (pos >>> 32).toInt
      parts.getOrElseUpdate(key, new RoaringBitmap()).add(pos.toInt)
    }
    parts.valuesIterator.foreach { rb => rb.runOptimize(); cardinality += rb.getLongCardinality }
    val size = 4 + 8 + parts.valuesIterator.map(8 + _.serializedSizeInBytes()).sum
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(PortableMagic)
    bb.putLong(parts.size.toLong)
    parts.foreach { case (key, rb) =>
      bb.putInt(key)
      rb.serialize(bb)
    }
    (bb.array(), cardinality)
  }

  /** Decode a serialized portable RoaringBitmapArray to its positions. */
  def deserializePositions(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == PortableMagic,
      s"deletion vector bitmap has magic $magic (expected $PortableMagic " +
        "— only the portable RoaringBitmapArray format is in the spec)")
    val n = bb.getLong
    val out = mutable.ArrayBuilder.make[Long]
    var i = 0L
    while (i < n) {
      val key = bb.getInt.toLong << 32
      val rb = new RoaringBitmap()
      rb.deserialize(bb)
      // deserialize(ByteBuffer) does not advance the buffer position
      bb.position(bb.position() + rb.serializedSizeInBytes())
      rb.forEach(new org.roaringbitmap.IntConsumer {
        override def accept(v: Int): Unit = out += (key | (v & 0xffffffffL))
      })
      i += 1
    }
    out.result()
  }

  // ------------------------------------------------------- DV file framing

  /** First byte of every DV file (format version). */
  val FileFormatVersion: Byte = 1

  /** Slice one DV out of a DV file's bytes at the descriptor offset:
    * `<4-byte BE size><size bytes><4-byte BE CRC-32 of those bytes>`.
    * Verifies size against the descriptor and the checksum. */
  def slice(fileBytes: Array[Byte], d: DvDescriptor): Array[Byte] = {
    require(fileBytes.nonEmpty && fileBytes(0) == FileFormatVersion,
      s"deletion vector file has format version ${fileBytes.headOption.orNull} " +
        s"(expected $FileFormatVersion)")
    val off = d.offset.getOrElse(throw new IllegalArgumentException(
      s"deletion vector descriptor (storageType=${d.storageType}) has no offset"))
    val bb = ByteBuffer.wrap(fileBytes) // big-endian by default
    val size = bb.getInt(off)
    require(size == d.sizeInBytes,
      s"deletion vector at offset $off has stored size $size but the " +
        s"descriptor says ${d.sizeInBytes} (corrupt file or stale log?)")
    val data = java.util.Arrays.copyOfRange(fileBytes, off + 4, off + 4 + size)
    val expected = bb.getInt(off + 4 + size)
    val crc = new CRC32(); crc.update(data)
    require(crc.getValue.toInt == expected,
      s"deletion vector at offset $off fails its CRC-32 check (corrupt file)")
    data
  }

  /** The bytes of a whole DV file. */
  def readFile(fs: FileSystem, p: Path): Array[Byte] = {
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  /** Positions deleted by a descriptor: inline DVs decode directly,
    * file-backed ones from the already-read file bytes. */
  def positionsOf(d: DvDescriptor, fileBytes: Option[Array[Byte]]): Array[Long] =
    d.storageType match {
      case "i" =>
        // decoded payload may carry base85 alignment padding; sizeInBytes
        // is the true bitmap length
        val decoded = base85Decode(d.pathOrInlineDv)
        require(d.sizeInBytes > 0 && d.sizeInBytes <= decoded.length,
          s"inline deletion vector sizeInBytes ${d.sizeInBytes} out of " +
            s"range for ${decoded.length} decoded bytes")
        deserializePositions(java.util.Arrays.copyOf(decoded, d.sizeInBytes))
      case _ => deserializePositions(slice(fileBytes.getOrElse(
        throw new IllegalArgumentException(
          s"file-backed deletion vector ${d.pathOrInlineDv} needs file bytes")), d))
    }

  /**
   * Write one DV FILE holding a blob per data file and return the
   * descriptors. `blobs` maps data-file path → serialized bitmap (+
   * cardinality). Returns (dvFilePath, dataPath → descriptor). The file
   * name and `pathOrInlineDv` derive from a fresh UUID, storageType "u".
   */
  def writeDvFile(fs: FileSystem, tableRoot: Path,
      blobs: Seq[(String, Array[Byte], Long)]): (Path, Map[String, DvDescriptor]) = {
    val uuid = UUID.randomUUID()
    val encoded = encodeUUID(uuid)
    val path = new Path(tableRoot, s"deletion_vector_$uuid.bin")
    val out = fs.create(path, false)
    val descriptors = mutable.Map.empty[String, DvDescriptor]
    try {
      out.write(FileFormatVersion.toInt)
      var offset = 1
      blobs.foreach { case (dataPath, data, cardinality) =>
        val crc = new CRC32(); crc.update(data)
        val bb = ByteBuffer.allocate(4 + data.length + 4)
        bb.putInt(data.length); bb.put(data); bb.putInt(crc.getValue.toInt)
        out.write(bb.array())
        descriptors(dataPath) = DvDescriptor(
          "u", encoded, Some(offset), data.length, cardinality)
        offset += 4 + data.length + 4
      }
    } finally out.close()
    (path, descriptors.toMap)
  }
}
