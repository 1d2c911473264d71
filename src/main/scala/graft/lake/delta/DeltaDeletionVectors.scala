package graft.lake.delta

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.roaringbitmap.RoaringBitmap

/** Delta Lake deletion-vector storage, per the published protocol
  * (delta-io/delta PROTOCOL.md, "Deletion Vectors" + "Deletion Vector
  * Format" sections; the reference lists Delta under future support,
  * pg_lakehouse_iceberg/README.md:9 — graft reads what it would have
  * had to read). Three cooperating pieces:
  *
  *  - [[Z85]]: the ZeroMQ base85 codec the protocol names for encoding
  *    DV file UUIDs and inline DV bytes in the `pathOrInlineDv` field.
  *  - [[RoaringBitmapArray]]: the 64-bit bitmap-of-32-bit-roaring-bitmaps
  *    the protocol serializes ("portable" format: int32 LE magic
  *    1681511377, int64 LE bitmap count, then per bitmap an int32 LE
  *    key + the standard RoaringBitmap portable serialization). The
  *    32-bit legs ride on org.roaringbitmap (already on Spark's
  *    classpath — Spark uses it for task metrics).
  *  - [[DeletionVectors]]: descriptor parse/emit + the on-disk framing
  *    (`deletion_vector_<uuid>.bin`: a 1-byte format version, then each
  *    DV as int32 BE size + payload + int32 BE CRC-32 of the payload).
  *
  * Scale note: a DV is per-FILE metadata sized by deleted-row count
  * (compressed); readers deserialize each file's DV once per executor
  * (through the DV cache of `graft.lake.RowDeletes`), never per row.
  */
object Z85 {
  private val Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Decode: Array[Int] = {
    val a = Array.fill(128)(-1)
    Alphabet.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  /** Encode bytes (length must be a multiple of 4) as Z85 text. */
  def encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"z85: length ${bytes.length} not a multiple of 4")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
      var div = 85L * 85 * 85 * 85
      while (div >= 1) {
        sb.append(Alphabet(((v / div) % 85).toInt))
        div /= 85
      }
      i += 4
    }
    sb.toString
  }

  def decode(text: String): Array[Byte] = {
    require(text.length % 5 == 0, s"z85: length ${text.length} not a multiple of 5")
    val out = new Array[Byte](text.length / 5 * 4)
    var i = 0
    var o = 0
    while (i < text.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = text.charAt(i + j)
        val d = if (c < 128) Decode(c.toInt) else -1
        require(d >= 0, s"z85: invalid character '$c'")
        v = v * 85 + d
        j += 1
      }
      // a 5-char group encodes one uint32: values past 2^32-1 are invalid
      // per Z85 — truncating to the low 4 bytes would silently decode a
      // corrupted descriptor into a WRONG uuid/bitmap and fail far away
      // with a misleading error
      require(v <= 0xffffffffL,
        s"z85: group '${text.substring(i, i + 5)}' exceeds the uint32 range")
      var k = 3
      while (k >= 0) { out(o + k) = (v & 0xff).toByte; v >>= 8; k -= 1 }
      i += 5
      o += 4
    }
    out
  }

  def encodeUuid(uuid: java.util.UUID): String = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits)
    bb.putLong(uuid.getLeastSignificantBits)
    encode(bb.array())
  }

  def decodeUuid(text: String): java.util.UUID = {
    val b = decode(text)
    require(b.length == 16, s"z85: uuid payload is ${b.length} bytes")
    val bb = ByteBuffer.wrap(b)
    new java.util.UUID(bb.getLong, bb.getLong)
  }
}

/** 64-bit roaring bitmap as a sorted map of int32-keyed 32-bit bitmaps
  * (key = row index >>> 32) — the exact shape Delta's portable DV
  * serialization frames. Mutable builder + immutable-ish reader. */
final class RoaringBitmapArray private (
    private val bitmaps: java.util.TreeMap[Integer, RoaringBitmap]) {

  def add(value: Long): Unit = {
    require(value >= 0, s"dv: negative row index $value")
    val key = (value >>> 32).toInt
    val low = (value & 0xffffffffL).toInt
    var bm = bitmaps.get(key)
    if (bm == null) { bm = new RoaringBitmap(); bitmaps.put(key, bm) }
    bm.add(low)
  }

  def contains(value: Long): Boolean = {
    val bm = bitmaps.get((value >>> 32).toInt)
    bm != null && bm.contains((value & 0xffffffffL).toInt)
  }

  /** In-place union (DV extension merges the old bitmap in). */
  def union(other: RoaringBitmapArray): Unit = {
    val it = other.bitmaps.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val mine = bitmaps.get(e.getKey)
      if (mine == null) bitmaps.put(e.getKey, e.getValue.clone())
      else mine.or(e.getValue)
    }
  }

  def cardinality: Long = {
    var n = 0L
    val it = bitmaps.values().iterator()
    while (it.hasNext) n += it.next().getLongCardinality
    n
  }

  /** Magic + portable frame (the full `pathOrInlineDv`/file payload). */
  def serialize(): Array[Byte] = {
    var size = 4 + 8 // magic + count
    val vit = bitmaps.values().iterator()
    while (vit.hasNext) size += 4 + vit.next().serializedSizeInBytes()
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(RoaringBitmapArray.Magic)
    bb.putLong(bitmaps.size().toLong)
    val it = bitmaps.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putInt(e.getKey)
      e.getValue.serialize(bb)
    }
    bb.array()
  }
}

object RoaringBitmapArray {
  /** Delta's RoaringBitmapArray magic (PROTOCOL.md DV format). */
  val Magic: Int = 1681511377

  def apply(values: Iterable[Long] = Nil): RoaringBitmapArray = {
    val a = new RoaringBitmapArray(new java.util.TreeMap[Integer, RoaringBitmap]())
    values.foreach(a.add)
    a
  }

  def deserialize(payload: Array[Byte]): RoaringBitmapArray = {
    val bb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == Magic, s"dv: bad magic $magic (want $Magic)")
    val n = bb.getLong
    val m = new java.util.TreeMap[Integer, RoaringBitmap]()
    var i = 0L
    while (i < n) {
      val key = bb.getInt
      val bm = new RoaringBitmap()
      // deserialize advances a duplicate view; step the parent past it
      val view = bb.slice().order(ByteOrder.LITTLE_ENDIAN)
      bm.deserialize(view)
      bb.position(bb.position() + bm.serializedSizeInBytes())
      m.put(key, bm)
      i += 1
    }
    new RoaringBitmapArray(m)
  }
}

object DeletionVectors {

  /** Parsed `deletionVector` descriptor from an add action. */
  final case class Descriptor(
      storageType: String, // "u" file-by-uuid, "i" inline, "p" absolute path
      pathOrInlineDv: String,
      offset: Option[Int],
      sizeInBytes: Int,
      cardinality: Long) {

    /** Absolute DV file path ("u"/"p" forms; None for inline). */
    def filePath(tableLocation: String): Option[Path] = storageType match {
      case "p" => Some(new Path(pathOrInlineDv))
      case "u" =>
        // <optional random prefix><20-char z85 uuid>
        val prefix = pathOrInlineDv.dropRight(20)
        val uuid = Z85.decodeUuid(pathOrInlineDv.takeRight(20))
        val name = s"deletion_vector_$uuid.bin"
        Some(if (prefix.isEmpty) new Path(tableLocation, name)
             else new Path(new Path(tableLocation, prefix), name))
      case _ => None
    }
  }

  /** Load + deserialize a descriptor's bitmap (driver or executor side). */
  def load(conf: Configuration, tableLocation: String, d: Descriptor): RoaringBitmapArray =
    d.storageType match {
      case "i" =>
        // inline payloads are zero-padded to a 4-byte boundary for z85;
        // sizeInBytes is the true payload length
        RoaringBitmapArray.deserialize(Z85.decode(d.pathOrInlineDv).take(d.sizeInBytes))
      case "u" | "p" =>
        val p = d.filePath(tableLocation).get
        val fs = p.getFileSystem(conf)
        val in = fs.open(p)
        try {
          val off = d.offset.getOrElse(1) // past the 1-byte version header
          in.seek(off.toLong)
          val size = in.readInt() // big-endian framing
          require(size == d.sizeInBytes,
            s"dv: stored size $size != descriptor sizeInBytes ${d.sizeInBytes}")
          val payload = new Array[Byte](size)
          in.readFully(payload)
          val crc = in.readInt()
          val c = new CRC32(); c.update(payload)
          require(crc == c.getValue.toInt, s"dv: checksum mismatch at $p")
          RoaringBitmapArray.deserialize(payload)
        } finally in.close()
      case other => throw new IllegalArgumentException(s"dv: storageType '$other'")
    }

  /** Write one DV as its own `deletion_vector_<uuid>.bin` under the
    * table root and return the "u"-form descriptor. File framing per
    * the protocol: version byte 1, then int32 BE size + payload +
    * int32 BE CRC-32. */
  def write(conf: Configuration, tableLocation: String,
      bitmap: RoaringBitmapArray): Descriptor = {
    val uuid = java.util.UUID.randomUUID()
    val payload = bitmap.serialize()
    val p = new Path(tableLocation, s"deletion_vector_$uuid.bin")
    val fs = p.getFileSystem(conf)
    val bos = new ByteArrayOutputStream()
    val dos = new DataOutputStream(bos)
    dos.writeByte(1) // format version
    val offset = 1
    dos.writeInt(payload.length)
    dos.write(payload)
    val c = new CRC32(); c.update(payload)
    dos.writeInt(c.getValue.toInt)
    dos.flush()
    val out = fs.create(p, false)
    try out.write(bos.toByteArray) finally out.close()
    Descriptor("u", Z85.encodeUuid(uuid), Some(offset), payload.length,
      bitmap.cardinality)
  }

  /** Inline descriptor — small DVs ride in the log itself. z85 needs a
    * 4-byte multiple, and roaring array containers are only 2-byte
    * aligned: zero-pad for transport, record the true length. */
  def inline(bitmap: RoaringBitmapArray): Descriptor = {
    val payload = bitmap.serialize()
    val padded =
      if (payload.length % 4 == 0) payload
      else java.util.Arrays.copyOf(payload, payload.length + (4 - payload.length % 4))
    Descriptor("i", Z85.encode(padded), None, payload.length, bitmap.cardinality)
  }
}
