package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, File}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.util.zip.CRC32

import scala.util.control.NonFatal

import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Deletion-vector codec for the Delta Lake protocol (delta.io
  * PROTOCOL.md "Deletion Vectors"), no delta jar:
  *
  *   - Z85 (ZeroMQ base85) for the descriptor's `pathOrInlineDv`
  *     payloads (20-char UUIDs for on-disk DVs, padded data for inline).
  *   - The 64-bit "RoaringBitmapArray" bitmap: LE magic 1681511377, then
  *     the RoaringFormatSpec 64-bit portable layout (LE int64 bitmap
  *     count; per bitmap an LE int32 key and a standard 32-bit portable
  *     Roaring bitmap), coded by RoaringBitmap's `Roaring64NavigableMap`
  *     — value = (key << 32) | uint32.
  *   - The DV file layout: 1-byte format version, then per-DV
  *     [int32 BE size][bitmap bytes][int32 BE CRC32-of-bytes], the
  *     descriptor's `offset` pointing at the size word.
  *
  * Deserialization returns SORTED row-index arrays, so membership during
  * the read-side filter is a binary search. Corrupt input (bad magic or
  * cookie, bad CRC, truncation) fails clearly, never returns a partial
  * bitmap. */
object DeletionVectors {

  /** Descriptor fields of an `add.deletionVector` action. */
  case class Descriptor(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Int, cardinality: Long)

  // ---------------------------------------------------------------- Z85

  private val Z85 =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Inv: Array[Int] = {
    val a = Array.fill(128)(-1)
    Z85.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  /** Decode Z85 text (length must be a multiple of 5) to bytes; the
    * caller truncates to the true length when the payload was padded. */
  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85 length ${s.length} not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Inv(c.toInt) else -1
        require(d >= 0, s"invalid z85 character '$c'")
        v = v * 85 + d
        j += 1
      }
      val o = i / 5 * 4
      out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
      i += 5
    }
    out
  }

  /** Encode bytes as Z85, zero-padding to a multiple of 4 (the Delta
    * convention — `sizeInBytes` preserves the true length). */
  def z85Encode(bytes: Array[Byte]): String = {
    val padded =
      if (bytes.length % 4 == 0) bytes
      else java.util.Arrays.copyOf(bytes, bytes.length + (4 - bytes.length % 4))
    val sb = new StringBuilder(padded.length / 4 * 5)
    var i = 0
    while (i < padded.length) {
      var v = ((padded(i) & 0xffL) << 24) | ((padded(i + 1) & 0xffL) << 16) |
        ((padded(i + 2) & 0xffL) << 8) | (padded(i + 3) & 0xffL)
      val chunk = new Array[Char](5)
      var j = 4
      while (j >= 0) { chunk(j) = Z85((v % 85).toInt); v /= 85; j -= 1 }
      sb.appendAll(chunk)
      i += 4
    }
    sb.toString
  }

  /** UUID ↔ its 20-char Z85 form (two big-endian longs, 16 bytes). */
  def encodeUuid(u: java.util.UUID): String = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
    z85Encode(bb.array())
  }

  def decodeUuid(s: String): java.util.UUID = {
    val b = z85Decode(s)
    val bb = ByteBuffer.wrap(b)
    new java.util.UUID(bb.getLong, bb.getLong)
  }

  // --------------------------------------- RoaringBitmapArray portable

  private val PortableMagic = 1681511377

  /** Deserialize the 64-bit portable RoaringBitmapArray to sorted row
    * indices. Any malformed input (bad magic or cookie, truncation,
    * trailing bytes, negative values) is an IllegalArgumentException. */
  def deserialize(bytes: Array[Byte]): Array[Long] = {
    require(bytes.length >= 4 &&
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt == PortableMagic,
      s"deletion vector bitmap lacks magic $PortableMagic (portable RoaringBitmapArray)")
    val in = new ByteArrayInputStream(bytes, 4, bytes.length - 4)
    val map = new Roaring64NavigableMap()
    try map.deserializePortable(new DataInputStream(in))
    catch {
      case e: IllegalArgumentException => throw e
      case NonFatal(e) => throw new IllegalArgumentException(
        s"corrupt deletion vector bitmap: ${e.getClass.getSimpleName}: ${e.getMessage}", e)
    }
    require(in.available() == 0,
      s"deletion vector bitmap has ${in.available()} trailing bytes")
    val out = map.toArray
    require(out.isEmpty || (out.head >= 0 && out.last >= 0),
      "deletion vector bitmap holds negative row indices")
    out
  }

  /** Serialize sorted row indices as a portable RoaringBitmapArray: the
    * magic, then `Roaring64NavigableMap.serializePortable` (LE int64
    * bitmap count, each bitmap's LE int32 key and standard 32-bit portable
    * Roaring body). No `runOptimize`, so containers are array (≤4096
    * values) or bitmap. */
  def serialize(sorted: Array[Long]): Array[Byte] = {
    require(sorted.isEmpty || sorted.head >= 0, "row indices must be non-negative")
    val map = new Roaring64NavigableMap()
    sorted.foreach(map.addLong)
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    out.writeInt(Integer.reverseBytes(PortableMagic))
    map.serializePortable(out)
    out.flush()
    buf.toByteArray
  }

  // ------------------------------------------------------- DV file I/O

  /** The on-disk sidecar a descriptor references (None for inline).
    * u-type: pathOrInlineDv = <optional prefix><20-char z85 uuid>, the DV
    * living at <tableDir>/<prefix>/deletion_vector_<uuid>.bin. */
  def sidecarFile(d: Descriptor, tableDir: File): Option[File] = d.storageType match {
    case "p" => Some(new File(d.pathOrInlineDv))
    case "u" =>
      val s = d.pathOrInlineDv
      require(s.length >= 20, s"u-type DV id too short: $s")
      val prefix = s.dropRight(20)
      val uuid = decodeUuid(s.takeRight(20))
      val dir = if (prefix.isEmpty) tableDir else new File(tableDir, prefix)
      Some(new File(dir, s"deletion_vector_$uuid.bin"))
    case _ => None
  }

  /** Resolve a descriptor to its sorted deleted row indices. `tableDir`
    * anchors relative ("u"-type) DV files. */
  def readDescriptor(d: Descriptor, tableDir: File): Array[Long] = d.storageType match {
    case "i" =>
      val raw = z85Decode(d.pathOrInlineDv)
      require(raw.length >= d.sizeInBytes,
        s"inline DV decodes to ${raw.length} bytes < sizeInBytes ${d.sizeInBytes}")
      deserialize(java.util.Arrays.copyOf(raw, d.sizeInBytes))
    case "u" | "p" =>
      val file = sidecarFile(d, tableDir).get
      require(file.isFile, s"deletion vector file missing: $file")
      val all = Files.readAllBytes(file.toPath)
      val off = d.offset.getOrElse(1) // past the 1-byte format version
      require(off + 4 <= all.length, s"DV offset $off beyond file ${all.length}")
      val bb = ByteBuffer.wrap(all, off, all.length - off)
      val size = bb.getInt // big-endian
      require(size == d.sizeInBytes,
        s"DV at $file+$off has size $size, descriptor says ${d.sizeInBytes}")
      require(off + 4 + size + 4 <= all.length, s"DV data truncated in $file")
      val data = java.util.Arrays.copyOfRange(all, off + 4, off + 4 + size)
      val crcStored = ByteBuffer.wrap(all, off + 4 + size, 4).getInt
      val crc = new CRC32
      crc.update(data)
      require(crc.getValue.toInt == crcStored,
        s"DV checksum mismatch in $file at offset $off")
      deserialize(data)
    case other =>
      throw new IllegalArgumentException(s"unknown DV storageType '$other'")
  }

  /** Write one DV file holding the given per-path bitmaps; returns the
    * descriptor for each path. The file is named
    * `deletion_vector_<uuid>.bin` in `tableDir` (storageType "u"). */
  def writeDvFile(tableDir: File,
      perPath: Seq[(String, Array[Long])]): Map[String, Descriptor] = {
    val uuid = java.util.UUID.randomUUID()
    val id = encodeUuid(uuid)
    val chunks = perPath.map { case (p, idx) => (p, serialize(idx), idx.length.toLong) }
    val total = 1 + chunks.map(8 + _._2.length).sum
    val bb = ByteBuffer.allocate(total)
    bb.put(1.toByte) // format version
    val descriptors = Map.newBuilder[String, Descriptor]
    chunks.foreach { case (p, data, card) =>
      val off = bb.position()
      bb.putInt(data.length) // big-endian
      bb.put(data)
      val crc = new CRC32
      crc.update(data)
      bb.putInt(crc.getValue.toInt) // big-endian
      descriptors += p -> Descriptor("u", id, Some(off), data.length, card)
    }
    Files.write(new File(tableDir, s"deletion_vector_$uuid.bin").toPath, bb.array())
    descriptors.result()
  }
}
