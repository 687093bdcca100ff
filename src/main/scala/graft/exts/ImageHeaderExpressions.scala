package graft.exts

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** REAL image-header probe — no codec libraries needed: the container
  * formats put dimensions in fixed header positions (PNG IHDR, GIF
  * logical screen descriptor, BMP info header) or in a marker walk (JPEG
  * SOF segments), all parseable from the raw bytes in pure JVM code.
  * This replaces the md5-fake `Multimodal.probeImageDims` stub for the
  * header-probe part of the decode story. It stays separate from the
  * pixel decoders ([[ImageCodec]]) because it must answer from a
  * header-only prefix, which an ImageIO reader rejects, and it also
  * knows GIF.
  *
  * Returns struct(width int, height int, format string), or null when the
  * payload matches no known signature — unknown is never a wrong number.
  * One flat byte walk per row, codegen'd via a static helper call.
  *
  * Reference surface: multimodal metadata extraction for training-data
  * pipelines (SURVEY.md §2 LLM-data-pipeline ops).
  */
case class ImageHeader(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ImageHeader.schema
  override def nullable: Boolean = true
  // AbstractDataType is private[sql], so validate via checkInputDataTypes
  override def checkInputDataTypes() =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"image_header needs binary input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    ImageHeader.probe(input.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val r = ctx.freshName("hdr")
      s"""
        InternalRow $r = graft.exts.ImageHeader.probe($b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): ImageHeader =
    copy(child = newChild)
}

/** REAL audio-header probe, the WAV/RIFF sibling of [[ImageHeader]]:
  * sample rate / channels / bits per sample straight from the fmt chunk,
  * duration derived from the data chunk size — all plain header bytes.
  * Returns struct(sample_rate, channels, bits, duration_ms, format);
  * null when the payload is not RIFF/WAVE. */
case class AudioHeader(child: Expression) extends UnaryExpression {
  override def dataType: DataType = AudioHeader.schema
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"audio_header needs binary input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    AudioHeader.probe(input.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val r = ctx.freshName("hdr")
      s"""
        InternalRow $r = graft.exts.AudioHeader.probe($b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): AudioHeader =
    copy(child = newChild)
}

object AudioHeader {
  val schema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits", IntegerType),
    StructField("duration_ms", LongType),
    StructField("format", StringType)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) | (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def tag(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t(0) && b(i + 1) == t(1) && b(i + 2) == t(2) && b(i + 3) == t(3)

  /** Static probe — called from both eval and generated code. Walks the
    * RIFF chunk list for fmt and data (order not assumed). */
  def probe(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 36) return null
    if (!tag(b, 0, "RIFF") || !tag(b, 8, "WAVE")) return null
    // cursor is a Long: a chunk size field near 0xFFFFFFFF would wrap an
    // Int cursor negative and index out of bounds on adversarial input
    var i = 12L
    var rate = 0L; var channels = 0; var bits = 0
    var byteRate = 0L; var dataLen = -1L
    while (i + 8 <= b.length) {
      val at = i.toInt
      val sz = le32(b, at + 4)
      // the fmt chunk's own declared size must cover the 16 bytes read
      // below, or they would come from the next chunk (as in WavSamples)
      if (tag(b, at, "fmt ") && sz >= 16 && i + 24 <= b.length) {
        channels = le16(b, at + 10)
        rate = le32(b, at + 12)
        byteRate = le32(b, at + 16)
        bits = le16(b, at + 22)
      } else if (tag(b, at, "data")) {
        dataLen = sz
      }
      i += 8L + sz + (sz & 1L) // chunks are word-aligned
    }
    if (rate <= 0 || channels <= 0 || rate > Int.MaxValue) return null
    val durationMs =
      if (dataLen >= 0 && byteRate > 0) dataLen * 1000L / byteRate else -1L
    new GenericInternalRow(Array[Any](rate.toInt, channels, bits,
      if (durationMs >= 0) durationMs else null, UTF8String.fromString("wav")))
  }
}

object ImageHeader {
  val schema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("format", StringType)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) | (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  private def row(w: Long, h: Long, fmt: String): InternalRow =
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) null
    else new GenericInternalRow(Array[Any](w.toInt, h.toInt, UTF8String.fromString(fmt)))

  /** Static probe — called from both eval and generated code. */
  def probe(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 10) return null
    // PNG: 8-byte signature, then the first chunk, which must be a
    // 13-byte IHDR (width/height BE at 16/20) — anything else → null
    if (b.length >= 24 && u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        u8(b, 4) == 0x0d && u8(b, 5) == 0x0a && u8(b, 6) == 0x1a && u8(b, 7) == 0x0a)
      return if (be32(b, 8) == 13L && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        row(be32(b, 16), be32(b, 20), "png")
      else null
    // GIF87a/GIF89a: logical screen descriptor, width/height LE at 6/8
    if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return row(le16(b, 6), le16(b, 8), "gif")
    // BMP: "BM" + DIB header, whose SIZE field at 14 picks the layout —
    // BITMAPINFOHEADER family stores int32 width/|height| at 18/22, the
    // OS/2 BITMAPCOREHEADER stores uint16 at 18/20; reading the 32-bit
    // layout unconditionally would return confidently wrong numbers for
    // core-header files. Unknown DIB sizes return null, never a guess.
    if (b.length >= 22 && b(0) == 'B' && b(1) == 'M') {
      val dib = le32(b, 14)
      if (dib == 12L)
        return row(le16(b, 18), le16(b, 20), "bmp")
      if (b.length >= 26 &&
          (dib == 40L || dib == 52L || dib == 56L || dib == 64L || dib == 108L || dib == 124L))
        return row(le32(b, 18), math.abs(le32(b, 22).toInt).toLong, "bmp")
      return null
    }
    // JPEG: FFD8, walk marker segments to the first SOFn frame header
    if (u8(b, 0) == 0xff && u8(b, 1) == 0xd8) {
      var i = 2
      while (i + 3 < b.length) {
        if (u8(b, i) != 0xff) return null // desynced — not a valid stream
        val marker = u8(b, i + 1)
        if (marker == 0xff) { i += 1 } // fill byte
        else if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd9)) { i += 2 } // standalone
        else {
          val segLen = be16(b, i + 2)
          if (segLen < 2) return null
          val isSof = (marker >= 0xc0 && marker <= 0xcf) &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc // not DHT/JPG/DAC
          if (isSof) {
            if (i + 8 >= b.length) return null
            return row(be16(b, i + 7), be16(b, i + 5), "jpeg") // height first in SOF
          }
          i += 2 + segLen
        }
      }
      return null
    }
    null
  }
}
