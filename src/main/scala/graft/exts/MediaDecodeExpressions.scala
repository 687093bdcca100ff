package graft.exts

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** REAL pixel/sample decode for the multimodal pipeline. BMP, PNG and
  * JPEG pixels come from the JDK's `javax.imageio` readers through the
  * one [[ImageCodec]] (palette, 1-16-bit, interlaced PNG; palette, RLE
  * and bitfield BMP; sequential and progressive JPEG); WAV's PCM frames
  * are a fixed byte layout, decoded here. Compressed audio/video stay
  * out (DIVERGENCES §8).
  *
  * All return null for anything outside the decodable subset — never a
  * wrong pixel. Codegen'd via static helper calls, SQL-registered as
  * `bmp_pixels` / `wav_samples` / `png_pixels` / `jpeg_pixels`, plus
  * the magic-sniffing `image_pixels` dispatcher for mixed columns.
  */
/** Shared shape of the binary→int-array decode expressions: nullable
  * int-array output, binary-input type check, eval and whole-stage
  * codegen both routed through one static `decode(byte[])` entry point
  * per format — each concrete decoder is name + dispatch, nothing else. */
abstract class MediaDecodeExpression extends UnaryExpression {
  /** SQL-facing function name, for the type-check error message. */
  protected def fnName: String
  /** Fully-qualified object whose static `decode` the codegen calls. */
  protected def decoder: String
  protected def run(b: Array[Byte]): ArrayData

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$fnName needs binary input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    run(input.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val r = ctx.freshName("px")
      s"""
        org.apache.spark.sql.catalyst.util.ArrayData $r = $decoder.decode($b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })
}

case class BmpPixels(child: Expression) extends MediaDecodeExpression {
  protected def fnName = "bmp_pixels"
  protected def decoder = "graft.exts.BmpPixels"
  protected def run(b: Array[Byte]) = BmpPixels.decode(b)
  override protected def withNewChildInternal(newChild: Expression): BmpPixels =
    copy(child = newChild)
}

/** BMP → packed 0xRRGGBB, top-down row-major (bottom-up storage and BGR
  * order normalized by the reader). */
object BmpPixels {
  def decode(b: Array[Byte]): ArrayData = ImageCodec.decode(b, "bmp")
}

case class PngPixels(child: Expression) extends MediaDecodeExpression {
  protected def fnName = "png_pixels"
  protected def decoder = "graft.exts.PngPixels"
  protected def run(b: Array[Byte]) = PngPixels.decode(b)
  override protected def withNewChildInternal(newChild: Expression): PngPixels =
    copy(child = newChild)
}

/** PNG → packed 0xRRGGBB, top-down row-major, same contract as
  * [[BmpPixels]] so every downstream stat/feature operator is
  * format-agnostic. */
object PngPixels {
  def decode(b: Array[Byte]): ArrayData = ImageCodec.decode(b, "png")
}

case class WavSamples(child: Expression) extends MediaDecodeExpression {
  protected def fnName = "wav_samples"
  protected def decoder = "graft.exts.WavSamples"
  protected def run(b: Array[Byte]) = WavSamples.decode(b)
  override protected def withNewChildInternal(newChild: Expression): WavSamples =
    copy(child = newChild)
}

object WavSamples {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def tag(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t(0) && b(i + 1) == t(1) && b(i + 2) == t(2) && b(i + 3) == t(3)

  final val MaxSamples = 64L * 1024 * 1024

  /** Decode WAV PCM frames into signed sample values, channel-interleaved
    * exactly as stored: 16-bit → [-32768, 32767], 8-bit (stored unsigned)
    * → centered to [-128, 127]. Non-PCM encodings (float, ADPCM, µ-law)
    * and malformed chunk lists → null. Cursor arithmetic is Long for the
    * same uint32-chunk-size reason as [[AudioHeader.probe]]. */
  def decode(b: Array[Byte]): ArrayData = {
    if (b == null || b.length < 44) return null
    if (!tag(b, 0, "RIFF") || !tag(b, 8, "WAVE")) return null
    var i = 12L
    var audioFormat = 0; var bits = 0
    var dataAt = -1L; var dataLen = -1L
    while (i + 8 <= b.length) {
      val at = i.toInt
      val sz = le32(b, at + 4)
      // the fmt chunk's OWN declared size must cover the 16 bytes read
      // below — a truncated/zero-size fmt chunk would otherwise silently
      // read audioFormat/bits from the NEXT chunk's bytes
      if (tag(b, at, "fmt ") && sz >= 16 && i + 24 <= b.length) {
        audioFormat = le16(b, at + 8)
        bits = le16(b, at + 22)
      } else if (tag(b, at, "data")) {
        dataAt = i + 8; dataLen = sz
      }
      i += 8L + sz + (sz & 1L)
    }
    if (audioFormat != 1 || dataAt < 0) return null // PCM only
    if (bits != 16 && bits != 8) return null
    if (dataAt + dataLen > b.length) dataLen = b.length - dataAt // truncated file: decode what's there
    val bytesPer = bits / 8
    val n = dataLen / bytesPer
    if (n < 0 || n > MaxSamples) return null
    val out = new Array[Int](n.toInt)
    var j = 0
    var at = dataAt.toInt
    while (j < out.length) {
      out(j) =
        if (bits == 16) le16(b, at).toShort.toInt // sign-extend
        else u8(b, at) - 128                      // 8-bit WAV is unsigned
      at += bytesPer
      j += 1
    }
    new GenericArrayData(out)
  }
}

case class JpegPixels(child: Expression) extends MediaDecodeExpression {
  protected def fnName = "jpeg_pixels"
  protected def decoder = "graft.exts.JpegPixels"
  protected def run(b: Array[Byte]) = JpegPixels.decode(b)
  override protected def withNewChildInternal(newChild: Expression): JpegPixels =
    copy(child = newChild)
}

/** JPEG → packed 0xRRGGBB, top-down row-major: libjpeg's YCbCr→RGB, its
  * interpolating ("fancy") chroma upsampling, and block smoothing for
  * progressive files whose scans leave low AC coefficients unsent.
  * Arithmetic-coded, 12-bit and CMYK/YCCK frames → null. */
object JpegPixels {
  def decode(b: Array[Byte]): ArrayData = ImageCodec.decode(b, "jpeg")
}

case class ImagePixels(child: Expression) extends MediaDecodeExpression {
  protected def fnName = "image_pixels"
  protected def decoder = "graft.exts.ImagePixels"
  protected def run(b: Array[Byte]) = ImagePixels.decode(b)
  override protected def withNewChildInternal(newChild: Expression): ImagePixels =
    copy(child = newChild)
}

/** Format-sniffing image decode (round 9): the leading magic bytes pick
  * PNG, BMP or JPEG, so a mixed-format payload column decodes through ONE
  * expression — the shape a real crawled corpus has. Same packed-0xRRGGBB
  * contract; unknown magic (GIF and TIFF included) or an undecodable
  * member of a known format → null, never a wrong pixel.
  * SQL: `image_pixels`. */
object ImagePixels {
  def decode(b: Array[Byte]): ArrayData = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      PngPixels.decode(b)
    else if (b(0) == 'B' && b(1) == 'M')
      BmpPixels.decode(b)
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
      JpegPixels.decode(b)
    else null
  }
}
