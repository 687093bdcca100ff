package graft.exts

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.{ByteArrayInputStream, IOException}
import javax.imageio.{ImageIO, ImageReader}
import javax.imageio.stream.MemoryCacheImageInputStream

import scala.collection.mutable

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The one image codec behind `bmp_pixels`, `png_pixels`, `jpeg_pixels`
  * and `image_pixels`: the JDK's own `javax.imageio` readers (module
  * `java.desktop`; JPEG runs on its bundled libjpeg). graft adds only the
  * contract around them:
  *
  *  - output is packed 0xRRGGBB ints, top-down row-major;
  *  - pixels are the raw decoded samples: RGB from raster bands 0-2, gray
  *    replicated from band 0, palettes looked up, alpha dropped, no ICC or
  *    gamma conversion (so never `getRGB` on a gray image, which applies
  *    a gray→sRGB curve);
  *  - a d-bit sample s (d ≠ 8: 1/2/4/16-bit PNG, 5/6-bit BMP fields) maps
  *    to the nearest 8-bit level, floor(s·255/(2^d−1) + 1/2);
  *  - null, never a throw and never a guessed pixel, for anything the
  *    reader refuses, warns about (libjpeg pads a truncated file with
  *    gray and only warns), or whose header declares more than
  *    [[MaxPixels]] pixels — checked before any pixel buffer exists.
  *
  * The stream is memory-cached: `ImageIO.createImageInputStream` would
  * write a temp file per call under ImageIO's default cache setting. */
private[exts] object ImageCodec {
  /** Upper bound on decoded pixels (64 MPix ≈ 256 MB of ints) — a forged
    * header must not allocate unboundedly inside an executor task. */
  final val MaxPixels = 64L * 1024 * 1024

  /** One reader per (format, thread), so a call skips the registry
    * lookup and reader construction. Each call `reset()`s it, which drops
    * its input and warning listener. */
  private val readers = ThreadLocal.withInitial[mutable.Map[String, Option[ImageReader]]](
    () => mutable.Map.empty)

  /** Decode `b` with the ImageIO reader registered for `format`
    * ("bmp", "png" or "jpeg"). */
  def decode(b: Array[Byte], format: String): ArrayData = {
    if (b == null) return null
    val reader = readers.get.getOrElseUpdate(format, {
      val it = ImageIO.getImageReadersByFormatName(format)
      if (it.hasNext) Some(it.next()) else None
    }).orNull
    if (reader == null) return null
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b))
    var warned = false
    try {
      reader.addIIOReadWarningListener((_, _) => warned = true)
      reader.setInput(in, true, true)
      if (reader.getWidth(0).toLong * reader.getHeight(0) > MaxPixels) return null
      val img = reader.read(0)
      if (warned) null else pixels(img)
    } catch {
      case _: IOException | _: RuntimeException => null
    } finally {
      reader.reset()
      try in.close() catch { case _: IOException => () }
    }
  }

  /** Raster → packed pixels, one row of samples at a time (a whole-image
    * sample array would be up to 4x the output). */
  private def pixels(img: BufferedImage): ArrayData = {
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    val bands = raster.getNumBands
    val row = new Array[Int](w * bands)
    val out = new Array[Int](w * h)
    img.getColorModel match {
      case icm: IndexColorModel =>
        var y = 0
        while (y < h) {
          raster.getSamples(0, y, w, 1, 0, row)
          var x = 0
          while (x < w) { out(y * w + x) = icm.getRGB(row(x)) & 0xffffff; x += 1 }
          y += 1
        }
      case cm =>
        val n = cm.getNumColorComponents
        val space = cm.getColorSpace.getType
        if (!(n == 1 && space == ColorSpace.TYPE_GRAY) && !(n == 3 && space == ColorSpace.TYPE_RGB))
          return null
        val bits = Array.tabulate(n)(cm.getComponentSize)
        if (bits.exists(d => d < 1 || d > 16)) return null
        def level(s: Int, d: Int): Int =
          if (d == 8) s else { val max = (1L << d) - 1; ((s * 510L + max) / (2 * max)).toInt }
        var y = 0
        while (y < h) {
          raster.getPixels(0, y, w, 1, row)
          var x = 0
          while (x < w) {
            val at = x * bands
            out(y * w + x) =
              if (n == 1) { val g = level(row(at), bits(0)); (g << 16) | (g << 8) | g }
              else (level(row(at), bits(0)) << 16) | (level(row(at + 1), bits(1)) << 8) |
                level(row(at + 2), bits(2))
            x += 1
          }
          y += 1
        }
    }
    new GenericArrayData(out)
  }
}
