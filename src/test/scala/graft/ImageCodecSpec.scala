package graft

import java.awt.image.BufferedImage
import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.exts.{BmpPixels, ImagePixels, JpegPixels, PngPixels}
import graft.operators.Multimodal

/** The codec's resource guards and its sample-scaling rule: a forged
  * giant header is refused before any pixel buffer exists, decoding
  * writes no cache file, and samples that are not 8-bit map to the
  * nearest 8-bit level. Static calls, no Spark session. */
class ImageCodecSpec extends AnyFunSuite {

  private def allocatedBy(body: => Any): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(id)
    body
    mx.getThreadAllocatedBytes(id) - before
  }

  private def write(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, bos), s"no $format writer")
    bos.toByteArray
  }

  /** 32768 x 32768 = 2^30 pixels declared in an otherwise valid file.
    * Each file has one byte per pixel (8-bit palette BMP, gray PNG and
    * JPEG), so without the bound the reader could allocate its 1 GiB
    * raster; at three bytes per pixel the raster would exceed the largest
    * Java array and fail on its own. */
  private val Side = 32768

  private def giantBmp: Array[Byte] = {
    val pal = new BufferedImage(7, 5, BufferedImage.TYPE_BYTE_INDEXED)
    val b = write(pal, "bmp")
    assert(b(28) == 8, "not an 8-bpp BMP")
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putInt(18, Side).putInt(22, Side)
    b
  }

  private def giantPng: Array[Byte] = {
    val b = Multimodal.synthPng(2L) // k % 3 == 2: 8-bit gray
    assert(b(25) == 0, "not a gray PNG")
    val bb = ByteBuffer.wrap(b).putInt(16, Side).putInt(20, Side)
    val crc = new java.util.zip.CRC32()
    crc.update(b, 12, 17) // "IHDR" + its 13 data bytes
    bb.putInt(29, crc.getValue.toInt)
    b
  }

  private def giantJpeg: Array[Byte] = {
    val b = Multimodal.synthJpeg(0L) // even k: gray
    val sof = (0 until b.length - 1).find(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc0).get
    assert(b(sof + 9) == 1, "not a one-component JPEG")
    ByteBuffer.wrap(b).putShort(sof + 5, Side.toShort).putShort(sof + 7, Side.toShort)
    b
  }

  test("a forged 2^30-pixel header in each format is null without allocating for it") {
    val (bmp, png, jpeg) = (giantBmp, giantPng, giantJpeg)
    val inputs = Seq(
      "bmp" -> (() => BmpPixels.decode(bmp)),
      "png" -> (() => PngPixels.decode(png)),
      "jpeg" -> (() => JpegPixels.decode(jpeg)),
      "image_pixels bmp" -> (() => ImagePixels.decode(bmp)),
      "image_pixels png" -> (() => ImagePixels.decode(png)),
      "image_pixels jpeg" -> (() => ImagePixels.decode(jpeg)))
    // load the readers and link the decode path first
    assert(BmpPixels.decode(Multimodal.synthBmp(0L)) != null)
    assert(PngPixels.decode(Multimodal.synthPng(0L)) != null)
    assert(JpegPixels.decode(Multimodal.synthJpeg(1L)) != null)
    inputs.foreach { case (what, decode) =>
      decode() // warm this input's own path once
      var out: AnyRef = ""
      val bytes = allocatedBy { out = decode() }
      assert(out == null, what)
      assert(bytes < (1L << 20), s"$what: decoding allocated $bytes bytes")
    }
  }

  test("1,000 decodes leave no new imageio file in java.io.tmpdir") {
    import java.nio.file.{StandardWatchEventKinds => Kinds}
    import scala.jdk.CollectionConverters._
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def cacheFiles: Set[String] =
      Option(tmp.list()).map(_.filter(_.startsWith("imageio")).toSet).getOrElse(Set.empty)
    val payloads = Seq(Multimodal.synthBmp(1L), Multimodal.synthPng(1L), Multimodal.synthJpeg(1L),
      Multimodal.synthJpeg(2L, progressiveDc = true))
    val before = cacheFiles
    def decodeAll(from: Int, until: Int): Unit = for (i <- from until until)
      assert(ImagePixels.decode(payloads(i % payloads.length)) != null, s"decode $i")
    // a cache file is deleted when its stream closes, so also watch the
    // first 100 decodes for one being created at all (a watch key keeps
    // at most 512 events before it reports only an overflow)
    val watcher = tmp.toPath.getFileSystem.newWatchService()
    try {
      tmp.toPath.register(watcher, Kinds.ENTRY_CREATE)
      decodeAll(0, 100)
      val key = watcher.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
      val events = Option(key).toSeq.flatMap(_.pollEvents().asScala)
      val created = events.filter(e =>
        e.kind() == Kinds.OVERFLOW || String.valueOf(e.context()).startsWith("imageio"))
        .map(e => s"${e.kind()} ${e.context()}")
      assert(created.isEmpty)
    } finally watcher.close()
    decodeAll(100, 1000)
    assert((cacheFiles -- before).isEmpty, s"new cache files: ${cacheFiles -- before}")
  }

  test("a d-bit sample maps to the nearest 8-bit level, floor(s*255/(2^d-1) + 1/2)") {
    def level(s: Int, d: Int): Int = math.floor(s * 255.0 / ((1 << d) - 1) + 0.5).toInt
    // 16-bit gray PNG: the values around each rounding boundary
    val v16 = Seq(0, 128, 129, 385, 386, 32767, 32768, 32896, 65407, 65408, 65534, 65535,
      1000, 20000, 50000)
    val img16 = new BufferedImage(v16.length, 1, BufferedImage.TYPE_USHORT_GRAY)
    v16.zipWithIndex.foreach { case (v, x) => img16.getRaster.setSample(x, 0, 0, v) }
    val png16 = write(img16, "png")
    assert(png16(24) == 16 && png16(25) == 0, "not a 16-bit gray PNG")
    val dec16 = PngPixels.decode(png16)
    assert(dec16.toIntArray().toSeq == v16.map(v => level(v, 16) * 0x010101))
    assert(v16.map(level(_, 16)) ==
      Seq(0, 0, 1, 1, 2, 127, 128, 128, 255, 255, 255, 255, 4, 78, 195))
    // 16-bpp 5-5-5 BMP: each 5-bit field rescaled on its own
    val img5 = new BufferedImage(32, 1, BufferedImage.TYPE_USHORT_555_RGB)
    for (s <- 0 until 32)
      img5.getRaster.setPixel(s, 0, Array(s, 31 - s, (s * 7) % 32))
    val bmp5 = write(img5, "bmp")
    assert(bmp5(28) == 16, "not a 16-bpp BMP")
    val dec5 = BmpPixels.decode(bmp5)
    assert(dec5 != null && dec5.numElements() == 32)
    for (s <- 0 until 32)
      assert(dec5.getInt(s) ==
        ((level(s, 5) << 16) | (level(31 - s, 5) << 8) | level((s * 7) % 32, 5)), s"s=$s")
  }
}
