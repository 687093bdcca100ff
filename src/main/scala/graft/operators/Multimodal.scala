package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads are opaque `binary` columns + a typed metadata struct —
  * the Spark-native layout for 100 TB multimodal corpora (payload stays in
  * parquet/columnar storage, metadata prunes without touching bytes).
  *
  * Decode reality, by format: header probes are REAL for PNG/GIF/BMP/JPEG
  * and WAV (round 6, raw header bytes); pixel decode is REAL for BMP, PNG
  * and JPEG (sequential and progressive) through the JDK's
  * `javax.imageio` readers ([[graft.exts.BmpPixels]],
  * [[graft.exts.PngPixels]], [[graft.exts.JpegPixels]]), and sample
  * decode for WAV PCM, feeding genuine channel stats, luminance features
  * and the batched feature path. Only compressed audio/video remain
  * STUBBED with deterministic md5 fakes, clearly marked below
  * (DIVERGENCES.md §8).
  * Everything around the stubs (schema, batching, partition behavior,
  * pipeline shape) is real and tested.
  */
object Multimodal {

  /** Canonical media metadata struct carried alongside every payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image|audio|video
    StructField("format", StringType),       // jpeg|png|wav|mp4|...
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("sample_rate", IntegerType),
    StructField("size_bytes", LongType)))

  /** Wrap a raw binary column into the canonical (payload, meta) pair. */
  def asMedia(payload: Column, mediaType: String, format: String): Column =
    struct(
      payload.as("payload"),
      struct(
        lit(mediaType).as("media_type"), lit(format).as("format"),
        lit(null).cast(IntegerType).as("width"), lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms"), lit(null).cast(IntegerType).as("sample_rate"),
        length(payload).cast(LongType).as("size_bytes")).as("meta"))

  // ------------------------------------------------------------------ STUBS
  // STUB: real implementations need a perceptual-hash or embedding model,
  // or a video container demuxer, none of which graft ships. Each fake is
  // deterministic (derived from the payload bytes via md5, which every
  // oracle engine also implements — so even the stub outputs are
  // cross-engine verifiable) so the distributed plumbing is fully
  // testable end-to-end.

  /** REAL image-header probe (round 6): parses PNG IHDR, GIF screen
    * descriptor, BMP info header, and the JPEG SOF marker walk directly
    * from the payload bytes — no codec library involved, so this part of
    * the decode story is genuine even in this container. Returns
    * struct(width, height, format); null when no signature matches.
    * Codegen'd custom expression; also SQL-registered as `image_header`. */
  def imageHeader(payload: Column): Column = graft.exts.exprs.imageHeader(payload)

  /** REAL WAV/RIFF audio-header probe (round 6): sample rate, channels,
    * bits, and data-chunk-derived duration from the raw header bytes —
    * the audio sibling of [[imageHeader]]. SQL: `audio_header`. */
  def audioHeader(payload: Column): Column = graft.exts.exprs.audioHeader(payload)

  /** REAL BMP pixel decode (the JDK's ImageIO reader): packed 0xRRGGBB
    * ints in top-down row-major order (bottom-up storage and BGR channel
    * order normalized), palettes looked up; null when the reader refuses
    * the payload. SQL: `bmp_pixels`. */
  def bmpPixels(payload: Column): Column = graft.exts.exprs.bmpPixels(payload)

  /** REAL WAV PCM sample decode (round 7): signed sample values,
    * channel-interleaved; 16-bit and 8-bit PCM only. SQL: `wav_samples`. */
  def wavSamples(payload: Column): Column = graft.exts.exprs.wavSamples(payload)

  /** REAL PNG pixel decode (the JDK's ImageIO reader): packed 0xRRGGBB
    * ints, top-down row-major, for every color type, bit depth and
    * interlace (non-8-bit samples to the nearest 8-bit level, alpha
    * dropped); same output contract as [[bmpPixels]] so downstream stats
    * are format-agnostic. SQL: `png_pixels`. */
  def pngPixels(payload: Column): Column = graft.exts.exprs.pngPixels(payload)

  /** REAL JPEG pixel decode (the JDK's ImageIO reader, libjpeg):
    * packed 0xRRGGBB ints for sequential and progressive Huffman 8-bit
    * gray / YCbCr / RGB frames (any chroma subsampling, restart markers);
    * arithmetic / 12-bit / CMYK → null. Same output contract as
    * [[bmpPixels]]. SQL: `jpeg_pixels`. */
  def jpegPixels(payload: Column): Column = graft.exts.exprs.jpegPixels(payload)

  /** Format-sniffing decode over a MIXED payload column — leading magic
    * bytes pick BMP, PNG or JPEG (nothing else), the shape a real crawled
    * corpus has. SQL: `image_pixels`. */
  def imagePixels(payload: Column): Column = graft.exts.exprs.imagePixels(payload)

  /** Per-channel means over REAL decoded BMP pixels — all codegen HOFs
    * over the decoded int array, no UDF in the hot path. */
  def imageChannelStats(payload: Column): Column = {
    val px = bmpPixels(payload)
    val n = size(px)
    def mean(shift: Int) = aggregate(px, lit(0L),
      (acc, p) => acc + shiftright(p, shift).bitwiseAND(lit(255)).cast(LongType))
      .cast(DoubleType) / n
    struct(n.as("n_px"),
      mean(16).as("mean_r"), mean(8).as("mean_g"), mean(0).as("mean_b"))
  }

  /** Integer luminance (BT.601 fixed-point: 299R + 587G + 114B — exact,
    * engine-stable, oracle-reproducible) summed over `nBlocks` contiguous
    * top-down row-major pixel blocks: a REAL spatial feature vector from
    * real pixels. Block j covers indices [j*n/k, (j+1)*n/k). */
  def luminanceBlocks(payload: Column, nBlocks: Int): Column = {
    val px = bmpPixels(payload)
    val n = size(px)
    transform(sequence(lit(0), lit(nBlocks - 1)), j => {
      val start = (j.cast(LongType) * n / nBlocks).cast(IntegerType)
      val end = ((j.cast(LongType) + 1) * n / nBlocks).cast(IntegerType)
      aggregate(slice(px, start + 1, end - start), lit(0L), (acc, p) =>
        acc + (shiftright(p, 16).bitwiseAND(lit(255)) * 299 +
               shiftright(p, 8).bitwiseAND(lit(255)) * 587 +
               p.bitwiseAND(lit(255)) * 114).cast(LongType))
    })
  }

  /** The [[extractFeaturesBatched]] stub-swap made REAL for BMP: same
    * mapPartitions batching shape, but `embedBatch` now decodes actual
    * pixels ([[graft.exts.BmpPixels]]) and emits block-averaged luminance
    * in [0,1] — a genuine (if simple) visual feature. Non-BMP payloads
    * embed to null. */
  def extractFeaturesBmp(df: DataFrame, payloadCol: String,
      dim: Int = 8, batchSize: Int = 64, outputCol: String = "features"): DataFrame =
    extractFeaturesWith(df, payloadCol, graft.exts.BmpPixels.decode, dim, batchSize, outputCol)

  /** [[extractFeaturesBmp]] over a MIXED-format payload column (round
    * 9): the magic-sniffing [[graft.exts.ImagePixels]] dispatcher
    * decodes BMP, PNG and JPEG members in one pass — the shape
    * a crawled corpus has; undecodable payloads embed to null. */
  def extractFeaturesImage(df: DataFrame, payloadCol: String,
      dim: Int = 8, batchSize: Int = 64, outputCol: String = "features"): DataFrame =
    extractFeaturesWith(df, payloadCol, graft.exts.ImagePixels.decode, dim, batchSize, outputCol)

  private def extractFeaturesWith(df: DataFrame, payloadCol: String,
      decode: Array[Byte] => org.apache.spark.sql.catalyst.util.ArrayData,
      dim: Int, batchSize: Int, outputCol: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    require(!df.columns.contains(outputCol), s"column $outputCol already exists")
    val idx = df.schema.fieldIndex(payloadCol)
    val outSchema = StructType(df.schema.fields :+
      StructField(outputCol, ArrayType(FloatType, containsNull = false), nullable = true))

    def embedBatch(payloads: Seq[Array[Byte]]): Seq[Array[Float]] =
      payloads.map { bytes =>
        val arr = decode(bytes)
        if (arr == null) null
        else {
          val n = arr.numElements()
          val out = new Array[Float](dim)
          var j = 0
          while (j < dim) {
            val s = (j.toLong * n / dim).toInt
            val e = ((j + 1).toLong * n / dim).toInt
            var acc = 0L
            var i = s
            while (i < e) {
              val p = arr.getInt(i)
              acc += ((p >> 16) & 255) * 299L + ((p >> 8) & 255) * 587L + (p & 255) * 114L
              i += 1
            }
            // 255*1000 per pixel max → normalize to [0,1]
            out(j) = if (e > s) (acc / (255000.0 * (e - s))).toFloat else 0f
            j += 1
          }
          out
        }
      }

    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val feats = embedBatch(batch.map(_.getAs[Array[Byte]](idx)))
        batch.lazyZip(feats).map((r, f) =>
          Row.fromSeq(r.toSeq :+ (if (f == null) null else f.toSeq)))
      }
    }(Encoders.row(outSchema))
  }

  // ------------------------------------------------- synthetic fixtures
  // Deterministic generators for the two REAL-decode formats: pixel (x,y)
  // and sample i values are closed-form in the key, so a SQL oracle can
  // recompute every decoded statistic without parsing a byte — which is
  // exactly what q72c does to prove the decoders (padding, bottom-up flip,
  // BGR order, sign extension) byte-correct.

  /** 24-bpp bottom-up BMP, width 8+2(k%4), height 6+2(k%3); pixel (x,y):
    * r=(7x+13y+k)%256, g=(3x+5y+2k)%256, b=(11x+17y+3k)%256. */
  def synthBmp(k: Long): Array[Byte] = {
    val w = 8 + (k % 4).toInt * 2
    val h = 6 + (k % 3).toInt * 2
    val rowBytes = (w * 3 + 3) / 4 * 4
    val buf = java.nio.ByteBuffer.allocate(54 + rowBytes * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + rowBytes * h)
      .putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var row = 0
    while (row < h) {
      val y = h - 1 - row // bottom-up storage
      var x = 0
      while (x < w) {
        buf.put(((11 * x + 17 * y + 3 * k) % 256).toByte) // B
        buf.put(((3 * x + 5 * y + 2 * k) % 256).toByte)   // G
        buf.put(((7 * x + 13 * y + k) % 256).toByte)      // R
        x += 1
      }
      var pad = w * 3
      while (pad < rowBytes) { buf.put(0.toByte); pad += 1 }
      row += 1
    }
    buf.array()
  }

  /** 16-bit mono PCM WAV at 8 kHz, 64+16(k%5) samples; sample i =
    * (37i + 11k) % 2048 − 1024. */
  def synthWav(k: Long): Array[Byte] = {
    val n = 64 + (k % 5).toInt * 16
    val buf = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + n * 2).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(n * 2)
    var i = 0
    while (i < n) {
      buf.putShort(((37 * i + 11 * k) % 2048 - 1024).toShort)
      i += 1
    }
    buf.array()
  }

  /** Real PNG (round 8), same closed-form pixel plan as [[synthBmp]] so
    * the q72d oracle recomputes decoded stats without parsing a byte:
    * width 8+2(k%4), height 6+2(k%3); pixel (x,y): r=(7x+13y+k)%256,
    * g=(3x+5y+2k)%256, b=(11x+17y+3k)%256 (grayscale uses the r formula
    * replicated; alpha — dropped by the decoder — is (x+y+k)%256). Color
    * type cycles with k%3 (0→RGB, 1→RGBA, 2→grayscale), every row is
    * filtered with type row%5 so None/Sub/Up/Average/Paeth are ALL
    * exercised, and the zlib stream (a real `java.util.zip.Deflater`
    * stream) is split across two IDAT chunks to exercise concatenation. */
  def synthPng(k: Long): Array[Byte] = {
    val w = 8 + (k % 4).toInt * 2
    val h = 6 + (k % 3).toInt * 2
    val color = (k % 3) match { case 0 => 2; case 1 => 6; case _ => 0 }
    val ch = color match { case 2 => 3; case 6 => 4; case _ => 1 }
    // plain (unfiltered) pixel bytes, top-down
    val stride = w * ch
    val plain = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = y * stride + x * ch
        if (ch == 1) plain(base) = ((7 * x + 13 * y + k) % 256).toByte
        else {
          plain(base) = ((7 * x + 13 * y + k) % 256).toByte
          plain(base + 1) = ((3 * x + 5 * y + 2 * k) % 256).toByte
          plain(base + 2) = ((11 * x + 17 * y + 3 * k) % 256).toByte
          if (ch == 4) plain(base + 3) = ((x + y + k) % 256).toByte
        }
        x += 1
      }
      y += 1
    }
    // filter each row with type y%5 (the inverse of the decoder's pass)
    def u(a: Array[Byte], i: Int) = a(i) & 0xff
    val filtered = new Array[Byte](h * (1 + stride))
    y = 0
    while (y < h) {
      val ft = y % 5
      filtered(y * (1 + stride)) = ft.toByte
      var x = 0
      while (x < stride) {
        val cur = u(plain, y * stride + x)
        val a = if (x >= ch) u(plain, y * stride + x - ch) else 0
        val up = if (y > 0) u(plain, (y - 1) * stride + x) else 0
        val c = if (y > 0 && x >= ch) u(plain, (y - 1) * stride + x - ch) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => up
          case 3 => (a + up) >> 1
          case 4 =>
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
        }
        filtered(y * (1 + stride) + 1 + x) = ((cur - pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    // zlib-compress the filtered scanlines
    val defl = new java.util.zip.Deflater()
    defl.setInput(filtered); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val z = zbuf.toByteArray
    // assemble: signature, IHDR, two IDATs (split stream), IEND
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
      out.write(len)
      val body = typ.getBytes ++ data
      out.write(body)
      val crc = new java.util.zip.CRC32(); crc.update(body)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(color.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    chunk("IHDR", ihdr)
    val cut = z.length / 2
    chunk("IDAT", z.slice(0, cut))
    chunk("IDAT", z.slice(cut, z.length))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Deterministic baseline JPEG synthesizer for q72e and the decode
    * specs. Blocks are DC-only (all AC zero) over a FLAT quantization
    * table of 8, so dequantized DC = dc·8 and the 8x8 inverse DCT of a
    * DC-only block is the single closed-form value dc·8/8 + 128 = dc+128
    * for EVERY pixel of the block — the oracle recomputes each statistic
    * from that formula without parsing a byte. Even k → grayscale; odd
    * k → 3-component YCbCr 4:4:4 (flat per-block chroma). `subsample`
    * switches the color variant to 4:2:0 (2x2 Y blocks per MCU, chroma
    * at half resolution and flat per MCU, so only pixels on an MCU edge
    * depend on how the decoder upsamples chroma); `restartEvery`
    * inserts DRI/RSTn markers. Optional `acPattern` adds one size-1 AC
    * coefficient per Y block (for the spec's independent-IDCT
    * cross-check) — oracle queries keep it 0. `progressiveDc` writes
    * the same coefficients as a complete progressive (SOF2) scan
    * script. */
  def synthJpeg(k: Long, subsample: Boolean = false, restartEvery: Int = 0,
      acPattern: Boolean = false, progressiveDc: Boolean = false): Array[Byte] = {
    val color = (k % 2) == 1
    val useSub = subsample && color
    val mcuSide = if (useSub) 16 else 8
    val mcusX = 2 + (k % 3).toInt // 2..4 MCUs across
    val mcusY = 2 + (k % 2).toInt // 2..3 MCUs down
    val w = mcusX * mcuSide; val h = mcusY * mcuSide
    val nc = if (color) 3 else 1

    // closed-form per-block DC values, shared with the oracle SQL
    def dcY(bx: Int, by: Int): Int = ((7 * bx + 13 * by + k) % 151).toInt - 75
    def dcCb(mx: Int, my: Int): Int = ((mx + 2 * my + k) % 41).toInt - 20
    def dcCr(mx: Int, my: Int): Int = ((3 * mx + my + 2 * k) % 37).toInt - 18

    // canonical Huffman code assignment from (counts, symbols) — the
    // same construction the decoder's spec algorithm inverts
    def codes(counts: Array[Int], symbols: Array[Int]): Map[Int, (Int, Int)] = {
      var code = 0; var si = 0
      val m = scala.collection.mutable.Map[Int, (Int, Int)]()
      var l = 1
      while (l <= 16) {
        var c = 0
        while (c < counts(l - 1)) { m(symbols(si)) = (code, l); code += 1; si += 1; c += 1 }
        code <<= 1
        l += 1
      }
      m.toMap
    }
    val dcCounts = Array(0, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val dcSyms = (0 to 11).toArray
    val acCounts = Array(0, 0, 0, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val acSyms = Array(0x00, 0x01, 0x11, 0x21) // EOB + (run 0..2, size 1)
    val dcCode = codes(dcCounts, dcSyms)
    val acCode = codes(acCounts, acSyms)

    val out = new java.io.ByteArrayOutputStream()
    def b2(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def seg(marker: Int, payload: Array[Int]): Unit = {
      b2(0xff00 | marker); b2(payload.length + 2); payload.foreach(out.write)
    }
    b2(0xffd8) // SOI
    seg(0xdb, Array(0x00) ++ Array.fill(64)(8)) // DQT: flat 8
    val sofComps = (0 until nc).flatMap { c =>
      val sampling = if (useSub && c == 0) 0x22 else 0x11
      Seq(c + 1, sampling, 0)
    }
    // progressive variant: SOF2 frame, one interleaved DC-only scan
    // (Ss=Se=0, Ah=Al=0) whose entropy coding is sequential's, then one
    // all-EOB AC scan per component (Ss=1, Se=63) — a complete scan
    // script, so every AC coefficient is known to be 0 and the pixels
    // are the same closed-form dc+128 (a decoder may estimate AC values
    // a file never sends: libjpeg's block smoothing does)
    seg(if (progressiveDc) 0xc2 else 0xc0,
      Array(8, (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, nc) ++ sofComps)
    seg(0xc4, Array(0x00) ++ dcCounts ++ dcSyms ++ Array(0x10) ++ acCounts ++ acSyms)
    if (restartEvery > 0) seg(0xdd, Array((restartEvery >> 8) & 0xff, restartEvery & 0xff))

    // entropy writer with FF-stuffing
    var acc = 0; var nbits = 0
    def putBits(v: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); nbits += 1
        if (nbits == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.write(0x00)
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    def flushBits(): Unit = if (nbits > 0) {
      val pad = (acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)
      out.write(pad & 0xff)
      if ((pad & 0xff) == 0xff) out.write(0x00)
      acc = 0; nbits = 0
    }
    def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    def putDc(diff: Int): Unit = {
      val t = if (diff == 0) 0 else category(diff)
      val (c, l) = dcCode(t); putBits(c, l)
      if (t > 0) putBits(if (diff < 0) diff + (1 << t) - 1 else diff, t)
    }
    def putAc(sym: Int, value: Int): Unit = {
      val (c, l) = acCode(sym); putBits(c, l)
      val s = sym & 15
      if (s > 0) putBits(if (value < 0) value + (1 << s) - 1 else value, s)
    }
    val pred = new Array[Int](nc)
    // one scan's entropy data: `units` MCUs, an RSTn marker (and a DC
    // prediction reset) before every restartEvery-th
    def scan(units: Int)(unit: Int => Unit): Unit = {
      var rst = 0
      var u = 0
      while (u < units) {
        if (restartEvery > 0 && u > 0 && u % restartEvery == 0) {
          flushBits(); b2(0xffd0 + rst); rst = (rst + 1) & 7
          java.util.Arrays.fill(pred, 0)
        }
        unit(u)
        u += 1
      }
      flushBits()
    }
    seg(0xda, Array(nc) ++ (0 until nc).flatMap(c => Seq(c + 1, 0x00)) ++
      (if (progressiveDc) Array(0, 0, 0) else Array(0, 63, 0)))
    scan(mcusX * mcusY) { mcu =>
      val mx = mcu % mcusX; val my = mcu / mcusX
      var c = 0
      while (c < nc) {
        val blocks = if (useSub && c == 0) Seq((0, 0), (1, 0), (0, 1), (1, 1)) else Seq((0, 0))
        for ((bx, by) <- blocks) {
          val dc = c match {
            case 0 =>
              val gx = if (useSub) mx * 2 + bx else mx
              val gy = if (useSub) my * 2 + by else my
              dcY(gx, gy)
            case 1 => dcCb(mx, my)
            case 2 => dcCr(mx, my)
          }
          putDc(dc - pred(c)); pred(c) = dc
          if (!progressiveDc) {
            if (acPattern && c == 0) putAc(0x11, if ((mx + my) % 2 == 0) 1 else -1)
            putAc(0x00, 0) // EOB — a progressive DC scan carries no AC
          }
        }
        c += 1
      }
    }
    if (progressiveDc) for (c <- 0 until nc) {
      // non-interleaved: one data unit per MCU, over this component's grid
      val side = if (useSub && c == 0) 2 else 1
      seg(0xda, Array(1, c + 1, 0x00, 1, 63, 0))
      scan(mcusX * side * mcusY * side)(_ => putAc(0x00, 0))
    }
    b2(0xffd9) // EOI
    out.toByteArray
  }

  /** STUB image decode → (width, height, channels) header probe. A real
    * implementation parses the format header (pure-JVM for JPEG/PNG —
    * that part is now REAL in [[imageHeader]]; this md5 fake remains for
    * the oracle-checked q72 plumbing over synthetic payloads). */
  def probeImageDims(payload: Column): Column = struct(
    (pmod(Dedup.md5Hash28(payload), lit(1920L)) + 1L).cast(IntegerType).as("width"),
    (pmod(Dedup.md5Hash28(concat(payload, lit("h").cast(BinaryType))), lit(1080L)) + 1L)
      .cast(IntegerType).as("height"),
    lit(3).as("channels"))

  /** STUB perceptual hash (would be DCT over decoded pixels); here a
    * deterministic md5-derived 64-bit digest so dedup-by-phash plumbing
    * runs (and oracles can reproduce it). */
  def perceptualHash(payload: Column): Column = Dedup.md5Hash64(payload)

  /** STUB feature extraction via mapPartitions-shaped batching: returns a
    * fixed-length float vector derived deterministically from the bytes.
    * The real path swaps `fakeEmbed` for an ONNX/JNI batch call — the
    * batching, schema, and partitioning stay identical. */
  def extractFeatures(df: DataFrame, payloadCol: String, dim: Int = 8): DataFrame = {
    val fakeEmbed = transform(
      sequence(lit(0), lit(dim - 1)),
      i => (pmod(Dedup.md5Hash28(concat(col(payloadCol), i.cast(StringType).cast(BinaryType))),
        lit(1000L)).cast("double") / 500.0) - 1.0)
    df.withColumn("features", fakeEmbed)
  }

  /** Batched feature extraction through `mapPartitions` — the Scala
    * analogue of the reference's `mapInPandas` path (SURVEY.md §2.4 UDF
    * surface): rows stream through in `batchSize` groups, ONE model
    * invocation per batch (amortizing JNI/ONNX call overhead), iterator-in/
    * iterator-out so no partition is materialized in memory. STUB: the
    * per-batch "model" is a deterministic murmur-hash embedding; a real
    * deployment swaps only the `embedBatch` body. */
  def extractFeaturesBatched(df: DataFrame, payloadCol: String,
      dim: Int = 8, batchSize: Int = 64, outputCol: String = "features"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    require(!df.columns.contains(outputCol), s"column $outputCol already exists")
    val idx = df.schema.fieldIndex(payloadCol)
    val outSchema = StructType(df.schema.fields :+
      StructField(outputCol, ArrayType(FloatType, containsNull = false), nullable = false))

    // STUB model call: batch of payloads -> batch of embeddings. Same
    // md5-derived formula as extractFeatures so the two code paths (pure
    // expression vs mapPartitions batch) are mutually checkable AND both
    // reproducible by an md5-capable oracle engine.
    def embedBatch(payloads: Seq[Array[Byte]]): Seq[Array[Float]] =
      payloads.map { bytes =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        Array.tabulate(dim) { i =>
          digest.reset()
          digest.update(bytes)
          digest.update(i.toString.getBytes("UTF-8"))
          val hex = digest.digest().take(4).map(b => f"${b & 0xff}%02x").mkString.take(7)
          val h = java.lang.Long.parseLong(hex, 16)
          ((h % 1000L) / 500.0 - 1.0).toFloat
        }
      }

    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val feats = embedBatch(batch.map(_.getAs[Array[Byte]](idx)))
        batch.lazyZip(feats).map((r, f) => Row.fromSeq(r.toSeq :+ f.toSeq))
      }
    }(Encoders.row(outSchema))
  }

  /** STUB video frame sampling: emits (frame_idx, frame_payload) rows every
    * `everyMs`. Real impl: container demux per partition; here frames are
    * byte-slices so the explode/partition shape is real. */
  def sampleFrames(df: DataFrame, payloadCol: String, durationMsCol: String, everyMs: Long): DataFrame =
    df.withColumn("frame_idx",
        explode(sequence(lit(0L), greatest((col(durationMsCol) / everyMs).cast("long") - 1, lit(0L)))))
      .withColumn("frame_payload",
        col(payloadCol).substr((col("frame_idx") * 16 + 1).cast("int"), lit(16)))
}
