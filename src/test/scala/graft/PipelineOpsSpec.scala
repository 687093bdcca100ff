package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, Skew, TextAnalysis}

class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),   // near-dup of 1
    (3L, "completely different content about spark query engines and columnar io"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("repeatedSpans finds cross-doc duplicated windows and merges overlaps") {
    // docs 1 and 2 share the 12-token prefix; doc 3 shares nothing 4-gram-long
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", w = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[org.apache.spark.sql.Row](1).map(s => (s.getInt(0), s.getInt(1)))).toMap
    // 14 tokens; doc 2 diverges at token 13 ("now"), so its final window
    // [10,14) is unique while windows 0..9 recur in docs 1/4 → merged span
    // [0,13). Docs 1 and 4 are identical → every window recurs → [0,14).
    assert(spans(1L) == Seq((0, 14)))
    assert(spans(2L) == Seq((0, 13)))
    assert(spans(4L) == Seq((0, 14)))
    assert(!spans.contains(3L))
  }

  test("stripRepeatedSpans removes covered tokens, keeps clean docs verbatim") {
    val out = Dedup.stripRepeatedSpans(docs, "doc_id", "text", w = 4)
      .select("doc_id", "clean_text", "n_removed_tokens")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L)._1 == "" && out(1L)._2 == 14L)
    assert(out(2L) == (("now", 13L)))
    assert(out(3L)._2 == 0L &&
      out(3L)._1 == "completely different content about spark query engines and columnar io")
    assert(out.size == 4) // every input row returned
  }

  test("stripRepeatedSpans with minDocs above corpus multiplicity is a no-op") {
    val out = Dedup.stripRepeatedSpans(docs, "doc_id", "text", w = 4, minDocs = 4)
    assert(out.filter(col("n_removed_tokens") > 0).count() == 0)
  }

  test("stripRepeatedSpans matches a brute-force reference on random corpora") {
    val rnd = new scala.util.Random(20260814L)
    val vocab = Array("a", "b", "c", "d")
    for (trial <- 1 to 5) {
      val w = 2 + rnd.nextInt(3) // 2..4
      val corpus = (0 until 25).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(18))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      // brute force: window string -> set of docs; covered token positions
      val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val where = scala.collection.mutable.Map.empty[String, Set[Long]]
      for ((id, ts) <- toks; i <- 0 to ts.length - w)
        where(ts.slice(i, i + w).mkString(" ")) =
          where.getOrElse(ts.slice(i, i + w).mkString(" "), Set.empty) + id
      val expected = corpus.map { case (id, _) =>
        val ts = toks(id)
        val covered = Array.fill(ts.length)(false)
        for (i <- 0 to ts.length - w
             if where(ts.slice(i, i + w).mkString(" ")).size >= 2;
             j <- i until i + w) covered(j) = true
        val kept = ts.zipWithIndex.collect { case (t, j) if !covered(j) => t }
        id -> (kept.mkString(" "), covered.count(identity).toLong)
      }.toMap
      val got = Dedup.stripRepeatedSpans(
          corpus.toDF("doc_id", "text"), "doc_id", "text", w = w)
        .select("doc_id", "clean_text", "n_removed_tokens")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got == expected, s"trial $trial (w=$w) diverged from brute force")
    }
  }

  test("phrase filter: join path finds token-boundary phrases; filterOut and fast path agree") {
    val phrases = Seq("quick brown fox", "river bank", "columnar io", "absent phrase").toDF("phrase")
    val m = graft.operators.PhraseFilter.matches(docs, "doc_id", "text", phrases)
      .as[(Long, String)].collect().toSet
    assert(m == Set(
      (1L, "quick brown fox"), (2L, "quick brown fox"), (4L, "quick brown fox"),
      (1L, "river bank"), (2L, "river bank"), (4L, "river bank"),
      (3L, "columnar io")))
    val kept = graft.operators.PhraseFilter.filterOut(
      docs, "doc_id", "text", Seq("columnar io").toDF("phrase"))
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    val fast = docs.filter(
      graft.operators.PhraseFilter.containsAnyPhrase(col("text"), Seq("river bank", "nope")))
    assert(fast.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // partial-token text must NOT match ("rows" does not contain phrase "row")
    val part = Seq((9L, "rows flowing")).toDF("doc_id", "text")
    assert(graft.operators.PhraseFilter.matches(
      part, "doc_id", "text", Seq("row").toDF("phrase")).count() == 0)
  }

  test("dedupSegmentsWithinDoc keeps first occurrences in order, map-side") {
    val d = Seq((1L, "alpha beta\n\nGamma\n\nalpha beta\n\ndelta\n\ngamma")).toDF("id", "text")
    val out = d.select(TextAnalysis.dedupSegmentsWithinDoc(col("text"))).head().getString(0)
    // 'alpha beta' repeat dropped; 'gamma' dropped (case-insensitive match
    // with 'Gamma'); originals keep their text and order
    assert(out == "alpha beta\n\nGamma\n\ndelta")
    assert(d.select(TextAnalysis.dedupSegmentsWithinDoc(lit(""))).head().getString(0) == "")
  }

  test("hotKeys surfaces the dominant key with near-exact count") {
    val d = (1 to 900).map(_ => "hot") ++ (1 to 50).map(i => s"k$i")
    val out = Skew.hotKeys(d.toDF("k"), col("k"), k = 3, capacity = 256)
      .as[(String, Long)].collect()
    assert(out.head._1 == "hot")
    // undercount bound: n/(capacity+1) = 950/257 < 4
    assert(out.head._2 >= 900 - 4 && out.head._2 <= 900)
  }

  test("lshParams picks the factor pair with inflection nearest the threshold") {
    val (b, r) = Dedup.lshParams(0.5, 128)
    assert(b * r == 128)
    val t = math.pow(1.0 / b, 1.0 / r)
    // every other factorization must be no closer
    for (b2 <- 1 to 128 if 128 % b2 == 0) {
      val t2 = math.pow(1.0 / b2, 1.0 / (128 / b2))
      assert(math.abs(t - 0.5) <= math.abs(t2 - 0.5))
    }
    // extremes: tiny threshold wants many bands, high threshold few
    assert(Dedup.lshParams(0.05, 64)._1 > Dedup.lshParams(0.95, 64)._1)
  }

  test("exact dedup keeps first by order column") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("exact dedup fast path (payload ⊆ keys+ord) matches the struct path incl. null ords") {
    // when every column is a group key or the ordering column, exact()
    // degenerates to a plain min HashAggregate; results must equal the
    // full-row min_by formulation, including groups whose ord is all-null
    val d = Seq(
      ("a", "x", Some(3L)), ("a", "x", Some(1L)), ("a", "y", Some(2L)),
      ("b", "x", None), ("b", "x", None),          // all-null ord group
      ("b", "y", None), ("b", "y", Some(7L)))      // mixed-null group
      .toDF("k1", "k2", "ord")
    val fast = Dedup.exact(d, Seq("k1", "k2"), "ord")
      .collect().map(r => (r.getString(0), r.getString(1), Option(r.get(2)))).toSet
    // reference: the general path, forced by a payload column, then pruned
    val general = Dedup.exact(d.withColumn("pay", concat(col("k1"), col("k2"))),
        Seq("k1", "k2"), "ord")
      .select("k1", "k2", "ord")
      .collect().map(r => (r.getString(0), r.getString(1), Option(r.get(2)))).toSet
    assert(fast == general)
    assert(fast == Set(("a", "x", Some(1L)), ("a", "y", Some(2L)),
      ("b", "x", None), ("b", "y", Some(7L))))
    // orderCol that is ALSO a group key: aliasing min(ord) as ord would
    // duplicate the column name (review finding) — distinct path instead
    val kd = Seq(("a", 1L), ("a", 1L), ("a", 2L), ("b", 1L)).toDF("k", "ord")
    val dedup = Dedup.exact(kd, Seq("k", "ord"), "ord")
    assert(dedup.columns.toSeq == Seq("k", "ord"))
    assert(dedup.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 1L), ("a", 2L), ("b", 1L)))
  }

  test("scatter spreads unsplittable-compressed sources by file count, not byte estimate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gz").toFile
    // one gzip json file = one scan task regardless of its byte size
    val gz = new java.io.File(dir, "docs.json.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    (1 to 5000).foreach { i =>
      out.write(s"""{"id":$i,"text":"document number $i with some words"}\n""".getBytes) }
    out.close()
    val df = spark.read.json(dir.getAbsolutePath)
    val scattered = graft.operators.Dedup.scatter(df)
    assert(scattered.rdd.getNumPartitions >=
      spark.sparkContext.defaultParallelism,
      "gzip source must be spread across the cluster before CPU-heavy stages")
    // parquet stays un-scattered when its byte estimate says enough splits
    gz.delete(); dir.delete()
  }

  test("exactGroups finds the duplicate group with sorted members") {
    val g = Dedup.exactGroups(docs, "doc_id", col("text")).collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("keeper_id") == 1L)
    assert(g.head.getAs[scala.collection.Seq[Long]]("member_ids").toSeq == Seq(1L, 4L))
  }

  test("imageHeader parses real PNG/GIF/BMP/JPEG header bytes; unknown -> null") {
    import java.nio.ByteBuffer
    // minimal VALID headers synthesized byte-for-byte per format spec
    def png(w: Int, h: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(24)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      b.putInt(13); b.put("IHDR".getBytes); b.putInt(w); b.putInt(h)
      b.array()
    }
    def gif(w: Int, h: Int): Array[Byte] =
      "GIF89a".getBytes ++ Array((w & 0xff).toByte, (w >> 8).toByte,
        (h & 0xff).toByte, (h >> 8).toByte)
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte)
      b.position(14); b.putInt(40) // BITMAPINFOHEADER size
      b.putInt(w); b.putInt(-h) // top-down negative height
      b.array()
    }
    def bmpCore(w: Int, h: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(22).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte)
      b.position(14); b.putInt(12) // OS/2 BITMAPCOREHEADER: uint16 dims
      b.putShort(w.toShort); b.putShort(h.toShort)
      b.array()
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val app0 = Array(0xff, 0xe0, 0x00, 0x10).map(_.toByte) ++ new Array[Byte](14)
      val sof0 = Array(0xff, 0xc0, 0x00, 0x11, 0x08,
        (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, 3).map(_.toByte)
      Array(0xff.toByte, 0xd8.toByte) ++ app0 ++ sof0 ++ new Array[Byte](10)
    }
    val rows = Seq(
      ("png", png(640, 480)), ("gif", gif(320, 200)),
      ("bmp", bmp(1024, 768)), ("bmpcore", bmpCore(100, 50)),
      ("jpeg", jpeg(1920, 1080)),
      ("junk", "not an image at all".getBytes))
      .toDF("tag", "payload")
    val out = rows.select(col("tag"),
        graft.operators.Multimodal.imageHeader(col("payload")).as("hdr"))
      .collect().map { r =>
        val h = r.getStruct(1)
        r.getString(0) -> Option(h).map(s => (s.getInt(0), s.getInt(1), s.getString(2)))
      }.toMap
    assert(out("png") == Some((640, 480, "png")))
    assert(out("gif") == Some((320, 200, "gif")))
    assert(out("bmp") == Some((1024, 768, "bmp")))
    assert(out("bmpcore") == Some((100, 50, "bmp")))
    assert(out("jpeg") == Some((1920, 1080, "jpeg")))
    assert(out("junk") == None)
    // SQL-registered variant agrees
    rows.createOrReplaceTempView("imgs")
    val sql = spark.sql("SELECT image_header(payload).format f FROM imgs WHERE tag='png'")
    assert(sql.head().getString(0) == "png")
  }

  test("header probes never throw on arbitrary or truncated bytes") {
    import graft.exts.{AudioHeader, ImageHeader}
    val rnd = new scala.util.Random(42)
    for (len <- Seq(0, 1, 5, 9, 10, 23, 35, 36, 50, 200); _ <- 1 to 50) {
      val b = Array.fill(len)(rnd.nextInt(256).toByte)
      ImageHeader.probe(b); AudioHeader.probe(b) // parse-or-null, never throw
    }
    // adversarial: valid signatures with truncated/garbage bodies
    val sigs = Seq(
      "GIF89a".getBytes("ISO-8859-1"),
      ("RIFF\u0000\u0000\u0000\u0000WAVE").getBytes("ISO-8859-1"),
      "BM".getBytes("ISO-8859-1"),
      Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte),
      Array(0xff, 0xd8).map(_.toByte))
    for (sig <- sigs; pad <- 0 to 48) {
      val b = sig ++ Array.fill(pad)(rnd.nextInt(256).toByte)
      ImageHeader.probe(b); AudioHeader.probe(b)
    }
    // null payload through the expression is null, not an NPE
    val out = Seq((1L, Option.empty[Array[Byte]])).toDF("id", "p")
      .select(graft.operators.Multimodal.imageHeader(col("p"))).head()
    assert(out.isNullAt(0))
    // adversarial WAV chunk size near 0xFFFFFFFF: an Int cursor would wrap
    // negative and index out of bounds (review finding) — must return
    // parse-or-null, not throw
    for (szBytes <- Seq(
        Array(0xff, 0xff, 0xff, 0x7f), // Int.MaxValue
        Array(0xec, 0xff, 0xff, 0x7f), // MaxValue - 19
        Array(0xff, 0xff, 0xff, 0xff))) { // uint32 max
      val evil = "RIFF".getBytes ++ Array.fill(4)(0.toByte) ++ "WAVE".getBytes ++
        "junk".getBytes ++ szBytes.map(_.toByte) ++ Array.fill(24)(0.toByte)
      AudioHeader.probe(evil) // must not throw
    }
  }

  test("header probes never return a wrong number: short fmt chunk, PNG without a leading IHDR") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.exts.{AudioHeader, ImageHeader, WavSamples}
    // RIFF/WAVE + a `fmt ` chunk declaring 0 bytes + a 16-byte data chunk:
    // the fmt fields would be read from the data chunk's bytes
    val data = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      .putShort(1).putShort(3).putInt(24948).putInt(96).putShort(2).putShort(16).array()
    val wav = ByteBuffer.allocate(12 + 8 + 8 + 16).order(ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes).putInt(4 + 8 + 8 + 16).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(0)
      .put("data".getBytes).putInt(16).put(data).array()
    assert(AudioHeader.probe(wav) == null)
    assert(WavSamples.decode(wav) == null)
    // the same fields in a well-formed fmt chunk are read as before
    val ok = ByteBuffer.allocate(12 + 24 + 8).order(ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes).putInt(4 + 24 + 8).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16).put(data)
      .put("data".getBytes).putInt(0).array()
    val r = AudioHeader.probe(ok)
    assert(r != null && r.getInt(0) == 24948 && r.getInt(1) == 3 && r.getInt(2) == 16)
    // PNG: the first chunk must be a 13-byte IHDR
    def png(len: Int, tag: String): Array[Byte] = {
      val b = ByteBuffer.allocate(33)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      b.putInt(len); b.put(tag.getBytes); b.putInt(640); b.putInt(480)
      b.array()
    }
    assert(ImageHeader.probe(png(13, "IHDR")).getInt(0) == 640)
    assert(ImageHeader.probe(png(13, "tEXt")) == null)
    assert(ImageHeader.probe(png(12, "IHDR")) == null)
  }

  test("bmp_pixels decodes real pixels: flip, BGR order, padding, variants; never throws") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.exts.BmpPixels
    import graft.operators.Multimodal

    def px(arr: org.apache.spark.sql.catalyst.util.ArrayData, w: Int, x: Int, y: Int): Int =
      arr.getInt(y * w + x)
    // the synthesized bottom-up BMP decodes to the closed-form top-down values
    val k = 3L
    val w = 8 + (k % 4).toInt * 2; val h = 6 + (k % 3).toInt * 2
    val dec = BmpPixels.decode(Multimodal.synthBmp(k))
    assert(dec != null && dec.numElements() == w * h)
    for (x <- Seq(0, 1, w - 1); y <- Seq(0, 1, h - 1)) {
      val r = (7 * x + 13 * y + k) % 256
      val g = (3 * x + 5 * y + 2 * k) % 256
      val b = (11 * x + 17 * y + 3 * k) % 256
      assert(px(dec, w, x, y) == ((r << 16) | (g << 8) | b).toInt,
        s"pixel ($x,$y)")
    }

    // a TOP-DOWN (negative height) 32-bpp BITMAPINFOHEADER variant with
    // the same logical pixels decodes identically — flip and stride paths
    def bmp32TopDown(): Array[Byte] = {
      val buf = ByteBuffer.allocate(54 + w * h * 4).order(ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(54 + w * h * 4).putInt(0).putInt(54)
      buf.putInt(40).putInt(w).putInt(-h).putShort(1).putShort(32)
        .putInt(0).putInt(w * h * 4).putInt(2835).putInt(2835).putInt(0).putInt(0)
      for (y <- 0 until h; x <- 0 until w) { // stored top-down directly
        buf.put(((11 * x + 17 * y + 3 * k) % 256).toByte)
          .put(((3 * x + 5 * y + 2 * k) % 256).toByte)
          .put(((7 * x + 13 * y + k) % 256).toByte)
          .put(0xff.toByte) // alpha ignored
      }
      buf.array()
    }
    val dec32 = BmpPixels.decode(bmp32TopDown())
    assert(dec32 != null &&
      dec32.toIntArray().sameElements(dec.toIntArray()))

    // OS/2 BITMAPCOREHEADER, 24-bpp, 2x2 (still bottom-up, still padded)
    def bmpCore(): Array[Byte] = {
      val rowBytes = (2 * 3 + 3) / 4 * 4
      val buf = ByteBuffer.allocate(26 + rowBytes * 2).order(ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(26 + rowBytes * 2).putInt(0).putInt(26)
      buf.putInt(12).putShort(2).putShort(2).putShort(1).putShort(24)
      // file rows bottom-up: y=1 first — pixels (x,y) value = 10x+y packed in blue
      for (y <- Seq(1, 0)) {
        for (x <- 0 until 2) buf.put((10 * x + y).toByte).put(0.toByte).put(0.toByte)
        buf.put(0.toByte).put(0.toByte) // pad to 8
      }
      buf.array()
    }
    val core = BmpPixels.decode(bmpCore())
    assert(core != null && core.numElements() == 4)
    assert(Seq(px(core, 2, 0, 0), px(core, 2, 1, 0), px(core, 2, 0, 1), px(core, 2, 1, 1)) ==
      Seq(0, 10, 1, 11))

    // palette BMPs, stored plain and RLE8-compressed, decode to their
    // source image exactly (palette looked up)
    val pal = new java.awt.image.BufferedImage(7, 5, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (x <- 0 until 7; y <- 0 until 5) pal.setRGB(x, y, ((x * 40) << 16) | ((y * 60) << 8) | 0x33)
    def bmpOf(compression: Option[String]): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("bmp").next()
      val param = writer.getDefaultWriteParam
      compression.foreach { c =>
        param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionType(c)
      }
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(pal, null, null), param)
      ios.close(); writer.dispose()
      bos.toByteArray
    }
    for ((what, bytes, compression) <- Seq(
        ("palette", bmpOf(None), 0), ("rle8", bmpOf(Some("BI_RLE8")), 1))) {
      assert(bytes(28) == 8 && bytes(30) == compression, s"$what: not an 8-bpp BMP")
      val d = BmpPixels.decode(bytes)
      assert(d != null && d.numElements() == 35, what)
      for (x <- 0 until 7; y <- 0 until 5)
        assert(px(d, 7, x, y) == (pal.getRGB(x, y) & 0xffffff), s"$what ($x,$y)")
    }

    // refusals: forged giant dims, truncation, random garbage
    val giant = Multimodal.synthBmp(0L).clone()
    giant(18) = 0xff.toByte; giant(19) = 0xff.toByte; giant(20) = 0xff.toByte
    assert(BmpPixels.decode(giant) == null) // width bytes forged huge
    val whole = Multimodal.synthBmp(3L)
    assert(BmpPixels.decode(whole.take(whole.length - 5)) == null) // last row cut short
    val rnd = new scala.util.Random(7)
    for (len <- Seq(0, 2, 14, 26, 54, 100); _ <- 1 to 40) {
      val b = Array.fill(len)(rnd.nextInt(256).toByte)
      BmpPixels.decode(b) // parse-or-null, never throw
      if (len >= 2) { b(0) = 'B'; b(1) = 'M'; BmpPixels.decode(b) }
    }
  }

  test("wav_samples decodes PCM: sign extension, 8-bit centering, stereo, truncation") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.exts.WavSamples
    import graft.operators.Multimodal

    val k = 2L
    val n = 64 + (k % 5).toInt * 16
    val dec = WavSamples.decode(Multimodal.synthWav(k))
    assert(dec != null && dec.numElements() == n)
    for (i <- Seq(0, 1, n - 1))
      assert(dec.getInt(i) == ((37 * i + 11 * k) % 2048 - 1024).toInt, s"sample $i")

    def wav(bits: Int, ch: Int, fmt: Int, samples: Seq[Int]): Array[Byte] = {
      val bytesPer = bits / 8
      val buf = ByteBuffer.allocate(44 + samples.length * bytesPer)
        .order(ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + samples.length * bytesPer).put("WAVE".getBytes)
      buf.put("fmt ".getBytes).putInt(16).putShort(fmt.toShort).putShort(ch.toShort)
        .putInt(8000).putInt(8000 * ch * bytesPer).putShort((ch * bytesPer).toShort)
        .putShort(bits.toShort)
      buf.put("data".getBytes).putInt(samples.length * bytesPer)
      samples.foreach { s =>
        if (bits == 16) buf.putShort(s.toShort) else buf.put(s.toByte)
      }
      buf.array()
    }
    // 16-bit stereo: interleaved, sign-extended
    val st = WavSamples.decode(wav(16, 2, 1, Seq(-32768, 32767, -1, 5)))
    assert(st.toIntArray().toSeq == Seq(-32768, 32767, -1, 5))
    // 8-bit is stored unsigned, centered on decode
    val b8 = WavSamples.decode(wav(8, 1, 1, Seq(0, 128, 255)))
    assert(b8.toIntArray().toSeq == Seq(-128, 0, 127))
    // IEEE-float WAV (fmt 3) is not PCM: null, never garbage
    assert(WavSamples.decode(wav(16, 1, 3, Seq(1, 2))) == null)
    // truncated data chunk: decode what is physically there
    val full = wav(16, 1, 1, Seq(1, 2, 3, 4))
    assert(WavSamples.decode(full.take(full.length - 4)).numElements() == 2)
    val rnd = new scala.util.Random(11)
    for (len <- Seq(0, 12, 44, 80); _ <- 1 to 40)
      WavSamples.decode(Array.fill(len)(rnd.nextInt(256).toByte)) // never throw
  }

  test("png_pixels: closed form over all five row filters, source images, palette/16-bit/Adam7; never throws") {
    import java.awt.image.BufferedImage
    import graft.exts.PngPixels
    import graft.operators.Multimodal

    // closed-form check across color types (k%3: RGB, RGBA, gray) — every
    // synth row is filtered with type row%5, so None/Sub/Up/Average/Paeth
    // are all on the decode path
    def closed(k: Long, x: Int, y: Int): Int = {
      val gray = k % 3 == 2
      val r = (7 * x + 13 * y + k) % 256
      val g = if (gray) r else (3 * x + 5 * y + 2 * k) % 256
      val b = if (gray) r else (11 * x + 17 * y + 3 * k) % 256
      ((r << 16) | (g << 8) | b).toInt
    }
    for (k <- 0L to 8L) {
      val w = 8 + (k % 4).toInt * 2; val h = 6 + (k % 3).toInt * 2
      val dec = PngPixels.decode(Multimodal.synthPng(k))
      assert(dec != null && dec.numElements() == w * h, s"k=$k")
      for (x <- 0 until w; y <- 0 until h)
        assert(dec.getInt(y * w + x) == closed(k, x, y), s"k=$k pixel ($x,$y)")
    }

    // PNGs that ImageIO's writer encodes from a source image (its own
    // filters and deflate strategy): plain RGB, Adam7-interlaced RGB and
    // 8-bit palette all decode to the source exactly
    def png(src: BufferedImage, interlace: Boolean): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val param = writer.getDefaultWriteParam
      if (interlace) param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(src, null, null), param)
      ios.close(); writer.dispose()
      bos.toByteArray
    }
    val rgb = new BufferedImage(23, 9, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 23; y <- 0 until 9)
      rgb.setRGB(x, y, ((x * 41 + y * 7) % 256 << 16) | ((x + y * 13) % 256 << 8) | (x * y % 256))
    val pal = new BufferedImage(7, 5, BufferedImage.TYPE_BYTE_INDEXED)
    for (x <- 0 until 7; y <- 0 until 5) pal.setRGB(x, y, ((x * 40) << 16) | ((y * 60) << 8) | 0x33)
    for ((what, src, bytes, colorType, interlace) <- Seq(
        ("rgb", rgb, png(rgb, interlace = false), 2, 0),
        ("adam7", rgb, png(rgb, interlace = true), 2, 1),
        ("palette", pal, png(pal, interlace = false), 3, 0))) {
      assert(bytes(25) == colorType && bytes(28) == interlace, s"$what: IHDR")
      val d = PngPixels.decode(bytes)
      val w = src.getWidth
      assert(d != null && d.numElements() == w * src.getHeight, what)
      for (x <- 0 until w; y <- 0 until src.getHeight)
        assert(d.getInt(y * w + x) == (src.getRGB(x, y) & 0xffffff), s"$what ($x,$y)")
    }
    // 16-bit samples: ImageCodecSpec pins the 8-bit rescale rule

    // a file whose IDAT is complete but IEND is missing still decodes
    val good = Multimodal.synthPng(0L)
    val noEnd = PngPixels.decode(good.take(good.length - 12))
    assert(noEnd != null && noEnd.numElements() == 8 * 6)
    for (i <- 0 until 48) assert(noEnd.getInt(i) == closed(0L, i % 8, i / 8), s"no IEND px $i")

    // refusals: giant dims, truncation inside the IHDR or the IDAT data —
    // null, never a wrong pixel, never a throw
    def forged(off: Int, v: Byte): Array[Byte] = { val c = good.clone(); c(off) = v; c }
    assert(PngPixels.decode(forged(16, 0x7f.toByte)) == null) // 2G width
    assert(PngPixels.decode(forged(60, (good(60) ^ 0x55).toByte)) == null ||
      true) // corrupt deflate byte: null or (if in slack) harmless — never throws
    assert(PngPixels.decode(good.take(40)) == null)   // truncated mid-IHDR-crc
    assert(PngPixels.decode(good.take(good.length - 30)) == null) // truncated IDAT
    val rnd = new scala.util.Random(13)
    for (len <- Seq(0, 8, 33, 57, 120); _ <- 1 to 40) {
      val b = Array.fill(len)(rnd.nextInt(256).toByte)
      PngPixels.decode(b) // parse-or-null, never throw
      if (len >= 8) {
        System.arraycopy(good, 0, b, 0, 8)
        PngPixels.decode(b)
      }
    }
  }

  test("jpeg_pixels: closed form, 4:2:0 edges, restarts, AC, RGB ids, progressive, source images; never throws") {
    import java.awt.image.BufferedImage
    import graft.exts.JpegPixels
    import graft.operators.Multimodal

    def dcY(bx: Int, by: Int, k: Long) = (((7 * bx + 13 * by + k) % 151) - 75).toInt
    def dcCb(mx: Int, my: Int, k: Long) = (((mx + 2 * my + k) % 41) - 20).toInt
    def dcCr(mx: Int, my: Int, k: Long) = (((3 * mx + my + 2 * k) % 37) - 18).toInt
    def clamp(d: Double) = math.max(0, math.min(255, math.floor(d + 0.5).toInt))
    def ycc(yy: Int, cb: Int, cr: Int): Int =
      (clamp(yy + 1.402 * cr) << 16) | (clamp(yy - 0.344136 * cb - 0.714136 * cr) << 8) |
        clamp(yy + 1.772 * cb)
    def rgbOf(k: Long, mx: Int, my: Int, gx: Int, gy: Int): Int = {
      val yy = dcY(gx, gy, k) + 128
      if (k % 2 == 0) (yy << 16) | (yy << 8) | yy
      else ycc(yy, dcCb(mx, my, k), dcCr(mx, my, k))
    }
    def markerAt(b: Array[Byte], m: Int): Int =
      (0 until b.length - 1).find(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == m).get

    // closed form across gray (even k) and YCbCr 4:4:4 (odd k): DC-only
    // blocks, where libjpeg's integer IDCT is exact
    for (k <- 0L to 9L) {
      val bw = 2 + (k % 3).toInt; val bh = 2 + (k % 2).toInt
      val w = bw * 8; val h = bh * 8
      val dec = JpegPixels.decode(Multimodal.synthJpeg(k))
      assert(dec != null && dec.numElements() == w * h, s"k=$k")
      for (y <- 0 until h; x <- 0 until w)
        assert(dec.getInt(y * w + x) == rgbOf(k, x / 8, y / 8, x / 8, y / 8),
          s"k=$k ($x,$y)")
    }

    // 4:2:0: 2x2 Y blocks per MCU, chroma at half resolution and flat per
    // MCU. libjpeg interpolates chroma ("fancy" upsampling): a pixel's
    // chroma mixes its own sample with the next one toward it, so every
    // pixel off the MCU edges is exact, and an edge pixel's channels lie
    // within those of the (up to 2x2) MCUs its chroma mixes, ±2 for
    // rounding the interpolated chroma and then the color matrix
    for (k <- Seq(1L, 3L, 5L, 7L)) {
      val mw = 2 + (k % 3).toInt; val mh = 2 + (k % 2).toInt
      val w = mw * 16; val h = mh * 16
      val dec = JpegPixels.decode(Multimodal.synthJpeg(k, subsample = true))
      assert(dec != null && dec.numElements() == w * h, s"sub k=$k")
      var edgeDiffs = 0
      for (y <- 0 until h; x <- 0 until w) {
        val got = dec.getInt(y * w + x)
        if (x % 16 != 0 && x % 16 != 15 && y % 16 != 0 && y % 16 != 15)
          assert(got == rgbOf(k, x / 16, y / 16, x / 8, y / 8), s"sub k=$k ($x,$y)")
        else {
          // chroma sample x/2 and its neighbour toward x, clamped to the plane
          def mcus(p: Int, n: Int) = {
            val c = p / 2; val c2 = if (p % 2 == 0) c - 1 else c + 1
            Seq(c, math.max(0, math.min(n * 8 - 1, c2))).map(_ / 8).distinct
          }
          val near = for (mx <- mcus(x, mw); my <- mcus(y, mh))
            yield rgbOf(k, mx, my, x / 8, y / 8)
          for (sh <- Seq(16, 8, 0)) {
            val vs = near.map(v => (v >> sh) & 0xff)
            val g = (got >> sh) & 0xff
            assert(g >= vs.min - 2 && g <= vs.max + 2, s"sub k=$k ($x,$y) ch$sh: $g vs $vs")
          }
          if (got != rgbOf(k, x / 16, y / 16, x / 8, y / 8)) edgeDiffs += 1
        }
      }
      assert(edgeDiffs > 0, s"sub k=$k: no pixel shows interpolation")
    }

    // restart markers: DRI/RSTn resets both DC chains — pixels identical
    for (k <- Seq(2L, 3L)) {
      val a = JpegPixels.decode(Multimodal.synthJpeg(k))
      val r = JpegPixels.decode(Multimodal.synthJpeg(k, restartEvery = 2))
      assert(r != null && r.numElements() == a.numElements(), s"rst k=$k")
      for (i <- 0 until a.numElements())
        assert(a.getInt(i) == r.getInt(i), s"rst k=$k px $i")
    }

    // AC coefficients: one size-1 coefficient at zigzag index 2 per Y
    // block — decoded pixels must match a direct-form 2D IDCT
    for (k <- Seq(0L, 2L, 4L)) {
      val bw = 2 + (k % 3).toInt; val bh = 2 + (k % 2).toInt
      val w = bw * 8; val h = bh * 8
      val dec = JpegPixels.decode(Multimodal.synthJpeg(k, acPattern = true))
      assert(dec != null, s"ac k=$k")
      def direct(coef: Array[Int], x: Int, y: Int): Int = {
        var acc = 0.0
        for (v <- 0 until 8; u <- 0 until 8) {
          val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
          val cv = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
          acc += cu * cv / 4.0 * coef(v * 8 + u) *
            math.cos((2 * x + 1) * u * math.Pi / 16.0) *
            math.cos((2 * y + 1) * v * math.Pi / 16.0)
        }
        clamp(acc + 128.0)
      }
      for (y <- 0 until h; x <- 0 until w) {
        val mx = x / 8; val my = y / 8
        val coef = new Array[Int](64)
        coef(0) = dcY(mx, my, k) * 8
        coef(8) = (if ((mx + my) % 2 == 0) 1 else -1) * 8 // zigzag 2 → (u=0,v=1)
        val e = direct(coef, x % 8, y % 8) // block-local sample coords
        assert(dec.getInt(y * w + x) == ((e << 16) | (e << 8) | e), s"ac k=$k ($x,$y)")
      }
    }

    // a single-component frame DECLARING 2x2 sampling still lays blocks
    // out in raster order (T.81 A.2: one-component scans are
    // non-interleaved)
    locally {
      val g = Multimodal.synthJpeg(2L) // even k → grayscale
      val forced = g.clone(); forced(markerAt(g, 0xc0) + 11) = 0x22.toByte
      val a = JpegPixels.decode(g); val f = JpegPixels.decode(forced)
      assert(f != null && f.numElements() == a.numElements())
      for (i <- 0 until a.numElements()) assert(a.getInt(i) == f.getInt(i), s"1comp2x2 $i")
    }

    // a 3-component frame whose ids spell R,G,B is straight RGB: the
    // three DC-only planes are the channels, no YCbCr matrix
    locally {
      val k = 1L
      val g = Multimodal.synthJpeg(k) // odd k → color, 3x3 blocks
      val sofAt = markerAt(g, 0xc0); val sosAt = markerAt(g, 0xda)
      val rgb = g.clone()
      rgb(sofAt + 10) = 'R'; rgb(sofAt + 13) = 'G'; rgb(sofAt + 16) = 'B'
      rgb(sosAt + 5) = 'R'; rgb(sosAt + 7) = 'G'; rgb(sosAt + 9) = 'B'
      val dec = JpegPixels.decode(rgb)
      val w = 24
      assert(dec != null && dec.numElements() == w * 24)
      for (y <- 0 until 24; x <- 0 until w) {
        val (bx, by) = (x / 8, y / 8)
        val e = ((dcY(bx, by, k) + 128) << 16) | ((dcCb(bx, by, k) + 128) << 8) |
          (dcCr(bx, by, k) + 128)
        assert(dec.getInt(y * w + x) == e, s"rgb ids ($x,$y)")
      }
    }

    // PROGRESSIVE (SOF2): the synthesized files carry a complete scan
    // script (a DC scan, then an all-EOB AC scan per component) and
    // decode to the same closed form
    for (k <- 0L to 5L) {
      val bw = 2 + (k % 3).toInt; val bh = 2 + (k % 2).toInt
      val w = bw * 8; val h = bh * 8
      val bytes = Multimodal.synthJpeg(k, progressiveDc = true)
      markerAt(bytes, 0xc2) // throws if the frame is not SOF2
      val scans = (0 until bytes.length - 1).count(i =>
        (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xda)
      assert(scans == 1 + (if (k % 2 == 0) 1 else 3), s"prog k=$k scans")
      val dec = JpegPixels.decode(bytes)
      assert(dec != null && dec.numElements() == w * h, s"prog k=$k")
      for (y <- 0 until h; x <- 0 until w)
        assert(dec.getInt(y * w + x) == rgbOf(k, x / 8, y / 8, x / 8, y / 8),
          s"prog k=$k ($x,$y)")
    }

    // JPEGs that ImageIO's writer encodes (quality 0.75, 4:2:0 for
    // color; sequential and progressive, whose multi-scan script has AC
    // bands, refinement passes and EOB runs) from a source image at a
    // size that is no multiple of 8: the size and the crop are exact, and
    // each channel's mean absolute error against the source stays under a
    // bound. Measured (JDK 17): gray sequential 3.77, gray progressive
    // 8.03 (sources with sharp mod-256 wraps), gray-valued color
    // progressive 6.73; smooth color R/G/B 2.17/1.45/2.42 sequential and
    // progressive. A swapped channel order gives an error of tens.
    def jpeg(src: BufferedImage, progressive: Boolean): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val param = writer.getDefaultWriteParam
      if (progressive) param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(src, null, null), param)
      ios.close(); writer.dispose()
      val b = bos.toByteArray
      markerAt(b, if (progressive) 0xc2 else 0xc0)
      b
    }
    def maeVsSource(what: String, src: BufferedImage, bytes: Array[Byte]): Seq[Double] = {
      val w = src.getWidth; val h = src.getHeight
      val d = JpegPixels.decode(bytes)
      assert(d != null && d.numElements() == w * h, what)
      Seq(16, 8, 0).map { sh =>
        var sum = 0L
        for (x <- 0 until w; y <- 0 until h) {
          val e = if (src.getType == BufferedImage.TYPE_BYTE_GRAY) src.getRaster.getSample(x, y, 0)
            else (src.getRGB(x, y) >> sh) & 0xff
          sum += math.abs(e - ((d.getInt(y * w + x) >> sh) & 0xff))
        }
        sum.toDouble / (w * h)
      }
    }
    def image(w: Int, h: Int, tpe: Int)(f: (Int, Int) => Int): BufferedImage = {
      val img = new BufferedImage(w, h, tpe)
      for (x <- 0 until w; y <- 0 until h)
        if (tpe == BufferedImage.TYPE_BYTE_GRAY) img.getRaster.setSample(x, y, 0, f(x, y))
        else img.setRGB(x, y, f(x, y))
      img
    }
    val gray = image(21, 13, BufferedImage.TYPE_BYTE_GRAY)((x, y) => (x * 11 + y * 23) % 256)
    val grayP = image(21, 13, BufferedImage.TYPE_BYTE_GRAY)((x, y) => (x * 17 + y * 29) % 256)
    val grayRgb = image(24, 17, BufferedImage.TYPE_INT_RGB)((x, y) =>
      0x010101 * ((x * 13 + y * 31) % 256))
    val color = image(29, 19, BufferedImage.TYPE_INT_RGB)((x, y) =>
      ((40 + 6 * x) << 16) | ((30 + 10 * y) << 8) | 200)
    for ((what, src, progressive, bound) <- Seq(
        ("gray sequential", gray, false, Seq(4.5, 4.5, 4.5)),
        ("gray progressive", grayP, true, Seq(9.0, 9.0, 9.0)),
        ("gray-valued color progressive", grayRgb, true, Seq(7.5, 7.5, 7.5)),
        ("color sequential", color, false, Seq(3.0, 2.0, 3.0)),
        ("color progressive", color, true, Seq(3.0, 2.0, 3.0)))) {
      val mae = maeVsSource(what, src, jpeg(src, progressive))
      mae.zip(bound).zip(Seq("r", "g", "b")).foreach { case ((m, b), ch) =>
        assert(m <= b, s"$what: $ch mean absolute error $m > $b")
      }
    }
    // truncating mid-scan nulls (libjpeg pads with gray and only warns)
    val pb = jpeg(grayP, progressive = true)
    assert(JpegPixels.decode(pb.take(pb.length / 2)) == null)

    // refusals: arithmetic-coded frames, truncation, random garbage —
    // null, never a wrong pixel, never a throw
    val good = Multimodal.synthJpeg(1L)
    val sofAt = markerAt(good, 0xc0)
    val arith = good.clone(); arith(sofAt + 1) = 0xc9.toByte // arithmetic SOF9
    assert(JpegPixels.decode(arith) == null)
    assert(JpegPixels.decode(good.take(sofAt + 5)) == null)
    assert(JpegPixels.decode(good.take(good.length - 6)) == null) // truncated entropy
    val rnd = new scala.util.Random(29)
    for (len <- Seq(0, 2, 16, 64, 200); _ <- 1 to 40) {
      val b = Array.fill(len)(rnd.nextInt(256).toByte)
      JpegPixels.decode(b)
      if (len >= 2) { b(0) = 0xff.toByte; b(1) = 0xd8.toByte; JpegPixels.decode(b) }
    }
  }

  test("image_pixels sniffs the format and dispatches to the right decoder") {
    import graft.exts.{BmpPixels, ImagePixels, JpegPixels, PngPixels}
    import graft.operators.Multimodal
    def same(a: org.apache.spark.sql.catalyst.util.ArrayData,
        b: org.apache.spark.sql.catalyst.util.ArrayData): Boolean =
      a != null && b != null && a.numElements() == b.numElements() &&
        (0 until a.numElements()).forall(i => a.getInt(i) == b.getInt(i))
    val bmp = Multimodal.synthBmp(3L)
    val png = Multimodal.synthPng(4L)
    val jpg = Multimodal.synthJpeg(5L)
    assert(same(ImagePixels.decode(bmp), BmpPixels.decode(bmp)))
    assert(same(ImagePixels.decode(png), PngPixels.decode(png)))
    assert(same(ImagePixels.decode(jpg), JpegPixels.decode(jpg)))
    assert(ImagePixels.decode("GIF89a....".getBytes) == null) // unknown magic
    assert(ImagePixels.decode(Array[Byte](1, 2)) == null)
    // formats ImageIO reads but the sniff does not name stay null
    val src = new java.awt.image.BufferedImage(4, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (f <- Seq("gif", "tiff")) {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(src, f, bos), s"no $f writer")
      assert(ImagePixels.decode(bos.toByteArray) == null, f)
    }
    // SQL registration works over a mixed column
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(bmp), org.apache.spark.sql.Row(png),
        org.apache.spark.sql.Row(jpg), org.apache.spark.sql.Row(Array[Byte](9, 9))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.BinaryType))))
    df.createOrReplaceTempView("mixed_imgs")
    val n = spark.sql(
      "SELECT count(image_pixels(p)) AS n, count(*) AS total FROM mixed_imgs").collect().head
    assert(n.getLong(0) == 3 && n.getLong(1) == 4)
  }

  test("extractFeaturesBmp embeds real pixels; non-BMP payloads get null features") {
    val df = Seq(
      (1L, graft.operators.Multimodal.synthBmp(1L)),
      (2L, "not an image".getBytes)).toDF("id", "payload")
    val out = graft.operators.Multimodal.extractFeaturesBmp(df, "payload", dim = 4)
      .select(col("id"), col("features")).collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Float](1))).toMap
    val f1 = out(1L)
    assert(f1 != null && f1.length == 4 && f1.forall(v => v >= 0f && v <= 1f))
    assert(f1.distinct.length > 1) // real spatial variation, not a constant
    assert(out(2L) == null)
    // and the features agree with the declarative luminanceBlocks path
    val lum = Seq(Tuple1(graft.operators.Multimodal.synthBmp(1L))).toDF("payload")
      .select(graft.operators.Multimodal.luminanceBlocks(col("payload"), 4).as("l"),
        size(graft.operators.Multimodal.bmpPixels(col("payload"))).as("n"))
      .head()
    val blocks = lum.getSeq[Long](0); val npx = lum.getInt(1)
    val expect = blocks.map(b => (b / (255000.0 * (npx / 4))).toFloat)
    assert(f1.zip(expect).forall { case (a, b) => math.abs(a - b) < 1e-6 })
  }

  test("audioHeader parses a real WAV header (fmt + data chunks, either order)") {
    import java.nio.{ByteBuffer, ByteOrder}
    def wav(rate: Int, ch: Int, bits: Int, dataBytes: Int, dataFirst: Boolean): Array[Byte] = {
      val fmt = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
      fmt.put("fmt ".getBytes).putInt(16).putShort(1.toShort).putShort(ch.toShort)
        .putInt(rate).putInt(rate * ch * bits / 8).putShort((ch * bits / 8).toShort)
        .putShort(bits.toShort)
      val data = ByteBuffer.allocate(8 + dataBytes).order(ByteOrder.LITTLE_ENDIAN)
      data.put("data".getBytes).putInt(dataBytes)
      val chunks = if (dataFirst) data.array() ++ fmt.array() else fmt.array() ++ data.array()
      val hdr = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      hdr.put("RIFF".getBytes).putInt(4 + chunks.length).put("WAVE".getBytes)
      hdr.array() ++ chunks
    }
    // 16kHz mono 16-bit, 32000 data bytes = exactly 1000 ms
    val rows = Seq(
      ("fwd", wav(16000, 1, 16, 32000, dataFirst = false)),
      ("rev", wav(44100, 2, 16, 44100, dataFirst = true)),   // 250 ms stereo
      ("junk", "RIFFxxxxJUNK".getBytes))
      .toDF("tag", "payload")
    val out = rows.select(col("tag"),
        graft.operators.Multimodal.audioHeader(col("payload")).as("h"))
      .collect().map { r =>
        val h = r.getStruct(1)
        r.getString(0) -> Option(h).map(s =>
          (s.getInt(0), s.getInt(1), s.getInt(2), s.getLong(3), s.getString(4)))
      }.toMap
    assert(out("fwd") == Some((16000, 1, 16, 1000L, "wav")))
    assert(out("rev") == Some((44100, 2, 16, 250L, "wav")))
    assert(out("junk") == None)
  }

  test("decontaminateNgrams removes docs sharing ANY n-gram; short docs whole-stream match") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // contains the leaked trigram
      (2L, "totally different words entirely here"),
      (3L, "x gamma delta epsilon y z"),              // also contains it
      (4L, "tiny doc"),                               // < n tokens
      (5L, "gamma delta unrelated epsilon"))          // has the words, not the trigram
      .toDF("doc_id", "text")
    val block = Seq("leaked prefix gamma delta epsilon suffix", "tiny doc")
      .toDF("btext")
    val kept = Dedup.decontaminateNgrams(corpus, "doc_id", "text", block, "btext", n = 3)
      .select("doc_id").as[Long].collect().toSet
    // 1 and 3 share the "gamma delta epsilon" trigram; 4 (< n tokens)
    // whole-stream-matches the short blocklist entry... but that entry has
    // >= 3 tokens so it shingles — 4 survives only if no gram equals its
    // whole stream. "tiny doc" blocklist entry is 2 tokens -> whole-stream
    // gram "tiny doc" == doc 4's stream -> removed.
    assert(kept == Set(2L, 5L))
  }

  test("decontaminateExactBloom removes exactly the blocklist matches (bloom is prefilter-only)") {
    val corpus = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon"), (3L, "unique text here"),
      (4L, "ALPHA beta   gamma!"), (5L, "another clean doc"))
      .toDF("doc_id", "text")
    val block = Seq("alpha beta gamma", "delta epsilon", "not in corpus")
      .toDF("btext")
    // doc 4 normalizes to doc 1's token stream → also removed (same
    // content-key definition as decontaminate's exact stage)
    val kept = Dedup.decontaminateExactBloom(corpus, "doc_id", "text", block, "btext")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 5L))
    // an aggressive fpp floods the verify stage with false positives —
    // the result must not change (semi-join verification is exact)
    val keptHighFpp = Dedup.decontaminateExactBloom(
        corpus, "doc_id", "text", block, "btext", expectedItems = 1L, fpp = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(keptHighFpp == Set(3L, 5L))
  }

  test("minhash LSH surfaces near-dup and exact-dup pairs, not distinct docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleK = 2, numHashes = 32, bands = 16, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup always caught
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhashLsh reliableCheckpoint yields identical pairs (cluster-fault-tolerant sketch)") {
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    def run(reliable: Boolean) = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleK = 2, numHashes = 32, bands = 16, threshold = 0.5,
      reliableCheckpoint = reliable)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(run(reliable = true) == run(reliable = false))
    // without a checkpoint dir the reliable path fails fast, not at runtime
    val fresh = spark.newSession()
    val docsFresh = {
      import fresh.implicits._
      Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    }
    // newSession shares the SparkContext (and its checkpoint dir), so only
    // assert the happy path is callable there
    assert(Dedup.minhashLsh(docsFresh, "doc_id", "text", shingleK = 2,
      numHashes = 32, bands = 16, threshold = 0.5, reliableCheckpoint = true)
      .count() >= 1)
  }

  test("simhash: identical docs → hamming 0; near-dups close; distinct far") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(Dedup.tokens(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(2L)) < hamming(sigs(1L), sigs(3L)))
  }

  test("cosine similarity: identical=1, orthogonal=0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("same"),
      Similarity.cosine(col("a"), col("c")).as("orth")).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("bruteForceTopK: self is rank 0 with cosine 1; k respected") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val out = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") === 7), "vec_id", "embedding", k = 5).collect()
    assert(out.length == 5)
    val top = out.find(_.getAs[Int]("rank") == 0).get
    assert(top.getAs[Long]("neighbor_id") == 7L)
    assert(math.abs(top.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("lshTopK recall: bucketed ANN finds most of brute-force top-10") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", probes, "vec_id", "embedding", 10, planes = 3)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.2, s"ANN recall too low: $recall") // 3 planes = 8 cells over 500 vecs
  }

  test("langId picks the obvious language") {
    val df = Seq(
      "the cat and the dog are playing in the garden together",
      "der hund und die katze spielen zusammen ich sche im garten",
      "的 是 了 在 人 有 我 他").toDF("t")
    val out = df.select(TextAnalysis.langId(col("t"))).as[String].collect().toSeq
    assert(out(0) == "en")
    assert(out(1) == "de")
    assert(out(2) == "zh")
  }

  test("quality score components behave") {
    val good = "the quick brown fox jumps over a lazy dog and this text is long enough to pass the filters"
    val bad = "x@#$ 12345 !!!! ####"
    val df = Seq(good, bad).toDF("t")
    val scores = df.select(TextAnalysis.qualityScore(col("t"))).as[Double].collect()
    assert(scores(0) == 1.0)
    assert(scores(1) < 0.5)
  }

  test("token counting: whitespace vs subword") {
    val df = Seq("hello world foo2bar don't").toDF("t")
    val r = df.select(
      TextAnalysis.tokenCount(col("t")).as("w"),
      TextAnalysis.subwordCount(col("t")).as("sw")).collect().head
    assert(r.getInt(0) == 5) // hello world foo 2bar? -> tokens: hello world foo2bar? regex splits letters/digits boundaries only in subword
    assert(r.getInt(1) > r.getInt(0)) // subword splits foo|2|bar and don|'|t
  }

  test("multimodal: frame sampling emits duration/every frames with payload slices") {
    val df = Seq((1L, "some payload bytes for a fake video", 5000L))
      .toDF("id", "txt", "duration_ms")
      .withColumn("payload", encode(col("txt"), "UTF-8"))
    val frames = Multimodal.sampleFrames(df, "payload", "duration_ms", 1000L)
    assert(frames.count() == 5)
    assert(frames.select("frame_idx").as[Long].collect().toSet == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("batched mapPartitions feature extraction preserves rows, emits fixed-dim vectors") {
    val df = (1 to 150).map(i => (i.toLong, s"payload_$i".getBytes)).toDF("id", "payload")
      .repartition(3)
    val out = Multimodal.extractFeaturesBatched(df, "payload", dim = 8, batchSize = 16)
    assert(out.count() == 150)
    val feats = out.select("features").head().getSeq[Float](0)
    assert(feats.length == 8)
    // deterministic: same payload -> same embedding on rerun
    val again = Multimodal.extractFeaturesBatched(df, "payload", dim = 8, batchSize = 16)
      .select("id", "features").collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val first = out.select("id", "features").collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(again == first)
  }

  test("decontaminate removes exact and near blocklist matches, keeps the rest") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "an entirely different document about spark query engines and plans"),
      (3L, "the quick brown fox jumps over the lazy dog again and again today extra"),
      (4L, "nothing like the others at all purely unique content words here")
    ).toDF("id", "text")
    val block = Seq(
      Tuple1("the quick brown fox jumps over the lazy dog again and again today")
    ).toDF("btext")
    val out = Dedup.decontaminate(corpus, "id", "text", block, "btext",
      shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    // doc 1 = exact match, doc 3 = near match (one extra token), 2/4 survive
    assert(out == Set(2L, 4L))
  }

  test("packByBudget assigns concatenate-then-chunk pack ids per shard") {
    val df = Seq(
      (1L, "a", 300L), (2L, "a", 300L), (3L, "a", 500L), (4L, "a", 10L),
      (5L, "b", 600L), (6L, "b", 100L)
    ).toDF("id", "shard", "toks")
    val out = TextAnalysis.packByBudget(df, col("toks"), budget = 512L,
        orderBy = Seq(col("id")), shard = Seq(col("shard")))
      .select("id", "pack_id", "pack_offset")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (0L, 0L))     // offset 0
    assert(out(2L) == (0L, 300L))   // straddles but starts in pack 0
    assert(out(3L) == (1L, 600L))
    assert(out(4L) == (2L, 1100L))
    assert(out(5L) == (0L, 0L))     // shard b independent
    assert(out(6L) == (1L, 600L))
  }

  test("packByBudget global path: distributed prefix sum matches the windowed reference") {
    import org.apache.spark.sql.expressions.Window
    // 1000 docs spread over 8 input partitions, token counts with nulls;
    // the distributed range-shard + shift path must be bit-identical to a
    // single-partition running-sum window
    val d = spark.range(1000).repartition(8).select(col("id"),
      when(col("id") % 97 === 0, lit(null)).otherwise(col("id") % 13 + 1).as("toks"))
    val got = graft.operators.TextAnalysis.packByBudget(
        d.toDF, col("toks"), 64L, Seq(col("id")), numShards = 8)
      .select("id", "pack_offset", "pack_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    val ref = d.coalesce(1)
      .withColumn("pack_offset", coalesce(sum(col("toks").cast("long")).over(w), lit(0L)))
      .withColumn("pack_id", (col("pack_offset") / 64L).cast("long"))
      .select("id", "pack_offset", "pack_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == 1000 && got == ref)
  }

  test("saltedJoin matches the plain join result on a hot key") {
    val probe = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, i))
      .toDF("k", "v") // key 1 is hot (100 rows)
    val build = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("bk", "name")
    val plain = probe.join(build, probe("k") === build("bk")).count()
    val salted = Skew.saltedJoin(probe, build, "k", "bk", buckets = 8).count()
    assert(salted == plain)
  }

  test("saltedAgg two-phase merge equals direct aggregation") {
    import org.apache.spark.sql.functions._
    val df = (1 to 2000).map(i => (if (i % 2 == 0) "hot" else s"k${i % 50}", i.toDouble))
      .toDF("k", "x")
    val direct = df.groupBy("k").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Skew.saltedAgg(df, Seq("k"), buckets = 8,
      partial = Seq(count(lit(1)).as("pn"), sum("x").as("ps")),
      merge = Seq(sum("pn").as("n"), sum("ps").as("s")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == direct)
  }

  test("kmeans recovers two separated clusters; deterministic; early-stops") {
    // two tight blobs around 0 and 10, dim 8; per-dim jitter makes every
    // vector's DIRECTION unique (cosine self-similarity strictly maximal)
    val pts = (0 until 60).map { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      (i.toLong, (0 until 8).map(j => (base + ((i * 31 + j * 17) % 16) / 20.0).toFloat))
    }
    val df = pts.toDF("id", "v")
    val cents = Similarity.kmeans(df, "id", "v", k = 2, iters = 20, seed = 3L)
    assert(cents.size == 2)
    val sums = cents.map(_.sum / 8).sorted
    assert(sums(0) > 0.0 && sums(0) < 1.0 && sums(1) > 10.0 && sums(1) < 11.0)
    // same seed → identical training run
    assert(Similarity.kmeans(df, "id", "v", k = 2, iters = 20, seed = 3L) == cents)
    // trained centroids drive ivfTopK: every probe's rank-0 hit is itself
    val e = df.withColumnRenamed("v", "embedding")
    val top = Similarity.ivfTopK(e, "id", "embedding",
      e.filter(col("id") < 4), "id", "embedding", cents, k = 1, nProbe = 1)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
    assert(top.forall { case (p, n) => p == n })
    // degenerate: k larger than distinct points still seeds and returns k
    intercept[IllegalArgumentException] {
      Similarity.kmeans(df.limit(1), "id", "v", k = 2, iters = 1)
    }
  }

  test("semanticDedup keeps one representative per within-cell cosine group") {
    // two well-separated cells; in cell A vectors 1/2/3 form a cosine
    // chain (1~2, 2~3 close; 1 vs 3 a bit farther), 4 is orthogonal-ish;
    // cell B holds 5 alone. Closure keeps 1 (chain min), 4, 5.
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val df = Seq(
      (1L, v(1.0, 0.02, 0.0, 0.0)),
      (2L, v(1.0, 0.05, 0.0, 0.0)),
      (3L, v(1.0, 0.08, 0.0, 0.0)),
      (4L, v(0.1, 1.0, 0.0, 0.0)),
      (5L, v(-1.0, 0.0, 0.1, 0.0))
    ).toDF("id", "vec")
    val cents = Seq(Seq(1.0, 0.3, 0.0, 0.0), Seq(-1.0, 0.0, 0.0, 0.0))
    val kept = Dedup.semanticDedup(df, "id", "vec", cents, threshold = 0.995)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))
    // pairs are strictly within-cell: nothing pairs 5 with the cell-A chain
    val pairs = Dedup.semanticDupPairs(df, "id", "vec", cents, threshold = -1.0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.forall { case (a, b) => a < 5L && b < 5L })
  }

  test("segmentDedup keeps first occurrence corpus-wide and reassembles in order") {
    val df = Seq(
      (10L, "alpha beta\n\ncommon block\n\ngamma"),
      (20L, "common block\n\ndelta"),          // "common block" seen in doc 10
      (30L, "COMMON   BLOCK"),                 // normalization: trim+lower — but inner spaces differ → kept
      (40L, "alpha beta\n\ncommon block")      // loses everything
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
    assert(out.map(_.getString(1)).toSeq == Seq(
      "alpha beta\n\ncommon block\n\ngamma", "delta", "COMMON   BLOCK", ""))
    assert(out.map(_.getLong(3)).toSeq == Seq(3L, 1L, 1L, 0L))
    assert(out.map(_.getInt(2)).toSeq == Seq(3, 2, 1, 2))
    // case-insensitive match: an exact-case variant of a seen segment drops
    val out2 = Dedup.segmentDedup(
      Seq((1L, "Hello World"), (2L, "hello world")).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out2.map(_.getString(1)).toSeq == Seq("Hello World", ""))
  }

  test("misraGries is exact when capacity covers the vocabulary and bounded when not") {
    import graft.functions.Udfs
    // exact regime: capacity >= distinct
    val words = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(7)("c") ++ Seq("d")
    val dfw = words.zipWithIndex.map { case (w, i) => (i, w) }.toDF("i", "w")
      .repartition(8) // force multi-partition partials + merges
    val exact = dfw.agg(udaf(Udfs.misraGries(16)).apply(col("w"))).head.getMap[String, Long](0)
    assert(exact.toMap == Map("a" -> 50L, "b" -> 30L, "c" -> 7L, "d" -> 1L))
    // lossy regime: capacity 2 over 4 keys, n=88 → undercount <= n/(cap+1)=29.3;
    // the true heavy hitter (a: 50 > 29.3) must survive with count >= 50-29.3
    val lossy = dfw.agg(udaf(Udfs.misraGries(2)).apply(col("w"))).head.getMap[String, Long](0).toMap
    assert(lossy.contains("a") && lossy("a") >= 50L - 29L && lossy("a") <= 50L)
    assert(lossy.forall { case (k, c) =>
      c <= Map("a" -> 50L, "b" -> 30L, "c" -> 7L, "d" -> 1L)(k) })
    // topTokens end-to-end (exact regime), deterministic ordering
    val docs2 = Seq((1L, "x x x y y z"), (2L, "x y w")).toDF("doc_id", "text")
    val top = TextAnalysis.topTokens(docs2, "text", k = 3, capacity = 64)
      .as[(String, Long)].collect().toSeq
    assert(top == Seq(("x", 4L), ("y", 3L), ("w", 1L)))
  }
}
