package graft.exts

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}

/** Session extension wiring for graft's custom Catalyst expressions
  * (SURVEY.md §7.1 `exts/`). Activate with
  * `.config("spark.sql.extensions", "graft.exts.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)` — then `cosine_sim`/`dot_product`
  * are callable from SQL text as well as the Column API below. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("money_sum4"),
      new ExpressionInfo(classOf[MoneySum4].getName, "money_sum4"),
      (children: Seq[Expression]) =>
        // analysis-time cast mirrors the Scala-API path (exprs.moneySum4):
        // MoneySum4's update expressions multiply by a double literal, so a
        // decimal/int column via SQL would otherwise fail at execution
        // instead of being coerced (AbstractDataType is private[sql], so the
        // ImplicitCastInputTypes route isn't open to external packages)
        MoneySum4(Cast(children.head, org.apache.spark.sql.types.DoubleType))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("image_header"),
      new ExpressionInfo(classOf[ImageHeader].getName, "image_header"),
      (children: Seq[Expression]) => ImageHeader(children.head)))
    ext.injectFunction((
      FunctionIdentifier("audio_header"),
      new ExpressionInfo(classOf[AudioHeader].getName, "audio_header"),
      (children: Seq[Expression]) => AudioHeader(children.head)))
    ext.injectFunction((
      FunctionIdentifier("time_format"),
      new ExpressionInfo("graft.types.TypeMapper", "time_format"),
      // composes stock codegen expressions (format_string/pmod/casts) —
      // the rendering half of the µs-of-day TIME emulation
      (children: Seq[Expression]) =>
        graft.types.TypeMapper.timeFormatExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("bmp_pixels"),
      new ExpressionInfo(classOf[BmpPixels].getName, "bmp_pixels"),
      (children: Seq[Expression]) => BmpPixels(children.head)))
    ext.injectFunction((
      FunctionIdentifier("wav_samples"),
      new ExpressionInfo(classOf[WavSamples].getName, "wav_samples"),
      (children: Seq[Expression]) => WavSamples(children.head)))
    ext.injectFunction((
      FunctionIdentifier("png_pixels"),
      new ExpressionInfo(classOf[PngPixels].getName, "png_pixels"),
      (children: Seq[Expression]) => PngPixels(children.head)))
    ext.injectFunction((
      FunctionIdentifier("jpeg_pixels"),
      new ExpressionInfo(classOf[JpegPixels].getName, "jpeg_pixels"),
      (children: Seq[Expression]) => JpegPixels(children.head)))
    ext.injectFunction((
      FunctionIdentifier("image_pixels"),
      new ExpressionInfo(classOf[ImagePixels].getName, "image_pixels"),
      (children: Seq[Expression]) => ImagePixels(children.head)))
    ext.injectFunction((
      FunctionIdentifier("geo_point"),
      new ExpressionInfo(classOf[GeoPointWkb].getName, "geo_point"),
      (children: Seq[Expression]) => GeoPointWkb(
        Cast(children(0), org.apache.spark.sql.types.DoubleType),
        Cast(children(1), org.apache.spark.sql.types.DoubleType))))
    ext.injectFunction((
      FunctionIdentifier("geo_x"),
      new ExpressionInfo(classOf[GeoCoord].getName, "geo_x"),
      (children: Seq[Expression]) => GeoCoord(children.head, 0)))
    ext.injectFunction((
      FunctionIdentifier("geo_y"),
      new ExpressionInfo(classOf[GeoCoord].getName, "geo_y"),
      (children: Seq[Expression]) => GeoCoord(children.head, 1)))
    // line/polygon geometry (GeoGeometry.scala): unary measures,
    // transforms, text ops and binary relates, SQL-callable
    Seq("area", "length", "perimeter", "xmin", "ymin", "xmax", "ymax").foreach { op =>
      ext.injectFunction((
        FunctionIdentifier(s"geo_$op"),
        new ExpressionInfo(classOf[GeoMeasure].getName, s"geo_$op"),
        (children: Seq[Expression]) => GeoMeasure(children.head, op)))
    }
    Seq("centroid", "envelope", "flip", "start_point", "end_point",
        "unary_union", "line_merge", "convex_hull").foreach { op =>
      ext.injectFunction((
        FunctionIdentifier(s"geo_$op"),
        new ExpressionInfo(classOf[GeoTransform].getName, s"geo_$op"),
        (children: Seq[Expression]) => GeoTransform(children.head, op)))
    }
    Seq("distance", "contains", "within", "intersects", "disjoint").foreach { op =>
      ext.injectFunction((
        FunctionIdentifier(s"geo_$op"),
        new ExpressionInfo(classOf[GeoRelate].getName, s"geo_$op"),
        (children: Seq[Expression]) => GeoRelate(children(0), children(1), op)))
    }
    Seq("make_line", "make_polygon", "collect").foreach { op =>
      ext.injectFunction((
        FunctionIdentifier(s"geo_$op"),
        new ExpressionInfo(classOf[GeoMake].getName, s"geo_$op"),
        (children: Seq[Expression]) => GeoMake(children.head, op)))
    }
    ext.injectFunction((
      FunctionIdentifier("geo_as_text"),
      new ExpressionInfo(classOf[GeoText].getName, "geo_as_text"),
      (children: Seq[Expression]) => GeoText(children.head, "as_text")))
    ext.injectFunction((
      FunctionIdentifier("geo_type"),
      new ExpressionInfo(classOf[GeoText].getName, "geo_type"),
      (children: Seq[Expression]) => GeoText(children.head, "geometry_type")))
    ext.injectFunction((
      FunctionIdentifier("geo_npoints"),
      new ExpressionInfo(classOf[GeoNPointsExpr].getName, "geo_npoints"),
      (children: Seq[Expression]) => GeoNPointsExpr(children.head)))
    // subword tokenizers (TokenizerExpressions.scala), SQL-callable with
    // the vocab/merge list as a foldable array literal — evaluated once
    // at plan build so the per-executor set/rank-map economics hold:
    //   wordpiece(word, array('un', '##aff', ...))
    //   bpe(word, array(array('t','h'), array('th','e'), ...))
    def foldedStrings(e: Expression, what: String): Seq[String] = {
      require(e.foldable, s"$what must be a foldable array literal")
      e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString).toSeq
    }
    ext.injectFunction((
      FunctionIdentifier("wordpiece"),
      new ExpressionInfo(classOf[WordPiece].getName, "wordpiece"),
      (children: Seq[Expression]) =>
        WordPiece(children.head, foldedStrings(children(1), "wordpiece vocab"))))
    ext.injectFunction((
      FunctionIdentifier("bpe"),
      new ExpressionInfo(classOf[BpeTokenize].getName, "bpe"),
      (children: Seq[Expression]) => {
        require(children(1).foldable, "bpe merges must be a foldable array literal")
        val merges = children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toObjectArray(children(1).dataType
            .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType)
          .map { pair =>
            val a = pair.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
              .toObjectArray(org.apache.spark.sql.types.StringType)
            require(a.length == 2, "each bpe merge must be a 2-element array")
            (a(0).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString,
              a(1).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
          }.toSeq
        BpeTokenize(children.head, merges)
      }))
    // the planar-feasible remainder (GeoGeometryOps.scala): DE-9IM-style
    // predicates, linear referencing, simplify/buffer, SRID/EWKB plumbing
    GeoRelate2.ops.keys.foreach { op =>
      ext.injectFunction((
        FunctionIdentifier(s"geo_$op"),
        new ExpressionInfo(classOf[GeoRelate2].getName, s"geo_$op"),
        (children: Seq[Expression]) => GeoRelate2(children(0), children(1), op)))
    }
    Seq("set_srid", "geometry_n").foreach { op =>
      ext.injectFunction((
        FunctionIdentifier(s"geo_$op"),
        new ExpressionInfo(classOf[GeoParam].getName, s"geo_$op"),
        (children: Seq[Expression]) => GeoParam(children(0),
          Cast(children(1), org.apache.spark.sql.types.IntegerType), op)))
    }
    Seq("buffer", "simplify").foreach { op =>
      ext.injectFunction((
        FunctionIdentifier(s"geo_$op"),
        new ExpressionInfo(classOf[GeoParam].getName, s"geo_$op"),
        (children: Seq[Expression]) => GeoParam(children(0),
          Cast(children(1), org.apache.spark.sql.types.DoubleType), op)))
    }
    Seq("srid", "nrings", "is_valid", "as_binary", "as_ewkb").foreach { op =>
      ext.injectFunction((
        FunctionIdentifier(s"geo_$op"),
        new ExpressionInfo(classOf[GeoUnaryMeta].getName, s"geo_$op"),
        (children: Seq[Expression]) => GeoUnaryMeta(children.head, op)))
    }
    ext.injectFunction((
      FunctionIdentifier("geo_as_ewkt"),
      new ExpressionInfo(classOf[GeoText].getName, "geo_as_ewkt"),
      (children: Seq[Expression]) => GeoText(children.head, "as_ewkt")))
    ext.injectFunction((
      FunctionIdentifier("geo_line_substring"),
      new ExpressionInfo(classOf[GeoLineSubstring].getName, "geo_line_substring"),
      (children: Seq[Expression]) => GeoLineSubstring(children(0),
        Cast(children(1), org.apache.spark.sql.types.DoubleType),
        Cast(children(2), org.apache.spark.sql.types.DoubleType))))
    ext.injectFunction((
      FunctionIdentifier("geo_intersection"),
      new ExpressionInfo(classOf[GeoIntersectionExpr].getName, "geo_intersection"),
      (children: Seq[Expression]) => GeoIntersectionExpr(children(0), children(1))))
    Seq("union", "difference").foreach { op =>
      ext.injectFunction((
        FunctionIdentifier(s"geo_$op"),
        new ExpressionInfo(classOf[GeoSetOpExpr].getName, s"geo_$op"),
        (children: Seq[Expression]) => GeoSetOpExpr(children(0), children(1), op)))
    }
    ext.injectFunction((
      FunctionIdentifier("geo_transform"),
      new ExpressionInfo(classOf[GeoReproject].getName, "geo_transform"),
      // SRIDs are constants by nature — literal args only (eval at build)
      (children: Seq[Expression]) => GeoReproject.bySrid(children(0),
        children(1).eval().toString.toInt, children(2).eval().toString.toInt)))
    ext.injectFunction((
      FunctionIdentifier("geo_convert"),
      new ExpressionInfo(classOf[GeoReproject].getName, "geo_convert"),
      // CRS specs are constants by nature — literal string args only
      (children: Seq[Expression]) => GeoReproject(children(0),
        children(1).eval().toString, children(2).eval().toString, bySrid = false)))
    ext.injectOptimizerRule(_ => AnchoredRegexSimplification)
  }
}

/** Column-API access to the custom expressions — no registration needed. */
object exprs {
  private def ex(c: Column): Expression =
    org.apache.spark.sql.GraftSqlBridge.expression(c)
  private def co(e: Expression): Column =
    org.apache.spark.sql.GraftSqlBridge.column(e)

  def cosineSim(a: Column, b: Column): Column = co(CosineSimilarity(ex(a), ex(b)))
  def dotProduct(a: Column, b: Column): Column = co(DotProduct(ex(a), ex(b)))

  /** 1-based index of the greatest element <= key in a sorted array (see
    * [[AsofSearch]]) — the probe step of the compact as-of join plan. */
  def asofSearch(sortedArr: Column, key: Column): Column =
    co(AsofSearch(ex(sortedArr), ex(key)))

  /** Fused per-document text-feature pass (see [[TextStats]]): one
    * tokenization + one character scan yielding the primitives every
    * TextAnalysis feature derives from. */
  def textStats(text: Column, withFp: Boolean): Column =
    co(TextStats(ex(text), withFp))

  /** Exact 4-decimal fixed-point money sum (see [[MoneySum4]]) — the fast
    * equivalent of `sum(x.cast("decimal(38,4)")).cast("double")`. */
  def moneySum4(x: Column): Column =
    co(MoneySum4(Cast(ex(x), org.apache.spark.sql.types.DoubleType)).toAggregateExpression())

  /** Real image-header probe (see [[ImageHeader]]): struct(width, height,
    * format) from PNG/GIF/BMP/JPEG header bytes, null on no match. */
  def imageHeader(payload: Column): Column = co(ImageHeader(ex(payload)))

  /** Real WAV/RIFF audio-header probe (see [[AudioHeader]]). */
  def audioHeader(payload: Column): Column = co(AudioHeader(ex(payload)))

  /** Real BMP pixel decode (see [[BmpPixels]]): packed 0xRRGGBB ints,
    * top-down row-major; null outside the decodable subset. */
  def bmpPixels(payload: Column): Column = co(BmpPixels(ex(payload)))

  /** Real WAV PCM sample decode (see [[WavSamples]]). */
  def wavSamples(payload: Column): Column = co(WavSamples(ex(payload)))
  def pngPixels(payload: Column): Column = co(PngPixels(ex(payload)))
  def jpegPixels(payload: Column): Column = co(JpegPixels(ex(payload)))
  def imagePixels(payload: Column): Column = co(ImagePixels(ex(payload)))
}
