package graft

import org.apache.spark.sql.functions._

import graft.exts.GeoGeom
import graft.functions.geo

/** Line/polygon geometry over WKB (exts/GeoGeometry.scala): pure planar
  * math — areas, lengths, centroids, containment (incl. concave shapes,
  * holes, boundary points), generic distance, constructors, WKT. */
class GeoGeomSpec extends SparkSpec {
  import spark.implicits._

  private def pts(coords: (Double, Double)*) =
    array(coords.map { case (a, b) => geo.point(lit(a), lit(b)) }: _*)

  test("makeLine: length, npoints, start/end/pointN, WKT, type") {
    // 3-4-5 right angle: (0,0)→(3,0)→(3,4)
    val df = Seq(1).toDF("i").select(
      geo.makeLine(pts((0.0, 0.0), (3.0, 0.0), (3.0, 4.0))).as("l"))
    val r = df.select(
      geo.length(col("l")).as("len"),
      geo.nPoints(col("l")).as("np"),
      geo.x(geo.startPoint(col("l"))).as("sx"),
      geo.y(geo.endPoint(col("l"))).as("ey"),
      geo.x(geo.pointN(col("l"), 1)).as("p1x"),
      geo.x(geo.pointN(col("l"), -1)).as("pm1x"),
      geo.geometryType(col("l")).as("t"),
      geo.asText(col("l")).as("wkt"),
      geo.area(col("l")).as("a")).collect().head
    assert(r.getDouble(0) == 7.0)
    assert(r.getInt(1) == 3)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 4.0)
    assert(r.getDouble(4) == 3.0 && r.getDouble(5) == 3.0)
    assert(r.getString(6) == "LINESTRING")
    assert(r.getString(7) == "LINESTRING (0 0, 3 0, 3 4)")
    assert(r.getDouble(8) == 0.0) // ST_Area of a line is 0
  }

  test("makePolygon auto-closes: area, perimeter, centroid, envelope bounds") {
    // unit-10 square, not explicitly closed
    val df = Seq(1).toDF("i").select(
      geo.makePolygon(pts((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))).as("g"))
    val r = df.select(
      geo.area(col("g")).as("a"),
      geo.perimeter(col("g")).as("p"),
      geo.length(col("g")).as("len"),
      geo.x(geo.centroid(col("g"))).as("cx"),
      geo.y(geo.centroid(col("g"))).as("cy"),
      geo.xMin(col("g")).as("x0"), geo.xMax(col("g")).as("x1"),
      geo.yMin(col("g")).as("y0"), geo.yMax(col("g")).as("y1"),
      geo.nPoints(col("g")).as("np"),
      geo.area(geo.envelope(col("g"))).as("envArea"),
      geo.geometryType(col("g")).as("t")).collect().head
    assert(r.getDouble(0) == 100.0)
    assert(r.getDouble(1) == 40.0)
    assert(r.getDouble(2) == 0.0) // ST_Length of a polygon is 0
    assert(r.getDouble(3) == 5.0 && r.getDouble(4) == 5.0)
    assert(r.getDouble(5) == 0.0 && r.getDouble(6) == 10.0)
    assert(r.getDouble(7) == 0.0 && r.getDouble(8) == 10.0)
    assert(r.getInt(9) == 5) // closing vertex counted, like ST_NPoints
    assert(r.getDouble(10) == 100.0)
    assert(r.getString(11) == "POLYGON")
  }

  test("contains: interior, boundary, exterior, concave notch") {
    // concave L-shape: 10x10 square minus the 5x5 top-right quadrant
    val lshape = geo.makePolygon(pts(
      (0.0, 0.0), (10.0, 0.0), (10.0, 5.0), (5.0, 5.0), (5.0, 10.0), (0.0, 10.0)))
    // (px, py, contains, covers)
    val cases = Seq(
      (2.0, 2.0, true, true),    // interior
      (7.0, 7.0, false, false),  // inside bbox, but in the notch
      (0.0, 0.0, false, true),   // corner: boundary, so ST_Covers only
      (5.0, 7.5, false, true),   // on the notch edge: boundary again
      (11.0, 5.0, false, false)) // exterior
    cases.foreach { case (px, py, want, wantCovers) =>
      val got = Seq(1).toDF("i")
        .select(geo.contains(lshape, geo.point(lit(px), lit(py))).as("c"))
        .collect().head.getBoolean(0)
      assert(got == want, s"($px,$py) expected $want")
      val gotW = Seq(1).toDF("i")
        .select(geo.within(geo.point(lit(px), lit(py)), lshape).as("w"))
        .collect().head.getBoolean(0)
      assert(gotW == want)
      val gotC = Seq(1).toDF("i")
        .select(geo.covers(lshape, geo.point(lit(px), lit(py))).as("cv"))
        .collect().head.getBoolean(0)
      assert(gotC == wantCovers, s"($px,$py) covers expected $wantCovers")
    }
  }

  test("polygon with hole: area subtracts, hole interior not contained") {
    // 10x10 shell with 2x2 hole at (4,4)-(6,6), built via raw WKB writer
    val shell = Array(0.0, 0, 10, 0, 10, 10, 0, 10, 0, 0)
    val hole = Array(4.0, 4, 6, 4, 6, 6, 4, 6, 4, 4)
    val wkb = GeoGeom.writePolygon(Array(shell, hole))
    val df = Seq(wkb).toDF("g")
    val r = df.select(
      geo.area(col("g")).as("a"),
      geo.perimeter(col("g")).as("p"),
      geo.contains(col("g"), geo.point(lit(5.0), lit(5.0))).as("inHole"),
      geo.contains(col("g"), geo.point(lit(2.0), lit(2.0))).as("inShell"),
      geo.nPoints(col("g")).as("np")).collect().head
    assert(r.getDouble(0) == 96.0)
    assert(r.getDouble(1) == 48.0)
    assert(!r.getBoolean(2) && r.getBoolean(3))
    assert(r.getInt(4) == 10)
  }

  test("generic distance: point-line, point-polygon, line-line, crossing = 0") {
    val df = Seq(1).toDF("i")
    val line = geo.makeLine(pts((0.0, 0.0), (10.0, 0.0)))
    val poly = geo.makePolygon(pts((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)))
    val r = df.select(
      geo.distance(geo.point(lit(5.0), lit(3.0)), line).as("pl"),
      geo.distance(line, geo.point(lit(13.0), lit(4.0))).as("lp"), // past the end: 3-4-5
      geo.distance(geo.point(lit(2.0), lit(2.0)), poly).as("inside"),
      geo.distance(geo.point(lit(7.0), lit(8.0)), poly).as("corner"), // to (4,4): 3-4-5
      geo.distance(geo.makeLine(pts((0.0, 5.0), (10.0, 5.0))), line).as("parallel"),
      geo.distance(geo.makeLine(pts((5.0, -5.0), (5.0, 5.0))), line).as("crossing"),
      geo.intersects(geo.makeLine(pts((5.0, -5.0), (5.0, 5.0))), line).as("xing"),
      geo.disjoint(geo.makeLine(pts((0.0, 5.0), (10.0, 5.0))), line).as("disj"),
      geo.dwithin(geo.point(lit(5.0), lit(3.0)), line, lit(3.0)).as("dw")).collect().head
    assert(r.getDouble(0) == 3.0)
    assert(r.getDouble(1) == 5.0)
    assert(r.getDouble(2) == 0.0)
    assert(r.getDouble(3) == 5.0)
    assert(r.getDouble(4) == 5.0)
    assert(r.getDouble(5) == 0.0)
    assert(r.getBoolean(6))
    assert(r.getBoolean(7))
    assert(r.getBoolean(8))
  }

  test("concave containment: line with both endpoints inside but crossing the notch") {
    // L-shape (10x10 minus top-right 5x5). The diagonal (1,1)→(9,4) stays
    // in; (1,1)→(9,9) has endpoint (9,9) outside; (2,9)→(9,2) has both
    // endpoints inside but properly crosses the notch edges twice.
    val lshape = geo.makePolygon(pts(
      (0.0, 0.0), (10.0, 0.0), (10.0, 5.0), (5.0, 5.0), (5.0, 10.0), (0.0, 10.0)))
    val df = Seq(1).toDF("i")
    val r = df.select(
      geo.contains(lshape, geo.makeLine(pts((1.0, 1.0), (9.0, 4.0)))).as("inOk"),
      geo.contains(lshape, geo.makeLine(pts((2.0, 9.0), (9.0, 2.0)))).as("crossing"),
      geo.intersects(lshape, geo.makeLine(pts((2.0, 9.0), (9.0, 2.0)))).as("stillInt"))
      .collect().head
    assert(r.getBoolean(0))
    assert(!r.getBoolean(1))
    assert(r.getBoolean(2))
  }

  test("polygon contains polygon / line; crossing line not contained") {
    val df = Seq(1).toDF("i")
    val big = geo.makePolygon(pts((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)))
    val small = geo.makePolygon(pts((2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0)))
    val inLine = geo.makeLine(pts((1.0, 1.0), (9.0, 9.0)))
    val outLine = geo.makeLine(pts((5.0, 5.0), (15.0, 5.0)))
    val r = df.select(
      geo.contains(big, small).as("bs"),
      geo.contains(small, big).as("sb"),
      geo.contains(big, inLine).as("bl"),
      geo.contains(big, outLine).as("bo"),
      geo.intersects(big, outLine).as("io")).collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getBoolean(4))
  }

  test("flip, WKT for polygon, malformed input → null") {
    val df = Seq(1).toDF("i")
    val line = geo.makeLine(pts((1.0, 2.0), (3.0, 4.0)))
    val r = df.select(
      geo.asText(geo.flipCoordinates(line)).as("flipped"),
      geo.asText(geo.makePolygon(pts((0.0, 0.0), (1.0, 0.0), (1.0, 1.0)))).as("pw"),
      geo.x(geo.centroid(line)).as("cx")).collect().head
    assert(r.getString(0) == "LINESTRING (2 1, 4 3)")
    assert(r.getString(1) == "POLYGON ((0 0, 1 0, 1 1, 0 0))")
    assert(r.getDouble(2) == 2.0)
    // malformed: truncated/garbage bytes → null, not an exception
    val bad = Seq(Array[Byte](1, 3, 0, 0, 0, 9), Array[Byte]()).toDF("w")
    assert(bad.select(geo.area(col("w"))).collect().forall(_.isNullAt(0)))
    assert(bad.select(geo.centroid(col("w"))).collect().forall(_.isNullAt(0)))
    // makeLine with < 2 points → null
    assert(Seq(1).toDF("i").select(geo.makeLine(pts((1.0, 1.0))))
      .collect().head.isNullAt(0))
  }

  test("SQL registration: geo_area / geo_contains / geo_make_line callable from SQL") {
    // the bare test session doesn't load GraftExtensions — register the
    // SAME builders the extension injects (as GeoSpec does for the point core)
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
    import org.apache.spark.sql.types.DoubleType
    import graft.exts.{GeoMake, GeoMeasure, GeoPointWkb, GeoRelate}
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("geo_point",
      (ch: Seq[Expression]) => GeoPointWkb(Cast(ch(0), DoubleType), Cast(ch(1), DoubleType)),
      "built-in")
    reg.createOrReplaceTempFunction("geo_area",
      (ch: Seq[Expression]) => GeoMeasure(ch.head, "area"), "built-in")
    reg.createOrReplaceTempFunction("geo_length",
      (ch: Seq[Expression]) => GeoMeasure(ch.head, "length"), "built-in")
    reg.createOrReplaceTempFunction("geo_contains",
      (ch: Seq[Expression]) => GeoRelate(ch(0), ch(1), "contains"), "built-in")
    reg.createOrReplaceTempFunction("geo_make_line",
      (ch: Seq[Expression]) => GeoMake(ch.head, "make_line"), "built-in")
    reg.createOrReplaceTempFunction("geo_make_polygon",
      (ch: Seq[Expression]) => GeoMake(ch.head, "make_polygon"), "built-in")
    Seq((0.0, 0.0, 10.0, 10.0)).toDF("x0", "y0", "x1", "y1")
      .createOrReplaceTempView("geo_box")
    val r = spark.sql("""
      SELECT geo_area(geo_make_polygon(array(
               geo_point(x0, y0), geo_point(x1, y0), geo_point(x1, y1), geo_point(x0, y1)))) AS a,
             geo_contains(geo_make_polygon(array(
               geo_point(x0, y0), geo_point(x1, y0), geo_point(x1, y1), geo_point(x0, y1))),
               geo_point(5.0, 5.0)) AS c,
             geo_length(geo_make_line(array(geo_point(x0, y0), geo_point(x1, y0)))) AS len
      FROM geo_box""").collect().head
    assert(r.getDouble(0) == 100.0)
    assert(r.getBoolean(1))
    assert(r.getDouble(2) == 10.0)
  }
}
