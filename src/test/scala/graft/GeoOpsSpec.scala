package graft

import org.apache.spark.sql.functions._

import graft.functions.geo

/** The planar-feasible remainder of the geo family
  * (exts/GeoGeometryOps.scala): DE-9IM-style predicates, linear
  * referencing, simplify/buffer, SRID/EWKB plumbing, 4326↔3857. */
class GeoOpsSpec extends SparkSpec {
  import spark.implicits._

  private def pts(coords: (Double, Double)*) =
    array(coords.map { case (a, b) => geo.point(lit(a), lit(b)) }: _*)

  private def square(x0: Double, y0: Double, s: Double) =
    geo.makePolygon(pts((x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s)))

  private val one = Seq(1).toDF("i")

  test("azimuth: quadrants, north=0, coincident=null") {
    val r = one.select(
      geo.azimuth(geo.point(lit(0.0), lit(0.0)), geo.point(lit(0.0), lit(5.0))).as("n"),
      geo.azimuth(geo.point(lit(0.0), lit(0.0)), geo.point(lit(5.0), lit(0.0))).as("e"),
      geo.azimuth(geo.point(lit(0.0), lit(0.0)), geo.point(lit(0.0), lit(-5.0))).as("s"),
      geo.azimuth(geo.point(lit(0.0), lit(0.0)), geo.point(lit(-5.0), lit(0.0))).as("w"),
      geo.azimuth(geo.point(lit(1.0), lit(1.0)), geo.point(lit(1.0), lit(1.0))).as("z"))
      .collect().head
    assert(r.getDouble(0) == 0.0)
    assert(r.getDouble(1) == math.Pi / 2)
    assert(r.getDouble(2) == math.Pi)
    assert(r.getDouble(3) == 3 * math.Pi / 2)
    assert(r.isNullAt(4))
  }

  test("maxDistance and dFullyWithin over squares") {
    // [0,4]² vs [6,10]×[0,4]: max = dist((0,0),(10,4)) = sqrt(116)
    val r = one.select(
      geo.maxDistance(square(0, 0, 4), square(6, 0, 4)).as("m"),
      geo.dFullyWithin(square(0, 0, 4), square(6, 0, 4), lit(11.0)).as("in11"),
      geo.dFullyWithin(square(0, 0, 4), square(6, 0, 4), lit(10.0)).as("in10"))
      .collect().head
    assert(r.getDouble(0) == math.sqrt(116.0))
    assert(r.getBoolean(1) && !r.getBoolean(2))
  }

  test("lineLocatePoint: projection, clamping, multi-segment") {
    val line = geo.makeLine(pts((0.0, 0.0), (10.0, 0.0)))
    val bent = geo.makeLine(pts((0.0, 0.0), (10.0, 0.0), (10.0, 10.0)))
    val r = one.select(
      geo.lineLocatePoint(line, geo.point(lit(3.0), lit(4.0))).as("a"),
      geo.lineLocatePoint(line, geo.point(lit(-5.0), lit(0.0))).as("b"),
      geo.lineLocatePoint(line, geo.point(lit(99.0), lit(1.0))).as("c"),
      geo.lineLocatePoint(bent, geo.point(lit(11.0), lit(5.0))).as("d"))
      .collect().head
    assert(r.getDouble(0) == 0.3)
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 1.0)
    assert(r.getDouble(3) == 0.75) // 10 along first leg + 5 up = 15 of 20
  }

  test("lineSubstring: interpolated endpoints, vertex passthrough") {
    val bent = geo.makeLine(pts((0.0, 0.0), (10.0, 0.0), (10.0, 10.0)))
    val r = one.select(
      geo.asText(geo.lineSubstring(bent, lit(0.25), lit(0.75))).as("w"),
      geo.length(geo.lineSubstring(bent, lit(0.25), lit(0.75))).as("len"),
      geo.lineSubstring(bent, lit(0.9), lit(0.2)).isNull.as("bad"))
      .collect().head
    assert(r.getString(0) == "LINESTRING (5 0, 10 0, 10 5)")
    assert(r.getDouble(1) == 10.0)
    assert(r.getBoolean(2))
  }

  test("simplify: Douglas-Peucker drops sub-tolerance vertices, keeps closure") {
    val wiggle = geo.makeLine(pts((0.0, 0.0), (5.0, 1.0), (10.0, 0.0)))
    val poly = geo.makePolygon(pts((0.0, 0.0), (5.0, 0.1), (10.0, 0.0),
      (10.0, 10.0), (0.0, 10.0)))
    val r = one.select(
      geo.nPoints(geo.simplify(wiggle, lit(2.0))).as("dropped"),
      geo.nPoints(geo.simplify(wiggle, lit(0.5))).as("kept"),
      geo.nPoints(geo.simplify(poly, lit(1.0))).as("ring"),
      geo.asText(geo.simplify(poly, lit(1.0))).as("w"))
      .collect().head
    assert(r.getInt(0) == 2)
    assert(r.getInt(1) == 3)
    assert(r.getInt(2) == 5) // closed square: 4 corners + closure
    assert(r.getString(3).startsWith("POLYGON ((0 0"))
  }

  test("isValid: bowtie false, square true, open/degenerate rings false") {
    val bowtie = geo.makePolygon(pts((0.0, 0.0), (4.0, 4.0), (4.0, 0.0), (0.0, 4.0)))
    val r = one.select(
      geo.isValid(square(0, 0, 4)).as("ok"),
      geo.isValid(bowtie).as("bow"),
      geo.isValid(geo.makeLine(pts((0.0, 0.0), (1.0, 1.0)))).as("line"))
      .collect().head
    assert(r.getBoolean(0))
    assert(!r.getBoolean(1))
    assert(r.getBoolean(2))
  }

  test("orderingEquals vs geoEquals: reversal and ring rotation") {
    val l1 = geo.makeLine(pts((0.0, 0.0), (5.0, 5.0)))
    val l2 = geo.makeLine(pts((5.0, 5.0), (0.0, 0.0)))
    // same square, different start vertex and winding
    val s1 = geo.makePolygon(pts((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)))
    val s2 = geo.makePolygon(pts((4.0, 4.0), (4.0, 0.0), (0.0, 0.0), (0.0, 4.0)))
    val r = one.select(
      geo.orderingEquals(l1, l2).as("oe"),
      geo.geoEquals(l1, l2).as("ge"),
      geo.orderingEquals(s1, s2).as("soe"),
      geo.geoEquals(s1, s2).as("sge"),
      geo.geoEquals(s1, square(0, 0, 5)).as("diff"))
      .collect().head
    assert(!r.getBoolean(0) && r.getBoolean(1))
    assert(!r.getBoolean(2) && r.getBoolean(3))
    assert(!r.getBoolean(4))
  }

  test("touches/overlaps/covers/containsProperly on square pairs") {
    val a = square(0, 0, 4)
    val r = one.select(
      geo.touches(a, square(4, 0, 4)).as("edge"),
      geo.touches(a, square(4, 4, 4)).as("corner"),
      geo.touches(a, square(2, 0, 4)).as("overlapNotTouch"),
      geo.overlaps(a, square(2, 0, 4)).as("ov"),
      geo.overlaps(a, square(4, 0, 4)).as("ovTouch"),
      geo.overlaps(a, a).as("ovSelf"),
      geo.covers(a, square(1, 1, 2)).as("cov"),
      geo.covers(a, a).as("covSelf"),
      geo.coveredBy(square(1, 1, 2), a).as("covBy"),
      geo.containsProperly(a, square(1, 1, 2)).as("cp"),
      geo.containsProperly(a, square(0, 0, 2)).as("cpBoundary"))
      .collect().head
    assert(r.getBoolean(0) && r.getBoolean(1) && !r.getBoolean(2))
    assert(r.getBoolean(3) && !r.getBoolean(4) && !r.getBoolean(5))
    assert(r.getBoolean(6) && r.getBoolean(7) && r.getBoolean(8))
    assert(r.getBoolean(9) && !r.getBoolean(10))
  }

  test("touches/crosses with lines and points") {
    val a = square(0, 0, 4)
    val through = geo.makeLine(pts((2.0, -2.0), (2.0, 2.0)))   // enters interior
    val along = geo.makeLine(pts((0.0, 0.0), (4.0, 0.0)))      // lies on boundary
    val l1 = geo.makeLine(pts((0.0, 0.0), (4.0, 4.0)))
    val l2 = geo.makeLine(pts((0.0, 4.0), (4.0, 0.0)))
    val r = one.select(
      geo.crosses(through, a).as("crossPoly"),
      geo.touches(along, a).as("touchAlong"),
      geo.crosses(along, a).as("crossAlong"),
      geo.crosses(l1, l2).as("crossLines"),
      geo.touches(geo.point(lit(4.0), lit(0.0)), a).as("ptBoundary"),
      geo.touches(geo.point(lit(2.0), lit(2.0)), a).as("ptInterior"),
      geo.touches(geo.point(lit(0.0), lit(0.0)), l1).as("ptLineEnd"))
      .collect().head
    assert(r.getBoolean(0))
    assert(r.getBoolean(1) && !r.getBoolean(2))
    assert(r.getBoolean(3))
    assert(r.getBoolean(4) && !r.getBoolean(5))
    assert(r.getBoolean(6))
  }

  test("buffer: 32-gon area and containment for points") {
    val exp = 0.5 * 32 * 9.0 * math.sin(2 * math.Pi / 32)
    val r = one.select(
      geo.area(geo.buffer(geo.point(lit(5.0), lit(5.0)), lit(3.0))).as("a"),
      geo.contains(geo.buffer(geo.point(lit(5.0), lit(5.0)), lit(3.0)),
        geo.point(lit(5.0), lit(5.0))).as("c"),
      geo.buffer(geo.point(lit(0.0), lit(0.0)), lit(-1.0)).isNull.as("neg"))
      .collect().head
    assert(math.abs(r.getDouble(0) - exp) < 1e-9)
    assert(r.getBoolean(1))
    assert(r.getBoolean(2))
  }

  // the 32-gon pitch makes every arc area closed-form: a fan of k steps of
  // π/16 at radius r has area k·(r²/2)·sin(π/16); a full disk is 32 steps
  private def fan(k: Int, r: Double): Double = k * r * r / 2.0 * math.sin(math.Pi / 16)

  test("buffer of a line: capsule, rotation invariance, containment") {
    // straight (0,0)-(10,0), r=2: rect 2rL + two 16-step caps (a full disk)
    val straight = geo.buffer(geo.makeLine(pts((0.0, 0.0), (10.0, 0.0))), lit(2.0))
    // diagonal 3-4-5 triangle leg, r=1: same closed form, rotated
    val diag = geo.buffer(geo.makeLine(pts((0.0, 0.0), (3.0, 4.0))), lit(1.0))
    val r = one.select(
      geo.area(straight).as("a"),
      geo.contains(straight, geo.point(lit(5.0), lit(1.99))).as("cin"),
      geo.contains(straight, geo.point(lit(5.0), lit(2.01))).as("cout"),
      geo.area(diag).as("d"),
      geo.geometryType(straight).as("t"))
      .collect().head
    assert(math.abs(r.getDouble(0) - (2 * 2 * 10 + fan(32, 2.0))) < 1e-9)
    assert(r.getBoolean(1) && !r.getBoolean(2))
    assert(math.abs(r.getDouble(3) - (2 * 1 * 5 + fan(32, 1.0))) < 1e-9)
    assert(r.getString(4) == "POLYGON")
  }

  test("buffer of a bent line: convex wedge + reflex trim are exact") {
    // L path (0,0)-(4,0)-(4,4), r=1, L=8: rects 2rL minus the r² reflex
    // double-count, plus two caps (32 steps) plus one 90° wedge (8 steps)
    val l = geo.buffer(geo.makeLine(pts((0.0, 0.0), (4.0, 0.0), (4.0, 4.0))), lit(1.0))
    val r = one.select(
      geo.area(l).as("a"),
      geo.contains(l, geo.point(lit(4.0), lit(0.0))).as("cv"),
      geo.contains(l, geo.point(lit(4.8), lit(-0.8))).as("cwedge"),
      geo.contains(l, geo.point(lit(3.2), lit(0.8))).as("cinner"))
      .collect().head
    assert(math.abs(r.getDouble(0) - (16.0 - 1.0 + fan(32, 1.0) + fan(8, 1.0))) < 1e-9)
    assert(r.getBoolean(1))
    assert(!r.getBoolean(2)) // outside the round join (dist √1.28 > 1)
    assert(r.getBoolean(3))  // inside the reflex-trimmed elbow
  }

  test("buffer of polygons: convex exact, reflex corner, original contained") {
    val sq = geo.buffer(square(0, 0, 4), lit(1.0))
    // L-shaped polygon: area 27, perimeter 24, 5 convex + 1 reflex corner
    val ell = geo.makePolygon(pts((0.0, 0.0), (6.0, 0.0), (6.0, 3.0),
      (3.0, 3.0), (3.0, 6.0), (0.0, 6.0)))
    val ebuf = geo.buffer(ell, lit(1.0))
    val r = one.select(
      geo.area(sq).as("a"),
      geo.contains(sq, square(0, 0, 4)).as("c"),
      geo.area(ebuf).as("e"),
      geo.contains(ebuf, geo.point(lit(3.5), lit(3.5))).as("er"))
      .collect().head
    assert(math.abs(r.getDouble(0) - (16.0 + 16.0 + fan(32, 1.0))) < 1e-9)
    assert(r.getBoolean(1))
    assert(math.abs(r.getDouble(2) - (27.0 + 24.0 - 1.0 + 5 * fan(8, 1.0))) < 1e-9)
    assert(r.getBoolean(3)) // reflex elbow interior is covered
  }

  test("buffer resolves self-overlapping offsets; multis union") {
    val u = geo.makeLine(pts((0.0, 0.0), (0.0, 10.0), (3.0, 10.0), (3.0, 0.0)))
    val hole = geo.makePolygon(pts((0.0, 0.0), (4.0, 4.0), (4.0, 0.0), (0.0, 4.0)))
    val mp = geo.collectGeoms(pts((0.0, 0.0), (20.0, 0.0)))
    // arms 3 apart, r=2: the offsets overlap, the gap between the arms
    // fills (no hole); the area lies between [-2,5]x[0,10] plus the top
    // band [0,3]x[10,12] (76) and the bbox [-2,5]x[-2,12] (98)
    val self = geo.buffer(u, lit(2.0))
    // the bowtie is an invalid input; its buffer is still a valid polygon
    // inside the 5x5 envelope of the bowtie's own buffer
    val bow = geo.buffer(hole, lit(0.5))
    val r = one.select(
      geo.isValid(self).as("self_valid"),
      geo.geometryType(self).as("self_t"),
      geo.nRings(self).as("self_nr"),
      geo.area(self).as("self_a"),
      geo.buffer(u, lit(1.0)).isNotNull.as("ok"),    // r=1: no overlap at all
      geo.isValid(bow).as("bow_valid"),
      geo.geometryType(bow).as("bow_t"),
      geo.area(bow).as("bow_a"),
      geo.area(geo.buffer(mp, lit(1.0))).as("mp"),
      geo.geometryType(geo.buffer(mp, lit(1.0))).as("mpt"))
      .collect().head
    assert(r.getBoolean(0) && r.getString(1) == "POLYGON" && r.getInt(2) == 1)
    assert(r.getDouble(3) > 76.0 && r.getDouble(3) < 98.0, s"U buffer area ${r.getDouble(3)}")
    assert(r.getBoolean(4))
    assert(r.getBoolean(5) && r.getString(6) == "POLYGON")
    assert(r.getDouble(7) > 0.0 && r.getDouble(7) < 25.0, s"bowtie buffer area ${r.getDouble(7)}")
    val (mpArea, mpType) = (r.getDouble(8), r.getString(9))
    assert(math.abs(mpArea - 2 * fan(32, 1.0)) < 1e-9)
    assert(mpType == "MULTIPOLYGON")
  }

  test("srid/setSrid/asBinary/asEWKB/asEWKT roundtrip") {
    val p = geo.point(lit(1.0), lit(2.0))
    val r = one.select(
      geo.srid(p).as("s0"),
      geo.srid(geo.setSrid(p, lit(4326))).as("s1"),
      geo.asEWKT(geo.setSrid(p, lit(4326))).as("ewkt"),
      geo.srid(geo.asBinary(geo.setSrid(p, lit(4326)))).as("stripped"),
      geo.x(geo.setSrid(p, lit(4326))).as("x"),
      geo.nRings(square(0, 0, 1)).as("nr"),
      geo.nPoints(geo.geometryN(square(0, 0, 1), lit(0))).as("g0"),
      geo.geometryN(square(0, 0, 1), lit(1)).isNull.as("g1"))
      .collect().head
    assert(r.getInt(0) == 0 && r.getInt(1) == 4326)
    assert(r.getString(2) == "SRID=4326;POINT (1 2)")
    assert(r.getInt(3) == 0)
    assert(r.getDouble(4) == 1.0)
    assert(r.getInt(5) == 1)
    assert(r.getInt(6) == 5 && r.getBoolean(7))
  }

  test("transform 4326→3857 and back: closed-form web mercator") {
    val p = geo.point(lit(10.0), lit(45.0))
    val R = 6378137.0
    val ex = R * math.toRadians(10.0)
    val ey = R * math.log(math.tan(math.Pi / 4 + math.toRadians(45.0) / 2))
    val r = one.select(
      geo.x(geo.transform(p, 4326, 3857)).as("mx"),
      geo.y(geo.transform(p, 4326, 3857)).as("my"),
      geo.srid(geo.transform(p, 4326, 3857)).as("srid"),
      geo.x(geo.transform(geo.transform(p, 4326, 3857), 3857, 4326)).as("lon"),
      geo.y(geo.transform(geo.transform(p, 4326, 3857), 3857, 4326)).as("lat"))
      .collect().head
    assert(r.getDouble(0) == ex && r.getDouble(1) == ey)
    assert(r.getInt(2) == 3857)
    assert(math.abs(r.getDouble(3) - 10.0) < 1e-12)
    assert(math.abs(r.getDouble(4) - 45.0) < 1e-12)
  }

  test("intersection: box clip, concave subject, line clip, point, empty") {
    val a = square(0, 0, 6)
    val b = square(4, 4, 6) // overlap [4,6]²
    // concave L-shape subject: [0,6]² minus the [3,6]×[3,6] notch
    val ell = geo.makePolygon(pts((0.0, 0.0), (6.0, 0.0), (6.0, 3.0),
      (3.0, 3.0), (3.0, 6.0), (0.0, 6.0)))
    val line = geo.makeLine(pts((-2.0, 3.0), (8.0, 3.0)))
    val r = one.select(
      geo.area(geo.intersection(a, b)).as("boxbox"),
      geo.asText(geo.intersection(a, b)).as("w"),
      geo.area(geo.intersection(ell, square(2, 2, 4))).as("ellbox"),
      geo.length(geo.intersection(line, a)).as("lineclip"),
      geo.asText(geo.intersection(geo.point(lit(1.0), lit(1.0)), a)).as("pt"),
      geo.intersection(geo.point(lit(9.0), lit(9.0)), a).isNull.as("ptOut"),
      geo.intersection(a, square(10, 10, 2)).isNull.as("empty"),
      // touch-only pairs return the boundary contact set since round 9
      geo.asText(geo.intersection(a, square(6, 0, 4))).as("edgeTouch"))
      .collect().head
    assert(r.getDouble(0) == 4.0)
    assert(r.getString(1) == "POLYGON ((6 4, 4 4, 4 6, 6 6, 6 4))" ||
      r.getString(1).startsWith("POLYGON (("))
    // L-shape ∩ [2,6]² clip = [2,6]² minus notch ∩ ... = area 16 - 9 = 7
    assert(r.getDouble(2) == 7.0)
    assert(r.getDouble(3) == 6.0)
    assert(r.getString(4) == "POINT (1 1)")
    assert(r.getBoolean(5) && r.getBoolean(6))
    assert(r.getString(7) == "LINESTRING (6 0, 6 4)")
  }

  test("SQL registration: new geo_* functions callable from SQL text") {
    // the shared test session doesn't run with GraftExtensions — register
    // with the same builders the extension injects (MoneySumSpec pattern)
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    import graft.exts._
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("geo_point",
      (c: Seq[Expression]) => GeoPointWkb(Cast(c(0), DoubleType), Cast(c(1), DoubleType)),
      "built-in")
    GeoRelate2.ops.keys.foreach { op =>
      reg.createOrReplaceTempFunction(s"geo_$op",
        (c: Seq[Expression]) => GeoRelate2(c(0), c(1), op), "built-in")
    }
    reg.createOrReplaceTempFunction("geo_buffer",
      (c: Seq[Expression]) => GeoParam(c(0), Cast(c(1), DoubleType), "buffer"), "built-in")
    reg.createOrReplaceTempFunction("geo_set_srid",
      (c: Seq[Expression]) => GeoParam(c(0), Cast(c(1), IntegerType), "set_srid"), "built-in")
    Seq("srid", "nrings", "is_valid").foreach { op =>
      reg.createOrReplaceTempFunction(s"geo_$op",
        (c: Seq[Expression]) => GeoUnaryMeta(c.head, op), "built-in")
    }
    reg.createOrReplaceTempFunction("geo_as_ewkt",
      (c: Seq[Expression]) => GeoText(c.head, "as_ewkt"), "built-in")
    val r = spark.sql("""
      SELECT
        geo_azimuth(geo_point(0D, 0D), geo_point(5D, 0D)) AS az,
        geo_touches(geo_buffer(geo_point(0D, 0D), 1.0D),
                    geo_buffer(geo_point(0D, 0D), 1.0D)) AS t,
        geo_is_valid(geo_buffer(geo_point(0D, 0D), 1.0D)) AS v,
        geo_srid(geo_set_srid(geo_point(1D, 2D), 3857)) AS s,
        geo_as_ewkt(geo_set_srid(geo_point(1D, 2D), 3857)) AS w,
        geo_nrings(geo_buffer(geo_point(0D, 0D), 1.0D)) AS nr,
        geo_equals(geo_point(1D, 2D), geo_point(1D, 2D)) AS eq
    """).collect().head
    assert(r.getDouble(0) == math.Pi / 2)
    assert(!r.getBoolean(1)) // identical interiors intersect → not touches
    assert(r.getBoolean(2))
    assert(r.getInt(3) == 3857)
    assert(r.getString(4) == "SRID=3857;POINT (1 2)")
    assert(r.getInt(5) == 1)
    assert(r.getBoolean(6))
  }
}
