package graft

import org.apache.spark.sql.functions._

import graft.functions.geo

/** Multi* / GeometryCollection inputs (round-4 verdict #5) and polygon
  * set-op outputs union/difference/unary_union/line_merge (#6) —
  * exts/GeoGeometry.scala multi parsing + exts/GeoGeometryOps.scala
  * boolean ops. Expected values are hand-computed planar math. */
class GeoMultiSpec extends SparkSpec {
  import spark.implicits._

  private def pts(coords: (Double, Double)*) =
    array(coords.map { case (a, b) => geo.point(lit(a), lit(b)) }: _*)

  private def rect(x0: Double, y0: Double, w: Double, h: Double) =
    geo.makePolygon(pts((x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)))

  private val one = Seq(1).toDF("i")

  test("multipoint: collect, type, npoints, centroid, bounds, WKT") {
    val mp = geo.collectGeoms(array(
      geo.point(lit(0.0), lit(0.0)), geo.point(lit(4.0), lit(0.0)),
      geo.point(lit(2.0), lit(6.0))))
    val r = one.select(
      geo.geometryType(mp).as("t"), geo.nPoints(mp).as("np"),
      geo.x(geo.centroid(mp)).as("cx"), geo.y(geo.centroid(mp)).as("cy"),
      geo.xMax(mp).as("xmax"), geo.yMax(mp).as("ymax"),
      geo.asText(mp).as("wkt")).collect().head
    assert(r.getString(0) == "MULTIPOINT")
    assert(r.getInt(1) == 3)
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == 2.0)
    assert(r.getDouble(4) == 4.0 && r.getDouble(5) == 6.0)
    assert(r.getString(6) == "MULTIPOINT ((0 0), (4 0), (2 6))")
  }

  test("multilinestring: length sums members, centroid length-weighted") {
    val ml = geo.collectGeoms(array(
      geo.makeLine(pts((0.0, 0.0), (2.0, 0.0))),   // len 2, mid (1, 0)
      geo.makeLine(pts((0.0, 4.0), (6.0, 4.0))))) // len 6, mid (3, 4)
    val r = one.select(
      geo.geometryType(ml).as("t"), geo.length(ml).as("len"),
      geo.x(geo.centroid(ml)).as("cx"), geo.y(geo.centroid(ml)).as("cy"),
      geo.asText(ml).as("wkt")).collect().head
    assert(r.getString(0) == "MULTILINESTRING")
    assert(r.getDouble(1) == 8.0)
    assert(r.getDouble(2) == 2.5 && r.getDouble(3) == 3.0) // (2*1+6*3)/8, (2*0+6*4)/8
    assert(r.getString(4) == "MULTILINESTRING ((0 0, 2 0), (0 4, 6 4))")
  }

  test("multipolygon: area/perimeter sum, centroid area-weighted, predicates exact") {
    // disjoint 2x2 at origin and 4x4 at (10, 0)
    val mp = geo.collectGeoms(array(rect(0, 0, 2, 2), rect(10, 0, 4, 4)))
    val r = one.select(
      geo.geometryType(mp).as("t"),
      geo.area(mp).as("a"), geo.perimeter(mp).as("p"),
      geo.x(geo.centroid(mp)).as("cx"), geo.y(geo.centroid(mp)).as("cy"),
      // point in the SECOND member: flattened even-odd must see it
      geo.contains(mp, geo.point(lit(12.0), lit(2.0))).as("c2"),
      geo.contains(mp, geo.point(lit(5.0), lit(1.0))).as("cGap"),
      geo.intersects(mp, rect(1, 1, 1, 1)).as("i1"),
      geo.distance(mp, geo.point(lit(6.0), lit(0.0))).as("dGap")).collect().head
    assert(r.getString(0) == "MULTIPOLYGON")
    assert(r.getDouble(1) == 20.0)          // 4 + 16
    assert(r.getDouble(2) == 24.0)          // 8 + 16
    assert(r.getDouble(3) == (4 * 1 + 16 * 12) / 20.0) // area-weighted x
    assert(r.getDouble(4) == (4 * 1 + 16 * 2) / 20.0)
    assert(r.getBoolean(5))                 // in second member
    assert(!r.getBoolean(6))                // gap between members
    assert(r.getBoolean(7))
    assert(r.getDouble(8) == 4.0)           // 6 → nearest edge x=2 or x=10
  }

  test("multipolygon containment: member fully inside polygon, other outside → distance 0") {
    val big = rect(0, 0, 4, 4)
    val mp = geo.collectGeoms(array(rect(1, 1, 1, 1), rect(10, 10, 1, 1)))
    val r = one.select(
      geo.distance(big, mp).as("d"),
      geo.contains(big, mp).as("c")).collect().head
    assert(r.getDouble(0) == 0.0) // the inside member, despite first-listed being inside too
    assert(!r.getBoolean(1))      // one member escapes
  }

  test("geometrycollection: area/length fold, type, intersects recursion") {
    val gc = geo.collectGeoms(array(
      geo.point(lit(0.0), lit(0.0)),
      geo.makeLine(pts((0.0, 0.0), (3.0, 0.0))),
      rect(5, 5, 2, 2)))
    val r = one.select(
      geo.geometryType(gc).as("t"), geo.area(gc).as("a"),
      geo.length(gc).as("len"),
      geo.intersects(gc, rect(5.5, 5.5, 10, 10)).as("ix"),
      geo.distance(gc, geo.point(lit(0.0), lit(2.0))).as("d")).collect().head
    assert(r.getString(0) == "GEOMETRYCOLLECTION")
    assert(r.getDouble(1) == 4.0)
    assert(r.getDouble(2) == 3.0)
    assert(r.getBoolean(3))
    assert(r.getDouble(4) == 2.0)
  }

  test("union: overlapping rectangles via boundary walk") {
    // [0,4]x[0,4] ∪ [2,6]x[0,4] = [0,6]x[0,4]: area 24, perimeter 20
    val u = geo.union(rect(0, 0, 4, 4), rect(2, 0, 4, 4))
    val r = one.select(
      geo.area(u).as("a"), geo.perimeter(u).as("p"),
      geo.geometryType(u).as("t"),
      geo.xMin(u).as("x0"), geo.xMax(u).as("x1")).collect().head
    assert(math.abs(r.getDouble(0) - 24.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 20.0) < 1e-9)
    assert(r.getString(2) == "POLYGON")
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 6.0)
  }

  test("union: touching rectangles merge, shared edge vanishes") {
    // side-by-side same height: union is one rectangle
    val u = geo.union(rect(0, 0, 2, 4), rect(2, 0, 3, 4))
    val r = one.select(geo.area(u).as("a"), geo.perimeter(u).as("p"),
      geo.geometryType(u).as("t")).collect().head
    assert(math.abs(r.getDouble(0) - 20.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 18.0) < 1e-9)
    assert(r.getString(2) == "POLYGON")
  }

  test("union: disjoint → MULTIPOLYGON, containment → identity") {
    val u1 = geo.union(rect(0, 0, 2, 2), rect(5, 5, 3, 3))
    val u2 = geo.union(rect(0, 0, 10, 10), rect(2, 2, 2, 2))
    val r = one.select(
      geo.geometryType(u1).as("t1"), geo.area(u1).as("a1"),
      geo.geometryType(u2).as("t2"), geo.area(u2).as("a2")).collect().head
    assert(r.getString(0) == "MULTIPOLYGON" && r.getDouble(1) == 13.0)
    assert(r.getString(2) == "POLYGON" && r.getDouble(3) == 100.0)
  }

  test("union: point ∪ point → MULTIPOINT") {
    val u = geo.union(geo.point(lit(1.0), lit(2.0)), geo.point(lit(3.0), lit(4.0)))
    val r = one.select(geo.geometryType(u).as("t"), geo.nPoints(u).as("np")).collect().head
    assert(r.getString(0) == "MULTIPOINT" && r.getInt(1) == 2)
  }

  test("difference: corner overlap, interior hole, splitting bite, disjoint") {
    // corner overlap: [0,4]² − [2,6]x[2,6] → L-shape, area 16-4=12
    val d1 = geo.difference(rect(0, 0, 4, 4), rect(2, 2, 4, 4))
    // interior: [0,6]² − [2,2,2x2] → square with a hole, area 36-4=32
    val d2 = geo.difference(rect(0, 0, 6, 6), rect(2, 2, 2, 2))
    // splitting: [0,6]x[0,2] − [2,-1,2x4] → TWO pieces, area 12-4=8
    val d3 = geo.difference(rect(0, 0, 6, 2), rect(2, -1, 2, 4))
    // disjoint: identity
    val d4 = geo.difference(rect(0, 0, 2, 2), rect(5, 5, 1, 1))
    val r = one.select(
      geo.area(d1).as("a1"), geo.geometryType(d1).as("t1"),
      geo.area(d2).as("a2"), geo.geometryType(d2).as("t2"),
      geo.area(d3).as("a3"), geo.geometryType(d3).as("t3"),
      geo.area(d4).as("a4"),
      geo.contains(d2, geo.point(lit(3.0), lit(3.0))).as("inHole")).collect().head
    assert(math.abs(r.getDouble(0) - 12.0) < 1e-9 && r.getString(1) == "POLYGON")
    assert(math.abs(r.getDouble(2) - 32.0) < 1e-9 && r.getString(3) == "POLYGON")
    assert(math.abs(r.getDouble(4) - 8.0) < 1e-9 && r.getString(5) == "MULTIPOLYGON")
    assert(r.getDouble(6) == 4.0)
    assert(!r.getBoolean(7)) // hole excluded from containment
  }

  test("holed operands: union plugs/shrinks holes, difference raises islands") {
    // holed minuends/operands are built IN-ENGINE through the interior-bite
    // difference path, so this also re-checks that path's ring output
    val holedA = geo.difference(rect(0, 0, 10, 10), rect(4, 4, 2, 2)) // area 96
    // B covers the hole entirely → union fills it: plain 100-area square
    val filled = geo.union(holedA, rect(3, 3, 4, 4))
    // adversarial: B EXACTLY equals the hole (every B edge collinear with
    // a hole edge, every vertex shared) — still fills it
    val exact = geo.union(holedA, rect(4, 4, 2, 2))
    // B covers the LEFT half of the hole (+ some flesh) → hole shrinks to
    // [5,6]x[4,6]: area 98, still one shell + one hole
    val shrunk = geo.union(holedA, rect(3, 4, 2, 2))
    // subtracting a holed B raises its hole as an ISLAND: area 100-36+4
    val island = geo.difference(rect(0, 0, 10, 10),
      geo.difference(rect(2, 2, 6, 6), rect(4, 4, 2, 2)))
    // cutting away the left half of holedA leaves a notched plate (the
    // half-hole merges into the outer boundary): area (100-4)-(50-2)
    val notched = geo.difference(holedA, rect(-1, -1, 6, 12))
    val r = one.select(
      geo.area(holedA).as("a0"), geo.nRings(holedA).as("n0"),
      geo.area(filled).as("a1"), geo.nRings(filled).as("n1"),
      geo.area(shrunk).as("a2"), geo.nRings(shrunk).as("n2"),
      geo.area(island).as("a3"), geo.geometryType(island).as("t3"),
      geo.area(notched).as("a4"),
      geo.contains(island, geo.point(lit(5.0), lit(5.0))).as("on_island"),
      geo.contains(island, geo.point(lit(3.0), lit(3.0))).as("in_bite"),
      geo.area(exact).as("a5"), geo.nRings(exact).as("n5"))
      .collect().head
    assert(math.abs(r.getDouble(0) - 96.0) < 1e-9 && r.getInt(1) == 2)
    assert(math.abs(r.getDouble(2) - 100.0) < 1e-9 && r.getInt(3) == 1)
    assert(math.abs(r.getDouble(4) - 98.0) < 1e-9 && r.getInt(5) == 2)
    assert(math.abs(r.getDouble(6) - 68.0) < 1e-9)
    assert(r.getString(7) == "MULTIPOLYGON")
    assert(math.abs(r.getDouble(8) - 48.0) < 1e-9)
    assert(r.getBoolean(9))   // the island point survives A − holedB
    assert(!r.getBoolean(10)) // the bitten flesh does not
    assert(math.abs(r.getDouble(11) - 100.0) < 1e-9 && r.getInt(12) == 1)
  }

  test("intersection: holed and concave-concave pairs via the boundary walk") {
    val holedA = geo.difference(rect(0, 0, 10, 10), rect(4, 4, 2, 2))
    // B covers the hole and more → A ∩ B = B minus the hole: 16-4
    val i1 = geo.intersection(holedA, rect(3, 3, 4, 4))
    // two concave L-shapes crossing properly → two disjoint 1.5x1.5 cells
    def ell(pts: Seq[(Double, Double)]) = geo.makePolygon(
      org.apache.spark.sql.functions.array(
        pts.map { case (x, y) => geo.point(lit(x), lit(y)) }: _*))
    val a = ell(Seq((0.0, 0.0), (6.0, 0.0), (6.0, 2.0), (2.0, 2.0), (2.0, 6.0), (0.0, 6.0)))
    val b = ell(Seq((6.5, 6.5), (0.5, 6.5), (0.5, 4.5), (4.5, 4.5), (4.5, 0.5), (6.5, 0.5)))
    val i2 = geo.intersection(a, b)
    val r = one.select(
      geo.area(i1).as("a1"), geo.nRings(i1).as("n1"),
      geo.area(i2).as("a2"), geo.geometryType(i2).as("t2")).collect().head
    assert(math.abs(r.getDouble(0) - 12.0) < 1e-9 && r.getInt(1) == 2)
    assert(math.abs(r.getDouble(2) - 4.5) < 1e-9)
    assert(r.getString(3) == "MULTIPOLYGON")
  }

  test("multipolygon operands: union bridges parts, difference/intersection decompose") {
    val mA = geo.collectGeoms(array(rect(0, 0, 4, 4), rect(10, 0, 4, 4))) // MULTIPOLYGON
    // bridge overlaps both squares → everything merges into ONE polygon:
    // 16 + 16 + 16 − 2 − 2
    val u = geo.union(mA, rect(3, 1, 8, 2))
    // subtract the middle band → the two outer slabs survive
    val d = geo.difference(mA, rect(2, -1, 10, 6))
    // one A part fully consumed, the other untouched
    val d2 = geo.difference(mA, rect(-1, -1, 6, 6))
    // pairwise areal intersections: [3,4]x[1,3] + [10,11]x[1,3]
    val i = geo.intersection(mA, rect(3, 1, 8, 2))
    val r = one.select(
      geo.area(u).as("ua"), geo.geometryType(u).as("ut"),
      geo.area(d).as("da"), geo.geometryType(d).as("dt"),
      geo.area(d2).as("d2a"), geo.geometryType(d2).as("d2t"),
      geo.area(i).as("ia"), geo.geometryType(i).as("it")).collect().head
    assert(math.abs(r.getDouble(0) - 44.0) < 1e-9 && r.getString(1) == "POLYGON")
    assert(math.abs(r.getDouble(2) - 16.0) < 1e-9 && r.getString(3) == "MULTIPOLYGON")
    assert(math.abs(r.getDouble(4) - 16.0) < 1e-9 && r.getString(5) == "POLYGON")
    assert(math.abs(r.getDouble(6) - 4.0) < 1e-9 && r.getString(7) == "MULTIPOLYGON")
  }

  test("difference: empty and lower-dim cases") {
    val r = one.select(
      geo.difference(rect(2, 2, 1, 1), rect(0, 0, 6, 6)).as("empty"),
      geo.area(geo.difference(rect(0, 0, 2, 2),
        geo.point(lit(1.0), lit(1.0)))).as("aPt")).collect().head
    assert(r.isNullAt(0))          // A ⊆ B → empty → null
    assert(r.getDouble(1) == 4.0)  // minus a point: unchanged
  }

  test("unary_union merges a collected set of rectangles") {
    val uu = geo.unaryUnion(geo.collectGeoms(array(
      rect(0, 0, 2, 2), rect(2, 0, 2, 2), rect(10, 0, 1, 1))))
    val r = one.select(geo.area(uu).as("a"), geo.geometryType(uu).as("t"))
      .collect().head
    assert(math.abs(r.getDouble(0) - 9.0) < 1e-9)
    assert(r.getString(1) == "MULTIPOLYGON")
  }

  test("line_merge stitches shared endpoints across orientations") {
    val ml = geo.collectGeoms(array(
      geo.makeLine(pts((0.0, 0.0), (1.0, 0.0))),
      geo.makeLine(pts((2.0, 0.0), (1.0, 0.0))),  // reversed orientation
      geo.makeLine(pts((2.0, 0.0), (3.0, 1.0))),
      geo.makeLine(pts((9.0, 9.0), (8.0, 8.0))))) // separate component
    val lm = geo.lineMerge(ml)
    val r = one.select(geo.geometryType(lm).as("t"), geo.length(lm).as("len"),
      geo.nPoints(lm).as("np")).collect().head
    assert(r.getString(0) == "MULTILINESTRING")
    assert(math.abs(r.getDouble(1) - (2.0 + 2.0 * math.sqrt(2))) < 1e-9)
    assert(r.getInt(2) == 6) // 4-point chain + 2-point tail
  }

  test("convex_hull: concave polygon, multipoint cloud, degenerate cases") {
    // L-shape: hull adds the (4,2)-(2,4) closing edge → area 14 (L is 12)
    val lshape = geo.makePolygon(pts((0.0, 0.0), (4.0, 0.0), (4.0, 2.0),
      (2.0, 2.0), (2.0, 4.0), (0.0, 4.0)))
    val cloud = geo.collectGeoms(array(
      geo.point(lit(0.0), lit(0.0)), geo.point(lit(4.0), lit(0.0)),
      geo.point(lit(2.0), lit(6.0)), geo.point(lit(2.0), lit(1.0)))) // interior pt drops
    val collinear = geo.collectGeoms(array(
      geo.point(lit(0.0), lit(0.0)), geo.point(lit(1.0), lit(1.0)),
      geo.point(lit(3.0), lit(3.0))))
    val r = one.select(
      geo.area(geo.convexHull(lshape)).as("la"),
      geo.geometryType(geo.convexHull(lshape)).as("lt"),
      geo.area(geo.convexHull(cloud)).as("ca"),
      geo.nPoints(geo.convexHull(cloud)).as("cn"),
      geo.geometryType(geo.convexHull(collinear)).as("colt"),
      geo.length(geo.convexHull(collinear)).as("coll"),
      geo.geometryType(geo.convexHull(geo.point(lit(1.0), lit(2.0)))).as("pt"))
      .collect().head
    assert(r.getDouble(0) == 14.0 && r.getString(1) == "POLYGON")
    assert(r.getDouble(2) == 12.0 && r.getInt(3) == 4) // triangle ring, closed
    assert(r.getString(4) == "LINESTRING" &&
      math.abs(r.getDouble(5) - 3.0 * math.sqrt(2)) < 1e-9)
    assert(r.getString(6) == "POINT")
  }

  test("new geo ops are SQL-registered (geo_union/difference/collect/convex_hull/...)") {
    // the bare test session doesn't load GraftExtensions — register the
    // SAME builders the extension injects (pattern shared with GeoGeomSpec)
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
    import org.apache.spark.sql.types.DoubleType
    import graft.exts.{GeoMake, GeoMeasure, GeoPointWkb, GeoSetOpExpr, GeoText, GeoTransform}
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("geo_point",
      (ch: Seq[Expression]) => GeoPointWkb(Cast(ch(0), DoubleType), Cast(ch(1), DoubleType)),
      "built-in")
    reg.createOrReplaceTempFunction("geo_area",
      (ch: Seq[Expression]) => GeoMeasure(ch.head, "area"), "built-in")
    reg.createOrReplaceTempFunction("geo_type",
      (ch: Seq[Expression]) => GeoText(ch.head, "geometry_type"), "built-in")
    Seq("make_line", "make_polygon", "collect").foreach { op =>
      reg.createOrReplaceTempFunction(s"geo_$op",
        (ch: Seq[Expression]) => GeoMake(ch.head, op), "built-in")
    }
    Seq("unary_union", "line_merge", "convex_hull").foreach { op =>
      reg.createOrReplaceTempFunction(s"geo_$op",
        (ch: Seq[Expression]) => GeoTransform(ch.head, op), "built-in")
    }
    Seq("union", "difference").foreach { op =>
      reg.createOrReplaceTempFunction(s"geo_$op",
        (ch: Seq[Expression]) => GeoSetOpExpr(ch(0), ch(1), op), "built-in")
    }
    val r = spark.sql("""
      SELECT
        geo_area(geo_union(
          geo_make_polygon(array(geo_point(0D,0D), geo_point(4D,0D), geo_point(4D,4D), geo_point(0D,4D))),
          geo_make_polygon(array(geo_point(2D,0D), geo_point(6D,0D), geo_point(6D,4D), geo_point(2D,4D))))) AS ua,
        geo_area(geo_difference(
          geo_make_polygon(array(geo_point(0D,0D), geo_point(4D,0D), geo_point(4D,4D), geo_point(0D,4D))),
          geo_make_polygon(array(geo_point(2D,2D), geo_point(6D,2D), geo_point(6D,6D), geo_point(2D,6D))))) AS da,
        geo_type(geo_collect(array(geo_point(1D,1D), geo_point(2D,2D)))) AS ct,
        geo_area(geo_convex_hull(geo_collect(array(
          geo_point(0D,0D), geo_point(4D,0D), geo_point(2D,6D), geo_point(2D,1D))))) AS ha,
        geo_type(geo_line_merge(geo_collect(array(
          geo_make_line(array(geo_point(0D,0D), geo_point(1D,0D))),
          geo_make_line(array(geo_point(1D,0D), geo_point(2D,0D))))))) AS lm,
        geo_area(geo_unary_union(geo_collect(array(
          geo_make_polygon(array(geo_point(0D,0D), geo_point(2D,0D), geo_point(2D,2D), geo_point(0D,2D))),
          geo_make_polygon(array(geo_point(5D,0D), geo_point(6D,0D), geo_point(6D,1D), geo_point(5D,1D))))))) AS uu
    """).collect().head
    assert(math.abs(r.getDouble(0) - 24.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 12.0) < 1e-9)
    assert(r.getString(2) == "MULTIPOINT")
    assert(r.getDouble(3) == 12.0)
    assert(r.getString(4) == "LINESTRING")
    assert(math.abs(r.getDouble(5) - 5.0) < 1e-9)
  }

  test("mixed-dimension collection set-op operands (round 9)") {
    // A = GC(4x4 square at origin, line x∈[10,14] on y=0, far point,
    // point INSIDE the square); B = 4x4 square at (2,0) overlapping A's
    val mixedA = geo.collectGeoms(array(
      rect(0, 0, 4, 4),
      geo.makeLine(pts((10.0, 0.0), (14.0, 0.0))),
      geo.point(lit(20.0), lit(0.0)),
      geo.point(lit(2.0), lit(2.0))))
    val bPoly = rect(2, 0, 4, 4)
    val u = geo.union(mixedA, bPoly)
    val d = geo.difference(mixedA, bPoly)
    val i = geo.intersection(mixedA, bPoly)
    val r = one.select(
      geo.geometryType(u).as("ut"), geo.area(u).as("ua"), geo.length(u).as("ul"),
      geo.geometryType(d).as("dt"), geo.area(d).as("da"), geo.length(d).as("dl"),
      geo.geometryType(i).as("it"), geo.area(i).as("ia"),
      geo.asText(i).as("iw")).collect().head
    // union: polygons merge to area 24; interior point absorbed; line +
    // far point pass through → GC(polygon, line, point)
    assert(r.getString(0) == "GEOMETRYCOLLECTION")
    assert(math.abs(r.getDouble(1) - 24.0) < 1e-9)
    assert(math.abs(r.getDouble(2) - 4.0) < 1e-9)
    // difference: A.poly − B = 2x4 slab (area 8); line/far point keep;
    // in-B point dropped
    assert(r.getString(3) == "GEOMETRYCOLLECTION")
    assert(math.abs(r.getDouble(4) - 8.0) < 1e-9)
    assert(math.abs(r.getDouble(5) - 4.0) < 1e-9)
    // intersection: overlap slab (area 8) + the point inside both
    assert(r.getString(6) == "GEOMETRYCOLLECTION")
    assert(math.abs(r.getDouble(7) - 8.0) < 1e-9)
    assert(r.getString(8).contains("POINT (2 2)"))

    // line crossing the areal part CLIPS (round 9 second pass): the
    // covered stretch absorbs into the closed region, the outside
    // stretch rides on; fully-covered line is absorbed exactly
    val crossing = geo.collectGeoms(array(
      rect(0, 0, 4, 4), geo.makeLine(pts((2.0, 2.0), (9.0, 2.0)))))
    val covered = geo.collectGeoms(array(
      rect(0, 0, 4, 4), geo.makeLine(pts((1.0, 1.0), (3.0, 1.0)))))
    val r2 = one.select(
      geo.geometryType(geo.union(crossing, rect(20, 0, 1, 1))).as("cross_t"),
      geo.area(geo.union(crossing, rect(20, 0, 1, 1))).as("cross_a"),
      geo.length(geo.union(crossing, rect(20, 0, 1, 1))).as("cross_len"),
      geo.geometryType(geo.union(covered, rect(20, 0, 1, 1))).as("cov_t"),
      geo.area(geo.union(covered, rect(20, 0, 1, 1))).as("cov_a")).collect().head
    assert(r2.getString(0) == "GEOMETRYCOLLECTION")
    assert(r2.getDouble(1) == 17.0)
    assert(r2.getDouble(2) == 5.0) // (4,2)→(9,2) survives outside
    assert(r2.getString(3) == "MULTIPOLYGON")
    assert(r2.getDouble(4) == 17.0)

    // pure line multis: disjoint pass-through; collinear overlap MERGES
    // (round 9 second pass: line union nodes instead of nulling)
    val l1 = geo.makeLine(pts((0.0, 0.0), (2.0, 0.0)))
    val l2 = geo.makeLine(pts((0.0, 5.0), (2.0, 5.0)))
    val l3 = geo.makeLine(pts((1.0, 0.0), (3.0, 0.0)))
    val r3 = one.select(
      geo.geometryType(geo.union(l1, l2)).as("t"),
      geo.length(geo.union(l1, l2)).as("len"),
      geo.geometryType(geo.union(l1, l3)).as("ot"),
      geo.length(geo.union(l1, l3)).as("olen"),
      // subtrahend with zero-area members only: minuend unchanged
      geo.area(geo.difference(rect(0, 0, 2, 2),
        geo.collectGeoms(array(l2, geo.point(lit(9.0), lit(9.0)))))).as("ident_a"),
      // point members subtract exactly: equal point dropped, rest keep
      geo.asText(geo.difference(
        geo.collectGeoms(array(geo.point(lit(1.0), lit(1.0)), geo.point(lit(5.0), lit(5.0)))),
        geo.point(lit(1.0), lit(1.0)))).as("pd")).collect().head
    assert(r3.getString(0) == "MULTILINESTRING")
    assert(r3.getDouble(1) == 4.0)
    assert(r3.getString(2) == "LINESTRING") // [0,2]∪[1,3] on y=0 → one chain
    assert(r3.getDouble(3) == 3.0)
    assert(r3.getDouble(4) == 4.0)
    assert(r3.getString(5) == "POINT (5 5)")
  }

  test("line/areal partial overlap clips on both sides (round 9)") {
    // intersection keeps the covered stretch — CONCAVE and HOLED
    // polygons included now (the convex-only limit is gone)
    val line = geo.makeLine(pts((-2.0, 2.0), (10.0, 2.0)))
    val box = rect(0, 0, 4, 4)
    // MULTIPOLYGON side: two boxes with a gap — the line threads both
    val twoBoxes = geo.collectGeoms(array(rect(0, 0, 4, 4), rect(6, 0, 2, 4)))
    val r = one.select(
      geo.geometryType(geo.intersection(line, box)).as("it"),
      geo.length(geo.intersection(line, box)).as("ilen"),
      geo.geometryType(geo.difference(line, box)).as("dt"),
      geo.length(geo.difference(line, box)).as("dlen"),
      geo.nPoints(geo.difference(line, box)).as("dnp"),
      geo.geometryType(geo.intersection(line, twoBoxes)).as("mt"),
      geo.length(geo.intersection(line, twoBoxes)).as("mlen"),
      geo.length(geo.difference(line, twoBoxes)).as("mdlen")).collect().head
    assert(r.getString(0) == "LINESTRING")
    assert(r.getDouble(1) == 4.0)  // covered [0,4]
    assert(r.getString(2) == "MULTILINESTRING")
    assert(r.getDouble(3) == 8.0)  // [-2,0] + [4,10]
    assert(r.getInt(4) == 4)
    assert(r.getString(5) == "MULTILINESTRING")
    assert(r.getDouble(6) == 6.0)  // [0,4] + [6,8]
    assert(r.getDouble(7) == 6.0)  // [-2,0] + [4,6] + [8,10]
  }

  test("line∩line and line−line 1-dim outputs (round 9)") {
    val a = geo.makeLine(pts((0.0, 0.0), (6.0, 0.0)))
    val b = geo.makeLine(pts((2.0, 0.0), (9.0, 0.0)))   // collinear overlap [2,6]
    val c = geo.makeLine(pts((3.0, -1.0), (3.0, 1.0)))  // crosses a at (3,0)
    val d = geo.makeLine(pts((2.0, 0.0), (4.0, 0.0)))   // inside a
    val r = one.select(
      geo.geometryType(geo.intersection(a, b)).as("it"),
      geo.length(geo.intersection(a, b)).as("ilen"),
      // crossing-only contact → the 0-dim portion comes back as a point
      (geo.asText(geo.intersection(a, c)) === "POINT (3 0)").as("cross_null"),
      // subtraction: interval cut out of the middle
      geo.geometryType(geo.difference(a, d)).as("dt"),
      geo.length(geo.difference(a, d)).as("dlen"),
      // a crossing subtrahend is measure-zero: line unchanged
      round(geo.length(geo.difference(a, c)), 6).as("xlen"),
      // fully covered minuend vanishes
      geo.difference(d, a).isNull.as("cov_null")).collect().head
    assert(r.getString(0) == "LINESTRING")
    assert(r.getDouble(1) == 4.0)
    assert(r.getBoolean(2))
    assert(r.getString(3) == "MULTILINESTRING")
    assert(r.getDouble(4) == 4.0) // [0,2] + [4,6]
    assert(r.getDouble(5) == 6.0)
    assert(r.getBoolean(6))
  }

  test("line union NODES: crossings, T-junctions, collinear overlaps (round 9)") {
    // X crossing: 4 arms after noding (degree-4 node never re-merges),
    // total length preserved, 8 vertices (4 two-point pieces)
    val a = geo.makeLine(pts((0.0, 0.0), (4.0, 4.0)))
    val b = geo.makeLine(pts((0.0, 4.0), (4.0, 0.0)))
    // T junction: vertical meets horizontal interior → 3 members
    val hz = geo.makeLine(pts((0.0, 0.0), (4.0, 0.0)))
    val vt = geo.makeLine(pts((2.0, 0.0), (2.0, 3.0)))
    // polyline interior vertices survive the round trip (degree-2 merge)
    val poly = geo.makeLine(pts((10.0, 0.0), (12.0, 0.0), (12.0, 2.0)))
    val far = geo.makeLine(pts((20.0, 0.0), (21.0, 0.0)))
    val r = one.select(
      geo.geometryType(geo.union(a, b)).as("xt"),
      geo.length(geo.union(a, b)).as("xlen"),
      geo.nPoints(geo.union(a, b)).as("xnp"),
      geo.geometryType(geo.union(hz, vt)).as("tt"),
      geo.length(geo.union(hz, vt)).as("tlen"),
      geo.nPoints(geo.union(hz, vt)).as("tnp"),
      geo.geometryType(geo.union(poly, far)).as("pt"),
      geo.length(geo.union(poly, far)).as("plen")).collect().head
    assert(r.getString(0) == "MULTILINESTRING")
    assert(math.abs(r.getDouble(1) - 8.0 * math.sqrt(2.0)) < 1e-9)
    assert(r.getInt(2) == 8)
    assert(r.getString(3) == "MULTILINESTRING")
    assert(math.abs(r.getDouble(4) - 7.0) < 1e-9)
    assert(r.getInt(5) == 6) // three 2-point pieces
    assert(r.getString(6) == "MULTILINESTRING")
    assert(math.abs(r.getDouble(7) - 5.0) < 1e-9)
  }

  test("overlapping collection members dissolve in mixed set-ops (round 9)") {
    // COLLECTION members carry no disjoint-interior guarantee: two
    // overlapping 4x4 squares (union area 24, not 32) plus a far point
    val overlapping = geo.collectGeoms(array(
      rect(0, 0, 4, 4), rect(2, 0, 4, 4), geo.point(lit(50.0), lit(50.0))))
    val big = rect(-1, -1, 10, 10)
    val r = one.select(
      // intersection with a covering rectangle = the dissolved region
      geo.area(geo.intersection(overlapping, big)).as("ia"),
      // union with a far square: overlapping members merge first
      geo.area(geo.union(overlapping, rect(20, 0, 2, 2))).as("ua"),
      // difference: dissolved minuend minus a middle band
      geo.area(geo.difference(overlapping, rect(2, -1, 2, 7))).as("da")).collect().head
    assert(math.abs(r.getDouble(0) - 24.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 28.0) < 1e-9)
    // dissolved 24 minus the 2x4 covered middle strip = 16
    assert(math.abs(r.getDouble(2) - 16.0) < 1e-9)
  }

  test("touch-only polygon intersections return the boundary contact set (round 9)") {
    def wkt(c: org.apache.spark.sql.Column) = geo.asText(c)
    val r = one.select(
      // full shared edge → LINESTRING
      wkt(geo.intersection(rect(0, 0, 1, 1), rect(1, 0, 1, 1))).as("edge"),
      // corner-only contact → POINT
      wkt(geo.intersection(rect(0, 0, 1, 1), rect(1, 1, 1, 1))).as("corner"),
      // partial shared edge (T-tile) → the overlapped stretch only
      wkt(geo.intersection(rect(0, 1, 2, 1),
        geo.makePolygon(pts((0.5, 0), (1.5, 0), (1.5, 1), (0.5, 1))))).as("partial"),
      // L-shape sharing an edge AND a collinear continuation corner:
      // contact pieces merge across the shared vertex
      wkt(geo.intersection(
        geo.makePolygon(pts((0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3))),
        rect(1, 1, 2, 2))).as("lshape"),
      // multipolygon side: edge contact with one part, corner with the
      // other → GEOMETRYCOLLECTION(line, point)
      wkt(geo.intersection(
        geo.collectGeoms(array(rect(0, 0, 1, 1), rect(2, 2, 1, 1))),
        rect(1, 0, 1, 2))).as("multi"),
      // square exactly filling a hole → the closed hole ring (assert by
      // type + length: the chain's start vertex is stitch-order defined)
      geo.geometryType(geo.intersection(
        geo.difference(rect(0, 0, 4, 4), rect(1, 1, 2, 2)),
        rect(1, 1, 2, 2))).as("hole_t"),
      geo.length(geo.intersection(
        geo.difference(rect(0, 0, 4, 4), rect(1, 1, 2, 2)),
        rect(1, 1, 2, 2))).as("hole_len"),
      // overlapping interiors still produce the areal intersection
      wkt(geo.intersection(rect(0, 0, 2, 2), rect(1, 1, 2, 2))).as("areal"),
      // disjoint pairs stay null (empty-result convention)
      geo.intersection(rect(0, 0, 1, 1), rect(5, 5, 1, 1)).isNull.as("disjoint"))
      .collect().head
    assert(r.getString(0) == "LINESTRING (1 0, 1 1)")
    assert(r.getString(1) == "POINT (1 1)")
    assert(r.getString(2) == "LINESTRING (0.5 1, 1.5 1)")
    assert(r.getString(3) == "LINESTRING (3 1, 1 1, 1 3)")
    assert(r.getString(4) == "GEOMETRYCOLLECTION (LINESTRING (1 0, 1 1), POINT (2 2))")
    assert(r.getString(5) == "LINESTRING")
    assert(r.getDouble(6) == 8.0)
    assert(r.getString(7).startsWith("POLYGON"))
    assert(r.getBoolean(8))
  }

  test("multi WKB round-trips through flip twice") {
    val mp = geo.collectGeoms(array(rect(0, 0, 2, 2), rect(5, 1, 3, 3)))
    val r = one.select(
      geo.area(geo.flipCoordinates(geo.flipCoordinates(mp))).as("a"),
      geo.asText(geo.flipCoordinates(mp)).as("wkt")).collect().head
    assert(r.getDouble(0) == 13.0)
    assert(r.getString(1).startsWith("MULTIPOLYGON ((("))
  }

  test("geometry_n returns the n-th member of Multi* and collections, 0-indexed") {
    val mp = geo.collectGeoms(array(geo.point(lit(0.0), lit(0.0)), geo.point(lit(1.0), lit(1.0))))
    val gc = geo.collectGeoms(array(geo.point(lit(5.0), lit(5.0)), rect(0, 0, 2, 2)))
    val line = geo.makeLine(pts((0.0, 0.0), (3.0, 4.0)))
    val r = one.select(
      geo.asText(geo.geometryN(mp, lit(0))).as("m0"),
      geo.asText(geo.geometryN(mp, lit(1))).as("m1"),
      geo.geometryN(mp, lit(2)).isNull.as("m2"),
      geo.geometryN(mp, lit(-1)).isNull.as("mneg"),
      geo.asText(geo.geometryN(gc, lit(1))).as("g1"),
      geo.asText(geo.geometryN(line, lit(0))).as("l0"),
      geo.geometryN(line, lit(1)).isNull.as("l1")).head()
    assert(r.getString(0) == "POINT (0 0)")
    assert(r.getString(1) == "POINT (1 1)")
    assert(r.getBoolean(2) && r.getBoolean(3))
    assert(r.getString(4) == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    assert(r.getString(5) == "LINESTRING (0 0, 3 4)")
    assert(r.getBoolean(6))
  }

  test("nrings counts every polygon member's rings, as PostGIS ST_NRings") {
    val holed = geo.difference(rect(0, 0, 10, 10), rect(4, 4, 2, 2)) // shell + hole
    val mpoly = geo.collectGeoms(array(holed, rect(20, 0, 2, 2)))
    val nested = geo.collectGeoms(array(geo.point(lit(50.0), lit(50.0)), mpoly))
    val mpt = geo.collectGeoms(array(geo.point(lit(0.0), lit(0.0)), geo.point(lit(1.0), lit(1.0))))
    val r = one.select(
      geo.geometryType(mpoly).as("t"), geo.nRings(mpoly).as("n_mpoly"),
      geo.geometryType(nested).as("tc"), geo.nRings(nested).as("n_nested"),
      geo.nRings(mpt).as("n_mpt")).head()
    assert(r.getString(0) == "MULTIPOLYGON" && r.getInt(1) == 3)
    assert(r.getString(2) == "GEOMETRYCOLLECTION" && r.getInt(3) == 3)
    assert(r.getInt(4) == 0)
  }
}
