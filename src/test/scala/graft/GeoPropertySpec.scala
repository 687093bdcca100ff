package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.expressions.Literal

import graft.exts.{GeoGeom, GeoGeomOps, GeoReproject, GeoWkb}

/** Property-style invariants over the static geometry kernel (no Spark
  * session): seeded random int-grid rectangles, convex polygons and
  * monotone polylines, asserting the relations the DE-9IM predicates,
  * measures and constructors must satisfy pairwise. Int coordinates keep
  * every arithmetic step IEEE-exact, so the assertions are strict. */
class GeoPropertySpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(20260812L)

  private def rect(x0: Int, y0: Int, w: Int, h: Int): Array[Byte] = {
    val (x1, y1) = (x0 + w, y0 + h)
    GeoGeom.writePolygon(Array(Array[Double](
      x0, y0, x1, y0, x1, y1, x0, y1, x0, y0)))
  }

  private def randRect(): Array[Byte] =
    rect(rnd.nextInt(40) - 20, rnd.nextInt(40) - 20, 1 + rnd.nextInt(12), 1 + rnd.nextInt(12))

  /** Convex polygon: int points sampled on a circle, sorted by angle. */
  private def randConvex(): Array[Byte] = {
    val cx = rnd.nextInt(30) - 15; val cy = rnd.nextInt(30) - 15
    val r = 4 + rnd.nextInt(8)
    val angles = Seq.fill(3 + rnd.nextInt(5))(rnd.nextDouble() * 2 * math.Pi)
      .distinct.sorted
    if (angles.size < 3) return randConvex()
    val pts = angles.map(a =>
      (math.round(cx + r * math.cos(a)).toDouble, math.round(cy + r * math.sin(a)).toDouble))
      .distinct
    if (pts.size < 3) return randConvex()
    val flat = (pts :+ pts.head).flatMap { case (x, y) => Seq(x, y) }.toArray
    val p = GeoGeom.writePolygon(Array(flat))
    // rounding to the grid can produce a degenerate/non-convex ring — resample
    val v = GeoGeomOps.isValid(p)
    if (v != null && v.booleanValue()) p else randConvex()
  }

  /** Monotone (x-strictly-increasing) polyline — closest-point queries on
    * it are well-behaved at the endpoints. */
  private def randLine(): Array[Byte] = {
    var x = rnd.nextInt(10) - 20
    val pts = (0 until 2 + rnd.nextInt(4)).map { _ =>
      x += 1 + rnd.nextInt(6)
      (x.toDouble, (rnd.nextInt(20) - 10).toDouble)
    }
    GeoGeom.writeLine(pts.flatMap { case (a, b) => Seq(a, b) }.toArray)
  }

  private def randPoint(): Array[Byte] =
    GeoWkb.writePoint(rnd.nextInt(50) - 25, rnd.nextInt(50) - 25)

  private def geoms(): Array[Byte] = rnd.nextInt(3) match {
    case 0 => randRect()
    case 1 => randLine()
    case _ => randPoint()
  }

  test("distance: symmetric, non-negative; intersects ⇔ distance == 0") {
    for (_ <- 1 to 300) {
      val a = geoms(); val b = geoms()
      val dab = GeoGeom.distance(a, b).doubleValue()
      val dba = GeoGeom.distance(b, a).doubleValue()
      assert(dab == dba && dab >= 0.0)
      assert(GeoGeom.intersects(a, b).booleanValue() == (dab == 0.0))
    }
  }

  test("containment chain: containsProperly ⇒ covers ⇒ intersects; self-relations") {
    for (_ <- 1 to 300) {
      val a = randRect(); val b = geoms()
      val cp = GeoGeomOps.containsProperly(a, b).booleanValue()
      val cov = GeoGeomOps.covers(a, b).booleanValue()
      if (cp) assert(cov, "containsProperly must imply covers")
      if (cov) assert(GeoGeom.intersects(a, b).booleanValue(), "covers must imply intersects")
      assert(GeoGeomOps.covers(a, a).booleanValue())
      assert(GeoGeomOps.geoEquals(a, a).booleanValue())
      assert(GeoGeomOps.orderingEquals(a, a).booleanValue())
    }
  }

  test("touches/overlaps: symmetric, mutually exclusive, both imply intersects") {
    for (_ <- 1 to 300) {
      val a = randRect(); val b = randRect()
      val t = GeoGeomOps.touches(a, b).booleanValue()
      val o = GeoGeomOps.overlaps(a, b).booleanValue()
      assert(t == GeoGeomOps.touches(b, a).booleanValue(), "touches must be symmetric")
      assert(o == GeoGeomOps.overlaps(b, a).booleanValue(), "overlaps must be symmetric")
      assert(!(t && o), "touches and overlaps are mutually exclusive")
      if (t || o) assert(GeoGeom.intersects(a, b).booleanValue())
    }
  }

  test("rect ∩ rect: exact overlap arithmetic; result covered by both") {
    for (_ <- 1 to 300) {
      val (ax, ay, aw, ah) = (rnd.nextInt(20) - 10, rnd.nextInt(20) - 10,
        1 + rnd.nextInt(10), 1 + rnd.nextInt(10))
      val (bx, by, bw, bh) = (rnd.nextInt(20) - 10, rnd.nextInt(20) - 10,
        1 + rnd.nextInt(10), 1 + rnd.nextInt(10))
      val a = rect(ax, ay, aw, ah); val b = rect(bx, by, bw, bh)
      val w = math.min(ax + aw, bx + bw) - math.max(ax, bx)
      val h = math.min(ay + ah, by + bh) - math.max(ay, by)
      val ix = GeoGeomOps.intersection(a, b)
      if (w > 0 && h > 0) {
        assert(ix != null, s"expected non-empty intersection ($w x $h)")
        assert(GeoGeom.area(ix).doubleValue() == w.toDouble * h)
        assert(GeoGeomOps.covers(a, ix).booleanValue())
        assert(GeoGeomOps.covers(b, ix).booleanValue())
      } else if ((w == 0 && h > 0) || (h == 0 && w > 0)) {
        // touch-only shared edge → the contact LINESTRING (round 9)
        assert(ix != null, s"expected edge contact ($w x $h)")
        assert(GeoGeom.parse(ix).kind == 2)
        assert(GeoGeom.length(ix).doubleValue() == math.max(w, h).toDouble)
      } else if (w == 0 && h == 0) {
        // corner contact → the touch POINT
        assert(ix != null && GeoGeom.parse(ix).kind == 1)
      } else assert(ix == null, "disjoint pair must be null")
    }
  }

  test("convex ∩ convex: area bounded by both operands; covered by both") {
    for (_ <- 1 to 200) {
      val a = randConvex(); val b = randConvex()
      val ix = GeoGeomOps.intersection(a, b)
      if (ix != null) {
        val ia = GeoGeom.area(ix).doubleValue()
        assert(ia <= GeoGeom.area(a).doubleValue() + 1e-9)
        assert(ia <= GeoGeom.area(b).doubleValue() + 1e-9)
        val kind = GeoGeom.parse(ix).kind
        if (kind == 3 || kind == 6) assert(ia > 0.0)
        else {
          // touch-only contact set (round 9): zero area, operands touch
          assert(ia == 0.0)
          assert(GeoGeomOps.touches(a, b).booleanValue())
        }
      }
    }
  }

  test("boolean ops satisfy inclusion-exclusion over random simple/holed/multi pairs") {
    // area(A∪B) + area(A∩B) = area(A) + area(B) and
    // area(A−B) = area(A) − area(A∩B): one identity exercises union,
    // intersection (incl. the round-7 general walk) and difference
    // together. Null results are legitimate ONLY as provably-empty
    // intersections (disjoint/touch) or honest refusals — refusals skip
    // the case but must stay a small minority on this grid.
    def holedRect(): Array[Byte] = {
      val x0 = rnd.nextInt(30) - 15; val y0 = rnd.nextInt(30) - 15
      val w = 6 + rnd.nextInt(8); val h = 6 + rnd.nextInt(8)
      val outer = rect(x0, y0, w, h)
      val inner = rect(x0 + 2, y0 + 2, 1 + rnd.nextInt(w - 4), 1 + rnd.nextInt(h - 4))
      val d = GeoGeomOps.difference(outer, inner)
      if (d == null) outer else d
    }
    def multiRect(): Array[Byte] = {
      val a = rect(rnd.nextInt(20) - 25, rnd.nextInt(30) - 15,
        1 + rnd.nextInt(6), 1 + rnd.nextInt(6))
      val b = rect(rnd.nextInt(20) + 8, rnd.nextInt(30) - 15,
        1 + rnd.nextInt(6), 1 + rnd.nextInt(6))
      GeoGeom.writeMulti(GeoGeom.MultiPolygonType, Array(a, b))
    }
    def operand(): Array[Byte] = rnd.nextInt(4) match {
      case 0 => randRect()
      case 1 => randConvex()
      case 2 => holedRect()
      case _ => multiRect()
    }
    var evaluated = 0; var refused = 0
    for (_ <- 1 to 400) {
      val a = operand(); val b = operand()
      val areaA = GeoGeom.area(a).doubleValue()
      val areaB = GeoGeom.area(b).doubleValue()
      val i = GeoGeomOps.intersection(a, b)
      val iArea: Option[Double] =
        if (i != null) Some(GeoGeom.area(i).doubleValue())
        else {
          val d = GeoGeom.distance(a, b)
          val t = GeoGeomOps.touches(a, b)
          if ((d != null && d.doubleValue() > 0.0) || (t != null && t.booleanValue()))
            Some(0.0) // provably empty
          else None
        }
      val u = GeoGeomOps.union(a, b)
      val df = GeoGeomOps.difference(a, b)
      (iArea, Option(u)) match {
        case (Some(ia), Some(uu)) =>
          evaluated += 1
          val ua = GeoGeom.area(uu).doubleValue()
          assert(math.abs(ua + ia - (areaA + areaB)) < 1e-6,
            s"inclusion-exclusion: u=$ua i=$ia a=$areaA b=$areaB")
          if (df != null) {
            val da = GeoGeom.area(df).doubleValue()
            assert(math.abs(da - (areaA - ia)) < 1e-6,
              s"difference identity: d=$da a=$areaA i=$ia")
          } else {
            // null difference must mean empty: A ⊆ B
            val c = GeoGeom.contains(b, a)
            assert(c != null && c.booleanValue(),
              s"difference null but A not within B (areaA=$areaA i=$ia)")
          }
        case _ => refused += 1
      }
    }
    // refusals (tangency stitches the walk won't take) must stay rare
    assert(evaluated >= 300, s"only $evaluated of 400 pairs evaluated ($refused refused)")
  }

  test("maxDistance >= distance; dFullyWithin consistent with maxDistance") {
    for (_ <- 1 to 300) {
      val a = geoms(); val b = geoms()
      val mx = GeoGeomOps.maxDistance(a, b).doubleValue()
      assert(mx >= GeoGeom.distance(a, b).doubleValue() - 1e-12)
    }
  }

  test("line referencing: locate endpoints at 0/1; substring length proportional") {
    for (_ <- 1 to 300) {
      val l = randLine()
      val start = GeoGeom.startPoint(l); val end = GeoGeom.endPoint(l)
      assert(GeoGeomOps.lineLocatePoint(l, start).doubleValue() == 0.0)
      assert(GeoGeomOps.lineLocatePoint(l, end).doubleValue() == 1.0)
      val f0 = rnd.nextInt(4) * 0.2; val f1 = f0 + 0.2 + rnd.nextInt(2) * 0.2
      val sub = GeoGeomOps.lineSubstring(l, f0, math.min(1.0, f1))
      assert(sub != null)
      val total = GeoGeom.length(l).doubleValue()
      val expect = (math.min(1.0, f1) - f0) * total
      assert(math.abs(GeoGeom.length(sub).doubleValue() - expect) < 1e-9 * math.max(1, total))
    }
  }

  test("simplify: endpoints kept, vertex count never grows, tol 0 keeps shape length") {
    for (_ <- 1 to 300) {
      val l = randLine()
      val s = GeoGeomOps.simplify(l, rnd.nextInt(5).toDouble)
      assert(GeoGeom.nPoints(s).intValue() <= GeoGeom.nPoints(l).intValue())
      assert(java.util.Arrays.equals(GeoGeom.startPoint(s), GeoGeom.startPoint(l)))
      assert(java.util.Arrays.equals(GeoGeom.endPoint(s), GeoGeom.endPoint(l)))
      val s0 = GeoGeomOps.simplify(l, 0.0)
      assert(math.abs(GeoGeom.length(s0).doubleValue() - GeoGeom.length(l).doubleValue()) < 1e-9)
    }
  }

  test("azimuth: reverse direction differs by π (mod 2π)") {
    for (_ <- 1 to 300) {
      val a = randPoint(); val b = randPoint()
      val ab = GeoGeomOps.azimuth(a, b); val ba = GeoGeomOps.azimuth(b, a)
      if (ab != null) {
        val d = math.abs(ab.doubleValue() - ba.doubleValue())
        assert(math.abs(d - math.Pi) < 1e-12, s"got $d")
      } else assert(ba == null)
    }
  }

  test("web mercator roundtrip: 4326 → 3857 → 4326 within 1e-9 degrees") {
    for (_ <- 1 to 300) {
      val lon = rnd.nextDouble() * 340 - 170
      val lat = rnd.nextDouble() * 160 - 80
      val p = GeoWkb.writePoint(lon, lat)
      def transform(g: Array[Byte], from: Int, to: Int) =
        GeoReproject.bySrid(Literal(g), from, to).eval().asInstanceOf[Array[Byte]]
      val back = transform(transform(p, 4326, 3857), 3857, 4326)
      val c = GeoWkb.readPoint(GeoGeomOps.asBinary(back))
      assert(math.abs(c(0) - lon) < 1e-9 && math.abs(c(1) - lat) < 1e-9)
      assert(GeoGeomOps.srid(back).intValue() == 4326)
    }
  }

  test("buffer: contains its center, area ≈ 0.9936·πr² (32-gon), valid ring") {
    for (_ <- 1 to 100) {
      val p = randPoint()
      val r = 1.0 + rnd.nextInt(10)
      val b = GeoGeomOps.buffer(p, r)
      assert(GeoGeom.contains(b, p).booleanValue())
      val a = GeoGeom.area(b).doubleValue()
      val disc = math.Pi * r * r
      assert(a > 0.98 * disc && a < disc)
      assert(GeoGeomOps.isValid(b).booleanValue())
    }
  }

  test("srid plumbing: set/get roundtrip, asBinary strips, ewkt prefixes") {
    for (_ <- 1 to 100) {
      val g = geoms()
      val s = 1 + rnd.nextInt(100000)
      val tagged = GeoGeomOps.setSrid(g, s)
      assert(GeoGeomOps.srid(tagged).intValue() == s)
      assert(GeoGeomOps.srid(GeoGeomOps.asBinary(tagged)).intValue() == 0)
      assert(GeoGeomOps.asEwkt(tagged).startsWith(s"SRID=$s;"))
      assert(GeoGeomOps.geoEquals(GeoGeomOps.asBinary(tagged), GeoGeomOps.asBinary(g))
        .booleanValue())
    }
  }

  test("validity: generated rects/convex/lines valid; bowties invalid") {
    for (_ <- 1 to 100) {
      assert(GeoGeomOps.isValid(randRect()).booleanValue())
      assert(GeoGeomOps.isValid(randLine()).booleanValue())
      val x = rnd.nextInt(20) - 10; val y = rnd.nextInt(20) - 10
      val s = 2 + rnd.nextInt(6)
      val bowtie = GeoGeom.writePolygon(Array(Array[Double](
        x, y, x + s, y + s, x + s, y, x, y + s, x, y)))
      assert(!GeoGeomOps.isValid(bowtie).booleanValue())
    }
  }
}
