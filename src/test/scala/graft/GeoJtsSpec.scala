package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.exts.{GeoGeom, GeoGeomOps, GeoWkb}

/** The WKB parser's guards (declared counts, nesting depth, Z/M
  * ordinates) and topology cases that need robust predicates: inexact
  * near-collinear tangency, buffer offsets that meet, and lines threading
  * polygon vertices between their own vertices. Static calls, no Spark
  * session. */
class GeoJtsSpec extends AnyFunSuite {

  private def le(n: Int): java.nio.ByteBuffer =
    java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)

  private def poly(coords: (Double, Double)*): Array[Byte] =
    GeoGeom.writePolygon(Array((coords :+ coords.head).flatMap { case (x, y) => Seq(x, y) }.toArray))

  private def line(coords: (Double, Double)*): Array[Byte] =
    GeoGeom.writeLine(coords.flatMap { case (x, y) => Seq(x, y) }.toArray)

  private def allocatedBy(body: => Any): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(id)
    body
    mx.getThreadAllocatedBytes(id) - before
  }

  test("a huge declared count in a tiny input is null without allocating for it") {
    // 45 bytes: header, a count, 36 bytes of payload
    def withCount(gtype: Int, n: Int) = le(45).put(1.toByte).putInt(gtype).putInt(n).array()
    val inputs = Seq(
      "line 2^27 points" -> withCount(GeoGeom.LineType, 1 << 27),
      "line 2^30 points" -> withCount(GeoGeom.LineType, 1 << 30),
      "polygon 2^20 rings" -> withCount(GeoGeom.PolygonType, 1 << 20),
      "collection 2^20 members" -> withCount(GeoGeom.CollectionType, 1 << 20))
    GeoGeom.length(line((0, 0), (3, 4))) // load and link the parse path first
    inputs.foreach { case (what, wkb) =>
      var out: java.lang.Double = 0.0
      val bytes = allocatedBy { out = GeoGeom.length(wkb) }
      assert(out == null, what)
      assert(bytes < (1L << 20), s"$what: parsing allocated $bytes bytes")
    }
  }

  test("a geometry collection nested 100k deep is null, not a StackOverflowError") {
    val depth = 100000
    val bb = le(depth * 9 + 21)
    (0 until depth).foreach(_ => bb.put(1.toByte).putInt(GeoGeom.CollectionType).putInt(1))
    bb.put(GeoWkb.writePoint(1, 2))
    val deep = bb.array()
    assert(GeoGeom.parse(deep) == null)
    assert(GeoGeom.area(deep) == null)
    assert(GeoGeom.contains(deep, GeoWkb.writePoint(1, 2)) == null)
    assert(GeoGeomOps.union(deep, GeoWkb.writePoint(1, 2)) == null)
    assert(GeoGeomOps.buffer(deep, 1.0) == null)
  }

  test("Z and M ordinates are read past and dropped (EWKB flags and ISO codes)") {
    // LINESTRING Z (0 0 5, 3 4 5) and its M/ZM/SRID variants: 2-D length 5
    def lineWith(gtype: Int, extra: Int, srid: Option[Int] = None) = {
      val bb = le(9 + srid.size * 4 + 2 * (2 + extra) * 8).put(1.toByte).putInt(gtype)
      srid.foreach(bb.putInt)
      bb.putInt(2)
      Seq((0.0, 0.0), (3.0, 4.0)).foreach { case (x, y) =>
        bb.putDouble(x).putDouble(y)
        (0 until extra).foreach(_ => bb.putDouble(5.0))
      }
      bb.array()
    }
    val variants = Seq(
      "EWKB Z" -> lineWith(0x80000002, 1),
      "EWKB M" -> lineWith(0x40000002, 1),
      "EWKB ZM" -> lineWith(0xC0000002, 2),
      "EWKB Z + SRID" -> lineWith(0xA0000002, 1, Some(4326)),
      "ISO Z (1002)" -> lineWith(1002, 1),
      "ISO M (2002)" -> lineWith(2002, 1),
      "ISO ZM (3002)" -> lineWith(3002, 2))
    variants.foreach { case (what, wkb) =>
      assert(GeoGeom.length(wkb) == 5.0, what)
      assert(GeoGeom.asText(wkb) == "LINESTRING (0 0, 3 4)", what)
    }
    // POINT Z inside a MULTIPOINT: every member carries its own flags
    val mp = le(9 + 2 * 29).put(1.toByte).putInt(GeoGeom.MultiPointType).putInt(2)
    Seq((1.0, 2.0), (3.0, 4.0)).foreach { case (x, y) =>
      mp.put(1.toByte).putInt(0x80000001).putDouble(x).putDouble(y).putDouble(9.0)
    }
    assert(GeoGeom.asText(mp.array()) == "MULTIPOINT ((1 2), (3 4))")
    // an unknown dimension code (4002) and a short Z payload are null
    assert(GeoGeom.parse(lineWith(4002, 1)) == null)
    assert(GeoGeom.parse(lineWith(0x80000002, 0)) == null)
  }

  test("near-collinear tangency at 0.1 + 0.2: the union area is the sum") {
    // two squares on either side of the shared edge (0,0)→(p,q), with p a
    // sum of tenths (0.1 + 0.2 = 0.30000000000000004): the other corners
    // are inexact too, so the edges meet only near-collinearly
    for ((i, j) <- Seq((2, 1), (3, 6), (4, 2), (6, 3))) {
      val p = 0.1 * i + 0.1 * j; val q = 0.1 * j
      val a = poly((0, 0), (p, q), (p - q, q + p), (-q, p))
      val b = poly((0, 0), (q, -p), (p + q, q - p), (p, q))
      def area(g: Array[Byte]) = { assert(g != null, s"p=$p q=$q: null"); GeoGeom.area(g).doubleValue() }
      val u = GeoGeomOps.union(a, b)
      assert(math.abs(area(u) - (area(a) + area(b))) < 1e-15, s"p=$p q=$q union area")
      assert(GeoGeom.geometryType(u) == "POLYGON", s"p=$p q=$q")
      assert(math.abs(area(GeoGeomOps.difference(a, b)) - area(a)) < 1e-15, s"p=$p q=$q difference")
    }
  }

  test("U-shaped line whose offsets meet: the buffer is exact") {
    // arms 4 apart, r = 2: the inner offsets coincide on x = 2, so the gap
    // fills. Area: [-2,6]x[0,10] + [0,4]x[10,12] + two 8-step corner fans
    // + two 16-step caps, each step (r²/2)·sin(π/16)
    val u = GeoGeomOps.buffer(line((0, 0), (0, 10), (4, 10), (4, 0)), 2.0)
    assert(u != null)
    assert(math.abs(GeoGeom.area(u).doubleValue() - (88.0 + 48 * 2.0 * math.sin(math.Pi / 16))) < 1e-9)
    assert(GeoGeom.geometryType(u) == "POLYGON" && GeoGeomOps.nRings(u) == 1)
    assert(GeoGeomOps.isValid(u).booleanValue())
    assert(GeoGeom.contains(u, GeoWkb.writePoint(2, 5)).booleanValue()) // the filled gap
  }

  test("lines through polygon vertices: touches and crosses") {
    val diamond = poly((0, 2), (2, 0), (4, 2), (2, 4))
    // enters at the vertex (0,2), leaves at (4,2); its midpoint (6,2) is outside
    val through = line((-1, 2), (13, 2))
    // meets the diamond only at the vertex (2,0)
    val graze = line((-1, 0), (13, 0))
    assert(!GeoGeomOps.touches(through, diamond).booleanValue())
    assert(GeoGeomOps.crosses(through, diamond).booleanValue())
    assert(GeoGeomOps.touches(graze, diamond).booleanValue())
    assert(!GeoGeomOps.crosses(graze, diamond).booleanValue())
    assert(GeoGeom.intersects(graze, diamond).booleanValue())
  }
}
