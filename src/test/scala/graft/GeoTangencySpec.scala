package graft

import graft.exts.{GeoGeom, GeoGeomOps}

/** Collinear-overlap tangency battery for the polygon set ops
  * (exts/GeoGeometryOps.scala): operands sharing partial edge stretches,
  * hole-boundary tangencies, corridors that reconnect holes to shells,
  * and mixed areal+linear intersection outputs. Expected areas are
  * hand-computed (inclusion-exclusion over axis-aligned pieces); contact
  * sets are checked by length/endpoints so redundant collinear vertices
  * don't over-constrain. All coordinates are exactly representable;
  * INEXACT near-collinear tangency is covered in GeoJtsSpec.
  */
class GeoTangencySpec extends org.scalatest.funsuite.AnyFunSuite {

  private def ring(coords: (Double, Double)*): Array[Double] = {
    val c = coords :+ coords.head
    c.flatMap { case (x, y) => Seq(x, y) }.toArray
  }
  private def poly(coords: (Double, Double)*): Array[Byte] =
    GeoGeom.writePolygon(Array(ring(coords: _*)))
  private def rect(x0: Double, y0: Double, x1: Double, y1: Double): Array[Byte] =
    poly((x0, y0), (x1, y0), (x1, y1), (x0, y1))
  private def holed(shell: Array[Double], holes: Array[Double]*): Array[Byte] =
    GeoGeom.writePolygon(shell +: holes.toArray)

  private def a(b: Array[Byte]): Double = {
    assert(b != null, "expected a geometry, got null")
    GeoGeom.area(b).doubleValue()
  }
  private def len(b: Array[Byte]): Double = {
    assert(b != null, "expected a geometry, got null")
    GeoGeom.length(b).doubleValue()
  }
  private def kind(b: Array[Byte]): String = GeoGeom.geometryType(b)

  private val A = rect(0, 0, 4, 4) // the 4x4 base square

  test("external touch along a partial edge stretch: union merges, contact is the stretch") {
    val B = rect(2, -4, 6, 0) // below A; boundaries share y=0, x in [2,4]
    assert(a(GeoGeomOps.union(A, B)) == 32.0)
    assert(kind(GeoGeomOps.union(A, B)) == "POLYGON") // single merged region
    assert(a(GeoGeomOps.difference(A, B)) == 16.0)    // touch removes no area
    val i = GeoGeomOps.intersection(A, B)
    assert(kind(i) == "LINESTRING" && len(i) == 2.0)
  }

  test("external touch, B edge a strict subset of A's edge span") {
    val B = rect(1, -4, 3, 0)
    assert(a(GeoGeomOps.union(A, B)) == 24.0)
    assert(len(GeoGeomOps.intersection(A, B)) == 2.0)
  }

  test("area overlap with collinear bottom edges, B extends past A") {
    val B = rect(2, 0, 6, 2) // overlap [2,4]x[0,2]; shared collinear y=0 stretch
    assert(a(GeoGeomOps.union(A, B)) == 20.0)
    assert(a(GeoGeomOps.difference(A, B)) == 12.0)
    assert(a(GeoGeomOps.intersection(A, B)) == 4.0)
  }

  test("notch on the boundary: B inside A touching A's edge") {
    val B = rect(1, 0, 3, 2)
    assert(a(GeoGeomOps.union(A, B)) == 16.0)
    assert(a(GeoGeomOps.difference(A, B)) == 12.0)
    assert(a(GeoGeomOps.intersection(A, B)) == 4.0)
  }

  test("corner overlap with TWO collinear shared stretches") {
    val B = rect(2, 0, 6, 4) // shares y=0 and y=4 stretches, overlap [2,4]x[0,4]
    assert(a(GeoGeomOps.union(A, B)) == 24.0)
    assert(a(GeoGeomOps.difference(A, B)) == 8.0)
    assert(a(GeoGeomOps.intersection(A, B)) == 8.0)
  }

  test("concave A with collinear-edge overlap") {
    val L = poly((0, 0), (6, 0), (6, 2), (4, 2), (4, 4), (0, 4)) // L-shape, area 20
    val B = rect(3, 1, 5, 3) // pokes through the L's inner corner
    assert(a(GeoGeomOps.union(L, B)) == 21.0)
    assert(a(GeoGeomOps.difference(L, B)) == 17.0)
    assert(a(GeoGeomOps.intersection(L, B)) == 3.0)
  }

  test("redundant collinear vertex on the shared stretch") {
    val B = poly((2.0, -4.0), (6.0, -4.0), (6.0, 0.0), (3.0, 0.0), (2.0, 0.0))
    assert(a(GeoGeomOps.union(A, B)) == 32.0)
    assert(len(GeoGeomOps.intersection(A, B)) == 2.0)
  }

  test("U-shaped B with two separate touch stretches: union encloses a hole") {
    val B = poly((0.5, -2.0), (3.5, -2.0), (3.5, 0.0), (3.0, 0.0), (3.0, -1.0),
      (1.0, -1.0), (1.0, 0.0), (0.5, 0.0)) // area 4, touches y=0 on two stretches
    val u = GeoGeomOps.union(A, B)
    assert(a(u) == 20.0) // 16 + 6 outline - 2 notch, notch becomes a HOLE
    val i = GeoGeomOps.intersection(A, B)
    assert(kind(i) == "MULTILINESTRING" && len(i) == 1.0) // [0.5,1] + [3,3.5]
  }

  test("overlap plus a separate touch stretch: intersection stays areal") {
    val B = poly((0.5, 0.0), (1.0, 0.0), (1.0, -1.0), (2.0, -1.0), (2.0, 0.0),
      (3.0, 0.0), (3.0, 1.0), (0.5, 1.0))
    assert(a(GeoGeomOps.union(A, B)) == 17.0)
    assert(a(GeoGeomOps.difference(A, B)) == 13.5)
    assert(a(GeoGeomOps.intersection(A, B)) == 2.5)
  }

  test("slanted 45-degree collinear partial overlap (exact halves)") {
    val d1 = poly((0, 0), (4, -4), (8, 0), (4, 4))
    val d2 = poly((2, -2), (8, -8), (10, -6), (5, -1))
    assert(a(GeoGeomOps.union(d1, d2)) == 48.0)
    assert(a(GeoGeomOps.difference(d1, d2)) == 26.0)
    assert(a(GeoGeomOps.intersection(d1, d2)) == 6.0)
  }

  test("B inside A's hole, tangent to the hole boundary") {
    val H = holed(ring((0, 0), (8, 0), (8, 8), (0, 8)),
      ring((2, 2), (2, 6), (6, 6), (6, 2)))       // area 48
    val B = rect(3, 2, 5, 4)                       // sits on hole's bottom edge
    assert(a(GeoGeomOps.union(H, B)) == 52.0)      // hole shrinks by 4
    assert(a(GeoGeomOps.difference(H, B)) == 48.0) // B takes nothing
    val i = GeoGeomOps.intersection(H, B)
    assert(kind(i) == "LINESTRING" && len(i) == 2.0)
  }

  test("corridor B reconnects the hole to the outside (difference opens a C)") {
    val H = holed(ring((0, 0), (8, 0), (8, 8), (0, 8)),
      ring((2, 2), (2, 6), (6, 6), (6, 2)))
    val B = rect(3, 0, 5, 2) // spans shell edge to hole edge; B subset of A
    assert(a(GeoGeomOps.union(H, B)) == 48.0)
    assert(a(GeoGeomOps.difference(H, B)) == 44.0)
    assert(kind(GeoGeomOps.difference(H, B)) == "POLYGON") // C-shape, simply connected
    assert(a(GeoGeomOps.intersection(H, B)) == 4.0)
  }

  test("B exactly fills the zone between shell and hole on one side") {
    val H = holed(ring((0, 0), (8, 0), (8, 8), (0, 8)),
      ring((2, 2), (2, 6), (6, 6), (6, 2)))
    val B = rect(0, 0, 8, 2)
    assert(a(GeoGeomOps.union(H, B)) == 48.0)
    assert(a(GeoGeomOps.difference(H, B)) == 32.0)
    assert(a(GeoGeomOps.intersection(H, B)) == 16.0)
  }

  test("subtracting a connector merges two holes into one") {
    val H2 = holed(ring((0, 0), (12, 0), (12, 6), (0, 6)),
      ring((2, 2), (2, 4), (4, 4), (4, 2)),
      ring((8, 2), (8, 4), (10, 4), (10, 2)))     // area 72 - 8 = 64
    val B = rect(4, 2, 8, 4)                       // bridges the two holes
    assert(a(GeoGeomOps.union(H2, B)) == 64.0)     // B interior to material? no:
    // B spans the gap BETWEEN holes (solid there), union = identity
    val d = GeoGeomOps.difference(H2, B)
    assert(a(d) == 56.0)                           // one merged 2x8 hole
    assert(a(GeoGeomOps.intersection(H2, B)) == 8.0)
  }

  test("point-touch plus edge-touch combination stays touch-only") {
    val B = poly((4.0, 0.0), (7.0, 0.0), (7.0, 5.0), (2.0, 5.0), (2.0, 4.0),
      (6.0, 4.0), (6.0, 1.0), (4.0, 1.0)) // area 11, touches A on two stretches
    assert(a(GeoGeomOps.union(A, B)) == 27.0)
    assert(a(GeoGeomOps.difference(A, B)) == 16.0)
    val i = GeoGeomOps.intersection(A, B)
    assert(kind(i) == "MULTILINESTRING" && len(i) == 3.0) // [1,3]@y0? no: (4,0)-(4,1) + (2,4)-(4,4)
  }

  test("B equals A's hole: union plugs it, intersection is the closed ring") {
    val H = holed(ring((0, 0), (8, 0), (8, 8), (0, 8)),
      ring((2, 2), (2, 6), (6, 6), (6, 2)))
    val B = rect(2, 2, 6, 6)
    assert(a(GeoGeomOps.union(H, B)) == 64.0)
    assert(kind(GeoGeomOps.union(H, B)) == "POLYGON")
    assert(a(GeoGeomOps.difference(H, B)) == 48.0)
    val i = GeoGeomOps.intersection(H, B)
    assert(kind(i) == "LINESTRING" && len(i) == 16.0) // the full hole ring
  }

  test("identical operands: union/intersection identity, difference empty") {
    val B = rect(0, 0, 4, 4)
    assert(a(GeoGeomOps.union(A, B)) == 16.0)
    assert(a(GeoGeomOps.intersection(A, B)) == 16.0)
    assert(GeoGeomOps.difference(A, B) == null) // empty → null by convention
  }

  test("full-edge overlap with B poking through part of it") {
    val B = poly((0.0, -2.0), (4.0, -2.0), (4.0, 0.0), (3.0, 0.0), (3.0, 1.0),
      (1.0, 1.0), (1.0, 0.0), (0.0, 0.0)) // area 10: 8 below + 2 inside A
    assert(a(GeoGeomOps.union(A, B)) == 24.0)
    assert(a(GeoGeomOps.difference(A, B)) == 14.0)
    assert(a(GeoGeomOps.intersection(A, B)) == 2.0)
  }
}
