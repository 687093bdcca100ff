package graft.exts

import scala.jdk.CollectionConverters._

import org.locationtech.jts.geom._
import org.locationtech.jts.operation.linemerge.LineMerger
import org.locationtech.jts.operation.overlayng.{OverlayNG, OverlayNGRobust}
import org.locationtech.jts.operation.relateng.{RelateNG, TopologyPredicate}
import org.locationtech.jts.operation.union.UnaryUnionOp

import graft.exts.GeoGeom.Geom

/** The binding between graft's WKB model ([[GeoGeom.Geom]], parsed by
  * graft's one guarded parser) and JTS geometries, which carry the
  * topology: set ops, DE-9IM predicates, buffer, simplify, merge, hull
  * and linear referencing. Geometries are built from the parsed flat
  * arrays (never re-parsed by `WKBReader`) and written back through
  * [[GeoGeom.write]]. JTS classes load with the first evaluated geo
  * expression, not at session setup.
  *
  * Null conventions, in one place: malformed WKB, input JTS rejects
  * (unclosed rings, one-point lines, a failed overlay) and EMPTY results
  * all evaluate to null. */
private[exts] object GeoJts {
  // immutable after construction, so one factory serves every thread
  private val factory = new GeometryFactory()

  /** Parsed WKB as a JTS geometry; null for malformed or JTS-invalid input. */
  def geom(bytes: Array[Byte]): Geometry = {
    val g = GeoGeom.parse(bytes)
    if (g == null) null else try toJts(g) catch { case _: IllegalArgumentException => null }
  }

  private def coords(flat: Array[Double]): Array[Coordinate] =
    Array.tabulate(flat.length / 2)(i => new Coordinate(flat(i * 2), flat(i * 2 + 1)))

  private def toJts(g: Geom): Geometry = g.kind match {
    case GeoGeom.PointType => factory.createPoint(coords(g.rings(0))(0))
    case GeoGeom.LineType => factory.createLineString(coords(g.rings(0)))
    case GeoGeom.PolygonType =>
      if (g.rings.isEmpty) factory.createPolygon()
      else factory.createPolygon(factory.createLinearRing(coords(g.rings(0))),
        g.rings.tail.map(r => factory.createLinearRing(coords(r))))
    case GeoGeom.MultiPointType => factory.createMultiPoint(g.parts.map(toJts(_).asInstanceOf[Point]))
    case GeoGeom.MultiLineType =>
      factory.createMultiLineString(g.parts.map(toJts(_).asInstanceOf[LineString]))
    case GeoGeom.MultiPolygonType =>
      factory.createMultiPolygon(g.parts.map(toJts(_).asInstanceOf[Polygon]))
    case _ => factory.createGeometryCollection(g.parts.map(toJts))
  }

  private def flat(l: LineString): Array[Double] = {
    val s = l.getCoordinateSequence
    val out = new Array[Double](s.size * 2)
    var i = 0
    while (i < s.size) { out(i * 2) = s.getX(i); out(i * 2 + 1) = s.getY(i); i += 1 }
    out
  }

  private def fromJts(g: Geometry): Geom = g match {
    case p: Point => new Geom(GeoGeom.PointType, Array(Array(p.getX, p.getY)))
    case l: LineString => new Geom(GeoGeom.LineType, Array(flat(l)))
    case p: Polygon => new Geom(GeoGeom.PolygonType,
      (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)).map(flat).toArray)
    case c: GeometryCollection =>
      val parts = (0 until c.getNumGeometries).map(c.getGeometryN).filterNot(_.isEmpty)
        .map(fromJts).toArray
      val kind = c match {
        case _: MultiPoint => GeoGeom.MultiPointType
        case _: MultiLineString => GeoGeom.MultiLineType
        case _: MultiPolygon => GeoGeom.MultiPolygonType
        case _ => GeoGeom.CollectionType
      }
      new Geom(kind, parts.flatMap(_.rings), parts)
  }

  /** The one write boundary: an EMPTY result is null. */
  def write(g: Geometry): Array[Byte] =
    if (g == null || g.isEmpty) null else GeoGeom.write(fromJts(g))

  /** JTS op over parsed input → WKB, with the null conventions above. */
  def unary(bytes: Array[Byte])(f: Geometry => Geometry): Array[Byte] = {
    val g = geom(bytes)
    if (g == null) null else guard(write(f(g)))
  }

  def binary(aB: Array[Byte], bB: Array[Byte])(f: (Geometry, Geometry) => Geometry): Array[Byte] = {
    val a = geom(aB); val b = geom(bB)
    if (a == null || b == null) null else guard(write(f(a, b)))
  }

  /** DE-9IM predicate (a fresh `TopologyPredicate` per call: they carry state). */
  def relate(aB: Array[Byte], bB: Array[Byte], pred: () => TopologyPredicate): java.lang.Boolean = {
    val a = geom(aB); val b = geom(bB)
    if (a == null || b == null) null
    else guard(java.lang.Boolean.valueOf(RelateNG.relate(a, b, pred())))
  }

  private def guard[T >: Null](body: => T): T =
    try body catch { case _: IllegalArgumentException | _: TopologyException => null }

  private def atoms(g: Geometry): Seq[Geometry] = g match {
    case c: GeometryCollection => (0 until c.getNumGeometries).flatMap(i => atoms(c.getGeometryN(i)))
    case _ => if (g.isEmpty) Nil else Seq(g)
  }

  /** One dissolved geometry per dimension present (points, lines, areas). */
  private def byDimension(g: Geometry): Seq[Geometry] =
    atoms(g).groupBy(_.getDimension).toSeq.sortBy(-_._1).map(d => UnaryUnionOp.union(d._2.asJava))

  /** OverlayNG for homogeneous operands; a lineal result is re-merged
    * ([[merged]]), since OverlayNG splits lines at every node. A plain
    * GEOMETRYCOLLECTION (its members may mix dimensions and overlap, which
    * OverlayNG rejects) unions through `UnaryUnionOp` over all members;
    * its difference and intersection run per dimension-group pair, and
    * the pieces of each dimension are unioned without absorbing
    * lower-dimension pieces. */
  def overlay(a: Geometry, b: Geometry, op: Int): Geometry = {
    def plain(g: Geometry) = g.getClass == classOf[GeometryCollection]
    if (!plain(a) && !plain(b)) merged(OverlayNGRobust.overlay(a, b, op))
    else if (op == OverlayNG.UNION) UnaryUnionOp.union(factory.createGeometryCollection(Array(a, b)))
    else {
      val bs = byDimension(b)
      val pieces = byDimension(a).flatMap { ga =>
        if (op == OverlayNG.DIFFERENCE) Seq(bs.foldLeft(ga)(OverlayNGRobust.overlay(_, _, op)))
        else bs.map(OverlayNGRobust.overlay(ga, _, op))
      }
      factory.buildGeometry(
        byDimension(factory.createGeometryCollection(pieces.toArray)).flatMap(atoms).asJava)
    }
  }

  /** Lines joined at degree-2 nodes ([[LineMerger]]): LINESTRING when one
    * chain remains. Non-lineal geometries pass through. */
  def merged(g: Geometry): Geometry = g match {
    case _: Lineal =>
      val m = new LineMerger()
      m.add(g)
      factory.buildGeometry(m.getMergedLineStrings.asInstanceOf[java.util.Collection[Geometry]])
    case _ => g
  }
}
