package graft.exts

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.operation.relateng.RelatePredicate

/** WKB LINESTRING / POLYGON / Multi* geometry (SURVEY.md §2.4 geospatial;
  * the POINT core is in [[GeoExpressions.scala]]).
  *
  * Reference ops (ibis/expr/operations/geospatial.py): GeoArea :28,
  * GeoLength :318, GeoPerimeter :381, GeoCentroid :102, GeoEnvelope :242,
  * GeoXMin/XMax/YMin/YMax :437-465, GeoNPoints :373, GeoStartPoint :405,
  * GeoEndPoint :226, GeoPointN :389, GeoContains :76, GeoWithin :472,
  * GeoIntersects :296, GeoDisjoint :194, GeoDistance :202, GeoDWithin
  * :211, GeoAsText :44, GeoGeometryType :287, GeoLineString/GeoPolygon
  * constructors :337,480. All planar/Euclidean (PostGIS *geometry*, the
  * reference's default), called statically from whole-stage-generated code.
  *
  * graft owns the WKB parser and writer, the measures (ST_Length counts
  * lines only, unlike JTS `getLength`), distance, WKT and the
  * constructors. Topology — contains/within/intersects here, set ops,
  * the other DE-9IM predicates, buffer, simplify, merge, hull and linear
  * referencing in [[GeoGeomOps]] — runs on JTS through [[GeoJts]].
  *
  * Geometry model: `rings(0)` holds the flat [x0,y0,x1,y1,…] coordinates —
  * a point has 1 pair, a linestring N pairs, a polygon stores one flat
  * array per ring (first ring = shell, rest = holes; rings closed,
  * first pair == last pair). Distance handles all six type pairings with
  * segment-segment math plus even-odd containment for areal operands.
  */
object GeoGeom {
  final val PointType = 1
  final val LineType = 2
  final val PolygonType = 3
  final val MultiPointType = 4
  final val MultiLineType = 5
  final val MultiPolygonType = 6
  final val CollectionType = 7

  /** kind: 1 point, 2 line, 3 polygon, 4-7 Multi* / GeometryCollection.
    *
    * For multi kinds, `rings` is the CONCATENATION of every part's rings
    * (one [x,y] pair per MultiPoint member, one flat array per line /
    * ring) and `parts` holds the structured members. The flattening is
    * what lets the point-in-rings / segment-distance machinery treat a
    * MultiPolygon exactly like a polygon: OGC requires Multi* interiors
    * to be disjoint, so even-odd ray casting over the combined ring set
    * classifies containment correctly. Per-part structure is only needed
    * where flattening loses information (area/centroid weighting, WKT). */
  final class Geom(val kind: Int, val rings: Array[Array[Double]],
      val parts: Array[Geom] = null)

  def parse(bytes: Array[Byte]): Geom = {
    if (bytes == null || bytes.length < 5) return null
    val bb = java.nio.ByteBuffer.wrap(bytes)
    try parseFrom(bb, 0) catch { case _: java.nio.BufferUnderflowException => null }
  }

  /** One WKB/EWKB geometry. Every count is checked against the bytes left
    * in Long arithmetic before anything is allocated, and nesting is capped
    * at depth 4, so malformed input is null rather than an allocation or a
    * deep recursion. Z and M ordinates (EWKB 0x80000000/0x40000000 flags or
    * ISO 1000/2000/3000 type codes) are read past and dropped: every op is
    * 2-D, as PostGIS's planar ST_Length/ST_Area are. */
  private def parseFrom(bb: java.nio.ByteBuffer, depth: Int): Geom = {
    if (depth > 4 || bb.remaining() < 5) return null
    bb.order(if (bb.get(bb.position()) == 1.toByte) java.nio.ByteOrder.LITTLE_ENDIAN
             else java.nio.ByteOrder.BIG_ENDIAN)
    bb.position(bb.position() + 1)
    val raw = bb.getInt()
    if ((raw & 0x20000000) != 0) { // EWKB SRID flag: skip srid
      if (bb.remaining() < 4) return null
      bb.getInt()
    }
    val iso = (raw & 0xFFFF) / 1000
    val gtype = (raw & 0xFFFF) % 1000
    val hasZ = (raw & 0x80000000) != 0 || iso == 1 || iso == 3
    val hasM = (raw & 0x40000000) != 0 || iso == 2 || iso == 3
    val skip = ((if (hasZ) 1 else 0) + (if (hasM) 1 else 0)) * 8
    def coords(n: Int): Array[Double] = {
      if (n < 0 || bb.remaining() < n.toLong * (16 + skip)) return null
      val flat = new Array[Double](n * 2)
      var i = 0
      while (i < n * 2) {
        flat(i) = bb.getDouble(); flat(i + 1) = bb.getDouble()
        bb.position(bb.position() + skip)
        i += 2
      }
      flat
    }
    if (iso > 3) return null
    gtype match {
      case PointType =>
        val c = coords(1)
        if (c == null) null else new Geom(1, Array(c))
      case LineType =>
        val c = coords(bb.getInt())
        if (c == null) null else new Geom(2, Array(c))
      case PolygonType =>
        val nr = bb.getInt()
        if (nr < 0 || bb.remaining() < nr.toLong * 4) return null
        val rings = new Array[Array[Double]](nr)
        var r = 0
        while (r < nr) {
          rings(r) = coords(bb.getInt())
          if (rings(r) == null) return null
          r += 1
        }
        new Geom(3, rings)
      case MultiPointType | MultiLineType | MultiPolygonType | CollectionType =>
        val np = bb.getInt()
        if (np < 0 || bb.remaining() < np.toLong * 5) return null
        val parts = new Array[Geom](np)
        var p = 0
        while (p < np) {
          val g = parseFrom(bb, depth + 1) // each member is a full WKB
          if (g == null) return null
          // enforce homogeneous member kinds for typed multis
          val want = gtype - 3
          if (gtype != CollectionType && g.kind != want) return null
          parts(p) = g; p += 1
        }
        new Geom(gtype, parts.flatMap(_.rings), parts)
      case _ => null
    }
  }

  def writeLine(flat: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(9 + flat.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(LineType).putInt(flat.length / 2)
    flat.foreach(bb.putDouble)
    bb.array()
  }

  def writePolygon(rings: Array[Array[Double]]): Array[Byte] = {
    val size = 9 + rings.map(r => 4 + r.length * 8).sum
    val bb = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(PolygonType).putInt(rings.length)
    rings.foreach { r => bb.putInt(r.length / 2); r.foreach(bb.putDouble) }
    bb.array()
  }

  /** Multi* / GeometryCollection writer: header + each member's full WKB. */
  def writeMulti(gtype: Int, members: Array[Array[Byte]]): Array[Byte] = {
    val size = 9 + members.map(_.length).sum
    val bb = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(gtype).putInt(members.length)
    members.foreach(bb.put)
    bb.array()
  }

  /** Serialize any parsed Geom back to WKB (inverse of [[parse]]). */
  def write(g: Geom): Array[Byte] = g.kind match {
    case 1 => GeoWkb.writePoint(g.rings(0)(0), g.rings(0)(1))
    case 2 => writeLine(g.rings(0))
    case 3 => writePolygon(g.rings)
    case _ => writeMulti(g.kind, g.parts.map(write))
  }

  // ---- measures ------------------------------------------------------

  /** Shoelace over all rings; shell minus holes falls out of the even-odd
    * signed areas as long as hole rings wind opposite — abs() per ring with
    * shell-max keeps the common same-winding encodings correct too. */
  def area(bytes: Array[Byte]): java.lang.Double = {
    val g = parse(bytes)
    if (g == null) return null
    areaOf(g)
  }

  private def areaOf(g: Geom): Double = g.kind match {
    case 3 =>
      var shell = 0.0; var holes = 0.0; var first = true
      g.rings.foreach { r =>
        var s = 0.0
        var i = 0
        val n = r.length / 2
        while (i < n - 1) {
          s += r(i * 2) * r(i * 2 + 3) - r(i * 2 + 2) * r(i * 2 + 1)
          i += 1
        }
        val a = math.abs(s) / 2.0
        if (first) { shell = a; first = false } else holes += a
      }
      shell - holes
    case 6 | 7 => g.parts.map(areaOf).sum // OGC disjoint interiors → plain sum
    case _     => 0.0
  }

  private def ringLength(r: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = r.length / 2
    while (i < n - 1) {
      val dx = r(i * 2 + 2) - r(i * 2); val dy = r(i * 2 + 3) - r(i * 2 + 1)
      s += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    s
  }

  /** ST_Length semantics: linestring length; 0 for point and polygon.
    * MultiLineString: sum of member lengths. */
  def length(bytes: Array[Byte]): java.lang.Double = {
    val g = parse(bytes)
    if (g == null) return null
    lengthOf(g)
  }

  private def lengthOf(g: Geom): Double = g.kind match {
    case 2 => ringLength(g.rings(0))
    case 5 => g.rings.map(ringLength).sum
    case 7 => g.parts.map(lengthOf).sum
    case _ => 0.0
  }

  /** ST_Perimeter semantics: sum of ring lengths; 0 for point/line.
    * MultiPolygon: sum over every member's rings. */
  def perimeter(bytes: Array[Byte]): java.lang.Double = {
    val g = parse(bytes)
    if (g == null) return null
    perimeterOf(g)
  }

  private def perimeterOf(g: Geom): Double = g.kind match {
    case 3 | 6 => g.rings.map(ringLength).sum
    case 7     => g.parts.map(perimeterOf).sum
    case _     => 0.0
  }

  def nPoints(bytes: Array[Byte]): java.lang.Integer = {
    val g = parse(bytes)
    if (g == null) null else g.rings.map(_.length / 2).sum
  }

  /** bound: 0 xmin, 1 ymin, 2 xmax, 3 ymax. */
  def bound(bytes: Array[Byte], which: Int): java.lang.Double = {
    val g = parse(bytes)
    if (g == null) return null
    var v = if (which < 2) Double.MaxValue else Double.MinValue
    g.rings.foreach { r =>
      var i = which % 2 // x coords at even offsets, y at odd
      while (i < r.length) {
        v = if (which < 2) math.min(v, r(i)) else math.max(v, r(i))
        i += 2
      }
    }
    v
  }

  /** Centroid: point → itself; linestring → length-weighted segment
    * midpoints; polygon → area-weighted shoelace centroid of the shell
    * (vertex mean when degenerate). Multi* / collections: weighted mean of
    * the member centroids of the HIGHEST dimension present (PostGIS
    * semantics) — weight = area for polygons, length for lines, 1 for
    * points. Returns a WKB point. */
  def centroid(bytes: Array[Byte]): Array[Byte] = {
    val g = parse(bytes)
    if (g == null) return null
    val c = centroidOf(g)
    if (c == null) null else GeoWkb.writePoint(c(0), c(1))
  }

  private def centroidOf(g: Geom): Array[Double] = g.kind match {
    case 1 => Array(g.rings(0)(0), g.rings(0)(1))
    case 2 =>
      val r = g.rings(0)
      val n = r.length / 2
      if (n == 1) return Array(r(0), r(1))
      var w = 0.0; var cx = 0.0; var cy = 0.0
      var i = 0
      while (i < n - 1) {
        val dx = r(i * 2 + 2) - r(i * 2); val dy = r(i * 2 + 3) - r(i * 2 + 1)
        val len = math.sqrt(dx * dx + dy * dy)
        cx += (r(i * 2) + r(i * 2 + 2)) / 2.0 * len
        cy += (r(i * 2 + 1) + r(i * 2 + 3)) / 2.0 * len
        w += len
        i += 1
      }
      if (w == 0.0) Array(r(0), r(1)) else Array(cx / w, cy / w)
    case 3 =>
      val r = g.rings(0)
      val n = r.length / 2
      var a = 0.0; var cx = 0.0; var cy = 0.0
      var i = 0
      while (i < n - 1) {
        val cross = r(i * 2) * r(i * 2 + 3) - r(i * 2 + 2) * r(i * 2 + 1)
        a += cross
        cx += (r(i * 2) + r(i * 2 + 2)) * cross
        cy += (r(i * 2 + 1) + r(i * 2 + 3)) * cross
        i += 1
      }
      if (a == 0.0) {
        var sx = 0.0; var sy = 0.0
        i = 0
        while (i < n - 1) { sx += r(i * 2); sy += r(i * 2 + 1); i += 1 }
        Array(sx / (n - 1), sy / (n - 1))
      } else Array(cx / (3.0 * a), cy / (3.0 * a))
    case _ =>
      if (g.parts == null || g.parts.isEmpty) return null
      def dim(k: Int): Int = k match {
        case 1 | 4 => 0
        case 2 | 5 => 1
        case _     => 2
      }
      val maxDim = g.parts.map(p => dim(p.kind)).max
      var w = 0.0; var cx = 0.0; var cy = 0.0
      g.parts.foreach { p =>
        if (dim(p.kind) == maxDim) {
          val c = centroidOf(p)
          if (c != null) {
            val pw = maxDim match {
              case 2 => areaOf(p)
              case 1 => lengthOf(p)
              case _ => 1.0
            }
            // degenerate members (zero area/length) keep a tiny epsilon-free
            // fallback: count them with weight 0 (no contribution) unless
            // EVERY member is degenerate, handled after the loop
            cx += c(0) * pw; cy += c(1) * pw; w += pw
          }
        }
      }
      if (w == 0.0) { // all degenerate: plain mean of member centroids
        var n = 0
        g.parts.foreach { p =>
          if (dim(p.kind) == maxDim) {
            val c = centroidOf(p)
            if (c != null) { cx += c(0); cy += c(1); n += 1 }
          }
        }
        if (n == 0) null else Array(cx / n, cy / n)
      } else Array(cx / w, cy / w)
  }

  /** ST_Envelope: bbox as a closed polygon (point in → point out). */
  def envelope(bytes: Array[Byte]): Array[Byte] = {
    val g = parse(bytes)
    if (g == null) return null
    if (g.kind == 1) return GeoWkb.writePoint(g.rings(0)(0), g.rings(0)(1))
    val x0 = bound(bytes, 0); val y0 = bound(bytes, 1)
    val x1 = bound(bytes, 2); val y1 = bound(bytes, 3)
    writePolygon(Array(Array(x0, y0, x1, y0, x1, y1, x0, y1, x0, y0)))
  }

  /** n is 0-indexed (ibis convention, unlike 1-indexed ST_PointN). */
  def pointN(bytes: Array[Byte], n: Int): Array[Byte] = {
    val g = parse(bytes)
    if (g == null || g.kind != 2) return null
    val r = g.rings(0)
    val cnt = r.length / 2
    val i = if (n < 0) cnt + n else n // negative = from the end, ibis-style
    if (i < 0 || i >= cnt) null else GeoWkb.writePoint(r(i * 2), r(i * 2 + 1))
  }

  def startPoint(bytes: Array[Byte]): Array[Byte] = pointN(bytes, 0)
  def endPoint(bytes: Array[Byte]): Array[Byte] = pointN(bytes, -1)

  def flip(bytes: Array[Byte]): Array[Byte] = {
    val g = parse(bytes)
    if (g == null) return null
    write(flipGeom(g))
  }

  private def flipGeom(g: Geom): Geom = {
    val fl = g.rings.map { r =>
      val o = new Array[Double](r.length)
      var i = 0
      while (i < r.length) { o(i) = r(i + 1); o(i + 1) = r(i); i += 2 }
      o
    }
    if (g.parts == null) new Geom(g.kind, fl)
    else new Geom(g.kind, fl, g.parts.map(flipGeom))
  }

  def geometryType(bytes: Array[Byte]): String = {
    val g = parse(bytes)
    if (g == null) null
    else g.kind match {
      case 1 => "POINT"; case 2 => "LINESTRING"; case 3 => "POLYGON"
      case 4 => "MULTIPOINT"; case 5 => "MULTILINESTRING"; case 6 => "MULTIPOLYGON"
      case 7 => "GEOMETRYCOLLECTION"
    }
  }

  private[exts] def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def asText(bytes: Array[Byte]): String = {
    val g = parse(bytes)
    if (g == null) return null
    wkt(g)
  }

  private def wkt(g: Geom): String = {
    def coords(r: Array[Double]) =
      r.grouped(2).map(p => s"${fmt(p(0))} ${fmt(p(1))}").mkString(", ")
    g.kind match {
      case 1 => s"POINT (${coords(g.rings(0))})"
      case 2 => s"LINESTRING (${coords(g.rings(0))})"
      case 3 => g.rings.map(r => s"(${coords(r)})").mkString("POLYGON (", ", ", ")")
      case 4 => g.parts.map(p => s"(${coords(p.rings(0))})")
        .mkString("MULTIPOINT (", ", ", ")")
      case 5 => g.parts.map(p => s"(${coords(p.rings(0))})")
        .mkString("MULTILINESTRING (", ", ", ")")
      case 6 => g.parts
        .map(p => p.rings.map(r => s"(${coords(r)})").mkString("(", ", ", ")"))
        .mkString("MULTIPOLYGON (", ", ", ")")
      case 7 => g.parts.map(wkt).mkString("GEOMETRYCOLLECTION (", ", ", ")")
    }
  }

  // ---- distance -----------------------------------------------------
  //
  // Distance is graft's own segment math: `sqrt(dx² + dy²)` is bit-equal
  // to SQL's SQRT, where JTS's `hypot` can differ in the last ulp. The
  // exact primitives below serve it; topology is JTS's (GeoJts).

  private def onSegment(px: Double, py: Double, ax: Double, ay: Double,
      bx: Double, by: Double): Boolean = {
    val cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    cross == 0.0 &&
      px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
      py >= math.min(ay, by) && py <= math.max(ay, by)
  }

  /** Even-odd ray casting over every ring; boundary inclusive. */
  private def pointInRings(px: Double, py: Double, rings: Array[Array[Double]]): Boolean = {
    var inside = false
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      val n = ring.length / 2
      var i = 0
      while (i < n - 1) {
        val ax = ring(i * 2); val ay = ring(i * 2 + 1)
        val bx = ring(i * 2 + 2); val by = ring(i * 2 + 3)
        if (onSegment(px, py, ax, ay, bx, by)) return true
        if ((ay > py) != (by > py) &&
            px < (bx - ax) * (py - ay) / (by - ay) + ax) inside = !inside
        i += 1
      }
      r += 1
    }
    inside
  }

  private def segsIntersect(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    def orient(ox: Double, oy: Double, px: Double, py: Double, qx: Double, qy: Double) =
      math.signum((px - ox) * (qy - oy) - (py - oy) * (qx - ox))
    val o1 = orient(ax, ay, bx, by, cx, cy); val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay); val o4 = orient(cx, cy, dx, dy, bx, by)
    if (o1 != o2 && o3 != o4) true
    else onSegment(cx, cy, ax, ay, bx, by) || onSegment(dx, dy, ax, ay, bx, by) ||
      onSegment(ax, ay, cx, cy, dx, dy) || onSegment(bx, by, cx, cy, dx, dy)
  }

  private def pointSegDist(px: Double, py: Double, ax: Double, ay: Double,
      bx: Double, by: Double): Double = {
    val dx = bx - ax; val dy = by - ay
    val len2 = dx * dx + dy * dy
    val t = if (len2 == 0.0) 0.0
      else math.max(0.0, math.min(1.0, ((px - ax) * dx + (py - ay) * dy) / len2))
    val qx = ax + t * dx; val qy = ay + t * dy
    math.sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy))
  }

  private def minDistRings(a: Array[Array[Double]], b: Array[Array[Double]]): Double = {
    var best = Double.MaxValue
    a.foreach { ra =>
      val na = ra.length / 2
      b.foreach { rb =>
        val nb = rb.length / 2
        if (na == 1 && nb == 1) {
          val dx = ra(0) - rb(0); val dy = ra(1) - rb(1)
          best = math.min(best, math.sqrt(dx * dx + dy * dy))
        } else if (na == 1) {
          var j = 0
          while (j < nb - 1) {
            best = math.min(best,
              pointSegDist(ra(0), ra(1), rb(j * 2), rb(j * 2 + 1), rb(j * 2 + 2), rb(j * 2 + 3)))
            j += 1
          }
        } else if (nb == 1) {
          var i = 0
          while (i < na - 1) {
            best = math.min(best,
              pointSegDist(rb(0), rb(1), ra(i * 2), ra(i * 2 + 1), ra(i * 2 + 2), ra(i * 2 + 3)))
            i += 1
          }
        } else {
          var i = 0
          while (i < na - 1) {
            var j = 0
            while (j < nb - 1) {
              if (segsIntersect(ra(i * 2), ra(i * 2 + 1), ra(i * 2 + 2), ra(i * 2 + 3),
                  rb(j * 2), rb(j * 2 + 1), rb(j * 2 + 2), rb(j * 2 + 3))) return 0.0
              best = math.min(best, math.min(
                pointSegDist(ra(i * 2), ra(i * 2 + 1), rb(j * 2), rb(j * 2 + 1), rb(j * 2 + 2), rb(j * 2 + 3)),
                pointSegDist(rb(j * 2), rb(j * 2 + 1), ra(i * 2), ra(i * 2 + 1), ra(i * 2 + 2), ra(i * 2 + 3))))
              j += 1
            }
            i += 1
          }
        }
      }
    }
    best
  }

  /** Generic min distance over all type pairings incl. Multi* (min over
    * members falls out of the flattened ring sets); 0 on touch/overlap/
    * containment. */
  def distance(aB: Array[Byte], bB: Array[Byte]): java.lang.Double = {
    val a = parse(aB); val b = parse(bB)
    if (a == null || b == null) return null
    distanceOf(a, b)
  }

  private def anyVertexIn(g: Geom, rings: Array[Array[Double]]): Boolean =
    g.rings.exists { r =>
      var i = 0
      while (i < r.length) {
        if (pointInRings(r(i), r(i + 1), rings)) return true
        i += 2
      }
      false
    }

  private def distanceOf(a: Geom, b: Geom): Double = {
    if (a.rings.isEmpty || b.rings.isEmpty) return Double.MaxValue // EMPTY geom
    // areal containment → 0 even with no boundary crossing. Any-vertex (not
    // just the first) matters for multi operands: one member can sit fully
    // inside the polygon while another is outside, with no edge crossing.
    if ((a.kind == 3 || a.kind == 6) && anyVertexIn(b, a.rings)) return 0.0
    if ((b.kind == 3 || b.kind == 6) && anyVertexIn(a, b.rings)) return 0.0
    // heterogeneous collections: polygon members need their containment
    // check, so recurse per member instead of using the flattened rings
    if (a.kind == 7) return a.parts.foldLeft(Double.MaxValue)((m, p) => math.min(m, distanceOf(p, b)))
    if (b.kind == 7) return b.parts.foldLeft(Double.MaxValue)((m, p) => math.min(m, distanceOf(a, p)))
    minDistRings(a.rings, b.rings)
  }

  /** ST_Contains (DE-9IM, JTS RelateNG): no point of `b` outside `a` and
    * at least one in `a`'s interior — a point on `a`'s boundary is not
    * contained (ST_Covers, [[GeoGeomOps.covers]], includes it). */
  def contains(aB: Array[Byte], bB: Array[Byte]): java.lang.Boolean =
    GeoJts.relate(aB, bB, () => RelatePredicate.contains())

  def intersects(aB: Array[Byte], bB: Array[Byte]): java.lang.Boolean =
    GeoJts.relate(aB, bB, () => RelatePredicate.intersects())

  // ---- constructors from point arrays --------------------------------

  /** Array of WKB points → LINESTRING (null if any element malformed). */
  def makeLine(points: Array[Array[Byte]]): Array[Byte] = {
    if (points == null || points.length < 2) return null
    val flat = new Array[Double](points.length * 2)
    var i = 0
    while (i < points.length) {
      val p = GeoWkb.readPoint(points(i))
      if (p == null) return null
      flat(i * 2) = p(0); flat(i * 2 + 1) = p(1)
      i += 1
    }
    writeLine(flat)
  }

  /** ST_Collect-style constructor: homogeneous member kinds → MULTIPOINT/
    * MULTILINESTRING/MULTIPOLYGON, mixed → GEOMETRYCOLLECTION. Null if any
    * member is null/malformed. */
  def collect(geoms: Array[Array[Byte]]): Array[Byte] = {
    if (geoms == null || geoms.length == 0) return null
    val kinds = new Array[Int](geoms.length)
    var i = 0
    while (i < geoms.length) {
      val p = parse(geoms(i))
      if (p == null) return null
      kinds(i) = p.kind
      i += 1
    }
    val t =
      if (kinds.forall(_ == 1)) MultiPointType
      else if (kinds.forall(_ == 2)) MultiLineType
      else if (kinds.forall(_ == 3)) MultiPolygonType
      else CollectionType
    writeMulti(t, geoms)
  }

  /** Array of WKB points → single-ring POLYGON, auto-closed. */
  def makePolygon(points: Array[Array[Byte]]): Array[Byte] = {
    if (points == null || points.length < 3) return null
    val closed = points(0).sameElements(points(points.length - 1))
    val n = if (closed) points.length else points.length + 1
    val flat = new Array[Double](n * 2)
    var i = 0
    while (i < points.length) {
      val p = GeoWkb.readPoint(points(i))
      if (p == null) return null
      flat(i * 2) = p(0); flat(i * 2 + 1) = p(1)
      i += 1
    }
    if (!closed) { flat(n * 2 - 2) = flat(0); flat(n * 2 - 1) = flat(1) }
    writePolygon(Array(flat))
  }
}

// ---- Catalyst expressions (null-safe, codegen via static calls) -------

/** Unary geometry op returning DOUBLE: area, length, perimeter,
  * xmin/ymin/xmax/ymax. */
case class GeoMeasure(child: Expression, op: String) extends UnaryExpression {
  override def prettyName: String = s"geo_$op"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB input")

  private def invoke(b: Array[Byte]): java.lang.Double = op match {
    case "area" => GeoGeom.area(b)
    case "length" => GeoGeom.length(b)
    case "perimeter" => GeoGeom.perimeter(b)
    case "xmin" => GeoGeom.bound(b, 0)
    case "ymin" => GeoGeom.bound(b, 1)
    case "xmax" => GeoGeom.bound(b, 2)
    case "ymax" => GeoGeom.bound(b, 3)
  }
  private def staticCall(arg: String): String = op match {
    case "xmin" => s"graft.exts.GeoGeom.bound($arg, 0)"
    case "ymin" => s"graft.exts.GeoGeom.bound($arg, 1)"
    case "xmax" => s"graft.exts.GeoGeom.bound($arg, 2)"
    case "ymax" => s"graft.exts.GeoGeom.bound($arg, 3)"
    case _ => s"graft.exts.GeoGeom.$op($arg)"
  }

  override def nullSafeEval(v: Any): Any = {
    val r = invoke(v.asInstanceOf[Array[Byte]])
    if (r == null) null else r.doubleValue()
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val r = ctx.freshName("r")
      s"""
        java.lang.Double $r = ${staticCall(b)};
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
      """
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unary geometry op returning BINARY WKB: centroid, envelope, flip,
  * start_point, end_point. */
case class GeoTransform(child: Expression, op: String) extends UnaryExpression {
  override def prettyName: String = s"geo_$op"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB input")

  private def invoke(b: Array[Byte]): Array[Byte] = op match {
    case "centroid" => GeoGeom.centroid(b)
    case "envelope" => GeoGeom.envelope(b)
    case "flip" => GeoGeom.flip(b)
    case "start_point" => GeoGeom.startPoint(b)
    case "end_point" => GeoGeom.endPoint(b)
    case "unary_union" => GeoGeomOps.unaryUnion(b)
    case "line_merge" => GeoGeomOps.lineMerge(b)
    case "convex_hull" => GeoGeomOps.convexHull(b)
  }
  private def staticName: String = op match {
    case "start_point" => "startPoint"
    case "end_point" => "endPoint"
    case "unary_union" => "unaryUnion"
    case "line_merge" => "lineMerge"
    case "convex_hull" => "convexHull"
    case other => other
  }
  private def staticCls: String = op match {
    case "unary_union" | "line_merge" | "convex_hull" => "graft.exts.GeoGeomOps"
    case _ => "graft.exts.GeoGeom"
  }

  override def nullSafeEval(v: Any): Any = invoke(v.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val r = ctx.freshName("r")
      s"""
        byte[] $r = $staticCls.$staticName($b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `geo_point_n(line, n)` — 0-indexed vertex (negative = from end). */
case class GeoPointN(child: Expression, n: Int) extends UnaryExpression {
  override def prettyName: String = "geo_point_n"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB input")
  override def nullSafeEval(v: Any): Any = GeoGeom.pointN(v.asInstanceOf[Array[Byte]], n)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val r = ctx.freshName("r")
      s"""
        byte[] $r = graft.exts.GeoGeom.pointN($b, $n);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unary geometry op returning STRING: as_text (WKT) / geometry_type. */
case class GeoText(child: Expression, op: String) extends UnaryExpression {
  override def prettyName: String = s"geo_$op"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB input")

  private def invoke(b: Array[Byte]): String = op match {
    case "as_text" => GeoGeom.asText(b)
    case "geometry_type" => GeoGeom.geometryType(b)
    case "as_ewkt" => GeoGeomOps.asEwkt(b)
  }
  private def staticCls: String = op match {
    case "as_ewkt" => "graft.exts.GeoGeomOps"
    case _ => "graft.exts.GeoGeom"
  }
  private def staticName: String = op match {
    case "as_text" => "asText"
    case "as_ewkt" => "asEwkt"
    case _ => "geometryType"
  }

  override def nullSafeEval(v: Any): Any = {
    val s = invoke(v.asInstanceOf[Array[Byte]])
    if (s == null) null else UTF8String.fromString(s)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val r = ctx.freshName("r")
      s"""
        String $r = $staticCls.$staticName($b);
        if ($r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($r); }
      """
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `geo_npoints(g)` — total vertex count across rings. */
case class GeoNPointsExpr(child: Expression) extends UnaryExpression {
  override def prettyName: String = "geo_npoints"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB input")
  override def nullSafeEval(v: Any): Any = {
    val r = GeoGeom.nPoints(v.asInstanceOf[Array[Byte]])
    if (r == null) null else r.intValue()
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val r = ctx.freshName("r")
      s"""
        java.lang.Integer $r = graft.exts.GeoGeom.nPoints($b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.intValue(); }
      """
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Binary geometry op: distance (double) or contains/within/intersects/
  * disjoint (boolean). */
case class GeoRelate(left: Expression, right: Expression, op: String)
    extends BinaryExpression {
  override def prettyName: String = s"geo_$op"
  override def dataType: DataType =
    if (op == "distance") DoubleType else BooleanType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB inputs")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aB = a.asInstanceOf[Array[Byte]]; val bB = b.asInstanceOf[Array[Byte]]
    op match {
      case "distance" =>
        val d = GeoGeom.distance(aB, bB); if (d == null) null else d.doubleValue()
      case "contains" =>
        val c = GeoGeom.contains(aB, bB); if (c == null) null else c.booleanValue()
      case "within" =>
        val c = GeoGeom.contains(bB, aB); if (c == null) null else c.booleanValue()
      case "intersects" =>
        val c = GeoGeom.intersects(aB, bB); if (c == null) null else c.booleanValue()
      case "disjoint" =>
        val c = GeoGeom.intersects(aB, bB); if (c == null) null else !c.booleanValue()
    }
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      op match {
        case "distance" => s"""
          java.lang.Double $r = graft.exts.GeoGeom.distance($a, $b);
          if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
        """
        case "contains" => s"""
          java.lang.Boolean $r = graft.exts.GeoGeom.contains($a, $b);
          if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.booleanValue(); }
        """
        case "within" => s"""
          java.lang.Boolean $r = graft.exts.GeoGeom.contains($b, $a);
          if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.booleanValue(); }
        """
        case "intersects" => s"""
          java.lang.Boolean $r = graft.exts.GeoGeom.intersects($a, $b);
          if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.booleanValue(); }
        """
        case "disjoint" => s"""
          java.lang.Boolean $r = graft.exts.GeoGeom.intersects($a, $b);
          if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = !$r.booleanValue(); }
        """
      }
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** array<binary WKB points> → LINESTRING or POLYGON WKB. */
case class GeoMake(child: Expression, op: String) extends UnaryExpression {
  override def prettyName: String = s"geo_$op"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(BinaryType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<binary>, got ${other.simpleString}")
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val pts = new Array[Array[Byte]](arr.numElements())
    var i = 0
    while (i < pts.length) {
      if (arr.isNullAt(i)) return null
      pts(i) = arr.getBinary(i)
      i += 1
    }
    op match {
      case "make_line"    => GeoGeom.makeLine(pts)
      case "make_polygon" => GeoGeom.makePolygon(pts)
      case "collect"      => GeoGeom.collect(pts) // members are any WKB, not just points
    }
  }
  // interpreted path only: constructors run once per group/track, never in
  // a hot scan loop — ArrayData unpacking in codegen buys nothing here
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("geoMake", this, classOf[GeoMake].getName)
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      s"""
        byte[] $r = (byte[]) $self.nullSafeEval($a);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
