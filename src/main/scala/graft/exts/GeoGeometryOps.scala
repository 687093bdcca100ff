package graft.exts

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.algorithm.ConvexHull
import org.locationtech.jts.geom.{Coordinate, Lineal, LineString}
import org.locationtech.jts.linearref.LengthIndexedLine
import org.locationtech.jts.operation.buffer.BufferOp
import org.locationtech.jts.operation.overlayng.OverlayNG
import org.locationtech.jts.operation.relateng.RelatePredicate
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.locationtech.jts.operation.valid.IsValidOp
import org.locationtech.jts.simplify.DouglasPeuckerSimplifier

/** The second half of the WKB geospatial family (SURVEY.md §2.4).
  *
  * Reference ops (ibis/expr/operations/geospatial.py): GeoAzimuth :405,
  * GeoMaxDistance :223, GeoDFullyWithin :380, GeoLineLocatePoint :116,
  * GeoLineSubstring :144, GeoSimplify :440, GeoIsValid :109,
  * GeoOrderingEquals :161, GeoEquals :77, GeoCovers :49, GeoCoveredBy :56,
  * GeoContainsProperly :42, GeoTouches :179, GeoCrosses :63, GeoOverlaps
  * :172, GeoBuffer :362, GeoIntersection :426, GeoUnion :195,
  * GeoDifference :433, GeoUnaryUnion :186, GeoLineMerge :131,
  * GeoConvexHull, GeoSRID :346, GeoSetSRID :353, GeoAsBinary :469,
  * GeoAsEWKB :476, GeoAsEWKT :483, GeoNRings :336, GeoGeometryN :84,
  * GeoTransform :450 / GeoConvert :459.
  *
  * Topology (DE-9IM predicates, set ops, buffer, simplify, merge, hull,
  * validity, linear referencing) is JTS 1.20 through [[GeoJts]], the
  * same engine Apache Sedona wraps. graft's own code keeps the SRID/EWKB
  * plumbing, azimuth, maxDistance and orderingEquals; every reprojection
  * runs on [[ProjEngine]]. What each op accepts and where it returns null
  * is listed in DIVERGENCES.md §1 and COVERAGE.md.
  */
object GeoGeomOps {
  import GeoGeom.parse

  // ---- srid / encodings ----------------------------------------------

  /** EWKB SRID, 0 when the flag is absent (PostGIS ST_SRID convention). */
  def srid(bytes: Array[Byte]): java.lang.Integer = {
    if (bytes == null || bytes.length < 9) return null
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.order(if (bytes(0) == 1.toByte) java.nio.ByteOrder.LITTLE_ENDIAN
             else java.nio.ByteOrder.BIG_ENDIAN)
    bb.position(1)
    val gtype = bb.getInt()
    if ((gtype & 0x20000000) != 0) bb.getInt() else 0
  }

  /** Re-encode with an EWKB SRID header (srid <= 0 strips back to WKB). */
  def setSrid(bytes: Array[Byte], sridV: Int): Array[Byte] = {
    val plain = asBinary(bytes)
    if (plain == null) return null
    if (sridV <= 0) return plain
    val bb = java.nio.ByteBuffer.allocate(plain.length + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val gtype = java.nio.ByteBuffer.wrap(plain)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(1)
    bb.put(1.toByte).putInt(gtype | 0x20000000).putInt(sridV)
    bb.put(plain, 5, plain.length - 5)
    bb.array()
  }

  /** Canonical little-endian WKB with any EWKB SRID stripped (ST_AsBinary).
    * GeoGeom.write covers every kind incl. Multi* / collections (a Multi
    * input used to MatchError here before round 4). */
  def asBinary(bytes: Array[Byte]): Array[Byte] = {
    val g = parse(bytes)
    if (g == null) return null
    GeoGeom.write(g)
  }

  /** ST_AsEWKB: the stored bytes already carry the SRID when set. */
  def asEwkb(bytes: Array[Byte]): Array[Byte] =
    if (parse(bytes) == null) null else bytes

  /** ST_AsEWKT: 'SRID=n;WKT' when an SRID is set, plain WKT otherwise. */
  def asEwkt(bytes: Array[Byte]): String = {
    val t = GeoGeom.asText(bytes)
    if (t == null) return null
    val s = srid(bytes)
    if (s != null && s.intValue() != 0) s"SRID=${s.intValue()};$t" else t
  }

  /** PostGIS ST_NRings: every polygon's rings, shells included, summed
    * over MULTIPOLYGON and GEOMETRYCOLLECTION members; 0 without polygons. */
  def nRings(bytes: Array[Byte]): java.lang.Integer = {
    def count(g: GeoGeom.Geom): Int = g.kind match {
      case 3 => g.rings.length
      case 6 | 7 => g.parts.map(count).sum
      case _ => 0
    }
    val g = parse(bytes)
    if (g == null) null else count(g)
  }

  /** GeometryN, 0-indexed: the n-th member of a Multi* or
    * GEOMETRYCOLLECTION, a single geometry is its own element 0; null
    * when n is out of range. The output carries no SRID. */
  def geometryN(bytes: Array[Byte], n: Int): Array[Byte] = {
    val g = parse(bytes)
    if (g == null) null
    else if (g.parts == null) { if (n == 0) GeoGeom.write(g) else null }
    else if (n >= 0 && n < g.parts.length) GeoGeom.write(g.parts(n))
    else null
  }

  // ---- point measures --------------------------------------------------

  /** PostGIS ST_Azimuth: north-based clockwise radians in [0, 2π); null
    * for coincident points or non-point input. */
  def azimuth(aB: Array[Byte], bB: Array[Byte]): java.lang.Double = {
    val a = GeoWkb.readPoint(aB); val b = GeoWkb.readPoint(bB)
    if (a == null || b == null) return null
    val dx = b(0) - a(0); val dy = b(1) - a(1)
    if (dx == 0.0 && dy == 0.0) return null
    val az = math.atan2(dx, dy)
    if (az < 0.0) az + 2.0 * math.Pi else az
  }

  /** ST_MaxDistance: largest vertex-to-vertex distance (attained at
    * vertices for point/line/polygon operands). */
  def maxDistance(aB: Array[Byte], bB: Array[Byte]): java.lang.Double = {
    val a = parse(aB); val b = parse(bB)
    if (a == null || b == null) return null
    var best = 0.0
    a.rings.foreach { ra =>
      var i = 0
      while (i < ra.length) {
        b.rings.foreach { rb =>
          var j = 0
          while (j < rb.length) {
            val dx = ra(i) - rb(j); val dy = ra(i + 1) - rb(j + 1)
            best = math.max(best, math.sqrt(dx * dx + dy * dy))
            j += 2
          }
        }
        i += 2
      }
    }
    best
  }

  // ---- linear referencing (JTS LengthIndexedLine) ----------------------

  /** ST_LineLocatePoint: fraction in [0,1] along the line of the closest
    * point to pt. */
  def lineLocatePoint(lineB: Array[Byte], ptB: Array[Byte]): java.lang.Double = {
    val l = GeoJts.geom(lineB); val p = GeoWkb.readPoint(ptB)
    if (!l.isInstanceOf[LineString] || l.isEmpty || p == null) return null
    val line = new LengthIndexedLine(l)
    if (line.getEndIndex == 0.0) 0.0
    else line.project(new Coordinate(p(0), p(1))) / line.getEndIndex
  }

  /** ST_LineSubstring: the sub-linestring between start/end fractions
    * (0 <= f0 < f1 <= 1; start > end, zero length or non-line → null). */
  def lineSubstring(lineB: Array[Byte], f0: Double, f1: Double): Array[Byte] =
    GeoJts.unary(lineB) {
      case l: LineString if f0 >= 0.0 && f1 <= 1.0 && f0 < f1 && l.getLength > 0.0 =>
        val line = new LengthIndexedLine(l)
        line.extractLine(f0 * line.getEndIndex, f1 * line.getEndIndex)
      case _ => null
    }

  /** ST_Simplify (Douglas-Peucker, JTS: polygon output stays valid;
    * a collapsed part is dropped). Negative tolerance → null. */
  def simplify(bytes: Array[Byte], tol: Double): Array[Byte] =
    GeoJts.unary(bytes)(DouglasPeuckerSimplifier.simplify(_, tol))

  /** ST_IsValid (OGC validity, JTS IsValidOp); malformed WKB and rings or
    * lines JTS cannot build (unclosed, too few points) are invalid. */
  def isValid(bytes: Array[Byte]): java.lang.Boolean = {
    val g = GeoJts.geom(bytes)
    g != null && IsValidOp.isValid(g)
  }

  /** GeoOrderingEquals: same type AND identical coordinate sequences
    * (byte-order/SRID-insensitive — compares parsed coordinates). */
  def orderingEquals(aB: Array[Byte], bB: Array[Byte]): java.lang.Boolean = {
    val a = parse(aB); val b = parse(bB)
    if (a == null || b == null) return null
    a.kind == b.kind && a.rings.length == b.rings.length &&
      a.rings.indices.forall(i => java.util.Arrays.equals(a.rings(i), b.rings(i)))
  }

  // ---- DE-9IM predicates (JTS RelateNG) ---------------------------------

  /** GeoEquals: spatial (topological) equality, ST_Equals. */
  def geoEquals(aB: Array[Byte], bB: Array[Byte]): java.lang.Boolean =
    GeoJts.relate(aB, bB, () => RelatePredicate.equalsTopo())

  def touches(aB: Array[Byte], bB: Array[Byte]): java.lang.Boolean =
    GeoJts.relate(aB, bB, () => RelatePredicate.touches())

  def crosses(aB: Array[Byte], bB: Array[Byte]): java.lang.Boolean =
    GeoJts.relate(aB, bB, () => RelatePredicate.crosses())

  def overlaps(aB: Array[Byte], bB: Array[Byte]): java.lang.Boolean =
    GeoJts.relate(aB, bB, () => RelatePredicate.overlaps())

  /** ST_Covers: no point of b outside a (boundary included, unlike
    * [[GeoGeom.contains]]). */
  def covers(aB: Array[Byte], bB: Array[Byte]): java.lang.Boolean =
    GeoJts.relate(aB, bB, () => RelatePredicate.covers())

  /** ST_ContainsProperly: b lies in a's interior, no boundary contact. */
  def containsProperly(aB: Array[Byte], bB: Array[Byte]): java.lang.Boolean =
    GeoJts.relate(aB, bB, () => RelatePredicate.matches("T**FF*FF*"))

  // ---- set ops, hull, merge, buffer (JTS) -------------------------------
  //
  // GeoIntersection (geospatial.py:426), GeoUnion (:195), GeoDifference
  // (:433), GeoUnaryUnion (:186): OverlayNG, with mixed-dimension
  // collections handled in [[GeoJts.overlay]]. Lineal results re-merge at
  // degree-2 nodes, so a collinear overlap or a touch contact comes back
  // as one LINESTRING while crossings and T-junctions stay split. Empty
  // results → null.

  def intersection(aB: Array[Byte], bB: Array[Byte]): Array[Byte] =
    GeoJts.binary(aB, bB)(GeoJts.overlay(_, _, OverlayNG.INTERSECTION))

  def union(aB: Array[Byte], bB: Array[Byte]): Array[Byte] =
    GeoJts.binary(aB, bB)(GeoJts.overlay(_, _, OverlayNG.UNION))

  def difference(aB: Array[Byte], bB: Array[Byte]): Array[Byte] =
    GeoJts.binary(aB, bB)(GeoJts.overlay(_, _, OverlayNG.DIFFERENCE))

  def unaryUnion(bytes: Array[Byte]): Array[Byte] =
    GeoJts.unary(bytes)(g => GeoJts.merged(UnaryUnionOp.union(g)))

  /** GeoConvexHull: POINT for one distinct point, LINESTRING between the
    * extremes for collinear input, POLYGON otherwise. */
  def convexHull(bytes: Array[Byte]): Array[Byte] =
    GeoJts.unary(bytes)(new ConvexHull(_).getConvexHull)

  /** GeoLineMerge (geospatial.py:131): join lines at degree-2 nodes,
    * either orientation. Non-line input → null. */
  def lineMerge(bytes: Array[Byte]): Array[Byte] =
    GeoJts.unary(bytes)(g => if (g.isInstanceOf[Lineal]) GeoJts.merged(g) else null)

  /** ST_Buffer (geospatial.py:362), JTS BufferOp with round caps and joins
    * at 8 segments per quadrant: a point becomes a 32-gon, and every arc
    * keeps that pitch, so straight, bent and polygon buffers have
    * closed-form areas. Self-overlapping offsets resolve to their union. */
  def buffer(bytes: Array[Byte], r: Double): Array[Byte] =
    GeoJts.unary(bytes)(BufferOp.bufferOp(_, r))

  /** Reproject every vertex with `fn` (null: keep the coordinates) and
    * tag the output with `dstSrid` as EWKB (untagged WKB unless positive).
    * Multi* / GeometryCollection inputs reproject each member. A finite
    * vertex that maps to a non-finite one (outside the projection's
    * domain, where PROJ and PostGIS raise an error) makes the result
    * null; NaN input ordinates (POINT EMPTY) pass through. The map comes
    * from [[GeoReproject]], which resolves it once per expression. */
  def reproject(bytes: Array[Byte], fn: (Double, Double) => (Double, Double),
      dstSrid: Int): Array[Byte] = {
    val g = parse(bytes)
    if (g == null) return null
    val mapped = if (fn == null) g else mapCoords(g, fn)
    if (mapped == null) return null
    val out = GeoGeom.write(mapped)
    if (dstSrid > 0) setSrid(out, dstSrid) else out
  }

  private def finite(x: Double, y: Double): Boolean = x.isFinite && y.isFinite

  /** Apply a coordinate map to every vertex, recursing into Multi* parts
    * (GeoGeom.write reads `parts` for kinds 4-7, `rings` for 1-3); null
    * when a finite vertex maps to a non-finite one. */
  private def mapCoords(g: GeoGeom.Geom,
      fn: (Double, Double) => (Double, Double)): GeoGeom.Geom = {
    val rings = new Array[Array[Double]](g.rings.length)
    var k = 0
    while (k < rings.length) {
      val r = g.rings(k)
      val o = new Array[Double](r.length)
      var i = 0
      while (i < r.length) {
        val (x, y) = fn(r(i), r(i + 1)); o(i) = x; o(i + 1) = y
        if (!finite(x, y) && finite(r(i), r(i + 1))) return null
        i += 2
      }
      rings(k) = o
      k += 1
    }
    if (g.parts == null) return new GeoGeom.Geom(g.kind, rings)
    val parts = g.parts.map(mapCoords(_, fn))
    if (parts.contains(null)) null else new GeoGeom.Geom(g.kind, rings, parts)
  }
}

// ---- Catalyst expressions ------------------------------------------------

/** Binary geometry predicate/measure over the GeoGeomOps table: op →
  * (static method, flip args, negate, result type). Shares the null-safe
  * static-call codegen shape with [[GeoRelate]]. */
case class GeoRelate2(left: Expression, right: Expression, op: String)
    extends BinaryExpression {
  import GeoRelate2.ops
  override def prettyName: String = s"geo_$op"
  private val spec = ops(op)
  override def dataType: DataType = if (spec._2) DoubleType else BooleanType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB inputs")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (m, isDouble, flip) = spec
    val (x, y) = if (flip) (b, a) else (a, b)
    val xB = x.asInstanceOf[Array[Byte]]; val yB = y.asInstanceOf[Array[Byte]]
    if (isDouble) {
      val r = m match {
        case "azimuth" => GeoGeomOps.azimuth(xB, yB)
        case "maxDistance" => GeoGeomOps.maxDistance(xB, yB)
        case "lineLocatePoint" => GeoGeomOps.lineLocatePoint(xB, yB)
      }
      if (r == null) null else r.doubleValue()
    } else {
      val r = m match {
        case "orderingEquals" => GeoGeomOps.orderingEquals(xB, yB)
        case "geoEquals" => GeoGeomOps.geoEquals(xB, yB)
        case "covers" => GeoGeomOps.covers(xB, yB)
        case "containsProperly" => GeoGeomOps.containsProperly(xB, yB)
        case "touches" => GeoGeomOps.touches(xB, yB)
        case "crosses" => GeoGeomOps.crosses(xB, yB)
        case "overlaps" => GeoGeomOps.overlaps(xB, yB)
      }
      if (r == null) null else r.booleanValue()
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (m, isDouble, flip) = spec
      val (x, y) = if (flip) (b, a) else (a, b)
      val r = ctx.freshName("r")
      if (isDouble) s"""
        java.lang.Double $r = graft.exts.GeoGeomOps.$m($x, $y);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
      """ else s"""
        java.lang.Boolean $r = graft.exts.GeoGeomOps.$m($x, $y);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.booleanValue(); }
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object GeoRelate2 {
  /** op → (static method, returns double, flip args). */
  val ops: Map[String, (String, Boolean, Boolean)] = Map(
    "azimuth" -> (("azimuth", true, false)),
    "max_distance" -> (("maxDistance", true, false)),
    "line_locate_point" -> (("lineLocatePoint", true, false)),
    "ordering_equals" -> (("orderingEquals", false, false)),
    "equals" -> (("geoEquals", false, false)),
    "covers" -> (("covers", false, false)),
    "covered_by" -> (("covers", false, true)),
    "contains_properly" -> (("containsProperly", false, false)),
    "touches" -> (("touches", false, false)),
    "crosses" -> (("crosses", false, false)),
    "overlaps" -> (("overlaps", false, false)))
}

/** `geo_union(a, b)` / `geo_difference(a, b)` — polygon boolean set ops
  * (see [[GeoGeomOps.union]]/[[GeoGeomOps.difference]] for the supported
  * operand classes; unsupported shapes evaluate to null, never wrong). */
case class GeoSetOpExpr(left: Expression, right: Expression, op: String)
    extends BinaryExpression {
  override def prettyName: String = s"geo_$op"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB inputs")
  override def nullSafeEval(a: Any, b: Any): Any = op match {
    case "union" => GeoGeomOps.union(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    case "difference" => GeoGeomOps.difference(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
        byte[] $r = graft.exts.GeoGeomOps.$op($a, $b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `geo_intersection(a, b)` — planar-exact intersection geometry
  * (see [[GeoGeomOps.intersection]] for the supported operand classes). */
case class GeoIntersectionExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "geo_intersection"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB inputs")
  override def nullSafeEval(a: Any, b: Any): Any =
    GeoGeomOps.intersection(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
        byte[] $r = graft.exts.GeoGeomOps.intersection($a, $b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Unary geometry + one scalar parameter → WKB: set_srid(int),
  * geometry_n(int), buffer(double), simplify(double). */
case class GeoParam(left: Expression, right: Expression, op: String)
    extends BinaryExpression {
  override def prettyName: String = s"geo_$op"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  private def intParam = op == "set_srid" || op == "geometry_n"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB input")
    else if (intParam && right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires an int parameter")
    else if (!intParam && right.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a double parameter")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(g: Any, p: Any): Any = {
    val b = g.asInstanceOf[Array[Byte]]
    op match {
      case "set_srid" => GeoGeomOps.setSrid(b, p.asInstanceOf[Int])
      case "geometry_n" => GeoGeomOps.geometryN(b, p.asInstanceOf[Int])
      case "buffer" => GeoGeomOps.buffer(b, p.asInstanceOf[Double])
      case "simplify" => GeoGeomOps.simplify(b, p.asInstanceOf[Double])
    }
  }
  private def staticName = op match {
    case "set_srid" => "setSrid"
    case "geometry_n" => "geometryN"
    case other => other
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (g, p) => {
      val r = ctx.freshName("r")
      s"""
        byte[] $r = graft.exts.GeoGeomOps.$staticName($g, $p);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Unary geometry metadata: srid → int, nrings → int, is_valid → boolean,
  * plus WKB re-encoders as_binary / as_ewkb (binary out). */
case class GeoUnaryMeta(child: Expression, op: String) extends UnaryExpression {
  override def prettyName: String = s"geo_$op"
  override def dataType: DataType = op match {
    case "srid" | "nrings" => IntegerType
    case "is_valid" => BooleanType
    case _ => BinaryType
  }
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB input")

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    op match {
      case "srid" => val r = GeoGeomOps.srid(b); if (r == null) null else r.intValue()
      case "nrings" => val r = GeoGeomOps.nRings(b); if (r == null) null else r.intValue()
      case "is_valid" =>
        val r = GeoGeomOps.isValid(b); if (r == null) null else r.booleanValue()
      case "as_binary" => GeoGeomOps.asBinary(b)
      case "as_ewkb" => GeoGeomOps.asEwkb(b)
    }
  }
  private def staticName = op match {
    case "srid" => "srid"
    case "nrings" => "nRings"
    case "is_valid" => "isValid"
    case "as_binary" => "asBinary"
    case "as_ewkb" => "asEwkb"
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val r = ctx.freshName("r")
      op match {
        case "srid" | "nrings" => s"""
          java.lang.Integer $r = graft.exts.GeoGeomOps.$staticName($b);
          if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.intValue(); }
        """
        case "is_valid" => s"""
          java.lang.Boolean $r = graft.exts.GeoGeomOps.$staticName($b);
          if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.booleanValue(); }
        """
        case _ => s"""
          byte[] $r = graft.exts.GeoGeomOps.$staticName($b);
          if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
        """
      }
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `geo_line_substring(line, f0, f1)` — ST_LineSubstring fractions. */
case class GeoLineSubstring(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def prettyName: String = "geo_line_substring"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == BinaryType && second.dataType == DoubleType &&
        third.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, double, double)")
  override def nullSafeEval(l: Any, f0: Any, f1: Any): Any =
    GeoGeomOps.lineSubstring(l.asInstanceOf[Array[Byte]],
      f0.asInstanceOf[Double], f1.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, f0, f1) => {
      val r = ctx.freshName("r")
      s"""
        byte[] $r = graft.exts.GeoGeomOps.lineSubstring($l, $f0, $f1);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
}

/** `geo_transform(g, fromSrid, toSrid)` (GeoTransform, geospatial.py:450)
  * and `geo_convert(g, source, target)` (GeoConvert :459): reproject every
  * vertex through [[ProjEngine]] between two CRS specs, "EPSG:n" from its
  * curated table or a "+proj=..." published-parameter string (datum
  * shifts and units included). geo_transform names its CRSs by SRID
  * (`bySrid`, specs "EPSG:n") and, for equal SRIDs, only sets the SRID,
  * whether or not the table knows it. The output carries the target EPSG
  * code as EWKB SRID; a "+proj=..." target gives untagged WKB. Specs the
  * engine cannot parse fail at plan time via the type check, never per
  * row; the vertex map is resolved once per expression instance. */
case class GeoReproject(child: Expression, source: String, target: String, bySrid: Boolean)
    extends UnaryExpression {
  override def prettyName: String = if (bySrid) "geo_transform" else "geo_convert"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  private def sridOnly = bySrid && source == target
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary WKB input")
    else if (sridOnly) TypeCheckResult.TypeCheckSuccess
    else try {
      ProjEngine.crs(source); ProjEngine.crs(target)
      TypeCheckResult.TypeCheckSuccess
    } catch {
      case e: IllegalArgumentException =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName: ${e.getMessage}")
    }

  @transient private lazy val fn: (Double, Double) => (Double, Double) =
    if (sridOnly) null
    else ProjEngine.transformer(ProjEngine.crs(source), ProjEngine.crs(target))
  @transient private lazy val dstSrid: Int =
    if (sridOnly) target.stripPrefix("EPSG:").toInt else ProjEngine.crs(target).srid

  def reproject(bytes: Array[Byte]): Array[Byte] = GeoGeomOps.reproject(bytes, fn, dstSrid)

  override def nullSafeEval(v: Any): Any = reproject(v.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("reproject", this, classOf[GeoReproject].getName)
    nullSafeCodeGen(ctx, ev, b => {
      val r = ctx.freshName("r")
      s"""
        byte[] $r = $self.reproject($b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GeoReproject {
  /** geo_transform: integer SRIDs as "EPSG:n" specs. */
  def bySrid(child: Expression, fromSrid: Int, toSrid: Int): GeoReproject =
    GeoReproject(child, s"EPSG:$fromSrid", s"EPSG:$toSrid", bySrid = true)
}
