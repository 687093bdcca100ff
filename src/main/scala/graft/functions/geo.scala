package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.exts.{GeoCoord, GeoIntersectionExpr, GeoLineSubstring, GeoMake, GeoSetOpExpr,
  GeoMeasure, GeoNPointsExpr, GeoParam, GeoPointN, GeoPointWkb, GeoRelate, GeoRelate2,
  GeoReproject, GeoText, GeoTransform, GeoUnaryMeta}

/** Geospatial subset over WKB binary columns (SURVEY.md §2.4; reference
  * ops in ibis/expr/operations/geospatial.py). Euclidean planar semantics
  * — the reference's default geometry behavior.
  *
  * POINT encode/decode/measure plus LINESTRING/POLYGON/Multi*
  * construction, measures (area/length/perimeter/centroid/envelope/
  * bounds), distance/dwithin and accessors (n_points/point_n/start/end/
  * WKT) in graft's own planar math over OGC WKB ([[graft.exts.GeoGeom]]);
  * topology on JTS ([[graft.exts.GeoJts]]): DE-9IM predicates
  * (contains/within/intersects/disjoint/touches/crosses/overlaps/covers/
  * equals), set ops (union/difference/intersection/unary_union),
  * line_merge, convex_hull, buffer, simplify, is_valid and linear
  * referencing; plus SRID/EWKB plumbing, azimuth/max_distance and CRS
  * reprojection: integer-SRID [[transform]] and string-spec [[convert]]
  * through the parameter-driven [[graft.exts.ProjEngine]]. What remains
  * unsupported lives in DIVERGENCES.md §1.
  */
object geo {
  private def ex(c: Column) = org.apache.spark.sql.GraftSqlBridge.expression(c)
  private def co(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftSqlBridge.column(e)

  /** GeoPoint (geospatial.py:397): (x, y) → WKB POINT binary. */
  def point(x: Column, y: Column): Column =
    co(GeoPointWkb(ex(x.cast("double")), ex(y.cast("double"))))

  /** GeoX / GeoY (geospatial.py:423,430): null for non-point WKB. */
  def x(wkb: Column): Column = co(GeoCoord(ex(wkb), 0))
  def y(wkb: Column): Column = co(GeoCoord(ex(wkb), 1))

  /** GeoLineString (geospatial.py:337): array<WKB point> → LINESTRING. */
  def makeLine(points: Column): Column = co(GeoMake(ex(points), "make_line"))

  /** GeoPolygon (geospatial.py:480): array<WKB point> → single-ring
    * POLYGON, auto-closed. */
  def makePolygon(points: Column): Column = co(GeoMake(ex(points), "make_polygon"))

  /** ST_Collect-style constructor (the Multi* / GeometryCollection input
    * path for datatypes/core.py:943-1014): array<WKB> → MULTIPOINT /
    * MULTILINESTRING / MULTIPOLYGON when member kinds are homogeneous,
    * GEOMETRYCOLLECTION otherwise. */
  def collectGeoms(geoms: Column): Column = co(GeoMake(ex(geoms), "collect"))

  /** GeoDistance (geospatial.py:202): Euclidean min distance between any
    * two of point/linestring/polygon (0 on touch/overlap/containment). */
  def distance(a: Column, b: Column): Column = co(GeoRelate(ex(a), ex(b), "distance"))

  /** GeoDWithin (geospatial.py:211): within distance d (inclusive, like
    * ST_DWithin). */
  def dwithin(a: Column, b: Column, d: Column): Column = distance(a, b) <= d

  /** GeoContains / GeoWithin / GeoIntersects / GeoDisjoint
    * (geospatial.py:76,472,296,194): DE-9IM, so a point on a polygon's
    * boundary is neither contained nor within ([[covers]] includes it). */
  def contains(a: Column, b: Column): Column = co(GeoRelate(ex(a), ex(b), "contains"))
  def within(a: Column, b: Column): Column = co(GeoRelate(ex(a), ex(b), "within"))
  def intersects(a: Column, b: Column): Column = co(GeoRelate(ex(a), ex(b), "intersects"))
  def disjoint(a: Column, b: Column): Column = co(GeoRelate(ex(a), ex(b), "disjoint"))

  /** GeoContains (geospatial.py:76) for the rectangle-contains-point case:
    * envelope given as (xmin, ymin, xmax, ymax), boundary inclusive. */
  def containsBox(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
      pt: Column): Column =
    x(pt).between(xmin, xmax) && y(pt).between(ymin, ymax)

  /** GeoArea :28 / GeoLength :318 / GeoPerimeter :381 — ST semantics:
    * area/perimeter are 0 for non-polygons, length is 0 for non-lines. */
  def area(g: Column): Column = co(GeoMeasure(ex(g), "area"))
  def length(g: Column): Column = co(GeoMeasure(ex(g), "length"))
  def perimeter(g: Column): Column = co(GeoMeasure(ex(g), "perimeter"))

  /** GeoXMin/XMax/YMin/YMax (geospatial.py:437-465). */
  def xMin(g: Column): Column = co(GeoMeasure(ex(g), "xmin"))
  def yMin(g: Column): Column = co(GeoMeasure(ex(g), "ymin"))
  def xMax(g: Column): Column = co(GeoMeasure(ex(g), "xmax"))
  def yMax(g: Column): Column = co(GeoMeasure(ex(g), "ymax"))

  /** GeoCentroid :102 / GeoEnvelope :242 / GeoFlipCoordinates :272. */
  def centroid(g: Column): Column = co(GeoTransform(ex(g), "centroid"))
  def envelope(g: Column): Column = co(GeoTransform(ex(g), "envelope"))
  def flipCoordinates(g: Column): Column = co(GeoTransform(ex(g), "flip"))

  /** GeoStartPoint :405 / GeoEndPoint :226 / GeoPointN :389 — n is
    * 0-indexed (ibis convention; negative counts from the end). */
  def startPoint(line: Column): Column = co(GeoTransform(ex(line), "start_point"))
  def endPoint(line: Column): Column = co(GeoTransform(ex(line), "end_point"))
  def pointN(line: Column, n: Int): Column = co(GeoPointN(ex(line), n))

  /** GeoNPoints (geospatial.py:373): total vertex count. */
  def nPoints(wkb: Column): Column = co(GeoNPointsExpr(ex(wkb)))

  /** GeoGeometryType (geospatial.py:287): 'POINT'/'LINESTRING'/'POLYGON'. */
  def geometryType(g: Column): Column = co(GeoText(ex(g), "geometry_type"))

  /** GeoAsText (geospatial.py:44): WKT for point/linestring/polygon —
    * integral coordinates print without a trailing '.0' (PostGIS style). */
  def asText(wkb: Column): Column = co(GeoText(ex(wkb), "as_text"))

  // ---- GeoGeometryOps.scala family ----

  /** GeoAzimuth (geospatial.py:405): north-based clockwise radians in
    * [0, 2π); null for coincident points. */
  def azimuth(a: Column, b: Column): Column = co(GeoRelate2(ex(a), ex(b), "azimuth"))

  /** GeoMaxDistance (geospatial.py:223): largest vertex-pair distance. */
  def maxDistance(a: Column, b: Column): Column =
    co(GeoRelate2(ex(a), ex(b), "max_distance"))

  /** GeoDFullyWithin (geospatial.py:380): every point of each geometry
    * within d of the other ⇔ max distance <= d. */
  def dFullyWithin(a: Column, b: Column, d: Column): Column = maxDistance(a, b) <= d

  /** GeoLineLocatePoint (geospatial.py:116): fraction in [0,1] along the
    * line of the point closest to pt. */
  def lineLocatePoint(line: Column, pt: Column): Column =
    co(GeoRelate2(ex(line), ex(pt), "line_locate_point"))

  /** GeoLineSubstring (geospatial.py:144): sub-linestring between start
    * and end fractions. */
  def lineSubstring(line: Column, f0: Column, f1: Column): Column =
    co(GeoLineSubstring(ex(line), ex(f0.cast("double")), ex(f1.cast("double"))))

  /** GeoSimplify (geospatial.py:440): Douglas-Peucker with tolerance;
    * polygonal output stays valid, collapsed parts are dropped. */
  def simplify(g: Column, tolerance: Column): Column =
    co(GeoParam(ex(g), ex(tolerance.cast("double")), "simplify"))

  /** GeoIsValid (geospatial.py:109): OGC validity (ring closure, finite
    * coords, no self-intersection, holes inside shells, ...). */
  def isValid(g: Column): Column = co(GeoUnaryMeta(ex(g), "is_valid"))

  /** GeoOrderingEquals (geospatial.py:161): same type + identical
    * coordinate order (byte-order/SRID-insensitive). */
  def orderingEquals(a: Column, b: Column): Column =
    co(GeoRelate2(ex(a), ex(b), "ordering_equals"))

  /** GeoEquals (geospatial.py:77): spatial (topological) equality —
    * vertex order, ring start and winding do not matter. */
  def geoEquals(a: Column, b: Column): Column = co(GeoRelate2(ex(a), ex(b), "equals"))

  /** GeoCovers / GeoCoveredBy (geospatial.py:49,56): boundary-inclusive
    * containment. */
  def covers(a: Column, b: Column): Column = co(GeoRelate2(ex(a), ex(b), "covers"))
  def coveredBy(a: Column, b: Column): Column =
    co(GeoRelate2(ex(a), ex(b), "covered_by"))

  /** GeoContainsProperly (geospatial.py:42): b intersects a's interior
    * only (no boundary contact). */
  def containsProperly(a: Column, b: Column): Column =
    co(GeoRelate2(ex(a), ex(b), "contains_properly"))

  /** GeoTouches / GeoCrosses / GeoOverlaps (geospatial.py:179,63,172). */
  def touches(a: Column, b: Column): Column = co(GeoRelate2(ex(a), ex(b), "touches"))
  def crosses(a: Column, b: Column): Column = co(GeoRelate2(ex(a), ex(b), "crosses"))
  def overlaps(a: Column, b: Column): Column =
    co(GeoRelate2(ex(a), ex(b), "overlaps"))

  /** GeoBuffer (geospatial.py:362): round caps and joins at 8 segments
    * per quadrant (a point becomes a 32-gon), any geometry kind. */
  def buffer(g: Column, radius: Column): Column =
    co(GeoParam(ex(g), ex(radius.cast("double")), "buffer"))

  /** GeoSRID / GeoSetSRID (geospatial.py:346,353): EWKB SRID read/write. */
  def srid(g: Column): Column = co(GeoUnaryMeta(ex(g), "srid"))
  def setSrid(g: Column, sridV: Column): Column =
    co(GeoParam(ex(g), ex(sridV.cast("int")), "set_srid"))

  /** GeoNRings (geospatial.py:336): polygon ring count (0 otherwise). */
  def nRings(g: Column): Column = co(GeoUnaryMeta(ex(g), "nrings"))

  /** GeoGeometryN (geospatial.py:84), 0-indexed: single geometries are
    * their own only element. */
  def geometryN(g: Column, n: Column): Column =
    co(GeoParam(ex(g), ex(n.cast("int")), "geometry_n"))

  /** GeoAsBinary / GeoAsEWKB / GeoAsEWKT (geospatial.py:469,476,483). */
  def asBinary(g: Column): Column = co(GeoUnaryMeta(ex(g), "as_binary"))
  def asEWKB(g: Column): Column = co(GeoUnaryMeta(ex(g), "as_ewkb"))
  def asEWKT(g: Column): Column = co(GeoText(ex(g), "as_ewkt"))

  /** GeoTransform (geospatial.py:450): integer-SRID reprojection between
    * any two codes in [[graft.exts.ProjEngine]]'s EPSG table, output
    * tagged with the target SRID as EWKB; equal SRIDs only set it. */
  def transform(g: Column, fromSrid: Int, toSrid: Int): Column =
    co(GeoReproject.bySrid(ex(g), fromSrid, toSrid))

  /** GeoConvert (geospatial.py:459): string-CRS reprojection between any
    * two specs the parameter engine parses — "EPSG:n" from the curated
    * table, or a "+proj=..." published-parameter string (tmerc/utm/lcc/
    * aea/laea/merc/polar-stere on any registry ellipsoid, +towgs84
    * Helmert datum shifts, +units=us-ft etc.). This is the reference's
    * own contract: its docs convert "EPSG:2263" state-plane feet. */
  def convert(g: Column, source: String, target: String): Column =
    co(GeoReproject(ex(g), source, target, bySrid = false))

  /** GeoIntersection (geospatial.py:426): any pair of geometries;
    * touch-only polygons give their contact set. Empty → null. */
  def intersection(a: Column, b: Column): Column =
    co(GeoIntersectionExpr(ex(a), ex(b)))

  /** GeoUnion (geospatial.py:195): any pair of geometries; lineal
    * results are merged at degree-2 nodes. */
  def union(a: Column, b: Column): Column = co(GeoSetOpExpr(ex(a), ex(b), "union"))

  /** GeoDifference (geospatial.py:433): A − B for any pair; A − a
    * lower-dimension B = A. Empty → null. */
  def difference(a: Column, b: Column): Column =
    co(GeoSetOpExpr(ex(a), ex(b), "difference"))

  /** GeoUnaryUnion (geospatial.py:186): dissolve a collection's members. */
  def unaryUnion(g: Column): Column = co(GeoTransform(ex(g), "unary_union"))

  /** GeoLineMerge (geospatial.py:131): stitch MULTILINESTRING members at
    * shared endpoints into maximal linestrings. */
  def lineMerge(g: Column): Column = co(GeoTransform(ex(g), "line_merge"))

  /** GeoConvexHull (geospatial.py:95): hull of any geometry (Multi*
    * included); point/line degenerate outputs follow PostGIS. */
  def convexHull(g: Column): Column = co(GeoTransform(ex(g), "convex_hull"))
}
