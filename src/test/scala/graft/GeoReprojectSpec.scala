package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.exts.{GeoGeom, GeoGeomOps, GeoReproject, GeoWkb}
import graft.functions.geo

/** geo_transform and geo_convert are one reprojection on ProjEngine: for
  * every pair of the SRIDs geo_transform has always served (4326, 3857
  * web mercator, WGS84 UTM 326zz/327zz, 3035, 5070, 2154) the integer
  * and the "EPSG:n" forms give the same bytes, and the codes it accepts
  * and refuses at plan time stay the same. */
class GeoReprojectSpec extends SparkSpec {
  import spark.implicits._

  private val one = Seq(1).toDF("i")

  private val Legacy: Seq[Int] =
    Seq(4326, 3857, 3035, 5070, 2154) ++ (32601 to 32660) ++ (32701 to 32760)

  /** Paris, New York, Sydney and a southern zone-33 point, one at a time:
    * no UTM zone's domain (90 degrees either side of its central
    * meridian) holds all four, and one point outside it nulls a whole
    * geometry. */
  private val points = Seq(
    GeoWkb.writePoint(2.3522, 48.8566), GeoWkb.writePoint(-73.5, 40.5),
    GeoWkb.writePoint(151.2153, -33.8568), GeoWkb.writePoint(15.0, -33.5))

  private def eval(e: GeoReproject): Array[Byte] = e.eval().asInstanceOf[Array[Byte]]

  test("geo_transform and geo_convert give identical bytes for every legacy pair") {
    var pairs = 0
    var nonNull = 0
    for (pt <- points; a <- Legacy) {
      val in = eval(GeoReproject.bySrid(Literal(pt), 4326, a))
      for (b <- Legacy if b != a && in != null) {
        val t = eval(GeoReproject.bySrid(Literal(in), a, b))
        val c = eval(GeoReproject(Literal(in), s"EPSG:$a", s"EPSG:$b", bySrid = false))
        assert(java.util.Arrays.equals(t, c), s"$a -> $b")
        if (t != null) {
          assert(GeoGeomOps.srid(t).intValue() == b)
          nonNull += 1
        }
        pairs += 1
      }
    }
    assert((pairs, nonNull) == ((32240, 16640)))
  }

  test("codegen and SQL: geo_transform and geo_convert columns agree byte for byte") {
    val srids = Seq(4326, 3857, 32601, 32631, 32633, 32660, 32701, 32733, 32760, 3035, 5070, 2154)
    var nonNull = 0
    for (a <- srids) {
      val df = points.toDF("p").select(geo.transform(col("p"), 4326, a).as("g"))
      val targets = srids.filter(_ != a)
      for (r <- df.select(targets.flatMap(b => Seq(geo.transform(col("g"), a, b),
          geo.convert(col("g"), s"EPSG:$a", s"EPSG:$b"))): _*).collect();
          i <- targets.indices) {
        val (t, c) = (r.getAs[Array[Byte]](2 * i), r.getAs[Array[Byte]](2 * i + 1))
        assert(java.util.Arrays.equals(t, c), s"$a -> ${targets(i)}")
        if (t != null) nonNull += 1
      }
    }
    assert(nonNull == 240)
    val sql = spark.sql("""SELECT
        geo_transform(geo_point(2.3522D, 48.8566D), 4326, 2154) AS t,
        geo_convert(geo_point(2.3522D, 48.8566D), 'EPSG:4326', 'EPSG:2154') AS c""").head()
    assert(sql.getAs[Array[Byte]](0).sameElements(sql.getAs[Array[Byte]](1)))
  }

  test("plan-time acceptance: every legacy SRID accepted, 32600/32761/9999 refused") {
    val p = geo.point(lit(2.0), lit(48.0))
    one.select(Legacy.flatMap { s =>
      val other = if (s == 4326) 3857 else 4326
      Seq(geo.transform(p, other, s), geo.transform(p, s, other))
    }: _*).queryExecution.assertAnalyzed()
    for (s <- Seq(32600, 32761, 9999); (from, to) <- Seq((4326, s), (s, 4326))) {
      val e = intercept[AnalysisException](
        one.select(geo.transform(p, from, to)).queryExecution.assertAnalyzed())
      assert(e.getMessage.contains("geo_transform"), e.getMessage)
    }
    val sqlErr = intercept[AnalysisException](
      spark.sql("SELECT geo_transform(geo_point(2.0D, 48.0D), 4326, 9999)").collect())
    assert(sqlErr.getMessage.contains("geo_transform"))
  }

  test("equal SRIDs only set the SRID, also for codes outside the table") {
    val r = one.select(
      geo.asText(geo.transform(geo.point(lit(2.5), lit(48.5)), 9999, 9999)).as("wkt"),
      geo.srid(geo.transform(geo.point(lit(2.5), lit(48.5)), 9999, 9999)).as("srid")).head()
    assert(r.getString(0) == "POINT (2.5 48.5)")
    assert(r.getInt(1) == 9999)
  }

  test("tmerc is null beyond 90 degrees from the central meridian, unchanged within") {
    val r = one.select(
      geo.transform(geo.point(lit(0.0), lit(10.0)), 4326, 32601),
      geo.x(geo.transform(geo.point(lit(-177.5), lit(10.0)), 4326, 32601)),
      geo.y(geo.transform(geo.point(lit(-177.5), lit(10.0)), 4326, 32601))).head()
    // (0, 10N) lies 177 degrees east of zone 1's meridian, where the
    // series gives a finite northing near that of 170N
    assert(r.isNullAt(0))
    assert((r.getDouble(1), r.getDouble(2)) == ((445201.5878485392, 1105454.0119187704)))
  }

  test("a finite vertex that projects to a non-finite one makes the result null") {
    // 4326 -> UTM zone 1 at 90 degrees from its central meridian on the
    // equator gives (+-Infinity, -Infinity)
    for (lon <- Seq(-87.0, 93.0)) {
      val p = GeoWkb.writePoint(lon, 0)
      assert(eval(GeoReproject.bySrid(Literal(p), 4326, 32601)) == null, s"transform $lon")
      assert(eval(GeoReproject(Literal(p), "EPSG:4326", "EPSG:32601", bySrid = false)) == null,
        s"convert $lon")
    }
    // one such member nulls the whole collection
    val multi = GeoGeom.writeMulti(GeoGeom.MultiPointType, Array(
      GeoWkb.writePoint(-177, 10), GeoWkb.writePoint(-87, 0)))
    assert(eval(GeoReproject.bySrid(Literal(multi), 4326, 32601)) == null)
    val r = spark.sql("""SELECT
        geo_transform(geo_point(-87D, 0D), 4326, 32601) AS t,
        geo_convert(geo_point(-87D, 0D), 'EPSG:4326', 'EPSG:32601') AS c,
        geo_transform(geo_point(-177D, 10D), 4326, 32601) AS ok""").head()
    assert(r.isNullAt(0) && r.isNullAt(1) && !r.isNullAt(2))
    // NaN input ordinates (POINT EMPTY) pass through
    val empty = eval(GeoReproject.bySrid(Literal(GeoWkb.writePoint(Double.NaN, Double.NaN)),
      4326, 32601))
    assert(empty != null && GeoGeomOps.srid(empty).intValue() == 32601)
  }
}
