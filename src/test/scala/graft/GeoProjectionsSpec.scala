package graft

import org.apache.spark.sql.functions._

import graft.exts.ProjEngine
import graft.functions.geo

/** The conic/azimuthal CRSs of ProjEngine's EPSG table (EPSG:3035 LAEA
  * Europe, 5070 Conus Albers, 2154 Lambert-93): projection-origin anchors that the EPSG
  * definitions fix EXACTLY (false easting/northing at the projection
  * center), forward∘inverse identity over each region, meridian-arc scale
  * sanity (a formula-level error shows up at km scale), and the
  * geo_transform column surface incl. CRS hops. */
class GeoProjectionsSpec extends SparkSpec {
  import spark.implicits._

  private val one = Seq(1).toDF("i")

  private def forward(srid: Int) = ProjEngine.crs(s"EPSG:$srid").fwd
  private def inverse(srid: Int) = ProjEngine.crs(s"EPSG:$srid").inv
  private val laeaForward = forward(3035)
  private val albersForward = forward(5070)
  private val lcc93Forward = forward(2154)

  test("projection centers map exactly onto their false origins") {
    // EPSG definitions: natural origin → (FE, FN) with zero error
    val laea = laeaForward(10.0, 52.0)
    assert(math.abs(laea._1 - 4321000.0) < 1e-6 && math.abs(laea._2 - 3210000.0) < 1e-6)
    val alb = albersForward(-96.0, 23.0)
    assert(math.abs(alb._1) < 1e-6 && math.abs(alb._2) < 1e-6)
    val lcc = lcc93Forward(3.0, 46.5)
    assert(math.abs(lcc._1 - 700000.0) < 1e-6 && math.abs(lcc._2 - 6600000.0) < 1e-6)
  }

  test("forward∘inverse identity over each CRS's home region") {
    def roundtrip(srid: Int, lons: Seq[Double], lats: Seq[Double]): Unit =
      for (lon <- lons; lat <- lats) {
        val (x, y) = forward(srid)(lon, lat)
        val (lon2, lat2) = inverse(srid)(x, y)
        assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9,
          s"$srid roundtrip ($lon,$lat) -> ($x,$y) -> ($lon2,$lat2)")
      }
    roundtrip(3035, Seq(-10.0, 0.0, 10.0, 25.0, 40.0), Seq(35.0, 45.0, 52.0, 60.0, 70.0))
    roundtrip(5070, Seq(-124.0, -110.0, -96.0, -80.0, -67.0), Seq(24.0, 30.0, 38.0, 45.0, 49.0))
    roundtrip(2154, Seq(-4.5, 0.0, 3.0, 6.0, 9.5), Seq(41.5, 44.0, 46.5, 49.0, 51.0))
  }

  test("meridian-arc scale along the central meridian is ~111 km/degree") {
    // a formula-level mistake (wrong n, swapped parallels, degree/radian
    // slip) moves this by kilometers; projection scale distortion within
    // the standard parallels stays well under 0.2%
    def dy(f: (Double, Double) => (Double, Double), lon: Double, lat: Double): Double =
      f(lon, lat + 1.0)._2 - f(lon, lat)._2
    // window spans the projections' legitimate meridian-scale distortion
    // (Albers' h=1/k exceeds 1 between its standard parallels by ~1%)
    for ((d, tag) <- Seq(
        (dy(laeaForward, 10.0, 52.0), "laea"),
        (dy(albersForward, -96.0, 37.0), "albers"),
        (dy(lcc93Forward, 3.0, 46.5), "lcc")))
      assert(d > 110000.0 && d < 113000.0, s"$tag meridian step $d")
  }

  test("equal-area property: Albers and LAEA cell areas match the ellipsoid") {
    // 1°x1° quad area on GRS80 near 45N ≈ 8,765 km²; equal-area
    // projections must preserve it (conformal LCC need not). Shoelace of
    // the projected quad vs the authalic-sphere value.
    def quadArea(f: (Double, Double) => (Double, Double),
        lon: Double, lat: Double): Double = {
      val pts = Seq((lon, lat), (lon + 1, lat), (lon + 1, lat + 1), (lon, lat + 1))
        .map { case (lo, la) => f(lo, la) }
      val n = pts.length
      math.abs((0 until n).map { i =>
        val (x1, y1) = pts(i); val (x2, y2) = pts((i + 1) % n)
        x1 * y2 - x2 * y1
      }.sum / 2.0)
    }
    // exact ellipsoidal quad area: dA = a^2 q(phi)/2 per radian longitude
    val a = 6378137.0; val f = 1.0 / 298.257222101
    val e2 = f * (2.0 - f); val e = math.sqrt(e2)
    def q(latDeg: Double): Double = {
      val s = math.sin(math.toRadians(latDeg))
      (1.0 - e2) * (s / (1.0 - e2 * s * s) -
        (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))
    }
    def ellQuad(lat: Double): Double =
      math.toRadians(1.0) * a * a * (q(lat + 1) - q(lat)) / 2.0
    val aL = quadArea(laeaForward, 12.0, 48.0)
    val aA = quadArea(albersForward, -100.0, 40.0)
    // the projected quad has straight edges where the graticule curves —
    // the chord approximation costs a few ppm at 1-degree cells
    assert(math.abs(aL / ellQuad(48.0) - 1.0) < 1e-4, s"LAEA area ratio ${aL / ellQuad(48.0)}")
    assert(math.abs(aA / ellQuad(40.0) - 1.0) < 1e-4, s"Albers area ratio ${aA / ellQuad(40.0)}")
  }

  test("geo_transform column surface: new SRIDs roundtrip and hop through other CRSs") {
    val paris = geo.point(lit(2.3522), lit(48.8566))
    val r = one.select(
      geo.x(geo.transform(paris, 4326, 2154)).as("x93"),
      geo.y(geo.transform(paris, 4326, 2154)).as("y93"),
      geo.srid(geo.transform(paris, 4326, 2154)).as("srid"),
      geo.x(geo.transform(geo.transform(paris, 4326, 2154), 2154, 4326)).as("lon"),
      // Lambert-93 → web mercator hops through lon/lat
      geo.x(geo.transform(geo.transform(paris, 4326, 2154), 2154, 3857)).as("mx")).head()
    // Paris in Lambert-93 sits ~650 km E / ~6.86 Mm N (coarse envelope —
    // the exact anchors above pin the math; this pins the wiring)
    assert(r.getDouble(0) > 600000 && r.getDouble(0) < 700000)
    assert(r.getDouble(1) > 6800000 && r.getDouble(1) < 6900000)
    assert(r.getInt(2) == 2154)
    assert(math.abs(r.getDouble(3) - 2.3522) < 1e-9)
    val mercX = 6378137.0 * math.toRadians(2.3522)
    assert(math.abs(r.getDouble(4) - mercX) < 1e-6)
  }
}
