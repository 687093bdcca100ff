package graft

import graft.exts.{GeoGeomOps, ProjEngine, GeoGeom}

/** The parameter-driven CRS engine (exts/ProjEngine.scala) verified four
  * independent ways:
  *
  *  1. GOLDEN COORDINATES: the generalized engines must reproduce the
  *     outputs of independent hand-written projections (Krüger UTM,
  *     Lambert-93, Conus Albers, LAEA Europe — each Snyder-cross-checked
  *     and corpus-oracle-verified) to sub-micron at many points.
  *  2. PUBLISHED WORKED EXAMPLES: OSGB National Grid test points from
  *     the OS coordinate-systems guide / EPSG Guidance Note 7-2, web
  *     mercator's closed form, UPS pole anchors.
  *  3. MATHEMATICAL PROPERTIES: conformal projections have a similarity
  *     Jacobian (checked by central differences against the ellipsoidal
  *     ground metric); equal-area projections have unit areal distortion;
  *     variant-B stereographic has scale exactly 1 at its standard
  *     parallel.
  *  4. ROUND-TRIPS: every curated EPSG entry inverts to sub-0.1mm over
  *     its service domain; cross-datum trips (through the Helmert hub
  *     and its small-angle reverse) round-trip to ~1cm.
  */
class ProjEngineSpec extends SparkSpec {

  private def fwd(spec: String) = ProjEngine.crs(spec).fwd
  private def inv(spec: String) = ProjEngine.crs(spec).inv
  private def transformerFor(source: String, target: String) =
    ProjEngine.transformer(ProjEngine.crs(source), ProjEngine.crs(target))
  private def grid(lo: Double, hi: Double, step: Double): Seq[Double] =
    Iterator.iterate(lo)(_ + step).takeWhile(_ <= hi + 1e-12).toSeq

  // ---- 1. golden coordinates -------------------------------------------
  // (lon, lat, x, y) from independent hand-written projections (the
  // Krüger UTM series and Snyder's Lambert-93, Conus Albers and LAEA
  // Europe formulas), computed once at these grid points.

  private val Utm33N = Seq(
    (12.0, -80.0, 441867.784867201, -8883084.955948174),
    (12.0, -63.6, 351210.61229949305, -7055932.481133791),
    (12.0, -47.2, 272783.61738930637, -5231756.303514236),
    (12.0, -30.8, 212942.99380768306, -3411287.525391733),
    (12.0, -14.4, 176465.4389342371, -1594072.8931648796),
    (12.0, 2.0, 166223.90762323886, 221366.166030342),
    (12.0, 18.4, 183019.1074778972, 2037062.0336425577),
    (12.0, 34.8, 225536.54999218637, 3854967.2384950137),
    (12.0, 51.2, 290418.00969548663, 5676343.883847493),
    (12.0, 67.6, 372465.05386262655, 7501356.792741483),
    (12.0, 84.0, 465005.34493886, 9329005.182447331),
    (13.5, -80.0, 470924.52910072857, -8881960.653589336),
    (13.5, -63.6, 425589.88570202247, -7053314.819952804),
    (13.5, -47.2, 386388.85656439647, -5228481.073592274),
    (13.5, -30.8, 356495.0604602031, -3408399.250950386),
    (13.5, -14.4, 338281.6406562771, -1592491.5921982036),
    (13.5, 2.0, 333169.41387473524, 221137.22062251938),
    (13.5, 18.4, 341553.34825880744, 2035095.6886763293),
    (13.5, 34.8, 362784.7963533681, 3851889.4124948755),
    (13.5, 51.2, 395201.31038157514, 5673135.240771909),
    (13.5, 67.6, 436217.01366366853, 7499040.9311178215),
    (13.5, 84.0, 482496.8054508213, 9328321.70501815),
    (15.0, -80.0, 500000.0, -8881585.815987969),
    (15.0, -63.6, 500000.0, -7052442.303673656),
    (15.0, -47.2, 500000.0, -5227389.774692412),
    (15.0, -30.8, 500000.0, -3407437.2536511626),
    (15.0, -14.4, 500000.0, -1591965.0557084864),
    (15.0, 2.0, 500000.0, 221060.99359078595),
    (15.0, 18.4, 500000.0, 2034440.9068764562),
    (15.0, 34.8, 500000.0, 3850864.1906349286),
    (15.0, 51.2, 500000.0, 5672066.026412612),
    (15.0, 67.6, 500000.0, 7498268.954662959),
    (15.0, 84.0, 500000.0, 9328093.830560401),
    (16.5, -80.0, 529075.4708992718, -8881960.653589336),
    (16.5, -63.6, 574410.1142979774, -7053314.819952804),
    (16.5, -47.2, 613611.1434356035, -5228481.073592274),
    (16.5, -30.8, 643504.9395397969, -3408399.250950386),
    (16.5, -14.4, 661718.359343723, -1592491.5921982036),
    (16.5, 2.0, 666830.5861252649, 221137.22062251938),
    (16.5, 18.4, 658446.6517411927, 2035095.6886763293),
    (16.5, 34.8, 637215.203646632, 3851889.4124948755),
    (16.5, 51.2, 604798.6896184252, 5673135.240771909),
    (16.5, 67.6, 563782.9863363312, 7499040.9311178215),
    (16.5, 84.0, 517503.1945491788, 9328321.70501815),
    (18.0, -80.0, 558132.215132799, -8883084.955948174),
    (18.0, -63.6, 648789.3877005072, -7055932.481133791),
    (18.0, -47.2, 727216.3826106938, -5231756.303514236),
    (18.0, -30.8, 787057.0061923172, -3411287.525391733),
    (18.0, -14.4, 823534.5610657627, -1594072.8931648796),
    (18.0, 2.0, 833776.0923767611, 221366.166030342),
    (18.0, 18.4, 816980.8925221029, 2037062.0336425577),
    (18.0, 34.8, 774463.4500078137, 3854967.2384950137),
    (18.0, 51.2, 709581.9903045133, 5676343.883847493),
    (18.0, 67.6, 627534.9461373737, 7501356.792741483),
    (18.0, 84.0, 534994.6550611403, 9329005.182447331))
  private val Utm33S = Seq(
    (15.0, -33.5, 500000.0, 6293280.7794957105))
  private val Lambert93 = Seq(
    (-4.0, 41.0, 109742.0865046226, 6014745.935602641),
    (-4.0, 43.3, 132404.17144086096, 6269712.228287555),
    (-4.0, 45.6, 155025.96801522118, 6524225.245190684),
    (-4.0, 47.9, 177642.62271708495, 6778680.411981097),
    (-4.0, 50.2, 200290.64741577208, 7033488.515926857),
    (-1.3, 41.0, 337117.0614298217, 5998448.755721143),
    (-1.3, 43.3, 351049.4184347288, 6254040.754671492),
    (-1.3, 45.6, 364957.006675314, 6509178.365467537),
    (-1.3, 47.9, 378861.43375912576, 6764257.984182384),
    (-1.3, 50.2, 392785.1467116568, 7019691.406186633),
    (1.4, 41.0, 564916.2751120167, 5989934.3244366385),
    (1.4, 43.3, 570102.6161621294, 6245853.222460327),
    (1.4, 45.6, 575279.7370021141, 6501317.151172762),
    (1.4, 47.9, 580455.68109669, 6756723.013632828),
    (1.4, 50.2, 585638.8043851805, 7012483.131892422),
    (4.1, 41.0, 792873.4123156718, 5989212.595790391),
    (4.1, 43.3, 789307.6741695241, 6245159.203524544),
    (4.1, 45.6, 785748.2751465946, 6500650.792685477),
    (4.1, 47.9, 782189.685165329, 6756084.309306898),
    (4.1, 50.2, 778626.1593101299, 7011872.120085021),
    (6.8, 41.0, 1020721.9731802079, 5996284.413540072),
    (6.8, 43.3, 1008408.3244667379, 6251959.509226977),
    (6.8, 45.6, 996116.5667988977, 6507180.069031275),
    (6.8, 47.9, 983827.6030139608, 6762342.6179002905),
    (6.8, 50.2, 971521.5940576677, 7017859.085085387))
  private val ConusAlbers = Seq(
    (-124.0, 25.0, -2819919.5132077145, 636573.3879087511),
    (-124.0, 30.7, -2637266.1501348265, 1238463.426780805),
    (-124.0, 36.4, -2452455.68392724, 1847461.6779942662),
    (-124.0, 42.1, -2267024.2506871955, 2458506.176071276),
    (-124.0, 47.8, -2082916.9776895852, 3065187.223914558),
    (-112.7, 25.0, -1697693.904903937, 367671.23843609914),
    (-112.7, 30.7, -1587729.9503489663, 986978.7538384777),
    (-112.7, 36.4, -1476467.3414079843, 1613600.1788253412),
    (-112.7, 42.1, -1364830.8877734877, 2242327.0649082847),
    (-112.7, 47.8, -1253991.6266695468, 2866564.2313608853),
    (-101.4, 25.0, -551493.5615915591, 233792.73039846122),
    (-101.4, 30.7, -515771.9201525244, 861771.8974638488),
    (-101.4, 36.4, -479628.412598197, 1497167.384749202),
    (-101.4, 42.1, -443363.4621024107, 2134697.8141635014),
    (-101.4, 47.8, -407357.47851855133, 2767675.658111453),
    (-90.1, 25.0, 602494.94185965, 236828.48833321035),
    (-90.1, 30.7, 563469.81123105, 864611.0216316916),
    (-90.1, 36.4, 523983.8008781747, 1499807.5529409647),
    (-90.1, 42.1, 484365.11670451664, 2137138.357882944),
    (-90.1, 47.8, 445029.348353293, 2769918.002870879),
    (-78.8, 25.0, 1747975.0466334617, 376735.6414425969),
    (-78.8, 30.7, 1634754.25457195, 995456.0323949251),
    (-78.8, 36.4, 1520196.3454633711, 1621483.3990983227),
    (-78.8, 42.1, 1405253.5193837811, 2249614.2308495427),
    (-78.8, 47.8, 1291131.4965401269, 2873259.599376329),
    (-67.5, 25.0, 2868770.349027038, 651538.4290126786),
    (-67.5, 30.7, 2682952.7930012913, 1252459.1440890152),
    (-67.5, 36.4, 2494940.765295189, 1860476.6239683023),
    (-67.5, 42.1, 2306297.013243021, 2470537.0552989393),
    (-67.5, 47.8, 2119000.360504526, 3076241.0635866467))
  private val LaeaEurope = Seq(
    (-10.0, 35.0, 2498537.999600948, 1565571.7660226654),
    (-10.0, 42.3, 2688188.6730765, 2351536.8732486237),
    (-10.0, 49.6, 2895507.2500518467, 3138960.3429576056),
    (-10.0, 56.9, 3119539.662094362, 3924564.0944202333),
    (-10.0, 64.2, 3359369.2273404393, 4704968.702380642),
    (-1.9, 35.0, 3227802.1108485255, 1412153.2531626094),
    (-1.9, 42.3, 3341011.262109515, 2210405.8526814436),
    (-1.9, 49.6, 3464937.7428406146, 3012576.79117259),
    (-1.9, 56.9, 3599033.097621134, 3815380.715486073),
    (-1.9, 64.2, 3742773.315843191, 4615440.908130808),
    (6.2, 35.0, 3970525.8862277293, 1336460.2655493545),
    (6.2, 42.3, 4006733.4374746927, 2140724.928221424),
    (6.2, 49.6, 4046395.456874946, 2950128.0762272794),
    (6.2, 56.9, 4089339.9289778466, 3761384.791310856),
    (6.2, 64.2, 4135403.0203020973, 4571124.275370814),
    (14.3, 35.0, 4717539.219779121, 1338872.7449351535),
    (14.3, 42.3, 4676569.550651066, 2142946.3005502475),
    (14.3, 49.6, 4631692.034943171, 2952119.389185545),
    (14.3, 56.9, 4583101.435372168, 3763107.037704752),
    (14.3, 64.2, 4530983.2700183755, 4572538.212369081),
    (22.4, 35.0, 5459698.2737168195, 1419378.6821481816),
    (22.4, 42.3, 5341750.228057918, 2217055.6589177046),
    (22.4, 49.6, 5212644.5704227565, 3018534.7219675784),
    (22.4, 56.9, 5072953.762387515, 3820530.6156414617),
    (22.4, 64.2, 4923224.907408408, 4619666.216301917))

  private def assertGolden(spec: String, golden: Seq[(Double, Double, Double, Double)]) = {
    val f = fwd(spec)
    for ((lon, lat, x2, y2) <- golden) {
      val (x1, y1) = f(lon, lat)
      assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6,
        s"$spec mismatch at ($lon,$lat): ($x1,$y1) vs ($x2,$y2)")
    }
  }

  test("tmerc agrees with the hardcoded Krüger UTM to sub-micron") {
    assertGolden("EPSG:32633", Utm33N) // UTM 33N
    assertGolden("EPSG:32733", Utm33S) // UTM 33S false northing
  }

  test("projected inverses wrap longitude into [-180, 180] like PROJ's adjlon") {
    // the unwrapped Krüger forward image of (60°E, 10°N), 237° west of
    // UTM 1N's central meridian (outside the forward's domain, so the
    // forward itself refuses it); its unwrapped inverse is -300°, and
    // that far out the series keeps only ~1e-8° of accuracy
    val (x, y) = (-7005932.968460759, 1.7998842724921867e7)
    val (lon, lat) = inv("EPSG:32601")(x, y)
    assert(math.abs(lon - 60.0) < 1e-6 && math.abs(lat - 10.0) < 1e-6, s"($lon, $lat)")
    // an in-zone longitude passes through unchanged
    val (x2, y2) = fwd("EPSG:32601")(-177.5, 10.0)
    assert(math.abs(inv("EPSG:32601")(x2, y2)._1 + 177.5) < 1e-9)
  }

  test("lcc 2SP agrees with the hardcoded Lambert-93") {
    assertGolden("EPSG:2154", Lambert93)
  }

  test("aea agrees with the hardcoded Conus Albers") {
    assertGolden("EPSG:5070", ConusAlbers)
  }

  test("laea agrees with the hardcoded LAEA Europe") {
    assertGolden("EPSG:3035", LaeaEurope)
  }

  // ---- 2. published worked examples --------------------------------------

  test("OSGB National Grid worked examples (projection step, Airy ellipsoid)") {
    // OSGB36 geodetic -> grid, NO datum shift: the pure tmerc step.
    val osgb = fwd("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 " +
      "+x_0=400000 +y_0=-100000 +ellps=airy")
    // EPSG Guidance Note 7-2 example for 27700: 50°30'N 0°30'E
    val (e1, n1) = osgb(0.5, 50.5)
    assert(math.abs(e1 - 577274.99) < 0.01, s"E=$e1")
    assert(math.abs(n1 - 69740.50) < 0.01, s"N=$n1")
    // OS guide example: 52°39'27.2531"N 1°43'4.5177"E
    val lat2 = 52.0 + 39.0 / 60.0 + 27.2531 / 3600.0
    val lon2 = 1.0 + 43.0 / 60.0 + 4.5177 / 3600.0
    val (e2, n2) = osgb(lon2, lat2)
    assert(math.abs(e2 - 651409.903) < 0.01, s"E=$e2")
    assert(math.abs(n2 - 313177.270) < 0.01, s"N=$n2")
  }

  test("oblique (double) stereographic: Dutch RD worked example, EPSG GN7-2") {
    // projection step only (Bessel ellipsoid, Amersfoort datum geodetic in):
    // GN7-2 §1.3.7.1 example — 53°N 6°E → E 196105.283, N 557057.739
    val rd = fwd("+proj=sterea +lat_0=52.15616055555555 " +
      "+lon_0=5.38763888888889 +k=0.9999079 +x_0=155000 +y_0=463000 +ellps=bessel")
    val (e1, n1) = rd(6.0, 53.0)
    assert(math.abs(e1 - 196105.283) < 0.01, s"E=$e1")
    assert(math.abs(n1 - 557057.739) < 0.01, s"N=$n1")
    // origin anchor: the natural origin lands exactly on (FE, FN)
    val (e0, n0) = rd(5.38763888888889, 52.15616055555555)
    assert(math.abs(e0 - 155000.0) < 1e-6 && math.abs(n0 - 463000.0) < 1e-6)
  }

  test("somerc: Swiss cylinder — exact center anchor, sphere degenerates to Mercator") {
    // the projection center is the fundamental point: maps exactly to (FE, FN)
    val lv95 = fwd("EPSG:2056")
    val (e0, n0) = lv95(7.439583333333333, 46.95240555555556)
    assert(math.abs(e0 - 2600000.0) < 1e-6 && math.abs(n0 - 1200000.0) < 1e-6)
    // on a sphere with lat_0=0 the Swiss cylinder IS plain Mercator
    val degen = fwd("+proj=somerc +lat_0=0 +lon_0=0 +a=6378137 +b=6378137")
    val merc = fwd("+proj=merc +a=6378137 +b=6378137")
    for (lon <- grid(-120.0, 120.0, 47.0); lat <- grid(-60.0, 60.0, 23.0)) {
      val (x1, y1) = degen(lon, lat); val (x2, y2) = merc(lon, lat)
      assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6,
        s"degenerate somerc != merc at ($lon,$lat)")
    }
    // city sanity through the full WGS84 -> CH1903+ datum path:
    // Zurich main station sits near 2683000 / 1248000 on the LV95 grid
    val t = transformerFor("EPSG:4326", "EPSG:2056")
    val (ez, nz) = t(8.540192, 47.377453)
    assert(math.abs(ez - 2683000.0) < 2000.0, s"Zurich E=$ez")
    assert(math.abs(nz - 1248000.0) < 2000.0, s"Zurich N=$nz")
  }

  test("omerc: Hotine oblique Mercator — GN7-2 Timbalai/Borneo worked example") {
    // EPSG 29873 (Timbalai 1948 / RSO Borneo (m), method 9815 variant B):
    // Everest 1830 (1967), center 4N 115E, alpha 53 18 56.9537,
    // gamma 53 07 48.3685, k0 0.99984, Ec 590476.87, Nc 442857.65.
    // Worked point: 5 23 14.1129 N, 115 48 19.8196 E ->
    //               E 679245.73, N 596562.78
    val rso = fwd("+proj=omerc +lat_0=4 +lonc=115 " +
      "+alpha=53.31582047222222 +gamma=53.13010236111111 +k_0=0.99984 " +
      "+x_0=590476.87 +y_0=442857.65 +ellps=evrstSS")
    val lat = 5.0 + 23.0 / 60.0 + 14.1129 / 3600.0
    val lon = 115.0 + 48.0 / 60.0 + 19.8196 / 3600.0
    val (e1, n1) = rso(lon, lat)
    assert(math.abs(e1 - 679245.73) < 0.02, s"E=$e1")
    assert(math.abs(n1 - 596562.78) < 0.02, s"N=$n1")
    // round-trip across the Borneo domain
    val g = inv("+proj=omerc +lat_0=4 +lonc=115 " +
      "+alpha=53.31582047222222 +gamma=53.13010236111111 +k_0=0.99984 " +
      "+x_0=590476.87 +y_0=442857.65 +ellps=evrstSS")
    for (lo <- grid(109.5, 119.0, 2.3); la <- grid(0.8, 7.3, 1.7)) {
      val (xx, yy) = rso(lo, la)
      val (lo2, la2) = g(xx, yy)
      assert(math.abs(lo2 - lo) < 1e-9 && math.abs(la2 - la) < 1e-9,
        s"omerc roundtrip at ($lo,$la)")
    }
  }

  test("krovak: conformal oblique conic — Prague anchor, scale envelope, czech flip") {
    // WGS84 -> S-JTSK East-North through the published 3-param shift:
    // central Prague sits near E -743000, N -1044000 on the 5514 grid
    val t = transformerFor("EPSG:4326", "EPSG:5514")
    val (ep, np) = t(14.4206, 50.0875)
    assert(math.abs(ep + 743000.0) < 3000.0, s"Prague E=$ep")
    assert(math.abs(np + 1044000.0) < 3000.0, s"Prague N=$np")
    // Krovak keeps scale within 1 +/- 1.5e-4 across Czechia by design
    val crs = ProjEngine.crs("EPSG:5514")
    for ((lo, la) <- Seq((12.8, 50.3), (14.4, 50.1), (16.6, 49.2), (18.2, 49.7))) {
      val (dxdl, dydl, dxdp, dydp, gl, gp) =
        jacobian(crs.fwd, lo, la, crs.ell.a, crs.ell.e2)
      val kPar = math.hypot(dxdl, dydl) / gl
      val kMer = math.hypot(dxdp, dydp) / gp
      assert(math.abs(kPar / kMer - 1.0) < 1e-5, s"krovak anisotropy at ($lo,$la)")
      assert(math.abs(kPar - 1.0) < 1.5e-4, s"krovak scale $kPar at ($lo,$la)")
    }
    // +czech flips to positive southing/westing (EPSG 2065 convention)
    val pos = fwd("+proj=krovak +lat_0=49.5 +lon_0=24.833333333333332 " +
      "+k_0=0.9999 +ellps=bessel +czech")
    val neg = fwd("+proj=krovak +lat_0=49.5 +lon_0=24.833333333333332 " +
      "+k_0=0.9999 +ellps=bessel")
    val (xp, yp) = pos(14.4206, 50.0875); val (xn, yn) = neg(14.4206, 50.0875)
    assert(xp > 0 && yp > 0 && xp == -xn && yp == -yn)
  }

  test("cea: EASE-Grid 2.0 anchors — k0 at lat_ts, authalic row spacing") {
    val crs = ProjEngine.crs("EPSG:6933")
    // scale along the standard parallel is exactly 1
    val (dxdl, dydl, _, _, gl, _) =
      jacobian(crs.fwd, 40.0, 30.0, crs.ell.a, crs.ell.e2)
    assert(math.abs(math.hypot(dxdl, dydl) / gl - 1.0) < 1e-8)
    // equator-to-pole northing equals a*q(90)/2k0; the published EASE 2.0
    // full-grid half-height is ~7,342,230 m
    val (_, yPole) = crs.fwd(0.0, 90.0)
    assert(math.abs(yPole - 7342230.0) < 200.0, s"pole northing $yPole")
  }

  test("web mercator closed form") {
    val f = fwd("EPSG:3857")
    val (x, _) = f(180.0, 0.0)
    assert(math.abs(x - 20037508.342789244) < 1e-6)
    val (_, y) = f(0.0, 45.0)
    // spherical: y = R ln tan(pi/4 + phi/2)
    assert(math.abs(y - 6378137.0 * math.log(math.tan(math.Pi / 4 + math.Pi / 8))) < 1e-6)
  }

  test("UPS pole anchors and polar stereographic domains") {
    val upsN = fwd("EPSG:5041")
    val (x, y) = upsN(37.0, 90.0) // any lon at the pole
    assert(math.abs(x - 2000000.0) < 1e-6 && math.abs(y - 2000000.0) < 1e-6)
    val aps = fwd("EPSG:3031")
    val (xs, ys) = aps(123.0, -90.0)
    assert(math.abs(xs) < 1e-6 && math.abs(ys) < 1e-6)
    // north aspect: y must be NEGATIVE on the central meridian (Snyder 21-34)
    val (_, yN) = fwd("EPSG:3413")(-45.0, 80.0)
    assert(yN < 0.0)
  }

  // ---- 3. mathematical properties -----------------------------------------

  /** Numerical Jacobian in meters per (radian-scaled) geodetic axis. */
  private def jacobian(f: (Double, Double) => (Double, Double),
      lon: Double, lat: Double, a: Double, e2: Double)
      : (Double, Double, Double, Double, Double, Double) = {
    val h = 1e-6 // degrees
    val (xe, ye) = f(lon + h, lat); val (xw, yw) = f(lon - h, lat)
    val (xn, yn) = f(lon, lat + h); val (xsx, ysx) = f(lon, lat - h)
    val dRad = math.toRadians(2 * h)
    val dxdl = (xe - xw) / dRad; val dydl = (ye - yw) / dRad
    val dxdp = (xn - xsx) / dRad; val dydp = (yn - ysx) / dRad
    val phi = math.toRadians(lat); val s = math.sin(phi)
    val nu = a / math.sqrt(1 - e2 * s * s)              // prime vertical
    val rm = a * (1 - e2) / math.pow(1 - e2 * s * s, 1.5) // meridian radius
    (dxdl, dydl, dxdp, dydp, nu * math.cos(phi), rm)
  }

  test("conformality: lcc/tmerc/merc/stere Jacobians are similarity maps") {
    val cases = Seq(
      ("EPSG:2263", -73.5, 40.8, 1200.0 / 3937.0), // values in us-ft: rescale
      ("EPSG:27700", -1.0, 53.0, 1.0),
      ("EPSG:3031", 45.0, -75.0, 1.0),
      ("EPSG:3413", -30.0, 75.0, 1.0),
      ("EPSG:31370", 4.5, 50.8, 1.0),
      ("EPSG:28992", 5.2, 52.3, 1.0),
      ("EPSG:2056", 8.1, 46.6, 1.0),
      ("EPSG:3375", 101.5, 3.2, 1.0),
      ("EPSG:29873", 114.0, 4.5, 1.0),
      ("EPSG:3857", 10.0, 40.0, 1.0))
    for ((spec, lon, lat, unit) <- cases) {
      val crs = ProjEngine.crs(spec)
      val (dxdl, dydl, dxdp, dydp, gl, gp) =
        jacobian(crs.fwd, lon, lat, crs.ell.a, crs.ell.e2)
      // scale along parallel == scale along meridian; zero shear
      val kPar = unit * math.hypot(dxdl, dydl) / gl
      val kMer = unit * math.hypot(dxdp, dydp) / gp
      assert(math.abs(kPar / kMer - 1.0) < 1e-5, s"$spec anisotropy $kPar vs $kMer")
      val dot = dxdl * dxdp + dydl * dydp
      assert(math.abs(dot) / (gl * gp) < 1e-5, s"$spec shear")
    }
  }

  test("equal-area: aea/laea areal distortion is exactly 1") {
    val cases = Seq(("EPSG:5070", -100.0, 40.0), ("EPSG:3035", 15.0, 55.0),
      ("EPSG:3577", 134.0, -25.0), ("EPSG:6933", 80.0, -40.0),
      ("+proj=aea +lat_1=20 +lat_2=-10 +lat_0=5 +lon_0=120 +ellps=WGS84", 115.0, 2.0))
    for ((spec, lon, lat) <- cases) {
      val crs = ProjEngine.crs(spec)
      val (dxdl, dydl, dxdp, dydp, gl, gp) =
        jacobian(crs.fwd, lon, lat, crs.ell.a, crs.ell.e2)
      val det = math.abs(dxdl * dydp - dydl * dxdp)
      assert(math.abs(det / (gl * gp) - 1.0) < 1e-6, s"$spec area distortion")
    }
  }

  test("variant-B stereographic: scale is exactly 1 at the standard parallel") {
    for ((spec, lat) <- Seq(("EPSG:3031", -71.0), ("EPSG:3413", 70.0))) {
      val crs = ProjEngine.crs(spec)
      val (dxdl, dydl, _, _, gl, _) =
        jacobian(crs.fwd, 20.0, lat, crs.ell.a, crs.ell.e2)
      // 1e-8: central-difference truncation noise, not projection error
      assert(math.abs(math.hypot(dxdl, dydl) / gl - 1.0) < 1e-8, spec)
    }
  }

  test("oblique projections: local scale at the natural origin is exactly k0") {
    // pins the ABSOLUTE scale (conformal-sphere radius + rotation), which
    // conformality (isotropy) alone cannot
    val cases = Seq(
      ("EPSG:2056", 7.439583333333333, 46.95240555555556, 1.0),       // Swiss k0=1
      ("EPSG:28992", 5.38763888888889, 52.15616055555555, 0.9999079)) // RD k0
    for ((spec, lon, lat, k0) <- cases) {
      val crs = ProjEngine.crs(spec)
      val (dxdl, dydl, dxdp, dydp, gl, gp) =
        jacobian(crs.fwd, lon, lat, crs.ell.a, crs.ell.e2)
      assert(math.abs(math.hypot(dxdl, dydl) / gl - k0) < 1e-7, s"$spec parallel scale")
      assert(math.abs(math.hypot(dxdp, dydp) / gp - k0) < 1e-7, s"$spec meridian scale")
    }
  }

  test("unit handling: NY Long Island ftUS (2263) = meters twin (32118) * 3937/1200") {
    val ft = fwd("EPSG:2263"); val m = fwd("EPSG:32118")
    for (lon <- grid(-74.2, -72.0, 0.7); lat <- grid(40.5, 41.1, 0.25)) {
      val (ef, nf) = ft(lon, lat); val (em, nm) = m(lon, lat)
      // 2263's published FE is 300000.0000000001 m vs 32118's 300000 m
      assert(math.abs(ef - em * 3937.0 / 1200.0) < 1e-5, s"E at ($lon,$lat)")
      assert(math.abs(nf - nm * 3937.0 / 1200.0) < 1e-5, s"N at ($lon,$lat)")
    }
  }

  // ---- 4. round-trips and datum shifts ------------------------------------

  test("every curated EPSG entry round-trips to sub-0.1mm in its domain") {
    val domains = Seq(
      ("EPSG:3857", -170.0, 170.0, -80.0, 80.0),
      ("EPSG:27700", -7.0, 1.8, 50.0, 60.5),
      ("EPSG:2263", -74.5, -71.8, 40.4, 41.3),
      ("EPSG:2229", -121.0, -115.0, 33.0, 36.0),
      ("EPSG:31370", 2.5, 6.5, 49.5, 51.5),
      ("EPSG:3031", -180.0, 180.0, -89.0, -60.0),
      ("EPSG:3413", -180.0, 180.0, 60.0, 89.0),
      ("EPSG:5041", -180.0, 180.0, 60.0, 89.9),
      ("EPSG:5042", -180.0, 180.0, -89.9, -60.0),
      ("EPSG:28992", 3.3, 7.2, 50.7, 53.6),
      ("EPSG:2056", 6.0, 10.5, 45.8, 47.8),
      ("EPSG:21781", 6.0, 10.5, 45.8, 47.8),
      ("EPSG:3375", 99.6, 104.6, 1.2, 6.7),
      ("EPSG:5514", 12.2, 18.8, 48.6, 51.0),
      ("EPSG:2193", 166.5, 178.5, -47.3, -34.1),
      ("EPSG:2157", -10.5, -5.4, 51.4, 55.4),
      ("EPSG:29902", -10.5, -5.4, 51.4, 55.4),
      ("EPSG:3577", 112.9, 154.0, -43.7, -9.1),
      ("EPSG:6933", -170.0, 170.0, -80.0, 80.0),
      ("EPSG:29873", 109.5, 119.2, 0.9, 7.4),
      ("EPSG:23031", -1.0, 4.0, 36.0, 48.0),
      ("EPSG:25832", 6.0, 12.0, 38.0, 70.0),
      ("EPSG:26910", -126.0, -120.0, 31.0, 55.0),
      ("EPSG:32633", 12.0, 18.0, -60.0, 70.0),
      ("EPSG:32733", 12.0, 18.0, -70.0, 10.0),
      ("EPSG:3035", -10.0, 35.0, 34.0, 71.0),
      ("EPSG:5070", -125.0, -66.0, 24.0, 50.0),
      ("EPSG:2154", -5.0, 9.0, 41.0, 51.5))
    for ((spec, lo0, lo1, la0, la1) <- domains) {
      val f = fwd(spec); val g = inv(spec)
      var i = 0
      while (i < 25) {
        val lon = lo0 + (lo1 - lo0) * (i % 5) / 4.0
        val lat = la0 + (la1 - la0) * (i / 5) / 4.0
        val (x, y) = f(lon, lat)
        val (lon2, lat2) = g(x, y)
        val dLon = math.abs(((lon2 - lon) % 360.0 + 540.0) % 360.0 - 180.0)
        assert(dLon < 1e-9 && math.abs(lat2 - lat) < 1e-9,
          s"$spec roundtrip at ($lon,$lat) -> ($lon2,$lat2)")
        i += 1
      }
    }
  }

  test("datum shifts: OSGB magnitude ~120m, ED50 ~150-250m, zero-shift identity") {
    // 4326 -> 27700 -> 4326 (through the Helmert hub) must round-trip
    val t1 = transformerFor("EPSG:4326", "EPSG:27700")
    val t2 = transformerFor("EPSG:27700", "EPSG:4326")
    val (e, n) = t1(-1.5, 52.5)
    val (lon, lat) = t2(e, n)
    // 1e-7 deg ~ 1cm: the Helmert reverse is the standard small-angle
    // transpose, exact to rotation^2 (~1e-8 deg at arcsecond rotations)
    assert(math.abs(lon + 1.5) < 1e-7 && math.abs(lat - 52.5) < 1e-7)
    // the OSGB36<->WGS84 shift is famously ~100-130m on the ground
    val naive = fwd("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 " +
      "+x_0=400000 +y_0=-100000 +ellps=airy")(-1.5, 52.5)
    val d = math.hypot(e - naive._1, n - naive._2)
    assert(d > 80.0 && d < 180.0, s"OSGB shift magnitude $d")
    // ED50 UTM31 vs WGS84 UTM31: ~150-250m in western Europe
    val ed = transformerFor("EPSG:4326", "EPSG:23031")(2.2, 41.4)
    val wg = fwd("EPSG:32631")(2.2, 41.4)
    val d2 = math.hypot(ed._1 - wg._1, ed._2 - wg._2)
    assert(d2 > 120.0 && d2 < 300.0, s"ED50 shift magnitude $d2")
    // all-zero towgs84 collapses to the no-shift path
    val z = transformerFor(
      "+proj=longlat +ellps=WGS84 +towgs84=0,0,0", "EPSG:32631")(2.2, 41.4)
    assert(math.abs(z._1 - wg._1) < 1e-9 && math.abs(z._2 - wg._2) < 1e-9)
  }

  test("helmert 7-param round-trip and belgian lambert plausibility") {
    val t = transformerFor("EPSG:4326", "EPSG:31370")
    val back = transformerFor("EPSG:31370", "EPSG:4326")
    val (x, y) = t(4.3517, 50.8466) // Brussels
    val (lon, lat) = back(x, y)
    assert(math.abs(lon - 4.3517) < 1e-8 && math.abs(lat - 50.8466) < 1e-8)
    // Brussels sits near the middle of the Belgian grid (~149km, ~170km)
    assert(x > 140000 && x < 160000, s"x=$x")
    assert(y > 160000 && y < 180000, s"y=$y")
  }

  // ---- expression surface --------------------------------------------------

  test("geo_convert column + SQL function over a DataFrame") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.geo
    val df = Seq((-0.1276, 51.5072), (-3.1883, 55.9533)).toDF("lon", "lat")
      .select(geo.point(col("lon"), col("lat")).as("g"), col("lon"), col("lat"))
    val out = df.select(
      geo.x(geo.convert(col("g"), "EPSG:4326", "EPSG:27700")).as("e"),
      geo.y(geo.convert(col("g"), "EPSG:4326", "EPSG:27700")).as("n"),
      geo.x(geo.convert(geo.convert(col("g"), "EPSG:4326", "EPSG:27700"),
        "EPSG:27700", "EPSG:4326")).as("lon2"),
      col("lon")).collect()
    // London ~ (530000, 180000); Edinburgh ~ (326000, 674000) on the grid
    assert(math.abs(out(0).getDouble(0) - 530000) < 5000)
    assert(math.abs(out(0).getDouble(1) - 180000) < 5000)
    assert(math.abs(out(1).getDouble(0) - 326000) < 5000)
    assert(math.abs(out(1).getDouble(1) - 674000) < 5000)
    out.foreach(r => assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-7))

    df.createOrReplaceTempView("proj_pts")
    val viaSql = spark.sql(
      "SELECT geo_y(geo_convert(g, 'EPSG:4326', '+proj=utm +zone=30 +ellps=WGS84')) AS n " +
      "FROM proj_pts ORDER BY n").collect()
    assert(viaSql.length == 2 && viaSql(0).getDouble(0) < viaSql(1).getDouble(0))
  }

  test("silently-coordinate-changing keys fail clearly instead of being ignored") {
    for (bad <- Seq(
      "+proj=tmerc +lat_0=0 +lon_0=0 +ellps=bessel +pm=ferro",
      "+proj=krovak +lat_0=49.5 +ellps=bessel +axis=swu",
      "+proj=tmerc +lon_0=0 +ellps=GRS80 +nadgrids=conus")) {
      val e = intercept[IllegalArgumentException] { ProjEngine.crs(bad) }
      assert(e.getMessage.contains("not implemented"), s"$bad -> ${e.getMessage}")
    }
    // greenwich/enu spellings stay accepted
    ProjEngine.crs("+proj=tmerc +lon_0=0 +ellps=GRS80 +pm=greenwich +axis=enu")
    // krovak: a NONSTANDARD +alpha would silently shift coordinates if the
    // baked-in S-JTSK azimuth were substituted — reject; the published
    // value (and its absence) stays accepted
    val ek = intercept[IllegalArgumentException] {
      ProjEngine.crs("+proj=krovak +lat_0=49.5 +lon_0=24.833333333333332 " +
        "+alpha=35 +k=0.9999 +ellps=bessel")
    }
    assert(ek.getMessage.contains("alpha"), ek.getMessage)
    ProjEngine.crs("+proj=krovak +lat_0=49.5 +lon_0=24.833333333333332 " +
      "+alpha=30.28813972222222 +k=0.9999 +ellps=bessel")
  }

  test("bad CRS specs fail at plan time, not per row") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.geo
    val df = Seq((1.0, 2.0)).toDF("x", "y")
    val g = geo.point(col("x"), col("y"))
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(geo.convert(g, "EPSG:99999", "EPSG:4326")).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(geo.convert(g, "+proj=omerc +ellps=WGS84", "EPSG:4326")).collect()
    }
  }
}
