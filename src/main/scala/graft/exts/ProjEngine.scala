package graft.exts

import java.util.concurrent.ConcurrentHashMap

/** Parameter-driven CRS engine for `geo_transform` and `geo_convert`
  * (reference surface: GeoTransform/GeoConvert,
  * ibis/expr/operations/geospatial.py:450/:459 — GeoConvert's own doc
  * example converts "EPSG:2263", a NAD83 state-plane Lambert in US
  * survey feet). Instead of a proj database, any CRS is definable from
  * its PUBLISHED parameters as a proj-style string:
  *
  *   +proj=lcc +lat_1=41.0333... +lat_0=40.1666... +lon_0=-74
  *   +x_0=300000.0000000001 +ellps=GRS80 +units=us-ft
  *
  * which is exactly how the EPSG registry publishes them. Implemented
  * projection methods (formulas: Snyder, Map Projections — A Working
  * Manual; EPSG Guidance Note 7-2; Karney 2011 arXiv:1002.1417 for the
  * Krüger series — all public):
  *
  *   - longlat (geodetic pass-through)
  *   - merc    — Mercator 1SP (EPSG 9804), spherical when a == b
  *               (web mercator is `+proj=merc +a=6378137 +b=6378137`)
  *   - tmerc   — transverse Mercator, 4th-order Krüger series in the
  *               ellipsoid's third flattening (any ellipsoid, k_0,
  *               lat_0 via the rectifying-arc offset)
  *   - utm     — tmerc sugar (+zone, +south)
  *   - lcc     — Lambert conformal conic, 1SP (EPSG 9801, +k_0) and
  *               2SP (EPSG 9802)
  *   - aea     — Albers equal-area conic (EPSG 9822)
  *   - laea    — Lambert azimuthal equal-area, oblique (EPSG 9820)
  *   - stere   — POLAR stereographic, variant A (+k_0, EPSG 9810) and
  *               variant B (+lat_ts, EPSG 9829); oblique aspect is out
  *               of scope (fails at parse, never wrong)
  *
  * Datums: `+towgs84=dx,dy,dz[,rx,ry,rz,s]` applies the position-vector
  * Helmert transformation (EPSG 9606) through geocentric coordinates —
  * so OSGB36/ED50/Belgian-72 style CRSs convert correctly, not just the
  * centimeter-level WGS84/GRS80 family. Absent towgs84 on both sides is
  * treated as the same datum family. Units: `+units=m|km|ft|us-ft` or
  * `+to_meter=`; false origins are meters (proj convention), unit
  * conversion applies last.
  *
  * A curated EPSG table maps common codes to their published parameter
  * strings so `geo_convert(g, "EPSG:27700", "EPSG:4326")` just works;
  * anything outside the table is reachable by spelling the parameters.
  * All closures are built once per distinct spec string (executor-side
  * concurrent cache) — per-row work is pure arithmetic. */
private[graft] object ProjEngine {

  // ---- ellipsoids ---------------------------------------------------------

  final case class Ellipsoid(a: Double, f: Double) {
    val e2: Double = f * (2.0 - f)
    val e: Double = math.sqrt(e2)
    /** third flattening (Krüger series parameter) */
    val n3: Double = if (f == 0.0) 0.0 else f / (2.0 - f)
  }

  /** proj ellipsoid registry (public defining constants). */
  private val Ellipsoids = Map(
    "WGS84" -> Ellipsoid(6378137.0, 1.0 / 298.257223563),
    "GRS80" -> Ellipsoid(6378137.0, 1.0 / 298.257222101),
    "airy" -> Ellipsoid(6377563.396, 1.0 / 299.3249646),
    "intl" -> Ellipsoid(6378388.0, 1.0 / 297.0),
    "bessel" -> Ellipsoid(6377397.155, 1.0 / 299.1528128),
    "krass" -> Ellipsoid(6378245.0, 1.0 / 298.3),
    "clrk66" -> Ellipsoid(6378206.4, 1.0 - 6356583.8 / 6378206.4),
    "clrk80ign" -> Ellipsoid(6378249.2, 1.0 / 293.4660212936269),
    "evrstSS" -> Ellipsoid(6377298.556, 1.0 / 300.8017), // Everest 1830 (1967 def)
    "mod_airy" -> Ellipsoid(6377340.189, 1.0 - 6356034.446 / 6377340.189),
    "sphere" -> Ellipsoid(6370997.0, 0.0))

  // ---- ellipsoidal helper functions (Snyder's m, t, q) --------------------

  private def mFn(ell: Ellipsoid, phi: Double): Double = {
    val s = math.sin(phi)
    math.cos(phi) / math.sqrt(1.0 - ell.e2 * s * s)
  }
  private def tFn(ell: Ellipsoid, phi: Double): Double = {
    if (ell.e == 0.0) return math.tan(math.Pi / 4.0 - phi / 2.0)
    val s = math.sin(phi)
    math.tan(math.Pi / 4.0 - phi / 2.0) /
      math.pow((1.0 - ell.e * s) / (1.0 + ell.e * s), ell.e / 2.0)
  }
  private def qFn(ell: Ellipsoid, phi: Double): Double = {
    if (ell.e == 0.0) return 2.0 * math.sin(phi)
    val s = math.sin(phi)
    (1.0 - ell.e2) * (s / (1.0 - ell.e2 * s * s) -
      (1.0 / (2.0 * ell.e)) * math.log((1.0 - ell.e * s) / (1.0 + ell.e * s)))
  }
  /** φ from the authalic q (Snyder 3-16), Newton iteration. */
  private def phiFromQ(ell: Ellipsoid, qv: Double): Double = {
    if (ell.e == 0.0)
      return math.asin(math.max(-1.0, math.min(1.0, qv / 2.0)))
    var phi = math.asin(math.max(-1.0, math.min(1.0, qv / 2.0)))
    var i = 0
    while (i < 15) {
      val s = math.sin(phi)
      val d = 1.0 - ell.e2 * s * s
      val delta = d * d / (2.0 * math.cos(phi)) *
        (qv / (1.0 - ell.e2) - s / d +
          (1.0 / (2.0 * ell.e)) * math.log((1.0 - ell.e * s) / (1.0 + ell.e * s)))
      phi += delta
      if (math.abs(delta) < 1e-13) i = 15 else i += 1
    }
    phi
  }
  /** φ from the conformal t (EPSG 3-5 / Snyder 7-9), fixpoint iteration. */
  private def phiFromT(ell: Ellipsoid, tv: Double): Double = {
    var phi = math.Pi / 2.0 - 2.0 * math.atan(tv)
    if (ell.e == 0.0) return phi
    var i = 0
    while (i < 15) {
      val s = math.sin(phi)
      val next = math.Pi / 2.0 - 2.0 * math.atan(
        tv * math.pow((1.0 - ell.e * s) / (1.0 + ell.e * s), ell.e / 2.0))
      val delta = next - phi
      phi = next
      if (math.abs(delta) < 1e-13) i = 15 else i += 1
    }
    phi
  }

  // ---- CRS model ----------------------------------------------------------

  /** A parsed CRS: the projection closures map (lonDeg, latDeg) on this
    * CRS's datum ↔ coordinates in this CRS's units. */
  final case class Crs(
      proj: String,
      ell: Ellipsoid,
      towgs84: Option[Array[Double]],
      srid: Int, // 0 when not from an EPSG code
      fwd: (Double, Double) => (Double, Double),
      inv: (Double, Double) => (Double, Double)) {
    def isGeodetic: Boolean = proj == "longlat"
    def datumParams: Array[Double] =
      towgs84.getOrElse(Array(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
  }

  // ---- proj-string parsing ------------------------------------------------

  private def parseParams(spec: String): Map[String, String] =
    spec.trim.split("\\s+").filter(_.startsWith("+")).map { tok =>
      val kv = tok.drop(1)
      val eq = kv.indexOf('=')
      if (eq < 0) kv -> "" else kv.take(eq) -> kv.drop(eq + 1)
    }.toMap

  private def buildCrs(spec: String, srid: Int): Crs = {
    val p = parseParams(spec)
    def num(k: String): Option[Double] = p.get(k).map(_.toDouble)
    def numOr(k: String, d: Double): Double = num(k).getOrElse(d)

    // keys that would SILENTLY change coordinates if ignored must fail
    // clearly instead: a Ferro prime meridian shifts longitudes 17°40',
    // +axis reorders/negates outputs, grid files shift the datum
    p.get("pm").filterNot(v => v == "greenwich" || v == "0").foreach { v =>
      throw new IllegalArgumentException(
        s"+pm=$v (non-Greenwich prime meridian) is not implemented — " +
          s"restate the CRS with Greenwich longitudes: $spec")
    }
    p.get("axis").filterNot(_ == "enu").foreach { v =>
      throw new IllegalArgumentException(
        s"+axis=$v (non east-north axis order) is not implemented — " +
          s"swap/negate the coordinates explicitly: $spec")
    }
    Seq("nadgrids", "geoidgrids").foreach { k =>
      if (p.contains(k)) throw new IllegalArgumentException(
        s"+$k= (grid-file datum shift) is not implemented — use +towgs84 " +
          s"parameters: $spec")
    }

    val ell: Ellipsoid = (p.get("ellps"), p.get("datum")) match {
      case (Some(name), _) => Ellipsoids.getOrElse(name,
        throw new IllegalArgumentException(s"unknown ellipsoid '$name' in: $spec"))
      case (None, Some(d)) => Ellipsoids.getOrElse(d,
        throw new IllegalArgumentException(s"unknown datum '$d' in: $spec"))
      case _ =>
        val a = num("a").getOrElse(
          throw new IllegalArgumentException(s"no +ellps/+a in: $spec"))
        val f = num("rf").map(1.0 / _)
          .orElse(num("b").map(b => 1.0 - b / a))
          .orElse(num("f")).getOrElse(0.0)
        Ellipsoid(a, f)
    }
    val towgs84: Option[Array[Double]] = p.get("towgs84").map { s =>
      val v = s.split(",").map(_.trim.toDouble)
      require(v.length == 3 || v.length == 7,
        s"+towgs84 needs 3 or 7 values, got ${v.length} in: $spec")
      if (v.length == 3) v ++ Array(0.0, 0.0, 0.0, 0.0) else v
    }.map { v => if (v.forall(_ == 0.0)) null else v }.filter(_ != null)

    val toMeter = num("to_meter").getOrElse(p.getOrElse("units", "m") match {
      case "m" => 1.0
      case "km" => 1000.0
      case "ft" => 0.3048
      case "us-ft" => 1200.0 / 3937.0
      case u => throw new IllegalArgumentException(s"unknown +units=$u in: $spec")
    })

    val projName0 = p.getOrElse("proj",
      throw new IllegalArgumentException(s"no +proj in: $spec"))
    // utm is tmerc sugar
    val (projName, lon0Deg, k0u, fe0, fn0) =
      if (projName0 == "utm") {
        val zone = num("zone").getOrElse(
          throw new IllegalArgumentException(s"+proj=utm needs +zone in: $spec")).toInt
        require(zone >= 1 && zone <= 60, s"UTM zone out of range in: $spec")
        ("tmerc", zone * 6.0 - 183.0, 0.9996, 500000.0,
          if (p.contains("south")) 10000000.0 else 0.0)
      } else (projName0, numOr("lon_0", 0.0),
        num("k").orElse(num("k_0")).getOrElse(1.0),
        numOr("x_0", 0.0), numOr("y_0", 0.0))

    val lat0 = math.toRadians(numOr("lat_0", 0.0))
    val lon0 = math.toRadians(lon0Deg)
    val a = ell.a

    // projection core in METERS, natural origin handling included
    val (fwdM, invM): ((Double, Double) => (Double, Double),
                       (Double, Double) => (Double, Double)) = projName match {

      case "longlat" =>
        ((lon, lat) => (lon, lat), (x, y) => (x, y))

      case "merc" =>
        // EPSG 9804; k0 from +lat_ts when given (m(φ1)), else +k. On a
        // sphere (web mercator) the closed forms y = R ln tan(π/4 + φ/2)
        // and φ = 2 atan(exp(y/R)) − π/2 (Snyder 7-2, 7-4).
        val k0 = num("lat_ts").map(ts => mFn(ell, math.toRadians(ts))).getOrElse(k0u)
        ((lon, lat) => {
          val phi = math.toRadians(lat)
          (a * k0 * (math.toRadians(lon) - lon0),
           if (ell.e == 0.0) a * k0 * math.log(math.tan(math.Pi / 4.0 + phi / 2.0))
           else -a * k0 * math.log(tFn(ell, phi)))
        }, (x, y) => {
          val phi =
            if (ell.e == 0.0) 2.0 * math.atan(math.exp(y / (a * k0))) - math.Pi / 2.0
            else phiFromT(ell, math.exp(-y / (a * k0)))
          (math.toDegrees(lon0 + x / (a * k0)), math.toDegrees(phi))
        })

      case "cea" =>
        // Equal-area cylindrical (EPSG 9835, Lambert): E = a k0 λΔ,
        // N = a q(φ)/(2 k0); k0 from +lat_ts. EASE-Grid 2.0's method.
        val k0 = num("lat_ts").map(ts => mFn(ell, math.toRadians(ts))).getOrElse(k0u)
        ((lon, lat) => {
          (a * k0 * (math.toRadians(lon) - lon0),
           a * qFn(ell, math.toRadians(lat)) / (2.0 * k0))
        }, (x, y) => {
          (math.toDegrees(lon0 + x / (a * k0)),
           math.toDegrees(phiFromQ(ell, 2.0 * y * k0 / a)))
        })

      case "tmerc" =>
        // Krüger series, 4th order in the third flattening (Karney 2011)
        val n = ell.n3
        val n2 = n * n; val n3p = n2 * n; val n4 = n2 * n2
        val rectA = a / (1.0 + n) * (1.0 + n2 / 4.0 + n4 / 64.0)
        val al = Array(
          n / 2.0 - 2.0 / 3.0 * n2 + 5.0 / 16.0 * n3p + 41.0 / 180.0 * n4,
          13.0 / 48.0 * n2 - 3.0 / 5.0 * n3p + 557.0 / 1440.0 * n4,
          61.0 / 240.0 * n3p - 103.0 / 140.0 * n4,
          49561.0 / 161280.0 * n4)
        val be = Array(
          n / 2.0 - 2.0 / 3.0 * n2 + 37.0 / 96.0 * n3p - 1.0 / 360.0 * n4,
          1.0 / 48.0 * n2 + 1.0 / 15.0 * n3p - 437.0 / 1440.0 * n4,
          17.0 / 480.0 * n3p - 37.0 / 840.0 * n4,
          4397.0 / 161280.0 * n4)
        val de = Array(
          2.0 * n - 2.0 / 3.0 * n2 - 2.0 * n3p + 116.0 / 45.0 * n4,
          7.0 / 3.0 * n2 - 8.0 / 5.0 * n3p - 227.0 / 45.0 * n4,
          56.0 / 15.0 * n3p - 136.0 / 35.0 * n4,
          4279.0 / 630.0 * n4)
        val twoSqrtN = 2.0 * math.sqrt(n) / (1.0 + n)
        def atanh(x: Double): Double = 0.5 * math.log((1.0 + x) / (1.0 - x))
        def xiEta(phi: Double, lam: Double): (Double, Double) = {
          val s = math.sin(phi)
          val tv = if (n == 0.0) math.sinh(atanh(s))
            else math.sinh(atanh(s) - twoSqrtN * atanh(twoSqrtN * s))
          val xiP = math.atan2(tv, math.cos(lam))
          val etaP = atanh(math.sin(lam) / math.sqrt(1.0 + tv * tv))
          var xi = xiP; var eta = etaP
          var j = 1
          while (j <= 4) {
            xi += al(j - 1) * math.sin(2.0 * j * xiP) * math.cosh(2.0 * j * etaP)
            eta += al(j - 1) * math.cos(2.0 * j * xiP) * math.sinh(2.0 * j * etaP)
            j += 1
          }
          (xi, eta)
        }
        // rectifying-arc offset of the natural-origin latitude
        val xi0 = if (lat0 == 0.0) 0.0 else xiEta(lat0, 0.0)._1
        ((lon, lat) => {
          // λ−λ0 wrapped into [−π, π]; beyond 90° from the central
          // meridian the series gives finite garbage, so the point is
          // out of domain (NaN) — the bound PROJ's approx_e_fwd enforces
          val lam = math.IEEEremainder(math.toRadians(lon) - lon0, 2.0 * math.Pi)
          if (math.abs(lam) > math.Pi / 2) (Double.NaN, Double.NaN)
          else {
            val (xi, eta) = xiEta(math.toRadians(lat), lam)
            (k0u * rectA * eta, k0u * rectA * (xi - xi0))
          }
        }, (x, y) => {
          val xi = y / (k0u * rectA) + xi0
          val eta = x / (k0u * rectA)
          var xiP = xi; var etaP = eta
          var j = 1
          while (j <= 4) {
            xiP -= be(j - 1) * math.sin(2.0 * j * xi) * math.cosh(2.0 * j * eta)
            etaP -= be(j - 1) * math.cos(2.0 * j * xi) * math.sinh(2.0 * j * eta)
            j += 1
          }
          val chi = math.asin(math.sin(xiP) / math.cosh(etaP))
          var phi = chi
          j = 1
          while (j <= 4) { phi += de(j - 1) * math.sin(2.0 * j * chi); j += 1 }
          val lam = math.atan2(math.sinh(etaP), math.cos(xiP))
          (math.toDegrees(lon0 + lam), math.toDegrees(phi))
        })

      case "lcc" =>
        val lat1 = num("lat_1").map(math.toRadians)
        val lat2 = num("lat_2").map(math.toRadians)
        val twoSP = lat1.isDefined && lat2.isDefined &&
          math.abs(lat1.get - lat2.get) > 1e-12
        val (nn, bigF) = if (twoSP) {
          val (p1, p2) = (lat1.get, lat2.get)
          val nv = (math.log(mFn(ell, p1)) - math.log(mFn(ell, p2))) /
            (math.log(tFn(ell, p1)) - math.log(tFn(ell, p2)))
          (nv, mFn(ell, p1) / (nv * math.pow(tFn(ell, p1), nv)))
        } else {
          // 1SP (EPSG 9801): natural origin latitude + k_0
          val p0 = lat1.getOrElse(lat0)
          val nv = math.sin(p0)
          (nv, k0u * mFn(ell, p0) / (nv * math.pow(tFn(ell, p0), nv)))
        }
        require(nn != 0.0, s"lcc standard parallel(s) must not be equatorial: $spec")
        def rho(tv: Double): Double = a * bigF * math.pow(tv, nn)
        val rho0 = rho(tFn(ell, lat0))
        val sgn = math.signum(nn)
        ((lon, lat) => {
          val theta = nn * (math.toRadians(lon) - lon0)
          val r = rho(tFn(ell, math.toRadians(lat)))
          (r * math.sin(theta), rho0 - r * math.cos(theta))
        }, (x, y) => {
          val yv = rho0 - y
          val r = sgn * math.sqrt(x * x + yv * yv)
          val tv = math.pow(r / (a * bigF), 1.0 / nn)
          val theta = math.atan2(sgn * x, sgn * yv)
          (math.toDegrees(lon0 + theta / nn), math.toDegrees(phiFromT(ell, tv)))
        })

      case "aea" =>
        val p1 = math.toRadians(num("lat_1").getOrElse(
          throw new IllegalArgumentException(s"+proj=aea needs +lat_1: $spec")))
        val p2o = num("lat_2").map(math.toRadians)
        val nn = p2o match {
          case Some(p2) if math.abs(p2 - p1) > 1e-12 =>
            val (m1, m2) = (mFn(ell, p1), mFn(ell, p2))
            (m1 * m1 - m2 * m2) / (qFn(ell, p2) - qFn(ell, p1))
          case _ => math.sin(p1)
        }
        require(nn != 0.0, s"aea standard parallel(s) must not be equatorial: $spec")
        val c = mFn(ell, p1) * mFn(ell, p1) + nn * qFn(ell, p1)
        def rho(qv: Double): Double = a * math.sqrt(c - nn * qv) / nn
        val rho0 = rho(qFn(ell, lat0))
        val sgn = math.signum(nn)
        ((lon, lat) => {
          val theta = nn * (math.toRadians(lon) - lon0)
          val r = rho(qFn(ell, math.toRadians(lat)))
          (r * math.sin(theta), rho0 - r * math.cos(theta))
        }, (x, y) => {
          val yv = rho0 - y
          val r = sgn * math.sqrt(x * x + yv * yv)
          val theta = math.atan2(sgn * x, sgn * yv)
          val qv = (c - (r * nn / a) * (r * nn / a)) / nn
          (math.toDegrees(lon0 + theta / nn), math.toDegrees(phiFromQ(ell, qv)))
        })

      case "laea" =>
        require(math.abs(math.cos(lat0)) > 1e-9,
          s"+proj=laea implements the oblique aspect only (|lat_0| < 90): $spec")
        val qp = qFn(ell, math.Pi / 2.0)
        val beta0 = math.asin(math.max(-1.0, math.min(1.0, qFn(ell, lat0) / qp)))
        val rq = a * math.sqrt(qp / 2.0)
        val dd = a * mFn(ell, lat0) / (rq * math.cos(beta0))
        ((lon, lat) => {
          val phi = math.toRadians(lat); val dl = math.toRadians(lon) - lon0
          val beta = math.asin(math.max(-1.0, math.min(1.0, qFn(ell, phi) / qp)))
          val b = rq * math.sqrt(2.0 / (1.0 + math.sin(beta0) * math.sin(beta) +
            math.cos(beta0) * math.cos(beta) * math.cos(dl)))
          (b * dd * math.cos(beta) * math.sin(dl),
           (b / dd) * (math.cos(beta0) * math.sin(beta) -
             math.sin(beta0) * math.cos(beta) * math.cos(dl)))
        }, (x, y) => {
          val rho = math.sqrt((x / dd) * (x / dd) + (dd * y) * (dd * y))
          if (rho < 1e-9) (math.toDegrees(lon0), math.toDegrees(lat0))
          else {
            val ce = 2.0 * math.asin(math.max(-1.0, math.min(1.0, rho / (2.0 * rq))))
            val qv = qp * (math.cos(ce) * math.sin(beta0) +
              (dd * y * math.sin(ce) * math.cos(beta0)) / rho)
            val lam = lon0 + math.atan2(x * math.sin(ce),
              dd * rho * math.cos(beta0) * math.cos(ce) -
                dd * dd * y * math.sin(beta0) * math.sin(ce))
            (math.toDegrees(lam), math.toDegrees(phiFromQ(ell, qv)))
          }
        })

      case "stere" =>
        require(math.abs(math.abs(lat0) - math.Pi / 2.0) < 1e-9,
          s"+proj=stere implements the POLAR aspects only (lat_0=±90): $spec")
        val south = lat0 < 0.0
        // ρ = 2 a k0 t / √((1+e)^(1+e) (1−e)^(1−e))  (EPSG 9810)
        val rootTerm = math.sqrt(
          math.pow(1.0 + ell.e, 1.0 + ell.e) * math.pow(1.0 - ell.e, 1.0 - ell.e))
        // variant B: k0 from the standard parallel (EPSG 9829)
        val k0 = num("lat_ts") match {
          case Some(ts) if math.abs(math.abs(ts) - 90.0) > 1e-9 =>
            val pf = math.toRadians(math.abs(ts))
            mFn(ell, pf) * rootTerm / (2.0 * tFn(ell, pf))
          case _ => k0u
        }
        val cK = 2.0 * a * k0 / rootTerm
        ((lon, lat) => {
          val phi = math.toRadians(lat); val dl = math.toRadians(lon) - lon0
          val tv = tFn(ell, if (south) -phi else phi)
          val rho = cK * tv
          if (south) (rho * math.sin(dl), rho * math.cos(dl))
          else (rho * math.sin(dl), -rho * math.cos(dl))
        }, (x, y) => {
          val rho = math.sqrt(x * x + y * y)
          val tv = rho / cK
          val phiA = phiFromT(ell, tv)
          if (south)
            (math.toDegrees(lon0 + math.atan2(x, y)), math.toDegrees(-phiA))
          else
            (math.toDegrees(lon0 + math.atan2(x, -y)), math.toDegrees(phiA))
        })

      case "sterea" =>
        // Oblique ("double") Stereographic, EPSG method 9809 (Guidance
        // Note 7-2 §1.3.7.1): ellipsoid → conformal sphere → stereographic
        // plane. The Dutch RD grid (EPSG 28992) is the canonical user.
        val e = ell.e; val e2v = ell.e2
        val s0 = math.sin(lat0)
        val rho0c = a * (1.0 - e2v) / math.pow(1.0 - e2v * s0 * s0, 1.5)
        val nu0 = a / math.sqrt(1.0 - e2v * s0 * s0)
        val bigR = math.sqrt(rho0c * nu0)
        val n = math.sqrt(1.0 + e2v * math.pow(math.cos(lat0), 4) / (1.0 - e2v))
        val w1 = math.pow(((1.0 + s0) / (1.0 - s0)) *
          math.pow((1.0 - e * s0) / (1.0 + e * s0), e), n)
        val sinChi00 = (w1 - 1.0) / (w1 + 1.0)
        val cc = (n + s0) * (1.0 - sinChi00) / ((n - s0) * (1.0 + sinChi00))
        val w2 = cc * w1
        val chi0 = math.asin((w2 - 1.0) / (w2 + 1.0))
        val lam0c = lon0 // conformal-sphere origin longitude
        def conformal(phi: Double, lam: Double): (Double, Double) = {
          val s = math.sin(phi)
          val w = cc * math.pow(((1.0 + s) / (1.0 - s)) *
            math.pow((1.0 - e * s) / (1.0 + e * s), e), n)
          (math.asin((w - 1.0) / (w + 1.0)), n * (lam - lon0) + lam0c)
        }
        ((lon, lat) => {
          val (chi, lam) = conformal(math.toRadians(lat), math.toRadians(lon))
          val dl = lam - lam0c
          val b = 1.0 + math.sin(chi) * math.sin(chi0) +
            math.cos(chi) * math.cos(chi0) * math.cos(dl)
          (2.0 * bigR * k0u * math.cos(chi) * math.sin(dl) / b,
           2.0 * bigR * k0u * (math.sin(chi) * math.cos(chi0) -
             math.cos(chi) * math.sin(chi0) * math.cos(dl)) / b)
        }, (x, y) => {
          // sphere inverse (GN7-2 reverse formulas), then conformal →
          // geodetic latitude by isometric-latitude iteration
          val g = 2.0 * bigR * k0u * math.tan(math.Pi / 4.0 - chi0 / 2.0)
          val h = 4.0 * bigR * k0u * math.tan(chi0) + g
          val ii = math.atan2(x, h + y)
          val jj = math.atan2(x, g - y) - ii
          val chi = chi0 + 2.0 * math.atan((y - x * math.tan(jj / 2.0)) /
            (2.0 * bigR * k0u))
          val lam = jj + 2.0 * ii + lam0c
          val lonOut = (lam - lam0c) / n + lon0
          val psi = 0.5 * math.log((1.0 + math.sin(chi)) /
            (cc * (1.0 - math.sin(chi)))) / n
          var phi = 2.0 * math.atan(math.exp(psi)) - math.Pi / 2.0
          var it = 0
          while (it < 20) {
            val s = math.sin(phi)
            val psiI = math.log(math.tan(phi / 2.0 + math.Pi / 4.0) *
              math.pow((1.0 - e * s) / (1.0 + e * s), e / 2.0))
            val next = phi - (psiI - psi) * math.cos(phi) *
              (1.0 - e2v * s * s) / (1.0 - e2v)
            val d = next - phi
            phi = next
            if (math.abs(d) < 1e-14) it = 20 else it += 1
          }
          (math.toDegrees(lonOut), math.toDegrees(phi))
        })

      case "somerc" =>
        // Swiss Oblique Mercator (the CH1903/LV03 + CH1903+/LV95 cylinder;
        // Swisstopo's published "Formulas and constants for the Swiss
        // projection" — ellipsoid → conformal sphere → equator rotation →
        // spherical Mercator). Degenerates to plain Mercator at lat_0=0
        // on a sphere, which the spec uses as an exact cross-check.
        val e = ell.e; val e2v = ell.e2
        val s0 = math.sin(lat0)
        val bigR = a * math.sqrt(1.0 - e2v) / (1.0 - e2v * s0 * s0)
        val alpha = math.sqrt(1.0 + e2v / (1.0 - e2v) * math.pow(math.cos(lat0), 4))
        val b0 = math.asin(s0 / alpha)
        val bigK = math.log(math.tan(math.Pi / 4.0 + b0 / 2.0)) -
          alpha * math.log(math.tan(math.Pi / 4.0 + lat0 / 2.0)) +
          alpha * e / 2.0 * math.log((1.0 + e * s0) / (1.0 - e * s0))
        ((lon, lat) => {
          val phi = math.toRadians(lat)
          val sS = alpha * math.log(math.tan(math.Pi / 4.0 + phi / 2.0)) -
            alpha * e / 2.0 * math.log(
              (1.0 + e * math.sin(phi)) / (1.0 - e * math.sin(phi))) + bigK
          val b = 2.0 * (math.atan(math.exp(sS)) - math.Pi / 4.0)
          val l = alpha * (math.toRadians(lon) - lon0)
          val lBar = math.atan2(math.sin(l),
            math.sin(b0) * math.tan(b) + math.cos(b0) * math.cos(l))
          val bBar = math.asin(math.cos(b0) * math.sin(b) -
            math.sin(b0) * math.cos(b) * math.cos(l))
          (k0u * bigR * lBar,
           k0u * bigR / 2.0 * math.log((1.0 + math.sin(bBar)) / (1.0 - math.sin(bBar))))
        }, (x, y) => {
          val lBar = x / (k0u * bigR)
          val bBar = 2.0 * (math.atan(math.exp(y / (k0u * bigR))) - math.Pi / 4.0)
          val b = math.asin(math.cos(b0) * math.sin(bBar) +
            math.sin(b0) * math.cos(bBar) * math.cos(lBar))
          val l = math.atan2(math.sin(lBar),
            math.cos(b0) * math.cos(lBar) - math.sin(b0) * math.tan(bBar))
          val lonOut = lon0 + l / alpha
          // conformal-sphere latitude → geodetic: fixpoint on the inverse
          // of the S(φ) relation (same contraction the Swisstopo doc uses)
          var phi = b
          var it = 0
          while (it < 20) {
            val sS = (math.log(math.tan(math.Pi / 4.0 + b / 2.0)) - bigK) / alpha +
              e * math.log(math.tan(math.Pi / 4.0 +
                math.asin(e * math.sin(phi)) / 2.0))
            val next = 2.0 * math.atan(math.exp(sS)) - math.Pi / 2.0
            val d = next - phi
            phi = next
            if (math.abs(d) < 1e-14) it = 20 else it += 1
          }
          (math.toDegrees(lonOut), math.toDegrees(phi))
        })

      case "omerc" =>
        // Hotine Oblique Mercator, EPSG 9812 (variant A) / 9815 (variant
        // B, +no_uoff absent — proj convention: omerc defaults to the
        // CENTER-anchored variant B unless +no_uoff is given). Formulas:
        // EPSG Guidance Note 7-2 §1.3.6 (Timbalai/Borneo RSO is the
        // worked example the spec pins).
        val e = ell.e; val e2v = ell.e2
        val phiC = lat0 // +lat_0 is the projection-center latitude here
        val lamC = math.toRadians(num("lonc").getOrElse(
          throw new IllegalArgumentException(s"+proj=omerc needs +lonc: $spec")))
        val alphaC = math.toRadians(num("alpha").getOrElse(
          throw new IllegalArgumentException(s"+proj=omerc needs +alpha: $spec")))
        val gammaC = num("gamma").map(math.toRadians).getOrElse(alphaC)
        val variantA = p.contains("no_uoff")
        val sC = math.sin(phiC)
        val bB = math.sqrt(1.0 + e2v * math.pow(math.cos(phiC), 4) / (1.0 - e2v))
        val bA = a * bB * k0u * math.sqrt(1.0 - e2v) / (1.0 - e2v * sC * sC)
        val t0 = tFn(ell, phiC)
        val dD = bB * math.sqrt(1.0 - e2v) /
          (math.cos(phiC) * math.sqrt(1.0 - e2v * sC * sC))
        val d2 = math.max(dD * dD, 1.0)
        val fF = dD + math.sqrt(d2 - 1.0) * math.signum(phiC)
        val hH = fF * math.pow(t0, bB)
        val gG = (fF - 1.0 / fF) / 2.0
        val gamma0 = math.asin(math.sin(alphaC) / dD)
        val lam0 = lamC - math.asin(gG * math.tan(gamma0)) / bB
        // variant B's center offset along u
        val uC =
          if (variantA) 0.0
          else if (math.abs(alphaC - math.Pi / 2.0) < 1e-12) bA * (lamC - lam0)
          else (bA / bB) * math.atan2(math.sqrt(d2 - 1.0), math.cos(alphaC)) *
            math.signum(phiC)
        val cosGc = math.cos(gammaC); val sinGc = math.sin(gammaC)
        ((lon, lat) => {
          val phi = math.toRadians(lat)
          val dl = bB * (math.toRadians(lon) - lam0)
          val (u, v) =
            if (math.abs(math.abs(phi) - math.Pi / 2.0) < 1e-12) {
              // poles: closed form (GN7-2 special case)
              (bA * phi / bB,
               (bA / bB) * math.log(math.tan(math.Pi / 4.0 -
                 gamma0 * math.signum(phi) / 2.0)))
            } else {
              val q = hH / math.pow(tFn(ell, phi), bB)
              val s = (q - 1.0 / q) / 2.0
              val t = (q + 1.0 / q) / 2.0
              val vv = math.sin(dl)
              val uU = (-vv * math.cos(gamma0) + s * math.sin(gamma0)) / t
              val v1 = bA * math.log((1.0 - uU) / (1.0 + uU)) / (2.0 * bB)
              val u1 = bA * math.atan2(
                s * math.cos(gamma0) + vv * math.sin(gamma0), math.cos(dl)) / bB
              (u1, v1)
            }
          val uAdj = u - uC
          (v * cosGc + uAdj * sinGc, uAdj * cosGc - v * sinGc)
        }, (x, y) => {
          val v = x * cosGc - y * sinGc
          val u = y * cosGc + x * sinGc + uC
          val q = math.exp(-bB * v / bA)
          val s = (q - 1.0 / q) / 2.0
          val t = (q + 1.0 / q) / 2.0
          val vv = math.sin(bB * u / bA)
          val uU = (vv * math.cos(gamma0) + s * math.sin(gamma0)) / t
          val tv = math.pow(hH / math.sqrt((1.0 + uU) / (1.0 - uU)), 1.0 / bB)
          val phi = phiFromT(ell, tv)
          val lam = lam0 - math.atan2(
            s * math.cos(gamma0) - vv * math.sin(gamma0), math.cos(bB * u / bA)) / bB
          (math.toDegrees(lam), math.toDegrees(phi))
        })

      case "krovak" =>
        // Krovak oblique conformal conic, EPSG method 9819 (S-JTSK):
        // Bessel → Gaussian conformal sphere → rotation to the
        // cartographic pole → spherical LCC at the 78.5° pseudo-standard
        // parallel. Constants per the published method: the cartographic
        // pole's conformal latitude uq = 1.04216856380474 rad
        // (59°42'42.6969"), s0 = 78.5°. +lon_0 is the GREENWICH longitude
        // of the projection origin (42°30' east of Ferro = 24°50' E
        // Greenwich for S-JTSK). Output is the modern east-north
        // convention (EPSG 5514: E = −westing, N = −southing, both
        // negative in Czechia); +czech emits positive southing/westing
        // (EPSG 2065 style).
        // +alpha (azimuth of the oblique cone axis, 30°17'17.303" for
        // S-JTSK) is baked into the pseudo-pole constant uq below; a
        // NONSTANDARD azimuth would silently shift every coordinate if
        // ignored — fail clearly instead (same policy as +pm/+axis)
        num("alpha").filter(v => math.abs(v - 30.2881397527) > 1e-4).foreach { v =>
          throw new IllegalArgumentException(
            s"+proj=krovak implements only the S-JTSK cone azimuth " +
              s"(+alpha=30.28813975, the published method constant); " +
              s"got +alpha=$v in: $spec")
        }
        val e = ell.e; val e2v = ell.e2
        val s0lat = math.toRadians(78.5)
        val uq = 1.04216856380474
        val ad = math.Pi / 2.0 - uq
        val sC = math.sin(lat0)
        val alfa = math.sqrt(1.0 + e2v * math.pow(math.cos(lat0), 4) / (1.0 - e2v))
        val u0 = math.asin(sC / alfa)
        val g0 = math.pow((1.0 + e * sC) / (1.0 - e * sC), alfa * e / 2.0)
        val kconst = math.tan(u0 / 2.0 + math.Pi / 4.0) /
          math.pow(math.tan(lat0 / 2.0 + math.Pi / 4.0), alfa) * g0
        val n = math.sin(s0lat)
        val rG = a * math.sqrt(1.0 - e2v) / (1.0 - e2v * sC * sC) // Gaussian radius
        val ro0 = k0u * rG / math.tan(s0lat)
        val sgn = if (p.contains("czech")) 1.0 else -1.0
        ((lon, lat) => {
          val phi = math.toRadians(lat)
          val sp = math.sin(phi)
          val gfi = math.pow((1.0 + e * sp) / (1.0 - e * sp), alfa * e / 2.0)
          val u = 2.0 * (math.atan(kconst *
            math.pow(math.tan(phi / 2.0 + math.Pi / 4.0), alfa) / gfi) - math.Pi / 4.0)
          val deltav = -(math.toRadians(lon) - lon0) * alfa
          val s = math.asin(math.cos(ad) * math.sin(u) +
            math.sin(ad) * math.cos(u) * math.cos(deltav))
          val d = math.asin(math.cos(u) * math.sin(deltav) / math.cos(s))
          val eps = n * d
          val ro = ro0 * math.pow(math.tan(s0lat / 2.0 + math.Pi / 4.0) /
            math.tan(s / 2.0 + math.Pi / 4.0), n)
          // southing = ro cos eps, westing = ro sin eps
          (sgn * ro * math.sin(eps), sgn * ro * math.cos(eps))
        }, (x, y) => {
          val westing = sgn * x; val southing = sgn * y
          val ro = math.hypot(southing, westing)
          val eps = math.atan2(westing, southing)
          val d = eps / n
          val s = 2.0 * (math.atan(math.pow(ro0 / ro, 1.0 / n) *
            math.tan(s0lat / 2.0 + math.Pi / 4.0)) - math.Pi / 4.0)
          val u = math.asin(math.cos(ad) * math.sin(s) -
            math.sin(ad) * math.cos(s) * math.cos(d))
          val deltav = math.asin(math.cos(s) * math.sin(d) / math.cos(u))
          val lam = lon0 - deltav / alfa
          // conformal-sphere u → geodetic latitude (fixpoint)
          var phi = u
          var it = 0
          while (it < 20) {
            val sp = math.sin(phi)
            val next = 2.0 * (math.atan(
              math.pow(kconst, -1.0 / alfa) *
                math.pow(math.tan(u / 2.0 + math.Pi / 4.0), 1.0 / alfa) *
                math.pow((1.0 + e * sp) / (1.0 - e * sp), e / 2.0)) - math.Pi / 4.0)
            val dd = next - phi
            phi = next
            if (math.abs(dd) < 1e-14) it = 20 else it += 1
          }
          (math.toDegrees(lam), math.toDegrees(phi))
        })

      case other =>
        throw new IllegalArgumentException(
          s"+proj=$other not implemented (supported: longlat, merc, tmerc, " +
            s"utm, lcc, aea, laea, polar stere, oblique sterea, somerc, " +
            s"omerc, krovak): $spec")
    }

    // false origin (meters, proj convention) + unit conversion, last
    val (fwd, inv): ((Double, Double) => (Double, Double),
                     (Double, Double) => (Double, Double)) =
      if (projName == "longlat") (fwdM, invM)
      else (
        (lon: Double, lat: Double) => {
          val (x, y) = fwdM(lon, lat)
          ((x + fe0) / toMeter, (y + fn0) / toMeter)
        },
        (x: Double, y: Double) => {
          val (lon, lat) = invM(x * toMeter - fe0, y * toMeter - fn0)
          (adjlon(lon), lat)
        })

    Crs(projName, ell, towgs84, srid, fwd, inv)
  }

  /** Longitude wrapped into [-180, 180] — PROJ's `adjlon`, which every
    * projected inverse applies unless `+over` is given (never parsed
    * here). A tiny overshoot stays, so the antimeridian keeps its sign. */
  private def adjlon(lon: Double): Double =
    if (math.abs(lon) <= 180.0 + 1e-10) lon
    else lon - 360.0 * math.floor((lon + 180.0) / 360.0)

  // ---- curated EPSG table (published parameters, EPSG registry) -----------

  private def epsgSpec(code: Int): Option[String] = code match {
    case 4326 => Some("+proj=longlat +ellps=WGS84")
    case 4258 => Some("+proj=longlat +ellps=GRS80") // ETRS89
    case 4269 => Some("+proj=longlat +ellps=GRS80") // NAD83
    case 4277 => Some("+proj=longlat +ellps=airy " + // OSGB36 geographic
      "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.489")
    case 3857 => Some("+proj=merc +a=6378137 +b=6378137") // web mercator
    case 3035 => Some("+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 " +
      "+y_0=3210000 +ellps=GRS80")
    case 5070 => Some("+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 " +
      "+lat_2=45.5 +ellps=GRS80")
    case 2154 => Some("+proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=49 +lat_2=44 " +
      "+x_0=700000 +y_0=6600000 +ellps=GRS80")
    case 27700 => Some("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 " +
      "+x_0=400000 +y_0=-100000 +ellps=airy " +
      "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.489")
    case 2263 => Some("+proj=lcc +lat_1=41.03333333333333 " + // NY Long Island (US ft)
      "+lat_2=40.66666666666666 +lat_0=40.16666666666666 +lon_0=-74 " +
      "+x_0=300000.0000000001 +ellps=GRS80 +units=us-ft")
    case 32118 => Some("+proj=lcc +lat_1=41.03333333333333 " + // NY Long Island (m)
      "+lat_2=40.66666666666666 +lat_0=40.16666666666666 +lon_0=-74 " +
      "+x_0=300000 +ellps=GRS80")
    case 2229 => Some("+proj=lcc +lat_1=35.46666666666667 " + // California zone 5 (US ft)
      "+lat_2=34.03333333333333 +lat_0=33.5 +lon_0=-118 " +
      "+x_0=2000000.0001016 +y_0=500000.0001016002 +ellps=GRS80 +units=us-ft")
    case 31370 => Some("+proj=lcc +lat_1=51.16666723333333 " + // Belgian Lambert 72
      "+lat_2=49.8333339 +lat_0=90 +lon_0=4.367486666666666 " +
      "+x_0=150000.013 +y_0=5400088.438 +ellps=intl " +
      "+towgs84=-106.8686,52.2978,-103.7239,0.3366,-0.457,1.8422,-1.2747")
    case 2193 => Some("+proj=tmerc +lat_0=0 +lon_0=173 +k=0.9996 " + // NZTM 2000
      "+x_0=1600000 +y_0=10000000 +ellps=GRS80")
    case 2157 => Some("+proj=tmerc +lat_0=53.5 +lon_0=-8 +k=0.99982 " + // Irish TM
      "+x_0=600000 +y_0=750000 +ellps=GRS80")
    case 29902 => Some("+proj=tmerc +lat_0=53.5 +lon_0=-8 +k=1.000035 " + // Irish Grid
      "+x_0=200000 +y_0=250000 +ellps=mod_airy " +
      "+towgs84=482.5,-130.6,564.6,-1.042,-0.214,-0.631,8.15")
    case 3577 => Some("+proj=aea +lat_1=-18 +lat_2=-36 +lat_0=0 " + // Australian Albers
      "+lon_0=132 +ellps=GRS80")
    case 6933 => Some("+proj=cea +lat_ts=30 +lon_0=0 +ellps=WGS84") // EASE-Grid 2.0
    case 5514 => Some("+proj=krovak +lat_0=49.5 " + // S-JTSK / Krovak East North
      "+lon_0=24.833333333333332 +k_0=0.9999 +ellps=bessel " +
      "+towgs84=589,76,480")
    case 3375 => Some("+proj=omerc +lat_0=4 +lonc=102.25 " + // GDM2000 Peninsular RSO
      "+alpha=323.0257964666666 +gamma=323.1301023611111 +k_0=0.99984 " +
      "+x_0=804671 +y_0=0 +no_uoff +ellps=GRS80") // method 9812 (variant A)
    case 29873 => Some("+proj=omerc +lat_0=4 +lonc=115 " + // Timbalai RSO Borneo (m)
      "+alpha=53.31582047222222 +gamma=53.13010236111111 +k_0=0.99984 " +
      "+x_0=590476.87 +y_0=442857.65 +ellps=evrstSS " + // method 9815 (variant B)
      "+towgs84=-679,669,-48")
    case 21781 => Some("+proj=somerc +lat_0=46.95240555555556 " + // CH1903 / LV03
      "+lon_0=7.439583333333333 +k_0=1 +x_0=600000 +y_0=200000 " +
      "+ellps=bessel +towgs84=674.374,15.056,405.346")
    case 2056 => Some("+proj=somerc +lat_0=46.95240555555556 " + // CH1903+ / LV95
      "+lon_0=7.439583333333333 +k_0=1 +x_0=2600000 +y_0=1200000 " +
      "+ellps=bessel +towgs84=674.374,15.056,405.346")
    case 28992 => Some("+proj=sterea +lat_0=52.15616055555555 " + // Dutch RD New
      "+lon_0=5.38763888888889 +k=0.9999079 +x_0=155000 +y_0=463000 " +
      "+ellps=bessel " +
      "+towgs84=565.417,50.3319,465.552,-0.398957,0.343988,-1.8774,4.0725")
    case 3031 => Some("+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 " + // Antarctic PS
      "+ellps=WGS84")
    case 3413 => Some("+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 " + // NSIDC Arctic
      "+ellps=WGS84")
    case 5041 => Some("+proj=stere +lat_0=90 +k=0.994 +lon_0=0 " + // UPS North
      "+x_0=2000000 +y_0=2000000 +ellps=WGS84")
    case 5042 => Some("+proj=stere +lat_0=-90 +k=0.994 +lon_0=0 " + // UPS South
      "+x_0=2000000 +y_0=2000000 +ellps=WGS84")
    case z if z >= 32601 && z <= 32660 => // WGS84 UTM north
      Some(s"+proj=utm +zone=${z - 32600} +ellps=WGS84")
    case z if z >= 32701 && z <= 32760 => // WGS84 UTM south
      Some(s"+proj=utm +zone=${z - 32700} +south +ellps=WGS84")
    case z if z >= 25828 && z <= 25838 => // ETRS89 UTM
      Some(s"+proj=utm +zone=${z - 25800} +ellps=GRS80")
    case z if z >= 26901 && z <= 26923 => // NAD83 UTM
      Some(s"+proj=utm +zone=${z - 26900} +ellps=GRS80")
    case z if z >= 23028 && z <= 23038 => // ED50 UTM (3-param datum shift)
      Some(s"+proj=utm +zone=${z - 23000} +ellps=intl +towgs84=-87,-98,-121")
    case _ => None
  }

  // ---- parse + cache ------------------------------------------------------

  private val cache = new ConcurrentHashMap[String, Crs]()

  /** Parse a CRS spec: "EPSG:n", a bare integer, or a "+proj=..." string.
    * Throws IllegalArgumentException on anything unsupported. */
  def crs(spec: String): Crs = {
    val key = spec.trim
    val hit = cache.get(key)
    if (hit != null) return hit
    val built =
      if (key.startsWith("+")) buildCrs(key, 0)
      else {
        val code =
          if (key.toUpperCase.startsWith("EPSG:")) key.drop(5).trim.toInt
          else try key.toInt catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"CRS spec must be 'EPSG:<code>', an integer code, or a " +
                s"'+proj=...' parameter string, got: $spec")
          }
        val s = epsgSpec(code).getOrElse(throw new IllegalArgumentException(
          s"EPSG:$code is not in the built-in table — pass its published " +
            "parameters to geo_convert as a '+proj=...' string instead"))
        buildCrs(s, code)
      }
    cache.putIfAbsent(key, built)
    built
  }

  // ---- datum shift (Helmert position vector, EPSG 9606) -------------------

  private def geodToXyz(ell: Ellipsoid, lonDeg: Double, latDeg: Double)
      : (Double, Double, Double) = {
    val phi = math.toRadians(latDeg); val lam = math.toRadians(lonDeg)
    val s = math.sin(phi)
    val nu = ell.a / math.sqrt(1.0 - ell.e2 * s * s)
    (nu * math.cos(phi) * math.cos(lam),
     nu * math.cos(phi) * math.sin(lam),
     nu * (1.0 - ell.e2) * s)
  }

  private def xyzToGeod(ell: Ellipsoid, x: Double, y: Double, z: Double)
      : (Double, Double) = {
    val p = math.sqrt(x * x + y * y)
    var phi = math.atan2(z, p * (1.0 - ell.e2))
    var i = 0
    while (i < 20) {
      val s = math.sin(phi)
      val nu = ell.a / math.sqrt(1.0 - ell.e2 * s * s)
      val h = if (math.abs(math.cos(phi)) > 1e-12) p / math.cos(phi) - nu
              else z / s - nu * (1.0 - ell.e2)
      val next = math.atan2(z, p * (1.0 - ell.e2 * nu / (nu + h)))
      val delta = next - phi
      phi = next
      if (math.abs(delta) < 1e-14) i = 20 else i += 1
    }
    (math.toDegrees(math.atan2(y, x)), math.toDegrees(phi))
  }

  /** 7-param position-vector Helmert: rotations in arcsec, scale in ppm.
    * `reverse` applies the inverse (small-angle exact transpose). */
  private def helmert(v: Array[Double], reverse: Boolean)
      : (Double, Double, Double) => (Double, Double, Double) = {
    val rx = math.toRadians(v(3) / 3600.0)
    val ry = math.toRadians(v(4) / 3600.0)
    val rz = math.toRadians(v(5) / 3600.0)
    val s = 1.0 + v(6) * 1e-6
    if (!reverse)
      (x, y, z) => (
        v(0) + s * (x - rz * y + ry * z),
        v(1) + s * (rz * x + y - rx * z),
        v(2) + s * (-ry * x + rx * y + z))
    else
      (x, y, z) => {
        val dx = (x - v(0)) / s; val dy = (y - v(1)) / s; val dz = (z - v(2)) / s
        (dx + rz * dy - ry * dz, -rz * dx + dy + rx * dz, ry * dx - rx * dy + dz)
      }
  }

  // ---- end-to-end transformer ---------------------------------------------

  /** (x, y) in `src` units → (x, y) in `dst` units, through the src
    * geodetic CRS, the WGS84 geocentric hub when either side declares a
    * datum shift, and the dst geodetic CRS. */
  def transformer(src: Crs, dst: Crs): (Double, Double) => (Double, Double) = {
    val sameDatum = (src.towgs84, dst.towgs84) match {
      case (None, None) => true // same family convention (cm-level)
      case _ => src.ell == dst.ell &&
        java.util.Arrays.equals(src.datumParams, dst.datumParams)
    }
    if (sameDatum) { (x, y) =>
      val (lon, lat) = src.inv(x, y)
      dst.fwd(lon, lat)
    } else {
      val toW = helmert(src.datumParams, reverse = false)
      val fromW = helmert(dst.datumParams, reverse = true)
      (x, y) => {
        val (lon1, lat1) = src.inv(x, y)
        val (gx, gy, gz) = geodToXyz(src.ell, lon1, lat1)
        val (wx, wy, wz) = toW(gx, gy, gz)
        val (dx, dy, dz) = fromW(wx, wy, wz)
        val (lon2, lat2) = xyzToGeod(dst.ell, dx, dy, dz)
        dst.fwd(lon2, lat2)
      }
    }
  }
}
