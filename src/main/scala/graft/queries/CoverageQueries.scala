package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.{SortKey, Table}
import graft.functions.ibisfn
import Tables._

/** Coverage widening: window frames (rows/range-interval, first/last/nth),
  * ibis-shaped describe/info, IN / NOT IN subquery three-valued semantics,
  * ordered group-concat + find_in_set, time-of-day predicates. */
object CoverageQueries {

  val defs: Seq[QueryDef] = Seq(

    // Window FRAMES battery (SURVEY.md §2.3): trailing rows frame, range
    // frame over days, first/last/nth value, lag with default.
    QueryDef("q24_window_frames", (s, dir) => {
      val o = Table(orders(s, dir)).filter(col("o_custkey") < 20)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val wDays = Window.partitionBy(col("o_custkey"))
        .orderBy(unix_date(to_date(col("o_orderdate"))))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      o.mutate(
          "trail3_avg" -> round(avg(col("o_totalprice")).over(w.rowsBetween(-2, 0)), 6),
          "cnt_30d" -> count(lit(1)).over(wDays.rangeBetween(-30, 0)),
          "first_price" -> first(col("o_totalprice")).over(ibisfn.cumulativeFrame(w)),
          "last_price" -> last(col("o_totalprice")).over(full),
          "second_price" -> ibisfn.nthValue0(col("o_totalprice"), 1, full),
          "lag2" -> lag(col("o_totalprice"), 2, 0.0).over(w))
        .selectNames("o_custkey", "o_orderkey", "trail3_avg", "cnt_30d",
          "first_price", "last_price", "second_price", "lag2")
        .sort(SortKey.asc(col("o_custkey")), SortKey.asc(col("o_orderkey")))
        .df
    }, Some("""
      SELECT o_custkey, o_orderkey,
        ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS trail3_avg,
        COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS cnt_30d,
        FIRST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
        LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
        NTH_VALUE(o_totalprice, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price,
        LAG(o_totalprice, 2, 0.0) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS lag2
      FROM orders WHERE o_custkey < 20 ORDER BY o_custkey, o_orderkey""")),

    // ibis Table.describe (relations.py:3408): one aggregation pass, one
    // output row per column.
    QueryDef("q25_describe", (s, dir) => {
      Table(customer(s, dir)).selectNames("c_custkey", "c_acctbal", "c_mktsegment")
        // exactUnique so DuckDB COUNT(DISTINCT) can oracle it; the default
        // approx path is plan-asserted (no Expand) in PlanQualitySpec.
        .describe(exactUnique = true)
        .sort(SortKey.asc(col("name")))
        .df
    }, Some("""
      WITH t AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer)
      SELECT 'c_acctbal' AS "name", 'double' AS "type", COUNT(c_acctbal) AS "count",
        COUNT(*) - COUNT(c_acctbal) AS "nulls", COUNT(DISTINCT c_acctbal) AS "unique",
        ROUND(AVG(c_acctbal), 6) AS "mean", ROUND(STDDEV_SAMP(c_acctbal), 6) AS "std",
        ROUND(CAST(MIN(c_acctbal) AS DOUBLE), 6) AS "min",
        ROUND(CAST(QUANTILE_CONT(CAST(c_acctbal AS DOUBLE), 0.25) AS DOUBLE), 6) AS "p25",
        ROUND(CAST(QUANTILE_CONT(CAST(c_acctbal AS DOUBLE), 0.5) AS DOUBLE), 6) AS "p50",
        ROUND(CAST(QUANTILE_CONT(CAST(c_acctbal AS DOUBLE), 0.75) AS DOUBLE), 6) AS "p75",
        ROUND(CAST(MAX(c_acctbal) AS DOUBLE), 6) AS "max"
      FROM t
      UNION ALL
      SELECT 'c_custkey', 'bigint', COUNT(c_custkey), COUNT(*) - COUNT(c_custkey),
        COUNT(DISTINCT c_custkey), ROUND(AVG(c_custkey), 6), ROUND(STDDEV_SAMP(c_custkey), 6),
        ROUND(CAST(MIN(c_custkey) AS DOUBLE), 6),
        ROUND(CAST(QUANTILE_CONT(CAST(c_custkey AS DOUBLE), 0.25) AS DOUBLE), 6),
        ROUND(CAST(QUANTILE_CONT(CAST(c_custkey AS DOUBLE), 0.5) AS DOUBLE), 6),
        ROUND(CAST(QUANTILE_CONT(CAST(c_custkey AS DOUBLE), 0.75) AS DOUBLE), 6),
        ROUND(CAST(MAX(c_custkey) AS DOUBLE), 6)
      FROM t
      UNION ALL
      SELECT 'c_mktsegment', 'string', COUNT(c_mktsegment), COUNT(*) - COUNT(c_mktsegment),
        COUNT(DISTINCT c_mktsegment), NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
        NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE
      FROM t
      ORDER BY "name"""")),

    // ibis Table.info (relations.py:3360).
    QueryDef("q25b_info", (s, dir) => {
      Table(customer(s, dir)).selectNames("c_custkey", "c_acctbal", "c_mktsegment")
        .info()
        .sort(SortKey.asc(col("pos")))
        .df
    }, Some("""
      WITH t AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer)
      SELECT 'c_custkey' AS "name", 'bigint' AS "type", TRUE AS "nullable",
        COUNT(*) - COUNT(c_custkey) AS "nulls", COUNT(c_custkey) AS "non_nulls",
        ROUND((COUNT(*) - COUNT(c_custkey)) / CAST(COUNT(*) AS DOUBLE), 6) AS "null_frac",
        0 AS "pos" FROM t
      UNION ALL
      SELECT 'c_acctbal', 'double', TRUE, COUNT(*) - COUNT(c_acctbal), COUNT(c_acctbal),
        ROUND((COUNT(*) - COUNT(c_acctbal)) / CAST(COUNT(*) AS DOUBLE), 6), 1 FROM t
      UNION ALL
      SELECT 'c_mktsegment', 'string', TRUE, COUNT(*) - COUNT(c_mktsegment), COUNT(c_mktsegment),
        ROUND((COUNT(*) - COUNT(c_mktsegment)) / CAST(COUNT(*) AS DOUBLE), 6), 2 FROM t
      ORDER BY "pos"""")),

    // ibis InSubquery (subqueries.py:65) + SQL NOT IN three-valued logic:
    // the null-poisoned variant must return zero rows (null-aware anti join).
    QueryDef("q26_in_subquery", (s, dir) => {
      val c = Table(customer(s, dir))
      val sub = orders(s, dir).filter(col("o_totalprice") > 400000).select(col("o_custkey"))
      val subNull = sub.unionByName(
        s.range(1).select(lit(null).cast("long").as("o_custkey")))
      c.inSubquery(col("c_custkey"), sub).countTable().rename("count" -> "in_cnt")
        .crossJoin(c.notInSubquery(col("c_custkey"), sub).countTable()
          .rename("count" -> "not_in_cnt"))
        .crossJoin(c.notInSubquery(col("c_custkey"), subNull).countTable()
          .rename("count" -> "not_in_null_cnt"))
        .df
    }, Some("""
      SELECT
        (SELECT COUNT(*) FROM customer
          WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)) AS in_cnt,
        (SELECT COUNT(*) FROM customer
          WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)) AS not_in_cnt,
        (SELECT COUNT(*) FROM customer
          WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000
                                  UNION ALL SELECT NULL)) AS not_in_null_cnt""")),

    // Ordered GroupConcat + FindInSet (0-indexed, -1 absent).
    QueryDef("q27_concat_inset", (s, dir) => {
      Table(orders(s, dir)).filter(col("o_custkey") < 200)
        .mutate("prio_idx" -> ibisfn.findInSet0(col("o_orderpriority"),
          lit("1-URGENT,2-HIGH,3-MEDIUM")))
        .groupBy(col("o_orderstatus"))
        .aggregate(
          ibisfn.groupConcatOrdered(col("o_orderpriority"), ",").as("prios"),
          max(col("prio_idx")).as("max_prio_idx"),
          min(col("prio_idx")).as("min_prio_idx"),
          count(lit(1)).as("n"))
        .sort(SortKey.asc(col("o_orderstatus")))
        .df
    }, Some("""
      SELECT o_orderstatus,
        STRING_AGG(o_orderpriority, ',' ORDER BY o_orderpriority) AS prios,
        MAX(COALESCE(LIST_POSITION(['1-URGENT','2-HIGH','3-MEDIUM'], o_orderpriority), 0) - 1) AS max_prio_idx,
        MIN(COALESCE(LIST_POSITION(['1-URGENT','2-HIGH','3-MEDIUM'], o_orderpriority), 0) - 1) AS min_prio_idx,
        COUNT(*) AS n
      FROM orders WHERE o_custkey < 200
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Join output-column policy (ibis joins.py:34-111): same-named equi-key
    // collapses to one column on inner joins; other collisions get the
    // "{name}_right" rename.
    QueryDef("q29_join_rename", (s, dir) => {
      // `def`: the self-join below needs two independent Dataset lineages
      // so column references resolve unambiguously.
      def enriched = {
        val c = Table(customer(s, dir)).filter(col("c_custkey") < 20)
          .selectNames("c_custkey", "c_nationkey")
        val n = Table(nation(s, dir)).rename("n_nationkey" -> "c_nationkey")
          .selectNames("c_nationkey", "n_name")
        c.joinOn(n, Seq("c_nationkey" -> "c_nationkey"))
      }
      enriched.joinOn(enriched, Seq("c_nationkey" -> "c_nationkey"))
        .filter(col("c_custkey") < col("c_custkey_right"))
        .selectNames("c_custkey", "c_custkey_right", "c_nationkey", "n_name")
        .sort(SortKey.asc(col("c_custkey")), SortKey.asc(col("c_custkey_right")))
        .df
    }, Some("""
      WITH e AS (
        SELECT c_custkey, c_nationkey, n_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_custkey < 20)
      SELECT a.c_custkey, b.c_custkey AS c_custkey_right, a.c_nationkey, a.n_name
      FROM e a JOIN e b ON a.c_nationkey = b.c_nationkey
      WHERE a.c_custkey < b.c_custkey
      ORDER BY a.c_custkey, c_custkey_right""")),

    // Both rename templates live (ibis joins.py lname="{name}_left" /
    // rname="{name}_right"): a non-key column name shared by both sides is
    // disambiguated on BOTH sides.
    QueryDef("q29b_join_collision", (s, dir) => {
      val p1 = Table(part(s, dir))
        .selectNames("p_partkey", "p_retailprice").rename("p_retailprice" -> "price")
        .filter(col("p_partkey") < 50)
      val p2src = part(s, dir)
      val p2 = Table(p2src.select(p2src("p_partkey").as("pk"),
        (p2src("p_retailprice") * 2).as("price")))
      p1.joinOn(p2, Seq("p_partkey" -> "pk"),
          lname = "{name}_left", rname = "{name}_right")
        .selectNames("p_partkey", "price_left", "pk", "price_right")
        .sort(SortKey.asc(col("p_partkey")))
        .df
    }, Some("""
      SELECT a.p_partkey, a.p_retailprice AS price_left,
        b.p_partkey AS pk, b.p_retailprice * 2 AS price_right
      FROM part a JOIN part b ON a.p_partkey = b.p_partkey
      WHERE a.p_partkey < 50
      ORDER BY a.p_partkey""")),

    // Inequality-predicate (range) join: ibis JoinLink predicates are
    // arbitrary boolean exprs; here each order is matched to a price band.
    // The band table is tiny → broadcast nested-loop, a map-side pass over
    // the fact side (the scalable shape for interval lookups; an SMJ range
    // join would shuffle the fact table for nothing).
    QueryDef("q110_range_join", (s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val bands = Table.memtable(s,
        Seq(Row("low", 0.0, 100000.0), Row("mid", 100000.0, 300000.0),
          Row("high", 300000.0, 1e18)),
        StructType(Seq(StructField("band", StringType), StructField("lo", DoubleType),
          StructField("hi", DoubleType))))
      val o = orders(s, dir)
      Table(o)
        .join(bands, o("o_totalprice") >= bands.df("lo") &&
          o("o_totalprice") < bands.df("hi"))
        .groupBy(col("band"))
        .aggregate(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .sort(SortKey.asc(col("band")))
        .df
    }, Some("""
      WITH bands(band, lo, hi) AS (VALUES
        ('low', 0.0, 100000.0), ('mid', 100000.0, 300000.0), ('high', 300000.0, 1e18))
      SELECT band, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
      FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
      GROUP BY band ORDER BY band""")),

    // ROLLUP — not in ibis (SURVEY.md §7.3: no GroupingSets op); exposed as
    // a Spark-native capability superset with grouping() null-vs-total
    // disambiguation.
    QueryDef("q111_rollup", (s, dir) => {
      val o = orders(s, dir)
      Table(o.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          (grouping(col("o_orderstatus")) * 2 + grouping(col("o_orderpriority")))
            .cast("int").as("lvl")))
        .sort(SortKey.asc(col("lvl")), SortKey.asc(col("o_orderstatus")),
          SortKey.asc(col("o_orderpriority")))
        .df
    }, Some("""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
        CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS lvl
      FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY lvl, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST""")),

    // Hot-key mitigation operators produce exactly the plain-plan results:
    // salted two-phase aggregation and salted join vs their direct forms.
    QueryDef("q113_skew_salted", (s, dir) => {
      val o = orders(s, dir)
      val agg = graft.operators.Skew.saltedAgg(o, Seq("o_orderstatus"), buckets = 8,
        partial = Seq(count(lit(1)).as("pn"),
          sum(col("o_totalprice").cast("decimal(38,4)")).as("ps")),
        merge = Seq(sum(col("pn")).as("n"), sum(col("ps")).cast("double").as("total")))
      val joined = graft.operators.Skew.saltedJoin(
          orders(s, dir), nation(s, dir).withColumn("nk", col("n_nationkey").cast("bigint")),
          probeKey = "o_custkey", buildKey = "nk", buckets = 4)
        .agg(count(lit(1)).as("n_joined"))
      Table(agg).sort(SortKey.asc(col("o_orderstatus"))).df.crossJoin(joined)
    }, Some("""
      WITH a AS (
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderstatus),
      j AS (
        SELECT COUNT(*) AS n_joined
        FROM orders JOIN nation ON o_custkey = CAST(n_nationkey AS BIGINT))
      SELECT * FROM a CROSS JOIN j ORDER BY o_orderstatus""")),

    // Geospatial POINT subset (functions/geo.scala, exts/GeoExpressions):
    // WKB encode → coordinate extract → Euclidean distance / dwithin /
    // box-contains, oracle-checked against plain coordinate math (the
    // DuckDB spatial extension isn't installable offline — the roundtrip
    // through 21-byte WKB is exactly what the oracle-side math skips).
    QueryDef("q75_geo_points", (s, dir) => {
      import graft.functions.geo
      val c = customer(s, dir); val n = nation(s, dir)
      val pts = Table(c)
        .join(Table(n), c("c_nationkey") === n("n_nationkey"))
        .mutate("pt" -> geo.point(col("c_acctbal") / 100.0, col("n_nationkey").cast("double")))
      val origin = geo.point(lit(0.0), lit(12.0))
      pts
        .mutate(
          "px" -> geo.x(col("pt")), "py" -> geo.y(col("pt")),
          // raw distance, no ROUND: the doubles are bit-identical on both
          // engines (same sqrt of same inputs), while ROUND of an off-grid
          // double can diverge at a half-boundary (see q248)
          "dist_origin" -> geo.distance(col("pt"), origin),
          "near" -> geo.dwithin(col("pt"), origin, lit(25.0)),
          "in_box" -> geo.containsBox(lit(0.0), lit(5.0), lit(40.0), lit(15.0), col("pt")))
        .groupBy(col("n_nationkey"))
        .aggregate(
          count(lit(1)).as("n_cust"),
          count(when(col("near"), lit(1))).as("n_near"),
          count(when(col("in_box"), lit(1))).as("n_in_box"),
          min(col("dist_origin")).as("min_dist"),
          // decimal-grid landmine: px = acctbal/100 is off the 4-decimal
          // grid (double division), so the money-sum goes over the RAW
          // acctbal — px itself is only used in float-safe min/compare ops
          dsum(col("c_acctbal")).as("sum_bal"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH pts AS (
        SELECT n_nationkey, c_acctbal / 100.0 AS px, CAST(n_nationkey AS DOUBLE) AS py,
          c_acctbal AS bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey)
      SELECT n_nationkey, COUNT(*) AS n_cust,
        COUNT(CASE WHEN SQRT((px - 0.0) * (px - 0.0) + (py - 12.0) * (py - 12.0)) <= 25.0
          THEN 1 END) AS n_near,
        COUNT(CASE WHEN px BETWEEN 0.0 AND 40.0 AND py BETWEEN 5.0 AND 15.0
          THEN 1 END) AS n_in_box,
        MIN(SQRT((px - 0.0) * (px - 0.0) + (py - 12.0) * (py - 12.0))) AS min_dist,
        CAST(SUM(CAST(bal AS DECIMAL(38,4))) AS DOUBLE) AS sum_bal
      FROM pts GROUP BY 1 ORDER BY 1""")),

    // Deliberate 90%-hot-key join stress (round-2 verdict #9): 90% of probe
    // rows land on key 0. The salted and plain twins produce identical
    // results (same oracle); Bench times both at SF10/SF100 under
    // "controls_*" so the skew story is measured, not asserted.
    QueryDef("q114_skew_hot_salted", (s, dir) => {
      val probe = orders(s, dir).withColumn("hk",
        when(pmod(col("o_orderkey"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("o_custkey"), lit(1000))))
      val build = customer(s, dir).filter(col("c_custkey") < 1000)
        .select(col("c_custkey").as("bk"), col("c_acctbal"))
      graft.operators.Skew.saltedJoin(probe, build, "hk", "bk", buckets = 32)
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          countDistinct(col("bk")).as("n_keys"))
    }, Some("""
      WITH p AS (SELECT *, CASE WHEN o_orderkey % 10 < 9 THEN 0
          ELSE o_custkey % 1000 END AS hk FROM orders),
        b AS (SELECT c_custkey AS bk, c_acctbal FROM customer WHERE c_custkey < 1000)
      SELECT COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
        COUNT(DISTINCT bk) AS n_keys
      FROM p JOIN b ON hk = bk""")),

    QueryDef("q114b_skew_hot_plain", (s, dir) => {
      val probe = orders(s, dir).withColumn("hk",
        when(pmod(col("o_orderkey"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("o_custkey"), lit(1000))))
      val build = customer(s, dir).filter(col("c_custkey") < 1000)
        .select(col("c_custkey").as("bk"), col("c_acctbal"))
      probe.join(build, col("hk") === col("bk"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          countDistinct(col("bk")).as("n_keys"))
    }, Some("""
      WITH p AS (SELECT *, CASE WHEN o_orderkey % 10 < 9 THEN 0
          ELSE o_custkey % 1000 END AS hk FROM orders),
        b AS (SELECT c_custkey AS bk, c_acctbal FROM customer WHERE c_custkey < 1000)
      SELECT COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
        COUNT(DISTINCT bk) AS n_keys
      FROM p JOIN b ON hk = bk""")),

    // BetweenTime (µs-of-day exact) + IsInf on a synthesized infinity.
    QueryDef("q28_time_of_day", (s, dir) => {
      Table(events(s, dir)).filter(col("user_id") < 10)
        .mutate(
          "in_business" -> ibisfn.betweenTime(col("ts"), "09:00:00", "17:00:00"),
          "maybe_inf" -> when(col("value") > 2, lit(Double.PositiveInfinity))
            .otherwise(col("value")))
        .groupBy(col("user_id"))
        .aggregate(
          count(lit(1)).as("n"),
          count(when(col("in_business"), lit(1))).as("n_business"),
          count(when(ibisfn.isInf(col("maybe_inf")), lit(1))).as("n_inf"))
        .sort(SortKey.asc(col("user_id")))
        .df
    }, Some("""
      SELECT user_id, COUNT(*) AS n,
        COUNT(CASE WHEN (epoch_us(ts::TIMESTAMP) - epoch_us(date_trunc('day', ts::TIMESTAMP)))
          BETWEEN 32400000000 AND 61200000000 THEN 1 END) AS n_business,
        COUNT(CASE WHEN ISINF(CASE WHEN "value" > 2 THEN 'inf'::DOUBLE ELSE "value" END)
          THEN 1 END) AS n_inf
      FROM events WHERE user_id < 10
      GROUP BY user_id ORDER BY user_id""")),

    // Polygon geometry e2e (exts/GeoGeometry.scala; geospatial.py:28,102,
    // 242,373,381,76,202): a data-driven rectangle zone per nation —
    // area/perimeter/centroid/envelope/n_points through real WKB
    // construction, point-in-polygon containment (ST_Contains: a point on
    // the zone's boundary is not inside, hence the oracle's strict bounds;
    // py = k + 2.5 never lies on an edge), and point↔centroid distance. The oracle mirrors each measure with plain
    // rectangle math: every value is exact integer-or-half-grid double
    // arithmetic on both engines (shoelace sums, perfect-square sqrts and
    // the centroid's integer/integer division are all IEEE-exact), so the
    // hash comparison is strict — no rounding needed.
    QueryDef("q76_geo_polygon_zone", (s, dir) => {
      import graft.functions.geo
      val c = customer(s, dir); val n = nation(s, dir)
      val x0 = (col("n_nationkey") * 2).cast("double")
      val x1 = (col("n_nationkey") * 3 + 10).cast("double")
      val y0 = col("n_nationkey").cast("double")
      val y1 = (col("n_nationkey") + 5).cast("double")
      val zone = geo.makePolygon(array(
        geo.point(x0, y0), geo.point(x1, y0), geo.point(x1, y1), geo.point(x0, y1)))
      Table(c)
        .join(Table(n), c("c_nationkey") === n("n_nationkey"))
        .mutate("zone" -> zone,
          "pt" -> geo.point(col("c_acctbal") / 100.0,
            col("n_nationkey").cast("double") + 2.5))
        .mutate(
          "zone_area" -> geo.area(col("zone")),
          "zone_perim" -> geo.perimeter(col("zone")),
          "cx" -> geo.x(geo.centroid(col("zone"))),
          "cy" -> geo.y(geo.centroid(col("zone"))),
          "env_area" -> geo.area(geo.envelope(col("zone"))),
          "npts" -> geo.nPoints(col("zone")),
          "gtype" -> geo.geometryType(col("zone")),
          "inside" -> geo.contains(col("zone"), col("pt")),
          "dist_c" -> geo.distance(col("pt"), geo.centroid(col("zone"))))
        .groupBy(col("n_nationkey"))
        .aggregate(
          max(col("zone_area")).as("zone_area"),
          max(col("zone_perim")).as("zone_perim"),
          max(col("cx")).as("cx"), max(col("cy")).as("cy"),
          max(col("env_area")).as("env_area"),
          max(col("npts")).as("npts"), max(col("gtype")).as("gtype"),
          count(when(col("inside"), lit(1))).as("n_inside"),
          min(col("dist_c")).as("min_dist_c"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH pts AS (
        SELECT n_nationkey,
          CAST(n_nationkey * 2 AS DOUBLE) AS x0,
          CAST(n_nationkey * 3 + 10 AS DOUBLE) AS x1,
          CAST(n_nationkey AS DOUBLE) AS y0,
          CAST(n_nationkey + 5 AS DOUBLE) AS y1,
          c_acctbal / 100.0 AS px,
          CAST(n_nationkey AS DOUBLE) + 2.5 AS py
        FROM customer JOIN nation ON c_nationkey = n_nationkey)
      SELECT n_nationkey,
        (x1 - x0) * (y1 - y0) AS zone_area,
        2.0 * ((x1 - x0) + (y1 - y0)) AS zone_perim,
        (x0 + x1) / 2.0 AS cx, (y0 + y1) / 2.0 AS cy,
        (x1 - x0) * (y1 - y0) AS env_area,
        5 AS npts, 'POLYGON' AS gtype,
        COUNT(CASE WHEN px > x0 AND px < x1 THEN 1 END) AS n_inside,
        MIN(SQRT((px - (x0 + x1) / 2.0) * (px - (x0 + x1) / 2.0) +
                 (py - (y0 + y1) / 2.0) * (py - (y0 + y1) / 2.0))) AS min_dist_c
      FROM pts
      GROUP BY 1, x0, x1, y0, y1
      ORDER BY 1""")),

    // Linestring geometry e2e (geospatial.py:337,318,373,405,226,437-465):
    // per-user event tracks — sort_array(collect_list(struct)) →
    // geo.makeLine → length / n_points / start / end / bbox, all through
    // the WKB constructor. Oracle rebuilds the track with a LAG window;
    // both engines sum segment lengths in event order (round 6 absorbs
    // the last-ulp accumulation difference, the corpus' standard policy).
    QueryDef("q77_geo_line_track", (s, dir) => {
      import graft.functions.geo
      Table(events(s, dir))
        .filter(col("user_id") < 40)
        .mutate("pt" -> geo.point(col("value"),
          (col("event_id") % 100).cast("double")))
        .groupBy(col("user_id"))
        .aggregate(expr(
          "transform(sort_array(collect_list(struct(event_id, pt))), s -> s.pt)")
          .as("track_pts"))
        .mutate("line" -> geo.makeLine(col("track_pts")))
        .mutate(
          "npts" -> geo.nPoints(col("line")),
          "track_len" -> round(geo.length(col("line")), 6),
          "sx" -> geo.x(geo.startPoint(col("line"))),
          "sy" -> geo.y(geo.startPoint(col("line"))),
          "ex1" -> geo.x(geo.endPoint(col("line"))),
          "ey1" -> geo.y(geo.endPoint(col("line"))),
          "bx0" -> geo.xMin(col("line")), "bx1" -> geo.xMax(col("line")),
          "by0" -> geo.yMin(col("line")), "by1" -> geo.yMax(col("line")))
        .filter(col("npts") >= 2)
        .dropColumns("track_pts", "line")
        .sort(SortKey.asc(col("user_id")))
        .df
    }, Some("""
      WITH pts AS (
        SELECT user_id, event_id, CAST(value AS DOUBLE) AS px,
          CAST(event_id % 100 AS DOUBLE) AS py
        FROM events WHERE user_id < 40),
      seg AS (
        SELECT user_id, event_id, px, py,
          LAG(px) OVER (PARTITION BY user_id ORDER BY event_id) AS lx,
          LAG(py) OVER (PARTITION BY user_id ORDER BY event_id) AS ly
        FROM pts)
      SELECT user_id,
        CAST(COUNT(*) AS INT) AS npts,
        ROUND(SUM(CASE WHEN lx IS NULL THEN 0
          ELSE SQRT((px - lx) * (px - lx) + (py - ly) * (py - ly)) END), 6) AS track_len,
        MIN_BY(px, event_id) AS sx, MIN_BY(py, event_id) AS sy,
        MAX_BY(px, event_id) AS ex1, MAX_BY(py, event_id) AS ey1,
        MIN(px) AS bx0, MAX(px) AS bx1, MIN(py) AS by0, MAX(py) AS by1
      FROM seg
      GROUP BY user_id HAVING COUNT(*) >= 2
      ORDER BY user_id""")),

    // GeoIntersection (geospatial.py:426) — the planar-exact convex-clip
    // subset (Sutherland-Hodgman): per-nation rectangles at offsets
    // 0/2/4/6 produce full / partial / sliver / TOUCH-ONLY overlaps
    // (offset 6 shares just the edge x=base+6 — since round 9 that
    // returns the contact LINESTRING, area 0, 2 points, centroid at the
    // shared edge's midpoint), a horizontal line clips to the box span,
    // and point∩polygon keeps or drops the point. Oracle is exact
    // rectangle-overlap arithmetic (every coordinate on the integer
    // grid).
    QueryDef("q74_geo_clip", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val base = (k * 10).cast("double")
      val off = ((k % 4) * 2).cast("double")
      def rect(x0: org.apache.spark.sql.Column, y0: org.apache.spark.sql.Column,
          w: Double, h: Double) = geo.makePolygon(array(
        geo.point(x0, y0), geo.point(x0 + w, y0),
        geo.point(x0 + w, y0 + h), geo.point(x0, y0 + h)))
      val a = rect(base, lit(0.0), 6, 6)
      val b = rect(base + off, lit(2.0), 4, 6)
      val ix = geo.intersection(a, b)
      val lineClip = geo.intersection(
        geo.makeLine(array(geo.point(base - 2.0, lit(3.0)),
          geo.point(base + 8.0, lit(3.0)))), a)
      val ptIx = geo.intersection(
        geo.point(base + (k % 8).cast("double"), lit(1.0)), a)
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        geo.area(ix).as("ix_area"),
        geo.nPoints(ix).as("ix_np"),
        geo.x(geo.centroid(ix)).as("ix_cx"),
        geo.y(geo.centroid(ix)).as("ix_cy"),
        geo.length(lineClip).as("clip_len"),
        geo.x(geo.startPoint(lineClip)).as("clip_sx"),
        geo.x(ptIx).as("pt_x"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH t AS (
        SELECT n_nationkey,
          n_nationkey * 10.0 AS base,
          (n_nationkey % 4) * 2.0 AS off,
          CAST(n_nationkey % 8 AS DOUBLE) AS m8
        FROM nation),
      ov AS (
        SELECT *, LEAST(6.0, off + 4.0) - off AS w FROM t)
      SELECT n_nationkey,
        CASE WHEN w > 0 THEN w * 4.0 ELSE 0.0 END AS ix_area,
        CASE WHEN w > 0 THEN 5 ELSE 2 END AS ix_np,
        CASE WHEN w > 0 THEN base + (off + LEAST(6.0, off + 4.0)) / 2.0
             ELSE base + 6.0 END AS ix_cx,
        4.0 AS ix_cy,
        6.0 AS clip_len,
        base AS clip_sx,
        CASE WHEN m8 <= 6 THEN base + m8 END AS pt_x
      FROM ov ORDER BY 1""")),

    // Multi* / GeometryCollection inputs (round-4 verdict #5; WKB types
    // datatypes/core.py:943-1014): per-nation MULTIPOLYGON (two rects, one
    // size-varying) and MULTILINESTRING — area/perimeter/centroid fold per
    // member, containment probes the SECOND member (flattened even-odd),
    // the gap between members, and min-distance across members. Oracle is
    // closed-form arithmetic on the same parameters.
    QueryDef("q74b_geo_multi", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val base = (k * 10).cast("double")
      val w = (k % 3 + 2).cast("double")
      val m4 = (k % 4).cast("double")
      def rect(x0: org.apache.spark.sql.Column, y0: org.apache.spark.sql.Column,
          rw: org.apache.spark.sql.Column, rh: org.apache.spark.sql.Column) =
        geo.makePolygon(array(
          geo.point(x0, y0), geo.point(x0 + rw, y0),
          geo.point(x0 + rw, y0 + rh), geo.point(x0, y0 + rh)))
      val mp = geo.collectGeoms(array(
        rect(base, lit(0.0), lit(2.0), lit(2.0)),
        rect(base + 5.0, lit(0.0), w, w)))
      val ml = geo.collectGeoms(array(
        geo.makeLine(array(geo.point(base, lit(0.0)), geo.point(base + 3.0, lit(0.0)))),
        geo.makeLine(array(geo.point(base, lit(5.0)), geo.point(base + m4 + 1.0, lit(5.0))))))
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        geo.geometryType(mp).as("m_type"),
        geo.area(mp).as("m_area"),
        geo.perimeter(mp).as("m_perim"),
        round(geo.x(geo.centroid(mp)), 6).as("m_cx"),
        geo.contains(mp, geo.point(base + 5.0 + w / 2.0, w / 2.0)).as("m_in2"),
        geo.contains(mp, geo.point(base + 3.5, lit(1.0))).as("m_gap"),
        geo.distance(mp, geo.point(base + 3.0, lit(0.0))).as("m_dist"),
        geo.geometryType(ml).as("l_type"),
        geo.length(ml).as("l_len"),
        geo.nPoints(mp).as("m_np"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH t AS (
        SELECT n_nationkey,
          n_nationkey * 10.0 AS base,
          CAST(n_nationkey % 3 + 2 AS DOUBLE) AS w,
          CAST(n_nationkey % 4 AS DOUBLE) AS m4
        FROM nation)
      SELECT n_nationkey,
        'MULTIPOLYGON' AS m_type,
        4.0 + w * w AS m_area,
        8.0 + 4.0 * w AS m_perim,
        ROUND((4.0 * (base + 1.0) + w * w * (base + 5.0 + w / 2.0)) / (4.0 + w * w), 6) AS m_cx,
        TRUE AS m_in2,
        FALSE AS m_gap,
        1.0 AS m_dist,
        'MULTILINESTRING' AS l_type,
        3.0 + m4 + 1.0 AS l_len,
        10 AS m_np
      FROM t ORDER BY 1""")),

    // Polygon set-op outputs (round-4 verdict #6; GeoUnion geospatial.py
    // :195, GeoDifference :433, GeoUnaryUnion :186): per-nation square
    // pairs at offsets 0/2/4/6/8 hit identical / overlapping / edge-
    // touching / disjoint — union crosses the shortcut AND boundary-walk
    // paths, difference covers empty / partial / identity, and an interior
    // bite checks the hole output (area and excluded-point containment).
    QueryDef("q74c_geo_setops", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val base = (k * 10000).cast("double") // wide spacing: pairs never interact
      val off = ((k % 5) * 2).cast("double")
      def sq(x0: org.apache.spark.sql.Column) = geo.makePolygon(array(
        geo.point(x0, lit(0.0)), geo.point(x0 + 4.0, lit(0.0)),
        geo.point(x0 + 4.0, lit(4.0)), geo.point(x0, lit(4.0))))
      val a = sq(base)
      val b = sq(base + off)
      val u = geo.union(a, b)
      val d = geo.difference(a, b)
      val hole = geo.difference(a, geo.makePolygon(array(
        geo.point(base + 1.0, lit(1.0)), geo.point(base + 2.0, lit(1.0)),
        geo.point(base + 2.0, lit(2.0)), geo.point(base + 1.0, lit(2.0)))))
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        geo.area(u).as("u_area"),
        geo.perimeter(u).as("u_perim"),
        geo.geometryType(u).as("u_type"),
        geo.area(d).as("d_area"),
        geo.area(hole).as("h_area"),
        geo.contains(hole, geo.point(base + 1.5, lit(1.5))).as("h_in"),
        geo.contains(hole, geo.point(base + 3.0, lit(3.0))).as("h_out"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH t AS (
        SELECT n_nationkey, (n_nationkey % 5) * 2.0 AS off FROM nation)
      SELECT n_nationkey,
        16.0 + LEAST(off, 4.0) * 4.0 AS u_area,
        CASE WHEN off = 0 THEN 16.0 WHEN off <= 4 THEN 16.0 + 2.0 * off
             ELSE 32.0 END AS u_perim,
        CASE WHEN off <= 4 THEN 'POLYGON' ELSE 'MULTIPOLYGON' END AS u_type,
        CASE WHEN off = 0 THEN NULL ELSE LEAST(off, 4.0) * 4.0 END AS d_area,
        15.0 AS h_area,
        FALSE AS h_in,
        TRUE AS h_out
      FROM t ORDER BY 1""")),

    // HOLED set-op operands (round 7 — the boundary walk generalized to
    // ring sets): the holed plate is built IN-ENGINE via the interior-bite
    // difference, then union plugs-or-shrinks its hole, difference against
    // a holed subtrahend raises the subtrahend's hole as an island, and
    // intersection with a square covering the hole keeps it. Every area is
    // a closed form in the nation key; per-key geometry spacing keeps rows
    // independent.
    QueryDef("q74f_geo_holed_setops", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val base = (k * 10000).cast("double")
      def rect(x0: org.apache.spark.sql.Column, y0: Double, w: Double, h: Double) =
        geo.makePolygon(array(
          geo.point(x0, lit(y0)), geo.point(x0 + w, lit(y0)),
          geo.point(x0 + w, lit(y0 + h)), geo.point(x0, lit(y0 + h))))
      // plate [0,10]² with hole [4,6]² (area 96), per-nation offset
      val holed = geo.difference(rect(base, 0, 10, 10), rect(base + 4.0, 4, 2, 2))
      // plug x-span [3.5, 4+w], y-span [3.5, 6.5] (offset half-units keep
      // every edge off the hole/shell grid): covers hole width min(w,2) →
      // union area 96 + min(w,2)*2
      val w = ((k % 3).cast("double") * 0.75) + 1.0
      val plugged = geo.union(holed, geo.makePolygon(array(
        geo.point(base + 3.5, lit(3.5)), geo.point(base + 4.0 + w, lit(3.5)),
        geo.point(base + 4.0 + w, lit(6.5)), geo.point(base + 3.5, lit(6.5)))))
      // A − holedB: bite 36 minus the 4-area island that resurfaces
      val island = geo.difference(rect(base, 0, 10, 10),
        geo.difference(rect(base + 2.0, 2, 6, 6), rect(base + 4.0, 4, 2, 2)))
      // holed ∩ square over the hole: 16 − 4
      val sect = geo.intersection(holed, rect(base + 3.0, 3, 4, 4))
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        round(geo.area(holed), 6).as("holed_area"),
        geo.nRings(holed).as("holed_nr"),
        round(geo.area(plugged), 6).as("plug_area"),
        round(geo.area(island), 6).as("island_area"),
        geo.geometryType(island).as("island_type"),
        round(geo.area(sect), 6).as("sect_area"),
        geo.nRings(sect).as("sect_nr"),
        geo.contains(island, geo.point(base + 5.0, lit(5.0))).as("on_island"),
        geo.contains(island, geo.point(base + 3.0, lit(3.0))).as("in_bite"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH t AS (SELECT n_nationkey, CAST(n_nationkey % 3 AS DOUBLE) * 0.75 + 1.0 AS w FROM nation)
      SELECT n_nationkey,
        96.0 AS holed_area,
        2 AS holed_nr,
        96.0 + LEAST(w, 2.0) * 2.0 AS plug_area,
        68.0 AS island_area,
        'MULTIPOLYGON' AS island_type,
        12.0 AS sect_area,
        2 AS sect_nr,
        TRUE AS on_island,
        FALSE AS in_bite
      FROM t ORDER BY 1""")),

    // MULTIPOLYGON set-op operands (round 7 second pass): two disjoint
    // squares collected into a MULTIPOLYGON, then a bridge rectangle of
    // key-dependent height unions everything into ONE polygon whose area
    // is closed-form; difference of the same multi against a middle band
    // leaves the outer slabs; intersection decomposes pairwise. Exercises
    // the part-merge worklist end-to-end under the oracle.
    QueryDef("q74g_geo_multi_setops", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val base = (k * 10000).cast("double")
      def rect(x0: org.apache.spark.sql.Column, y0: Double,
          w: Double, h: org.apache.spark.sql.Column) =
        geo.makePolygon(array(
          geo.point(x0, lit(y0)), geo.point(x0 + w, lit(y0)),
          geo.point(x0 + w, h + y0), geo.point(x0, h + y0)))
      val mA = geo.collectGeoms(array(
        rect(base, 0, 4, lit(4.0)), rect(base + 10.0, 0, 4, lit(4.0))))
      // bridge [3,11]x[1,1+hb], hb = 1 + k%2: overlaps both squares
      val hb = (k % 2 + 1).cast("double")
      val bridge = rect(base + 3.0, 1, 8, hb)
      val u = geo.union(mA, bridge)
      val d = geo.difference(mA, rect(base + 2.0, -1, 10, lit(6.0)))
      val i = geo.intersection(mA, bridge)
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        round(geo.area(u), 6).as("u_area"),
        geo.geometryType(u).as("u_type"),
        round(geo.area(d), 6).as("d_area"),
        geo.geometryType(d).as("d_type"),
        round(geo.area(i), 6).as("i_area"),
        geo.geometryType(i).as("i_type"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH t AS (SELECT n_nationkey, CAST(n_nationkey % 2 + 1 AS DOUBLE) AS hb FROM nation)
      SELECT n_nationkey,
        32.0 + 8.0 * hb - 2.0 * hb AS u_area,
        'POLYGON' AS u_type,
        16.0 AS d_area,
        'MULTIPOLYGON' AS d_type,
        2.0 * hb AS i_area,
        'MULTIPOLYGON' AS i_type
      FROM t ORDER BY 1""")),

    // Mixed-dimension GEOMETRYCOLLECTION set-op operands (round 9): a
    // collection of polygon + line + points against an overlapping
    // square. Union merges the areal parts (absorbing the interior
    // point), passes the disjoint line and far point through; difference
    // cuts the polygon and drops the in-B point; intersection keeps the
    // overlap slab plus the shared point. Every number is closed-form
    // planar math keyed on the nation key.
    QueryDef("q74h_geo_mixed_setops", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val base = (k * 10000).cast("double")
      def rect(x0: org.apache.spark.sql.Column, y0: Double,
          w: Double, h: Double) =
        geo.makePolygon(array(
          geo.point(x0, lit(y0)), geo.point(x0 + w, lit(y0)),
          geo.point(x0 + w, lit(y0 + h)), geo.point(x0, lit(y0 + h))))
      val len = (k % 3 + 2).cast("double")
      val mixedA = geo.collectGeoms(array(
        rect(base, 0, 4, 4),
        geo.makeLine(array(geo.point(base + 10.0, lit(0.0)),
          geo.point(base + 10.0 + len, lit(0.0)))),
        geo.point(base + 20.0, lit(0.0)),
        geo.point(base + 2.0, lit(2.0))))
      val bPoly = rect(base + 2.0, 0, 4, 4)
      val u = geo.union(mixedA, bPoly)
      val d = geo.difference(mixedA, bPoly)
      val i = geo.intersection(mixedA, bPoly)
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        geo.geometryType(u).as("u_type"),
        round(geo.area(u), 6).as("u_area"),
        round(geo.length(u), 6).as("u_len"),
        round(geo.area(d), 6).as("d_area"),
        round(geo.length(d), 6).as("d_len"),
        round(geo.area(i), 6).as("i_area"),
        (geo.distance(i, geo.point(base + 2.0, lit(2.0))) === 0.0).as("i_has_pt"),
        (geo.distance(u, geo.point(base + 20.0, lit(0.0))) === 0.0).as("u_has_far_pt"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      SELECT n_nationkey,
        'GEOMETRYCOLLECTION' AS u_type,
        24.0 AS u_area,
        CAST(n_nationkey % 3 + 2 AS DOUBLE) AS u_len,
        8.0 AS d_area,
        CAST(n_nationkey % 3 + 2 AS DOUBLE) AS d_len,
        8.0 AS i_area,
        TRUE AS i_has_pt,
        TRUE AS u_has_far_pt
      FROM nation ORDER BY 1""")),

    // Line-union NODING (round 9 second pass): crossing lines split at
    // the shared intersection point (4 arms, degree-4 node, total
    // length preserved, 8 vertices), collinear overlaps merge to the
    // interval union, and a T-junction yields 3 members — all
    // closed-form in the nation key.
    QueryDef("q74i_geo_line_noding", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val base = (k * 10000).cast("double")
      val span = (k % 3 + 2).cast("double") // 2..4
      // X: diagonals of a span×span square anchored at base
      val xA = geo.makeLine(array(geo.point(base, lit(0.0)), geo.point(base + span, span)))
      val xB = geo.makeLine(array(geo.point(base, span), geo.point(base + span, lit(0.0))))
      val xu = geo.union(xA, xB)
      // collinear overlap on y=0: [0,4] ∪ [2, 4+span] → length 4+span
      val cA = geo.makeLine(array(geo.point(base + 100.0, lit(0.0)), geo.point(base + 104.0, lit(0.0))))
      val cB = geo.makeLine(array(geo.point(base + 102.0, lit(0.0)), geo.point(base + 104.0 + span, lit(0.0))))
      val cu = geo.union(cA, cB)
      // T: horizontal [0,4] + vertical rising span from its midpoint
      val tA = geo.makeLine(array(geo.point(base + 200.0, lit(0.0)), geo.point(base + 204.0, lit(0.0))))
      val tB = geo.makeLine(array(geo.point(base + 202.0, lit(0.0)), geo.point(base + 202.0, span)))
      val tu = geo.union(tA, tB)
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        geo.geometryType(xu).as("x_type"),
        round(geo.length(xu), 6).as("x_len"),
        geo.nPoints(xu).as("x_np"),
        geo.geometryType(cu).as("c_type"),
        round(geo.length(cu), 6).as("c_len"),
        geo.geometryType(tu).as("t_type"),
        round(geo.length(tu), 6).as("t_len"),
        geo.nPoints(tu).as("t_np"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH t AS (SELECT n_nationkey, CAST(n_nationkey % 3 + 2 AS DOUBLE) AS span FROM nation)
      SELECT n_nationkey,
        'MULTILINESTRING' AS x_type,
        ROUND(2 * SQRT(2 * span * span), 6) AS x_len,
        8 AS x_np,
        'LINESTRING' AS c_type,
        4.0 + span AS c_len,
        'MULTILINESTRING' AS t_type,
        4.0 + span AS t_len,
        6 AS t_np
      FROM t ORDER BY 1""")),

    // Touch-only polygon contacts (round 9 third pass): pairs whose
    // interiors are disjoint but whose boundaries meet return the
    // CONTACT SET instead of null — a full shared edge and a partial
    // (T-tile) shared edge as LINESTRINGs, a corner as a POINT, and a
    // MULTIPOLYGON edge-touching a bridge square on both sides as a
    // MULTILINESTRING; the same pairs' unions merge across the shared
    // edges. Every length/area is closed-form in the nation key.
    QueryDef("q74j_geo_touch_contacts", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val base = (k * 10000).cast("double")
      val h = (k % 3 + 2).cast("double") // 2..4
      def rect(x0: org.apache.spark.sql.Column, y0: Double,
          w: Double, hC: org.apache.spark.sql.Column) =
        geo.makePolygon(array(
          geo.point(x0, lit(y0)), geo.point(x0 + w, lit(y0)),
          geo.point(x0 + w, hC + y0), geo.point(x0, hC + y0)))
      // full shared edge x = base+4, y in [0,h]
      val e1 = rect(base, 0, 4, h); val e2 = rect(base + 4.0, 0, 3, h)
      val eI = geo.intersection(e1, e2); val eU = geo.union(e1, e2)
      // corner contact at (base+102, 2)
      val c1 = rect(base + 100.0, 0, 2, lit(2.0))
      val c2 = geo.makePolygon(array(
        geo.point(base + 102.0, lit(2.0)), geo.point(base + 104.0, lit(2.0)),
        geo.point(base + 104.0, lit(4.0)), geo.point(base + 102.0, lit(4.0))))
      val cI = geo.intersection(c1, c2); val cU = geo.union(c1, c2)
      // partial shared edge: t2's bottom rides the middle of t1's top
      val t1 = rect(base + 200.0, 0, 6, lit(2.0))
      val t2 = geo.makePolygon(array(
        geo.point(base + 201.0, lit(2.0)), geo.point(base + 201.0 + h, lit(2.0)),
        geo.point(base + 201.0 + h, lit(3.0)), geo.point(base + 201.0, lit(3.0))))
      val tI = geo.intersection(t1, t2); val tU = geo.union(t1, t2)
      // multipolygon bridged by an edge-adjacent square on BOTH sides
      val m = geo.collectGeoms(array(
        rect(base + 300.0, 0, 2, lit(2.0)), rect(base + 304.0, 0, 2, lit(2.0))))
      val bridge = rect(base + 302.0, 0, 2, lit(2.0))
      val mI = geo.intersection(m, bridge); val mU = geo.union(m, bridge)
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        geo.geometryType(eI).as("e_type"), round(geo.length(eI), 6).as("e_len"),
        geo.geometryType(eU).as("e_utype"), round(geo.area(eU), 6).as("e_uarea"),
        geo.geometryType(cI).as("c_type"),
        (geo.distance(cI, geo.point(base + 102.0, lit(2.0))) === 0.0).as("c_at"),
        geo.geometryType(cU).as("c_utype"), round(geo.area(cU), 6).as("c_uarea"),
        geo.geometryType(tI).as("t_type"), round(geo.length(tI), 6).as("t_len"),
        geo.geometryType(tU).as("t_utype"), round(geo.area(tU), 6).as("t_uarea"),
        geo.geometryType(mI).as("m_type"), round(geo.length(mI), 6).as("m_len"),
        geo.geometryType(mU).as("m_utype"), round(geo.area(mU), 6).as("m_uarea"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH t AS (SELECT n_nationkey, CAST(n_nationkey % 3 + 2 AS DOUBLE) AS h FROM nation)
      SELECT n_nationkey,
        'LINESTRING' AS e_type, h AS e_len,
        'POLYGON' AS e_utype, 7.0 * h AS e_uarea,
        'POINT' AS c_type, TRUE AS c_at,
        'MULTIPOLYGON' AS c_utype, 8.0 AS c_uarea,
        'LINESTRING' AS t_type, h AS t_len,
        'POLYGON' AS t_utype, 12.0 + h AS t_uarea,
        'MULTILINESTRING' AS m_type, 4.0 AS m_len,
        'POLYGON' AS m_utype, 12.0 AS m_uarea
      FROM t ORDER BY 1""")),

    // UTM reprojection (round 4; GeoTransform geospatial.py:450 beyond the
    // 4326↔3857 pair): per-nation points inside zone 31, forward to
    // EPSG:32631 and back (plus a 32631→3857→4326 double hop). The Krüger
    // series' ABSOLUTE accuracy is spec-checked against independent Snyder
    // values (GeoUtmSpec); the oracle checks the round-trip identity at
    // 1e-6 degrees — which only holds if forward and inverse are both
    // real reprojections (error ~1e-10°).
    QueryDef("q74d_geo_utm_roundtrip", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val lon = (k % 12).cast("double") * 0.5 + 0.25
      val lat = k.cast("double") * 3.0 - 36.0
      val p = geo.point(lon, lat)
      val utm = geo.transform(p, 4326, 32631)
      val back = geo.transform(utm, 32631, 4326)
      val hop = geo.transform(geo.transform(utm, 32631, 3857), 3857, 4326)
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        round(geo.x(back), 6).as("lon_rt"),
        round(geo.y(back), 6).as("lat_rt"),
        round(geo.x(hop), 6).as("lon_hop"),
        round(geo.y(hop), 6).as("lat_hop"),
        geo.srid(utm).as("srid_utm"),
        (geo.x(utm) > 0.0 && geo.x(utm) < 1000000.0).as("e_in_band"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      SELECT n_nationkey,
        ROUND((n_nationkey % 12) * 0.5 + 0.25, 6) AS lon_rt,
        ROUND(n_nationkey * 3.0 - 36.0, 6) AS lat_rt,
        ROUND((n_nationkey % 12) * 0.5 + 0.25, 6) AS lon_hop,
        ROUND(n_nationkey * 3.0 - 36.0, 6) AS lat_hop,
        CAST(32631 AS INT) AS srid_utm,
        TRUE AS e_in_band
      FROM nation ORDER BY 1""")),

    // Conic/azimuthal CRSs from ProjEngine's EPSG table (2154 Lambert-93,
    // 3035 LAEA, 5070 Albers). The Lambert-93 FORWARD is replayed in
    // self-contained SQL (closed-form Snyder LCC-2SP — constants n, F,
    // rho0 derived in the oracle from the same published parameters), and
    // all three must round-trip to identity at 1e-6 degrees, which only
    // holds when forward AND the iterative inverse are real.
    QueryDef("q74e_geo_projections", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val lon = lit(3.0) + (k % 5 - 2).cast("double") * 1.5
      val lat = lit(44.0) + (k % 7).cast("double") * 0.8
      val p = geo.point(lon, lat)
      val l93 = geo.transform(p, 4326, 2154)
      val back93 = geo.transform(l93, 2154, 4326)
      val eLon = lit(10.0) + (k % 5 - 2).cast("double") * 4.0
      val eLat = lit(45.0) + (k % 7).cast("double") * 3.0
      val backE = geo.transform(geo.transform(geo.point(eLon, eLat), 4326, 3035), 3035, 4326)
      val aLon = lit(-96.0) + (k % 5 - 2).cast("double") * 8.0
      val aLat = lit(30.0) + (k % 7).cast("double") * 2.5
      val backA = geo.transform(geo.transform(geo.point(aLon, aLat), 4326, 5070), 5070, 4326)
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        round(geo.x(l93), 3).as("x93"),
        round(geo.y(l93), 3).as("y93"),
        geo.srid(l93).as("srid93"),
        round(geo.x(back93), 6).as("lon93_rt"),
        round(geo.y(back93), 6).as("lat93_rt"),
        round(geo.x(backE), 6).as("lon3035_rt"),
        round(geo.y(backE), 6).as("lat3035_rt"),
        round(geo.x(backA), 6).as("lon5070_rt"),
        round(geo.y(backA), 6).as("lat5070_rt"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH c AS (
        SELECT 6378137.0 AS a, 1.0/298.257222101 AS f,
          (1.0/298.257222101)*(2.0 - 1.0/298.257222101) AS e2,
          SQRT((1.0/298.257222101)*(2.0 - 1.0/298.257222101)) AS e,
          RADIANS(49.0) AS p1, RADIANS(44.0) AS p2,
          RADIANS(46.5) AS p0, RADIANS(3.0) AS l0),
      k AS (
        SELECT a, e2, e, l0,
          COS(p1)/SQRT(1-e2*SIN(p1)*SIN(p1)) AS m1,
          COS(p2)/SQRT(1-e2*SIN(p2)*SIN(p2)) AS m2,
          TAN(PI()/4-p1/2)/POW((1-e*SIN(p1))/(1+e*SIN(p1)), e/2) AS t1,
          TAN(PI()/4-p2/2)/POW((1-e*SIN(p2))/(1+e*SIN(p2)), e/2) AS t2,
          TAN(PI()/4-p0/2)/POW((1-e*SIN(p0))/(1+e*SIN(p0)), e/2) AS t0
        FROM c),
      kn AS (SELECT *, (LN(m1)-LN(m2))/(LN(t1)-LN(t2)) AS n FROM k),
      kf AS (SELECT *, m1/(n*POW(t1,n)) AS ff FROM kn),
      kr AS (SELECT *, a*ff*POW(t0,n) AS rho0 FROM kf),
      pts AS (
        SELECT n_nationkey,
          3.0 + (n_nationkey % 5 - 2)*1.5 AS lon,
          44.0 + (n_nationkey % 7)*0.8 AS lat
        FROM nation),
      proj AS (
        SELECT n_nationkey, lon, lat, kr.n*(RADIANS(lon)-kr.l0) AS theta,
          kr.a*kr.ff*POW(
            TAN(PI()/4-RADIANS(lat)/2) /
              POW((1-kr.e*SIN(RADIANS(lat)))/(1+kr.e*SIN(RADIANS(lat))), kr.e/2),
            kr.n) AS rho,
          kr.rho0
        FROM pts CROSS JOIN kr)
      SELECT n_nationkey,
        ROUND(700000.0 + rho*SIN(theta), 3) AS x93,
        ROUND(6600000.0 + rho0 - rho*COS(theta), 3) AS y93,
        CAST(2154 AS INT) AS srid93,
        ROUND(lon, 6) AS lon93_rt, ROUND(lat, 6) AS lat93_rt,
        ROUND(10.0 + (n_nationkey % 5 - 2)*4.0, 6) AS lon3035_rt,
        ROUND(45.0 + (n_nationkey % 7)*3.0, 6) AS lat3035_rt,
        ROUND(-96.0 + (n_nationkey % 5 - 2)*8.0, 6) AS lon5070_rt,
        ROUND(30.0 + (n_nationkey % 7)*2.5, 6) AS lat5070_rt
      FROM proj ORDER BY 1""")),

    // Round-9 string-CRS GeoConvert (geospatial.py:459 — the reference's
    // own docs convert "EPSG:2263" state-plane US-feet) through the
    // parameter-driven ProjEngine: NY points through EPSG:2263 (LCC 2SP
    // in ftUS), the ftUS/meter twin invariant vs EPSG:32118, UK points
    // through EPSG:27700 (tmerc on Airy WITH the 7-param Helmert datum
    // shift), Antarctic points through EPSG:3031 (polar stereographic),
    // and a raw "+proj=..." parameter string. The oracle recomputes every
    // round-trip identity and unit ratio from the same generators —
    // only real forward+inverse+datum math reproduces the inputs at
    // 1e-6 degrees.
    QueryDef("q74k_geo_convert_crs", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      // NY Long Island service area
      val lonNy = lit(-74.2) + (k % 5).cast("double") * 0.35
      val latNy = lit(40.5) + (k % 7).cast("double") * 0.1
      val pNy = geo.point(lonNy, latNy)
      val ny = geo.convert(pNy, "EPSG:4326", "EPSG:2263")
      val nyBack = geo.convert(ny, "EPSG:2263", "EPSG:4326")
      val nyM = geo.convert(pNy, "EPSG:4326", "EPSG:32118")
      // UK: crosses a real datum boundary (WGS84 -> OSGB36 Helmert)
      val lonUk = lit(-4.0) + (k % 5).cast("double") * 1.2
      val latUk = lit(50.5) + (k % 7).cast("double") * 0.9
      val ukBack = geo.convert(
        geo.convert(geo.point(lonUk, latUk), "EPSG:4326", "EPSG:27700"),
        "EPSG:27700", "EPSG:4326")
      // Antarctic: polar stereographic aspect
      val lonAn = (k % 12).cast("double") * 30.0 - 165.0
      val latAn = lit(-65.0) - (k % 5).cast("double") * 5.0
      val anBack = geo.convert(
        geo.convert(geo.point(lonAn, latAn), "EPSG:4326", "EPSG:3031"),
        "EPSG:3031", "EPSG:4326")
      // raw parameter string (no EPSG table entry needed)
      val projStr = "+proj=lcc +lat_1=41.03333333333333 +lat_2=40.66666666666666 " +
        "+lat_0=40.16666666666666 +lon_0=-74 +x_0=300000 +ellps=GRS80"
      val rawBack = geo.convert(geo.convert(pNy, "EPSG:4326", projStr),
        projStr, "EPSG:4326")
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        round(geo.x(nyBack), 6).as("lon_ny_rt"),
        round(geo.y(nyBack), 6).as("lat_ny_rt"),
        geo.srid(ny).as("srid_ny"),
        // ftUS easting * 1200/3937 == meter-twin easting (0.1mm slack:
        // 2263's published FE is 300000.0000000001 m vs 32118's 300000)
        (abs(geo.x(ny) * 1200.0 / 3937.0 - geo.x(nyM)) < 1e-4).as("ft_m_consistent"),
        round(geo.x(ukBack), 6).as("lon_uk_rt"),
        round(geo.y(ukBack), 6).as("lat_uk_rt"),
        round(geo.x(anBack), 6).as("lon_an_rt"),
        round(geo.y(anBack), 6).as("lat_an_rt"),
        round(geo.x(rawBack), 6).as("lon_raw_rt"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      SELECT n_nationkey,
        ROUND(-74.2 + (n_nationkey % 5) * 0.35, 6) AS lon_ny_rt,
        ROUND(40.5 + (n_nationkey % 7) * 0.1, 6) AS lat_ny_rt,
        CAST(2263 AS INT) AS srid_ny,
        TRUE AS ft_m_consistent,
        ROUND(-4.0 + (n_nationkey % 5) * 1.2, 6) AS lon_uk_rt,
        ROUND(50.5 + (n_nationkey % 7) * 0.9, 6) AS lat_uk_rt,
        ROUND((n_nationkey % 12) * 30.0 - 165.0, 6) AS lon_an_rt,
        ROUND(-65.0 - (n_nationkey % 5) * 5.0, 6) AS lat_an_rt,
        ROUND(-74.2 + (n_nationkey % 5) * 0.35, 6) AS lon_raw_rt
      FROM nation ORDER BY 1""")),

    // Round-9 second CRS batch: the oblique projection methods — Swiss
    // somerc (EPSG 2056), Krovak oblique conic (5514), Hotine oblique
    // Mercator variant B (29873 Borneo RSO) and the cea equal-area
    // cylinder (6933 EASE-Grid 2.0) — each as a WGS84 round trip whose
    // oracle recomputes the generated inputs; only a real forward AND
    // inverse (datum shifts included for 2056/5514/29873) reproduces
    // them at 1e-6 degrees.
    QueryDef("q74m_geo_oblique_crs", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      import org.apache.spark.sql.Column
      def rt(px: Column, py: Column, crs: String): (Column, Column) = {
        val b = geo.convert(geo.convert(geo.point(px, py), "EPSG:4326", crs),
          crs, "EPSG:4326")
        (round(geo.x(b), 6), round(geo.y(b), 6))
      }
      val chLon = lit(6.5) + (k % 5).cast("double") * 0.8
      val chLat = lit(46.0) + (k % 7).cast("double") * 0.25
      val (chX, chY) = rt(chLon, chLat, "EPSG:2056")
      val czLon = lit(12.5) + (k % 5).cast("double") * 1.2
      val czLat = lit(48.8) + (k % 7).cast("double") * 0.3
      val (czX, czY) = rt(czLon, czLat, "EPSG:5514")
      val myLon = lit(110.0) + (k % 5).cast("double") * 1.8
      val myLat = lit(1.0) + (k % 7).cast("double") * 0.9
      val (myX, myY) = rt(myLon, myLat, "EPSG:29873")
      val eaLon = (k % 12).cast("double") * 30.0 - 165.0
      val eaLat = lit(-75.0) + (k % 7).cast("double") * 25.0
      val (eaX, eaY) = rt(eaLon, eaLat, "EPSG:6933")
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        chX.as("lon_ch"), chY.as("lat_ch"),
        czX.as("lon_cz"), czY.as("lat_cz"),
        myX.as("lon_my"), myY.as("lat_my"),
        eaX.as("lon_ea"), eaY.as("lat_ea"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      SELECT n_nationkey,
        ROUND(6.5 + (n_nationkey % 5) * 0.8, 6) AS lon_ch,
        ROUND(46.0 + (n_nationkey % 7) * 0.25, 6) AS lat_ch,
        ROUND(12.5 + (n_nationkey % 5) * 1.2, 6) AS lon_cz,
        ROUND(48.8 + (n_nationkey % 7) * 0.3, 6) AS lat_cz,
        ROUND(110.0 + (n_nationkey % 5) * 1.8, 6) AS lon_my,
        ROUND(1.0 + (n_nationkey % 7) * 0.9, 6) AS lat_my,
        ROUND((n_nationkey % 12) * 30.0 - 165.0, 6) AS lon_ea,
        ROUND(-75.0 + (n_nationkey % 7) * 25.0, 6) AS lat_ea
      FROM nation ORDER BY 1""")),

    // DE-9IM-style predicate battery (exts/GeoGeometryOps.scala;
    // geospatial.py:179 touches, :172 overlaps, :49 covers, :77 equals,
    // :161 ordering_equals, :63 crosses, :42 contains_properly, :405
    // azimuth, :223 max_distance, :380 d_fully_within): per-nation square
    // pairs at offsets 0/2/4 hit equal / overlapping / edge-touching, a
    // vertical line crosses the square, the bottom edge touches without
    // crossing, and a rotated-vertex-order twin separates spatial equality
    // from ordering equality. Every oracle value is exact arithmetic on
    // the same offsets (sqrt is IEEE-correctly-rounded on both engines;
    // atan2 is the one libm-variant call, rounded to 6).
    QueryDef("q78_geo_relations", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val base = (k * 10).cast("double")
      val off = ((k % 3) * 2).cast("double")
      def sq(x0: org.apache.spark.sql.Column) = geo.makePolygon(array(
        geo.point(x0, lit(0.0)), geo.point(x0 + 4.0, lit(0.0)),
        geo.point(x0 + 4.0, lit(4.0)), geo.point(x0, lit(4.0))))
      val a = sq(base)
      val b = sq(base + off)
      // same square as `a`, same winding, vertex order rotated by one
      val brot = geo.makePolygon(array(
        geo.point(base + 4.0, lit(0.0)), geo.point(base + 4.0, lit(4.0)),
        geo.point(base, lit(4.0)), geo.point(base, lit(0.0))))
      val through = geo.makeLine(array(
        geo.point(base + 2.0, lit(-2.0)), geo.point(base + 2.0, lit(2.0))))
      val edge = geo.makeLine(array(
        geo.point(base, lit(0.0)), geo.point(base + 4.0, lit(0.0))))
      val m5 = (k % 5).cast("double"); val m7 = (k % 7).cast("double")
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        geo.touches(a, b).as("touches_ab"),
        geo.overlaps(a, b).as("overlaps_ab"),
        geo.covers(a, b).as("covers_ab"),
        geo.coveredBy(b, a).as("covered_by_ba"),
        geo.geoEquals(a, b).as("equals_ab"),
        geo.geoEquals(a, brot).as("equals_rot"),
        geo.orderingEquals(a, brot).as("ordering_rot"),
        geo.crosses(through, a).as("crosses_line"),
        geo.touches(edge, a).as("touches_edge"),
        geo.crosses(edge, a).as("crosses_edge"),
        round(geo.azimuth(geo.point(lit(0.0), lit(0.0)), geo.point(m5, m7)), 6)
          .as("az6"),
        geo.maxDistance(a, b).as("max_d"),
        geo.dFullyWithin(a, b, lit(8.0)).as("dfully8"),
        geo.containsProperly(a, geo.point(base + m5, m5)).as("cp"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH t AS (
        SELECT n_nationkey,
          (n_nationkey % 3) * 2.0 AS off,
          CAST(n_nationkey % 5 AS DOUBLE) AS m5,
          CAST(n_nationkey % 7 AS DOUBLE) AS m7
        FROM nation)
      SELECT n_nationkey,
        (off = 4) AS touches_ab,
        (off = 2) AS overlaps_ab,
        (off = 0) AS covers_ab,
        (off = 0) AS covered_by_ba,
        (off = 0) AS equals_ab,
        TRUE AS equals_rot,
        FALSE AS ordering_rot,
        TRUE AS crosses_line,
        TRUE AS touches_edge,
        FALSE AS crosses_edge,
        CASE WHEN m5 = 0 AND m7 = 0 THEN NULL
             ELSE ROUND(ATAN2(m5, m7), 6) END AS az6,
        SQRT((off + 4.0) * (off + 4.0) + 16.0) AS max_d,
        (SQRT((off + 4.0) * (off + 4.0) + 16.0) <= 8.0) AS dfully8,
        (m5 IN (1, 2, 3)) AS cp
      FROM t ORDER BY 1""")),

    // Linear referencing + simplify/buffer/SRID/reprojection
    // (geospatial.py:116 line_locate_point, :144 line_substring, :440
    // simplify, :362 buffer, :109 is_valid, :346/:353 srid/set_srid,
    // :469/:483 as_binary/as_ewkt, :336 n_rings, :84 geometry_n,
    // :450 transform 4326→3857): data-driven lines per nation. Oracles
    // are the closed forms — substring endpoints interpolate on exact
    // integer grids, Douglas-Peucker keeps the bent midpoint iff its
    // height exceeds tolerance, the 32-gon buffer area is
    // 16·r²·sin(π/16), and web mercator is 6378137·radians(lon) /
    // 6378137·ln(tan(π/4+radians(lat)/2)) (rounded where libm variance
    // could bite).
    // Line/polygon buffer (geospatial.py:362, round 7): planar Minkowski
    // offsetting with round joins at the 32-gon pitch keeps every area a
    // CLOSED FORM the oracle can state in SQL — straight line: 2rL + full
    // 32-gon (16r²sin(π/16)); right-angle L path: 2rL − r² (reflex
    // double-count) + caps + one 8-step wedge (4r²sin(π/16)); square:
    // A + Pr + four 8-step corner wedges (= a full 32-gon). The U-shaped
    // probe's arms sit closer than 2r, so its offsets overlap: the buffer
    // is their union, one valid polygon whose area lies between the
    // [-2,5]x[0,10] band plus the [0,3]x[10,12] cap (76) and the bbox (98).
    QueryDef("q79b_geo_buffer", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val kd = k.cast("double")
      val r = ((k % 3) + 1).cast("double")
      val r2 = (((k % 2) + 1).cast("double")) * 0.5
      val line0 = geo.makeLine(array(
        geo.point(kd, lit(0.0)), geo.point(kd + 10.0, lit(0.0))))
      val lpath = geo.makeLine(array(geo.point(kd, lit(0.0)),
        geo.point(kd + 4.0, lit(0.0)), geo.point(kd + 4.0, lit(4.0))))
      val sq = geo.makePolygon(array(
        geo.point(kd, lit(0.0)), geo.point(kd + 4.0, lit(0.0)),
        geo.point(kd + 4.0, lit(4.0)), geo.point(kd, lit(4.0))))
      val uline = geo.makeLine(array(geo.point(kd, lit(0.0)),
        geo.point(kd, lit(10.0)), geo.point(kd + 3.0, lit(10.0)),
        geo.point(kd + 3.0, lit(0.0))))
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        round(geo.area(geo.buffer(line0, r)), 6).as("line_area"),
        round(geo.area(geo.buffer(lpath, r2)), 6).as("l_area"),
        round(geo.area(geo.buffer(sq, r)), 6).as("sq_area"),
        geo.contains(geo.buffer(line0, r), geo.point(kd, lit(0.0))).as("covers_start"),
        geo.isValid(geo.buffer(uline, lit(2.0))).as("u_valid"),
        geo.geometryType(geo.buffer(uline, lit(2.0))).as("u_type"),
        geo.area(geo.buffer(uline, lit(2.0))).between(76.0, 98.0).as("u_area_bounded"),
        geo.geometryType(geo.buffer(sq, r)).as("t"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH t AS (
        SELECT n_nationkey,
          CAST((n_nationkey % 3) + 1 AS DOUBLE) AS r,
          CAST((n_nationkey % 2) + 1 AS DOUBLE) * 0.5 AS r2
        FROM nation)
      SELECT n_nationkey,
        ROUND(2 * r * 10 + 16 * r * r * SIN(PI() / 16.0), 6) AS line_area,
        ROUND(2 * r2 * 8 - r2 * r2 + 20 * r2 * r2 * SIN(PI() / 16.0), 6) AS l_area,
        ROUND(16 + 16 * r + 16 * r * r * SIN(PI() / 16.0), 6) AS sq_area,
        TRUE AS covers_start,
        TRUE AS u_valid,
        'POLYGON' AS u_type,
        TRUE AS u_area_bounded,
        'POLYGON' AS t
      FROM t ORDER BY 1""")),

    QueryDef("q79_geo_line_ops", (s, dir) => {
      import graft.functions.geo
      val k = col("n_nationkey")
      val kd = k.cast("double")
      val h = (k % 4).cast("double")
      val line0 = geo.makeLine(array(
        geo.point(kd, lit(0.0)), geo.point(kd + 10.0, lit(0.0))))
      val bent = geo.makeLine(array(geo.point(kd, lit(0.0)),
        geo.point(kd + 5.0, h), geo.point(kd + 10.0, lit(0.0))))
      val probe = geo.point(kd + (k % 12).cast("double"), lit(3.0))
      val sub = geo.lineSubstring(line0, lit(0.2), lit(0.7))
      val r = ((k % 3) + 1).cast("double")
      val buf = geo.buffer(geo.point(kd, kd), r)
      val poly4 = when((k % 2) === 0, geo.makePolygon(array(
          geo.point(kd, lit(0.0)), geo.point(kd + 4.0, lit(0.0)),
          geo.point(kd + 4.0, lit(4.0)), geo.point(kd, lit(4.0)))))
        .otherwise(geo.makePolygon(array( // bowtie: self-intersecting
          geo.point(kd, lit(0.0)), geo.point(kd + 4.0, lit(4.0)),
          geo.point(kd + 4.0, lit(0.0)), geo.point(kd, lit(4.0)))))
      val tagged = geo.setSrid(geo.point(kd, kd * 2), lit(4326))
      val lon = ((k * 7) % 360 - 180).cast("double")
      val lat = ((k % 60) - 30).cast("double")
      val merc = geo.transform(geo.point(lon, lat), 4326, 3857)
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        round(geo.lineLocatePoint(line0, probe), 6).as("locate"),
        round(geo.length(sub), 6).as("sub_len"),
        round(geo.x(geo.startPoint(sub)), 6).as("sub_sx"),
        geo.nPoints(geo.simplify(bent, lit(1.5))).as("simp_np"),
        round(geo.area(buf), 6).as("buf_area"),
        geo.isValid(poly4).as("valid"),
        geo.srid(tagged).as("srid"),
        geo.asEWKT(tagged).as("ewkt"),
        geo.srid(geo.asBinary(tagged)).as("srid_stripped"),
        round(geo.x(merc), 4).as("mx"),
        round(geo.y(merc), 4).as("my"),
        geo.srid(merc).as("msrid"),
        geo.nRings(buf).as("nr"),
        geo.nPoints(geo.geometryN(line0, lit(0))).as("g0np"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH t AS (
        SELECT n_nationkey,
          n_nationkey % 12 AS m12,
          n_nationkey % 4 AS h,
          (n_nationkey % 3) + 1.0 AS r,
          CAST((n_nationkey * 7) % 360 - 180 AS DOUBLE) AS lon,
          CAST((n_nationkey % 60) - 30 AS DOUBLE) AS lat
        FROM nation)
      SELECT n_nationkey,
        ROUND(LEAST(m12, 10) / 10.0, 6) AS locate,
        5.0 AS sub_len,
        ROUND(CAST(n_nationkey + 2 AS DOUBLE), 6) AS sub_sx,
        CASE WHEN h <= 1 THEN 2 ELSE 3 END AS simp_np,
        ROUND(16.0 * r * r * SIN(PI() / 16.0), 6) AS buf_area,
        (n_nationkey % 2 = 0) AS valid,
        4326 AS srid,
        'SRID=4326;POINT (' || CAST(n_nationkey AS VARCHAR) || ' ' ||
          CAST(n_nationkey * 2 AS VARCHAR) || ')' AS ewkt,
        0 AS srid_stripped,
        ROUND(6378137.0 * RADIANS(lon), 4) AS mx,
        ROUND(6378137.0 * LN(TAN(PI() / 4.0 + RADIANS(lat) / 2.0)), 4) AS my,
        3857 AS msrid,
        1 AS nr,
        2 AS g0np
      FROM t ORDER BY 1"""))
  )
}
