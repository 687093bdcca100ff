package graft.queries

import org.apache.spark.sql.functions._

import graft.api.{SortKey, Table}
import org.apache.spark.sql.GraftSqlBridge
import Tables._

/** TPC-H-shaped corpus adapted to the driver's trimmed star schema (no
  * partsupp, no commit/receipt dates). These mirror the reference's primary
  * correctness suite (ibis/backends/tests/tpc/h/test_queries.py — each ibis
  * expression checked against DuckDB-executed golden SQL;
  * ibis/backends/tests/tpc/README.md:1-25) and exercise the decorrelation
  * patterns: multi-way joins, correlated scalar aggregates, exists chains,
  * and anti joins — all expressed as declarative DataFrame plans so
  * Catalyst picks broadcast strategies for the dimension sides. */
object TpchQueries {

  /** Spark-first TPC-H Q5 with injectable fact sides: the bench shape
    * feeds the parquet scans; q101b_tpch5_bucketed feeds o_orderkey-
    * bucketed catalog tables to measure the zero-exchange co-located
    * layout (round-5 verdict experiment 6a).
    *
    * The region cut fixes BOTH admissible customer
    * and supplier sets (ASIA ⇒ 5 of 25 nations), yet the naive 6-way
    * chain shuffles all of orders on o_custkey and all of lineitem on
    * l_orderkey before anything is cut. Instead, both dimension maps are
    * force-broadcast (region⋈nation⋈customer projected to 3 columns —
    * routine map-join material on a sized cluster), so the ONLY exchange
    * pair left is the o_orderkey join of the two pre-cut fact sides (1/5
    * of orders, 1/5 of lineitem); supplier-customer colocation rides as a
    * join residual. Measured at SF100: 39s warm (round-3 shape) → ~7.5s
    * (≈DuckDB parity). A runtime bloom on l_orderkey was measured 30%
    * SLOWER on top of this: its scalar subquery serializes the orders
    * side ahead of the lineitem scan, and on a page-cached local[32] the
    * 5× shuffle-volume saving doesn't pay for the lost scan parallelism
    * (it would on an IO-bound cluster — revisit there). */
  private[graft] def tpch5Body(s: org.apache.spark.sql.SparkSession, dir: String,
      o: org.apache.spark.sql.DataFrame,
      l: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val n = nation(s, dir); val c = customer(s, dir); val r = region(s, dir)
      val su = supplier(s, dir)
      // ONE admissible-nations subtree feeds BOTH dimension maps (r15):
      // the old shape re-read region/nation per side, so each map paid its
      // own region-filter + nation-join broadcast builds (~2 extra
      // scheduler round-trips per query at every scale). The shared
      // subtree is also canonically identical on both sides, so
      // ReuseExchange collapses the two broadcast builds into one.
      val asiaNations = Table(r).filter(r("r_name") === "ASIA")
        .join(Table(n), r("r_regionkey") === n("n_regionkey"))
        .selectNames("n_nationkey").df
      val asiaCust = Table(broadcast(
        Table(c).join(Table(broadcast(asiaNations)),
            c("c_nationkey") === col("n_nationkey"))
          .selectNames("c_custkey", "c_nationkey").df))
      val asiaSup = Table(broadcast(
        Table(su).join(Table(broadcast(asiaNations)),
            su("s_nationkey") === col("n_nationkey"))
          .selectNames("s_suppkey", "s_nationkey").df))
      val oAsia = Table(o).join(asiaCust, o("o_custkey") === asiaCust.df("c_custkey"))
        .selectNames("o_orderkey", "c_nationkey")
      // money as exact 10⁻⁴-unit longs (the MoneySum4 rounding contract —
      // round-half-away of amount·10⁴), so BOTH aggregation levels below
      // are plain codegen long sums: exact, order-independent, and
      // engine-stable under any partitioning
      val scaled = l("l_extendedprice") * (lit(1) - l("l_discount")) * 10000.0
      val lAsia = Table(l).join(asiaSup, l("l_suppkey") === asiaSup.df("s_suppkey"))
        .mutate("units" -> when(scaled >= 0, (scaled + 0.5).cast("long"))
          .otherwise((scaled - 0.5).cast("long")))
        .selectNames("l_orderkey", "s_nationkey", "units")
        // EAGER per-(order, nation) aggregation BELOW the exchange pair:
        // lineitem rows for one order are adjacent in TPC-H-shaped data,
        // so the map-side partial collapses the avg-4 lines/order before
        // anything ships — the exchange carries ~30M pre-summed rows
        // instead of ~120M, and its hash partitioning on exactly the join
        // keys (l_orderkey, s_nationkey) is REUSED by the join, so the
        // extra aggregate costs no extra exchange
        .groupBy(col("l_orderkey"), col("s_nationkey"))
        .aggregate(sum(col("units")).as("units"))
      // aggregate on the int nationkey and re-attach the name AFTER the
      // 5-row result exists: the exchange pair then carries no strings at
      // all (ints + the unit longs)
      val n3 = Table(nation(s, dir)).selectNames("n_nationkey", "n_name")
      Table(lAsia.join(oAsia,
          lAsia.df("l_orderkey") === oAsia.df("o_orderkey") &&
          lAsia.df("s_nationkey") === oAsia.df("c_nationkey"))
        .groupBy(col("c_nationkey"))
        .aggregate(sum(col("units")).as("u"))
        .df.join(broadcast(n3.df), col("c_nationkey") === col("n_nationkey")))
        // exact units → double exactly like a decimal(38,4) cast would
        .mutate("revenue" -> (col("u").cast("decimal(38,0)") / 10000).cast("double"))
        .selectNames("n_name", "revenue")
        // bounded output (≤ nations in the region, 5 rows at any SF):
        // single-partition sort, no range exchange + sampling pass (r15)
        .sortBounded(SortKey.desc(col("revenue")), SortKey.asc(col("n_name")))
        .df
  }

  val defs: Seq[QueryDef] = Seq(

    // Q5 shape: local-supplier volume through a 6-way join (region →
    // nation → supplier/customer colocation → orders → lineitem).
    QueryDef("q101_tpch5_local_volume",
      (s, dir) => tpch5Body(s, dir, orders(s, dir), lineitem(s, dir)),
      Some("""
      SELECT n_name,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
      FROM region
      JOIN nation ON r_regionkey = n_regionkey
      JOIN customer ON n_nationkey = c_nationkey
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // BUCKETED layout variant of q101 (round 9, recorded every round as a
    // bench control): orders AND lineitem stored CLUSTERED
    // BY their orderkey remove Q5's one remaining exchange pair — the
    // pre-aggregated lineitem and the cut orders arrive co-partitioned,
    // so the join needs no shuffle at all (the join keys (orderkey,
    // nationkey) are a SUPERSET of the bucket key, which Spark accepts
    // with requireAllClusterKeysForCoPartition=false). One-time bucketed
    // ingest persists in the warehouse, keyed by source dir. Same oracle
    // as q101 — identical results, exchange-free plan.
    //
    // Measured at SF100 (round 9): 11.5s warm vs DuckDB 3.15s ≈ 3.65× —
    // the SAME ratio as q101_control (the exchange pair alone, 3.6×),
    // so with the exchanges gone the whole remaining q101 delta is
    // Spark's per-row scan/probe/aggregate floor on this host, not plan
    // or shuffle. Closes the round-7 verdict's layout question: q103's
    // twin reaches 1.0×; q101's floor is row processing, recorded here.
    QueryDef("q101b_tpch5_bucketed", (s0, dir) => {
      // conf override on a CLONED session only: the flag must be live at
      // execution time (planning is lazy, so set-then-restore here would
      // undo it before it's read), and setting it on the shared session
      // would leak a plan-shape conf into every later query (ADVICE r13)
      val s = GraftSqlBridge.cloneSession(s0)
      s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // restore the default aggregate fast-map sizing on this isolated
      // session: the bucket-local per-order aggregate runs ~1M keys per
      // bucket task, which overflows the bench session's 2^20 final-agg
      // fast map and thrashes (see q202b's note; same backbone here)
      s.conf.set("spark.sql.codegen.aggregate.map.twolevel.partialOnly", "true")
      s.conf.set("spark.sql.codegen.aggregate.fastHashMap.capacityBit", "16")
      val (ot, lt) = BucketedLayout.orderkeyTables(s, dir)
      tpch5Body(s, dir, s.table(ot), s.table(lt))
    }, Some("""
      SELECT n_name,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
      FROM region
      JOIN nation ON r_regionkey = n_regionkey
      JOIN customer ON n_nationkey = c_nationkey
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // Floor control for q101 (round-6 verdict #4): the exchange pair ALONE.
    // q101's plan pre-cuts both fact sides via broadcast dimension maps and
    // pre-aggregates lineitem per order below its single exchange pair; this
    // control reproduces exactly that exchange — lineitem pre-aggregated per
    // orderkey joined to orders on orderkey, both sides cut to ~1/5 by a
    // deterministic orderkey residue (standing in for the ASIA cut, which is
    // also a post-scan hash lookup) — with none of the dimension work. The
    // delta between this and q101 is the broadcast pre-cut machinery; the
    // delta between this and DuckDB's identical SQL is the shuffle-exchange
    // floor. Excluded from the bench ratio geomean, like q80/q103 controls.
    QueryDef("q101_control", (s, dir) => {
      val o = orders(s, dir); val l = lineitem(s, dir)
      val perOrder = Table(l)
        .filter(l("l_orderkey") % 5 === 0)
        .mutate("qty" -> l("l_quantity").cast("long"))
        .groupBy(l("l_orderkey"))
        .aggregate(sum(col("qty")).as("qty"))
      Table(o)
        .filter(o("o_orderkey") % 5 === 0)
        .selectNames("o_orderkey")
        .join(perOrder, col("o_orderkey") === perOrder.df("l_orderkey"))
        .aggregate(count(lit(1)).as("n_orders"), sum(col("qty")).as("total_qty"))
        .df
    }, Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(qty) AS BIGINT) AS total_qty
      FROM (
        SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS qty
        FROM lineitem WHERE l_orderkey % 5 = 0 GROUP BY l_orderkey) j
      JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderkey % 5 = 0""")),

    // Q7 shape: shipping volume between two nations by year.
    QueryDef("q102_tpch7_nation_volume", (s, dir) => {
      val n1 = Table(nation(s, dir)).rename("n_name" -> "supp_nation").df
      val n2 = Table(nation(s, dir)).rename("n_name" -> "cust_nation").df
      val su = supplier(s, dir); val c = customer(s, dir)
      val o = orders(s, dir); val l = lineitem(s, dir)
      Table(su)
        .join(Table(l), su("s_suppkey") === l("l_suppkey"))
        .join(Table(o), l("l_orderkey") === o("o_orderkey"))
        .join(Table(c), o("o_custkey") === c("c_custkey"))
        .join(Table(n1), su("s_nationkey") === n1("n_nationkey"))
        .join(Table(n2), c("c_nationkey") === n2("n_nationkey"))
        .filter(
          (n1("supp_nation") === "NATION_18" && n2("cust_nation") === "NATION_19") ||
          (n1("supp_nation") === "NATION_19" && n2("cust_nation") === "NATION_18"))
        .mutate("l_year" -> year(l("l_shipdate")))
        .groupBy(n1("supp_nation"), n2("cust_nation"), col("l_year"))
        .aggregate(dsum(l("l_extendedprice") * (lit(1) - l("l_discount"))).as("revenue"))
        .sort(SortKey.asc(col("supp_nation")), SortKey.asc(col("cust_nation")),
          SortKey.asc(col("l_year")))
        .df
    }, Some("""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(YEAR(l_shipdate) AS INT) AS l_year,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
         OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // Q13 shape: order-count distribution including zero-order customers.
    // EAGER AGGREGATION below the outer join: orders pre-count per customer
    // (map-side combine collapses the fact side to |customers| rows) and
    // the left join only fills in the zero-order customers via coalesce —
    // identical to counting through the join, without shuffling the fact
    // table at row granularity.
    QueryDef("q103_tpch13_custdist", (s, dir) => {
      val c = customer(s, dir)
      val o = orders(s, dir)
      val perCust = Table(o)
        .filter(o("o_orderpriority") =!= "1-URGENT")
        .groupBy(o("o_custkey"))
        .count("n_ord")
      Table(c)
        .join(perCust, c("c_custkey") === perCust.df("o_custkey"), how = "left")
        .mutate("c_count" -> coalesce(col("n_ord"), lit(0L)))
        .groupBy(col("c_count"))
        .count("custdist")
        // output bounded by max orders-per-customer (SF-invariant, ~20
        // distinct counts): single-partition sort, no range exchange (r15)
        .sortBounded(SortKey.desc(col("custdist")), SortKey.desc(col("c_count")))
        .df
    }, Some("""
      SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // BUCKETED layout variant of q103 (round-7 verdict #6): orders stored
    // CLUSTERED BY o_custkey makes the dominant first aggregation
    // exchange-free — the bucketed scan's HashPartitioning(o_custkey)
    // satisfies the groupBy's distribution directly, so the fact table's
    // rows never shuffle at all (the residual exchanges move |customers|
    // pre-counts and a handful of distribution rows). This is the
    // cluster answer for a repeated-analysis layout; the one-time
    // bucketed write is the ingest cost and is excluded from the timed
    // body (the table persists in the warehouse across runs, keyed by
    // the source dir). Same oracle as q103 — identical results, cheaper
    // plan.
    QueryDef("q103b_tpch13_bucketed", (s, dir) => {
      val tbl = BucketedLayout.custkeyOrders(s, dir)
      val c = customer(s, dir)
      val o = s.table(tbl)
      val perCust = Table(o)
        .filter(o("o_orderpriority") =!= "1-URGENT")
        .groupBy(o("o_custkey"))
        .count("n_ord")
      Table(c)
        .join(perCust, c("c_custkey") === perCust.df("o_custkey"), how = "left")
        .mutate("c_count" -> coalesce(col("n_ord"), lit(0L)))
        .groupBy(col("c_count"))
        .count("custdist")
        .sort(SortKey.desc(col("custdist")), SortKey.desc(col("c_count")))
        .df
    }, Some("""
      SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // Floor control for q103 (round-4 verdict #9): the same two chained
    // hash aggregations WITHOUT the customer outer join. The delta between
    // this and q103 is the join; the delta between this and DuckDB's
    // equivalent is Spark's row-format hash-agg floor — measured, like
    // q80_control, so the q103 residual is an explained constant rather
    // than an unexplored gap. Excluded from the bench ratio geomean.
    QueryDef("q103_control", (s, dir) => {
      val o = orders(s, dir)
      Table(o)
        .filter(o("o_orderpriority") =!= "1-URGENT")
        .groupBy(o("o_custkey"))
        .count("n_ord")
        .groupBy(col("n_ord"))
        .count("custdist")
        .sort(SortKey.desc(col("custdist")), SortKey.desc(col("n_ord")))
        .df
    }, Some("""
      SELECT n_ord, COUNT(*) AS custdist FROM (
        SELECT o_custkey, COUNT(*) AS n_ord
        FROM orders WHERE o_orderpriority <> '1-URGENT'
        GROUP BY o_custkey)
      GROUP BY n_ord ORDER BY custdist DESC, n_ord DESC""")),

    // Q15 shape: top supplier(s) by revenue — uncorrelated scalar subquery
    // (max over an aggregated view) via broadcast cross join, no collect.
    QueryDef("q104_tpch15_top_supplier", (s, dir) => {
      val l = lineitem(s, dir); val su = supplier(s, dir)
      def revenue = Table(l)
        .filter(l("l_shipdate") >= lit("1996-01-01") && l("l_shipdate") < lit("1996-04-01"))
        .groupBy(l("l_suppkey"))
        .aggregate(dsum(l("l_extendedprice") * (lit(1) - l("l_discount"))).as("total_revenue"))
      val maxRev = revenue.aggregate(max(col("total_revenue")).as("max_revenue"))
      Table(su)
        .joinOn(revenue.crossJoin(maxRev)
          .filter(col("total_revenue") === col("max_revenue"))
          .dropColumns("max_revenue"),
          Seq("s_suppkey" -> "l_suppkey"))
        .selectNames("s_suppkey", "s_name", "total_revenue")
        .sort(SortKey.asc(col("s_suppkey")))
        .df
    }, Some("""
      WITH revenue AS (
        SELECT l_suppkey,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue
      FROM supplier JOIN revenue ON s_suppkey = l_suppkey
      WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      ORDER BY s_suppkey""")),

    // Q17 shape: revenue from small-quantity lines — correlated per-part
    // average decorrelated into an aggregate + equi-join.
    QueryDef("q105_tpch17_small_qty", (s, dir) => {
      val l = lineitem(s, dir); val p = part(s, dir)
      val avgQty = Table(lineitem(s, dir))
        .groupByNames("l_partkey")
        .aggregate((avg(col("l_quantity")) * 0.5).as("half_avg_qty"))
        .rename("l_partkey" -> "ap_partkey")
      Table(l)
        .join(Table(p).filter(p("p_brand") === "Brand#1"), l("l_partkey") === p("p_partkey"))
        .join(avgQty, l("l_partkey") === avgQty.df("ap_partkey"))
        .filter(l("l_quantity") < col("half_avg_qty"))
        .aggregate((dsum(l("l_extendedprice")) / 7.0).as("avg_yearly"))
        .df
    }, Some("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) / 7.0 AS avg_yearly
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#1'
        AND l_quantity < (
          SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = lineitem.l_partkey)""")),

    // Q4 shape: priority distribution of orders having at least one line
    // shipped after the order date (EXISTS → left-semi join).
    QueryDef("q107_tpch4_order_priority", (s, dir) => {
      val o = orders(s, dir); val l = lineitem(s, dir)
      Table(o)
        .filter(o("o_orderdate") >= lit("1996-01-01") && o("o_orderdate") < lit("1996-07-01"))
        .join(Table(l), o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate"), how = "semi")
        .groupBy(o("o_orderpriority"))
        .count("order_count")
        .sort(SortKey.asc(col("o_orderpriority")))
        .df
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Q6 shape: forecast revenue — pure scan + pushed filters + one agg.
    QueryDef("q108_tpch6_forecast_revenue", (s, dir) => {
      val l = lineitem(s, dir)
      Table(l)
        .filter(
          l("l_shipdate") >= lit("1995-01-01"), l("l_shipdate") < lit("1996-01-01"),
          l("l_discount").between(0.05, 0.07), l("l_quantity") < 24)
        .aggregate(dsum(l("l_extendedprice") * l("l_discount")).as("revenue"))
        .df
    }, Some("""
      SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,4))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    // Q12 shape: shipping-mode-style split via conditional aggregation.
    QueryDef("q109_tpch12_priority_split", (s, dir) => {
      val o = orders(s, dir); val l = lineitem(s, dir)
      Table(l)
        .filter(l("l_shipdate") >= lit("1996-01-01") && l("l_shipdate") < lit("1997-01-01"))
        .join(Table(o), l("l_orderkey") === o("o_orderkey"))
        .groupBy(l("l_returnflag"))
        .aggregate(
          count(when(o("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(1)))
            .as("high_line_count"),
          count(when(!o("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(1)))
            .as("low_line_count"))
        .sort(SortKey.asc(col("l_returnflag")))
        .df
    }, Some("""
      SELECT l_returnflag,
        COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
        COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Q19 shape: disjunction of conjunctive band predicates across the
    // join — Catalyst extracts the common join key and pushes the residual
    // OR; no cartesian.
    QueryDef("q112_tpch19_banded_revenue", (s, dir) => {
      val l = lineitem(s, dir); val p = part(s, dir)
      Table(l)
        .join(Table(p), l("l_partkey") === p("p_partkey") && (
          (p("p_size").between(1, 10) && l("l_quantity").between(1, 20)) ||
          (p("p_size").between(11, 25) && l("l_quantity").between(10, 30)) ||
          (p("p_size").between(26, 50) && l("l_quantity").between(20, 40))))
        .aggregate(dsum(l("l_extendedprice") * (lit(1) - l("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines"))
        .df
    }, Some("""
      SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey AND (
        (p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20) OR
        (p_size BETWEEN 11 AND 25 AND l_quantity BETWEEN 10 AND 30) OR
        (p_size BETWEEN 26 AND 50 AND l_quantity BETWEEN 20 AND 40))""")),

    // Q22 shape: high-balance customers with no orders — scalar average
    // subquery + null-aware-free anti join.
    QueryDef("q106_tpch22_global_sales", (s, dir) => {
      val c = customer(s, dir); val o = orders(s, dir)
      val avgBal = Table(c).filter(c("c_acctbal") > 0.0)
        .aggregate(avg(c("c_acctbal")).as("avg_bal"))
      Table(c)
        .crossJoin(avgBal)
        .filter(c("c_acctbal") > col("avg_bal"))
        .join(Table(o).filter(o("o_orderpriority") === "1-URGENT"),
          c("c_custkey") === o("o_custkey"), how = "anti")
        .mutate("cntrygrp" -> (c("c_custkey") % 7).cast("int"))
        .groupBy(col("cntrygrp"))
        .aggregate(count(lit(1)).as("numcust"), dsum(c("c_acctbal")).as("totacctbal"))
        .sort(SortKey.asc(col("cntrygrp")))
        .df
    }, Some("""
      SELECT CAST(c_custkey % 7 AS INT) AS cntrygrp, COUNT(*) AS numcust,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS totacctbal
      FROM customer
      WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY 1 ORDER BY 1"""))
  )
}
