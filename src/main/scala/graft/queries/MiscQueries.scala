package graft.queries

import org.apache.spark.sql.functions._

import graft.api.{Selectors, SortKey, Table}
import Tables._

/** Remaining-surface corpus: impure expressions, sampling, typeof, base
  * conversion, URL parsing, unix-epoch conversions, selectors, SQL
  * passthrough, IO round-trips, memtable/DummyTable. */
object MiscQueries {

  /** The pinned duckdb renderings q97f/q97g assert at runtime AND use as
    * their DuckDB oracles (PlanDecompileSpec pins the q97f text too, via
    * this constant) — a renderer formatting change is ONE coordinated
    * update here, not three scattered string edits. */
  val Q97fDuckGolden: String =
    "SELECT t0.c_nationkey, count(1) AS n, " +
      "CAST(sum(t0.c_custkey) AS BIGINT) AS s FROM customer AS t0 " +
      "WHERE ((t0.c_acctbal > CAST(100 AS DOUBLE)) AND (t0.c_mktsegment = 'BUILDING')) " +
      "GROUP BY t0.c_nationkey ORDER BY c_nationkey ASC NULLS FIRST"
  val Q97gDuckGolden: String =
    "SELECT t1.r_name, count(1) AS n_nations, max(t0.n_name) AS max_nation " +
      "FROM nation AS t0 JOIN region AS t1 ON (t0.n_regionkey = t1.r_regionkey) " +
      "GROUP BY t1.r_name ORDER BY r_name ASC NULLS FIRST"
  /** q97h: a fluent self-join over one aggregate subplan must render the
    * subplan ONCE, as a WITH CTE (round 12 — the reference's extract_ctes
    * pass, ibis/backends/sql/rewrites.py:335-347). */
  val Q97hDuckGolden: String =
    "WITH graft_cte_0 AS (SELECT t0.o_custkey, count(1) AS n, " +
      "CAST(sum(t0.o_orderkey) AS BIGINT) AS s FROM orders AS t0 " +
      "GROUP BY t0.o_custkey) " +
      "SELECT t1.o_custkey AS k, t1.n AS n1, t2.s AS s2 " +
      "FROM graft_cte_0 AS t1 JOIN graft_cte_0 AS t2 " +
      "ON ((t1.o_custkey = t2.o_custkey) AND (t1.n >= t2.n)) " +
      "ORDER BY k ASC NULLS FIRST"

  /** q97i: a plan SOURCED FROM SQL TEXT carrying an uncorrelated scalar
    * subquery renders in both dialects (round 12 — the largest previously
    * refusing class, PlanDecompile SubqueryExpression support). */
  val Q97iDuckGolden: String =
    "SELECT t0.c_custkey, t0.c_acctbal FROM customer AS t0 " +
      "WHERE (t0.c_acctbal > (SELECT avg(t1.c_acctbal) AS \"avg(c_acctbal)\" FROM customer AS t1)) " +
      "ORDER BY c_custkey ASC NULLS FIRST LIMIT 10"

  /** q97j: a CORRELATED scalar subquery (per-nation average, TPC-H
    * Q2/Q17 shape) renders too — the analyzer's OuterReference resolves
    * against the enclosing block's alias, so `t2.c_nationkey = t0
    * .c_nationkey` crosses the subquery boundary exactly as SQL scoping
    * requires. */
  val Q97jDuckGolden: String =
    "SELECT t1.n_name, t0.c_custkey, t0.c_acctbal FROM customer AS t0 " +
      "JOIN nation AS t1 ON (t0.c_nationkey = t1.n_nationkey) " +
      "WHERE (t0.c_acctbal > (SELECT avg(t2.c_acctbal) AS \"avg(c_acctbal)\" FROM customer AS t2 " +
      "WHERE (t2.c_nationkey = t0.c_nationkey))) " +
      "ORDER BY c_custkey ASC NULLS FIRST LIMIT 15"

  /** q97k: FILTER-clause aggregates (round 13 — the reference's `where=`
    * reduction argument, reference ibis/expr/operations/reductions.py:28-29
    * `Filterable`; its backend goldens render them as FILTER) decompile and
    * render in both dialects instead of poison-degrading to opaque. */
  val Q97kDuckGolden: String =
    "SELECT t0.c_nationkey, " +
      "count(1) FILTER (WHERE (t0.c_acctbal > CAST(100 AS DOUBLE))) AS n_rich, " +
      "CAST(sum(t0.c_custkey) FILTER (WHERE (t0.c_mktsegment = 'BUILDING')) AS BIGINT) AS s_bldg " +
      "FROM customer AS t0 GROUP BY t0.c_nationkey " +
      "ORDER BY c_nationkey ASC NULLS FIRST"

  /** q97l: ordered-set (WITHIN GROUP) aggregates composed with FILTER and
    * nested under round() — the exact duckdb rendering, recorded via
    * tools/RenderOne and executed by DuckDB as the oracle (ADVICE r13:
    * the rendering must BE the oracle, not a contains() probe). This path
    * goes through parse_sql (SqlDecompile.decompile), so the golden pins
    * explicit ASC/DESC + NULLS ordering inside WITHIN GROUP and the
    * FILTER composition in one string. */
  val Q97lDuckGolden: String =
    "SELECT c_nationkey, " +
      "round(percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal ASC NULLS FIRST), 4) AS med, " +
      "round(percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal DESC NULLS LAST) " +
      "FILTER (WHERE (c_mktsegment = 'BUILDING')), 4) AS p25b, " +
      "count(1) FILTER (WHERE (c_acctbal > 0)) AS n_pos " +
      "FROM customer GROUP BY c_nationkey " +
      "ORDER BY c_nationkey ASC NULLS FIRST"

  /** q97m: ordered LISTAGG-family aggregates translate to duckdb's
    * in-call ordering spelling (string_agg(x, sep ORDER BY k)), and
    * FIRST-style IGNORE NULLS to any_value — recorded via
    * tools/RenderOne, executed by DuckDB as the oracle. */
  val Q97mDuckGolden: String =
    "SELECT c_nationkey, " +
      "substring(string_agg(c_mktsegment, '|' ORDER BY c_custkey ASC NULLS FIRST), 1, 40) AS segs, " +
      "string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment ASC NULLS FIRST) AS dsegs, " +
      "any_value(CAST(c_nationkey AS STRING)) AS anyk " +
      "FROM customer GROUP BY c_nationkey " +
      "ORDER BY c_nationkey ASC NULLS FIRST"

  val defs: Seq[QueryDef] = Seq(

    // Impure expressions (ibis ops.Impure — RandomScalar/RandomUUID/
    // TimestampNow): assert SHAPE deterministically, not values.
    QueryDef("q90_impure", (s, dir) => {
      val c = customer(s, dir)
      val t = c
        .withColumn("u", expr("uuid()"))
        .withColumn("r", rand(42))
        .withColumn("rid", monotonically_increasing_id())
        .withColumn("now_ok", current_timestamp() >= lit("2020-01-01").cast("timestamp"))
      t.agg(
          count(when(col("u").rlike("^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"), 1)).as("n_valid_uuid"),
          countDistinct(col("u")).as("nd_uuid"),
          count(when(col("r") >= 0 && col("r") < 1, 1)).as("n_rand_in_range"),
          countDistinct(col("rid")).as("nd_rowid"),
          count(when(col("now_ok"), 1)).as("n_now_ok"))
    }, Some("""
      SELECT COUNT(*) AS n_valid_uuid, COUNT(*) AS nd_uuid, COUNT(*) AS n_rand_in_range,
        COUNT(*) AS nd_rowid, COUNT(*) AS n_now_ok
      FROM customer""")),

    // Sample (relations.py:485): fraction bounds via binomial tail — the
    // assertion is statistical shape, engine-seeded → counts only.
    QueryDef("q91_sample", (s, dir) => {
      val o = Table(orders(s, dir))
      val sampled = o.sample(0.2, seed = Some(42))
      sampled.aggregate(count(lit(1)).as("n_sampled")).df
        .crossJoin(o.aggregate(count(lit(1)).as("n_total")).df)
        .select((col("n_sampled") > col("n_total") * 0.1).as("lower_ok"),
          (col("n_sampled") < col("n_total") * 0.3).as("upper_ok"))
    }, Some("SELECT TRUE AS lower_ok, TRUE AS upper_ok")),

    // TypeOf (generic.py:72).
    QueryDef("q92_typeof", (s, dir) => {
      customer(s, dir).limit(1).select(
        typeof(col("c_custkey")).as("t_key"),
        typeof(col("c_name")).as("t_name"),
        typeof(col("c_acctbal")).as("t_bal"),
        typeof(array(col("c_name"))).as("t_arr"))
    }, Some("""
      SELECT 'bigint' AS t_key, 'string' AS t_name, 'double' AS t_bal,
        'array<string>' AS t_arr""")),

    // BaseConvert (numeric.py:191) + URL extraction (strings.py:316-353).
    QueryDef("q93_conv_url", (s, dir) => {
      Table(customer(s, dir))
        .filter(col("c_custkey") < 30)
        .mutate(
          "hex_key" -> conv(col("c_custkey").cast("string"), 10, 16),
          "bin_key" -> conv(col("c_custkey").cast("string"), 10, 2),
          "url" -> concat(lit("https://shop.example.com/item/"), col("c_custkey").cast("string"),
            lit("?seg="), col("c_mktsegment"), lit("#top")))
        .mutate(
          "proto" -> parse_url(col("url"), lit("PROTOCOL")),
          "host" -> parse_url(col("url"), lit("HOST")),
          "path" -> parse_url(col("url"), lit("PATH")),
          "query" -> parse_url(col("url"), lit("QUERY")),
          "frag" -> parse_url(col("url"), lit("REF")),
          "qparam" -> parse_url(col("url"), lit("QUERY"), lit("seg")))
        .selectNames("c_custkey", "hex_key", "bin_key", "proto", "host", "path",
          "query", "frag", "qparam")
        .sort(SortKey.asc(col("c_custkey")))
        .df
    }, Some("""
      SELECT c_custkey,
        UPPER(PRINTF('%x', c_custkey)) AS hex_key,
        PRINTF('%b', c_custkey) AS bin_key,
        'https' AS proto,
        'shop.example.com' AS host,
        '/item/' || c_custkey AS path,
        'seg=' || c_mktsegment AS query,
        'top' AS frag,
        c_mktsegment AS qparam
      FROM customer WHERE c_custkey < 30 ORDER BY c_custkey""")),

    // Unix-epoch conversions (TimestampFromUNIX :267, epoch extract) and
    // TimeFromHMS (emulated as seconds-since-midnight — Spark has no TIME).
    QueryDef("q94_epoch_time", (s, dir) => {
      Table(orders(s, dir))
        .filter(col("o_orderkey") < 30)
        .mutate("epoch_s" -> unix_timestamp(col("o_orderdate")))
        .mutate(
          "from_s" -> date_format(timestamp_seconds(col("epoch_s")), "yyyy-MM-dd HH:mm:ss"),
          "from_ms" -> date_format(timestamp_millis(col("epoch_s") * 1000), "yyyy-MM-dd HH:mm:ss"),
          "from_us" -> date_format(timestamp_micros(col("epoch_s") * 1000000L), "yyyy-MM-dd HH:mm:ss"),
          "hms_sec" -> (hour(col("o_orderdate")) * 3600 + minute(col("o_orderdate")) * 60
            + second(col("o_orderdate")) + lit(12 * 3600)))
        .selectNames("o_orderkey", "epoch_s", "from_s", "from_ms", "from_us", "hms_sec")
        .sort(SortKey.asc(col("o_orderkey")))
        .df
    }, Some("""
      SELECT o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        STRFTIME(MAKE_TIMESTAMP(CAST(epoch(o_orderdate) AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S') AS from_s,
        STRFTIME(MAKE_TIMESTAMP(CAST(epoch(o_orderdate) AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S') AS from_ms,
        STRFTIME(MAKE_TIMESTAMP(CAST(epoch(o_orderdate) AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S') AS from_us,
        CAST(HOUR(o_orderdate) * 3600 + MINUTE(o_orderdate) * 60 + SECOND(o_orderdate) + 43200 AS INT) AS hms_sec
      FROM orders WHERE o_orderkey < 30 ORDER BY o_orderkey""")),

    // TIME emulation round trip (round 7, DIVERGENCES §4): parse
    // "HH:mm:ss.ffffff" strings built from the nation keys into µs-of-day
    // longs (ibisfn.stringToTime), render them back with
    // TypeMapper.timeFormat — byte-identical to DuckDB's TIME→VARCHAR
    // cast (trailing fraction zeros trimmed), which is exactly what the
    // oracle states. Closes the "no visible TIME rendering" gap.
    QueryDef("q94b_time_render", (s, dir) => {
      import graft.functions.ibisfn
      import graft.types.TypeMapper
      val k = col("n_nationkey")
      val tstr = format_string("%02d:%02d:%02d.%06d",
        k % 24, (k * 7) % 60, (k * 13) % 60, (k * 123456L) % 1000000L)
      Table(nation(s, dir)).select(
        k.as("n_nationkey"),
        ibisfn.stringToTime(tstr).as("t_us"),
        TypeMapper.timeFormat(ibisfn.stringToTime(tstr)).as("t_render"),
        TypeMapper.timeFormat(lit(0L)).as("t_zero"),
        TypeMapper.timeFormat(lit(86399999999L)).as("t_max"))
        .sort(SortKey.asc(col("n_nationkey")))
        .df
    }, Some("""
      WITH t AS (
        SELECT n_nationkey,
          CAST(n_nationkey % 24 AS BIGINT) AS h,
          CAST((n_nationkey * 7) % 60 AS BIGINT) AS m,
          CAST((n_nationkey * 13) % 60 AS BIGINT) AS sec,
          (CAST(n_nationkey AS BIGINT) * 123456) % 1000000 AS us
        FROM nation)
      SELECT n_nationkey,
        CAST((h*3600 + m*60 + sec) * 1000000 + us AS BIGINT) AS t_us,
        CAST(MAKE_TIME(h, m, sec + us / 1000000.0) AS VARCHAR) AS t_render,
        '00:00:00' AS t_zero,
        '23:59:59.999999' AS t_max
      FROM t ORDER BY n_nationkey""")),

    // Selectors: numeric()/across — sum every numeric lineitem column.
    QueryDef("q95_selectors", (s, dir) => {
      val l = lineitem(s, dir)
      val sums = Selectors.across(l, Selectors.numeric,
        c => sum(c.cast("decimal(38,4)")).cast("double"))
      l.agg(sums.head, sums.tail: _*)
    }, Some("""
      SELECT
        CAST(SUM(CAST(l_orderkey AS DECIMAL(38,4))) AS DOUBLE) AS l_orderkey,
        CAST(SUM(CAST(l_partkey AS DECIMAL(38,4))) AS DOUBLE) AS l_partkey,
        CAST(SUM(CAST(l_suppkey AS DECIMAL(38,4))) AS DOUBLE) AS l_suppkey,
        CAST(SUM(CAST(l_linenumber AS DECIMAL(38,4))) AS DOUBLE) AS l_linenumber,
        CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS l_quantity,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS l_extendedprice,
        CAST(SUM(CAST(l_discount AS DECIMAL(38,4))) AS DOUBLE) AS l_discount,
        CAST(SUM(CAST(l_tax AS DECIMAL(38,4))) AS DOUBLE) AS l_tax
      FROM lineitem""")),

    // if_any/if_all selector predicates as filters.
    QueryDef("q96_if_any_all", (s, dir) => {
      val l = lineitem(s, dir)
      val anyBig = Selectors.ifAny(l, Selectors.numeric, c => c > 50000)
      val allPos = Selectors.ifAll(l, Selectors.numeric, c => c >= 0)
      l.agg(
        count(when(anyBig, 1)).as("n_any_big"),
        count(when(allPos, 1)).as("n_all_pos"))
    }, Some("""
      SELECT
        COUNT(*) FILTER (WHERE l_orderkey > 50000 OR l_partkey > 50000 OR l_suppkey > 50000
          OR l_linenumber > 50000 OR l_quantity > 50000 OR l_extendedprice > 50000
          OR l_discount > 50000 OR l_tax > 50000) AS n_any_big,
        COUNT(*) FILTER (WHERE l_orderkey >= 0 AND l_partkey >= 0 AND l_suppkey >= 0
          AND l_linenumber >= 0 AND l_quantity >= 0 AND l_extendedprice >= 0
          AND l_discount >= 0 AND l_tax >= 0) AS n_all_pos
      FROM lineitem""")),

    // parse_sql decompile (round 7, DIVERGENCES §7): SQL text → walkable
    // SqlOp tree → REWRITE (the decompiled-graph transform the reference
    // surface exists for: here the filter threshold is edited in the
    // tree) → rebuilt through the DataFrame API → composes with further
    // verbs. The oracle states the REWRITTEN query — only a genuine
    // decompile-transform-rebuild pipeline produces it from the original
    // SQL text.
    QueryDef("q97b_parse_sql_decompile", (s, dir) => {
      import graft.api.{SqlDecompile, SqlFilter, SqlOp}
      nation(s, dir).createOrReplaceTempView("nation_v")
      val op = SqlDecompile.decompile(s,
        """WITH big AS (SELECT n_regionkey, n_nationkey FROM nation_v WHERE n_nationkey > 990)
           SELECT n_regionkey, COUNT(*) AS n, SUM(n_nationkey) AS key_sum
           FROM big GROUP BY n_regionkey ORDER BY n_regionkey""")
      require(op.isFullyDecompiled, "decompile fell back to an opaque plan")
      val rewritten = op.rewrite {
        case SqlFilter(in, p) if p.contains("990") => SqlFilter(in, p.replace("990", "9"))
      }
      rewritten.table(s)
        .mutate("key_sum" -> col("key_sum").cast("long"))
        .selectNames("n_regionkey", "n", "key_sum")
        .df
    }, Some("""
      SELECT n_regionkey, COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
      FROM nation WHERE n_nationkey > 9
      GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // parse_sql decompile THROUGH a window (round 9): OVER-clause
    // queries decompile to SqlWindow (DataFrame-API render — catalyst
    // .sql can't express the frame) instead of falling opaque; the
    // rewrite reaches through the window node and the oracle states the
    // rewritten query, so only a genuine decompile-transform-rebuild of
    // the windowed plan matches.
    QueryDef("q97c_parse_sql_window", (s, dir) => {
      import graft.api.{SqlDecompile, SqlFilter, SqlWindow}
      customer(s, dir).createOrReplaceTempView("customer_v")
      val op = SqlDecompile.decompile(s,
        """SELECT c_nationkey, c_custkey,
             rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk,
             sum(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey
               ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS run
           FROM customer_v WHERE c_custkey <= 100""")
      require(op.isFullyDecompiled, "window decompile fell back to an opaque plan")
      require(op.exists { case _: SqlWindow => true; case _ => false },
        "no SqlWindow node in the decompiled tree")
      val rewritten = op.rewrite {
        case SqlFilter(in, p) if p.contains("100") => SqlFilter(in, p.replace("100", "500"))
      }
      rewritten.table(s).df
        .withColumn("rnk", col("rnk").cast("long"))
        .withColumn("run", col("run").cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy(col("c_nationkey"), col("rnk"), col("c_custkey"))
    }, Some("""
      SELECT c_nationkey, c_custkey, CAST(rnk AS BIGINT) AS rnk, CAST(run AS BIGINT) AS run
      FROM (
        SELECT c_nationkey, c_custkey,
          rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk,
          SUM(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey
            ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS run
        FROM customer WHERE c_custkey <= 500) t
      WHERE rnk <= 3
      ORDER BY c_nationkey, rnk, c_custkey""")),

    // Expression-granular decompile (round 9 — sqlglot-style
    // per-expression walkability, DIVERGENCES §7): ONE rewriteExprs pass
    // renames a column reference everywhere it appears (projection, agg
    // argument, group key, filter), swaps an aggregate function, and
    // edits a literal threshold — then rebuilds. The oracle states the
    // fully-rewritten query, so only a real per-expression transform of
    // every site produces it.
    QueryDef("q97d_parse_sql_exprs", (s, dir) => {
      import graft.api._
      supplier(s, dir).createOrReplaceTempView("supplier_v")
      val op = SqlDecompile.decompile(s,
        """SELECT s_nationkey, SUM(s_acctbal) AS m, COUNT(*) AS n
           FROM supplier_v WHERE s_suppkey > 10 GROUP BY s_nationkey
           ORDER BY s_nationkey""")
      require(op.isFullyDecompiled, "decompile fell back to an opaque plan")
      val rewritten = op.rewriteExprs {
        case SqlExprCol(Seq("s_acctbal")) => SqlExprCol(Seq("s_suppkey"))
        case SqlExprFunc("SUM", args, d) => SqlExprFunc("MAX", args, d)
        case SqlExprLit("10") => SqlExprLit("3")
      }
      rewritten.table(s)
        .mutate("m" -> col("m").cast("long"))
        .selectNames("s_nationkey", "m", "n")
        .df
    }, Some("""
      SELECT s_nationkey, CAST(MAX(s_suppkey) AS BIGINT) AS m, COUNT(*) AS n
      FROM supplier WHERE s_suppkey > 3 GROUP BY s_nationkey
      ORDER BY s_nationkey""")),

    // Table→SQL rendering (round 10 — the `ibis.to_sql` role): decompile
    // → rewrite through the round-10 WALKABLE expression nodes (BETWEEN
    // bounds, LIKE pattern) → renderSql. The Spark side EXECUTES the
    // spark-dialect rendering via spark.sql; the ORACLE IS the
    // duckdb-dialect rendering verbatim (SqlDecompileSpec pins the
    // rendered text to this string), so the driver's DuckDB run proves
    // the rendered SQL executes elsewhere and values match the engine.
    QueryDef("q97e_render_sql", (s, dir) => {
      import graft.api._
      customer(s, dir).createOrReplaceTempView("customer")
      val op = SqlDecompile.decompile(s,
        """SELECT c_nationkey, COUNT(*) AS n, CAST(SUM(c_custkey) AS BIGINT) AS s
           FROM customer
           WHERE c_custkey BETWEEN 10 AND 5000 AND c_name LIKE '%1%'
             AND c_name IS NOT NULL
           GROUP BY c_nationkey
           HAVING COUNT(*) >= 1
           ORDER BY c_nationkey""")
      require(op.isFullyDecompiled, "decompile fell back to an opaque plan")
      val rewritten = op.rewriteExprs {
        case SqlExprBetween(v, SqlExprLit("10"), hi, neg) =>
          SqlExprBetween(v, SqlExprLit("3"), hi, neg)
        case SqlExprLike("LIKE", v, SqlExprLit("'%1%'")) =>
          SqlExprLike("LIKE", v, SqlExprLit("'%2%'"))
      }
      s.sql(rewritten.renderSql())
    }, Some("""
      SELECT c_nationkey, COUNT(1) AS n, CAST(SUM(c_custkey) AS BIGINT) AS s FROM customer WHERE (((c_custkey BETWEEN 3 AND 5000) AND (c_name LIKE '%2%')) AND (c_name IS NOT NULL)) GROUP BY c_nationkey HAVING (COUNT(1) >= 1) ORDER BY c_nationkey ASC NULLS FIRST""")),

    // Composed-Table→SQL (round 11 — full `ibis.to_sql` parity, reference
    // ibis/expr/sql.py:to_sql on ANY expression): a table built ONLY
    // through the fluent API decompiles (api/PlanDecompile) and renders.
    // The Spark side EXECUTES the spark-dialect rendering via spark.sql;
    // the ORACLE IS the duckdb-dialect rendering verbatim (pinned both
    // here and in PlanDecompileSpec), so the driver's DuckDB run proves a
    // fluent plan's rendered SQL executes elsewhere and values match.
    QueryDef("q97f_render_fluent", (s, dir) => {
      val df = customer(s, dir)
        .filter(col("c_acctbal") > 100 && col("c_mktsegment") === "BUILDING")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).cast("bigint").as("s"))
        .orderBy(col("c_nationkey"))
      val t = new graft.api.Table(df)
      val duck = t.renderSql("duckdb")
      require(duck == Q97fDuckGolden,
        s"fluent duckdb rendering drifted from the recorded oracle:\n$duck")
      customer(s, dir).createOrReplaceTempView("customer")
      s.sql(t.renderSql())
    }, Some(Q97fDuckGolden)),

    // Composed-Table→SQL across a JOIN (round 11): fresh t0/t1 leaf
    // aliases keep both sides' columns unambiguous; same oracle-is-the-
    // rendering mechanism as q97f.
    QueryDef("q97g_render_fluent_join", (s, dir) => {
      val n = nation(s, dir); val r = region(s, dir)
      val df = n.join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"), max(col("n_name")).as("max_nation"))
        .orderBy(col("r_name"))
      val t = new graft.api.Table(df)
      val duck = t.renderSql("duckdb")
      require(duck == Q97gDuckGolden,
        s"fluent-join duckdb rendering drifted from the recorded oracle:\n$duck")
      nation(s, dir).createOrReplaceTempView("nation")
      region(s, dir).createOrReplaceTempView("region")
      s.sql(t.renderSql())
    }, Some(Q97gDuckGolden)),

    // CTE extraction (round 12): a self-joined aggregate subplan lifts
    // into ONE WITH body — the oracle IS the duckdb rendering, so the
    // driver's DuckDB run proves the CTE form executes elsewhere and
    // matches the engine's values (the q97f mechanism).
    QueryDef("q97h_render_cte", (s, dir) => {
      val totals = orders(s, dir).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).cast("bigint").as("s"))
      val j = totals.alias("a").join(totals.alias("b"),
          col("a.o_custkey") === col("b.o_custkey") && col("a.n") >= col("b.n"))
        .select(col("a.o_custkey").as("k"), col("a.n").as("n1"), col("b.s").as("s2"))
        .orderBy(col("k"))
      val t = new graft.api.Table(j)
      val duck = t.renderSql("duckdb")
      require(duck == Q97hDuckGolden,
        s"CTE duckdb rendering drifted from the recorded oracle:\n$duck")
      orders(s, dir).createOrReplaceTempView("orders")
      s.sql(t.renderSql())
    }, Some(Q97hDuckGolden)),

    // Subquery-expression rendering (round 12): a plan built FROM SQL TEXT
    // (spark.sql) with an uncorrelated scalar subquery decompiles and
    // renders instead of refusing — the oracle IS the duckdb rendering
    // (the q97f mechanism), so DuckDB executes the rendered text and must
    // match the engine running the rendered spark text.
    QueryDef("q97i_render_subquery", (s, dir) => {
      customer(s, dir).createOrReplaceTempView("customer")
      val plan = s.sql(
        """SELECT c_custkey, c_acctbal FROM customer
          |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
          |ORDER BY c_custkey LIMIT 10""".stripMargin)
      val t = new graft.api.Table(plan)
      val duck = t.renderSql("duckdb")
      require(duck == Q97iDuckGolden,
        s"subquery duckdb rendering drifted from the recorded oracle:\n$duck")
      s.sql(t.renderSql())
    }, Some(Q97iDuckGolden)),

    // Correlated subquery rendering (round 12): the scalar subquery's
    // WHERE references the OUTER query's alias — DuckDB executes the
    // rendered text as the oracle, the engine executes the rendered
    // spark text, and both must value-match.
    QueryDef("q97j_render_correlated", (s, dir) => {
      customer(s, dir).createOrReplaceTempView("customer")
      nation(s, dir).createOrReplaceTempView("nation")
      val plan = s.sql(
        """SELECT n_name, c_custkey, c_acctbal FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
          |                   WHERE c2.c_nationkey = customer.c_nationkey)
          |ORDER BY c_custkey LIMIT 15""".stripMargin)
      val t = new graft.api.Table(plan)
      val duck = t.renderSql("duckdb")
      require(duck == Q97jDuckGolden,
        s"correlated-subquery duckdb rendering drifted from the recorded oracle:\n$duck")
      s.sql(t.renderSql())
    }, Some(Q97jDuckGolden)),

    // FILTER-clause aggregate rendering (round 13): a SQL-sourced plan
    // whose aggregates carry FILTER (WHERE …) — the reference's `where=`
    // reduction — decompiles and renders in both dialects; previously the
    // modifier poison-degraded to opaque. The oracle IS the duckdb
    // rendering (the q97f mechanism), and the parse_sql path is covered
    // by the fuzz grammar + SqlDecompileSpec.
    QueryDef("q97k_render_agg_filter", (s, dir) => {
      customer(s, dir).createOrReplaceTempView("customer")
      val plan = s.sql(
        """SELECT c_nationkey,
          |  count(*) FILTER (WHERE c_acctbal > 100) AS n_rich,
          |  CAST(sum(c_custkey) FILTER (WHERE c_mktsegment = 'BUILDING') AS BIGINT) AS s_bldg
          |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
      val t = new graft.api.Table(plan)
      val duck = t.renderSql("duckdb")
      require(duck == Q97kDuckGolden,
        s"agg-FILTER duckdb rendering drifted from the recorded oracle:\n$duck")
      s.sql(t.renderSql())
    }, Some(Q97kDuckGolden)),

    // Ordered-set aggregates through parse_sql (round 13): WITHIN GROUP
    // percentiles — composed with FILTER and nested under round() so the
    // modifier rides inside a composite expression (the RawSqlLeaf splice
    // path) — decompile to walkable nodes, rebuild, and execute; the
    // duckdb dialect shares the percentile spelling (asserted at run
    // time). Values rounded to 4 decimals on both sides (the q34 rule:
    // interpolated percentiles differ in the last ulp across engines).
    QueryDef("q97l_within_group", (s, dir) => {
      customer(s, dir).createOrReplaceTempView("customer")
      val op = graft.api.SqlDecompile.decompile(s,
        """SELECT c_nationkey,
          |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal), 4) AS med,
          |  round(percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal DESC)
          |    FILTER (WHERE c_mktsegment = 'BUILDING'), 4) AS p25b,
          |  count(*) FILTER (WHERE c_acctbal > 0) AS n_pos
          |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
      require(op.isFullyDecompiled, "WITHIN GROUP shapes must stay walkable")
      val duck = op.renderSql("duckdb")
      require(duck == Q97lDuckGolden,
        s"WITHIN GROUP duckdb rendering drifted from the recorded oracle:\n$duck")
      op.table(s).df
    }, Some(Q97lDuckGolden)),

    // Ordered LISTAGG-family + FIRST-IGNORE NULLS duckdb translation
    // (round 14, verdict r13 #4): the ordering moves INSIDE duckdb's
    // call — string_agg(x, sep ORDER BY k) — instead of refusing; the
    // reference's GroupConcat(order_by=…) (reductions.py:82) round-trips
    // to duckdb text. Deterministic: ordered by the unique c_custkey /
    // by the aggregated value itself, and the IGNORE NULLS column is
    // constant per group. The oracle IS the duckdb rendering.
    QueryDef("q97m_render_ordered_listagg", (s, dir) => {
      customer(s, dir).createOrReplaceTempView("customer")
      val op = graft.api.SqlDecompile.decompile(s,
        """SELECT c_nationkey,
          |  substring(listagg(c_mktsegment, '|') WITHIN GROUP (ORDER BY c_custkey), 1, 40) AS segs,
          |  listagg(DISTINCT c_mktsegment, ',') WITHIN GROUP (ORDER BY c_mktsegment) AS dsegs,
          |  first(cast(c_nationkey AS string)) IGNORE NULLS AS anyk
          |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
      require(op.isFullyDecompiled, "ordered-listagg shapes must stay walkable")
      val duck = op.renderSql("duckdb")
      require(duck == Q97mDuckGolden,
        s"ordered-listagg duckdb rendering drifted from the recorded oracle:\n$duck")
      op.table(s).df
    }, Some(Q97mDuckGolden)),

    // SQL passthrough (Table.sql / ibis SQLStringView).
    QueryDef("q97_sql_passthrough", (s, dir) => {
      Table(nation(s, dir)).sql(
        "SELECT n_regionkey, COUNT(*) AS n FROM nations GROUP BY n_regionkey ORDER BY n_regionkey",
        alias = "nations").df
    }, Some("""
      SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // IO round-trip: to_parquet/read_parquet, to_csv/read_csv, to_json/
    // read_json (backends/pyspark/__init__.py:838-1014) — written under
    // target/ (inside the repo), counts must survive all three formats.
    QueryDef("q98_io_roundtrip", (s, dir) => {
      val base = "/root/repo/target/io_roundtrip"
      val n = Table(nation(s, dir))
      n.toParquet(s"$base/parquet")
      n.toCsv(s"$base/csv")
      n.toJson(s"$base/json")
      n.toOrc(s"$base/orc")
      val p = Table.readParquet(s, s"$base/parquet").aggregate(count(lit(1)).as("n_parquet")).df
      val c = Table.readCsv(s, s"$base/csv").aggregate(count(lit(1)).as("n_csv")).df
      val j = Table.readJson(s, s"$base/json").aggregate(count(lit(1)).as("n_json")).df
      val o = Table.readOrc(s, s"$base/orc").aggregate(count(lit(1)).as("n_orc")).df
      p.crossJoin(c).crossJoin(j).crossJoin(o)
    }, Some("""
      SELECT COUNT(*) AS n_parquet, COUNT(*) AS n_csv, COUNT(*) AS n_json,
        COUNT(*) AS n_orc FROM nation""")),

    // Native Delta round trip (sources/DeltaRead+DeltaWrite — the public
    // transaction-log protocol, no delta-spark jar): overwrite, append,
    // overwrite again, then read BOTH the latest version and a
    // time-travel version; the oracle predicts all four numbers from the
    // same nation/region inputs.
    QueryDef("q98b_delta_roundtrip", (s, dir) => {
      val base = "/root/repo/target/delta_roundtrip"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      val n = Table(nation(s, dir)).selectNames("n_nationkey", "n_name")
      val r = Table(region(s, dir)).selectNames("r_regionkey", "r_name")
        .rename("r_regionkey" -> "n_nationkey", "r_name" -> "n_name")
      n.toDelta(base)                                        // v0: nations
      r.toDelta(base, org.apache.spark.sql.SaveMode.Append)  // v1: + regions
      n.toDelta(base)                                        // v2: nations only
      val latest = Table.readDelta(s, base).df
        .agg(count(lit(1)).as("n_latest"),
          sum(col("n_nationkey")).cast("long").as("key_sum"))
      val v1 = Table.readDelta(s, base, asOfVersion = Some(1L)).df
        .agg(count(lit(1)).as("n_v1"))
      val v0 = Table.readDelta(s, base, asOfVersion = Some(0L)).df
        .agg(count(lit(1)).as("n_v0"))
      latest.crossJoin(v1).crossJoin(v0)
    }, Some("""
      SELECT
        (SELECT COUNT(*) FROM nation) AS n_latest,
        (SELECT CAST(SUM(n_nationkey) AS BIGINT) FROM nation) AS key_sum,
        (SELECT COUNT(*) FROM nation) + (SELECT COUNT(*) FROM region) AS n_v1,
        (SELECT COUNT(*) FROM nation) AS n_v0""")),

    // Native Delta PARTITIONED round trip (round-7): hive-style dirs +
    // per-add partitionValues, append into matching partitioning, then a
    // read whose partition column is reconstructed from the add actions
    // (and cast back to its schema type) plus a partition-pruned filter.
    QueryDef("q98c_delta_partitioned", (s, dir) => {
      val base = "/root/repo/target/delta_partitioned"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      val n = Table(nation(s, dir)).selectNames("n_nationkey", "n_name", "n_regionkey")
      n.toDelta(base, partitionBy = Seq("n_regionkey"))          // v0: partitioned
      n.filter(col("n_regionkey") === 0)                         // v1: + region-0 again
        .toDelta(base, org.apache.spark.sql.SaveMode.Append, partitionBy = Seq("n_regionkey"))
      val latest = Table.readDelta(s, base).df
      val totals = latest.agg(count(lit(1)).as("n_latest"),
        sum(col("n_nationkey")).cast("long").as("key_sum"))
      val pruned = latest.filter(col("n_regionkey") === 1)
        .agg(count(lit(1)).as("n_r1"))
      totals.crossJoin(pruned)
    }, Some("""
      SELECT
        (SELECT COUNT(*) FROM nation) +
          (SELECT COUNT(*) FROM nation WHERE n_regionkey = 0) AS n_latest,
        CAST((SELECT SUM(n_nationkey) FROM nation) +
          (SELECT SUM(n_nationkey) FROM nation WHERE n_regionkey = 0) AS BIGINT) AS key_sum,
        (SELECT COUNT(*) FROM nation WHERE n_regionkey = 1) AS n_r1""")),

    // Native Delta DELETION VECTORS (round 9, protocol v3): a DV-writing
    // DELETE (DeltaWrite.deleteWhere) marks rows dead in roaring-bitmap
    // sidecars without rewriting any data file; a second DELETE merges
    // into the existing DVs; the read side drops marked rows via
    // _metadata.row_index. Latest state, both pre-delete time-travel
    // versions and the value sums are all recomputed by the oracle from
    // the same supplier input — a mis-decoded bitmap or off-by-one row
    // index breaks the hash.
    QueryDef("q98f_delta_delete", (s, dir) => {
      // fresh per-run temp dir (no fixed path, no cross-run races); must
      // outlive this builder — the DataFrame reads it lazily
      val base = java.nio.file.Files.createTempDirectory("graft_delta_dv")
        .toFile.getAbsolutePath
      val sup = Table(supplier(s, dir))
        .selectNames("s_suppkey", "s_nationkey", "s_acctbal")
      sup.toDelta(base)                                              // v0
      graft.sources.DeltaWrite.deleteWhere(s, base,
        col("s_suppkey") % 3 === 0)                                  // v1: DV delete
      graft.sources.DeltaWrite.deleteWhere(s, base,
        col("s_nationkey") < 5)                                      // v2: merges DVs
      val latest = Table.readDelta(s, base).df
        .agg(count(lit(1)).as("n_latest"),
          sum(col("s_suppkey")).cast("long").as("key_sum"),
          sum(col("s_acctbal").cast("decimal(38,4)")).cast("double").as("bal_sum"))
      val v1 = Table.readDelta(s, base, asOfVersion = Some(1L)).df
        .agg(count(lit(1)).as("n_v1"))
      val v0 = Table.readDelta(s, base, asOfVersion = Some(0L)).df
        .agg(count(lit(1)).as("n_v0"))
      latest.crossJoin(v1).crossJoin(v0)
    }, Some("""
      SELECT
        (SELECT COUNT(*) FROM supplier
          WHERE s_suppkey % 3 <> 0 AND s_nationkey >= 5) AS n_latest,
        (SELECT CAST(SUM(s_suppkey) AS BIGINT) FROM supplier
          WHERE s_suppkey % 3 <> 0 AND s_nationkey >= 5) AS key_sum,
        (SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(38,4))) AS DOUBLE) FROM supplier
          WHERE s_suppkey % 3 <> 0 AND s_nationkey >= 5) AS bal_sum,
        (SELECT COUNT(*) FROM supplier WHERE s_suppkey % 3 <> 0) AS n_v1,
        (SELECT COUNT(*) FROM supplier) AS n_v0""")),

    // Native Delta UPDATE + OPTIMIZE (round 9): copy-on-write updateWhere
    // rewrites only touched files (reading THROUGH the DVs a prior DELETE
    // left, so dead rows neither resurrect nor update), then compact
    // bin-packs the survivors with dataChange=false and physically drops
    // DV'd rows. The oracle recomputes the post-delete-post-update state
    // and both time-travel points from the same supplier input with CASE
    // arithmetic — a wrong rewrite, a resurrected row, or a compaction
    // that loses/duplicates anything breaks the hash.
    QueryDef("q98g_delta_update_compact", (s, dir) => {
      // a fresh per-run temp dir (no fixed path, no cross-run races); it
      // must OUTLIVE this builder — the returned DataFrame reads the Delta
      // files lazily when the caller materializes it
      val base = java.nio.file.Files.createTempDirectory("graft_delta_upd").toFile
      locally {
        val p = base.getAbsolutePath
        Table(supplier(s, dir))
          .selectNames("s_suppkey", "s_nationkey", "s_acctbal").toDelta(p) // v0
        graft.sources.DeltaWrite.deleteWhere(s, p,
          col("s_suppkey") % 4 === 0)                                      // v1: DV
        graft.sources.DeltaWrite.updateWhere(s, p,
          col("s_nationkey") < 10,
          Map("s_acctbal" -> (col("s_acctbal") + lit(1000)),
              "s_nationkey" -> (col("s_nationkey") + lit(100))))           // v2: CoW
        graft.sources.DeltaWrite.compact(s, p)                             // v3
        val latest = Table.readDelta(s, p).df
          .agg(count(lit(1)).as("n_latest"),
            sum(col("s_nationkey")).cast("long").as("nat_sum"),
            sum(col("s_acctbal").cast("decimal(38,4)")).cast("double").as("bal_sum"))
        val v2 = Table.readDelta(s, p, asOfVersion = Some(2L)).df
          .agg(sum(col("s_nationkey")).cast("long").as("nat_v2"))
        val v1 = Table.readDelta(s, p, asOfVersion = Some(1L)).df
          .agg(sum(col("s_nationkey")).cast("long").as("nat_v1"),
            count(lit(1)).as("n_v1"))
        latest.crossJoin(v2).crossJoin(v1)
      }
    }, Some("""
      WITH live AS (SELECT * FROM supplier WHERE s_suppkey % 4 <> 0),
      upd AS (
        SELECT s_suppkey,
          CASE WHEN s_nationkey < 10 THEN s_nationkey + 100 ELSE s_nationkey END AS nat,
          CASE WHEN s_nationkey < 10
            THEN CAST(s_acctbal AS DECIMAL(38,4)) + 1000
            ELSE CAST(s_acctbal AS DECIMAL(38,4)) END AS bal
        FROM live)
      SELECT
        (SELECT COUNT(*) FROM upd) AS n_latest,
        (SELECT CAST(SUM(nat) AS BIGINT) FROM upd) AS nat_sum,
        (SELECT CAST(SUM(bal) AS DOUBLE) FROM upd) AS bal_sum,
        (SELECT CAST(SUM(nat) AS BIGINT) FROM upd) AS nat_v2,
        (SELECT CAST(SUM(s_nationkey) AS BIGINT) FROM live) AS nat_v1,
        (SELECT COUNT(*) FROM live) AS n_v1""")),

    // Native Delta MERGE (round 9): one upsert commit updates matched
    // suppliers from a derived source, deletes matched rows failing the
    // update gate, and inserts source rows with no target match — then
    // the result AND the pre-merge version are aggregated. The oracle
    // rebuilds the merged state in SQL (CASE + anti-join UNION) from the
    // same supplier input, so a wrong clause gate, a lost insert, or a
    // resurrected delete breaks the hash.
    QueryDef("q98h_delta_merge", (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_delta_mrg").toFile
      val p = base.getAbsolutePath
      Table(supplier(s, dir))
        .selectNames("s_suppkey", "s_nationkey", "s_acctbal").toDelta(p) // v0
      // source: every 2nd supplier with doubled balance, plus NEW keys
      // offset past the existing range
      val sup = supplier(s, dir)
      val src = sup.filter(col("s_suppkey") % 2 === 0)
        .select(col("s_suppkey").as("k"),
          (col("s_acctbal") * 2).as("newbal"), col("s_nationkey").as("nk"))
        .unionByName(sup.filter(col("s_suppkey") % 7 === 0)
          .select((col("s_suppkey") + 1000000).as("k"),
            col("s_acctbal").as("newbal"), col("s_nationkey").as("nk")))
      graft.sources.DeltaWrite.merge(s, p, src,
        on = col("t.s_suppkey") === col("s.k"),
        whenMatchedUpdate = Some(Map("s_acctbal" -> col("s.newbal"))),
        matchedCondition = Some(col("s.nk") >= 5),   // update gate
        whenMatchedDelete = Some(col("s.nk") < 5),   // gated-out matches die
        whenNotMatchedInsert = Some(Map(
          "s_suppkey" -> col("s.k"), "s_nationkey" -> col("s.nk"),
          "s_acctbal" -> col("s.newbal"))))                              // v1
      val latest = Table.readDelta(s, p).df
        .agg(count(lit(1)).as("n_latest"),
          sum(col("s_suppkey")).cast("long").as("key_sum"),
          sum(col("s_acctbal").cast("decimal(38,4)")).cast("double").as("bal_sum"))
      val v0 = Table.readDelta(s, p, asOfVersion = Some(0L)).df
        .agg(count(lit(1)).as("n_v0"))
      latest.crossJoin(v0)
    }, Some("""
      WITH merged AS (
        SELECT s_suppkey,
          CASE WHEN s_suppkey % 2 = 0 AND s_nationkey >= 5
            THEN CAST(s_acctbal AS DECIMAL(38,4)) * 2
            ELSE CAST(s_acctbal AS DECIMAL(38,4)) END AS bal
        FROM supplier
        WHERE NOT (s_suppkey % 2 = 0 AND s_nationkey < 5)   -- gated deletes
        UNION ALL
        SELECT s_suppkey + 1000000 AS s_suppkey,
          CAST(s_acctbal AS DECIMAL(38,4)) AS bal
        FROM supplier WHERE s_suppkey % 7 = 0                -- inserts
      )
      SELECT
        (SELECT COUNT(*) FROM merged) AS n_latest,
        (SELECT CAST(SUM(s_suppkey) AS BIGINT) FROM merged) AS key_sum,
        (SELECT CAST(SUM(bal) AS DOUBLE) FROM merged) AS bal_sum,
        (SELECT COUNT(*) FROM supplier) AS n_v0""")),

    // Native Delta COLUMN-MAPPED DML (round 10): a name-mode mapped table
    // is hand-crafted from nation (files speak a PHYSICAL namespace,
    // metaData maps it to logical key/reg), then UPDATE, MERGE
    // (update+insert), APPEND and COMPACT all run through the native
    // writer — which physicalizes names and stamps parquet field ids —
    // and the final logical read is predicted by the oracle from nation
    // alone. Any mapping slip (logical-named file, wrong physical name,
    // lost field) reads back null and breaks the hash.
    QueryDef("q98i_delta_column_mapping", (s, dir) => {
      import org.apache.spark.sql.types._
      val base = java.nio.file.Files.createTempDirectory("graft_delta_cmq").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(base) // reaped at JVM exit
      val p = base.getAbsolutePath
      val src = nation(s, dir).select(col("n_nationkey"), col("n_regionkey"))
      val keyT = src.schema("n_nationkey").dataType
      val regT = src.schema("n_regionkey").dataType
      src.select(col("n_nationkey").as("p-key"), col("n_regionkey").as("p-reg"))
        .coalesce(1).write.parquet(p + "/stage")
      val part = Option(new java.io.File(p + "/stage").listFiles()).get
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(base, "part-0.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p + "/stage"))
      def fm(id: Long, phys: String) = new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build()
      val logical = StructType(Seq(
        StructField("key", keyT, nullable = true, fm(1, "p-key")),
        StructField("reg", regT, nullable = true, fm(2, "p-reg"))))
      val logDir = new java.io.File(base, "_delta_log"); logDir.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(logDir, f"${0L}%020d.json").toPath,
        (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"cmq","format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":${graft.SparkEntry.jsonString(logical.json)},"partitionColumns":[],""" +
            s""""configuration":{"delta.columnMapping.mode":"name",""" +
            s""""delta.columnMapping.maxColumnId":"2"}}}""",
          """{"add":{"path":"part-0.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
        ).mkString("\n") + "\n").getBytes("UTF-8"))

      graft.sources.DeltaWrite.updateWhere(s, p, col("key") < 5,
        Map("reg" -> (col("reg") + 100)))                              // v1
      val mSrc = nation(s, dir)
        .select(col("n_nationkey").as("k"), col("n_regionkey").as("r"))
        .filter(col("k") >= 20 || col("k") < 3)
        .withColumn("k", when(col("k") < 3, col("k") + 1000).otherwise(col("k")))
      graft.sources.DeltaWrite.merge(s, p, mSrc,
        on = col("t.key") === col("s.k"),
        whenMatchedUpdate = Some(Map("reg" -> lit(-1))),
        whenNotMatchedInsert = Some(Map(
          "key" -> col("s.k"), "reg" -> col("s.r"))))                  // v2
      val extra = s.range(2).select(
        (col("id") + 9001).cast(keyT).as("key"), col("id").cast(regT).as("reg"))
      Table(extra).toDelta(p, org.apache.spark.sql.SaveMode.Append)    // v3
      graft.sources.DeltaWrite.compact(s, p)                           // v4 (no logical change)
      // round 11 — SCHEMA EVOLUTION on the mapped table: ADD COLUMN gets
      // a fresh column id (metadata-only commit), pre-evolution rows read
      // back null, and a post-evolution append physicalizes all three
      graft.sources.DeltaWrite.addColumns(s, p, Seq(
        StructField("bonus", LongType, nullable = true)))              // v5
      val late = s.range(2).select(
        (col("id") + 9101).cast(keyT).as("key"),
        col("id").cast(regT).as("reg"),
        (col("id") * 5 + 5).as("bonus"))
      Table(late).toDelta(p, org.apache.spark.sql.SaveMode.Append)     // v6
      Table.readDelta(s, p).df
        .agg(count(lit(1)).as("n"),
          sum(col("key")).cast("long").as("key_sum"),
          sum(col("reg")).cast("long").as("reg_sum"),
          sum(coalesce(col("bonus"), lit(0L))).cast("long").as("bonus_sum"))
    }, Some("""
      WITH updated AS (
        SELECT n_nationkey AS key,
          CASE WHEN n_nationkey < 5 THEN n_regionkey + 100
               ELSE n_regionkey END AS reg
        FROM nation),
      merged AS (
        SELECT key, CASE WHEN key >= 20 THEN -1 ELSE reg END AS reg FROM updated
        UNION ALL
        SELECT n_nationkey + 1000, n_regionkey FROM nation WHERE n_nationkey < 3
        UNION ALL SELECT 9001, 0 UNION ALL SELECT 9002, 1),
      evolved AS (
        SELECT key, reg, 0 AS bonus FROM merged
        UNION ALL SELECT 9101, 0, 5 UNION ALL SELECT 9102, 1, 10)
      SELECT COUNT(*) AS n,
        CAST(SUM(key) AS BIGINT) AS key_sum,
        CAST(SUM(reg) AS BIGINT) AS reg_sum,
        CAST(SUM(bonus) AS BIGINT) AS bonus_sum
      FROM evolved""")),

    // Arrow IPC ROUND-TRIP (interop/ArrowExport + ArrowImport — the
    // reference's Arrow-first contract both directions): a frame carrying
    // decimals, token arrays, structs and maps is exported as an Arrow
    // IPC stream file, imported back, and aggregated; the oracle
    // recomputes every number from the parquet source directly, so any
    // transport corruption (offsets, validity, nesting) breaks the hash.
    QueryDef("q98d_arrow_roundtrip", (s, dir) => {
      // a fresh temp file per invocation: no absolute-path assumption,
      // no race between concurrent query runs
      val tmp = java.nio.file.Files.createTempFile("graft_arrow_rt", ".arrows")
      tmp.toFile.deleteOnExit()
      val path = tmp.toString
      val sup = supplier(s, dir).select(
        col("s_suppkey"), col("s_nationkey"),
        col("s_acctbal").cast("decimal(15,2)").as("bal"),
        split(col("s_name"), "#").as("toks"),
        struct(col("s_name").as("name"), col("s_suppkey").as("key")).as("meta"),
        map(lit("bal"), col("s_acctbal")).as("m"))
      Table(sup).toArrowFile(path, maxRecordsPerBatch = 7) // force multi-batch
      val back =
        try Table.fromArrowFile(s, path).df
        finally java.nio.file.Files.deleteIfExists(tmp)
      back.groupBy(col("s_nationkey").as("nk")).agg(
          count(lit(1)).as("n"),
          sum(col("bal").cast("decimal(38,4)")).cast("double").as("bal_sum"),
          sum(size(col("toks"))).as("tok_n"),
          max(col("meta.name")).as("max_name"),
          sum(element_at(col("m"), "bal").cast("decimal(38,4)")).cast("double").as("map_sum"))
        .orderBy(col("nk"))
    }, Some("""
      SELECT s_nationkey AS nk, COUNT(*) AS n,
        CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(15,2)) AS DECIMAL(38,4))) AS DOUBLE) AS bal_sum,
        CAST(SUM(LEN(STR_SPLIT(s_name, '#'))) AS BIGINT) AS tok_n,
        MAX(s_name) AS max_name,
        CAST(SUM(CAST(s_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS map_sum
      FROM supplier GROUP BY 1 ORDER BY 1""")),

    // ARROW1 random-access IPC FILE layout round-trip (round 9 — the
    // OTHER interchange layout pyarrow.ipc.new_file / feather v2
    // produces): export through ArrowFileWriter, re-import through the
    // magic-sniffing reader, and aggregate; the oracle recomputes from
    // the parquet source, so footer/block-index corruption breaks it.
    QueryDef("q98e_arrow_ipc_file", (s, dir) => {
      val tmp = java.nio.file.Files.createTempFile("graft_arrow_ipcq", ".arrow")
      tmp.toFile.deleteOnExit()
      val cust = customer(s, dir).select(
        col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("decimal(15,2)").as("bal"),
        struct(col("c_name").as("name"), col("c_custkey").as("key")).as("meta"),
        split(col("c_name"), "#").as("toks"))
      Table(cust).toArrowIpcFile(tmp.toString, maxRecordsPerBatch = 11)
      val back =
        try Table.fromArrowFile(s, tmp.toString).df
        finally java.nio.file.Files.deleteIfExists(tmp)
      back.groupBy((col("c_nationkey") % 5).as("ng")).agg(
          count(lit(1)).as("n"),
          sum(col("bal").cast("decimal(38,4)")).cast("double").as("bal_sum"),
          max(col("meta.name")).as("max_name"),
          sum(size(col("toks"))).as("tok_n"))
        .orderBy(col("ng"))
    }, Some("""
      SELECT c_nationkey % 5 AS ng, COUNT(*) AS n,
        CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(15,2)) AS DECIMAL(38,4))) AS DOUBLE) AS bal_sum,
        MAX(c_name) AS max_name,
        CAST(SUM(LEN(STR_SPLIT(c_name, '#'))) AS BIGINT) AS tok_n
      FROM customer GROUP BY 1 ORDER BY 1""")),

    // memtable (InMemoryTable) + DummyTable (1-row literals).
    QueryDef("q99_memtable", (s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val mem = Table.memtable(s,
        Seq(Row(1L, "alpha"), Row(2L, "beta"), Row(3L, "gamma")),
        StructType(Seq(StructField("id", LongType), StructField("name", StringType))))
      val dummy = s.range(1).select(lit(42).as("answer"), lit("x").as("tag"))
      mem.df.crossJoin(dummy)
        .select(col("id"), col("name"), col("answer"), col("tag"))
        .orderBy(col("id"))
    }, Some("""
      SELECT CAST(id AS BIGINT) AS id, name, 42 AS answer, 'x' AS tag
      FROM (VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma')) AS t(id, name)
      ORDER BY id""")),

    // Catalog verbs (round 10; reference create_table/create_view/
    // list_tables/rename_table, backends/pyspark/__init__.py:387,621,
    // 701,740): persist nation as a MANAGED catalog table via
    // saveAsTable, rename it, list it back through a like-regex, stack a
    // temp view on it, and read everything by NAME — the oracle predicts
    // every number from the nation parquet the table was created from.
    QueryDef("q100_catalog", (s, dir) => {
      import graft.api.Catalog
      val suffix = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val tname = s"graft_cat_nation_$suffix"
      val t2 = s"${tname}_renamed"
      val vname = s"graft_cat_view_$suffix"
      Catalog.dropTable(s, tname, force = true)
      Catalog.dropTable(s, t2, force = true)
      // a PREVIOUS session's managed-table dirs survive in the warehouse
      // while the in-memory catalog forgets them — rename would collide
      // with the stale location, so clear both physically too
      locally {
        val whUri = java.net.URI.create(s.conf.get("spark.sql.warehouse.dir"))
        val wh = new java.io.File(
          if (whUri.getPath != null && whUri.getScheme != null) whUri.getPath
          else s.conf.get("spark.sql.warehouse.dir"))
        Seq(tname, t2).foreach(n =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh, n)))
      }
      Catalog.createTable(tname, Table(nation(s, dir)), overwrite = true)
      Catalog.renameTable(s, tname, t2)
      val listed = Catalog.listTables(s, like = Some(s"graft_cat_nation_$suffix.*")).size
      Catalog.createView(vname,
        Catalog.table(s, t2).filter(col("n_regionkey") === 0), overwrite = true)
      val viaSql = s.sql(s"SELECT COUNT(*) AS n_view FROM $vname")
      Catalog.table(s, t2).df
        .agg(count(lit(1)).as("n_table"),
          sum(col("n_nationkey")).cast("long").as("key_sum"))
        .crossJoin(viaSql)
        .withColumn("n_listed", lit(listed))
    }, Some("""
      SELECT
        (SELECT COUNT(*) FROM nation) AS n_table,
        (SELECT CAST(SUM(n_nationkey) AS BIGINT) FROM nation) AS key_sum,
        (SELECT COUNT(*) FROM nation WHERE n_regionkey = 0) AS n_view,
        1 AS n_listed"""))
  )
}
