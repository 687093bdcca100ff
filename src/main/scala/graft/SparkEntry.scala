package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The query corpus lives in graft.queries.*; each domain object contributes
  * QueryDefs (engine query + optional DuckDB oracle SQL). */
object SparkEntry {

  def allDefs: Seq[QueryDef] =
    RelationalQueries.defs ++ CoverageQueries.defs ++ AggregationQueries.defs ++
      ScalarQueries.defs ++ ComplexTypeQueries.defs ++ PipelineQueries.defs ++
      StreamingQueries.defs ++ MiscQueries.defs ++ TpchQueries.defs ++ TpchQueries2.defs ++
      TpcdsQueries.defs ++ TpcdsQueries2.defs ++ TpcdsQueries3.defs ++ TpcdsQueries4.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.defs.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case QueryDef(n, _, Some(sql)) => n -> sql.trim }.toMap

  /** The benchmark's headline queries, one per cost shape: scan+agg,
    * multi-join, window, asof (compact runs+probe), set-op distinct, LSH
    * dedup, ANN topk, text featurization, windowed events, and the two
    * TPC-DS-shaped heavies the DS corpus adds over TPC-H: a ROLLUP
    * aggregate over a 4-way join (q202, DS Q27 shape) and window-over-join
    * year-over-year analytics (q204, DS Q47 shape). Bench times them and
    * PlanDump dumps their plans; perfbench/run.py keeps its own copy, which
    * HeadlineSpec holds equal to this one. */
  val headline: Seq[String] = Seq(
    "q01_agg", "q03_join_agg_top", "q12_window_rank", "q19_asof_join",
    "q37_mode", "q60b_text_stats_full", "q63_dedup_keep_first", "q65_minhash_pairs",
    "q68_embedding_topk", "q71_quality_pipeline", "q80_tumble", "q82_session",
    "q101_tpch5_local_volume", "q103_tpch13_custdist",
    "q202_ds27_rollup_avgs", "q204_ds47_yoy_monthly")

  /** Writes [[oracleSql]] as one JSON object to `path`: the file the
    * DuckDB-side tools (tools/check.py, tools/bench_duckdb.py) read. */
  def writeOracleJson(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      jsonObject(oracleSql.toSeq.map { case (k, v) => k -> jsonString(v) }))

  /** `{"k": v,...}` of already-encoded JSON values. */
  private[graft] def jsonObject(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${jsonString(k)}: $v" }.mkString("{", ",", "}")

  /** JSON string literal. Escapes backslash, quote and ALL control chars
    * (< 0x20): a tab or CR in builder-authored SQL would otherwise make
    * the reader's json.load fail and silently zero the correctness check. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
