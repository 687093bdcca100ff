package graft.queries

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** One engine query + its DuckDB oracle SQL (None → driver records a
  * rows-only check; used for ops whose sketch/hash internals aren't
  * reproducible in SQL). */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Tables {
  /** Read a test table. events.parquet carries TIMESTAMP(NANOS) which Spark
    * refuses by default — read nanos as long and truncate to µs (matching
    * DuckDB's ns→µs cast truncation in the oracle). The schema comes from
    * one footer read on the driver ([[footerSchema]]), so resolving a table
    * runs no Spark job, where Spark's parquet inference runs one. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    normalize(name, footerSchema(s, path)
      .fold(s.read.parquet(path))(s.read.schema(_).parquet(path)))
  }

  /** driver testdata events have carried ts as TIMESTAMP(NANOS) (read as
    * long under the flag, truncated to µs) and as plain µs-NTZ in
    * different rounds; normalize BOTH to session-local TIMESTAMP (UTC
    * session → value-preserving) so downstream µs arithmetic
    * (unix_micros, as-of, tumble bucketing) sees one type */
  def normalize(name: String, df: DataFrame): DataFrame =
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df

  /** The schema Spark's parquet inference gives `path`, converted under the
    * session's confs from the one footer that inference reads:
    * `_common_metadata`, else `_metadata`, else the first data file by path
    * (hidden and `_`-prefixed files skipped, as Spark's listing does). None
    * when `path` is missing, holds no file or has subdirectories
    * (partitions): Spark's own inference then resolves it, or fails with
    * its own error. */
  private def footerSchema(s: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val conf = s.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val leaves = if (!fs.exists(p)) Array.empty[FileStatus] else fs.listStatus(p).filterNot { f =>
      val n = f.getPath.getName
      (n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_")) &&
        !n.startsWith("_common_metadata") && !n.startsWith("_metadata")
    }.sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    if (leaves.exists(_.isDirectory)) None
    else summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
      .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
      .map { f =>
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(s.sessionState.conf))
      }
  }

  def lineitem(s: SparkSession, dir: String): DataFrame = t(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = t(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = t(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = t(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = t(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame = t(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = t(s, dir, "region")
  def events(s: SparkSession, dir: String): DataFrame = t(s, dir, "events")
  def documents(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  /** Money-sum policy for cross-engine hash-stability: exact 4-decimal
    * fixed-point sum (order-independent) surfaced as double. Implemented by
    * the custom codegen aggregate [[graft.exts.MoneySum4]] — value-identical
    * to `sum(cast(x as decimal(38,4))).cast("double")` but ~3.5× faster
    * (primitive long lanes instead of Decimal objects). Oracle mirror:
    * CAST(SUM(CAST(x AS DECIMAL(38,4))) AS DOUBLE). */
  def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.exts.exprs.moneySum4(c)

  /** Decimal-stable mean: exact fixed-point sum / count, double at the end. */
  def dmean(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(graft.exts.exprs.moneySum4(c) / count(c), 6)

  /** round-half-away of x·10⁴ as a long — value-identical to
    * `(x.cast("decimal(18,4)") * 10000).cast("long")` on ≤4-decimal money
    * inputs (the MoneySum4 units contract: double-grid values sit within
    * ~1e-11 of the 4-decimal grid, far inside the 5e-5 half-step, so
    * half-away on the double and HALF_UP on the shortest-repr decimal
    * agree), with no per-row Decimal128 ops (round 15 — the q101 inline
    * pattern, shared). ANSI mode still throws on non-finite input exactly
    * like the decimal cast. */
  def cents4(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val scaled = x.cast("double") * lit(10000.0)
    when(scaled >= 0, (scaled + 0.5).cast("long"))
      .otherwise((scaled - 0.5).cast("long"))
  }
}
