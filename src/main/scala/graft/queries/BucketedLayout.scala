package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.Table
import Tables._

/** One-time bucketed warehouse layouts backing the q101b/q103b/q202b
  * layout-twin queries (CLUSTERED BY + SORTED BY the join key — the
  * exchange-free co-located layout a real 100 TB deployment would use).
  *
  * Idempotent: parquet files persist across JVMs under spark-warehouse/
  * while the in-memory catalog doesn't, so an existing on-disk layout is
  * re-registered as an external bucketed table instead of re-ingested.
  *
  * Bench calls [[ensureAll]] UNTIMED before timing the bucketed controls:
  * the round-13 driver record timed a full sf10 ingest inside the q202b
  * control window (188.7s recorded for a query that reads ~12s once the
  * layout exists), which both poisoned the control reading and burned the
  * driver's global clock. */
object BucketedLayout {

  /** Buckets per layout; table names carry it as `_b64`, so a warehouse
    * directory written under another count is never mistaken for this one. */
  private val buckets = 64

  private def ensureTable(s: SparkSession, tbl: String, key: String,
      src: => DataFrame): Unit =
    if (!s.catalog.tableExists(tbl)) {
      val loc = new java.io.File(s"spark-warehouse/$tbl")
      if (loc.exists()) {
        val ddl = s.read.parquet(loc.getAbsolutePath).schema.toDDL
        s.sql(s"""CREATE TABLE $tbl ($ddl) USING parquet
          CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
          LOCATION '${loc.getAbsolutePath}'""")
      } else Table(src).toBucketedTable(tbl, buckets, key)
    }

  /** orders + lineitem bucketed by orderkey (q101b, q202b). Returns the
    * (orders, lineitem) table names. */
  def orderkeyTables(s: SparkSession, dir: String): (String, String) = {
    val suffix = dir.replaceAll("[^a-zA-Z0-9]", "_") + s"_b$buckets"
    ensureTable(s, s"orders_$suffix", "o_orderkey", orders(s, dir))
    ensureTable(s, s"lineitem_$suffix", "l_orderkey", lineitem(s, dir))
    (s"orders_$suffix", s"lineitem_$suffix")
  }

  /** orders bucketed by custkey (q103b). Returns the table name. */
  def custkeyOrders(s: SparkSession, dir: String): String = {
    val suffix = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val tbl = s"orders_bycust_${suffix}_b$buckets"
    ensureTable(s, tbl, "o_custkey", orders(s, dir))
    tbl
  }

  /** Materialize every bucketed layout the controls read — called by
    * Bench outside any timed window. */
  def ensureAll(s: SparkSession, dir: String): Unit = {
    orderkeyTables(s, dir)
    custkeyOrders(s, dir)
  }
}
