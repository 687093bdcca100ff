package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic synthetic data generator for LARGE-SF benchmarking.
  *
  * The driver's testdata tops out at sf0.1 (~100 MB), where Spark's fixed
  * per-query overhead (~0.5 s scheduling/codegen/shuffle floor) swamps the
  * actual compute — the round-1 verdict's conclusion was that the 2×-of-
  * baseline gate is unmeasurable there. This tool emits the SAME schema and
  * value domains at any scale factor so the bench can compare engines where
  * plans, not JVM floors, dominate. Spark-native generation: a `range`
  * per table + pure column expressions (all values are xxhash64-derived
  * from the row id — rerunning always gives identical files), written in
  * parallel.
  *
  * Usage: runMain graft.tools.DataGen <sf> <outDir>   (sf=1.0 → 6M lineitem)
  */
object DataGen {

  private def h(c: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(salt), c), lit(m))

  /** 2-decimal money value in [lo, hi). */
  private def money(c: Column, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + h(c, salt, ((hi - lo) * 100).toLong).cast("double") / 100.0, 2)

  private def pick(c: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (h(c, salt, values.size) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    val sf = args(0).toDouble
    val out = args(1)
    val spark = graft.Sessions.local(graft.Sessions.cores(32),
      Seq("spark.sql.shuffle.partitions" -> "32"))
    import spark.implicits._

    val nCustomer = (150000 * sf).toLong max 100
    val nSupplier = (10000 * sf).toLong max 20
    val nPart = (200000 * sf).toLong max 200
    val nOrders = (1500000 * sf).toLong max 1000
    val nDocs = (50000 * sf).toLong max 200
    val nVecs = (20000 * sf).toLong max 100
    val nEvents = (1000000 * sf).toLong max 1000

    def rng(n: Long, parts: Int) = spark.range(0, n, 1, parts)
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[datagen] $name done")
    }

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(regions.indices.map(i => (i, regions(i))).toDF("r_regionkey", "r_name")
      .select(col("r_regionkey").cast("int"), col("r_name")), "region")

    write((0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
      .select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int")),
      "nation")

    write(rng(nCustomer, 8).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(col("id"), 11, 25).cast("int").as("c_nationkey"),
      money(col("id"), 12, -999.99, 9999.99).as("c_acctbal"),
      pick(col("id"), 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")), "customer")

    write(rng(nSupplier, 4).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(col("id"), 21, 25).cast("int").as("s_nationkey"),
      money(col("id"), 22, -999.99, 9999.99).as("s_acctbal")), "supplier")

    val colors = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    write(rng(nPart, 8).select(
      col("id").as("p_partkey"),
      concat(pick(col("id"), 31, colors), lit(" "), pick(col("id"), 32, nouns)).as("p_name"),
      concat(lit("Brand#"), (h(col("id"), 33, 25) + 1).cast("string")).as("p_brand"),
      pick(col("id"), 34, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
        .as("p_type"),
      (h(col("id"), 35, 50) + 1).cast("int").as("p_size"),
      money(col("id"), 36, 900.0, 2000.0).as("p_retailprice")), "part")

    val orders = rng(nOrders, 16).select(
      col("id").as("o_orderkey"),
      h(col("id"), 41, nCustomer).as("o_custkey"),
      pick(col("id"), 42, Seq("F", "O", "P")).as("o_orderstatus"),
      money(col("id"), 43, 1000.0, 500000.0).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), h(col("id"), 44, 2400).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      pick(col("id"), 45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    write(orders, "orders")

    // 1..7 lines per order (avg 4 → 4×nOrders lineitem rows)
    val li = orders.select(col("o_orderkey"), col("o_orderdate"))
      .withColumn("l_linenumber",
        explode(sequence(lit(1), (h(col("o_orderkey"), 51, 7) + 1).cast("int"))))
    val lkey = xxhash64(col("o_orderkey"), col("l_linenumber"))
    write(li.select(
      col("o_orderkey").as("l_orderkey"),
      pmod(lkey, lit(nPart)).as("l_partkey"),
      pmod(xxhash64(lkey), lit(nSupplier)).as("l_suppkey"),
      col("l_linenumber").cast("int"),
      (pmod(lkey, lit(50)) + 1).cast("double").as("l_quantity"),
      money(lkey, 52, 900.0, 100000.0).as("l_extendedprice"),
      (pmod(lkey, lit(11)).cast("double") / 100.0).as("l_discount"),
      (pmod(xxhash64(lkey, lit(1)), lit(9)).cast("double") / 100.0).as("l_tax"),
      pick(lkey, 53, Seq("A", "N", "N", "R")).as("l_returnflag"),
      pick(lkey, 54, Seq("F", "O")).as("l_linestatus"),
      date_add(col("o_orderdate").cast("date"), (pmod(lkey, lit(120)) + 1).cast("int"))
        .cast("timestamp").as("l_shipdate")), "lineitem")

    // documents: hash-chosen words from a stopword-rich vocab; ~5% of docs
    // are planted exact/near duplicates (ids ≡ 0,1 mod 40 share a base id)
    // so dedup operators have true positives at every scale.
    val vocab = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
      "was", "it", "for", "on", "with", "as", "at", "by", "that", "this",
      "data", "model", "training", "engine", "spark", "query", "table", "text",
      "token", "hash", "join", "window", "stream", "batch", "vector", "index",
      "system", "result", "value", "count", "filter", "group", "sort", "merge",
      "read", "write", "scan", "plan", "cost", "time", "year", "world", "people",
      "work", "life", "code", "test", "run", "fast", "slow", "big", "small")
    val docId = col("id")
    val baseId = when(pmod(docId, lit(40)) < 2, docId - pmod(docId, lit(40))).otherwise(docId)
    val nWords = (h(baseId, 61, 180) + 20).cast("int")
    val words = transform(sequence(lit(1), nWords),
      j => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(lit(62), baseId, j), lit(vocab.size)) + 1).cast("int")))
    val text = concat_ws(" ", words)
    write(rng(nDocs, 8).select(
      docId.as("doc_id"),
      text.as("text"),
      pick(docId, 63, Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
      pick(docId, 64, Seq("web", "web", "book", "wiki", "code")).as("source"),
      length(text).cast("long").as("n_chars")), "documents")

    write(rng(nVecs, 4).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        j => (pmod(xxhash64(lit(71), col("id"), j), lit(2001)).cast("double") / 1000.0 - 1.0)
          .cast("float")).as("embedding"),
      h(col("id"), 72, 10).cast("int").as("label")), "embeddings")

    // events: µs timestamps here; tools/fix_events_ns.py rewrites the column
    // to TIMESTAMP(NANOS) so the files read identically to the driver's.
    write(rng(nEvents, 8).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(820454400L) + h(col("id"), 81, 70L * 24 * 3600)).as("ts"),
      h(col("id"), 82, nEvents / 20 max 10).as("user_id"),
      pick(col("id"), 83, Seq("click", "click", "click", "view", "view", "purchase", "signup"))
        .as("event_type"),
      money(col("id"), 84, 0.0, 500.0).as("value"),
      format_string("{\"k\":%d}", h(col("id"), 85, 100)).as("props")), "events")

    spark.stop()
  }
}
