package graft.tools

import org.apache.spark.sql.functions._

/** Write one Arrow IPC stream file from a query result — the smoke any
  * pyarrow/polars/duckdb client can open (`pyarrow.ipc.open_stream`). */
object ArrowDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(4, Seq("spark.sql.shuffle.partitions" -> "4"), "ERROR")
    val docs = spark.read.parquet(args(0) + "/documents.parquet")
    val emb = spark.read.parquet(args(0) + "/embeddings.parquet")
    val out = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("embedding"),
        // round-7 surface: token lists (list<string>), struct metadata,
        // and a nested list — what pyarrow/duckdb clients actually ask for
        slice(split(col("text"), "\\s+"), 1, 8).as("tokens"),
        struct(col("lang").as("lang"), col("n_chars").as("n_chars")).as("meta"),
        array(slice(split(col("text"), "\\s+"), 1, 2),
          slice(split(col("text"), "\\s+"), 3, 2)).as("grams"),
        map_from_arrays(array(lit("chars"), lit("id")),
          array(col("n_chars"), col("doc_id"))).as("counts"),
        // round-8 surface: ANSI interval leaves (Duration / year-month)
        (col("doc_id") % 5).cast("int").as("k")
          .*(expr("INTERVAL '0 01:00:00' DAY TO SECOND")).as("dur"),
        expr("INTERVAL '1-2' YEAR TO MONTH").as("ym"))
      .orderBy("doc_id").limit(100)
    val n = graft.interop.ArrowExport.toArrowFile(out, args(1))
    println(s"[arrow] wrote $n rows to ${args(1)}")
    // round 8: the import half — read the stream back and prove the
    // round-trip is loss-free on the driver side too
    val back = graft.interop.ArrowImport.fromArrowFile(spark, args(1))
    val same = back.collect().toSeq == out.collect().toSeq &&
      back.schema.map(f => (f.name, f.dataType)) == out.schema.map(f => (f.name, f.dataType))
    println(s"[arrow] import round-trip loss-free: $same")
    require(same, "ArrowImport round-trip mismatch")
    // round 9: the ARROW1 random-access file layout, same payload — the
    // sniffing importer reads it through the identical entry point
    val n2 = graft.interop.ArrowExport.toArrowIpcFile(out, args(1) + ".file")
    val back2 = graft.interop.ArrowImport.fromArrowFile(spark, args(1) + ".file")
    val same2 = n2 == n && back2.collect().toSeq == out.collect().toSeq
    println(s"[arrow] ARROW1 file round-trip loss-free: $same2")
    require(same2, "ArrowImport ARROW1 round-trip mismatch")
    spark.stop()
  }
}
