package graft.tools

/** Debug harness: decompile one SQL string against the testdata views and
  * print both dialect renderings — the way q97* golden constants are
  * recorded. Usage: runMain graft.tools.RenderOne <sfDir> <sql> */
object RenderOne {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(4, Seq("spark.sql.shuffle.partitions" -> "4"), "ERROR")
    val dir = args(0)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { n =>
      val f = new java.io.File(s"$dir/$n.parquet")
      if (f.exists()) spark.read.parquet(f.getPath).createOrReplaceTempView(n)
    }
    val sql =
      if (args(1).startsWith("@"))
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(args(1).drop(1))))
      else args(1)
    val op = graft.api.SqlDecompile.decompile(spark, sql)
    println(s"fullyDecompiled=${op.isFullyDecompiled}")
    println("--- spark ---")
    println(op.renderSql())
    println("--- duckdb ---")
    println(op.renderSql("duckdb"))
    spark.stop()
  }
}
