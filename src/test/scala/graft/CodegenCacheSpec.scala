package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A graft session's codegen class cache holds a session's working set:
  * a second pass over a rotation of query shapes compiles nothing, where
  * Spark's default cache of 100 classes recompiled the whole rotation. */
class CodegenCacheSpec extends SparkSpec {

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm rotation of distinct query shapes compiles no class again") {
    // A literal only this run uses, inlined into the code of every stage
    // that evaluates it, so no earlier suite can have cached these classes
    // whatever order the suites run in.
    val nonce = 1000003L + (System.nanoTime() & 0xffffffL)
    def shape(i: Int): DataFrame = {
      val k = nonce + i
      val base = spark.range(0, 3000, 1, 4)
        .selectExpr(s"id * $k AS a", s"id % ${3 + i} AS g", s"id % 7 AS s")
      i % 3 match {
        case 0 => base.groupBy("g").agg(sum("a"), max("a"), count(lit(1)))
        case 1 => base.join(spark.range(0, 50).selectExpr(s"id - $k AS b", s"id % ${3 + i} AS g"), "g")
          .groupBy("s").agg(sum(col("a") + col("b")))
        case _ => base.filter(col("a") > k)
          .withColumn("r", row_number().over(Window.partitionBy("g").orderBy(col("a").desc)))
          .filter(col("r") <= 3)
      }
    }
    def pass(): Long = {
      val c0 = compiled()
      (0 until 60).foreach(i => shape(i).collect())
      compiled() - c0
    }
    val cold = pass()
    assert(cold > 100, s"the rotation compiled only $cold classes: too few to overflow 100")
    val warm = pass()
    assert(warm == 0, s"the warm pass recompiled $warm of the $cold classes")
  }
}
