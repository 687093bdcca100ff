package graft

import java.nio.file.{Files, Path}

import graft.queries.Tables
import org.apache.spark.sql.{AnalysisException, DataFrame}

/** `Tables.t` resolves a table's schema from one parquet footer on the
  * driver: the same schema Spark's inference gives, without its job. */
class TablesSpec extends SparkSpec {

  /** Tables.t runs no job and gives the schema Spark's inference gives,
    * after the same normalisation; the inference itself runs a job, which
    * shows the count can see one. */
  private def checkTable(dir: String, name: String): DataFrame = {
    val (df, jobs) = jobsDuring(Tables.t(spark, dir, name))
    assert(jobs == 0, s"$name: Tables.t ran $jobs Spark jobs")
    val (inferred, inferJobs) =
      jobsDuring(Tables.normalize(name, spark.read.parquet(s"$dir/$name.parquet")))
    assert(inferJobs > 0, s"$name: the job count missed schema inference's job")
    assert(df.schema == inferred.schema, name)
    df
  }

  private def withTempDir(f: Path => Unit): Unit = {
    val d = Files.createTempDirectory("graft-tables")
    try f(d)
    finally scala.reflect.io.Directory(d.toFile).deleteRecursively()
  }

  test("every testdata table resolves to Spark's inferred schema with no job") {
    val names = new java.io.File(sfDir).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.size == 10)
    names.foreach(n => checkTable(sfDir, n))
  }

  test("a multi-file Spark directory with INT96, TIMESTAMP_NTZ ts and _SUCCESS") {
    withTempDir { d =>
      val key = "spark.sql.parquet.outputTimestampType"
      val before = spark.conf.getOption(key)
      spark.conf.set(key, "INT96")
      try spark.range(0, 40, 1, 4).selectExpr("id",
          "timestamp_ntz'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
          "timestamp_micros(id * 1000003) AS t96")
        .write.parquet(s"$d/events.parquet")
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val files = new java.io.File(s"$d/events.parquet").list().toSeq
      assert(files.contains("_SUCCESS") && files.count(_.endsWith(".parquet")) > 1, files)
      val df = checkTable(d.toString, "events")
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      val inferred = Tables.normalize("events", spark.read.parquet(s"$d/events.parquet"))
      assert(df.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq)
    }
  }

  test("a partitioned directory resolves through Spark's inference") {
    withTempDir { d =>
      spark.range(0, 12).selectExpr("id", "id % 3 AS p")
        .write.partitionBy("p").parquet(s"$d/orders.parquet")
      val df = Tables.t(spark, d.toString, "orders")
      assert(df.schema == spark.read.parquet(s"$d/orders.parquet").schema)
      assert(df.count() == 12)
    }
  }

  test("a missing path or an empty directory fails with Spark's error") {
    withTempDir { d =>
      val missing = intercept[AnalysisException](Tables.t(spark, d.toString, "nope"))
      assert(missing.getCondition == "PATH_NOT_FOUND", missing.getMessage)
      assert(missing.getMessage.contains("nope.parquet"))
      Files.createDirectory(d.resolve("empty.parquet"))
      val empty = intercept[AnalysisException](Tables.t(spark, d.toString, "empty"))
      assert(empty.getCondition == "UNABLE_TO_INFER_SCHEMA", empty.getMessage)
    }
  }
}
