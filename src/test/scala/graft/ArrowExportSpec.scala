package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.ListVector
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.interop.{ArrowExport, ArrowImport}

/** Roundtrip the Arrow IPC export through Arrow's own reader — what a
  * pyarrow/polars/duckdb client would do with the bytes. */
class ArrowExportSpec extends SparkSpec {
  import spark.implicits._

  private def readAll(bytes: Array[Byte]): (Seq[String], Seq[Seq[Any]]) = {
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val names = root.getSchema.getFields.asScala.map(_.getName).toSeq
      val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      while (reader.loadNextBatch()) {
        for (i <- 0 until root.getRowCount) {
          rows += root.getFieldVectors.asScala.map { v =>
            if (v.isNull(i)) null else v.getObject(i)
          }.toSeq
        }
      }
      (names, rows.toSeq)
    } finally { reader.close(); alloc.close() }
  }

  test("primitives, strings, nulls, decimals, dates and timestamps roundtrip") {
    val df = Seq(
      (1L, Some(1.5), "alpha", Some(true)),
      (2L, None, "beta", None),
      (3L, Some(-0.25), null.asInstanceOf[String], Some(false)))
      .toDF("id", "x", "s", "b")
      .withColumn("dec", (col("id") * 3).cast("decimal(10,2)") / 2)
      .withColumn("d", lit(Date.valueOf("2024-03-01")))
      .withColumn("t", lit(Timestamp.valueOf("2024-03-01 12:30:45.123456")))
    val (names, rows) = readAll(ArrowExport.toArrowStreamBytes(df))
    assert(names == Seq("id", "x", "s", "b", "dec", "d", "t"))
    assert(rows.size == 3)
    val byId = rows.map(r => r.head.asInstanceOf[Long] -> r).toMap
    assert(byId(1L)(1) == 1.5 && byId(2L)(1) == null)
    assert(byId(1L)(2).toString == "alpha" && byId(3L)(2) == null)
    assert(byId(2L)(3) == null && byId(3L)(3) == false)
    assert(byId(2L)(4).asInstanceOf[java.math.BigDecimal].doubleValue() == 3.0)
    // date as epoch-day int
    assert(byId(1L)(5) == Date.valueOf("2024-03-01").toLocalDate.toEpochDay.toInt)
    // timestamp micros survive exactly (TZ vector exposes raw micros)
    val micros = byId(1L)(6).asInstanceOf[Long]
    assert(micros % 1000000L == 123456L)
  }

  test("embedding arrays (list<float>) roundtrip incl. null rows and multi-batch") {
    val df = Seq(
      (1L, Some(Seq(0.5f, -1.0f, 2.25f))),
      (2L, None),
      (3L, Some(Seq.empty[Float])),
      (4L, Some(Seq(9.0f))))
      .toDF("id", "emb")
    val (names, rows) = readAll(ArrowExport.toArrowStreamBytes(df, maxRecordsPerBatch = 2))
    assert(names == Seq("id", "emb"))
    val byId = rows.map(r => r.head.asInstanceOf[Long] -> r(1)).toMap
    assert(byId(1L).asInstanceOf[java.util.List[_]].asScala.toSeq == Seq(0.5f, -1.0f, 2.25f))
    assert(byId(2L) == null)
    assert(byId(3L).asInstanceOf[java.util.List[_]].asScala.isEmpty)
    assert(byId(4L).asInstanceOf[java.util.List[_]].asScala.toSeq == Seq(9.0f))
  }

  test("query-result export through the Table API file surface") {
    val d = graft.queries.Tables.documents(spark, sfDir)
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val path = java.nio.file.Files.createTempFile("graft_arrow", ".arrows").toString
    val n = graft.api.Table(d).toArrowFile(path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val (names, rows) = readAll(bytes)
    assert(names == Seq("lang", "n"))
    assert(n == rows.size && rows.nonEmpty)
    val expect = d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r(0).toString -> r(1).asInstanceOf[Long]).toMap == expect)
    java.nio.file.Files.delete(java.nio.file.Paths.get(path))
  }

  test("token lists (list<string>) roundtrip incl. null elements and null rows") {
    val df = Seq(
      (1L, Seq("alpha", "beta", "gamma")),
      (2L, null.asInstanceOf[Seq[String]]),
      (3L, Seq.empty[String]),
      (4L, Seq("solo", null)))
      .toDF("id", "toks")
    val (names, rows) = readAll(ArrowExport.toArrowStreamBytes(df, maxRecordsPerBatch = 3))
    assert(names == Seq("id", "toks"))
    val byId = rows.map(r => r.head.asInstanceOf[Long] -> r(1)).toMap
    assert(byId(1L).asInstanceOf[java.util.List[_]].asScala.map(_.toString).toSeq ==
      Seq("alpha", "beta", "gamma"))
    assert(byId(2L) == null)
    assert(byId(3L).asInstanceOf[java.util.List[_]].asScala.isEmpty)
    val l4 = byId(4L).asInstanceOf[java.util.List[_]].asScala.toSeq
    assert(l4.length == 2 && l4.head.toString == "solo" && l4(1) == null)
  }

  test("struct columns and nested lists roundtrip") {
    val df = Seq(
      (1L, ("doc-a", 3, Seq(0.5, 1.5)), Seq(Seq(1, 2), Seq(3))),
      (2L, null.asInstanceOf[(String, Int, Seq[Double])], Seq(Seq.empty[Int])),
      (3L, ("doc-c", 7, null.asInstanceOf[Seq[Double]]), null.asInstanceOf[Seq[Seq[Int]]]))
      .toDF("id", "meta", "grams")
    val (names, rows) = readAll(ArrowExport.toArrowStreamBytes(df))
    assert(names == Seq("id", "meta", "grams"))
    val byId = rows.map(r => r.head.asInstanceOf[Long] -> r).toMap
    val m1 = byId(1L)(1).asInstanceOf[java.util.Map[String, Any]]
    assert(m1.get("_1").toString == "doc-a" && m1.get("_2") == 3)
    assert(m1.get("_3").asInstanceOf[java.util.List[_]].asScala.toSeq == Seq(0.5, 1.5))
    assert(byId(2L)(1) == null)
    val m3 = byId(3L)(1).asInstanceOf[java.util.Map[String, Any]]
    assert(m3.get("_1").toString == "doc-c" && m3.get("_3") == null)
    val g1 = byId(1L)(2).asInstanceOf[java.util.List[_]].asScala
      .map(_.asInstanceOf[java.util.List[_]].asScala.toSeq).toSeq
    assert(g1 == Seq(Seq(1, 2), Seq(3)))
    assert(byId(3L)(2) == null)
  }

  test("map columns roundtrip as Arrow maps (list of key/value entries)") {
    val df = Seq(
      (1L, Map("a" -> 1, "b" -> 2)),
      (2L, Map.empty[String, Int]),
      (3L, null.asInstanceOf[Map[String, Int]]))
      .toDF("id", "m")
    val (names, rows) = readAll(ArrowExport.toArrowStreamBytes(df))
    assert(names == Seq("id", "m"))
    val byId = rows.map(r => r.head.asInstanceOf[Long] -> r(1)).toMap
    val m1 = byId(1L).asInstanceOf[java.util.List[_]].asScala
      .map { e => val s = e.asInstanceOf[java.util.Map[String, Any]]
        s.get("key").toString -> s.get("value") }.toMap
    assert(m1 == Map("a" -> 1, "b" -> 2))
    assert(byId(2L).asInstanceOf[java.util.List[_]].isEmpty)
    assert(byId(3L) == null)
  }

  test("ANSI interval leaves export as Duration / year-month Interval vectors") {
    val df = Seq(Tuple1(1L)).toDF("id")
      .withColumn("dt", expr("INTERVAL '1 02:03:04.123456' DAY TO SECOND"))
      .withColumn("ym", expr("INTERVAL '1-2' YEAR TO MONTH"))
    val (names, rows) = readAll(ArrowExport.toArrowStreamBytes(df))
    assert(names == Seq("id", "dt", "ym"))
    // Duration vector getObject returns java.time.Duration (µs unit)
    assert(rows.head(1) == java.time.Duration.ofSeconds(93784, 123456000))
    // IntervalYear vector getObject returns a Period of total months
    assert(rows.head(2).asInstanceOf[java.time.Period].toTotalMonths == 14L)
  }

  test("unsupported types fail fast with the offending column path") {
    // legacy CalendarIntervalType (mixed months+days+µs) has no lossless
    // Arrow mapping here — fail BEFORE any batch is written (a
    // mid-stream failure would leave a truncated file), naming the full
    // column path
    val df = Seq(Tuple1(1L)).toDF("id")
      .withColumn("iv", expr("make_interval(1, 2, 0, 3, 0, 0, 0)"))
    val ex = intercept[UnsupportedOperationException] {
      ArrowExport.toArrowStreamBytes(df)
    }
    assert(ex.getMessage.contains("'iv'"))
    val nested = Seq(Tuple1(1L)).toDF("id")
      .withColumn("liv", array(expr("make_interval(1, 2, 0, 3, 0, 0, 0)")))
    val ex2 = intercept[UnsupportedOperationException] {
      ArrowExport.toArrowStreamBytes(nested)
    }
    assert(ex2.getMessage.contains("liv.element"))
  }

  /** 25k rows over 7 partitions: nulls at every level and every type
    * `arrowSchema` maps. */
  private def wide = spark.range(0, 25000, 1, 7).selectExpr(
    "id",
    "IF(id % 7 = 0, NULL, id * 0.5D) AS x",
    "CAST(id % 2 = 0 AS BOOLEAN) AS b",
    "CAST(id % 100 AS TINYINT) AS y",
    "CAST(id % 1000 AS SMALLINT) AS h",
    "CAST(id AS FLOAT) AS f",
    "IF(id % 5 = 0, NULL, concat('s', id)) AS s",
    "CAST(concat('b', id) AS BINARY) AS bin",
    "CAST(id AS DECIMAL(12,2)) / 4 AS dec",
    "date_add(DATE'2024-01-01', CAST(id % 400 AS INT)) AS d",
    "timestamp_micros(id * 1000003) AS t",
    "CAST(timestamp_micros(id * 999983) AS TIMESTAMP_NTZ) AS ntz",
    "make_dt_interval(CAST(id % 3 AS INT), 1, 2, id % 60) AS dt",
    "make_ym_interval(1, CAST(id % 12 AS INT)) AS ym",
    "IF(id % 3 = 0, NULL, array(id, NULL, id + 1)) AS l",
    "IF(id % 11 = 0, NULL, named_struct('k', CAST(id % 13 AS INT), " +
      "'v', IF(id % 2 = 0, NULL, array(concat('v', id))))) AS st",
    "map('a', id, 'b', IF(id % 4 = 0, NULL, id)) AS m")

  /** (column names, rows per record batch) of an Arrow stream. */
  private def batchSizes(bytes: Array[Byte]): (Seq[String], Seq[Int]) = {
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val names = reader.getVectorSchemaRoot.getSchema.getFields.asScala.map(_.getName).toSeq
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (reader.loadNextBatch()) sizes += reader.getVectorSchemaRoot.getRowCount
      (names, sizes.toSeq)
    } finally { reader.close(); alloc.close() }
  }

  test("a multi-partition result exports in one job, in order, batched per partition") {
    val df = wide
    val (bytes, jobs) = jobsDuring(ArrowExport.toArrowStreamBytes(df, maxRecordsPerBatch = 1000))
    assert(jobs == 1, s"the export ran $jobs Spark jobs")
    val (names, sizes) = batchSizes(bytes)
    assert(names == df.columns.toSeq)
    // batches hold at most 1000 rows and never span two partitions
    val perPartition = df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
    assert(perPartition.size == 7)
    assert(sizes == perPartition.flatMap(n => Seq.fill(n / 1000)(1000) ++ Seq(n % 1000).filter(_ > 0)))
    val back = ArrowImport.fromArrowBytes(spark, bytes)
    assert(back.schema == df.schema)
    assert(back.collect().toSeq == df.collect().toSeq)
  }

  test("an empty multi-partition result is a schema-only stream of 0 rows") {
    val empty = wide.where("id < 0")
    assert(empty.rdd.getNumPartitions == 7)
    val (bytes, jobs) = jobsDuring(ArrowExport.toArrowStreamBytes(empty))
    assert(jobs == 1, s"the export ran $jobs Spark jobs")
    assert(batchSizes(bytes) == (empty.columns.toSeq, Nil))
    val back = ArrowImport.fromArrowBytes(spark, bytes)
    assert(back.schema == empty.schema && back.count() == 0)
  }

  test("a query that fails in a task leaves no file and an existing file untouched") {
    // only the last of 7 partitions fails
    val failing = spark.range(0, 25000, 1, 7)
      .selectExpr("id", "IF(id = 24999, raise_error('boom at the last row'), id) AS v")
    val writers = Seq[(DataFrame, String) => Long](
      (df, p) => ArrowExport.toArrowFile(df, p, maxRecordsPerBatch = 1000),
      (df, p) => ArrowExport.toArrowIpcFile(df, p, maxRecordsPerBatch = 1000))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val dir = Files.createTempDirectory("graft_arrow_fail")
    try writers.zipWithIndex.foreach { case (write, i) =>
      val fresh = dir.resolve(s"fresh$i.arrow")
      val e1 = intercept[Exception](write(failing, fresh.toString))
      assert(messages(e1).contains("boom at the last row"))
      assert(!Files.exists(fresh), s"writer $i left a file behind")
      val kept = dir.resolve(s"kept$i.arrow")
      Files.write(kept, "an earlier result".getBytes("UTF-8"))
      intercept[Exception](write(failing, kept.toString))
      assert(new String(Files.readAllBytes(kept), "UTF-8") == "an earlier result")
    } finally scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }
}
