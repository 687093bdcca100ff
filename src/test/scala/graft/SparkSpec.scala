package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; suites run sequentially under sbt's forked JVM). */
object SparkSpec {
  lazy val spark: SparkSession = Sessions.local(4, Seq(
    "spark.app.name" -> "graft-test",
    "spark.sql.shuffle.partitions" -> "4"), "ERROR")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir = "/root/testdata/sf0.001"

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
}
