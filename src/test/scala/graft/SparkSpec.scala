package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** `f`'s result and the Spark jobs started while it ran. */
  def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { val a = f; ListenerBusDrain(sc); (a, n.get) }
    finally sc.removeSparkListener(l)
  }
}
