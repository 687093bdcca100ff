package graft.tools

import graft.{Bench, Sessions, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics

/** Times one corpus query under the bench session for its data dir
  * ([[graft.Bench.profile]]; cores from SPARK_GRAFT_CPUS, else all of
  * them). Each run is a noop-format write, as in the bench.
  *
  * With no override it times that session `n` times (default 4). With
  * `k=v` SQLConf overrides it is an interleaved A/B: the BASE and OVERRIDE
  * arms alternate on the SAME session (runtime-settable SQLConfs only), so
  * a drifting host window hits both arms equally — an A/B across two JVMs
  * was observed to swing ±15% between adjacent runs, larger than the
  * effects under test. Each timed run also prints the codegen classes it
  * compiled. A one-query loop hits Spark's codegen class cache from its
  * second run on, so it cannot show effects across queries, such as one
  * query's classes evicting another's: time those with the rounds of
  * perfbench/run.py, whose `--trace 1` records compiles per execution.
  * Usage:
  *   runMain graft.tools.AbProbe <dir> <query> [n] [k=v ...]
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, name) = args.take(2)
    val (counts, kvs) = args.drop(2).toSeq.partition(!_.contains("="))
    val n = counts.headOption.map(_.toInt).getOrElse(4)
    val overrides = kvs.map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val cores = Sessions.cores(Runtime.getRuntime.availableProcessors)
    val spark = Sessions.local(cores, Bench.profile(cores, new java.io.File(dir).getName, dir))
    val query = SparkEntry.queries(name)
    val gc = Bench.gcBetween(dir)
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    /** Seconds for one run, and the classes it compiled. */
    def once(): (Double, Long) = {
      val c0 = compiled()
      val t0 = System.nanoTime()
      query(spark, dir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = compiled() - c0
      if (gc) System.gc()
      (dt, dc)
    }
    if (overrides.isEmpty) {
      for (i <- 1 to n) {
        val (t, c) = once()
        println(f"[ab] $name run $i: $t%.2f s, $c classes compiled")
      }
    } else {
      val baseVals = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
      def setArm(b: Boolean): Unit =
        if (b) overrides.foreach { case (k, v) => spark.conf.set(k, v) }
        else baseVals.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      // warm-up pass per arm (codegen both variants before timing)
      setArm(false); once()
      setArm(true); once()
      val a = collection.mutable.ArrayBuffer[Double]()
      val b = collection.mutable.ArrayBuffer[Double]()
      for (i <- 1 to n) {
        // alternate starting arm each pair so section aging cancels
        val aFirst = i % 2 == 1
        for (arm <- if (aFirst) Seq(false, true) else Seq(true, false)) {
          setArm(arm)
          val (t, c) = once()
          (if (arm) b else a) += t
          println(f"[ab] $name pair $i arm ${if (arm) "B" else "A"}: $t%.2f s, $c classes compiled")
        }
      }
      def stats(xs: Seq[Double]) = {
        val s = xs.sorted
        (s.head, s(s.size / 2), xs.sum / xs.size)
      }
      val (amin, amed, aavg) = stats(a.toSeq)
      val (bmin, bmed, bavg) = stats(b.toSeq)
      println(f"[ab] A(base):     min $amin%.2f  med $amed%.2f  avg $aavg%.2f")
      println(f"[ab] B(override): min $bmin%.2f  med $bmed%.2f  avg $bavg%.2f")
      println(f"[ab] B/A: min ${bmin / amin}%.3f  med ${bmed / amed}%.3f")
    }
    spark.stop()
  }
}
