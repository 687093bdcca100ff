package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Conf-regression guard (verdict r14 #3): SPARK_GRAFT_BENCH_CONFS=1
  * applies [[BenchConfs.planConfs]] — the exact plan-shape conf set the
  * bench sessions adopt — to this session, and per-query wall times are
  * always dumped to outDir/timings.json. A sweep is two Verify runs
  * (baseline vs bench-confs) diffed with tools/diff_timings.py: any
  * query whose wall time regresses >2× under the bench confs is exactly
  * the class of interaction the round-14 q202b thrash was (a conf that
  * won its headline A/B while destabilizing a non-headline query). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: only run queries whose name matches this regex —
    // local iteration aid; the driver's 2-arg invocation runs everything
    val nameFilter = args.lift(2).map(_.r)
    val cpus = Sessions.cores(4)
    val sweep = sys.env.get("SPARK_GRAFT_BENCH_CONFS").contains("1")
    if (sweep) System.err.println("[verify] applying BenchConfs.planConfs + bigAggConfs " +
      "(conf-regression sweep arm)")
    val spark = Sessions.local(cpus, Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      // small test files must still split across cores (a 1.5 MB parquet is
      // 1 partition at the 128 MB default → single-threaded heavy stages)
      "spark.sql.files.maxPartitionBytes" -> "4m",
      "spark.sql.files.openCostInBytes" -> "64k") ++
      // sweep bigAggConfs too: the bench only adopts them at ≥1 GB inputs
      // (BenchConfs.aggConfsFor), but the guard's job is to exercise the
      // FULL adoptable set against the wide corpus. Passed at build time:
      // planConfs holds a static conf that spark.conf.set refuses.
      (if (sweep) BenchConfs.planConfs ++ BenchConfs.bigAggConfs else Nil))
    new java.io.File(outDir).mkdirs()
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      timings(name) = (System.nanoTime() - t0) / 1e9
    }
    SparkEntry.writeOracleJson(s"$outDir/oracle_sql.json")
    Files.writeString(Paths.get(s"$outDir/timings.json"),
      SparkEntry.jsonObject(timings.toSeq.map { case (k, v) => k -> f"$v%.3f" }))
    spark.stop()
  }
}
