package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. perfbench/run.py starts one JVM per run
  * (plus set-up-only JVMs) and reads the record it writes to `--out`.
  *
  *   --mode setup        set up for `--kind` queries|stream and exit (a
  *                       set-up time sample)
  *   --mode queries      set up, then a cold round and `--rounds` warm rounds
  *                       of `--queries` over `--data`
  *   --mode stream       set up, then the tumble and funnel streams
  *   --mode fingerprint  write every query's result as parquet under `--out`
  *
  * Set-up is JVM start → session with GraftExtensions → fixture checked →
  * one warm-up query; the JVM prints SETUP_DONE when it is over, and
  * run.py times set-up from process launch to that line. */
object Main {
  val SetupDone = "PERFBENCH_SETUP_DONE"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val mode = opts("mode")
    val data = opts.getOrElse("data", "")
    val cores = opts("cores").toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val t0 = Clock.now
    val (spark, confs) = session(cores, data, opts("work"))
    try {
      val t1 = Clock.now
      val fixture = if (data.nonEmpty) checkFixture(spark, data) else Map.empty[String, Long]
      val t2 = Clock.now
      mode match {
        case "fingerprint" =>
          fingerprint(spark, data, opts("queries").split(",").toSeq, opts("out"))
          Runtime.getRuntime.halt(0)
        case _ if opts("kind") == "stream" => StreamLoop.warmUp(spark)
        case _ => QueryLoop.warmUp(spark, data)
      }
      val t3 = Clock.now
      println(SetupDone)
      System.out.flush()
      // where set-up went: JVM start to main, session, fixture check, warm-up
      val setupPhases = Map("jvm_to_main_ms" -> (t0 - jvmStart), "session_ms" -> (t1 - t0),
        "fixture_ms" -> (t2 - t1), "warmup_ms" -> (t3 - t2))
      System.err.println(s"[perfbench] setup phases ${Json(setupPhases)}")
      val body: Map[String, Any] = mode match {
        case "setup" => Map.empty
        case "queries" => QueryLoop.run(spark, opts)
        case "stream" => StreamLoop.run(spark, opts)
      }
      if (mode != "setup") {
        val record = body ++ Map(
          "spark_version" -> spark.version,
          "master" -> spark.sparkContext.master,
          "confs" -> confs.toMap,
          "fixture_rows" -> fixture, "setup_phases_ms" -> setupPhases,
          "jvm" -> jvmStats())
        Files.writeString(Paths.get(opts("out")), Json(record))
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }
    // nothing is left to measure: end without Spark's shutdown (run.py
    // removes the work directory's scratch files)
    Runtime.getRuntime.halt(0)
  }

  /** The benchmark session: local mode on every core, one shuffle partition
    * per core, the plan-shape confs graft's own bench adopts, and shuffle
    * files under the run's work directory. Returns the confs applied. */
  def session(cores: Int, data: String, work: String): (SparkSession, Seq[(String, String)]) = {
    val confs = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.files.maxPartitionBytes" -> "4m",
      "spark.sql.files.openCostInBytes" -> "64k",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.ui.enabled" -> "false") ++
      graft.BenchConfs.planConfs ++ graft.BenchConfs.aggConfsFor(data)
    val b = SparkSession.builder().withExtensions(new graft.exts.GraftExtensions)
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (spark, confs)
  }

  /** Per-table row counts from the parquet footers, checked against the
    * manifest written when the fixture was generated. */
  def checkFixture(spark: SparkSession, dir: String): Map[String, Long] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val expected = scala.io.Source.fromFile(s"$dir/manifest.tsv").getLines()
      .map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap
    val counted = expected.keys.map { t =>
      val files = Option(new java.io.File(s"$dir/$t.parquet").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      t -> files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }.toMap
    val bad = expected.filter { case (t, n) => counted(t) != n }
    require(bad.isEmpty, s"fixture $dir: row counts ${bad.keys.map(t =>
      s"$t=${counted(t)} (manifest ${expected(t)})").mkString(", ")}")
    counted
  }

  /** Each query's result as one parquet file per query, and the queries'
    * DuckDB oracle SQL, for the comparison run.py makes once per fixture. */
  def fingerprint(spark: SparkSession, dir: String, names: Seq[String], out: String): Unit = {
    names.foreach { n =>
      graft.SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$n")
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json(graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }))
  }

  /** Peak RSS (VmHWM), total GC time, and the peak of the old generation:
    * with the heap committed up front, young-generation use always reaches
    * its capacity, so the old generation is where heap demand shows. */
  def jvmStats(): Map[String, Any] = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(-1L)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP &&
        !p.getName.contains("Eden") && !p.getName.contains("Survivor"))
      .map(_.getPeakUsage.getUsed).sum
    Map("vm_hwm_kb" -> hwmKb, "gc_ms" -> gcMs, "heap_peak_bytes" -> heapPeak,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory)
  }
}
