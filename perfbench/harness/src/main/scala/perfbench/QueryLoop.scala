package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.metrics.source.CodegenMetrics

/** The query workload: one client thread runs the queries back to back
  * (closed loop). Round 0 is the cold pass; rounds 1..`--rounds` are warm.
  * The seed sets the query order of every round. Each result goes to the
  * caller through `ArrowExport.toArrowStreamBytes`, what an ibis
  * `to_pyarrow()` caller receives, and its row count is checked against
  * `--expect`.
  *
  * With `--trace 1` a SparkListener records every job, stage and task, and
  * each execution is split into build / plan / exec / sink by timestamps
  * taken around the calls into each layer; the untraced run takes the same
  * timestamps and registers nothing. */
object QueryLoop {

  /** The warm-up query of set-up: a scan and aggregate that is not one of
    * the measured queries, delivered the same way. */
  def warmUp(spark: SparkSession, dir: String): Unit =
    graft.interop.ArrowExport.toArrowStreamBytes(graft.queries.Tables.lineitem(spark, dir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"), sum("l_quantity").as("q")))

  private def arrowRows(bytes: Array[Byte]): Long = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      var n = 0L
      while (reader.loadNextBatch()) n += reader.getVectorSchemaRoot.getRowCount
      n
    } finally { reader.close(); alloc.close() }
  }

  /** Exchanges left in the plan that ran, inside AQE query stages and
    * subqueries included. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }

  /** (nanoseconds spent compiling generated code, classes compiled) so far. */
  def codegen(): (Long, Long) =
    (WholeStageCodegenExec.codeGenTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def run(spark: SparkSession, opts: Map[String, String]): Map[String, Any] = {
    val dir = opts("data")
    val names = opts("queries").split(",").toSeq
    val warmRounds = opts("rounds").toInt
    val traced = opts("trace") == "1"
    val expect = opts("expect").split(",").map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
    val sc = spark.sparkContext
    val jobs = new JobListener
    if (traced) sc.addSparkListener(jobs)
    val spans = new Spans(traced)
    val rnd = new scala.util.Random(opts("seed").toLong)
    val execs = ArrayBuffer[Map[String, Any]]()
    val roundMs = ArrayBuffer[Double]()
    val runSpan = spans.begin(0, "run")

    for (round <- 0 to warmRounds) {
      val order = rnd.shuffle(names)
      val roundSpan = spans.begin(runSpan, s"round $round")
      val roundStart = Clock.now
      order.foreach { name =>
        val req = s"r$round.$name"
        val fn = graft.SparkEntry.queries(name)
        val (cg0, cc0) = codegen()
        var df: DataFrame = null
        var bytes = Array.emptyByteArray
        var error: String = null
        val t0 = Clock.now
        var t1, t2 = t0
        try {
          sc.setLocalProperty(Tracing.TagKey, s"$req/build")
          df = fn(spark, dir)
          t1 = Clock.now
          sc.setLocalProperty(Tracing.TagKey, s"$req/plan")
          // the export runs df's own QueryExecution: planning it here is the
          // planning the export would otherwise do first
          df.queryExecution.executedPlan
          t2 = Clock.now
          sc.setLocalProperty(Tracing.TagKey, s"$req/exec")
          bytes = graft.interop.ArrowExport.toArrowStreamBytes(df)
        } catch {
          case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        } finally sc.setLocalProperty(Tracing.TagKey, null)
        val t3 = Clock.now
        val (cg1, cc1) = codegen()
        val rows = if (error == null) arrowRows(bytes) else -1L
        val rowsOk = error == null && expect.get(name).contains(rows)
        val rec = Map[String, Any]("query" -> name, "round" -> round, "wall_ms" -> (t3 - t0),
          "rows" -> rows, "expected_rows" -> expect.getOrElse(name, -1L),
          "ok" -> rowsOk, "error" -> error, "arrow_bytes" -> bytes.length,
          "codegen_ms" -> (cg1 - cg0) / 1e6, "codegen_compiles" -> (cc1 - cc0))
        val layers =
          if (!traced || error != null) Map.empty[String, Any]
          else {
            PerfbenchBus.drain(sc)
            val resolve = if (round > 0) resolveTables(spark, dir, df, req) else Map.empty[String, Double]
            split(jobs, spans, roundSpan, name, req, df, t0, t1, t2, t3, resolve)
          }
        execs += rec ++ layers
      }
      spans.end(roundSpan, Map("queries" -> order.size))
      roundMs += Clock.now - roundStart
    }
    spans.end(runSpan)
    Map("executions" -> execs.toList, "round_ms" -> roundMs.toList,
      "cold_pass_ms" -> roundMs.head, "warm_rounds" -> warmRounds, "spans" -> spans.all)
  }

  /** Times `graft.queries.Tables.t` for each table `df` reads, outside the
    * execution's own window, tagged so its schema job counts nowhere else. */
  private def resolveTables(spark: SparkSession, dir: String, df: DataFrame,
      req: String): Map[String, Double] = {
    val tables = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location.rootPaths
        case _ => Nil
      }
    }.flatten.map(_.getName.stripSuffix(".parquet")).distinct
    spark.sparkContext.setLocalProperty(Tracing.TagKey, s"$req/resolve")
    try tables.map { t =>
      val s = Clock.now
      graft.queries.Tables.t(spark, dir, t)
      t -> (Clock.now - s)
    }.toMap
    finally spark.sparkContext.setLocalProperty(Tracing.TagKey, null)
  }

  /** One traced execution split into layers. Windows: build [t0,t1],
    * plan [t1,t2], export [t2,t3]. Jobs started during build count as
    * build work. In the export window the job spans are exec; the time no
    * job covers is driver gap (AQE re-planning, stage submission) before
    * the first result job starts, and sink self time (row conversion
    * between the per-partition result jobs of toLocalIterator) after. */
  private def split(jobs: JobListener, spans: Spans, roundSpan: Int, name: String, req: String,
      df: DataFrame, t0: Double, t1: Double, t2: Double, t3: Double,
      resolve: Map[String, Double]): Map[String, Any] = {
    val mine = jobs.jobsTagged(t => t.startsWith(req + "/") && !t.endsWith("/resolve"))
    def iv(j: JobRecord) = (j.start.toDouble, (if (j.end < 0) t3 else j.end.toDouble))
    val buildJobs = mine.filter(_.tag.endsWith("/build"))
    val execJobs = mine.filterNot(_.tag.endsWith("/build"))
    val execMs = Tracing.covered(execJobs.map(iv), t2, t3)
    val qe = df.queryExecution
    val phases = qe.tracker.phases
    def phase(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val firstResult = execJobs.filter(_.resultJob).map(_.start.toDouble)
      .filter(_ >= t2).minOption.getOrElse(t3).min(t3)
    val gapMs = (firstResult - t2) - Tracing.covered(execJobs.map(iv), t2, firstResult)
    val sinkMs = (t3 - firstResult) - Tracing.covered(execJobs.map(iv), firstResult, t3)
    val stages = jobs.stagesTagged(t => t.startsWith(req + "/") && !t.endsWith("/resolve"))
      .filter(_.tasks > 0)
    def sumS(f: StageTotals => Long) = stages.map(f).sum
    val counts = Map[String, Any](
      "build_ms" -> (t1 - t0), "build_jobs" -> buildJobs.size,
      "table_resolve_ms" -> resolve.values.sum, "tables" -> resolve,
      "plan_ms" -> (t2 - t1), "analysis_ms" -> phase("analysis"),
      "optimization_ms" -> phase("optimization"), "planning_ms" -> phase("planning"),
      "final_exchanges" -> exchanges(qe.executedPlan),
      "exec_ms" -> execMs, "driver_gap_ms" -> gapMs, "sink_self_ms" -> sinkMs,
      "sink_jobs" -> execJobs.count(_.resultJob),
      "jobs" -> mine.size, "stages" -> stages.size, "tasks" -> sumS(_.tasks.toLong),
      "sched_wait_ms" -> (stages.map(s => math.max(0L, s.firstLaunch - s.submitted)).sum +
        sumS(_.schedDelayMs)),
      "task_run_ms" -> sumS(_.runMs), "task_cpu_ms" -> sumS(_.cpuNs) / 1e6,
      "task_gc_ms" -> sumS(_.gcMs), "input_bytes" -> sumS(_.inputBytes),
      "shuffle_write_bytes" -> sumS(_.shuffleWriteBytes),
      "shuffle_read_bytes" -> sumS(_.shuffleReadBytes),
      "shuffle_fetch_wait_ms" -> sumS(_.fetchWaitMs), "spill_bytes" -> sumS(_.spillBytes))
    // spans: query → build / plan / sink → job → stage
    val q = spans.add(roundSpan, s"query $name", t0, t3, counts)
    val phaseIds = Map(
      "build" -> spans.add(q, "build", t0, t1, Map("jobs" -> buildJobs.size)),
      "plan" -> spans.add(q, "plan", t1, t2),
      "sink" -> spans.add(q, "sink", t2, t3, Map("jobs" -> execJobs.size)))
    val stageById = jobs.stages
    mine.foreach { j =>
      val (s, e) = iv(j)
      val parent = phaseIds(if (j.tag.endsWith("/build")) "build" else "sink")
      val jid = spans.add(parent, s"job ${j.id}", s, e, Map("result_job" -> j.resultJob))
      j.stageIds.flatMap(id => Option(stageById.get(id)).map(id -> _))
        .filter(_._2.tasks > 0).foreach { case (id, st) =>
          spans.add(jid, s"stage $id", st.submitted.toDouble, st.completed.toDouble,
            Map("tasks" -> st.tasks, "task_run_ms" -> st.runMs))
        }
    }
    Map("layers" -> counts)
  }
}
