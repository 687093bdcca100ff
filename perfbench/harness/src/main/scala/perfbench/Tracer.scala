package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Epoch milliseconds with sub-millisecond resolution, on the same base as
  * the listener events' `System.currentTimeMillis` stamps. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A closed interval of the run: `parent` is the id of the span that caused
  * it (0 for the run itself). */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
    counts: Map[String, Any] = Map.empty)

/** Spans kept in memory and written out when the run ends; a disabled
  * recorder (the untraced run) keeps nothing. */
final class Spans(val enabled: Boolean) {
  private val done = ArrayBuffer[Span]()
  private val open = scala.collection.mutable.Map[Int, (Int, String, Double)]()
  private var next = 0

  /** Starts a span now and returns its id. */
  def begin(parent: Int, name: String): Int = synchronized {
    next += 1
    if (enabled) open(next) = (parent, name, Clock.now)
    next
  }

  def end(id: Int, counts: Map[String, Any] = Map.empty): Unit = synchronized {
    open.remove(id).foreach { case (parent, name, start) =>
      done += Span(id, parent, name, start, Clock.now, counts)
    }
  }

  /** Records a span whose bounds are already known. */
  def add(parent: Int, name: String, start: Double, end: Double,
      counts: Map[String, Any] = Map.empty): Int = synchronized {
    next += 1
    if (enabled) done += Span(next, parent, name, start, end, counts)
    next
  }

  def all: Seq[Span] = synchronized(done.sortBy(_.id).toList)
}

/** Task-level totals of one stage. */
final class StageTotals {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L
  var submitted = -1L
  var completed = -1L
  var firstLaunch = Long.MaxValue
  var tag: String = null
  var batch: String = null
}

final class JobRecord(val id: Int, val tag: String, val batch: String, val start: Long,
    val resultJob: Boolean, val stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

/** Listener for the traced run: every job, stage and task with its times
  * and the `perfbench.tag` local property the harness sets around each
  * phase of a query (stream batches carry Spark's own batch id). */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  val stages = new ConcurrentHashMap[Int, StageTotals]()

  private def stage(id: Int): StageTotals = stages.computeIfAbsent(id, _ => new StageTotals)

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  /** `<query run id>/<batch id>` for the jobs of a stream micro-batch. */
  private def batchOf(p: java.util.Properties): String = {
    val b = prop(p, Tracing.BatchKey)
    if (b == null) null else s"${prop(p, Tracing.StreamKey)}/$b"
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the job's own stage is its highest id; AQE query-stage jobs end in a
    // shuffle-map stage, result jobs in a result stage
    val last = e.stageInfos.maxByOption(_.stageId)
    val result = last.forall(s => !org.apache.spark.PerfbenchBus.isShuffleMapStage(s))
    jobs.put(e.jobId, new JobRecord(e.jobId, prop(e.properties, Tracing.TagKey),
      batchOf(e.properties), e.time, result, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      s.tag = prop(e.properties, Tracing.TagKey)
      s.batch = batchOf(e.properties)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized { s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    val info = e.taskInfo
    s.synchronized {
      s.tasks += 1
      s.firstLaunch = math.min(s.firstLaunch, info.launchTime)
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        // Spark UI's scheduler delay: task wall time not spent running,
        // deserializing, serializing or fetching the result
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  def jobsTagged(p: String => Boolean): Seq[JobRecord] =
    jobs.values.asScala.filter(j => j.tag != null && p(j.tag)).toSeq.sortBy(_.id)

  def stagesTagged(p: String => Boolean): Seq[StageTotals] =
    stages.values.asScala.filter(s => s.tag != null && p(s.tag)).toSeq

  def jobsOfBatches(batches: Set[String]): Seq[JobRecord] =
    jobs.values.asScala.filter(j => j.batch != null && batches(j.batch)).toSeq

  def stagesOfBatches(batches: Set[String]): Seq[StageTotals] =
    stages.values.asScala.filter(s => s.batch != null && batches(s.batch)).toSeq
}

object Tracing {
  val TagKey = "perfbench.tag"
  // set by Spark's micro-batch execution on every job of a batch
  val BatchKey = "streaming.sql.batchId"
  val StreamKey = "sql.streaming.queryId"

  /** Length of the union of `[start, end]` intervals clipped to `[lo, hi]`. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
