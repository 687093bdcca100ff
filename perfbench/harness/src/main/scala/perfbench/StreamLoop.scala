package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.{Stateful, Watermark, Windows}

/** The stream workload: `Windows.tumble` and `Stateful.funnelPairs`, each
  * over a `rate-micro-batch` source.
  *
  * Batch b holds values [b·rows, (b+1)·rows) at event time start + b·interval,
  * so the input, the state and the output repeat exactly for a seed; the
  * seed salts the tumble and funnel keys. Each stream resumes from its own
  * checkpoint through three phases (see `run`): the cold pass, a warm-up
  * back to back, and the measured phase on a fixed trigger interval, which
  * Spark fires on the multiples of the interval. Measurement starts at the
  * first batch that starts on its slot (batch w), and from there the
  * schedule is open loop: batch w+i is due at slot(w) + i·interval, and its
  * latency is its completion minus that due time, so falling behind shows
  * as growing latency.
  *
  * Each batch's output is delivered to the caller through foreachBatch and
  * checked at the end against a replay of the input: for tumble, the
  * latest count and sum of every (window, key) add up to the input; for
  * funnel, the number of pairs and their summed latency equal those of a
  * sequential replay of the funnel rule. */
object StreamLoop {
  val Keys = 7L
  val Users = 50000L
  val WithinUs = 10L * 1000 * 1000
  // event time of batch 0: 2024-01-01T00:00:00Z (at time 0 itself the first
  // batch's events would sit exactly on the initial watermark of 0)
  val StartMs = 1704067200000L

  /** Spark's `xxhash64(value, salt)`: each column hashed into the previous
    * hash, starting from seed 42. */
  def hash(v: Long, salt: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    XXH64.hashLong(salt, XXH64.hashLong(v, 42L))
  }

  /** The warm-up query of set-up: a batch tumble, not one of the streams. */
  def warmUp(spark: SparkSession): Unit =
    Windows.tumble(spark.range(0, 200000).select(
        timestamp_millis(col("id")).as("ts"), pmod(col("id"), lit(Keys)).as("k")),
      col("ts"), "1 second", Seq(col("k")), Seq(count(lit(1)).as("n")))
      .write.format("noop").mode("overwrite").save()

  private def source(spark: SparkSession, rows: Long, intervalMs: Long, parts: Int): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rows)
      .option("numPartitions", parts)
      .option("startTimestamp", StartMs)
      .option("advanceMillisPerBatch", intervalMs)
      .load()

  def tumble(src: DataFrame, salt: Long): DataFrame = {
    val ev = src.select(col("timestamp").as("ts"),
      pmod(xxhash64(col("value"), lit(salt)), lit(Keys)).as("k"),
      pmod(col("value") + salt, lit(100L)).cast("double").as("v"))
    Windows.tumble(Windows.withWatermark(ev, Watermark("ts", "2 seconds")),
      col("ts"), "1 second", Seq(col("k")), Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
  }

  def funnel(src: DataFrame, salt: Long): DataFrame = {
    val ev = src.select(
      pmod(xxhash64(col("value"), lit(salt)), lit(Users)).as("user_id"),
      element_at(array(lit("click"), lit("purchase"), lit("view")),
        (pmod(xxhash64(col("value"), lit(salt + 1)), lit(3L)) + 1).cast("int")).as("event_type"),
      col("timestamp").as("ts"))
    Stateful.funnelPairs(Windows.withWatermark(ev, Watermark("ts", "2 seconds")),
      "user_id", "event_type", "ts", "click", "purchase", "10 seconds")
  }

  /** (rows, Σ sv) the tumble output must add up to after `batches`: every
    * input row is counted in exactly one (window, key). */
  def tumbleExpected(rows: Long, batches: Int, salt: Long): (Long, Double) = {
    val n = rows * batches
    var sv = 0L
    var v = 0L
    while (v < n) { sv += (v + salt) % 100; v += 1 }
    (n, sv.toDouble)
  }

  /** (pairs, Σ latency_us) of a sequential replay of the funnel rule over
    * the first `batches` batches. All events of a batch share its event
    * time, and at equal times a click sorts before a purchase, so per user
    * and batch: a click makes the batch time pending, then a purchase pairs
    * with the pending click if it is at most `within` old. */
  def funnelExpected(rows: Long, batches: Int, intervalMs: Long, salt: Long): (Long, Long) = {
    val pending = Array.fill(Users.toInt)(-1L)
    val click = Array.fill(Users.toInt)(-1)
    val purchase = Array.fill(Users.toInt)(-1)
    var pairs = 0L
    var latency = 0L
    for (b <- 0 until batches) {
      var v = b * rows
      while (v < (b + 1) * rows) {
        val u = math.floorMod(hash(v, salt), Users).toInt
        math.floorMod(hash(v, salt + 1), 3L) match {
          case 0 => click(u) = b
          case 1 => purchase(u) = b
          case _ => ()
        }
        v += 1
      }
      val ts = (StartMs + b * intervalMs) * 1000L
      var u = 0
      while (u < Users) {
        if (click(u) == b) pending(u) = ts
        if (purchase(u) == b && pending(u) >= 0 && ts - pending(u) <= WithinUs) {
          pairs += 1; latency += ts - pending(u); pending(u) = -1L
        }
        u += 1
      }
    }
    (pairs, latency)
  }

  /** One measured stream: its DataFrame, built once, and what its batches
    * delivered (tumble: (window µs, key) → (n, sv); funnel: (pairs, Σ µs)).
    * Every launch resumes from the same checkpoint. */
  private final class Stream(spark: SparkSession, val kind: String, opts: Map[String, String],
      salt: Long) {
    val rows: Long = opts(s"$kind-rows").toLong
    private val t0 = Clock.now
    private val df = {
      val src = source(spark, rows, opts("interval-ms").toLong, opts("cores").toInt)
      if (kind == "tumble") tumble(src, salt) else funnel(src, salt)
    }
    val buildMs: Double = Clock.now - t0
    val tumbleOut = new ConcurrentHashMap[Long, Seq[((Long, Long), (Long, Double))]]()
    val funnelOut = new ConcurrentHashMap[Long, (Long, Long)]()
    private val deliver: (DataFrame, Long) => Unit =
      if (kind == "tumble") (b, id) => {
        val got = b.select(unix_micros(col("window_start")), col("k"), col("n"), col("sv"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        tumbleOut.put(id, got.toSeq)
      } else (b, id) => {
        val r = b.agg(count(lit(1)), coalesce(sum(col("latency_us")), lit(0L))).head()
        funnelOut.put(id, (r.getLong(0), r.getLong(1)))
      }
    val checkpoint = s"${opts("work")}/ckpt-$kind"
    deleteTree(new java.io.File(checkpoint))

    def launch(trigger: Trigger): StreamingQuery = df.writeStream
      .queryName(kind)
      .outputMode(if (kind == "tumble") "update" else "append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(deliver)
      .start()
  }

  /** Runs the two streams in three phases, each stream resuming from its
    * checkpoint: the cold pass (each stream alone until its first batch is
    * done), a warm-up of `--warm-batches` batches back to back (both at
    * once), then the measured phase on the fixed trigger (both at once). */
  def run(spark: SparkSession, opts: Map[String, String]): Map[String, Any] = {
    val traced = opts("trace") == "1"
    val jobs = new JobListener
    if (traced) spark.sparkContext.addSparkListener(jobs)
    val spans = new Spans(traced)
    val runSpan = spans.begin(0, "run")
    // a non-negative salt from the seed
    val salt = math.floorMod(opts("seed").toLong * 2654435761L, 1L << 20)
    val warm = opts("warm-batches").toInt
    val measured = opts("batches").toInt
    val intervalMs = opts("interval-ms").toLong
    val progress = new ConcurrentHashMap[java.util.UUID, ConcurrentHashMap[Long, StreamingQueryProgress]]()
    def of(q: StreamingQuery) = progress.computeIfAbsent(q.id, _ => new ConcurrentHashMap())
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.computeIfAbsent(e.progress.id, _ => new ConcurrentHashMap())
          .put(e.progress.batchId, e.progress)
    }
    spark.streams.addListener(listener)
    val deadline = System.nanoTime() + ((warm + measured) * intervalMs * 3 + 60000L) * 1000000L
    /** Runs `qs` until `done` holds for each (or one fails), then stops them. */
    def phase(qs: Seq[StreamingQuery])(done: StreamingQuery => Boolean): Unit =
      try {
        while (qs.exists(q => !done(q) && q.exception.isEmpty) && System.nanoTime() < deadline)
          Thread.sleep(5)
        qs.foreach(q => q.exception.foreach(e => throw e))
        qs.find(q => !done(q)).foreach(q => throw new IllegalStateException(
          s"${q.name}: ${of(q).size} batches by the deadline"))
      } finally qs.foreach(_.stop())
    def last(q: StreamingQuery): Long = of(q).keySet.asScala.maxOption.getOrElse(-1L)

    val (cg0, cc0) = QueryLoop.codegen()
    val streams = Seq("tumble", "funnel").map(new Stream(spark, _, opts, salt))
    val backToBack = Trigger.ProcessingTime(0)
    val coldMs = streams.map { s =>
      val t = Clock.now
      val q = s.launch(backToBack)
      phase(Seq(q))(q => of(q).containsKey(0L))
      val p0 = of(q).get(0L)
      s.kind -> (startMs(p0) + p0.durationMs.get("triggerExecution") - t)
    }.toMap
    phase(streams.map(_.launch(backToBack)))(q => last(q) >= warm)
    val measuredQs = streams.map(_.launch(Trigger.ProcessingTime(intervalMs)))
    // the first batch after a launch re-plans the query: the measured
    // batches start at the next batch that starts on its trigger slot
    val firstIdx = measuredQs.map(q => q.id -> (last(q) + 2)).toMap
    def firstOnTime(q: StreamingQuery) = onTime(of(q), firstIdx(q.id).toInt, intervalMs)
    phase(measuredQs)(q => firstOnTime(q).exists(w => of(q).containsKey((w + measured - 1).toLong)))
    spark.streams.removeListener(listener)
    val (cg1, cc1) = QueryLoop.codegen()
    val out = streams.zip(measuredQs).map { case (s, q) =>
      s.kind -> (finish(spark, s, of(q), firstOnTime(q).get, opts, salt, jobs, spans, runSpan) +
        ("cold_ms" -> coldMs(s.kind)))
    }
    streams.foreach(s => deleteTree(new java.io.File(s.checkpoint)))
    spans.end(runSpan)
    Map("streams" -> out.toMap, "salt" -> salt, "spans" -> spans.all,
      "codegen_ms" -> (cg1 - cg0) / 1e6, "codegen_compiles" -> (cc1 - cc0))
  }

  private def startMs(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli

  /** The first batch from `from` on that started on its trigger slot. */
  private def onTime(ps: ConcurrentHashMap[Long, StreamingQueryProgress], from: Int,
      intervalMs: Long): Option[Int] =
    Iterator.from(from).takeWhile(i => ps.containsKey(i.toLong))
      .find(i => startMs(ps.get(i.toLong)) % intervalMs < math.min(100L, intervalMs / 10))

  /** The measured batches `warm` until `warm + --batches` of one stream, and
    * the check of everything it delivered up to the last of them. */
  private def finish(spark: SparkSession, stream: Stream,
      progress: ConcurrentHashMap[Long, StreamingQueryProgress], warm: Int,
      opts: Map[String, String], salt: Long, jobs: JobListener, spans: Spans,
      runSpan: Int): Map[String, Any] = {
    val kind = stream.kind
    val rows = stream.rows
    val intervalMs = opts("interval-ms").toLong
    val measured = opts("batches").toInt
    val total = warm + measured
    val tumbleOut = stream.tumbleOut
    val funnelOut = stream.funnelOut
    val traced = opts("trace") == "1"
    val ps = (0 until total).map(i => progress.get(i.toLong))
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def doneMs(p: StreamingQueryProgress) = startMs(p) + dur(p, "triggerExecution")
    val qSpan = spans.add(runSpan, s"query $kind", startMs(ps(warm)).toDouble, doneMs(ps.last))
    val slot = startMs(ps(warm)) / intervalMs * intervalMs
    val timed = ps.drop(warm).zipWithIndex.map { case (p, i) =>
      val due = (slot + i * intervalMs).toDouble
      Map[String, Any]("batch" -> p.batchId, "rows" -> p.numInputRows,
        "due_ms" -> due, "start_ms" -> startMs(p).toDouble, "done_ms" -> doneMs(p),
        "latency_ms" -> (doneMs(p) - due), "start_lag_ms" -> (startMs(p) - due),
        "trigger_ms" -> dur(p, "triggerExecution"), "planning_ms" -> dur(p, "queryPlanning"),
        "add_batch_ms" -> dur(p, "addBatch"), "wal_commit_ms" -> dur(p, "walCommit"),
        "commit_offsets_ms" -> dur(p, "commitOffsets"),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "late_rows" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    }

    // output check over every completed batch, warm ones included
    val check: Map[String, Any] =
      if (kind == "tumble") {
        val latest = scala.collection.mutable.Map[(Long, Long), (Long, Double)]()
        (0 until total).foreach(i => tumbleOut.get(i.toLong).foreach { case (k, v) => latest(k) = v })
        val (n, sv) = tumbleExpected(rows, total, salt)
        val gotN = latest.values.map(_._1).sum
        val gotSv = latest.values.map(_._2).sum
        Map("ok" -> (gotN == n && gotSv == sv && (0 until total).forall(i => tumbleOut.containsKey(i.toLong))),
          "rows" -> gotN, "expected_rows" -> n, "sum" -> gotSv, "expected_sum" -> sv)
      } else {
        val (pairs, lat) = funnelExpected(rows, total, intervalMs, salt)
        val got = (0 until total).flatMap(i => Option(funnelOut.get(i.toLong)))
        Map("ok" -> (got.size == total && got.map(_._1).sum == pairs && got.map(_._2).sum == lat),
          "pairs" -> got.map(_._1).sum, "expected_pairs" -> pairs,
          "pairs_per_batch" -> got.map(_._1),
          "latency_us" -> got.map(_._2).sum, "expected_latency_us" -> lat)
      }

    // spans: query → batch → progress phases (durations laid end to end in
    // trigger order; the progress report gives durations, not start times)
    timed.foreach { b =>
      val s = b("start_ms").asInstanceOf[Double]
      val bid = spans.add(qSpan, s"batch ${b("batch")}", s, b("done_ms").asInstanceOf[Double],
        Map("rows" -> b("rows"), "due_ms" -> b("due_ms")))
      var at = s
      Seq("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets").foreach { k =>
        val d = dur(ps(b("batch").asInstanceOf[Long].toInt), k)
        spans.add(bid, k, at, at + d); at += d
      }
    }
    val exec: Map[String, Any] =
      if (!traced) Map.empty
      else {
        PerfbenchBus.drain(spark.sparkContext)
        val keys = ps.drop(warm).map(p => s"${p.id}/${p.batchId}").toSet
        val st = jobs.stagesOfBatches(keys).filter(_.tasks > 0)
        def sumS(f: StageTotals => Long) = st.map(f).sum
        val js = jobs.jobsOfBatches(keys)
        Map("jobs" -> js.size, "stages" -> st.size,
          "job_ms" -> Tracing.covered(js.filter(_.end >= 0).map(j => (j.start.toDouble, j.end.toDouble)),
            Double.MinValue, Double.MaxValue),
          "tasks" -> sumS(_.tasks.toLong),
          "sched_wait_ms" -> (st.map(s => math.max(0L, s.firstLaunch - s.submitted)).sum +
            sumS(_.schedDelayMs)),
          "task_run_ms" -> sumS(_.runMs), "task_cpu_ms" -> sumS(_.cpuNs) / 1e6,
          "task_gc_ms" -> sumS(_.gcMs), "input_bytes" -> sumS(_.inputBytes),
          "shuffle_write_bytes" -> sumS(_.shuffleWriteBytes),
          "shuffle_read_bytes" -> sumS(_.shuffleReadBytes),
          "shuffle_fetch_wait_ms" -> sumS(_.fetchWaitMs), "spill_bytes" -> sumS(_.spillBytes))
      }
    Map("build_ms" -> stream.buildMs,
      "rows_per_batch" -> rows, "interval_ms" -> intervalMs, "warm_batches" -> warm,
      "batches" -> timed, "check" -> check, "exec" -> exec)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
