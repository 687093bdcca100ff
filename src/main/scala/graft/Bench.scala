package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: runs [[SparkEntry.headline]] on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total","value":…,"queries":{…}}.
  *
  * Results are materialized with a noop-format write (not count(): count
  * lets Catalyst prune every column and skips most of the work being
  * measured). AQE on, one shuffle partition per local core.
  *
  * Round-14 ladder protocol (verdict r13 #1/#2 — three consecutive
  * driver records died at rc=124 because the ladder outgrew the driver's
  * global wall clock): (a) ONE global budget, SPARK_GRAFT_TOTAL_BUDGET_SEC
  * (default 2400s, safely under the driver's observed ~50-min kill),
  * checked before every section, every query, every control, and the
  * streaming bench; (b) gate-scales-first section order — sf10 → sf100 →
  * streaming → sf1 — so whatever gets truncated is floor/trend data
  * nobody gates on, and sf1 is trimmed to a 5-query trend subset;
  * (c) a q01 anchor is recorded at EVERY SF section and an
  * anchor-normalized companion geomean (ratio_geomean_cal_*) is emitted
  * alongside the raw one, so a reader can separate host-window factor
  * from plan regression without cross-referencing BENCH_LARGE.md;
  * (d) the bucketed-layout warehouse ingest runs UNTIMED before the
  * controls (the r13 driver timed a full sf10 ingest inside the q202b
  * control window: 188.7s recorded for a ~12s query). */
/** The bench sessions' plan-shape SQLConfs, factored out so the
  * conf-regression guard (verdict r14 #3: Verify opt-in via
  * SPARK_GRAFT_BENCH_CONFS=1) sweeps EXACTLY the set the bench adopts —
  * the round-14 lesson was a fast-map conf that won its A/B on the
  * headline queries while thrashing a non-headline bucketed twin, and
  * nothing ran the wide corpus under the new confs before a human did.
  * The codegen cache capacity is a static conf, so every session takes
  * these at build time; the rationale for each lives in [[Bench.profile]]. */
object BenchConfs {
  val planConfs: Seq[(String, String)] = Seq(
    Sessions.codegenCache,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.shuffledHashJoinLocalMapThreshold" -> "512m",
    "spark.sql.autoBroadcastJoinThreshold" -> "67108864",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "67108864",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> "64000000",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> "671088640")

  /** Final-agg codegen fast-hash-map sizing — SCALE-DEPENDENT (round 15).
    * The 2^20-slot map wins 7-19% on the DS heavies at SF10+ (r14 A/B),
    * where final aggregates carry ~470k keys/task; but every final-agg
    * TASK pays the 2^20 bucket-array allocation+zeroing up front, which at
    * small inputs dwarfs the aggregate itself (measured at sf0.1: a bare
    * scan→groupBy→agg is 587ms with these confs vs 202ms default — ~12ms
    * × 32 tasks of pure map setup for a ~1k-key aggregate; interleaved
    * AbProbe medians over 4 headline agg queries: 0.48-0.90× with the
    * defaults restored). The capacity should track expected keys/task,
    * which scales with input size — so these confs are applied only when
    * the section's input exceeds `bigAggThresholdBytes` (≈SF≥10; per-task
    * final-agg key counts ≥~10^5), exactly like the per-section shuffle
    * partition and scan-split sizing. */
  val bigAggConfs: Seq[(String, String)] = Seq(
    "spark.sql.codegen.aggregate.map.twolevel.partialOnly" -> "false",
    "spark.sql.codegen.aggregate.fastHashMap.capacityBit" -> "20")

  val bigAggThresholdBytes: Long = 1L << 30

  // Cached per dir: large-SF dirs were re-walked on every newSession call.
  private val dirBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def dirBytes(dir: String): Long = {
    // Empty string is the "no on-disk input" sentinel (streaming sessions).
    // Paths.get("") resolves to the CWD, so without this short-circuit the
    // walk sized the whole checkout and silently applied bigAggConfs to the
    // stream bench whenever the working tree exceeded 1 GB (ADVICE r15).
    if (dir.isEmpty) return 0L
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return 0L
    val cached = dirBytesCache.get(dir)
    if (cached != null) return cached
    // an unreadable subtree must not abort the bench, but neither may it
    // pass for a small input: the failed walk is reported and not cached,
    // so the next call walks again (a file deleted mid-walk counts 0 B)
    try {
      val stream = java.nio.file.Files.walk(root)
      val bytes = try stream.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong { p =>
          try java.nio.file.Files.size(p)
          catch { case _: java.io.IOException => 0L }
        }.sum()
      finally stream.close()
      dirBytesCache.put(dir, bytes)
      bytes
    } catch { case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
      System.err.println(s"[bench] sizing $dir failed, treated as 0 B for this call: ${e.getMessage}")
      0L
    }
  }

  def aggConfsFor(dir: String): Seq[(String, String)] =
    if (dirBytes(dir) >= bigAggThresholdBytes) bigAggConfs else Seq.empty
}

object Bench {

  /** sf1 gates nothing (BASELINE.md floor-excludes it) yet a full section
    * cost minutes of the driver's clock — keep a 5-query trend subset:
    * scan+agg, multi-join, window, LSH dedup, DS rollup. */
  private val sf1Trend = Seq(
    "q01_agg", "q03_join_agg_top", "q12_window_rank", "q65_minhash_pairs",
    "q202_ds27_rollup_avgs")

  /** Timed but excluded from the ratio geomean: q80_control is the bare-
    * groupBy floor measurement for q80 (verdict r2 #8); the q114 pair
    * measures salted vs plain join on a deliberate 90%-hot key (#9). */
  private val controls = Seq(
    "q80_control", "q101_control", "q101b_tpch5_bucketed",
    "q103_control", "q103b_tpch13_bucketed",
    "q114_skew_hot_salted", "q114b_skew_hot_plain",
    "q202_control", "q202b_ds27_bucketed", "q204_control")

  /** Steady healthy-window q01 warm seconds per section, from the
    * BENCH_LARGE.md record (sf100: 3.55-4.25s across rounds 9-12 solo
    * runs; sf10: ~1.3s steady per r12/r13; sf1: ~0.9s, r13 driver floor).
    * The calibrated geomean divides by max(1, anchor/healthy) — it only
    * ever DEFLATES a degraded-window reading, never inflates a healthy
    * one. */
  private val healthyAnchor = Map("sf1" -> 0.90, "sf10" -> 1.30, "sf100" -> 3.90)

  /** Session confs of the bench section `section` reading `dataDir`, on
    * `cpus` local cores. graft.tools.PlanDump and graft.tools.AbProbe build
    * the same profile for a dir, so their plans and times match the bench's. */
  def profile(cpus: Int, section: String, dataDir: String): Seq[(String, String)] = {
    // Scale the shuffle/scan sizing with the data: at sf100 (600M-row
    // lineitem, ~9 GB parquet) one shuffle partition per core puts ~20M
    // rows and a multi-hundred-MB SHJ build in every task — spill, not
    // plan, is what that would measure. 256 partitions ≈ 150 MB
    // post-shuffle each (the cluster-correct sizing rule); AQE coalesces
    // any that come out small. Scan splits likewise: 4m splits small files
    // across all cores (at sf0.1 one file = one thread otherwise) and is
    // pure scheduling overhead at 9 GB, where the 64m split is right.
    val (parts, splitBytes) = if (section == "sf100") (256, "64m") else (cpus, "4m")
    Seq("spark.sql.shuffle.partitions" -> parts.toString) ++
      // Plan-shape SQLConfs, shared with the Verify conf-regression guard
      // via BenchConfs.planConfs. Rationale per conf:
      // - codegen.cache.maxEntries=1024 (Sessions.codegenCache, static):
      //   a headline query compiles ~20 classes and the rotation ~310,
      //   against Spark's default cache of 100, so every warm round
      //   evicted and recompiled ~310 classes. At 1024 a warm sf0.1 round
      //   compiles ≤10 (512 and 4096 too); peak RSS is unchanged at all
      //   three.
      // - adaptive.enabled: AQE re-plans skew/oversized partitions.
      // - preferSortMergeJoin=false: shuffled-hash over sort-merge for the
      //   big equi-joins — when the smaller side's per-partition share
      //   fits executor memory (true for every bench join, and the normal
      //   case on a sized cluster) SHJ skips both sort passes; measured
      //   1.4× on the SF10 TPC-H joins.
      // - shuffledHashJoinLocalMapThreshold=512m: preferSortMergeJoin only
      //   helps when the STATIC planner can prove the build side small;
      //   multi-join stats estimates explode and it falls back to SMJ
      //   (q101 at SF100 sorted 600M rows). This is AQE's runtime SMJ→SHJ
      //   conversion knob — default 0 = disabled; with exact post-shuffle
      //   sizes a 512m local map is the same bound a sized executor would
      //   carry. q101 SF100: 126s → 79s.
      // - autoBroadcastJoinThreshold=64m (both): TPC-H dimension sides
      //   pruned to join columns run 12-200 MB; 10m misses supplier by
      //   2 MB and a filtered customer by 3×. 64m is the routine
      //   sized-cluster setting (a 64 MB broadcast per executor is nothing
      //   against a 600M-row shuffle avoided).
      // - runtime.bloomFilter.*: orders filtered to 1/5 prunes the
      //   600M-row lineitem shuffle 5× before the exchange — but the
      //   defaults block it here: creation side must be <10 MB and the
      //   filter caps at 4M items. Allow 1 GB creation sides and size the
      //   filter for 64M keys (~80 MB bits ≈ what the creation-side agg
      //   would broadcast on a cluster). q101 SF100: 79s → 39s warm.
      // - twolevel.partialOnly=false + capacityBit=20 (SCALE-DEPENDENT,
      //   see BenchConfs.bigAggConfs): codegen fast hash map for FINAL
      //   aggregates, sized for the DS heavies' ~470k keys/task at SF10+
      //   (round 14, verdict r13 #3) — applied only when the section's
      //   input is ≥1 GB, because at small inputs the per-task 2^20
      //   bucket-array setup dominates the aggregate itself (round 15,
      //   measured 0.48-0.90× medians at sf0.1 with defaults restored).
      BenchConfs.planConfs ++ BenchConfs.aggConfsFor(dataDir) ++ Seq(
      "spark.sql.files.maxPartitionBytes" -> splitBytes,
      "spark.sql.files.openCostInBytes" -> "64k",
      // Single-JVM local mode: a long GC pause stalls driver and executor
      // together, so a 10s heartbeat RPC timeout + 120s liveness window
      // can kill the only executor mid-section (observed at SF100: one
      // >132s stall → context shutdown → exit 56). Local mode has no real
      // liveness question — the "executor" IS the driver process — so use
      // cluster-scale tolerances.
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.network.timeout" -> "600s")
  }

  /** Between-queries GC is SCALE-DEPENDENT (round 15): at big SFs a GC
    * pass lets the ContextCleaner release the previous query's checkpoint/
    * broadcast blocks (hundreds of MB each; measured session aging at
    * SF100 without it). But the JVM runs -XX:+ExplicitGCInvokesConcurrent
    * (a stop-the-world full GC once stalled local mode past the network
    * timeout), so System.gc() returns while the concurrent G1 cycle is
    * still running — INTO the next timed query. At sf0.1 the blocks are
    * KBs and the cycle is pure interference: measured on q204 warm (same
    * session, 8 passes each): with-gc med 2.32s / avg 2.68s / max 6.82s vs
    * no-gc med 1.22s / avg 1.60s / max 3.45s. */
  def gcBetween(dir: String): Boolean =
    BenchConfs.dirBytes(dir) >= BenchConfs.bigAggThresholdBytes

  def main(args: Array[String]): Unit = {
    val runStart = System.nanoTime()
    def globalElapsed: Double = (System.nanoTime() - runStart) / 1e9
    val totalBudget =
      sys.env.getOrElse("SPARK_GRAFT_TOTAL_BUDGET_SEC", "2400").toDouble
    def overBudget: Boolean = globalElapsed > totalBudget

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cores(32)
    val shuffleDir = {
      // tmpfs keeps shuffle traffic off the throttled host disk, but it
      // shares physical RAM with the ~50g heap and the page cache the
      // warm protocol depends on. Two guards (round-3 advice): (1) sweep
      // stale spark-*/blockmgr-* dirs a crashed run left behind — Spark
      // only removes them on clean stop, and ~25 GB of dead shuffle files
      // resident in RAM would skew everything; (2) require real headroom
      // (worst observed per-query footprint ~25 GB at SF100) or fall back
      // to java.io.tmpdir rather than race the OOM killer.
      val shm = new java.io.File("/dev/shm")
      val d = if (shm.isDirectory) {
        val dir = new java.io.File("/dev/shm/graft_shuffle")
        if (dir.isDirectory) Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("spark-") || f.getName.startsWith("blockmgr-"))
          .foreach { f =>
            def rm(x: java.io.File): Unit = {
              if (x.isDirectory) Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
              x.delete()
            }
            rm(f)
          }
        val headroomBytes = shm.getUsableSpace
        if (headroomBytes >= 40L * 1024 * 1024 * 1024) dir.getPath
        else {
          System.err.println(s"[bench] /dev/shm has only ${headroomBytes >> 30} GiB free " +
            "(<40 GiB worst-case shuffle+headroom) — falling back to java.io.tmpdir")
          System.getProperty("java.io.tmpdir")
        }
      } else System.getProperty("java.io.tmpdir")
      new java.io.File(d).mkdirs(); d
    }
    // Each large-SF section gets a FRESH SparkSession (same JVM — the JIT
    // and codegen caches stay warm): a single long-lived session
    // accumulates broadcast / bloom-filter / checkpoint blocks faster than
    // the ContextCleaner drains them, and the measured tail degrades with
    // session age, not query cost (observed: the same q65 at SF100 ran 96s
    // in a young session and 205s after the sf1+sf10 sections; the q80
    // bare-groupBy control inflated 1.5s -> 11s). Session teardown resets
    // the block manager; per-section sizing is baked into the builder.
    def newSession(section: String, dataDir: String): SparkSession =
      Sessions.local(cpus, profile(cpus, section, dataDir) :+
        // Shuffle/spill dirs on tmpfs: the host block device measures
        // ~190 MB/s direct-write, and host IO throttling varies run to run —
        // one recorded run had the bare-groupBy control at 31s vs its steady
        // 1.5s and sessionization at 826s vs 47s, purely from shuffle files
        // draining to the throttled disk (map-side-only queries on the same
        // data were unaffected). A real cluster node carries local NVMe for
        // exactly this traffic; tmpfs is the closest stand-in and keeps the
        // measurement about plans, not the host's disk QoS of the hour.
        // Worst per-query shuffle footprint at SF100 is ~25 GB (lz4), well
        // under the 62 GB /dev/shm cap, and Spark removes its temp dirs on
        // session stop.
        ("spark.local.dir" -> shuffleDir))

    var spark = newSession("main", sfDir)

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // one warm-up query to absorb JVM/codegen/first-scan startup cost
    run(SparkEntry.queries("q01_agg")(spark, sfDir))

    val gcMain = gcBetween(sfDir)

    def timeOne(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try run(fn(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench] $name: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      if (gcMain) System.gc()
      dt
    }

    // cold = first run (plan + codegen + scan); warm = second run, which is
    // the steady-state cost a long-lived session pays — the fixed JVM
    // per-query overhead dominates cold numbers at small SF.
    val headline = SparkEntry.headline
    val cold = headline.map(n => n -> timeOne(n))
    val warm = headline.map(n => n -> timeOne(n))
    def fmt(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }.mkString("{", ",", "}")
    val total = cold.map(_._2).sum
    val totalWarm = warm.map(_._2).sum
    val extra = new StringBuilder
    // Gate-verdict bits mirrored into the COMPACT final line (round-6
    // driver record had parsed:null because the ~4 KB full line, re-printed
    // last, outgrew the driver's 2000-char tail capture — its head was cut
    // mid-line). The compact line carries only what the gate needs.
    val compactExtra = new StringBuilder

    // ---- incremental line-of-record (round-12 verdict #1) ----
    // The round-12 driver record was rc=124/parsed:null: the grown ladder
    // outlived the driver's budget and the ONLY metric print sat after the
    // sections that never ran. Three levers so a truncated run still leaves
    // a parsable record: (a) the compact gate line is printed after EVERY
    // SF section (geomeans accumulated so far), not only at the end;
    // (b) BENCH_LAST.json is rewritten at each of those checkpoints;
    // (c) a lowest-priority Hadoop shutdown hook re-prints the latest
    // compact line — SIGTERM runs shutdown hooks, and priority 0 sequences
    // AFTER Spark's context-stop (40s-range priorities), so the line lands
    // at the very tail of stdout even when the JVM is killed mid-section.
    // Round 14 (ADVICE r13): until the final print sets `runCompleted`,
    // the hook marks its reprint ,"partial":true — a mid-section SIGTERM
    // reprints the LAST CHECKPOINT's line, whose totals silently exclude
    // the in-flight section, and a parser must be able to tell.
    @volatile var runCompleted = false
    def compactLineOf(withRatioMap: Boolean): String = {
      val ce = if (withRatioMap) compactExtra.toString
               else compactExtra.toString.replaceAll(""","ratio_sf100":\{[^}]*\}""", "")
      f"""{"metric":"total","value":$totalWarm%.3f,"unit":"sec","queries":${fmt(warm)}""" +
        f""","value_cold":$total%.3f""" +
        ce + f""","sf":"$sfDir","detail":"BENCH_LAST.json"}"""
    }
    def fullLineOf(): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${fmt(cold)},""" +
        f""""value_warm":$totalWarm%.3f,"queries_warm":${fmt(warm)}""" +
        extra.toString + f""","sf":"$sfDir"}"""
    val latestCompact = new java.util.concurrent.atomic.AtomicReference[String]("")
    def checkpoint(): Unit = {
      val c = { val full = compactLineOf(true); if (full.length <= 1900) full else compactLineOf(false) }
      latestCompact.set(c)
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LAST.json"), fullLineOf() + "\n")
      println(c)
      System.out.flush()
    }
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        def run(): Unit = {
          val c = latestCompact.get()
          if (c.nonEmpty) {
            val line = if (runCompleted) c
              else c.patch(c.lastIndexOf('}'), ""","partial":true""", 0)
            println(line); System.out.flush()
            // stdout through an sbt pipe can be dropped when the child
            // dies mid-kill — also persist the marked line. A SIBLING
            // file, not BENCH_LAST.json: appending here would turn the
            // detail file into two JSON documents and break any consumer
            // doing a whole-file json.load (ADVICE r14).
            if (!runCompleted)
              try java.nio.file.Files.writeString(
                java.nio.file.Paths.get("BENCH_LAST.partial.jsonl"), line + "\n",
                java.nio.file.StandardOpenOption.CREATE,
                java.nio.file.StandardOpenOption.APPEND)
              catch { case _: Throwable => }
          }
        }
      }, 0)

    /** Embed per-query DuckDB ratios + geomean for a section when a
      * committed baseline over the SAME files exists (bench/duckdb_<tag>
      * .json, from tools/bench_duckdb.py). With a q01 anchor and a
      * healthy-window reference, also emit the anchor-normalized
      * companion geomean — raw stays the number of record; calibrated
      * separates host factor from plan regression (verdict r13 #2). */
    def embedRatios(tag: String, w: Seq[(String, Double)],
        anchor: Option[Double], keyTag: String = ""): Unit = {
      // keyTag: JSON key suffix; defaults to tag. The main section passes a
      // distinct suffix when SPARK_GRAFT_SF_DIR's basename collides with a
      // ladder tag — otherwise the record carries duplicate keys and most
      // parsers silently keep the last occurrence (ADVICE r14).
      val kt = if (keyTag.isEmpty) tag else keyTag
      val dj = new java.io.File(s"bench/duckdb_$tag.json")
      if (!dj.exists()) return
      val txt = new String(java.nio.file.Files.readAllBytes(dj.toPath))
      val pat = "\"(q\\w+)\":\\s*([0-9.]+)".r
      val duck = pat.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
      val ratios = w.collect { case (n, s) if duck.get(n).exists(_ > 0) => n -> s / duck(n) }
      if (ratios.isEmpty) return
      val geo = math.exp(ratios.map(r => math.log(r._2)).sum / ratios.size)
      extra ++= s""","duckdb_$kt":${fmt(w.map(n => n._1 -> duck.getOrElse(n._1, -1.0)))}"""
      extra ++= s""","ratio_$kt":${fmt(ratios)},"ratio_geomean_$kt":${f"$geo%.3f"}"""
      compactExtra ++= s""","ratio_geomean_$kt":${f"$geo%.3f"}"""
      for (a <- anchor; h <- healthyAnchor.get(tag)) {
        val hostFactor = math.max(1.0, a / h)
        val cal = geo / hostFactor
        extra ++= f""","ratio_geomean_cal_$kt":$cal%.3f,"anchor_factor_$kt":$hostFactor%.2f"""
        compactExtra ++= f""","ratio_geomean_cal_$kt":$cal%.3f"""
      }
      // per-query ratios at the biggest (compute-dominated) SF only —
      // the one map the 2×-gate judgment actually reads
      if (kt == "sf100") compactExtra ++= s""","ratio_sf100":${fmt(ratios)}"""
    }

    // Main (driver-chosen, floor-dominated) section: the warm q01 doubles
    // as its anchor — the warm-up run already primed the session.
    locally {
      val base = new java.io.File(sfDir).getName
      val mainTag = if (Set("sf1", "sf10", "sf100")(base)) s"main_$base" else base
      warm.find(_._1 == "q01_agg").foreach { case (_, a) =>
        extra ++= f""","q01_anchor_$mainTag":$a%.3f"""
      }
      embedRatios(base, warm, None, keyTag = mainTag)
    }
    checkpoint()

    /** Large-SF section (round-1 verdict: sf0.1 is all JVM floor — the 2×
      * gate is only measurable where compute dominates). data/sfN is
      * emitted by graft.tools.DataGen; bench/duckdb_sfN.json by
      * tools/bench_duckdb.py on the SAME files. Ratio = spark_warm/duckdb.
      *
      * Protocol: sf1/sf10 = cold pass + best-of-2 warm (±30% GC/IO noise
      * at these sizes would swamp plan differences), with a dedicated q01
      * anchor read between the passes. sf100 = per-query ADJACENT
      * best-of-3 after a q01 priming run AND a raw sequential read of
      * every parquet file: shuffle-write pressure evicts the 9 GB dataset
      * from the page cache between runs, so first-touch scans randomly
      * paid disk (observed 4-15s swings on the same query; one recorded
      * run had q01 at 64s vs its steady 4s). The byte-level pre-read warms
      * the cache without touching the JVM, and back-to-back min per query
      * keeps both attempts under the same session age. The DuckDB baseline
      * is warm best-of-3 over the same files, so best-of-N warm is
      * like-for-like. */
    def runSection(tag: String, protocol: String, sectionNames: Seq[String]): Unit = {
      val dir = sys.env.getOrElse(s"SPARK_GRAFT_${tag.toUpperCase}_DIR", s"/root/repo/data/$tag")
      if (!new java.io.File(dir).exists() || sys.env.contains("SPARK_GRAFT_SKIP_BIG")) return
      if (overBudget) {
        System.err.println(f"[bench] global budget ${totalBudget}s exhausted " +
          f"(${globalElapsed}%.0fs elapsed) — skipping section $tag entirely")
        extra ++= s""","${tag}_skipped":true"""
        compactExtra ++= s""","${tag}_skipped":true"""
        checkpoint()
        return
      }
      spark.stop()
      spark = newSession(tag, dir)
      val gcHere = gcBetween(dir)
      def timeAt(name: String): Double = {
        val t0 = System.nanoTime()
        try run(SparkEntry.queries(name)(spark, dir))
        catch { case e: Throwable => System.err.println(s"[bench] $tag $name: ${e.getMessage}") }
        val dt = (System.nanoTime() - t0) / 1e9
        if (gcHere) System.gc()
        dt
      }
      warmPageCache(dir)
      // the bucketed-layout controls read warehouse copies of the fact
      // tables — warm those too, or their first timed run measures
      // cold disk instead of the plan
      def warmWarehouse(): Unit = {
        val suffix = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val wh = new java.io.File("spark-warehouse")
        Option(wh.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.contains(suffix))
          .foreach(f => warmPageCache(f.getPath))
      }
      warmWarehouse()
      val names = sectionNames.filter(SparkEntry.queries.contains)
      // SF100 self-defense (round-12 verdict #1, generalized round 14):
      // (a) the post-priming q01 anchor read is compared against the
      // healthy calibration band — out of band means the host window is
      // degraded, so the sf100 protocol drops to adjacent best-of-2 and
      // skips the two DS heavies (whose ~10 min of SF100 attempts are
      // what blew the round-12 budget) rather than record window noise at
      // full protocol cost; (b) a section budget (capped by the remaining
      // GLOBAL budget at every scale) — once exceeded, remaining queries
      // are skipped (counted in the record) instead of running the
      // section to death.
      var sectionBudget = math.max(0.0, totalBudget - globalElapsed)
      var sectionStart = System.nanoTime()
      def sectionElapsed = (System.nanoTime() - sectionStart) / 1e9
      var truncated = 0
      var anchor = Double.NaN
      val w0 = protocol match {
        case "adjacentBest3" =>
          timeAt("q01_agg") // priming: codegen + catalog + first-scan setup
          anchor = timeAt("q01_agg")
          val anchorMax = sys.env.getOrElse("SPARK_GRAFT_SF100_ANCHOR_MAX", "6.0").toDouble
          sectionBudget = math.min(
            sys.env.getOrElse("SPARK_GRAFT_SF100_BUDGET_SEC", "1500").toDouble,
            math.max(0.0, totalBudget - globalElapsed))
          sectionStart = System.nanoTime()
          val degraded = anchor > anchorMax
          // best-of-3 (was 2): single-query interference windows (host
          // CPU steal / writeback bursts, 48g full-GC pauses landing
          // inside a timed run) were observed to last past two adjacent
          // attempts — a q01 steady at 4.5s once recorded 36.8s as the
          // min of two. Three adjacent attempts bound one bad window.
          val attempts = if (degraded) 2 else 3
          val skip: Set[String] =
            if (degraded) Set("q202_ds27_rollup_avgs", "q204_ds47_yoy_monthly")
            else Set.empty
          if (degraded) {
            System.err.println(f"[bench] $tag q01 anchor $anchor%.2fs > $anchorMax%.1fs " +
              "calibration band: degrading to best-of-2 and skipping the DS heavies")
            extra ++= s""","${tag}_degraded":true"""
            compactExtra ++= s""","${tag}_degraded":true"""
          }
          names.flatMap { n =>
            if (skip(n)) None
            else if (sectionElapsed > sectionBudget) { truncated += 1; None }
            else {
              // the anchor read doubles as q01's first attempt
              val first = if (n == "q01_agg") anchor else timeAt(n)
              Some(n -> (first +: Seq.fill(attempts - 1)(timeAt(n))).min)
            }
          }
        case _ =>
          // cold pass (budget-guarded: a degraded-window cold pass at sf10
          // is exactly what spent the r13 driver's clock)
          names.foreach(n => if (sectionElapsed <= sectionBudget) timeAt(n))
          // dedicated anchor read between the passes — doubles as q01's
          // first warm attempt. Budget-guarded (ADVICE r14): if the cold
          // pass already spent the section budget, an extra timed q01 here
          // would be a cold/degraded read feeding anchor_factor for a
          // section whose warm results were all truncated anyway.
          if (sectionElapsed <= sectionBudget) anchor = timeAt("q01_agg")
          val w1 = names.flatMap { n =>
            if (sectionElapsed > sectionBudget) { truncated += 1; None }
            else Some(n -> (if (n == "q01_agg") math.min(anchor, timeAt(n))
                            else math.min(timeAt(n), timeAt(n))))
          }
          // end-of-section q01 recheck: the tail queries measure in a
          // session aged by ~45 prior executions — recording the anchor
          // drift makes within-section aging READABLE in the record (the
          // r14 ladder's q204 read 1.4× beyond the window factor; without
          // this row that residual is unattributable)
          if (sectionElapsed <= sectionBudget) {
            val recheck = timeAt("q01_agg")
            extra ++= f""","q01_recheck_$tag":$recheck%.3f"""
          }
          w1
      }
      if (truncated > 0) {
        System.err.println(s"[bench] $tag section budget ${sectionBudget}s exceeded: " +
          s"$truncated queries skipped")
        extra ++= s""","${tag}_truncated":$truncated"""
        compactExtra ++= s""","${tag}_truncated":$truncated"""
      }
      // Self-defending calibration row: q01 is measured FIRST in the
      // section, so a co-tenant interference window at section start can
      // outlast all three adjacent attempts and become the line of record
      // (round 6: 35.9 s recorded vs 6.4 s steady on the same plan). Re-
      // measure it after the whole section — minutes later — and keep the
      // better pair; the recheck value is recorded either way so the
      // divergence itself is visible in the detail line.
      val w = if (protocol == "adjacentBest3" && w0.exists(_._1 == "q01_agg") &&
          sectionElapsed <= sectionBudget) {
        val recheck = Seq.fill(2)(timeAt("q01_agg")).min
        extra ++= f""","q01_recheck_$tag":$recheck%.3f"""
        w0.map { case ("q01_agg", v) => "q01_agg" -> math.min(v, recheck); case kv => kv }
      } else w0
      if (!anchor.isNaN) extra ++= f""","q01_anchor_$tag":$anchor%.3f"""
      extra ++= s""","queries_${tag}_warm":${fmt(w)}"""
      embedRatios(tag, w, if (anchor.isNaN) None else Some(anchor))
      // floor + skew controls at the compute-dominated SFs only; under a
      // blown budget the headline record outranks the floor attributions —
      // skip rather than risk the whole-run record. The bucketed-layout
      // ingest runs UNTIMED first (r13: a full sf10 ingest was timed
      // inside the q202b control window — 188.7s recorded for a ~12s
      // query) and the fresh warehouse files are page-cache warmed.
      if (tag != "sf1" && sectionElapsed <= sectionBudget && !overBudget) {
        try {
          graft.queries.BucketedLayout.ensureAll(spark, dir)
          warmWarehouse()
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $tag bucketed ingest: ${e.getMessage}")
        }
        val ctl = controls.filter(SparkEntry.queries.contains)
        var ctlTruncated = 0
        val cw = ctl.flatMap { n =>
          if (overBudget) { ctlTruncated += 1; None }
          else { val a = timeAt(n); Some(n -> math.min(a, timeAt(n))) }
        }
        if (ctlTruncated > 0)
          extra ++= s""","${tag}_controls_truncated":$ctlTruncated"""
        extra ++= s""","controls_$tag":${fmt(cw)}"""
      }
      checkpoint()
    }

    // Gate scales FIRST (verdict r13 #1): whatever the driver's clock
    // truncates is floor/trend data nobody gates on. Streaming runs
    // between the two gate scales: it costs ~2-4 min, the funnel number
    // is a carried verdict item, and in BOTH round-14 ladders the global
    // budget ran out inside the sf100 section — streaming placed after
    // sf100 never executes in a degraded window, while sf100 placed
    // after streaming just truncates a couple more floor queries (its
    // own budget + degradation protocol absorb the loss).
    runSection("sf10", "coldThenBest2", headline)

    // Streaming throughput (round-2 verdict #10): rate-source micro-bench
    // for the tumble aggregation and the stateful funnel — rows/sec
    // actually processed over a fixed wall window. Streaming is a claimed
    // capability superset; this puts a performance number in the record.
    if (!sys.env.contains("SPARK_GRAFT_SKIP_STREAM")) {
      if (globalElapsed > totalBudget - 180) {
        System.err.println(f"[bench] global budget nearly exhausted " +
          f"(${globalElapsed}%.0fs of ${totalBudget}s) — skipping streaming bench")
        extra ++= s""","stream_skipped":true"""
        compactExtra ++= s""","stream_skipped":true"""
      } else {
        // Fresh session PER STREAMING QUERY (round 16): the same
        // session-aging effect the per-section fresh sessions exist for was
        // visible here too — the in-ladder funnel read 7.5M rows/s while a
        // fresh-JVM probe in the same window read ~12M (r13 saw the same
        // solo-vs-ladder gap). A new session keeps the JVM's JIT/codegen
        // caches but resets the block manager and state-store registries.
        // Streaming sources are rate-generated (no on-disk input): the ""
        // sentinel keeps the small-agg default fast-map sizing.
        val s = streamingBench(() => overBudget) { () =>
          spark.stop()
          spark = newSession("stream", "")
          spark
        }
        extra ++= s
        compactExtra ++= s
      }
      checkpoint()
    }

    runSection("sf100", "adjacentBest3", headline)
    runSection("sf1", "coldThenBest2", sf1Trend)

    // Compact line of record: the driver captures only the LAST ~2000 chars
    // of stdout, and round 6 proved the full line (~4 KB once per-SF maps
    // accrue) gets its head truncated there. The compact line carries the
    // contract fields (metric/value/unit/queries/sf) plus the gate verdict
    // (ratio geomeans, sf100 per-query ratios, stream throughput) and is
    // printed LAST — and, since round 13, also after every SF section via
    // checkpoint(); full detail lives in the first print + BENCH_LAST.json.
    // "value" and "queries" must agree (sum of queries ≈ value): both are
    // WARM here, with the cold total under "value_cold" — the full line
    // keeps its original cold-under-"queries" vocabulary, so a parser of
    // either line sees internally consistent semantics.
    val line = fullLineOf()
    val compact = { val c = compactLineOf(true); if (c.length <= 1900) c else compactLineOf(false) }
    latestCompact.set(compact)
    println(line)
    // Belt and braces for the line of record: build.sbt routes forked run
    // output through StdoutOutput (undecorated), and the exact line is also
    // written to a file in case any wrapper still mangles stdout.
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LAST.json"), line + "\n")
    // The round-5 driver record lost this line to tail-capture: spark.stop()
    // and the JVM shutdown hooks spew thousands of tmpfs shuffle-cleanup
    // WARNs AFTER the metric printed, flooding the log tail. Silence
    // shutdown logging entirely and print the COMPACT metric as the absolute
    // last stdout line so the 2000-char tail window contains it whole.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    runCompleted = true
    println(compact)
  }

  /** Sequential byte read of every file under dir: warms the OS page cache
    * with zero JVM-side compute, so timed scans measure decode + plan, not
    * whether the previous run's shuffle writes evicted the dataset. */
  private def warmPageCache(dir: String): Unit = {
    val buf = new Array[Byte](1 << 20)
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      stream.filter(p => java.nio.file.Files.isRegularFile(p)).forEach { p =>
        val in = java.nio.file.Files.newInputStream(p)
        try { while (in.read(buf) >= 0) {} } finally in.close()
      }
    } finally stream.close()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Runs each streaming job against an unthrottled rate source and reports
    * achieved rows/sec. Throughput is computed from the engine's own
    * per-batch trigger durations over completed micro-batches — a fixed
    * wall-clock sleep (the first cut) raced query startup + the first
    * macro-batch and could observe zero completed batches. */
  private def streamingBench(overBudget: () => Boolean)(
      newSession: () => SparkSession): String = {
    import graft.streaming.{Watermark, Windows, Stateful}

    // None when the global budget ran out before the first timed attempt
    def measure(build: DataFrame => DataFrame, mode: String, name: String): Option[Double] = {
      if (overBudget()) return None
      val spark = newSession()
      // one full stream run → (rows/sec over post-startup batches, how
      // many post-startup batches that rate rests on, the
      // startup-inclusive rate kept as the last-resort fallback)
      def once(): (Double, Int, Double) = {
        // Offered rate 10M → 80M rows/s (round 16, measurement-bug fix;
        // older figures are not comparable): with the r15 JIT warm-up in
        // place the engine keeps up with 10M/s from the first timed batch,
        // so post-startup batches contain only ~1-2s of arrivals and the
        // metric reads the SOURCE THROTTLE (~10M), not the engine. (The old
        // 12.7M tumble record exceeded the offered rate itself — only
        // possible while draining a JIT-cold backlog, i.e. it measured the
        // pile-up.) 80M/s keeps every batch saturated, so rows/triggerSec
        // is engine capacity; old-semantics numbers stay in BENCH_r15.json
        // and earlier.
        val rate = spark.readStream.format("rate")
          .option("rowsPerSecond", "80000000")
          .option("numPartitions", "8")
          .load()
        val ckpt = java.nio.file.Files.createTempDirectory(s"bench_$name")
        val q = build(rate).writeStream.format("noop")
          .outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
          .start()
        try {
          // wait for ≥3 data-carrying batches (first one absorbs startup —
          // in a fresh session the stateful queries' first triggers also pay
          // codegen + state-store init, so batches tick slowly at first;
          // 90s accommodates that and the loop exits early once satisfied)
          val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
          while (q.recentProgress.count(_.numInputRows > 0) < 3 &&
                 System.nanoTime() < deadline) Thread.sleep(250)
          // the startup batch (codegen + state-store init) is NEVER part
          // of the clean measurement — a lone-batch "throughput" is a
          // startup cost reading, not a rate (round-9 record had the
          // funnel at 1.76M rows/s from exactly this bias; steady ~8M).
          // It is still computed as the last-resort fallback below.
          def rate(batches: Array[org.apache.spark.sql.streaming.StreamingQueryProgress]): Double = {
            val rows = batches.map(_.numInputRows).sum
            val secs = batches.map(p =>
              Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
              .sum / 1000.0
            if (secs > 0) rows / secs else 0.0
          }
          val all = q.recentProgress.filter(_.numInputRows > 0)
          val ps = all.drop(1)
          (rate(ps), ps.length, rate(all))
        } finally { q.stop(); deleteRecursively(ckpt.toFile) }
      }
      // JIT warm-up (round 15): a short throwaway stream of the same plan
      // before any timed attempt. The unthrottled rate source generates a
      // backlog while the FIRST data batch runs codegen+JIT cold (tens of
      // seconds on a busy host); every later batch then sorts a snowballed
      // 100M+-row backlog and the recorded rate measures the pile-up, not
      // the engine (probed same-JVM: first run 3.3M rows/s, second 6.4M —
      // the tumble control was unaffected because its batches stay cheap
      // enough to outrun the backlog even cold). The timed attempts below
      // keep their exact semantics (post-startup batches only).
      locally {
        val ckpt = java.nio.file.Files.createTempDirectory(s"warm_$name")
        val q = build(spark.readStream.format("rate")
            .option("rowsPerSecond", "1000000").option("numPartitions", "8").load())
          .writeStream.format("noop").outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
          .start()
        try {
          val deadline = System.nanoTime() + 25L * 1000 * 1000 * 1000
          while (q.recentProgress.count(_.numInputRows > 0) < 2 &&
                 System.nanoTime() < deadline) Thread.sleep(250)
          // a warm-up that burned its whole deadline without 2 data batches
          // means the timed attempts start JIT-cold after all — make that
          // visible instead of silent (ADVICE r15)
          if (q.recentProgress.count(_.numInputRows > 0) < 2)
            System.err.println(s"[bench] $name warm-up hit its 25s deadline " +
              s"with <2 data batches — timed attempts may start JIT-cold")
        } finally { q.stop(); deleteRecursively(ckpt.toFile) }
      }
      // prefer RE-RUNNING the stream to recording a known-biased number:
      // a run that produced <2 post-startup batches (co-tenant stall)
      // retries; if the host never yields a clean run, report the best
      // clean rate seen, falling back to the best startup-inclusive
      // estimate — a marked-biased number still beats a false 0.
      // Round 16: best of TWO clean runs (was: return the first clean one)
      // — the batch sections already take best-of-2 warm for exactly this
      // reason (a single attempt inherits whatever window it lands in; the
      // r15 driver's tumble read 8.5M in a window where the same plan
      // probed at 12M). Costs ~30s per stream query, bounded by 3 attempts,
      // each started only while the global budget lasts.
      var bestClean = 0.0
      var bestBiased = 0.0
      var cleanRuns = 0
      var attempt = 0
      while (attempt < 3 && cleanRuns < 2 && !overBudget()) {
        val (v, n, biased) = once()
        bestBiased = math.max(bestBiased, biased)
        if (n >= 2) { cleanRuns += 1; bestClean = math.max(bestClean, v) }
        attempt += 1
      }
      if (attempt == 0) None else Some(if (bestClean > 0) bestClean else bestBiased)
    }

    val tumble = measure(rate => {
      val ev = rate.select(col("timestamp").as("ts"),
        (col("value") % 7).as("k"), (col("value") % 100).cast("double").as("v"))
      Windows.tumble(Windows.withWatermark(ev, Watermark("ts", "2 seconds")),
        col("ts"), "1 second", Seq(col("k")),
        Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    }, "update", "tumble")

    val funnel = measure(rate => {
      val ev = rate.select(
        (col("value") % 50000).as("user_id"),
        element_at(array(lit("click"), lit("purchase"), lit("view")),
          (col("value") % 3 + 1).cast("int")).as("event_type"),
        col("timestamp").as("ts"))
      Stateful.funnelPairs(Windows.withWatermark(ev, Watermark("ts", "2 seconds")),
        "user_id", "event_type", "ts", "click", "purchase", "10 seconds")
    }, "append", "funnel")

    def field(name: String, rate: Option[Double]): String = rate match {
      case Some(r) => f""","stream_${name}_rows_per_sec":$r%.0f"""
      case None =>
        System.err.println(s"[bench] global budget exhausted — $name stream not measured")
        s""","stream_${name}_skipped":true"""
    }
    field("tumble", tumble) + field("funnel", funnel)
  }
}
