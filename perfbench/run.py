#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload interactive_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness
(perfbench/harness, sbt) and the fixtures (graft.tools.DataGen, checked
once per fixture and program version against the DuckDB oracle SQL in
graft.SparkEntry.oracleSql); later runs reuse them. Everything the
benchmark writes goes under .perfbench/ in the checkout: builds, data,
records (records/*.json) and traces (traces/*.json).

The last line of standard output is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). See perfbench/README.md for what each one means.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
WORK = os.path.join(ROOT, ".perfbench")

# The benchmark's copy of graft.Bench's headline list (see README.md).
HEADLINE = [
    "q01_agg", "q03_join_agg_top", "q12_window_rank", "q19_asof_join",
    "q37_mode", "q60b_text_stats_full", "q63_dedup_keep_first", "q65_minhash_pairs",
    "q68_embedding_topk", "q71_quality_pipeline", "q80_tumble", "q82_session",
    "q101_tpch5_local_volume", "q103_tpch13_custdist",
    "q202_ds27_rollup_avgs", "q204_ds47_yoy_monthly"]
# Headline queries the program answers wrongly on the fixture (their
# fingerprint differs from the DuckDB oracle), each with the cause. They are
# still run and compared with their oracle whenever the fixture is
# fingerprinted, and that result goes to stderr and into every record, but
# they are left out of the timed rounds, so `correct` reports on the queries
# that are timed. Drop an entry once its fingerprint reads "match".
KNOWN_WRONG = {
    "q60b_text_stats_full": "sums 6-decimal ratios with QueryDef.dsum (MoneySum4), whose "
                            "rounding matches a DECIMAL(38,4) cast only on the 4-decimal grid",
}
TIMED = [q for q in HEADLINE if q not in KNOWN_WRONG]

WORKLOADS = {
    "interactive_sf0.1": {"kind": "queries", "sf": "0.1"},
    "stream": {"kind": "stream"},
}
# The JVM heap is fixed and committed up front (-Xms = -Xmx), so neither GC
# sizing nor peak RSS drifts from run to run.
HEAP = "2g"

# One warm round of the query workload per this many seconds of --seconds
# (a round takes about 14 s on a 4-core host): a whole number of rounds, so
# every query weighs the same and the sample count does not drift with speed.
SECONDS_PER_ROUND = 10
SETUP_SAMPLES = 2  # set-up is measured in this many fresh JVMs per run

# Stream schedule: a fixed trigger interval, and rows per batch that keep
# each stream about 65% busy on a 4-core host (README.md).
STREAM = {"interval-ms": 1000, "warm-batches": 8,
          "tumble-rows": 300000, "funnel-rows": 120000}

DEADLINE_S = 170  # every run ends within this, or fails

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# The printed end-to-end metrics. The latency percentiles go only into the
# record: a run has 15 or 20 latency samples, one per query on the query
# workload, so latency_p50_ms is whichever query ranks in the middle and
# jumps by the gap to its neighbour, and latency_tail_ms (the highest
# percentile with ten samples beyond it) is the p33 or the p50, not a tail.
# latency_geomean_ms weighs every query (or stream) the same.
END_TO_END = {
    "setup_s": "s", "qps": "1/s", "latency_geomean_ms": "ms", "cold_pass_s": "s",
    "peak_rss_mb": "MB"}

STREAM_LAYER = ["trigger_ms", "planning_ms", "add_batch_ms", "wal_commit_ms", "start_lag_ms",
                "state_rows", "state_bytes", "state_commit_ms", "late_rows"]
PER_LAYER = {
    "queries.build_ms": "ms", "queries.build_jobs": "count", "queries.table_resolve_ms": "ms",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "plan.final_exchanges": "count",
    "exec.job_ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sched_wait_ms": "ms", "exec.driver_gap_ms": "ms",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.task_gc_ms": "ms",
    "exec.input_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_fetch_wait_ms": "ms",
    "exec.spill_bytes": "bytes",
    "exec.codegen_compile_ms": "ms", "exec.codegen_compiles": "count",
    "interop.sink_self_ms": "ms", "interop.sink_jobs": "count", "interop.arrow_bytes": "bytes",
    **{f"{q}.streaming.{m}": ("count" if m == "state_rows" else
                              "bytes" if m == "state_bytes" else
                              "rows" if m == "late_rows" else "ms")
       for q in ("tumble", "funnel") for m in STREAM_LAYER},
    **{f"{q}.{m}": u for q in ("tumble", "funnel")
       for m, u in (("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"),
                    ("rows_per_busy_s", "rows/s"))},
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
    "trace.latency_geomean_ms": "ms",
}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return None


def check_checkout():
    missing = [p for p in ("src/main/scala/graft", "perfbench/harness/build.sbt")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise BenchError(f"not a graft checkout (missing {', '.join(missing)}) at {ROOT}")
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME is not set: the harness compiles and runs on its jars")


def source_digest():
    """Digest of everything the harness is compiled from."""
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*.scala"), recursive=True) +
                   glob.glob(os.path.join(HARNESS, "src/**/*.scala"), recursive=True) +
                   [os.path.join(HARNESS, "build.sbt"),
                    os.path.join(HARNESS, "project", "build.properties")])
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run_logged(cmd, logname, deadline, cwd=None, env=None):
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    with open(os.path.join(WORK, "logs", logname), "w") as out:
        try:
            r = subprocess.run(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                               timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"{logname}: timed out")
    if r.returncode != 0:
        raise BenchError(f"{logname}: exit {r.returncode} (see .perfbench/logs/{logname})")


def build(digest, deadline):
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building the harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], "build.log",
               deadline, cwd=HARNESS, env=env)
    with open(stamp, "w") as f:
        f.write(digest)


def java(args, main="perfbench.Main"):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([CLASSES, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}/spark-local", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main, *args]


def fixture(sf, deadline):
    """The generated tables of scale factor `sf`, made once per checkout with
    graft.tools.DataGen; manifest.tsv holds their row counts, which every
    run's set-up checks against the parquet footers."""
    d = os.path.join(WORK, "data", f"sf{sf}")
    manifest = os.path.join(d, "manifest.tsv")
    if os.path.exists(manifest):
        return d
    log(f"generating sf{sf} with graft.tools.DataGen")
    shutil.rmtree(d, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    run_logged(java([sf, d], main="graft.tools.DataGen"), f"datagen_sf{sf}.log",
               deadline, cwd=os.path.join(WORK, "tmp"), env=env)
    import duckdb
    con = duckdb.connect()
    rows = {}
    for p in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        rows[name] = con.execute(
            f"SELECT count(*) FROM read_parquet('{p}/*.parquet')").fetchone()[0]
    with open(manifest + ".tmp", "w") as f:
        f.writelines(f"{t}\t{n}\n" for t, n in rows.items())
    os.replace(manifest + ".tmp", manifest)
    return d


def compare(got, exp):
    """The compare rules of tools/check.py: columns by name, rows sorted,
    exact values, NaN equal to NaN, int/float dtype kinds must agree."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    e = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            bad = ~((gv.isna() & ev.isna()) | (gv == ev))
        else:
            bad = ~((gv.isna() & ev.isna()) | (gv.astype(object) == ev.astype(object)))
        if bad.any():
            i = bad.idxmax()
            return f"col {c} row {i}: got={gv[i]!r} exp={ev[i]!r} ({int(bad.sum())} diffs)"
        kinds = {gv.dtype.kind, ev.dtype.kind}
        if len(kinds) == 2 and "f" in kinds and kinds & {"i", "u"}:
            return f"col {c}: dtype {gv.dtype} vs oracle {ev.dtype}"
    return None


def fingerprint(d, digest, deadline):
    """Each headline result of this program version on fixture `d`, compared
    once with its DuckDB oracle; the row counts are what every timed
    execution is checked against."""
    path = os.path.join(d, "fingerprint.json")
    if os.path.exists(path):
        with open(path) as f:
            fp = json.load(f)
        if fp.get("digest") == digest:
            return fp
    log(f"fingerprinting the headline results on {os.path.basename(d)}")
    out = os.path.join(WORK, "tmp", "fingerprint")
    shutil.rmtree(out, ignore_errors=True)
    run_logged(java(["--mode", "fingerprint", "--kind", "queries", "--data", d,
                     "--cores", str(cores()),
                     "--work", os.path.join(WORK, "tmp"), "--queries", ",".join(HEADLINE),
                     "--out", out]),
               "fingerprint.log", deadline, cwd=os.path.join(WORK, "tmp"))
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(os.path.join(d, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    queries = {}
    for q in HEADLINE:
        got = pd.read_parquet(os.path.join(out, q))
        if q not in oracle:
            queries[q] = {"rows": len(got), "oracle": "none"}
            continue
        try:
            diff = compare(got, con.execute(oracle[q]).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            diff = f"oracle error: {str(e)[:200]}"
        queries[q] = {"rows": len(got), "oracle": "match" if diff is None else diff}
    fp = {"digest": digest, "queries": queries,
          "ok": all(v["oracle"] == "match" for v in queries.values())}
    with open(path, "w") as f:
        json.dump(fp, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    return fp


def launch(args, deadline, logname):
    """Starts the harness JVM; returns (set-up seconds, exit code). Set-up
    is timed from process launch to the SETUP_DONE line."""
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    with open(os.path.join(WORK, "logs", logname), "w") as err:
        t0 = time.monotonic()
        p = subprocess.Popen(java(args), stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=os.path.join(WORK, "tmp"))
        killer = threading.Timer(max(1, deadline - time.monotonic()), p.kill)
        killer.start()
        setup = None
        try:
            for line in p.stdout:
                if line.strip() == "PERFBENCH_SETUP_DONE" and setup is None:
                    setup = time.monotonic() - t0
            rc = p.wait()
        finally:
            killer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
            # the JVM ends without Spark's shutdown hooks: drop its scratch
            shutil.rmtree(os.path.join(WORK, "tmp", "spark-local"), ignore_errors=True)
    if rc != 0 or setup is None:
        raise BenchError(f"harness JVM exit {rc} (see .perfbench/logs/{logname})")
    return setup


def tail(values):
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def geomean(values):
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def query_metrics(rec, setups, fp):
    """End-to-end metrics of a query run. An execution failed if it threw,
    returned another row count than the oracle-checked fingerprint, or ran
    a query whose fingerprint differs from its DuckDB oracle."""
    execs = rec["executions"]
    for e in execs:
        e["ok"] = e["ok"] and fp["queries"][e["query"]]["oracle"] == "match"
    done = [e for e in execs if e["error"] is None]
    warm = [e for e in done if e["round"] > 0]
    lat = [e["wall_ms"] for e in warm]
    per_query = {}
    for e in warm:
        per_query.setdefault(e["query"], []).append(e["wall_ms"])
    t, pct = tail(lat)
    wrong = [e for e in done if not e["ok"]]
    failed = sum(1 for e in execs if not e["ok"])
    m = {
        "setup_s": statistics.median(setups),
        "qps": len(lat) / (sum(rec["round_ms"][1:]) / 1000.0),
        "latency_p50_ms": statistics.median(lat),
        "latency_tail_ms": t,
        "latency_geomean_ms": geomean([statistics.median(v) for v in per_query.values()]),
        "cold_pass_s": rec["cold_pass_ms"] / 1000.0,
        "peak_rss_mb": rec["jvm"]["vm_hwm_kb"] / 1024.0,
    }
    detail = {"tail_percentile": pct, "latency_samples": len(lat),
              "per_query_median_ms": {q: statistics.median(v) for q, v in per_query.items()},
              "executions": [(e["query"], e["round"], e["wall_ms"]) for e in execs],
              "round_ms": rec["round_ms"],
              "wrong_answers": [(e["query"], e["round"], e["rows"], e["expected_rows"],
                                 fp["queries"][e["query"]]["oracle"]) for e in wrong],
              "errors": [(e["query"], e["round"], e["error"]) for e in execs if e["error"]]}
    return m, detail, len(execs), failed, not wrong


def query_layers(rec, end_to_end):
    """Per-layer metrics of a traced query run: sums over the warm
    executions divided by the warm rounds (one pass over the queries);
    codegen is summed over the cold pass, where it happens."""
    warm = [e for e in rec["executions"] if e["round"] > 0 and "layers" in e]
    cold = [e for e in rec["executions"] if e["round"] == 0]
    rounds = rec["warm_rounds"]

    def per_round(key):
        return sum(e["layers"][key] for e in warm) / rounds

    m = {k: 0.0 for k in PER_LAYER}
    for name, key in [("queries.build_ms", "build_ms"), ("queries.build_jobs", "build_jobs"),
                      ("queries.table_resolve_ms", "table_resolve_ms"),
                      ("plan.analysis_ms", "analysis_ms"),
                      ("plan.optimization_ms", "optimization_ms"),
                      ("plan.planning_ms", "planning_ms"),
                      ("plan.final_exchanges", "final_exchanges"),
                      ("exec.job_ms", "exec_ms"), ("exec.jobs", "jobs"),
                      ("exec.stages", "stages"), ("exec.tasks", "tasks"),
                      ("exec.sched_wait_ms", "sched_wait_ms"),
                      ("exec.driver_gap_ms", "driver_gap_ms"),
                      ("exec.task_run_ms", "task_run_ms"), ("exec.task_cpu_ms", "task_cpu_ms"),
                      ("exec.task_gc_ms", "task_gc_ms"), ("exec.input_bytes", "input_bytes"),
                      ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
                      ("exec.shuffle_read_bytes", "shuffle_read_bytes"),
                      ("exec.shuffle_fetch_wait_ms", "shuffle_fetch_wait_ms"),
                      ("exec.spill_bytes", "spill_bytes"),
                      ("interop.sink_self_ms", "sink_self_ms"),
                      ("interop.sink_jobs", "sink_jobs")]:
        m[name] = per_round(key)
    m["interop.arrow_bytes"] = sum(e["arrow_bytes"] for e in warm) / rounds
    m["exec.codegen_compile_ms"] = sum(e["codegen_ms"] for e in cold)
    m["exec.codegen_compiles"] = sum(e["codegen_compiles"] for e in cold)
    m["jvm.gc_ms"] = rec["jvm"]["gc_ms"]
    m["jvm.heap_peak_mb"] = rec["jvm"]["heap_peak_bytes"] / 2**20
    m["trace.latency_geomean_ms"] = end_to_end["latency_geomean_ms"]
    # the layers of each warm execution add back up to its wall time
    sums = {}
    for e in warm:
        lay = e["layers"]
        parts = (lay["build_ms"] + lay["plan_ms"] + lay["exec_ms"] + lay["driver_gap_ms"] +
                 lay["sink_self_ms"])
        sums.setdefault(e["query"], []).append(parts / e["wall_ms"])
    return m, {q: statistics.median(v) for q, v in sums.items()}


def stream_metrics(rec, setups):
    """End-to-end metrics of a stream run. A batch failed if its stream's
    output check failed (a stream that throws fails the whole run)."""
    streams = rec["streams"]
    lat = [b["latency_ms"] for s in streams.values() for b in s["batches"]]
    window_s = sum(s["batches"][-1]["done_ms"] - s["batches"][0]["due_ms"]
                   for s in streams.values()) / 1000.0
    t, pct = tail(lat)
    m = {
        "setup_s": statistics.median(setups),
        "qps": len(lat) / window_s,
        "latency_p50_ms": statistics.median(lat),
        "latency_tail_ms": t,
        "latency_geomean_ms": geomean([statistics.median(b["latency_ms"] for b in s["batches"])
                                       for s in streams.values()]),
        "cold_pass_s": sum(s["cold_ms"] for s in streams.values()) / 1000.0,
        "peak_rss_mb": rec["jvm"]["vm_hwm_kb"] / 1024.0,
    }
    failed = sum(len(s["batches"]) for s in streams.values() if not s["check"]["ok"])
    detail = {"tail_percentile": pct, "latency_samples": len(lat),
              "checks": {k: s["check"] for k, s in streams.items()},
              "batches": {k: [(b["batch"], b["latency_ms"], b["trigger_ms"], b["add_batch_ms"])
                              for b in s["batches"]] for k, s in streams.items()}}
    return m, detail, len(lat), failed, failed == 0


def stream_layers(rec, end_to_end):
    m = {k: 0.0 for k in PER_LAYER}
    for kind, s in rec["streams"].items():
        m["queries.build_ms"] += s["build_ms"]
        for k, v in s["exec"].items():
            if f"exec.{k}" in m:
                m[f"exec.{k}"] += v
        bs = s["batches"]
        for k in ("trigger_ms", "planning_ms", "add_batch_ms", "wal_commit_ms", "start_lag_ms",
                  "state_commit_ms"):
            m[f"{kind}.streaming.{k}"] = statistics.median(b[k] for b in bs)
        m[f"{kind}.streaming.state_rows"] = bs[-1]["state_rows"]
        m[f"{kind}.streaming.state_bytes"] = bs[-1]["state_bytes"]
        m[f"{kind}.streaming.late_rows"] = sum(b["late_rows"] for b in bs)
        lat = [b["latency_ms"] for b in bs]
        m[f"{kind}.latency_p50_ms"] = statistics.median(lat)
        m[f"{kind}.latency_tail_ms"] = tail(lat)[0]
        m[f"{kind}.rows_per_busy_s"] = (sum(b["rows"] for b in bs) /
                                        (sum(b["trigger_ms"] for b in bs) / 1000.0))
    m["exec.codegen_compile_ms"] = rec["codegen_ms"]
    m["exec.codegen_compiles"] = rec["codegen_compiles"]
    m["jvm.gc_ms"] = rec["jvm"]["gc_ms"]
    m["jvm.heap_peak_mb"] = rec["jvm"]["heap_peak_bytes"] / 2**20
    m["trace.latency_geomean_ms"] = end_to_end["latency_geomean_ms"]
    return m


def untraced_median(workload, metric, digest):
    """Median of `metric` over this checkout's untraced records of
    `workload` from the same sources, for the tracing overhead; None
    without any."""
    vals = []
    for p in glob.glob(os.path.join(WORK, "records", f"{workload}-*-t0-*.json")):
        with open(p) as f:
            r = json.load(f)
        if r.get("source_digest") == digest:
            vals.append(r["metrics"][metric])
    return statistics.median(vals) if vals else None


def run(args):
    started = time.monotonic()
    deadline = started + DEADLINE_S
    check_checkout()
    wl = WORKLOADS[args.workload]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    digest = source_digest()
    build(digest, deadline)
    # one-time preparation (build, fixtures, fingerprints) gets its own
    # allowance; the measured part keeps the full deadline after it
    deadline = time.monotonic() + DEADLINE_S
    common = ["--kind", wl["kind"], "--cores", str(cores()), "--work", os.path.join(WORK, "tmp"),
              "--seed", str(args.seed), "--trace", str(args.trace)]
    fp = None
    if wl["kind"] == "queries":
        d = fixture(wl["sf"], deadline)
        fp = fingerprint(d, digest, deadline)
        deadline = time.monotonic() + DEADLINE_S
        for q, why in KNOWN_WRONG.items():
            log(f"{q} is not timed ({why}); oracle check: {fp['queries'][q]['oracle']}")
        rounds = max(1, args.seconds // SECONDS_PER_ROUND)
        expect = ",".join(f"{q}={fp['queries'][q]['rows']}" for q in TIMED)
        main_args = ["--mode", "queries", "--data", d, "--queries", ",".join(TIMED),
                     "--rounds", str(rounds), "--expect", expect]
        setup_args = ["--mode", "setup", "--data", d]
    else:
        # both streams run at once for --seconds of measured batches
        batches = max(1, args.seconds * 1000 // STREAM["interval-ms"])
        main_args = ["--mode", "stream", "--batches", str(batches),
                     *[x for k, v in STREAM.items() for x in (f"--{k}", str(v))]]
        setup_args = ["--mode", "setup"]
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}"
    out = os.path.join(WORK, "tmp", f"{name}.json")
    setups = [launch(main_args + common + ["--out", out], deadline, f"{name}.log")]
    with open(out) as f:
        rec = json.load(f)
    os.remove(out)
    for i in range(SETUP_SAMPLES - 1):
        setups.append(launch(setup_args + common + ["--out", out], deadline,
                             f"{name}-setup{i + 1}.log"))

    if wl["kind"] == "queries":
        m, detail, attempted, failed, correct = query_metrics(rec, setups, fp)
    else:
        m, detail, attempted, failed, correct = stream_metrics(rec, setups)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "metrics": m, "detail": detail,
        "attempted": attempted, "failed": failed, "fail_ratio": failed / attempted,
        "correct": correct, "setup_samples_s": setups,
        "host": {"nproc": cores(), "mem_total_kb": mem_total_kb(), "heap": HEAP},
        "spark_version": rec["spark_version"], "master": rec["master"], "confs": rec["confs"],
        "git_commit": git_commit(), "source_digest": digest,
        "fixture_rows": rec.get("fixture_rows"),
        "fingerprint": fp,
        "not_timed": ({q: {"why": why, "oracle": fp["queries"][q]["oracle"]}
                       for q, why in KNOWN_WRONG.items()} if fp else None),
        "stream_schedule": STREAM if wl["kind"] == "stream" else None,
        "wall_s": time.monotonic() - started,
    }
    if args.trace:
        if wl["kind"] == "queries":
            layers, sums = query_layers(rec, m)
            record["layer_sum_ratio"] = sums
        else:
            layers = stream_layers(rec, m)
        record["layers"] = layers
        base = untraced_median(args.workload, "latency_geomean_ms", digest)
        record["tracing_overhead"] = (None if base is None else
                                      {"latency_geomean_ms_untraced_median": base,
                                       "latency_geomean_ms_traced": m["latency_geomean_ms"],
                                       "ratio": m["latency_geomean_ms"] / base})
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{name}.json"), "w") as f:
            json.dump({k: v for k, v in rec.items() if k != "jvm"}, f)
        shown = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        shown = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": shown}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = run(args)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
