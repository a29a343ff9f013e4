"""Repository benchmark: the live log-to-dashboard path and the batch
analytics sweep, driven through the engine's public calls.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 15 --trace 0

Workloads:

- ``ingest_live`` -- the paper's product path under an open loop. A seeded
  generator process (``gen.py``) writes one 2,500-line wire-format file
  every 0.5 s (5,000 rec/s); the engine reads them with
  ``stream_log_lines(max_files_per_trigger=None)`` and writes through
  ``write_partitioned_parquet(trigger_seconds=2)``; one closed-loop
  dashboard client re-runs the paper's Q1 (``bin_(timestamp, 1h)`` per
  ``x_edge_location``, ``sum(sc_bytes)``, ``timestamp >= ago(24h)``) over
  the sink. A file is visible at the first poll whose total count covers
  it; its latency is visible time minus due time. Files due in the first
  ``LIVE_WARMUP_S`` are excluded; the window measured is ``--seconds`` long.
- ``query_sweep`` -- 11 of the 29 headline registry rows (frozen below)
  over seeded tables with the row counts of the sf0.001 test data
  (``sweep_data.py``), one ``noop`` write each, in a fixed order, closed loop
  with one client; after an untimed checking pass and one untimed warm
  pass, a fixed number of timed passes, one per ``SWEEP_PASS_S`` of
  ``--seconds`` (at least two).

End-to-end metrics (``--trace 0``), every one measured on both workloads:

- ``setup_s``: one cold set-up, as a user starting the pipeline sees it:
  JVM launch and session, package ship, then on ``ingest_live`` the first
  generated file's due -> visible time on the just-started stream (query
  start, first batch, first dashboard polls), on ``query_sweep`` the table
  layout cache built from empty and one Q1. Load generation and oracle
  preparation are excluded.
- ``latency_s``: time from input to visible result -- the median over
  generated files (due -> visible in Q1) on ``ingest_live``; one pass on
  ``query_sweep``, each row counted at its fastest pass (min-of-N, which
  keeps a neighbour's burst on a shared host out of the figure).
- ``cpu_s``: CPU-seconds of the engine's process tree (JVM plus Python
  workers, from ``/proc``) per unit of work -- one second of offered load
  (5,000 records) on ``ingest_live``, the cheapest pass on ``query_sweep``.
- ``peak_rss_mb``: peak resident memory of the same process tree during
  the untraced measurement (the live window; the timed sweep passes).

``--trace 1`` runs the same measurement untraced, then again traced (on
``query_sweep`` followed by one more untraced pass, since the sweep still
warms up from pass to pass), and prints the per-layer metrics (same names
on both workloads), including ``trace.overhead_*`` = traced minus untraced. A detail line printed before
the result holds the workload-specific layer breakdown: streaming progress
durations, dashboard list/query split and the parse-layer sub-run on
``ingest_live``; per-row build/exec seconds and per-module jobs, tasks and
CPU on ``query_sweep``.

Outputs are checked on every run, outside the timed window: the sink's row
count and per-edge ``sum(sc_bytes)`` against the generator's tallies, and
every generated file visible by the end (``ingest_live``); every row's
result against its DuckDB oracle (``query_sweep``). Each mismatch is a
failed operation. The last stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "aws_cloudfront_realtime_monitoring_spark"

WORKLOADS = ("ingest_live", "query_sweep")
NCPU = len(os.sched_getaffinity(0))
#: driver heap, kept well below physical memory
DRIVER_MEM = "2g"

LIVE_LINES = 2_500
LIVE_TICK_S = 0.5
#: a micro-batch takes ~0.65 s on a quiet 4-core host and 1.0-1.4 s while
#: neighbours load it; a 1 s trigger falls behind then, and freshness would
#: measure the backlog instead of the pipeline
LIVE_TRIGGER_S = 2
#: the JIT compiler takes about half the JVM's CPU in the first minute;
#: files due before the stream has run this long are not measured
LIVE_WARMUP_S = 16.0
#: parse-layer sub-run corpus (traced runs only)
PARSE_FILES, PARSE_LINES = 4, 25_000

#: 11 of the 29 headline registry rows, frozen here so the workload cannot
#: drift with the repository's own bench harness. Every plan module keeps at
#: least one row, and the paper's own queries (wire parse, Q1, Q2) stay; the
#: other 18 repeat operators a kept row runs. All 29 do not fit the run-time
#: budget: every run pays a cold checking pass, a warm pass and the timed
#: passes.
SWEEP_ROWS = (
    "cf_parse_wire_roundtrip", "q1_hourly_measure_by_dim",
    "q2_create_time_series", "sessionize", "dedup_minhash_lsh", "ann_topk_ivf",
    "text_tfidf_topk", "pii_redact", "stats_profile", "sample_stratified",
    "multimodal_pipeline",
)
#: seconds of --seconds per timed pass of SWEEP_ROWS: a warm pass takes
#: ~3.5 s on a quiet 4-core host and 7-10 s while neighbours load it
SWEEP_PASS_S = 7
TABLE_NAMES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")


def log(*a) -> None:
    print("#", *a, file=sys.stderr, flush=True)


def methodology(workload: str, seed: int, seconds: int) -> str:
    """Hash over everything that defines the measurement, so harness or
    environment drift shows as a changed hash."""
    from sweep_data import ROWS

    spec = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "cores": NCPU, "driver_mem": DRIVER_MEM,
        "live": [LIVE_LINES, LIVE_TICK_S, LIVE_TRIGGER_S, LIVE_WARMUP_S,
                 PARSE_FILES, PARSE_LINES],
        "sweep_rows": SWEEP_ROWS, "sweep_table_rows": ROWS, "sweep_pass_s": SWEEP_PASS_S,
    }
    return hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:16]


class Bench:
    """One benchmark process: owns the work directory, the Spark session,
    the /proc sampler and the operation counts."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}
        self.spark = None
        self.sampler = None

    # -- environment --------------------------------------------------------
    def prepare_env(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "layout_cache"):
            os.makedirs(os.path.join(self.work, d))
        # everything the engine writes stays inside the work directory
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_LAYOUT_CACHE"] = os.path.join(self.work, "layout_cache")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_GRAFT_CPUS"] = str(NCPU)
        # no JVM performance-data file in the system temp directory, for the
        # spark-submit launcher JVM and the driver JVM alike
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        sys.path.insert(0, ROOT)

    def extra_conf(self) -> dict:
        # a fixed-size heap (-Xms = the driver heap) keeps the JVM's resident
        # memory from following run-to-run differences in heap growth
        return {
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
        }

    # -- set-up -------------------------------------------------------------
    def setup(self, warmup=None) -> None:
        """The cold set-up: the JVM and session started by ``get_spark``, the
        package shipped to Python workers the way the driver entry point
        ships it, then the workload's warm-up, if any (the layout cache
        starts empty, in the fresh work directory)."""
        import __spark_entry__

        from aws_cloudfront_realtime_monitoring_spark.session import get_spark
        from stats import ProcSampler

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=NCPU, extra_conf=self.extra_conf())
        t1 = time.perf_counter()
        __spark_entry__._ship_package(self.spark)
        t2 = time.perf_counter()
        if warmup is not None:
            warmup()
        t3 = time.perf_counter()
        self.sampler = ProcSampler(os.getpid()).start()
        self.metrics["setup_s"] = (t3 - t0, "s")
        self.layer("session.get_spark_s", t1 - t0, "s")
        self.layer("session.ship_s", t2 - t1, "s")
        self.layer("setup.warmup_s", t3 - t2, "s")

    def add_setup(self, seconds: float) -> None:
        """Warm-up measured after ``setup`` returned (the live pipeline's)."""
        self.metrics["setup_s"] = (self.metrics["setup_s"][0] + seconds, "s")
        self.layer("setup.warmup_s", self.layers["setup.warmup_s"][0] + seconds, "s")

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (value, unit)

    # -- Spark job accounting (statusTracker) -------------------------------
    def jobs_in_groups(self, groups) -> dict[str, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                jobs += 1
                if info is None:
                    continue
                for sid in info.stageIds:
                    s = st.getStageInfo(sid)
                    if s is not None:
                        stages += 1
                        tasks += s.numTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    # -- shutdown -----------------------------------------------------------
    def close(self) -> None:
        """Stop the session and the JVM, and wait until every process this
        benchmark started has exited."""
        from pyspark import SparkContext

        from stats import descendants, wait_gone

        if self.sampler is not None:
            self.sampler.close()
        started = descendants(os.getpid())
        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        wait_gone(started)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass  # another run still uses it

    def result(self) -> dict:
        shown = self.layers if self.trace else self.metrics
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
        }


# ---------------------------------------------------------------------------
# ingest_live
# ---------------------------------------------------------------------------

def dashboard_q1(spark, sink: str):
    """One dashboard poll: the paper's Q1 over the sink. Returns (rows seen,
    seconds resolving the sink, seconds building and collecting Q1)."""
    from pyspark.sql import functions as F

    from aws_cloudfront_realtime_monitoring_spark.functions.timestream import ago, bin_

    t0 = time.perf_counter()
    df = spark.read.parquet(sink)
    t1 = time.perf_counter()
    rows = (
        df.where(F.col("timestamp") >= ago("24h"))
        .groupBy(bin_("timestamp", "1h").alias("binned_time"), "x_edge_location")
        .agg(F.sum("sc_bytes").alias("sum_bytes_downloaded"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    t2 = time.perf_counter()
    return sum(r["n"] for r in rows), t1 - t0, t2 - t1


def start_ingest(spark, watch: str, sink: str, ckpt: str):
    from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
        stream_log_lines, write_partitioned_parquet)

    os.makedirs(watch, exist_ok=True)
    return write_partitioned_parquet(
        stream_log_lines(spark, watch, max_files_per_trigger=None), sink, ckpt,
        trigger_seconds=LIVE_TRIGGER_S).start()


def read_tallies(path: str) -> list[dict]:
    with open(path) as f:
        return sorted((json.loads(line) for line in f if line.strip()),
                      key=lambda t: t["idx"])


def check_sink(b: Bench, sink: str, tallies: list[dict]) -> dict:
    """Row count and per-edge sum(sc_bytes) of the sink against the
    generator's tallies; each mismatch is one failed operation."""
    from pyspark.sql import functions as F

    want: dict[str, list[int]] = {}
    for t in tallies:
        for e, v in t["by_edge"].items():
            w = want.setdefault(e, [0, 0])
            w[0] += v["rows"]
            w[1] += v["sc_bytes"]
    got = {r["x_edge_location"]: [r["n"], r["b"] or 0] for r in
           b.spark.read.parquet(sink).groupBy("x_edge_location")
           .agg(F.count(F.lit(1)).alias("n"), F.sum("sc_bytes").alias("b")).collect()}
    bad = sorted(e for e in set(want) | set(got) if want.get(e) != got.get(e))
    total_want = sum(t["lines"] for t in tallies)
    total_got = sum(v[0] for v in got.values())
    b.attempted += len(set(want) | set(got)) + 1
    b.failed += len(bad) + (total_want != total_got)
    if bad or total_want != total_got:
        log(f"sink mismatch: rows {total_got} != {total_want}; edges {bad[:5]}")
    return {"rows": total_got, "edges": len(got), "edges_bad": len(bad)}


def progress_layers(progress: list[dict], lo: float, hi: float) -> dict:
    """Per-batch layer durations from StreamingQuery.recentProgress for
    batches triggered in [lo, hi) (epoch seconds)."""
    from datetime import datetime, timezone

    rows = []
    for p in progress:
        ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=timezone.utc).timestamp()
        if lo <= ts < hi and p["numInputRows"] > 0:
            rows.append(p)
    out = {"ingest.batches": len(rows)}
    if not rows:
        return out
    keys = {"batch_ms": "triggerExecution", "add_batch_ms": "addBatch",
            "query_planning_ms": "queryPlanning", "latest_offset_ms": "latestOffset",
            "get_batch_ms": "getBatch", "wal_commit_ms": "walCommit",
            "commit_offsets_ms": "commitOffsets"}
    for name, key in keys.items():
        out[f"ingest.{name}_p50"] = statistics.median([p["durationMs"].get(key, 0) for p in rows])
    out["ingest.rows_per_batch_p50"] = statistics.median([p["numInputRows"] for p in rows])
    return out


def parse_subrun(b: Bench) -> dict:
    """Parse layer on a pre-written corpus: text read alone (the floor), then
    text read -> parse_log_lines, both into ``noop``."""
    import gen

    from aws_cloudfront_realtime_monitoring_spark.sources.cf_logs import parse_log_lines
    from stats import cpu_delta

    corpus = os.path.join(b.work, "parse-corpus")
    os.makedirs(corpus)
    for i in range(PARSE_FILES):
        text, _ = gen.make_file(b.seed + 104729, i, time.time(), PARSE_LINES)
        gen.write_file(corpus, i, text)
    n = PARSE_FILES * PARSE_LINES
    out = {}
    for label, build in (("scan", lambda: b.spark.read.text(corpus)),
                         ("parse", lambda: parse_log_lines(b.spark.read.text(corpus)))):
        build().write.format("noop").mode("overwrite").save()  # warm
        c0, t0 = b.sampler.cpu(), time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        dt, cpu = time.perf_counter() - t0, cpu_delta(c0, b.sampler.cpu())
        out[f"cf_logs.{label}_rec_per_s"] = (n / dt, "rec/s")
        out[f"cf_logs.{label}_cpu_s_per_mrec"] = (cpu["total"] / n * 1e6, "cpu-s/Mrec")
    b.attempted += 2
    return out


def run_live(b: Bench) -> None:
    from stats import cpu_delta, tail, visible_times

    b.setup()
    d = os.path.join(b.work, "live")
    watch, sink, ckpt, tdir = (os.path.join(d, x) for x in ("watch", "sink", "ckpt", "tallies"))
    windows = [("untraced", 0)] + ([("traced", 1)] if b.trace else [])
    span = LIVE_WARMUP_S + b.seconds * len(windows)
    n_files = int(round(span / LIVE_TICK_S)) + 2
    query = start_ingest(b.spark, watch, sink, ckpt)
    # processing-time triggers fire on whole multiples of the interval since
    # the epoch; fixing the generator's phase against them keeps the wait for
    # the next trigger the same in every run
    t0 = float((int(time.time()) // LIVE_TRIGGER_S + 2) * LIVE_TRIGGER_S) + LIVE_TICK_S / 2
    genp = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(b.seed),
         "--watch", watch, "--tallies", tdir, "--t0", repr(t0), "--files", str(n_files),
         "--lines", str(LIVE_LINES), "--tick", str(LIVE_TICK_S)])
    b.sampler.exclude.add(genp.pid)
    polls: list[tuple[float, int]] = []
    poll_log = []  # (start, end, list_s, query_s)
    groups = ["perfbench-dashboard", str(query.runId)]
    sc = b.spark.sparkContext
    # per window: (due-time bounds, marks taken when the window opens/closes)
    win = {name: {"lo": t0 + LIVE_WARMUP_S + k * b.seconds,
                  "hi": t0 + LIVE_WARMUP_S + (k + 1) * b.seconds}
           for name, k in windows}

    def open_window(name: str, w: dict) -> None:
        if name == "traced":
            sc.setJobGroup(groups[0], "dashboard")
            w["jobs0"] = b.jobs_in_groups(groups)
        b.sampler.reset_peak()
        w["open"], w["cpu0"] = time.time(), b.sampler.cpu()

    def close_window(name: str, w: dict) -> None:
        w["close"], w["cpu1"] = time.time(), b.sampler.cpu()
        w["peak"] = b.sampler.peak_mb()
        if name == "traced":
            w["jobs1"] = b.jobs_in_groups(groups)

    try:
        first_ok = False
        while time.time() < t0 + span:
            now = time.time()
            for name, w in win.items():
                if "open" not in w and now >= w["lo"]:
                    open_window(name, w)
                elif "open" in w and "close" not in w and now >= w["hi"]:
                    close_window(name, w)
            ps = time.time()
            try:
                n, list_s, query_s = dashboard_q1(b.spark, sink)
            except Exception as e:  # noqa: BLE001 -- before the first commit
                if first_ok:       # the sink has no files yet
                    b.failed += 1
                    b.attempted += 1
                    log(f"dashboard poll failed: {e!r:.200}")
                time.sleep(0.2)
                continue
            first_ok = True
            pe = time.time()
            b.attempted += 1
            polls.append((pe, n))
            poll_log.append((ps, pe, list_s, query_s))
        for name, w in win.items():
            if "close" not in w:
                close_window(name, w)
        if genp.wait(timeout=60) != 0:
            raise RuntimeError("generator failed")
        query.processAllAvailable()
        tallies = read_tallies(os.path.join(tdir, "tallies.jsonl"))
        total = sum(t["lines"] for t in tallies)
        deadline = time.time() + 20
        while (not polls or polls[-1][1] < total) and time.time() < deadline:
            n, _, _ = dashboard_q1(b.spark, sink)
            polls.append((time.time(), n))
            b.attempted += 1
        progress = [json.loads(p.json) for p in query.recentProgress]
    finally:
        if genp.poll() is None:
            genp.kill()
        genp.wait()
        query.stop()
    sc.setJobGroup("perfbench", "check")
    cum, acc = [], 0
    for t in tallies:
        acc += t["lines"]
        cum.append(acc)
    vis = visible_times(cum, polls)
    b.attempted += len(tallies)
    if vis and vis[0] is not None:
        # the cold pipeline: query start, first batch, first dashboard polls
        b.add_setup(vis[0] - tallies[0]["due"])
    missing = sum(v is None for v in vis)
    b.failed += missing
    if missing:
        log(f"{missing} generated files never became visible")
    sink_check = check_sink(b, sink, tallies)
    per_window = {}
    for name, w in win.items():
        fresh = [v - t["due"] for v, t in zip(vis, tallies)
                 if v is not None and w["lo"] <= t["due"] < w["hi"]]
        ps = [p for p in poll_log if w["open"] <= p[0] < w["close"]]
        secs = w["close"] - w["open"]
        cpu = {k: v / secs for k, v in cpu_delta(w["cpu0"], w["cpu1"]).items()}
        per_window[name] = {
            "latency_s": statistics.median(fresh), "tail": tail(fresh), "n_files": len(fresh),
            "cpu_per_s": cpu, "peak_mb": w["peak"], "polls": len(ps), "secs": secs,
            "list_s": statistics.median([p[2] for p in ps]), "query_s": statistics.median([p[3] for p in ps]),
            "build_per_s": sum(p[2] for p in ps) / secs,
            "collect_per_s": sum(p[3] for p in ps) / secs,
            "batch_ms_p50": progress_layers(progress, w["lo"], w["hi"]).get("ingest.batch_ms_p50"),
        }
    u = per_window["untraced"]
    b.metrics["latency_s"] = (u["latency_s"], "s")
    b.metrics["cpu_s"] = (u["cpu_per_s"]["total"], "cpu-s")
    b.metrics["peak_rss_mb"] = (u["peak_mb"]["total"], "MB")
    lateness = [t["late_s"] for t in tallies]
    b.detail.update({
        "sink": sink_check, "files": len(tallies), "polls": len(polls),
        "generator_late_s": {"p50": statistics.median(lateness), "max": max(lateness)},
        "windows": per_window,
    })
    if b.trace:
        w, tw = per_window["traced"], win["traced"]
        jobs = {k: (tw["jobs1"][k] - tw["jobs0"][k]) / w["secs"] for k in tw["jobs1"]}
        sink_files = sum(f.endswith(".parquet") for _d, _s, fs in os.walk(sink) for f in fs)
        prog = progress_layers(progress, tw["lo"], tw["hi"])
        all_batches = sum(1 for p in progress if p["numInputRows"] > 0)
        backlog = []
        for (pe, n) in polls:
            due = sum(1 for t in tallies if t["due"] <= pe)
            seen = sum(1 for c in cum if c <= n)
            backlog.append(due - seen)
        specific = {
            **prog,
            "ingest.backlog_files_max": max(backlog),
            "ingest.sink_files_per_batch": sink_files / max(1, all_batches),
            "ingest.jvm_cpu_s": w["cpu_per_s"]["jvm"] * w["secs"],
            "ingest.py_cpu_s": w["cpu_per_s"]["py"] * w["secs"],
            "dashboard.list_s": w["list_s"], "dashboard.query_s": w["query_s"],
            "dashboard.sink_files": sink_files,
            "freshness.tail": w["tail"], "freshness.n": w["n_files"],
            # the blocking path of a file: its batch, then the poll that shows it
            "blocking_path_s": prog.get("ingest.batch_ms_p50", 0) / 1000 + w["query_s"],
        }
        b.detail["layer_detail"] = specific
        generic_layers(b, build_s=w["build_per_s"], action_s=w["collect_per_s"],
                       jobs=jobs, cpu=w["cpu_per_s"], peak=w["peak_mb"],
                       q1_s=w["query_s"])
        overhead(b, *({"latency_s": x["latency_s"], "cpu_s": x["cpu_per_s"]["total"],
                       "peak_rss_mb": x["peak_mb"]["total"]} for x in (w, u)))


def generic_layers(b: Bench, build_s: float, action_s: float, jobs: dict, cpu: dict,
                   peak: dict, q1_s: float) -> None:
    """Per-layer metrics both workloads report, each per unit of work, plus
    the paper's Q1 (over the live sink, or over the sweep's events table)
    and the parse layer on a generated corpus."""
    b.layer("driver.build_s", build_s, "s")
    b.layer("driver.action_s", action_s, "s")
    for k in ("jobs", "stages", "tasks"):
        b.layer(f"spark.{k}", jobs[k], "count")
    b.layer("cpu.jvm_s", cpu["jvm"], "cpu-s")
    b.layer("rss.jvm_mb", peak["jvm"], "MB")
    # the live path runs no Python workers, so these read 0 there: detail only
    b.detail["layer_detail"].update({"cpu.py_workers_s": cpu["py"],
                                     "rss.py_workers_mb": peak["py"]})
    b.layer("dashboard.query_s", q1_s, "s")
    for name, (value, unit) in parse_subrun(b).items():
        b.layer(name, value, unit)


def overhead(b: Bench, traced: dict, untraced: dict) -> None:
    """Tracing overhead: traced minus untraced measurement of the same run,
    per end-to-end metric (set-up has no tracing hooks)."""
    for name, unit in (("latency_s", "s"), ("cpu_s", "cpu-s"), ("peak_rss_mb", "MB")):
        b.layer(f"trace.overhead_{name}", traced[name] - untraced[name], unit)


# ---------------------------------------------------------------------------
# query_sweep
# ---------------------------------------------------------------------------

def load_check_oracles():
    """The oracle gate's canonicalization (tools/check_oracles.py)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def sweep_passes(seconds: int) -> int:
    """Timed passes of a run: one per whole ``SWEEP_PASS_S`` of
    ``--seconds``, at least two, so the per-row minimum has a second
    sample."""
    return max(2, seconds // SWEEP_PASS_S)


def run_sweep(b: Bench) -> None:
    import duckdb

    from aws_cloudfront_realtime_monitoring_spark.plans import load_full
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import (
        load_table, register_views)
    from stats import cpu_delta
    from sweep_data import write_tables

    data = os.path.join(b.work, "data")
    t_gen = time.perf_counter()
    write_tables(b.seed, data)
    b.detail["tables_write_s"] = time.perf_counter() - t_gen
    registry = load_full()
    rows = [(n, registry[n]) for n in SWEEP_ROWS]

    def load_tables() -> float:
        t0 = time.perf_counter()
        for t in TABLE_NAMES:
            load_table(b.spark, data, t)
        return time.perf_counter() - t0

    def warm():
        b.detail["tables.load_cold_s"] = load_tables()
        register_views(b.spark, data)
        registry["q1_hourly_measure_by_dim"].build(b.spark, data) \
            .write.format("noop").mode("overwrite").save()

    b.setup(warm)
    # what every row's build pays for its tables once the cache is built
    b.detail["tables.load_warm_s"] = load_tables()

    # output check, once per invocation, outside the timed window. It is
    # also the warm-up of the timed pass; the rows run on NCPU threads while
    # DuckDB answers the oracles, which keeps this untimed pass short.
    co = load_check_oracles()
    t_check = time.perf_counter()

    def spark_result(q):
        return q.build(b.spark, data).toPandas()

    bad = []
    with ThreadPoolExecutor(max_workers=NCPU) as pool, duckdb.connect() as con:
        futures = [pool.submit(spark_result, q) for _name, q in rows]
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
        for (name, q), fut in zip(rows, futures):
            b.attempted += 1
            try:
                odf = con.execute(q.oracle).df()
                sdf = fut.result()
                ok = (co.canon(sdf) == co.canon(odf)
                      and co.dtype_sig(sdf) == co.dtype_sig(odf))
            except Exception as e:  # noqa: BLE001 -- a failing row is a failed op
                log(f"{name}: {e!r:.300}")
                ok = False
            if not ok:
                bad.append(name)
    b.failed += len(bad)
    b.detail["oracle_mismatch"] = bad
    b.detail["check_s"] = time.perf_counter() - t_check

    def one_pass(traced: bool) -> dict:
        sc = b.spark.sparkContext
        per = {}
        c_start = b.sampler.cpu()
        b.sampler.reset_peak()
        t_pass = time.perf_counter()
        for name, q in rows:
            if traced:
                group = f"perfbench-{name}"
                sc.setJobGroup(group, name)
                c0 = b.sampler.cpu()
            t0 = time.perf_counter()
            try:
                df = q.build(b.spark, data)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                log(f"{name}: {e!r:.300}")
                b.failed += 1
                t1 = time.perf_counter()
            t2 = time.perf_counter()
            b.attempted += 1
            per[name] = {"build_s": t1 - t0, "exec_s": t2 - t1}
            if traced:
                per[name]["cpu"] = cpu_delta(c0, b.sampler.cpu())
                per[name].update(b.jobs_in_groups([group]))
        wall = time.perf_counter() - t_pass
        return {"wall_s": wall, "cpu": cpu_delta(c_start, b.sampler.cpu()),
                "peak_mb": b.sampler.peak_mb(), "rows": per}

    # the JIT is still compiling the rows' code paths after the checking
    # pass, and a pass keeps getting faster for dozens of passes: one more
    # untimed pass moves the timed ones off the steepest part of that curve,
    # and each row counts at its fastest timed pass. The number of timed
    # passes is fixed by --seconds, not by how fast they run, so every run
    # does the same work
    b.detail["warm_pass_s"] = one_pass(traced=False)["wall_s"]
    passes = [one_pass(traced=False) for _ in range(sweep_passes(b.seconds))]
    row_min = {name: min(sum(p["rows"][name].values()) for p in passes)
               for name, _q in rows}
    b.metrics["latency_s"] = (sum(row_min.values()), "s")
    b.metrics["cpu_s"] = (min(p["cpu"]["total"] for p in passes), "cpu-s")
    b.metrics["peak_rss_mb"] = (max(p["peak_mb"]["total"] for p in passes), "MB")
    b.detail["passes_s"] = [p["wall_s"] for p in passes]
    b.detail["row_min_s"] = row_min
    if b.trace:
        p = one_pass(traced=True)
        # the sweep is still warming up from pass to pass, so the untraced
        # reference brackets the traced pass: the passes just before and after
        after = one_pass(traced=False)
        specific = {}
        mods: dict[str, dict] = {}
        for name, q in rows:
            r = p["rows"][name]
            specific[f"plans.{name}.build_s"] = r["build_s"]
            specific[f"plans.{name}.exec_s"] = r["exec_s"]
            m = mods.setdefault(q.build.__module__.rsplit(".", 1)[-1],
                                {"jobs": 0, "tasks": 0, "jvm_cpu_s": 0.0, "py_cpu_s": 0.0})
            m["jobs"] += r["jobs"]
            m["tasks"] += r["tasks"]
            m["jvm_cpu_s"] += r["cpu"]["jvm"]
            m["py_cpu_s"] += r["cpu"]["py"]
        for mod, vals in mods.items():
            for k, v in vals.items():
                specific[f"plans.{mod}.{k}"] = v
        row_sum = sum(r["build_s"] + r["exec_s"] for r in p["rows"].values())
        specific["plans.rows_sum_over_pass"] = row_sum / p["wall_s"]
        q1 = p["rows"]["q1_hourly_measure_by_dim"]
        b.detail["layer_detail"] = specific
        jobs = {k: sum(r[k] for r in p["rows"].values()) for k in ("jobs", "stages", "tasks")}
        generic_layers(b, build_s=sum(r["build_s"] for r in p["rows"].values()),
                       action_s=sum(r["exec_s"] for r in p["rows"].values()),
                       jobs=jobs, cpu=p["cpu"], peak=p["peak_mb"],
                       q1_s=q1["build_s"] + q1["exec_s"])
        overhead(b, {"latency_s": p["wall_s"], "cpu_s": p["cpu"]["total"],
                     "peak_rss_mb": p["peak_mb"]["total"]},
                 {"latency_s": (passes[-1]["wall_s"] + after["wall_s"]) / 2,
                  "cpu_s": (passes[-1]["cpu"]["total"] + after["cpu"]["total"]) / 2,
                  "peak_rss_mb": max(x["peak_mb"]["total"] for x in (passes[-1], after))})


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="Repository benchmark (see module docstring).")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds < 1:
        ap.error("--seconds must be >= 1")
    sys.path.insert(0, HERE)
    b = Bench(a.workload, a.seed, a.seconds, bool(a.trace))
    b.prepare_env()
    from stats import steal_s

    env = {"nproc": NCPU, "loadavg_start": os.getloadavg()[0], "steal_s": -steal_s(),
           "methodology": methodology(a.workload, a.seed, a.seconds)}
    try:
        # the engine must be importable from this checkout; failing here
        # exits non-zero before any result is printed
        __import__(PKG + ".session")
        (run_live if a.workload == "ingest_live" else run_sweep)(b)
    finally:
        b.close()
    env["loadavg_end"] = os.getloadavg()[0]
    env["steal_s"] += steal_s()
    b.detail["env"] = env
    print(json.dumps({"detail": b.detail, "layers": b.layers}, default=str))
    print(json.dumps(b.result()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
