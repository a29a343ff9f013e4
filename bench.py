"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries" (per-query
sec), "sf"}.

Headline set covers every operator family: Timestream surface (q1/q2),
joins, windows, rollup, dedup (exact + minhash-lsh + simhash), similarity
(brute force + ivf), text analysis, multimodal plumbing.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from aws_cloudfront_realtime_monitoring_spark.plans import load_full
from aws_cloudfront_realtime_monitoring_spark.session import get_spark
from aws_cloudfront_realtime_monitoring_spark.sources import tables

HEADLINE = [
    "cf_parse_wire_roundtrip",
    "q1_hourly_measure_by_dim",
    "q2_create_time_series",
    "pricing_summary",
    "revenue_by_region",
    "top_customers",
    "sessionize",
    "asof_join_latest_order",
    "grouping_analytics",
    "distinct_aggregates",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "text_profile",
    "text_tfidf_topk",
    "text_fingerprint",
    "text_repetition",
    "pii_redact",
    "decontaminate",
    "hll_cube_range",
    "dedup_clusters",
    "sample_stratified",
    "multimodal_pipeline",
    "sliding_window_counts",
    "interpolate_linear_fill",
    "stats_profile",
    "subquery_shapes",
]

#: NON-HEADLINE wall-time series (r17, r16 verdict #3): operators added
#: after the headline set froze get their round-over-round series HERE
#: -- same min-of-N timing, recorded in the BENCH_DETAIL sidecar under
#: "extra_queries" and NEVER in the headline total, so the 29-query
#: official number stays comparable across every round while new ops
#: still show regressions. Versioned: append-only, each entry tagged
#: with the round it entered the series.
EXTRA_QUERIES = [
    "bigram_logprob",      # entered r17 (operator landed r16)
    "ann_trained_recall",  # entered r17: the auto-fit trained-ANN path
                           # (fit_kmeans auto-sample + nprobe default)
                           # plus the brute-force audit join
    "ann_pq_recall",       # entered r17 (operator landed r17): IVF-PQ
                           # train + encode + ADC scan + exact re-rank
    "hybrid_rrf_retrieval",  # entered r17: BM25 + ANN rank fusion
    "webp_resize_stats",   # entered r17: VP8L decode + integer-rule
                           # nearest resize (the media pixel tier's
                           # first wall-time series entry)
    "bpe_token_stats",     # entered r17: learned-BPE fit (20k sample)
                           # + zero-shuffle Arrow encode of the corpus
    "ann_pq_indexed_search",  # entered r18 (r17 verdict #3): IVF-PQ
                           # search over a per-run MATERIALIZED index
                           # (fit + encode + eager checkpoint + search
                           # via the index= path) — the production
                           # encode-at-ingest shape, isolating
                           # search-over-stored-codes from
                           # ann_pq_recall's recompute + audit join
]


#: start-of-run 1-min load above this = a noisy neighbor is bursting; wait
#: (bounded) for it to pass, and flag the run if it never does. r02's bench
#: recorded a 4.3x phantom regression on an untouched query at load 8.4.
MAX_START_LOAD = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "4.0"))
#: how long to wait for the box to go quiet before benching anyway
MAX_LOAD_WAIT_SEC = int(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "600"))
#: a query whose min-of-3 is this much slower than the best prior round's
#: gets one extra min-of-3 before its number is recorded. 1.3 (was 1.5,
#: was 2.0): r6 recorded a +32% phantom on the flagship parse row that the
#: 1.5x gate let through; 1.3 catches those while leaving ordinary
#: seconds-scale jitter alone.
RERUN_FACTOR = 1.3
#: rows that ALWAYS get the extra min-of-3 regardless of the drift gate --
#: the flagship ingest path (README's headline number) must never record
#: a single noisy min-of-3
ALWAYS_RERUN = {"cf_parse_wire_roundtrip"}
#: timed runs per row, min-of-N: headline rows (after one untimed
#: warm-up) and the sidecar-only EXTRA_QUERIES rows
TIMED_RUNS = 3
EXTRA_TIMED_RUNS = 2


#: day-factor calibration kernel: the box's quiet-load throughput drifts
#: ~±14% BETWEEN days (r12, three same-day passes 22.03/21.21/19.26 s on
#: identical code) -- a factor loadavg and the external-cores sampler
#: cannot see because it is the box itself, not a neighbor. A fixed
#: CPU-bound, data-independent, pure-JVM kernel (whole-stage-codegen
#: Range -> xxhash64 -> bit_xor, no I/O, no Python workers) timed at
#: bench start AND end gives every artifact an on-board yardstick:
#: normalize cross-round totals by the calibration ratio before calling
#: anything a regression. 3.2e9 rows ~ 0.6 s on this box quiet.
CALIBRATION_ROWS = 3_200_000_000
CALIBRATION_SPLITS = 32

#: core count this bench leg runs with: the driver ALSO invokes the
#: bench at a LOWER count (master local[$SPARK_GRAFT_CPUS]) to measure
#: per-query scaling
try:
    N_CPUS = max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
except ValueError:
    N_CPUS = 32
#: the calibration kernel is embarrassingly parallel over its 32
#: splits, so its wall scales ~(32 / cores). Gate DEFAULTS and the
#: cross-round prior clamp follow (r17): without this the low-core leg
#: can never probe healthy (the kernel reads ~4x the 32-core band on
#: local[8]), burns the full REGIME_WAIT_BUDGET before every run, and
#: then re-runs most queries because the 2.0x clamp cannot stretch
#: 32-core priors to the real core ratio. At >= 32 cores the factor is
#: 1.0 and nothing changes; an explicit SPARK_GRAFT_REGIME_CALIB_MAX
#: stays absolute.
CORE_SCALE = max(1.0, 32.0 / N_CPUS)
#: reference kernel time all cross-round normalization divides against:
#: the fastest official kernel cell on record (BENCH_r13, a ~day-factor-
#: 1.0 box). `calib_norm_total` in the stdout line is
#: value * (CALIBRATION_REF_SEC / calib_sec) -- the total this run WOULD
#: have recorded on the reference-speed box. A fixed constant (not a
#: rolling min) so the normalized series never silently re-bases.
CALIBRATION_REF_SEC = 0.492
#: bound on how far a calibration ratio may scale a drift-gate prior:
#: a corrupt kernel cell (one bad round) must not widen the gate into
#: uselessness or collapse it into re-running everything. The upper
#: bound stretches by CORE_SCALE (r17): on the driver's low-core leg
#: every query legitimately runs ~32/cores slower than the repo's
#: 32-core priors, and the kernel ratio measures exactly that factor —
#: clamping it at 2.0 there would spuriously re-run most of the set.
CALIBRATION_RATIO_CLAMP = (0.5, 2.0 * CORE_SCALE)


def _calibration_sec(spark, n_runs: int = 3) -> float:
    """Min-of-N wall time of the fixed calibration kernel."""
    def one() -> float:
        # a FRESH DataFrame per run: re-collecting the same DataFrame
        # object reuses its shuffle map outputs (skipped stages), which
        # would time only the 1-row final reduce
        df = spark.range(0, CALIBRATION_ROWS, 1, CALIBRATION_SPLITS) \
            .selectExpr("bit_xor(xxhash64(id)) AS h")
        t0 = time.perf_counter()
        df.collect()
        return time.perf_counter() - t0
    one()  # untimed warm-up: codegen compile is a process effect
    return round(min(one() for _ in range(n_runs)), 3)


#: bytes the MEMORY probe touches per pass. The CPU kernel above cannot
#: see memory-side contention: the r14 ANN sweep measured an identical
#: Python-matmul plan at 88.6 s and 425 s in two windows that BOTH read
#: 0.0 external cores and a flat CPU kernel. The probe that explained it
#: found this box's FIRST-TOUCH page faults running at ~10 MB/s in bad
#: windows (512 MB of np.ones took 47 s to fault in, with 122 GB free;
#: ~0.5 ms per fault, ~1000x a normal box -- hypervisor lazy-backing
#: with no /proc CPU signature), while steady-state reads of the same
#: pages ran at ~8 GB/s. Python-worker-bound rows (multimodal_pipeline,
#: the pandas-UDF/applyInPandas rows) allocate fresh numpy arrays per
#: batch, so their wall rides the fault rate, not the CPU. The probe
#: times BOTH regimes at bench start and end: fault_mbps (first-touch
#: fill of a fresh array) and bw_gbps (streaming sums over the now-
#: backed pages). Attribution only -- nothing normalizes by it (per-row
#: fault sensitivity is not modeled).
MEM_PROBE_BYTES = 256 << 20


#: first-touch probe early-exit: once this much wall has gone into the
#: fill AND at least one chunk completed, the measured rate is recorded
#: from the touched prefix instead of paying for the full array. In a
#: healthy window (>= 40 MB/s) the full 256 MB fills in ~6 s and the
#: exit trims it to ~2 s with >= 80 MB sampled; in a COLLAPSED window
#: (2-3 MB/s, probed r15) the uncapped fill cost 100+ s per probe --
#: ruinous now that the r16 regime gate probes repeatedly. The rate is
#: the measurement; a prefix measures it with the same units.
MEM_PROBE_CHUNK_BYTES = 8 << 20
MEM_PROBE_FILL_BUDGET_SEC = 2.0

#: minimum bytes the streaming-sum bandwidth figure may be measured
#: over (r16 ADVICE): in a degraded window the early-exited fill can
#: leave as little as 8 MB backed, and a sum over a cache-resident
#: prefix reports a HIGHER bw_gbps than a healthy full-256MB probe --
#: since the headline takes max(start, end), one degraded probe could
#: skew the cross-round series the regime gate protects. Below the
#: floor the probe returns bw_gbps=None and the headline max skips it.
MEM_PROBE_BW_FLOOR_BYTES = 64 << 20


def _memory_probe(n_runs: int = 3) -> tuple[float, float | None]:
    """(fault_mbps, bw_gbps): first-touch fill rate of a fresh array
    (chunked, early-exit after MEM_PROBE_FILL_BUDGET_SEC -- see above),
    then max-of-N GB/s of streaming sums over the now-backed prefix.
    Max for the sums -- best available bandwidth in this window; the
    fill is single-shot by nature (pages fault once). ``bw_gbps`` is
    None when the backed prefix is under MEM_PROBE_BW_FLOOR_BYTES (a
    cache-resident sum is not a bandwidth measurement)."""
    import numpy as np

    arr = np.empty(MEM_PROBE_BYTES // 8, np.float64)
    step = MEM_PROBE_CHUNK_BYTES // 8
    t0 = time.perf_counter()
    touched = 0
    for lo in range(0, len(arr), step):
        arr[lo:lo + step] = 1.0  # first touch: faults these pages in
        touched = min(lo + step, len(arr))
        if time.perf_counter() - t0 > MEM_PROBE_FILL_BUDGET_SEC:
            break
    fault_mbps = touched * 8 / (time.perf_counter() - t0) / 1e6
    if touched < len(arr) and fault_mbps >= REGIME_FAULT_MIN_MBPS:
        # healthy fault rate: finish the fill UNTIMED (a few seconds) so
        # the bandwidth sums run over the full array as in prior rounds
        # -- a small early-exit prefix can sit in cache and inflate
        # bw_gbps. In degraded windows the prefix stays small and cheap;
        # there bw_gbps is a cache-tinted upper bound (fault_mbps is the
        # regime signal; bw is attribution only).
        arr[touched:] = 1.0
        touched = len(arr)
    if touched * 8 < MEM_PROBE_BW_FLOOR_BYTES:
        # degraded window left too small a prefix backed: a streaming
        # sum over it measures cache, not memory bandwidth (r16 ADVICE)
        return round(fault_mbps, 1), None
    backed = arr[:touched]
    backed.sum()  # warm-up: cache state
    best = 0.0
    for _ in range(n_runs):
        t0 = time.perf_counter()
        backed.sum()
        best = max(best,
                   touched * 8 / (time.perf_counter() - t0) / 1e9)
    return round(fault_mbps, 1), round(best, 2)


#: ------------------------------------------------------------------
#: REGIME GATE (r16, VERDICT #1): BENCH_r15 was produced in a window the
#: run's own probes showed was degraded (calib 0.673 s = 1.13x the r14
#: kernel, first-touch faults at 14.4 MB/s vs r14's 41, load 3.63) and
#: recorded regressions exclusively on code-untouched queries. The
#: probes existed but only ANNOTATED the artifact; now they GATE it:
#: before the timed section, the start probe must read healthy, else
#: the bench sleeps and re-probes within a bounded budget. If no
#: healthy window appears, the run proceeds anyway (an artifact must
#: exist) with regime_ok=false in the stdout line -- the honest "no
#: healthy window found" flag the cross-round series can filter on.
#: Thresholds (env-overridable, recorded in the sidecar):
#: calib kernel within REGIME_CALIB_MAX of the reference cell. 0.62 s
#: passes every accepted-round cell on record (r13 0.492, r14 0.597)
#: and fails r15's degraded 0.673.
REGIME_CALIB_MAX = float(
    os.environ.get("SPARK_GRAFT_REGIME_CALIB_MAX") or 0.62 * CORE_SCALE)
#: first-touch fault floor: r14's healthy window probed 41 MB/s, the
#: degraded r15 window 14.4, the collapse regime 2-3. 25 separates them.
REGIME_FAULT_MIN_MBPS = float(os.environ.get(
    "SPARK_GRAFT_REGIME_FAULT_MIN", "25"))
#: total seconds the gate may spend waiting for a healthy window
REGIME_WAIT_BUDGET_SEC = int(os.environ.get(
    "SPARK_GRAFT_REGIME_WAIT", "1200"))
#: seconds to sleep between gate probes
REGIME_RETRY_SLEEP_SEC = int(os.environ.get(
    "SPARK_GRAFT_REGIME_SLEEP", "60"))


def _regime_gate(spark, wait_budget_sec: int | None = None) -> dict:
    """Probe-until-healthy (bounded): returns a dict with the FINAL
    probe readings (they double as the run's start probes -- no
    duplicate probing), the health verdict, the wall seconds spent
    waiting, and the thresholds applied. Healthy = CPU kernel within
    band AND first-touch faults above floor AND 1-min load under the
    start cap. The load check reuses MAX_START_LOAD: the quiet-box wait
    has already run, so a still-high load here means it timed out.

    r18 (VERDICT #1): degraded-window probes are CHEAP -- the no-Spark
    memory probe (the discriminator for every degraded window on
    record; its early-exit caps it at ~2 s) runs first, and the Spark
    calibration kernel (~2.5 s of real CPU x 4 runs) only runs once
    memory reads healthy or on the final attempt (whose readings the
    artifact records). A probe loop that hammers a collapsed box with
    the kernel both wastes budget and adds load to the window it is
    waiting out."""
    deadline = time.time() + (REGIME_WAIT_BUDGET_SEC
                              if wait_budget_sec is None else wait_budget_sec)
    t_gate0 = time.time()
    attempts = 0
    while True:
        attempts += 1
        fault_mbps, bw_gbps = _memory_probe()
        load = os.getloadavg()[0]
        final = time.time() + REGIME_RETRY_SLEEP_SEC > deadline
        fails = []
        if fault_mbps < REGIME_FAULT_MIN_MBPS:
            fails.append(f"fault {fault_mbps} MB/s < {REGIME_FAULT_MIN_MBPS}")
        if load > MAX_START_LOAD:
            fails.append(f"load {load:.1f} > {MAX_START_LOAD}")
        calib = None
        if not fails or final:
            calib = _calibration_sec(spark)
            if calib > REGIME_CALIB_MAX:
                fails.append(f"calib {calib}s > {REGIME_CALIB_MAX}")
        healthy = not fails
        if healthy or final:
            if not healthy:
                print(f"# regime gate: NO healthy window inside "
                      f"{REGIME_WAIT_BUDGET_SEC}s ({'; '.join(fails)}) -- "
                      "proceeding with regime_ok=false", file=sys.stderr)
            return {
                "healthy": healthy,
                "calib_sec": calib,
                "fault_mbps": fault_mbps,
                "bw_gbps": bw_gbps,
                "load": round(load, 2),
                "wait_sec": round(time.time() - t_gate0, 1),
                "attempts": attempts,
                "thresholds": {
                    "calib_max_sec": REGIME_CALIB_MAX,
                    "fault_min_mbps": REGIME_FAULT_MIN_MBPS,
                    "load_max": MAX_START_LOAD,
                },
            }
        print(f"# regime gate: degraded window ({'; '.join(fails)}) -- "
              f"sleeping {REGIME_RETRY_SLEEP_SEC}s "
              f"({deadline - time.time():.0f}s budget left)",
              file=sys.stderr)
        time.sleep(REGIME_RETRY_SLEEP_SEC)


#: total extra seconds the run may spend on MID-RUN quiet-box waits (the
#: start gate has its own MAX_LOAD_WAIT_SEC). Bounded so 29 queries cannot
#: stall for hours on a box that never goes quiet.
MID_RUN_WAIT_BUDGET_SEC = int(
    os.environ.get("SPARK_GRAFT_BENCH_MIDRUN_WAIT", "600")
)

#: r18 (VERDICT #1): how many times the WHOLE timed section may re-run
#: when the run fails to bracket healthy (start gate never probed
#: healthy, or the end probe shows the window decayed mid-run — the
#: exact failure mode that made every BENCH_r17 leg uninterpretable:
#: both legs ran inside fault-collapse windows the 1200 s start budget
#: could not outlast). Each retry first re-enters the regime gate with
#: a fresh REGIME_RETRY_WAIT_SEC budget and only re-runs if a healthy
#: window actually appeared (re-running into the same collapse would
#: burn wall for nothing); per-query times MERGE BY MIN across passes —
#: a degraded window only ever inflates a query's wall, so the min
#: over all passes is exactly the min-of-N methodology with more N.
#: 0 disables (the pre-r18 single-pass behavior).
REGIME_RETRIES = int(os.environ.get("SPARK_GRAFT_BENCH_REGIME_RETRIES", "1"))
#: wait budget for each retry's regime gate (separate from the start
#: gate's REGIME_WAIT_BUDGET_SEC so one env var cannot silently double
#: the worst-case wall)
REGIME_RETRY_WAIT_SEC = int(
    os.environ.get("SPARK_GRAFT_BENCH_REGIME_RETRY_WAIT", "1200"))


def _wait_for_quiet_box(max_wait: int = MAX_LOAD_WAIT_SEC) -> tuple[float, bool]:
    """Block (bounded by ``max_wait``) until 1-min load drops under
    MAX_START_LOAD. Returns (load_at_start_of_timing, still_loaded_flag)."""
    deadline = time.time() + max_wait
    load = os.getloadavg()[0]
    while load > MAX_START_LOAD and time.time() < deadline:
        print(f"# load_avg {load:.1f} > {MAX_START_LOAD}: waiting for the "
              "box to go quiet", file=sys.stderr)
        time.sleep(30)
        load = os.getloadavg()[0]
    return load, load > MAX_START_LOAD


#: mid-run neighbor-burst threshold, in CORES of external CPU (host busy
#: minus our own process tree). Load average cannot arbitrate mid-run: our
#: own local[32] jobs legitimately push 1-min load far past any threshold,
#: so a loadavg-based mid-run gate would re-run every heavy query on a
#: QUIET box. External cores is self-load-free by construction.
MAX_EXTERNAL_CORES = float(
    os.environ.get("SPARK_GRAFT_BENCH_MAX_EXT_CORES", "4.0")
)

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _busy_jiffies() -> int:
    """Host-wide non-idle jiffies from /proc/stat (all cpus, summed).
    Fields: user nice system idle iowait irq softirq steal guest
    guest_nice -- user/nice already INCLUDE guest/guest_nice, so the
    guest columns must not be summed again (they'd double-count VM
    time); idle and iowait are not busy. Steal stays in: on a shared
    box, hypervisor-stolen time IS a noisy neighbor."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    guest = sum(vals[8:10])  # absent columns -> empty slice -> 0
    return sum(vals) - vals[3] - vals[4] - guest


def _tree_jiffies() -> int:
    """CPU jiffies consumed by THIS process and every live descendant
    (the py4j JVM, its executor Python workers), plus each one's reaped
    children (cutime/cstime) so short-lived workers are not lost."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue  # raced a process exit
        rest = s[s.rindex(")") + 2:].split()  # comm may contain spaces
        procs[int(d)] = (
            int(rest[1]),  # ppid
            int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
        )
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _t) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total = 0
    stack = [os.getpid()]
    while stack:
        p = stack.pop()
        if p in procs:
            total += procs[p][1]
            stack.extend(kids.get(p, []))
    return total


class _ExternalCpu:
    """External-cores sampler: cores of CPU used by processes OUTSIDE our
    process tree since the previous sample."""

    def __init__(self) -> None:
        self._busy = _busy_jiffies()
        self._ours = _tree_jiffies()
        self._t = time.time()

    def sample(self) -> float:
        busy, ours, t = _busy_jiffies(), _tree_jiffies(), time.time()
        dt = max(t - self._t, 1e-3)
        ext = max(0, (busy - self._busy) - (ours - self._ours)) / _CLK_TCK / dt
        self._busy, self._ours, self._t = busy, ours, t
        return ext


def _codegen_compiles(spark) -> int:
    """Classes whole-stage codegen has compiled in this JVM so far: Spark's
    compilation-time histogram counts one sample per Janino compile, and a
    codegen-cache hit adds none."""
    return spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _status_store(spark):
    """Spark's in-process status store (kept with the UI off), after the
    listener bus has delivered every event posted so far: an action
    returns before its stage-completed events reach the store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore()


def _newest_first(seq, key, mark: int) -> list:
    """Elements of a status-store list (sorted newest id first) whose
    ``key`` id is above ``mark``."""
    out, it = [], seq.iterator()
    while it.hasNext():
        item = it.next()
        if key(item) <= mark:
            break
        out.append(item)
    return out


def _status_mark(spark) -> tuple[int, int]:
    """(newest job id, newest stage id) in the status store: a later
    ``_layer_profile(spark, mark)`` counts only the work run after it."""
    store = _status_store(spark)
    gw = spark.sparkContext._gateway
    jobs = store.jobsList(None)
    stages = store.stageList(None, False, False,
                             gw.new_array(gw.jvm.double, 0), None)
    return (jobs.head().jobId() if jobs.nonEmpty() else -1,
            stages.head().stageId() if stages.nonEmpty() else -1)


def _layer_profile(spark, mark: tuple[int, int], n_runs: int = 1) -> dict:
    """Where the work since ``mark`` went, per run (totals / ``n_runs``):
    jobs, the wall seconds at least one job was running, stages and
    tasks scheduled, executor run and CPU seconds, scan input bytes,
    shuffle read/write bytes, disk spill bytes, the longest single task
    (``max_task_s``, the straggler) and the stage with the most executor
    time. Skipped stages (shuffle output reused) ran no tasks and are
    not counted."""
    store = _status_store(spark)
    gw = spark.sparkContext._gateway
    jobs = _newest_first(store.jobsList(None), lambda j: j.jobId(), mark[0])
    stages = [s for s in _newest_first(
        store.stageList(None, False, False,
                        gw.new_array(gw.jvm.double, 0), None),
        lambda s: s.stageId(), mark[1]) if s.status().toString() != "SKIPPED"]
    quantile = gw.new_array(gw.jvm.double, 1)
    quantile[0] = 1.0
    per_stage = []
    for s in stages:
        summary = store.taskSummary(s.stageId(), s.attemptId(), quantile)
        per_stage.append({
            "id": s.stageId(),
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "max_task_s": (summary.get().duration().apply(0) / 1e3
                           if summary.isDefined() else 0.0),
            "input_bytes": s.inputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.diskBytesSpilled(),
        })

    def per_run(key: str) -> float:
        return sum(st[key] for st in per_stage) / n_runs

    # wall seconds with at least one job running: the rest of a run is
    # driver-side work (plan building, Catalyst planning, AQE re-planning)
    spans = sorted((j.submissionTime().get().getTime(),
                    j.completionTime().get().getTime()) for j in jobs
                   if j.submissionTime().isDefined()
                   and j.completionTime().isDefined())
    active_ms, reach = 0, None
    for start, end in spans:
        if reach is not None:
            start = max(start, reach)
        active_ms += max(0, end - start)
        reach = end if reach is None else max(reach, end)
    top = max(per_stage, key=lambda st: st["run_s"], default=None)
    return {
        "runs": n_runs,
        "jobs": round(len(jobs) / n_runs, 2),
        "jobs_active_s": round(active_ms / 1e3 / n_runs, 3),
        "stages": round(len(per_stage) / n_runs, 2),
        "tasks": round(per_run("tasks"), 2),
        "executor_run_s": round(per_run("run_s"), 3),
        "executor_cpu_s": round(per_run("cpu_s"), 3),
        "input_bytes": round(per_run("input_bytes")),
        "shuffle_read_bytes": round(per_run("shuffle_read_bytes")),
        "shuffle_write_bytes": round(per_run("shuffle_write_bytes")),
        "spill_bytes": round(per_run("spill_bytes")),
        "max_task_s": max((st["max_task_s"] for st in per_stage), default=0.0),
        "top_stage": top and {k: round(v, 3) if isinstance(v, float) else v
                              for k, v in top.items()},
    }


def noop_sink(df) -> None:
    """Evaluate every output column of ``df`` without collecting it on the
    driver (count() would let Catalyst prune the expensive projections
    away)."""
    df.write.format("noop").mode("overwrite").save()


def timed_runs(spark, build, n_runs: int = TIMED_RUNS, *,
               warmup: bool = False, ext_cpu: _ExternalCpu | None = None,
               run=noop_sink) -> dict:
    """Min-of-N timing of ``run(build())``, the one timed loop of the
    bench and of ``tools/scale.py``. ``build`` makes a fresh plan per run
    (its seconds are the driver build); ``run`` executes it (the noop
    sink by default). Returns:

    - ``sec`` (the fastest run) and ``runs`` (every run's wall seconds);
    - ``build_s`` / ``exec_s``: the fastest run's build / execute split;
    - ``ext_cores``: the MAX external-cores figure sampled after each
      run, so a neighbor burst that lands mid-cell (invisible to a
      start-only gate -- r8 recorded a phantom +5% that way) is seen
      per cell, not discovered after the round;
    - ``compiles``: classes codegen compiled across the runs;
    - ``layers``: the runs' per-run ``_layer_profile``.

    ``compiles`` and ``layers`` are read outside the timed intervals.
    ``warmup`` adds one untimed run first: Python-worker spinup (pandas
    UDF queries) and first-touch file listing are process effects, not
    plan cost."""
    if warmup:
        run(build())
        spark.catalog.clearCache()
    ext_cpu = ext_cpu or _ExternalCpu()
    per_run, splits = [], []
    compiles0 = _codegen_compiles(spark)
    mark = _status_mark(spark)
    # close out the idle/warm-up gap for its baseline-RESET side effect
    # only: a neighbor burst that ended before the timed window must not
    # count toward this cell's max (it would cause spurious re-runs and
    # overstate query_ext_cores), so start the max at 0
    ext_cpu.sample()
    ext_max = 0.0
    for _ in range(n_runs):
        t0 = time.time()
        planned = build()
        t_built = time.time()
        run(planned)
        t1 = time.time()
        per_run.append(t1 - t0)
        splits.append((t_built - t0, t1 - t_built))
        ext_max = max(ext_max, ext_cpu.sample())
        # drop persisted intermediates (e.g. minhash signatures) so one
        # cell's cache does not occupy memory during the next
        spark.catalog.clearCache()
    build_s, exec_s = min(splits, key=sum)
    return {"sec": min(per_run), "runs": per_run, "build_s": build_s,
            "exec_s": exec_s, "ext_cores": ext_max,
            "compiles": _codegen_compiles(spark) - compiles0,
            "layers": _layer_profile(spark, mark, n_runs)}


def _prior_round_times(
    sf: float | None, calib_now: float | None = None
) -> dict[str, float]:
    """Per-query BEST (minimum) seconds across every BENCH_r*.json next to
    this script recorded AT THE SAME scale factor (empty if none): the
    baseline for phantom-regression re-runs. The min across rounds, not
    the latest round, because a noisy prior round would otherwise mask a
    regression OR spuriously absolve one -- the best-known time is the
    reproducible cost of the plan. The sf filter keeps a run at another
    scale from mis-arming the drift guard in both directions (r7
    review).

    When ``calib_now`` is given and a prior round recorded its own
    ``calib_sec`` kernel cell, that round's times are NORMALIZED onto
    today's box speed (sec * calib_now / calib_round, ratio clamped)
    before taking the min -- the r13 verdict's load-bearing use of the
    calibration kernel: on a slow day the gate no longer burns wall time
    re-running queries to confirm what the kernel already measured (r13
    re-ran 12/29 on a box the kernel showed was fine), and on a FAST day
    priors shrink so real regressions stand out sooner. Rounds without a
    kernel cell (pre-r13) stay raw on the 32-core leg; on a LOWER-core
    leg (r17) they scale by the recorded core ratio instead — the
    kernel ratio already encodes the core slowdown for kernel-carrying
    rounds, but a raw pre-r13 prior would otherwise undercut every
    low-core measurement and re-run half the set (observed: 15/29
    spurious drift re-runs on local[8] before the fix)."""
    here = Path(__file__).resolve().parent
    best: dict[str, float] = {}
    for p in here.glob("BENCH_r*.json"):
        try:
            wrapper = json.loads(p.read_text())
        except (json.JSONDecodeError, OSError):
            continue
        # the driver wraps this script's JSON line under "parsed" (null when
        # that round's bench crashed before printing its line); the wrapper
        # records the core count the round ran with
        rec = wrapper.get("parsed") or wrapper
        if not isinstance(rec, dict) or rec.get("sf") != sf:
            continue
        round_cpus = wrapper.get("cpus") if isinstance(
            wrapper.get("cpus"), (int, float)) else 32
        calib_round = rec.get("calib_sec")
        scale = 1.0
        lo, hi = CALIBRATION_RATIO_CLAMP
        if calib_now and isinstance(calib_round, (int, float)) and calib_round > 0:
            scale = min(max(float(calib_now) / float(calib_round), lo), hi)
        elif round_cpus != N_CPUS and N_CPUS > 0:
            # kernel-less round on a different-core leg: ideal-linear
            # core ratio (conservative for overhead-bound queries,
            # which scale sub-linearly — priors inflate, never shrink,
            # on the low-core leg)
            scale = min(max(float(round_cpus) / N_CPUS, lo), hi)
        for name, sec in (rec.get("queries") or {}).items():
            if isinstance(sec, (int, float)):
                best[name] = min(best.get(name, float("inf")),
                                 float(sec) * scale)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    load_start, load_flagged = _wait_for_quiet_box()

    # headline names stay stable across registry swaps so totals remain
    # round-over-round comparable: resolve demoted rows too
    registry = load_full()
    spark = get_spark("bench")
    # ship the package to executor Python workers so pandas-UDF rows run
    # regardless of the launch cwd (closures pickle module functions by
    # reference; __spark_entry__ owns the zip-and-addPyFile logic)
    import __spark_entry__

    __spark_entry__._ship_package(spark)

    # warm the JVM/codegen path once so per-query numbers measure the
    # queries, not session bring-up; also materialize every table's layout
    # cache up front so no timed query pays the one-time re-layout cost
    for t in tables.TABLES:
        tables.load_table(spark, sf_dir, t)
    registry["q2_create_time_series"].build(spark, sf_dir).collect()

    # regime gate (r16): probe-until-healthy, bounded; its final probe
    # readings ARE the run's start probes
    regime = _regime_gate(spark)
    calib_start = regime["calib_sec"]
    mem_start = (regime["fault_mbps"], regime["bw_gbps"])
    # drift-gate priors are calibration-normalized onto TODAY's box speed
    # (kernel-carrying rounds only), so the gate stops re-running queries
    # to confirm a slowdown the start kernel already attributed to the box
    prior_times = _prior_round_times(sf, calib_now=calib_start)

    ext_cpu = _ExternalCpu()
    codegen_compiles: dict[str, int] = {}
    layers: dict[str, dict] = {}

    def time_row(name: str, n_runs: int = TIMED_RUNS,
                 warmup: bool = False) -> tuple[list[float], float]:
        """``timed_runs`` over one registry row. Adds the classes codegen
        compiled across the runs to ``codegen_compiles``: a warm row that
        still compiles is re-paying Janino and the JIT. ``layers[name]``
        gets the fastest run's driver build / execute split plus the
        runs' layer profile; a later call replaces it only when its
        fastest run is faster, so the profile always describes the
        recorded time."""
        cell = timed_runs(spark, lambda: registry[name].build(spark, sf_dir),
                          n_runs, warmup=warmup, ext_cpu=ext_cpu)
        codegen_compiles[name] = codegen_compiles.get(name, 0) + cell["compiles"]
        prev = layers.get(name)
        if prev is None or (cell["build_s"] + cell["exec_s"]
                            < prev["build_s"] + prev["exec_s"]):
            layers[name] = {"build_s": round(cell["build_s"], 3),
                            "exec_s": round(cell["exec_s"], 3),
                            **cell["layers"]}
        return cell["runs"], cell["ext_cores"]

    wait_budget = float(MID_RUN_WAIT_BUDGET_SEC)

    def quiet_down() -> None:
        """Mid-run pause until the NEIGHBORS are quiet, drawing on the
        shared budget (no-op once the budget is spent). Samples external
        cores over 10 s windows while we sit idle."""
        nonlocal wait_budget
        while wait_budget > 0:
            t0 = time.time()
            time.sleep(10)
            ext = ext_cpu.sample()
            wait_budget -= time.time() - t0
            if ext <= MAX_EXTERNAL_CORES:
                return
            print(f"# external load {ext:.1f} cores > {MAX_EXTERNAL_CORES}:"
                  f" waiting ({wait_budget:.0f}s budget left)",
                  file=sys.stderr)

    times: dict[str, float] = {}
    extra_times: dict[str, float] = {}
    query_ext_cores: dict[str, float] = {}
    reran: list[str] = []

    def run_pass() -> None:
        """One full timed pass over HEADLINE + EXTRA_QUERIES, merging
        per-query results into the enclosing maps BY MIN (pass 1 fills
        them; a regime-retry pass can only improve a number, never
        regress it -- degraded windows inflate wall, so min-over-passes
        is the min-of-N methodology with more N)."""
        for name in HEADLINE:
            per_run, ext_max = time_row(name, warmup=True)
            # re-run triggers, most-specific first: the flagship always
            # gets an extra min-of-3; a min that drifts past RERUN_FACTOR
            # x the best prior round is far more often a neighbor's CPU
            # burst than a plan change; and a neighbor burst OBSERVED
            # during the runs taints them even when no prior exists to
            # drift against
            prior = prior_times.get(name)
            rerun_reason = None
            if name in ALWAYS_RERUN:
                rerun_reason = "flagship"
            elif prior and min(per_run) > RERUN_FACTOR * prior:
                rerun_reason = f"drift vs prior {prior}s"
            elif ext_max > MAX_EXTERNAL_CORES:
                rerun_reason = f"neighbor burst {ext_max:.1f} ext cores"
            if rerun_reason:
                if rerun_reason != "flagship":
                    print(f"# {name}: {min(per_run):.2f}s ({rerun_reason}) "
                          "-- re-running before recording", file=sys.stderr)
                if ext_max > MAX_EXTERNAL_CORES:
                    # pause (bounded) so the extra min-of-3 actually
                    # measures a quiet box; if the budget runs dry the
                    # extra runs still happen -- the min can only improve
                    # the number
                    quiet_down()
                extra, extra_ext = time_row(name)
                per_run += extra
                ext_max = max(ext_max, extra_ext)
                if name not in reran:
                    reran.append(name)
            query_ext_cores[name] = max(
                query_ext_cores.get(name, 0.0), round(ext_max, 2))
            # ContextCleaner only reclaims finished broadcasts/shuffles
            # when the driver JVM GCs; after 3 noop runs of a heavy
            # query, nudge a GC so leftover blocks don't tax the NEXT
            # query's measurement
            if os.environ.get("SPARK_GRAFT_BENCH_GC", "0") == "1":
                spark.sparkContext._jvm.System.gc()
            # min of runs: single-JVM local mode has multi-second GC/JIT
            # variance; the min is the reproducible cost of the plan
            times[name] = min(times.get(name, float("inf")),
                              round(min(per_run), 3))
            print(f"# {name}: {times[name]}s "
                  f"(runs: {[round(t, 2) for t in per_run]})",
                  file=sys.stderr)

        # non-headline series (r17): sidecar-only, no drift-gate re-runs
        # (their priors live in BENCH_DETAIL history, not the official
        # queries map) and no contribution to the total. min-of-2 with no
        # separate warm-up: the ANN rows REFIT their models inside
        # build() (the honest cost of the registry row), so the headline
        # discipline's 1+3 executions would add ~7 min per round for
        # series whose job is drift detection, not precision; worker
        # spinup is already warm after the 29 headline rows.
        for name in EXTRA_QUERIES:
            per_run, _ext = time_row(name, n_runs=EXTRA_TIMED_RUNS)
            extra_times[name] = min(extra_times.get(name, float("inf")),
                                    round(min(per_run), 3))
            print(f"# extra {name}: {extra_times[name]}s "
                  f"(runs: {[round(t, 2) for t in per_run]})",
                  file=sys.stderr)

    # r18 (VERDICT #1): retry-across-windows. A single pass recorded in
    # a fault-collapse window made every BENCH_r17 comparison
    # uninterpretable; now a run that fails to bracket healthy (either
    # probe) re-enters the gate with a fresh bounded budget and -- only
    # if a healthy window actually appeared -- re-runs the whole timed
    # section, so one driver invocation lands in the first healthy
    # stretch instead of recording a flagged artifact. Flags reported
    # are those bracketing the LAST pass; per-pass brackets live in the
    # sidecar ("passes").
    passes: list[dict] = []
    retries_left = REGIME_RETRIES
    while True:
        run_pass()
        calib_end = _calibration_sec(spark)
        mem_end = _memory_probe()
        # end-of-run verdict under the same thresholds: a gate-passed
        # window can DECAY mid-run (observed r16: start fault 29 MB/s,
        # end 12) -- regime_ok && !regime_end_ok tells a reader the
        # total is bracketed by one healthy and one degraded probe
        regime["end_ok"] = (calib_end <= REGIME_CALIB_MAX
                            and mem_end[0] >= REGIME_FAULT_MIN_MBPS)
        passes.append({
            "start_ok": regime["healthy"], "end_ok": regime["end_ok"],
            "calib_start": regime["calib_sec"], "calib_end": calib_end,
            "fault_start": regime["fault_mbps"], "fault_end": mem_end[0],
        })
        if (regime["healthy"] and regime["end_ok"]) or retries_left <= 0:
            break
        retries_left -= 1
        print("# regime: run not bracketed healthy "
              f"(start_ok={regime['healthy']} end_ok={regime['end_ok']}) "
              "-- waiting for a healthy window to re-run", file=sys.stderr)
        regate = _regime_gate(spark, wait_budget_sec=REGIME_RETRY_WAIT_SEC)
        regate["wait_sec"] = round(
            regate["wait_sec"] + regime["wait_sec"], 1)  # cumulative
        if not regate["healthy"]:
            # no healthy window inside the retry budget: re-running into
            # the same collapse would burn wall without improving the
            # artifact -- keep the recorded passes and their honest
            # flags (regime still describes the gate that bracketed
            # them); only the cumulative wait is taken from the retry
            regime["wait_sec"] = regate["wait_sec"]
            break
        regime = regate
        calib_start = regime["calib_sec"]
        mem_start = (regime["fault_mbps"], regime["bw_gbps"])
        prior_times.update(_prior_round_times(sf, calib_now=calib_start))

    print(_render_output(
        times=times,
        sf=sf,
        load_start=load_start,
        load_end=os.getloadavg()[0],
        load_flagged=load_flagged,
        reran=reran,
        query_ext_cores=query_ext_cores,
        wait_budget_left=max(wait_budget, 0.0),
        calib_start=calib_start,
        calib_end=calib_end,
        mem_start=mem_start,
        mem_end=mem_end,
        regime=regime,
        extra_queries=extra_times,
        passes=passes,
        codegen_compiles=codegen_compiles,
        layers=layers,
        layout=table_layouts(sf_dir),
    ))
    spark.stop()


#: the round driver records only the LAST N characters of stdout and
#: json-parses the final line; r11's line grew past that window (the
#: per-query query_ext_cores map + 15 reran entries) and the official
#: artifact came back "parsed": null. Keep the stdout line comfortably
#: under the window and move verbose diagnostics to a sidecar file.
STDOUT_LINE_BUDGET = 1900
SIDECAR = "BENCH_DETAIL.json"


def methodology() -> str:
    """Hash of what defines the bench numbers -- the query set, the
    timed-loop constants and the tables' file-layout rule -- so a harness
    or layout change shows in the JSON line as a changed value instead of
    as a phantom speed-up or regression."""
    spec = {
        "headline": HEADLINE, "extra": EXTRA_QUERIES,
        "timed_runs": [TIMED_RUNS, EXTRA_TIMED_RUNS],
        "rerun": [RERUN_FACTOR, sorted(ALWAYS_RERUN), MAX_EXTERNAL_CORES,
                  REGIME_RETRIES],
        "calibration": [CALIBRATION_ROWS, CALIBRATION_SPLITS,
                        CALIBRATION_REF_SEC],
        "layout": [tables._TARGET_FILE_BYTES, tables._LAYOUT_VERSION],
    }
    blob = json.dumps(spec, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def table_layouts(sf_dir: str) -> dict[str, dict]:
    """The file layout the scans of each table read: the files the layout
    rule cuts it into, and whether it is read in place (one file). Tables
    that are not a local file are always read in place and are left out."""
    out = {}
    for t in tables.TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isfile(src):
            n = tables.layout_files(src)
            out[t] = {"files": n, "in_place": n == 1}
    return out


def _render_output(
    *,
    times: dict[str, float],
    sf: float | None,
    load_start: float,
    load_end: float,
    load_flagged: bool,
    reran: list[str],
    query_ext_cores: dict[str, float],
    wait_budget_left: float,
    calib_start: float | None = None,
    calib_end: float | None = None,
    mem_start: tuple[float, float] | None = None,
    mem_end: tuple[float, float] | None = None,
    regime: dict | None = None,
    extra_queries: dict[str, float] | None = None,
    passes: list[dict] | None = None,
    codegen_compiles: dict[str, int] | None = None,
    layers: dict[str, dict] | None = None,
    layout: dict[str, dict] | None = None,
    sidecar_dir: Path | None = None,
) -> str:
    """Write full diagnostics to the sidecar, return the compact stdout
    JSON line (guaranteed <= STDOUT_LINE_BUDGET chars by dropping optional
    fields, never the required metric/value/unit/queries/sf)."""
    headline = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        # host 1-min load at timing start / end: this container runs on a
        # shared box and totals swing ~35% with neighbors' bursts;
        # min-of-3 absorbs short spikes, these let a reader weigh
        # cross-round comparisons
        "load_avg_start": round(load_start, 2),
        "load_avg": round(load_end, 2),
        # true when the box never went quiet inside the bounded wait --
        # treat round-over-round deltas as suspect
        "load_flagged": load_flagged,
        # how many queries got an extra min-of-3 (flagship, drift guard,
        # or mid-run neighbor burst); the list itself is in the sidecar
        "n_reran": len(reran),
        "detail": SIDECAR,
        # query set + timed-loop constants (methodology()): rounds
        # with different values are not comparable
        "methodology": methodology(),
    }
    if calib_start is not None and calib_end is not None:
        # best observed kernel time = the day's CPU factor in one number
        calib = min(calib_start, calib_end)
        headline["calib_sec"] = calib
        if calib > 0:
            # the total this run would have recorded on the reference-speed
            # box (BENCH_r13's 0.492 s kernel cell): the ONE number to
            # compare across rounds -- raw totals confound code with the
            # box's per-day factor
            headline["calib_norm_total"] = round(
                headline["value"] * CALIBRATION_REF_SEC / calib, 3
            )
    if regime is not None:
        # the r16 regime gate's verdict: false = the bounded wait found
        # no healthy window and this total is NOT comparable cross-round
        # (thresholds + per-probe readings live in the sidecar)
        headline["regime_ok"] = regime["healthy"]
        if "end_ok" in regime:
            headline["regime_end_ok"] = regime["end_ok"]
        headline["regime_wait_s"] = regime["wait_sec"]
    if mem_start is not None and mem_end is not None:
        # the day's memory regime in two numbers: WORST first-touch
        # fault rate and BEST streaming bandwidth (r14) -- fault-rate
        # collapse moves Python-worker-bound rows with no CPU-kernel or
        # external-cores signature; attribution only, nothing
        # normalizes by it
        headline["fault_mbps"] = min(mem_start[0], mem_end[0])
        # a probe whose fill early-exited below the bw floor reports
        # None -- exclude it from the max instead of letting a cache-
        # tinted prefix sum outbid a healthy full-array probe
        bws = [b for b in (mem_start[1], mem_end[1]) if b is not None]
        if bws:
            headline["bw_gbps"] = max(bws)
    detail = dict(
        headline,
        # the regime gate's full record: final probe readings, verdict,
        # wall seconds spent waiting, attempts, and the thresholds that
        # judged them (r16, VERDICT #1)
        regime=regime,
        # the fixed data-independent calibration kernel
        # (CALIBRATION_ROWS-row Range -> xxhash64 -> bit_xor, min-of-3)
        # timed at bench start and end: the pair brackets the run --
        # a large start/end gap means the box's own speed shifted
        # MID-RUN, not just between days
        calib_start_sec=calib_start,
        calib_end_sec=calib_end,
        calib_rows=CALIBRATION_ROWS,
        # the memory probe's bracketing pairs (MEM_PROBE_BYTES each):
        # (first-touch fault MB/s, streaming-sum GB/s) at start and end
        mem_start_probe=mem_start,
        mem_end_probe=mem_end,
        # queries that got an extra min-of-3 before recording
        reran=reran,
        # max EXTERNAL cores (host busy CPU minus our own process tree)
        # sampled across each query's timed runs -- the per-query burst
        # detector; > MAX_EXTERNAL_CORES means that query was re-run
        # after a bounded quiet-down pause
        query_ext_cores=query_ext_cores,
        # mid-run quiet-box wait budget left (of
        # SPARK_GRAFT_BENCH_MIDRUN_WAIT); 0 = neighbors stayed noisy
        # past the budget and later re-runs raced them
        midrun_wait_left_sec=round(wait_budget_left, 1),
        # the NON-headline series (r17): min-of-N seconds for operators
        # added after the headline set froze (EXTRA_QUERIES) -- sidecar
        # only, never part of the official total
        extra_queries=extra_queries or {},
        # r18 retry-across-windows: one record per full timed pass
        # (regime brackets at each pass's start/end); >1 entry means a
        # degraded pass was re-run in a later healthy window and every
        # per-query number is the min over all passes
        passes=passes or [],
        # classes whole-stage codegen compiled across each query's timed
        # runs (every pass, re-runs included); warm runs of a query whose
        # classes stay in the codegen cache compile 0
        codegen_compiles=codegen_compiles or {},
        # per-row layer profile (headline and extra rows): the recorded
        # run's driver build / execute seconds, then the status store's
        # per-run jobs and job-active seconds, stages, tasks, executor
        # run and CPU seconds, input, shuffle and spill bytes, straggler
        # task and top stage (_layer_profile)
        layers=layers or {},
        # per table: the files its scans read and whether it is read in
        # place (table_layouts); the layout moves every row, so compare
        # totals only across runs with the same layout
        layout=layout or {},
    )
    try:
        ((sidecar_dir or Path(__file__).resolve().parent) / SIDECAR).write_text(
            json.dumps(detail, indent=1) + "\n"
        )
    except OSError as e:  # a read-only checkout must not kill the bench
        print(f"# sidecar write failed: {e}", file=sys.stderr)
    line = json.dumps(headline)
    # belt-and-braces: shed optional fields (never the required five) if
    # some future headline set pushes the line past the capture window
    for drop in ("detail", "n_reran", "load_flagged", "load_avg",
                 "load_avg_start", "regime_wait_s", "regime_end_ok",
                 "fault_mbps", "bw_gbps", "calib_norm_total",
                 "calib_sec", "regime_ok", "methodology"):
        if len(line) <= STDOUT_LINE_BUDGET:
            break
        headline.pop(drop, None)
        line = json.dumps(headline)
    return line


if __name__ == "__main__":
    main()
