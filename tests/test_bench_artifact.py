"""The round driver records only the last ~2 KB of bench stdout and
json-parses the final line; BENCH_r11.json came back ``"parsed": null``
because the line outgrew that window. Pin the contract: the stdout line
stays under bench.STDOUT_LINE_BUDGET with the full 29-query headline set
and worst-case diagnostics, and the verbose fields land in the sidecar.
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench


def _fake_run(tmp_path):
    times = {name: 12.345 for name in bench.HEADLINE}
    ext = {name: 31.99 for name in bench.HEADLINE}  # worst-case widths
    line = bench._render_output(
        times=times,
        sf=0.1,
        load_start=3.14,
        load_end=15.92,
        load_flagged=True,
        reran=list(bench.HEADLINE),  # every query re-ran (worse than r11's 15)
        query_ext_cores=ext,
        wait_budget_left=0.0,
        calib_start=0.651,
        calib_end=0.598,
        mem_start=(11.2, 8.01),
        mem_end=(2048.7, 11.95),
        regime={"healthy": False, "calib_sec": 0.651, "fault_mbps": 11.2,
                "bw_gbps": 8.01, "load": 3.14, "wait_sec": 1200.0,
                "attempts": 19,
                "thresholds": {"calib_max_sec": 0.62,
                               "fault_min_mbps": 25.0, "load_max": 4.0}},
        passes=[{"start_ok": False, "end_ok": False, "calib_start": 0.651,
                 "calib_end": 0.7, "fault_start": 11.2, "fault_end": 9.0},
                {"start_ok": True, "end_ok": True, "calib_start": 0.55,
                 "calib_end": 0.598, "fault_start": 41.0,
                 "fault_end": 2048.7}],
        codegen_compiles={name: 0 for name in bench.HEADLINE},
        sidecar_dir=tmp_path,
    )
    return line, tmp_path / bench.SIDECAR


def test_stdout_line_fits_capture_window(tmp_path):
    line, _ = _fake_run(tmp_path)
    assert "\n" not in line
    assert len(line) <= bench.STDOUT_LINE_BUDGET


def test_stdout_line_parses_with_required_fields(tmp_path):
    line, _ = _fake_run(tmp_path)
    rec = json.loads(line)
    assert rec["metric"] == "headline_queries_total"
    assert rec["unit"] == "sec"
    assert rec["sf"] == 0.1
    assert set(rec["queries"]) == set(bench.HEADLINE)
    assert rec["value"] == round(sum(rec["queries"].values()), 3)


def test_sidecar_carries_verbose_diagnostics(tmp_path):
    line, sidecar = _fake_run(tmp_path)
    detail = json.loads(sidecar.read_text())
    assert set(detail["query_ext_cores"]) == set(bench.HEADLINE)
    assert detail["reran"] == list(bench.HEADLINE)
    assert detail["midrun_wait_left_sec"] == 0.0
    # day-factor calibration kernel (r12 verdict #4): both bracketing
    # measurements land in the sidecar, the best one in the stdout line
    assert detail["calib_start_sec"] == 0.651
    assert detail["calib_end_sec"] == 0.598
    assert detail["calib_rows"] == bench.CALIBRATION_ROWS
    assert detail["calib_sec"] == 0.598
    assert json.loads(line).get("calib_sec") in (0.598, None)
    # r14 (r13 verdict #2): the calibration-normalized total -- the run's
    # total projected onto the reference-speed box -- rides in both places
    want_norm = round(sum(json.loads(line)["queries"].values())
                      * bench.CALIBRATION_REF_SEC / 0.598, 3)
    assert detail["calib_norm_total"] == want_norm
    assert json.loads(line).get("calib_norm_total") in (want_norm, None)
    # r14: the memory probe's bracketing pairs ride in the sidecar; the
    # headline carries the WORST first-touch fault rate and the BEST
    # streaming bandwidth of the two windows (fault-rate collapse moves
    # Python-worker-bound rows with no CPU-kernel signature)
    assert detail["mem_start_probe"] == [11.2, 8.01]
    assert detail["mem_end_probe"] == [2048.7, 11.95]
    assert detail["fault_mbps"] == 11.2
    assert detail["bw_gbps"] == 11.95
    assert json.loads(line).get("fault_mbps") in (11.2, None)
    assert json.loads(line).get("bw_gbps") in (11.95, None)
    # r16 (r15 verdict #1): the regime gate's verdict rides in the line
    # (or sheds), the full record -- readings + thresholds -- in the sidecar
    assert detail["regime"]["healthy"] is False
    assert detail["regime"]["thresholds"]["calib_max_sec"] == 0.62
    assert json.loads(line).get("regime_ok") in (False, None)
    # r18 retry-across-windows: per-pass regime brackets ride in the
    # sidecar (>1 entry = a degraded pass re-ran in a healthier window)
    assert len(detail["passes"]) == 2
    assert detail["passes"][1]["end_ok"] is True
    # per-query codegen compiles across the timed runs: sidecar only
    assert detail["codegen_compiles"] == {n: 0 for n in bench.HEADLINE}
    assert "codegen_compiles" not in json.loads(line)
    # the sidecar is a superset of the stdout line's fields
    rec = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert detail[k] == rec[k]


def test_methodology_hash_is_stable_and_tracks_the_harness(
        tmp_path, monkeypatch):
    """The JSON line carries a hash of the query set and the timed-loop
    constants: the same harness gives the same value, and changing any
    of them changes it."""
    first = bench.methodology()
    assert first == bench.methodology()
    assert json.loads(_fake_run(tmp_path)[0])["methodology"] == first
    for name, value in (("TIMED_RUNS", 5), ("RERUN_FACTOR", 1.5),
                        ("EXTRA_QUERIES", bench.EXTRA_QUERIES[:-1])):
        with monkeypatch.context() as m:
            m.setattr(bench, name, value)
            assert bench.methodology() != first, name
    assert bench.methodology() == first


def test_methodology_hash_tracks_the_layout_rule(monkeypatch):
    """The tables' file layout moves every row, so the layout rule is
    part of what defines the bench numbers."""
    first = bench.methodology()
    for name, value in (("_TARGET_FILE_BYTES", 1024 * 1024),
                        ("_LAYOUT_VERSION", 0)):
        with monkeypatch.context() as m:
            m.setattr(bench.tables, name, value)
            assert bench.methodology() != first, name
    assert bench.methodology() == first


def test_sidecar_records_each_tables_layout(tmp_path, monkeypatch, sf_dir):
    """BENCH_DETAIL.json names the layout a run measured: each table's
    file count and whether it is read in place."""
    monkeypatch.setattr(bench.tables, "_TARGET_FILE_BYTES", 100_000)
    layout = bench.table_layouts(sf_dir)
    assert set(layout) == set(bench.tables.TABLES)
    assert layout["region"] == {"files": 1, "in_place": True}
    assert layout["embeddings"]["files"] >= 2
    assert layout["embeddings"]["in_place"] is False
    line = bench._render_output(
        times={name: 1.0 for name in bench.HEADLINE}, sf=0.001,
        load_start=1.0, load_end=1.0, load_flagged=False, reran=[],
        query_ext_cores={}, wait_budget_left=0.0, layout=layout,
        sidecar_dir=tmp_path,
    )
    assert "layout" not in json.loads(line)
    detail = json.loads((tmp_path / bench.SIDECAR).read_text())
    assert detail["layout"] == layout


def test_field_shedding_never_drops_required_fields(tmp_path):
    # force shedding by shrinking the budget to just above the minimal form
    orig = bench.STDOUT_LINE_BUDGET
    times = {name: 12.345 for name in bench.HEADLINE}
    minimal = len(json.dumps({
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": 0.1,
    }))
    bench.STDOUT_LINE_BUDGET = minimal + 10
    try:
        line, _ = _fake_run(tmp_path)
    finally:
        bench.STDOUT_LINE_BUDGET = orig
    rec = json.loads(line)
    assert len(line) <= minimal + 10
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in rec


def test_prior_round_times_skips_unparsed_rounds(tmp_path, monkeypatch):
    # a round whose parsed is null (r11) must not poison the drift baseline;
    # the leg runs at the 32 cores a wrapper without "cpus" stands for, so
    # no core ratio scales the prior
    monkeypatch.setattr(bench, "N_CPUS", 32)
    (tmp_path / "BENCH_r98.json").write_text(json.dumps(
        {"parsed": None, "tail": "truncated..."}))
    (tmp_path / "BENCH_r99.json").write_text(json.dumps(
        {"parsed": {"sf": 0.1, "queries": {"q": 1.5}}}))
    orig = bench.Path(bench.__file__).resolve().parent
    # _prior_round_times globs next to bench.py; monkeypatch via symlink dir
    import unittest.mock as mock
    with mock.patch.object(bench, "__file__", str(tmp_path / "bench.py")):
        best = bench._prior_round_times(0.1)
    assert best == {"q": 1.5}
    assert orig.exists()


def test_prior_round_times_calibration_normalizes_priors(
        tmp_path, monkeypatch):
    """r13 verdict #2: a kernel-carrying prior round's times scale by
    calib_now/calib_round (clamped) before the min -- on a 2x-slow day
    the gate's bar doubles instead of re-running 12/29 queries to
    re-measure the box; rounds without a kernel stay raw (on a leg at
    the 32 cores they ran with)."""
    import unittest.mock as mock

    monkeypatch.setattr(bench, "N_CPUS", 32)

    (tmp_path / "BENCH_r90.json").write_text(json.dumps(
        {"parsed": {"sf": 0.1, "queries": {"q": 1.5, "r": 4.0},
                    "calib_sec": 0.5}}))
    (tmp_path / "BENCH_r91.json").write_text(json.dumps(
        {"parsed": {"sf": 0.1, "queries": {"q": 2.0, "nocal": 3.0}}}))
    with mock.patch.object(bench, "__file__", str(tmp_path / "bench.py")):
        raw = bench._prior_round_times(0.1)
        # today's kernel is 2x the r90 cell: r90's priors double; the
        # kernel-less r91 stays raw and now holds q's min
        slow = bench._prior_round_times(0.1, calib_now=1.0)
        # a corrupt 100x kernel ratio clamps at CALIBRATION_RATIO_CLAMP
        wild = bench._prior_round_times(0.1, calib_now=50.0)
    assert raw == {"q": 1.5, "r": 4.0, "nocal": 3.0}
    assert slow == {"q": 2.0, "r": 8.0, "nocal": 3.0}
    hi = bench.CALIBRATION_RATIO_CLAMP[1]
    assert wild == {"q": 2.0, "r": 4.0 * hi, "nocal": 3.0}


def test_calibration_kernel_times_fresh_dataframes(spark, monkeypatch):
    """The kernel must build a FRESH DataFrame per timed run: re-collecting
    one DataFrame object reuses its shuffle map outputs (skipped stages)
    and r13's first sizing pass measured 8e9 rows in 0.045 s that way.
    Pinned at a tiny row count; the mechanics (warm-up + min-of-3 + fresh
    plan each run) are what's under test, not the wall time."""
    monkeypatch.setattr(bench, "CALIBRATION_ROWS", 1_000)
    built = []
    orig_range = spark.range

    def counting_range(*a, **kw):
        built.append(a)
        return orig_range(*a, **kw)

    monkeypatch.setattr(spark, "range", counting_range)
    sec = bench._calibration_sec(spark, n_runs=3)
    assert isinstance(sec, float) and sec > 0
    assert len(built) == 4  # 1 untimed warm-up + 3 timed, each a new plan


def test_regime_gate_passes_healthy_window_immediately(monkeypatch):
    """r16 (r15 verdict #1): a healthy first probe ends the gate with no
    sleeping; its readings become the run's start probes."""
    monkeypatch.setattr(bench, "_calibration_sec", lambda s: 0.510)
    monkeypatch.setattr(bench, "_memory_probe", lambda: (40.0, 8.5))
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (1.0, 1.0, 1.0))
    slept = []
    monkeypatch.setattr(bench.time, "sleep", slept.append)
    out = bench._regime_gate(spark=None)
    assert out["healthy"] is True
    assert out["attempts"] == 1
    assert slept == []
    assert out["calib_sec"] == 0.510 and out["fault_mbps"] == 40.0
    assert out["thresholds"]["calib_max_sec"] == bench.REGIME_CALIB_MAX


def test_regime_gate_retries_then_flags_no_healthy_window(monkeypatch):
    """A permanently degraded box: the gate retries inside its budget,
    then returns healthy=False (the bench still runs -- an artifact must
    exist) instead of spinning forever."""
    monkeypatch.setattr(bench, "_calibration_sec", lambda s: 0.700)
    monkeypatch.setattr(bench, "_memory_probe", lambda: (12.0, 8.5))
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (1.0, 1.0, 1.0))
    clock = [0.0]
    monkeypatch.setattr(bench.time, "time", lambda: clock[0])

    def sleep(sec):
        clock[0] += sec

    monkeypatch.setattr(bench.time, "sleep", sleep)
    monkeypatch.setattr(bench, "REGIME_WAIT_BUDGET_SEC", 150)
    monkeypatch.setattr(bench, "REGIME_RETRY_SLEEP_SEC", 60)
    out = bench._regime_gate(spark=None)
    assert out["healthy"] is False
    assert out["attempts"] == 3  # t=0, 60, 120; a 4th would pass 150
    assert out["wait_sec"] == 120.0


def test_regime_gate_recovers_mid_budget(monkeypatch):
    """A degraded window that clears: the gate's LAST probe is the one
    recorded (fresh readings, not the degraded first attempt). r18:
    degraded-memory attempts must NOT run the Spark calibration kernel
    (the cheap no-Spark memory probe is the discriminator; the kernel
    runs only once memory reads healthy or on the final attempt) -- a
    single-element calib iterator pins the skip."""
    calibs = iter([0.505])  # would StopIteration if the degraded
    #                         attempt also ran the kernel
    monkeypatch.setattr(bench, "_calibration_sec", lambda s: next(calibs))
    faults = iter([(10.0, 2.0), (45.0, 9.0)])
    monkeypatch.setattr(bench, "_memory_probe", lambda: next(faults))
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 0.5, 0.5))
    clock = [0.0]
    monkeypatch.setattr(bench.time, "time", lambda: clock[0])
    monkeypatch.setattr(bench.time, "sleep",
                        lambda sec: clock.__setitem__(0, clock[0] + sec))
    out = bench._regime_gate(spark=None)
    assert out["healthy"] is True
    assert out["attempts"] == 2
    assert out["calib_sec"] == 0.505 and out["fault_mbps"] == 45.0


def test_regime_gate_honors_explicit_wait_budget(monkeypatch):
    """r18 retry-across-windows: each retry re-enters the gate with its
    own bounded budget (REGIME_RETRY_WAIT_SEC), independent of the
    start gate's REGIME_WAIT_BUDGET_SEC."""
    monkeypatch.setattr(bench, "_calibration_sec", lambda s: 0.505)
    monkeypatch.setattr(bench, "_memory_probe", lambda: (12.0, None))
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 0.5, 0.5))
    clock = [0.0]
    monkeypatch.setattr(bench.time, "time", lambda: clock[0])
    monkeypatch.setattr(bench.time, "sleep",
                        lambda sec: clock.__setitem__(0, clock[0] + sec))
    monkeypatch.setattr(bench, "REGIME_WAIT_BUDGET_SEC", 10_000)
    monkeypatch.setattr(bench, "REGIME_RETRY_SLEEP_SEC", 60)
    out = bench._regime_gate(spark=None, wait_budget_sec=150)
    assert out["healthy"] is False
    assert out["attempts"] == 3  # t=0, 60, 120; bounded by the 150s arg
    assert out["wait_sec"] == 120.0


def test_memory_probe_nulls_bw_below_floor(monkeypatch):
    """r16 ADVICE: a degraded window's early-exited fill can leave as
    little as one chunk backed; a streaming sum over that cache-resident
    prefix is NOT a bandwidth measurement and must come back None, not
    a (higher-than-healthy) number."""
    # budget 0 exits after the first 8 MB chunk; an infinite fault floor
    # suppresses the finish-the-fill branch, leaving touched < bw floor
    monkeypatch.setattr(bench, "MEM_PROBE_FILL_BUDGET_SEC", 0.0)
    monkeypatch.setattr(bench, "REGIME_FAULT_MIN_MBPS", float("inf"))
    fault, bw = bench._memory_probe(n_runs=1)
    assert fault > 0
    assert bw is None


def test_render_output_skips_none_bw(tmp_path):
    """A probe pair where one side nulled its bandwidth: the headline max
    uses the surviving reading; when BOTH are None the field is absent."""
    times = {"q": 1.0}
    one_none = bench._render_output(
        times=times, sf=0.1, load_start=1.0, load_end=1.0,
        load_flagged=False, reran=[], query_ext_cores={"q": 0.0},
        wait_budget_left=0.0, calib_start=0.5, calib_end=0.5,
        mem_start=(9.0, None), mem_end=(40.0, 7.5), sidecar_dir=tmp_path,
    )
    rec = json.loads(one_none)
    assert rec["bw_gbps"] == 7.5
    assert rec["fault_mbps"] == 9.0
    both_none = bench._render_output(
        times=times, sf=0.1, load_start=1.0, load_end=1.0,
        load_flagged=False, reran=[], query_ext_cores={"q": 0.0},
        wait_budget_left=0.0, calib_start=0.5, calib_end=0.5,
        mem_start=(9.0, None), mem_end=(8.0, None), sidecar_dir=tmp_path,
    )
    rec = json.loads(both_none)
    assert "bw_gbps" not in rec
    assert rec["fault_mbps"] == 8.0


def test_extra_queries_ride_sidecar_not_stdout(tmp_path):
    """r17 (r16 verdict #3): the non-headline series (EXTRA_QUERIES --
    ops added after the headline set froze) lands in the sidecar's
    extra_queries map and never in the stdout line's queries/value, so
    the official total stays round-over-round comparable."""
    times = {name: 1.0 for name in bench.HEADLINE}
    line = bench._render_output(
        times=times, sf=0.1, load_start=1.0, load_end=1.0,
        load_flagged=False, reran=[], query_ext_cores={},
        wait_budget_left=0.0, calib_start=0.5, calib_end=0.5,
        extra_queries={"bigram_logprob": 0.7, "ann_pq_recall": 2.1},
        sidecar_dir=tmp_path,
    )
    rec = json.loads(line)
    assert "bigram_logprob" not in rec["queries"]
    assert rec["value"] == round(sum(times.values()), 3)
    detail = json.loads((tmp_path / bench.SIDECAR).read_text())
    assert detail["extra_queries"] == {"bigram_logprob": 0.7,
                                       "ann_pq_recall": 2.1}
    # every EXTRA_QUERIES name must resolve in the full registry
    from aws_cloudfront_realtime_monitoring_spark.plans import load_full
    reg = load_full()
    for name in bench.EXTRA_QUERIES:
        assert name in reg, name


def test_layers_ride_sidecar_not_stdout(tmp_path):
    """The per-row layer profile is sidecar-only: it names every
    headline and extra row, so it would blow the stdout window."""
    times = {name: 1.0 for name in bench.HEADLINE}
    layers = {name: {"build_s": 0.1, "exec_s": 0.9, "stages": 2.0}
              for name in bench.HEADLINE + bench.EXTRA_QUERIES}
    line = bench._render_output(
        times=times, sf=0.1, load_start=1.0, load_end=1.0,
        load_flagged=False, reran=[], query_ext_cores={},
        wait_budget_left=0.0, layers=layers, sidecar_dir=tmp_path,
    )
    assert "layers" not in json.loads(line)
    assert "build_s" not in line
    detail = json.loads((tmp_path / bench.SIDECAR).read_text())
    assert detail["layers"] == layers


def test_layer_profile_counts_only_work_after_the_mark(spark):
    """The status-store profile of a shuffle query sees its map and
    reduce stages, the shuffle bytes between them and executor CPU; a
    query that ran before the mark is not counted."""
    spark.range(0, 20_000, 1, 3).selectExpr("id % 11 AS k") \
        .groupBy("k").count().collect()
    mark = bench._status_mark(spark)
    idle = bench._layer_profile(spark, mark)
    assert (idle["jobs"], idle["stages"], idle["tasks"]) == (0, 0, 0)
    assert idle["jobs_active_s"] == 0
    assert idle["top_stage"] is None

    spark.range(0, 200_000, 1, 4).selectExpr("id % 97 AS k") \
        .groupBy("k").count().write.format("noop").mode("overwrite").save()
    prof = bench._layer_profile(spark, mark)
    assert prof["jobs"] >= 1
    assert prof["jobs_active_s"] > 0
    assert prof["stages"] >= 2
    assert prof["tasks"] >= prof["stages"]
    assert prof["shuffle_write_bytes"] > 0
    assert prof["shuffle_read_bytes"] > 0
    assert prof["executor_cpu_s"] > 0
    assert prof["executor_run_s"] >= prof["top_stage"]["run_s"]
    assert 0 < prof["max_task_s"] <= prof["executor_run_s"]


def test_regime_thresholds_scale_with_core_count(monkeypatch):
    """r17: the driver's low-core bench leg runs the same 32-split
    calibration kernel ~32/cores slower, so the gate's DEFAULT calib
    threshold and the prior clamp's upper bound scale by the core
    ratio — else local[8] can never probe healthy and burns the full
    regime wait before every run. Explicit env overrides stay
    absolute; at 32 cores nothing changes."""
    import importlib

    import bench as bench_mod

    try:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
        monkeypatch.delenv("SPARK_GRAFT_REGIME_CALIB_MAX", raising=False)
        b = importlib.reload(bench_mod)
        assert b.CORE_SCALE == 4.0
        assert abs(b.REGIME_CALIB_MAX - 0.62 * 4) < 1e-9
        assert b.CALIBRATION_RATIO_CLAMP == (0.5, 8.0)
        monkeypatch.setenv("SPARK_GRAFT_REGIME_CALIB_MAX", "0.9")
        b = importlib.reload(bench_mod)
        assert b.REGIME_CALIB_MAX == 0.9
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
        monkeypatch.delenv("SPARK_GRAFT_REGIME_CALIB_MAX", raising=False)
        b = importlib.reload(bench_mod)
        assert b.CORE_SCALE == 1.0
        assert b.REGIME_CALIB_MAX == 0.62
        assert b.CALIBRATION_RATIO_CLAMP == (0.5, 2.0)
    finally:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        monkeypatch.delenv("SPARK_GRAFT_REGIME_CALIB_MAX", raising=False)
        importlib.reload(bench_mod)


def test_prior_round_times_scales_kernelless_rounds_by_core_ratio(
        tmp_path, monkeypatch):
    """r17: a pre-r13 artifact (no calib cell) recorded at 32 cores must
    not feed its raw prior to a low-core leg — it scales by the
    recorded core ratio (ideal-linear, clamped); kernel-carrying rounds
    keep the kernel-ratio normalization, and same-core legs see raw
    priors unchanged."""
    import importlib
    import json

    import bench as bench_mod

    (tmp_path / "BENCH_r01.json").write_text(json.dumps({
        "cpus": 32,
        "parsed": {"sf": 0.1, "queries": {"q": 0.4}}}))
    # a kernel-less round that ran on the lower-core leg
    (tmp_path / "BENCH_r02.json").write_text(json.dumps({
        "cpus": 8,
        "parsed": {"sf": 0.1, "queries": {"p": 2.0}}}))
    try:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
        b = importlib.reload(bench_mod)
        monkeypatch.setattr(b, "__file__", str(tmp_path / "bench.py"))
        low = b._prior_round_times(0.1, calib_now=2.0)
        assert abs(low["q"] - 0.4 * 4) < 1e-9  # 32/8 core ratio
        assert low["p"] == 2.0  # same cores as its round: raw
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
        b = importlib.reload(bench_mod)
        monkeypatch.setattr(b, "__file__", str(tmp_path / "bench.py"))
        same = b._prior_round_times(0.1, calib_now=0.6)
        assert same["q"] == 0.4  # kernel-less, same cores: raw
        # 8/32 core ratio, clamped at the ratio clamp's lower bound
        assert same["p"] == 2.0 * max(8 / 32, b.CALIBRATION_RATIO_CLAMP[0])
    finally:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        importlib.reload(bench_mod)
