"""tools/scale.py, the one scale harness.

Every family runs its smallest cell in the shared session (an sf0.001
base, 2 copies, 1 timed run, small cc / skew / media units): each of
its exactness checks must hold, and the session conf must be as it was
before the family ran. The corpus cache, the arm and the per-core rates
are pinned on their own.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

import bench  # noqa: E402
import scale  # noqa: E402


@pytest.fixture(scope="module")
def small_units(tmp_path_factory):
    """Small corpora and sweeps, two rows per registry family, and no
    warm-up run: the harness paths run, at a Tier-1 price."""
    mp = pytest.MonkeyPatch()
    mp.setattr(scale, "timed_runs", lambda *a, **kw: bench.timed_runs(
        *a, **dict(kw, warmup=False)))
    for fam, rows in (("dedup", ["dedup_exact", "semdedup"]),
                      ("relational", ["q1_hourly_measure_by_dim",
                                      "asof_join_latest_order"])):
        mp.setitem(scale.FAMILIES, fam, dataclasses.replace(
            scale.FAMILIES[fam], cells=scale.registry_cells(rows)))
    mp.setattr(scale, "KMEANS_ITERS", 1)
    mp.setattr(scale, "IMAGE_FAMILIES", ("png",))
    mp.setattr(scale, "SWEEP_DIR", tmp_path_factory.mktemp("scale_sweep"))
    mp.setattr(scale, "CC_UNIT_NODES", 1_000)
    mp.setattr(scale, "SKEW_UNIT_ROWS", 20_000)
    mp.setattr(scale, "SKEW_KEYS", 1_000)
    mp.setattr(scale, "MEDIA_UNIT", 16)
    mp.setattr(scale, "NPROBE_SWEEP", (1, 2))
    mp.setattr(scale, "PQ_NPROBE", (2,))
    mp.setattr(scale, "SKEW_SALTS", ("auto",))
    yield
    mp.undo()


@pytest.mark.parametrize("family", sorted(scale.FAMILIES))
def test_family_smallest_cell_is_exact(spark, sf_dir, small_units, family):
    before = spark.conf.getAll
    results = scale.run_family(spark, family, copies=[2], runs=1,
                               base=Path(sf_dir), fixed=())
    # every key set during the family is restored, or unset again
    assert spark.conf.getAll == before
    checks = {f"{cell}: {check}": ok for cell, r in results.items()
              for check, ok in r.get("exact", {}).items()}
    assert checks, f"{family} checks nothing"
    assert all(checks.values()), checks
    assert scale.failures(results) == []
    timed = [r for r in results.values() if "sec" in r]
    assert timed and all(r["layers"]["jobs"] > 0 for r in timed)
    assert "| cell |" in scale.render(results)
    json.dumps(results, default=str)


def test_timed_runs_warms_up_then_times_each_run(spark):
    built = []

    def build():
        built.append(1)
        return spark.range(100)
    cell = bench.timed_runs(spark, build, 2, warmup=True)
    assert len(built) == 3 and len(cell["runs"]) == 2
    assert cell["sec"] == min(cell["runs"])
    assert cell["build_s"] + cell["exec_s"] == pytest.approx(cell["sec"])
    assert cell["layers"]["runs"] == 2 and cell["layers"]["jobs"] >= 1


def test_arm_restores_confs_and_constants(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.getAll
    with pytest.raises(RuntimeError):
        with scale.arm(spark, {key: "-1", (scale, "PQ_M"): 4,
                               "spark.sql.adaptive.skewJoin.enabled": "false"}):
            assert spark.conf.get(key) == "-1" and scale.PQ_M == 4
            raise RuntimeError("cell failed")
    assert spark.conf.getAll == before
    assert scale.PQ_M == 8


def test_corpus_cache_reuses_rebuilds_and_retires(tmp_path):
    src = tmp_path / "events.parquet"
    src.write_bytes(b"rows")
    out = tmp_path / "sweep" / "sf0.1x2" / "events.parquet"
    built = []

    def build(path: str) -> None:
        built.append(path)
        os.makedirs(path)
        Path(path, "_SUCCESS").touch()

    def stamps() -> list[str]:
        return sorted(p.name for p in out.parent.glob(".events.parquet-*"))

    assert scale.cached_corpus(out, 3, build, str(src)) == str(out)
    first = stamps()
    scale.cached_corpus(out, 3, build, str(src))
    assert len(built) == 1 and stamps() == first  # unchanged source: reused
    st = os.stat(src)  # touched within the same second: rebuilt
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    scale.cached_corpus(out, 3, build, str(src))
    assert len(built) == 2
    assert len(stamps()) == 1 and stamps() != first  # old stamp retired
    scale.cached_corpus(out, 4, build, str(src))  # a new construction rule
    assert len(built) == 3 and stamps()[0].startswith(".events.parquet-v4-")


def test_rates_divide_by_the_sessions_parallelism():
    session = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=5))
    assert scale.per_core(session, 1000.0) == 200.0
    res = {"sec": 2.0}
    scale.rates(session, res, 1000)
    assert res == {"sec": 2.0, "rec_per_s": 500, "rec_per_s_core": 100.0}


def test_cli_runs_on_the_default_core_count(monkeypatch, capsys):
    calls = []
    session = SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=3), stop=lambda: None)

    def fake_get_spark(*args, **kwargs):
        calls.append((args, kwargs))
        return session

    import __spark_entry__

    monkeypatch.setattr(scale, "get_spark", fake_get_spark)
    monkeypatch.setattr(scale, "_wait_for_quiet_box", lambda: (0.0, False))
    monkeypatch.setattr(__spark_entry__, "_ship_package", lambda s: None)
    monkeypatch.setattr(scale, "run_family", lambda *a: {"cc@2": {
        "exact": {"one component labelled 0": True}}})
    monkeypatch.setattr(sys, "argv", ["scale.py", "--family", "cc"])
    scale.main()
    assert calls == [(("scale_cc",), {})]
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["cpus"] == 3
