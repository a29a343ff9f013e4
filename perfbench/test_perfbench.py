"""Self-tests of the benchmark's own machinery (no Spark needed).

Run: ``python3 -m pytest perfbench/test_perfbench.py -q``
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import tail, visible_times  # noqa: E402
from sweep_data import build_tables  # noqa: E402


def _generate(tmp, seed: int) -> dict[str, bytes]:
    watch, tallies = os.path.join(tmp, f"w{seed}"), os.path.join(tmp, f"t{seed}")
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                    "--seed", str(seed), "--watch", watch, "--tallies", tallies,
                    "--t0", "1700000000.25", "--files", "3", "--lines", "400"],
                   check=True, timeout=60)
    out = {}
    for name in sorted(os.listdir(watch)):
        with open(os.path.join(watch, name), "rb") as f:
            out[name] = f.read()
    return out


def test_generator_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = _generate(str(tmp_path / "a"), 5)
    b = _generate(str(tmp_path / "b"), 5)
    c = _generate(str(tmp_path / "c"), 6)
    assert list(a) == [gen.file_name(i) for i in range(3)]
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_generator_tally_matches_its_lines():
    text, tally = gen.make_file(9, 0, 1700000000.0, 5000)
    lines = text.splitlines()
    assert len(lines) == tally["lines"] == 5000
    rows: dict[str, int] = {}
    sc_bytes: dict[str, int] = {}
    short = 0
    for line in lines:
        toks = line.split("\t")
        short += len(toks) < gen.N_FIELDS
        edge = toks[gen.EDGE]
        rows[edge] = rows.get(edge, 0) + 1
        if toks[gen.SC_BYTES] != "-":
            sc_bytes[edge] = sc_bytes.get(edge, 0) + int(toks[gen.SC_BYTES])
    assert {e: v["rows"] for e, v in tally["by_edge"].items()} == rows
    assert {e: v["sc_bytes"] for e, v in tally["by_edge"].items()} == {
        e: sc_bytes.get(e, 0) for e in rows}
    # the permissive parser paths run: truncated lines and '-' sentinels
    assert 0 < short < 100
    assert any(t == "-" for line in lines for t in line.split("\t")[gen.TRUNCATE_AT:])
    # Zipf skew: the most common edge carries far more than a uniform share
    assert max(rows.values()) > 5 * len(lines) / len(gen.EDGES)


def test_visibility_on_a_synthetic_timeline():
    # three files of 10 rows due at t = 0, 1, 2
    due = [0.0, 1.0, 2.0]
    cum = [10, 20, 30]
    polls = [(0.5, 0), (1.2, 10), (2.4, 25), (3.1, 30)]
    vis = visible_times(cum, polls)
    assert vis == [1.2, 2.4, 3.1]
    fresh = [v - d for v, d in zip(vis, due)]
    assert fresh == pytest.approx([1.2, 1.4, 1.1])
    assert statistics.median(fresh) == pytest.approx(1.2)
    # a file no poll covered stays invisible
    assert visible_times([10, 40], polls) == [1.2, None]


def test_tail_names_highest_percentile_with_ten_beyond():
    hundred = [float(i) for i in range(1, 101)]
    assert tail(hundred) == {"pct": 90.0, "value": 90.0, "n": 100}
    forty = [float(i) for i in range(1, 41)]
    assert tail(forty) == {"pct": 75.0, "value": 30.0, "n": 40}
    thousand = [float(i) for i in range(1, 1001)]
    assert tail(thousand) == {"pct": 99.0, "value": 990.0, "n": 1000}
    assert tail([1.0] * 15) is None


def test_sweep_tables_are_seeded():
    a, b, c = build_tables(3), build_tables(3), build_tables(4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
