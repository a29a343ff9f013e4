"""LM quality-filter scale decade (r17, r16 verdict #2).

``bigram_logprob`` was the one r16 operator whose 100 TB posture was
argued but unmeasured: its bigram model is O(min(V^2, tokens)) and its
model join is DELIBERATELY unhinted (plans/curation.py) so AQE
broadcasts it when small and shuffle-joins it at scale. This tool
measures both LM filters through the word-salted documents decades
(``build_scaled_documents``: per-copy word salting multiplies the
vocabulary — and so the bigram model — by the copy count, the exact
stress the unhinted join exists for) and OBSERVES the executed join
strategy from the AQE final plan, plus a forced-shuffle contrast cell
(autoBroadcastJoinThreshold=-1) that demonstrates the scale path's
correctness and cost on the same data: the hinted unigram broadcast
survives the threshold (hints override it), the unhinted bigram join
flips to a shuffle join, and the checksum must not move.

Usage: python tools/measure_lm_scale.py [--copies 10 100] [--runs 3]
Prints a markdown table + one JSON line (for SCALE.md).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from bench import _wait_for_quiet_box  # noqa: E402

import measure_skew_scale as mss  # noqa: E402
from scale_sweep import build_scaled_documents  # noqa: E402

from aws_cloudfront_realtime_monitoring_spark.plans import load_full  # noqa: E402
from aws_cloudfront_realtime_monitoring_spark.session import get_spark  # noqa: E402

QUERIES = ["unigram_logprob", "bigram_logprob"]

_JOIN_OPS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


def _run_with_plan(spark, registry, name: str, d: str) -> dict:
    """Execute the query once through a tiny checksum aggregate (so the
    AQE FINAL plan — runtime join decisions included — is readable off
    the same QueryExecution) and return the checksum + per-join-op
    counts."""
    from pyspark.sql import functions as F

    agg = registry[name].build(spark, d).agg(
        F.count("*").alias("n"), F.sum("sum_lp_micro").alias("s"),
        F.sum("keep").alias("k"))
    row = agg.collect()[0]
    plan = agg._jdf.queryExecution().executedPlan().toString()
    return {
        "n_docs": row["n"], "sum_lp": int(row["s"]), "n_keep": int(row["k"]),
        "joins": {op: plan.count(op) for op in _JOIN_OPS},
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, nargs="*", default=[10, 100])
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    load, flagged = _wait_for_quiet_box()
    print(f"# start load {load:.2f} flagged={flagged}", file=sys.stderr)
    spark = get_spark("lm_scale")
    registry = load_full()

    dirs: list[tuple[str, str]] = [
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
    ]
    for c in args.copies:
        dirs.append((f"x{c}",
                     build_scaled_documents(spark, "/root/testdata/sf0.1", c)))

    results: dict[str, dict] = {}
    for label, d in dirs:
        for q in QUERIES:
            cell = mss.timed(spark, lambda: registry[q].build(spark, d),
                             args.runs)
            cell.update(_run_with_plan(spark, registry, q, d))
            results[f"{q}@{label}"] = cell
            print(f"# {q}@{label}: {cell}", file=sys.stderr)
        # forced-shuffle contrast at this decade: hints keep the unigram
        # broadcast; the UNHINTED bigram model join must flip to a
        # shuffle join with an identical checksum (the 100 TB path)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            t0 = time.perf_counter()
            forced = _run_with_plan(spark, registry, "bigram_logprob", d)
            forced["sec"] = round(time.perf_counter() - t0, 3)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        base = results[f"bigram_logprob@{label}"]
        forced["checksum_match"] = (
            forced["sum_lp"] == base["sum_lp"]
            and forced["n_docs"] == base["n_docs"]
            and forced["n_keep"] == base["n_keep"])
        results[f"bigram_forced_shuffle@{label}"] = forced
        print(f"# bigram_forced_shuffle@{label}: {forced}", file=sys.stderr)

    print("\n| cell | docs | min wall (s) | BHJ | SMJ/SHJ | checksum |")
    print("|---|---|---|---|---|---|")
    for name, r in results.items():
        j = r["joins"]
        smj = j["SortMergeJoin"] + j["ShuffledHashJoin"]
        extra = ("match" if r.get("checksum_match")
                 else ("MISMATCH" if "checksum_match" in r else "-"))
        print(f"| {name} | {r['n_docs']} | {r.get('sec', '-')} "
              f"| {j['BroadcastHashJoin']} | {smj} | {extra} |")
    print(json.dumps({"metric": "lm_scale", "results": results,
                      "load_start": round(load, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
