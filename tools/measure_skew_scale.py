"""Adversarial skew drive at ~sf10 (VERDICT r13 item #6).

skew_salted_join / skew_salted_agg are LOSSLESS-proven at fixture scale
(tests/test_skew.py pins salted == unsalted results), but the salted
plans' ADVANTAGE was never measured under real skew. This tool builds a
~sf10 corpus where ONE key owns ~50% of the rows and measures, for the
join and the aggregation:

- plain plan, AQE skew-join ON (the session default -- what a user gets)
- plain plan, AQE skew-join OFF (the underlying straggler, isolated)
- the explicit salted operator (AQE on, as shipped)

recording min-of-N wall AND the max single-task duration of each run's
heaviest stage (straggler detection needs task-level data: wall time on
a 32-core box under-reports a straggler that still fits inside other
tasks' makespan). Task durations come from Spark's in-process status
store (bench.py's ``_layer_profile``, taskSummary quantile 1.0), which
Spark keeps with the UI off.

Broadcast note: the small side is sized ABOVE the broadcast threshold
(the operator's documented domain -- "too big to broadcast, far smaller
than the large side"); a broadcastable small side needs no salting and
the plain plan would win by never shuffling the large side at all.

Aggregation expectation, stated up front: Spark's hash aggregate already
computes MAP-SIDE partials, so a single hot GROUP key collapses to one
row per input partition before the shuffle -- the honest outcome may be
a NULL RESULT (salting buys nothing for decomposable aggs); the cell
exists to measure, not assume.

Usage: python tools/measure_skew_scale.py [--rows 10000000] [--runs 3]
Prints a markdown table + one JSON line. Corpus under
``.scale_sweep/skew_v1/`` (gitignored), built once.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import (
    _ExternalCpu,
    _layer_profile,
    _status_mark,
    _wait_for_quiet_box,
)

from aws_cloudfront_realtime_monitoring_spark.operators.skew import (
    salted_join,
    two_phase_agg,
)
from aws_cloudfront_realtime_monitoring_spark.session import get_spark

SWEEP = REPO / ".scale_sweep" / "skew_v1"
HOT_SHARE = 0.5  # the hot key owns this fraction of large-side rows
N_KEYS = 1_000_000  # uniform tail key domain (also the small side's keys)


def build_corpus(spark, rows: int,
                 hot_share: float = HOT_SHARE) -> tuple[str, str]:
    """large: ``rows`` rows, key 0 owns ``hot_share`` of them, the rest
    uniform over 1..N_KEYS; small: N_KEYS keys x 2 rows (dim payload),
    sized past the broadcast threshold. r15: ``val2`` adds a
    high-cardinality value (~1e6 distinct under the hot key) so the
    exact-distinct cells measure LARGE partial aggregation state, and
    the corpus is keyed by hot share for the two-ratio auto-salt sweep."""
    large_p = SWEEP / f"large_{rows}_h{int(hot_share * 100)}_v2"
    small_p = SWEEP / f"small_{N_KEYS}"
    if not (large_p / "_SUCCESS").exists():
        (
            spark.range(0, rows, 1, 64)
            .selectExpr(
                f"CASE WHEN id % {int(1 / hot_share)} = 0 THEN 0 "
                f"ELSE pmod(xxhash64(id), {N_KEYS - 1}) + 1 END AS key",
                "CAST(pmod(id, 1000) AS DOUBLE) AS val",
                "pmod(id, 1000003) AS val2",
            )
            .write.mode("overwrite").parquet(str(large_p))
        )
    if not (small_p / "_SUCCESS").exists():
        (
            spark.range(0, N_KEYS, 1, 32)
            .selectExpr("id AS key", "explode(array(0, 1)) AS rep")
            .selectExpr("key", "concat('dim_', key, '_', rep) AS dim")
            .write.mode("overwrite").parquet(str(small_p))
        )
    return str(large_p), str(small_p)


def timed(spark, build_df, runs: int) -> dict:
    ext = _ExternalCpu()
    build_df().write.format("noop").mode("overwrite").save()  # warm-up
    ext.sample()
    per, task_max, ext_runs = [], 0.0, []
    for _ in range(runs):
        mark = _status_mark(spark)
        t0 = time.perf_counter()
        build_df().write.format("noop").mode("overwrite").save()
        per.append(round(time.perf_counter() - t0, 3))
        # sample PER RUN, immediately after it: a single whole-window
        # average dilutes a mid-sweep neighbor burst below visibility
        # (r14: the ann sweep's 88->205 s spread sat next to
        # ext_cores=0.0), and the status-store read below would pollute
        # the window if sampled after it
        ext_runs.append(round(ext.sample(), 2))
        task_max = max(task_max, _layer_profile(spark, mark)["max_task_s"])
        spark.catalog.clearCache()
        ext.sample()  # reset the window past the read/clear overhead
    return {"sec": min(per), "runs": per,
            "max_task_s": round(task_max, 2),
            # the headline is the WORST run's load: one number that says
            # whether any cell in this experiment was contaminated
            "ext_cores": max(ext_runs) if ext_runs else 0.0,
            "ext_runs": ext_runs}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=10_000_000)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    load, flagged = _wait_for_quiet_box()
    print(f"# start load {load:.2f} flagged={flagged}", file=sys.stderr)
    spark = get_spark("skew_scale")
    SWEEP.mkdir(parents=True, exist_ok=True)
    large_p, small_p = build_corpus(spark, args.rows)

    def large():
        return spark.read.parquet(large_p)

    def small():
        return spark.read.parquet(small_p)

    # second skew ratio for the auto-salt validation (r14 verdict #4:
    # "derived salt within ~1.2x of the hand-tuned optimum across >= 2
    # skew ratios")
    large10_p, _ = build_corpus(spark, args.rows, hot_share=0.1)

    def large10():
        return spark.read.parquet(large10_p)

    def set_skew_aqe(on: bool) -> None:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                       "true" if on else "false")

    results: dict[str, dict] = {}

    # --- join experiments (broadcast suppressed: the small side is ~45MB
    # on disk, past the 10MB threshold, but pin it explicitly so a
    # future threshold change can't silently flip the experiment)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def plain_join():
        return large().join(small(), on="key", how="inner")

    def do(name, fn, skew_aqe=True):
        set_skew_aqe(skew_aqe)
        results[name] = timed(spark, fn, args.runs)
        print(f"# {name}: {results[name]}", file=sys.stderr)

    do("join_plain_aqe_skew_off", plain_join, skew_aqe=False)
    do("join_plain_aqe_skew_on", plain_join, skew_aqe=True)
    # hand-tuned grid + the derived salt at BOTH skew ratios (r15): the
    # auto cell passes if it lands within ~1.2x of the grid optimum
    for n in (4, 8, 16, 32):
        do(f"join_salted_{n}",
           lambda n=n: salted_join(large(), small(), "key", n))
    do("join_salted_auto",
       lambda: salted_join(large(), small(), "key", "auto"))
    do("join10_plain_aqe_skew_on",
       lambda: large10().join(small(), on="key", how="inner"))
    for n in (4, 8, 16, 32):
        do(f"join10_salted_{n}",
           lambda n=n: salted_join(large10(), small(), "key", n))
    do("join10_salted_auto",
       lambda: salted_join(large10(), small(), "key", "auto"))

    # --- aggregation experiments (broadcast threshold irrelevant)
    from pyspark.sql import functions as F

    def plain_agg():
        return large().groupBy("key").agg(
            F.count("*").alias("n"), F.sum("val").alias("s"),
            F.max("val").alias("mx"))

    do("agg_plain", plain_agg)
    do("agg_two_phase_8", lambda: two_phase_agg(
        large(), "key",
        {"n": "count", "s": "sum:val", "mx": "max:val"}, 8))

    # r14 verdict #7: two_phase_agg's hypothesized surviving domain is
    # LARGE-partial-state aggregation (exact distinct). val2 gives the
    # hot key ~1e6 distinct values; the contrast is Spark's built-in
    # count-distinct rewrite vs the explicit dedup-then-count two-phase
    # (the VALID manual decomposition -- a (key, salt) countDistinct
    # would double-count values spread across salts).
    def distinct_plain():
        return large().groupBy("key").agg(
            F.countDistinct("val2").alias("nd"))

    def distinct_manual():
        return (large().select("key", "val2").distinct()
                .groupBy("key").count())

    do("distinct_plain", distinct_plain)
    do("distinct_manual_two_phase", distinct_manual)

    print("\n| experiment | min wall (s) | max task (s) | runs | ext |")
    print("|---|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['sec']} | {r['max_task_s']} | {r['runs']} |"
              f" {r['ext_cores']} |")
    print(json.dumps({
        "metric": "skew_scale", "rows": args.rows, "hot_share": HOT_SHARE,
        "results": results, "load_start": round(load, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
