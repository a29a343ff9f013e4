"""Streaming-state at-scale adversarial drive (VERDICT r13 item #4).

Applies the measure_cc_scale discipline to the two heaviest stateful
streaming surfaces -- the STREAM-STREAM interval join and MERGING
session windows -- at ~sf10 row counts with adversarial key skew and
watermark-horizon stress, where the r7 soak ran 360 rows at sf0.1:

corpus (built once, parquet): N rows of (event_id, user_id, ts,
event_type, value) spanning SPAN_HOURS = 12x the 1 h watermark horizon,
replayed as 48 mtime-pinned slices (the file source orders by
modification time; ties replay out of order -- r8 lesson), one slice
per micro-batch (maxFilesPerTrigger=1). Adversarial shapes baked in:

- KEY SKEW ON STATE, NOT OUTPUT: user 0 owns HOT_SHARE of all CLICK
  rows but has ZERO views -- the join must BUFFER an enormous one-key
  state partition without an output explosion hiding it (hot-both-sides
  skew would explode the batch oracle too and measure nothing).
- LATE-BUT-IN-WATERMARK ARRIVALS: LATE_SHARE of rows land one slice
  (~15 min) after their event time -- above the watermark, so dropping
  one is a correctness bug the exactness assert catches.
- BOUNDARY PAIRS: view timestamps planted exactly AT and one
  microsecond BEFORE the click+1h bound pin the interval's < semantics
  against the batch plan.
- NEVER-CLOSING SESSION: user 0 also emits events every < gap minutes
  for the whole span, one continuously-merging session the watermark
  can never close (append mode must withhold it; the two-sided count
  assert catches both withholding it wrongly and leaking it early).

Exactness asserts (the point of the drive -- not just curves):
- join: append-mode emitted pairs must equal the batch interval
  self-join EXACTLY (two-way exceptAll empty; inner stream-stream joins
  emit eagerly, watermarks only evict state).
- sessions (append): emitted sessions == batch sessions whose END
  precedes the final watermark, AND emitted + still-open == batch total
  (both sides of the watermark line accounted for).

Plateau pins (from StreamingQueryProgress stateOperators): last-third
max state rows <= middle-third max (eviction keeps up across >= 6x the
horizon), and max state rows << total input.

Usage: python tools/measure_stream_state.py [--rows 2000000] [--runs 1]
Prints a markdown table + one JSON line. Corpus under
``.scale_sweep/stream_state_v1/`` (gitignored).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import _wait_for_quiet_box

from pyspark.sql import functions as F

from aws_cloudfront_realtime_monitoring_spark.session import get_spark

SWEEP = REPO / ".scale_sweep" / "stream_state_v1"

SPAN_HOURS = 12          # 12x the 1 h watermark horizon
N_SLICES = 48            # one micro-batch per 15 min slice
HOT_SHARE = 0.3          # user 0's share of click rows
LATE_SHARE = 0.05        # rows arriving one slice after their event time
N_USERS = 100_000
BASE = "TIMESTAMP '2024-01-08 00:00:00'"


def build_corpus(spark, rows: int, n_users: int = N_USERS) -> str:
    """48 slice SUBDIRS of one parquet tree, slice = ARRIVAL order
    (event time minus the late rows' one-slice delay), mtimes pinned
    ascending afterwards. Deterministic in ``rows`` (and ``n_users``,
    which the r16 big-state cell scales with rows to hold per-user
    density -- and so the batch-oracle pair count -- roughly constant
    instead of quadratic)."""
    root = SWEEP / (f"events_{rows}" if n_users == N_USERS
                    else f"events_{rows}_u{n_users}")
    if (root / "_DONE").exists():
        return str(root)
    span_us = SPAN_HOURS * 3600 * 1_000_000
    slice_us = span_us // N_SLICES
    df = spark.range(0, rows, 1, 64).selectExpr(
        "id AS event_id",
        # HOT_SHARE of rows are user 0 CLICKS (state skew); the rest
        # uniform users. Views NEVER belong to user 0 (skew on STATE,
        # not on output -- module docstring).
        f"""CASE WHEN id % 10 < {int(HOT_SHARE * 10)} THEN 0
             ELSE pmod(xxhash64(id, 7), {n_users - 1}) + 1
        END AS user_id""",
        # event time uniform over the span, microsecond granularity
        f"""{BASE} + make_interval(0,0,0,0,0,0,
             (pmod(xxhash64(id, 11), {span_us}))/1e6) AS ts""",
        f"""CASE WHEN id % 10 < {int(HOT_SHARE * 10)} THEN 'click'
             WHEN pmod(xxhash64(id, 13), 2) = 0 THEN 'click'
             ELSE 'view' END AS event_type""",
        "CAST(pmod(id, 1000) AS DOUBLE) / 4 AS value",
    )
    # boundary pairs (planted): user 77 clicks on the hour grid; for
    # each click, one view exactly AT click+1h (the < bound must
    # EXCLUDE it) and one at click+1h-1us (must INCLUDE it)
    grid = spark.range(0, SPAN_HOURS - 2, 1, 1)
    planted = grid.selectExpr(
        "id + 20000000000 AS event_id",
        "CAST(77 AS BIGINT) AS user_id",
        f"{BASE} + make_interval(0,0,0,0, CAST(id AS INT), 0, 0) AS ts",
        "'click' AS event_type", "CAST(1.0 AS DOUBLE) AS value",
    ).unionByName(grid.selectExpr(
        "id + 21000000000 AS event_id",
        "CAST(77 AS BIGINT) AS user_id",
        f"{BASE} + make_interval(0,0,0,0, CAST(id AS INT) + 1, 0, 0) AS ts",
        "'view' AS event_type", "CAST(1.0 AS DOUBLE) AS value",
    )).unionByName(grid.selectExpr(
        "id + 22000000000 AS event_id",
        "CAST(77 AS BIGINT) AS user_id",
        f"{BASE} + make_interval(0,0,0,0, CAST(id AS INT) + 1, 0, -1e-6)"
        " AS ts",
        "'view' AS event_type", "CAST(1.0 AS DOUBLE) AS value",
    ))
    # user 0's never-closing session: one event every 10 minutes across
    # the whole span (the 30 min gap never opens) -- one continuously
    # MERGING session the watermark can never close
    heartbeat = spark.range(0, SPAN_HOURS * 6, 1, 4).selectExpr(
        "id + 10000000000 AS event_id",
        "CAST(0 AS BIGINT) AS user_id",
        f"{BASE} + make_interval(0,0,0,0,0, CAST(id * 10 AS INT), 0) AS ts",
        "'click' AS event_type",
        "CAST(1.0 AS DOUBLE) AS value",
    )
    all_rows = df.unionByName(planted).unionByName(heartbeat)
    full = (
        all_rows.withColumn("slice_ev", F.expr(
            f"CAST(least(unix_micros(ts) - unix_micros({BASE}), "
            f"{span_us - 1}) DIV {slice_us} AS INT)"))
        # LATE_SHARE of rows ARRIVE one slice after their event time --
        # above the 1 h watermark (a slice is ~15 min), so they must
        # still be processed, not dropped
        .withColumn("slice", F.expr(
            f"least(CASE WHEN pmod(xxhash64(event_id, 17), 100) < "
            f"{int(LATE_SHARE * 100)} THEN slice_ev + 1 ELSE slice_ev END, "
            f"{N_SLICES - 1})"))
        .select("event_id", "user_id", "ts", "event_type", "value", "slice")
    )
    for b in range(N_SLICES):
        (
            full.filter(F.col("slice") == b).drop("slice")
            .coalesce(2)
            .write.mode("overwrite").parquet(str(root / f"slice={b:03d}"))
        )
    # ascending mtimes = replay order (slice dirs are listed recursively;
    # pin every FILE inside slice b older than every file in b+1)
    t0 = 1_700_000_000
    for b in range(N_SLICES):
        for p in sorted((root / f"slice={b:03d}").glob("*")):
            os.utime(p, (t0 + b, t0 + b))
    (root / "_DONE").touch()
    return str(root)


def _batch(spark, root: str):
    # glob over the slice dirs: whether partition inference adds a
    # `slice` column depends on the resolved base path, so drop it
    # defensively (no-op when absent) -- both sides of every exactness
    # compare must see the same 5 data columns
    df = spark.read.parquet(f"{root}/slice=*")
    return df.drop("slice")


def _stream(spark, root: str):
    schema = _batch(spark, root).schema
    return (
        spark.readStream.schema(schema)
        # 2 files per slice -> 2 slices (~30 min of event time) per
        # micro-batch: 24 batches across the 12 h span, enough for the
        # thirds-based plateau check while keeping the per-batch state
        # snapshot overhead (32 partitions x stores) affordable
        .option("maxFilesPerTrigger", "4")
        .parquet(f"{root}/slice=*")
    )


def _drive(out_stream, mode: str, sink_dir: str, ck_dir: str,
           timeout: int = 1800):
    """Run to completion (availableNow drains the corpus then stops);
    returns (wall_s, progresses)."""
    t0 = time.perf_counter()
    q = (
        out_stream.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ck_dir)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout):
        # a timed-out drive would read a PARTIAL sink and publish
        # "exact: False" with phantom missing rows -- exactly the false
        # alarm this tool exists to rule out; fail loudly instead
        # (r14 review)
        q.stop()
        raise RuntimeError(f"availableNow drive exceeded {timeout} s")
    wall = time.perf_counter() - t0
    progs = [json.loads(p.json) for p in q.recentProgress]
    return wall, progs


def _state_curve(progs) -> list[int]:
    out = []
    for p in progs:
        ops = p.get("stateOperators") or []
        out.append(sum(o.get("numRowsTotal", 0) for o in ops))
    return [s for s in out if s > 0] or [0]


def _plateau(curve: list[int]) -> dict:
    third = max(len(curve) // 3, 1)
    mid = max(curve[third:2 * third] or curve)
    late = max(curve[2 * third:] or curve)
    # 5% tolerance: with uniform arrivals the steady-state curve wobbles
    # ~1% batch-to-batch (observed 17913 vs 17994 at 100k rows); the
    # failure mode this guards is GROWTH across horizons, not jitter
    return {"max_state_rows": max(curve), "mid_third_max": mid,
            "late_third_max": late, "plateau_ok": late <= mid * 1.05}


def _gc_ms(spark) -> int:
    """Total driver-JVM GC milliseconds (all collectors) -- local mode
    hosts the executors in the driver JVM, so this IS the store's GC."""
    beans = (spark._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size()))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--state-store", choices=["hdfs", "rocksdb"],
                    default="hdfs",
                    help="state-store provider: the default "
                         "HDFSBackedStateStoreProvider (r14 baseline) or "
                         "RocksDBStateStoreProvider (r14 verdict #3: the "
                         "'RocksDB is floor, not ceiling' line was argued, "
                         "not measured)")
    ap.add_argument("--watermark-hours", type=int, default=1,
                    help="watermark horizon (r16, verdict #6: a wider "
                         "horizon holds more rows in state per input row "
                         "-- the lever that reaches 10-20M state rows "
                         "without 100M inputs)")
    ap.add_argument("--users", type=int, default=None,
                    help="distinct user count (default: N_USERS scaled "
                         "by rows/2M so per-user density and the batch "
                         "oracle's pair count stay ~constant)")
    ap.add_argument("--heap", default=None,
                    help="cap the driver/executor JVM heap (e.g. 8g) -- "
                         "the r16 big-state cell measures where the "
                         "in-heap HDFS store hits GC, under a heap the "
                         "state can actually pressure")
    ap.add_argument("--join-only", action="store_true",
                    help="skip the session-window leg (the big-state "
                         "cell targets the stream-stream join)")
    ap.add_argument("--timeout", type=int, default=1800,
                    help="availableNow drive timeout seconds")
    args = ap.parse_args()
    n_users = args.users or max(N_USERS,
                                N_USERS * (args.rows // 2_000_000))

    load, flagged = _wait_for_quiet_box()
    print(f"# start load {load:.2f} flagged={flagged} "
          f"provider={args.state_store} wm={args.watermark_hours}h "
          f"users={n_users} heap={args.heap}", file=sys.stderr)
    conf = {}
    if args.state_store == "rocksdb":
        conf["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
    if args.heap:
        conf["spark.driver.memory"] = args.heap
    spark = get_spark("stream_state", extra_conf=conf)
    SWEEP.mkdir(parents=True, exist_ok=True)
    root = build_corpus(spark, args.rows, n_users)
    results: dict[str, dict] = {}
    wm = f"{args.watermark_hours} hours"

    # ------------------------------------------- stream-stream interval join
    with tempfile.TemporaryDirectory() as sink, \
            tempfile.TemporaryDirectory() as ck:
        clicks = (
            _stream(spark, root)
            .where("event_type = 'click'")
            .selectExpr("event_id AS click_id", "user_id", "ts AS cts")
            .withWatermark("cts", wm)
        )
        views = (
            _stream(spark, root)
            .where("event_type = 'view'")
            .selectExpr("event_id AS view_id", "user_id AS vuser",
                        "ts AS vts")
            .withWatermark("vts", wm)
        )
        joined = clicks.join(
            views,
            (F.col("user_id") == F.col("vuser"))
            & (F.col("vts") >= F.col("cts"))
            & (F.col("vts") < F.col("cts") + F.expr("INTERVAL 1 HOUR")),
            "inner",
        ).select("click_id", "view_id", "user_id",
                 F.expr("CAST(unix_micros(vts) - unix_micros(cts) AS BIGINT)")
                 .alias("gap_us"))
        gc0 = _gc_ms(spark)
        wall, progs = _drive(joined, "append", sink, ck,
                             timeout=args.timeout)
        gc_join_ms = _gc_ms(spark) - gc0
        got = spark.read.parquet(sink)
        batch = _batch(spark, root)
        want = (
            batch.where("event_type='click'")
            .selectExpr("event_id AS click_id", "user_id", "ts AS cts")
            .join(
                batch.where("event_type='view'")
                .selectExpr("event_id AS view_id", "user_id AS vuser",
                            "ts AS vts"),
                F.expr("user_id = vuser AND vts >= cts AND "
                       "vts < cts + INTERVAL 1 HOUR"),
                "inner",
            )
            .selectExpr("click_id", "view_id", "user_id",
                        "CAST(unix_micros(vts) - unix_micros(cts) AS BIGINT)"
                        " AS gap_us")
        )
        n_got, n_want = got.count(), want.count()
        if n_want == 0:
            # an empty batch oracle makes every exactness check below
            # vacuously true (0 missing, 0 extra over nothing) -- a
            # corpus bug would print exact=True having compared nothing
            # (r15 review)
            raise RuntimeError("join drive: batch oracle produced 0 pairs")
        miss = want.exceptAll(got).count()
        extra = got.exceptAll(want).count()
        curve = _state_curve(progs)
        # per-batch trigger durations: a snapshot/maintenance stall shows
        # as a long tail here even when the mean stays flat
        trig_ms = sorted(p.get("durationMs", {}).get("triggerExecution", 0)
                         for p in progs)
        results["join"] = {
            "wall_s": round(wall, 1), "pairs": n_got,
            "batch_pairs": n_want, "missing": miss, "extra": extra,
            "exact": miss == 0 and extra == 0 and n_got == n_want,
            "rows_per_s": round(args.rows / wall),
            "n_batches": len(progs), **_plateau(curve),
            "state_curve_sample": curve[:: max(len(curve) // 12, 1)],
            "gc_ms": gc_join_ms,
            "gc_share": round(gc_join_ms / (wall * 1000), 3),
            "batch_ms_p50": trig_ms[len(trig_ms) // 2] if trig_ms else None,
            "batch_ms_max": trig_ms[-1] if trig_ms else None,
        }
        print(f"# join: {results['join']}", file=sys.stderr)

    if args.join_only:
        print("\n| leg | wall (s) | rows/s | exact | max state rows |"
              " gc share |")
        print("|---|---|---|---|---|---|")
        r = results["join"]
        print(f"| join | {r['wall_s']} | {r['rows_per_s']} | {r['exact']} |"
              f" {r['max_state_rows']} | {r['gc_share']} |")
        print(json.dumps({
            "metric": "stream_state_scale", "rows": args.rows,
            "provider": args.state_store, "users": n_users,
            "watermark_hours": args.watermark_hours, "heap": args.heap,
            "results": results, "load_start": round(load, 2)}))
        spark.stop()
        return

    # ------------------------------------------------ merging session windows
    with tempfile.TemporaryDirectory() as sink, \
            tempfile.TemporaryDirectory() as ck:
        sess = (
            _stream(spark, root)
            .withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                     "user_id")
            .agg(F.count("*").alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "n_events")
        )
        wall, progs = _drive(sess, "append", sink, ck)
        final_wm = progs[-1]["eventTime"].get("watermark") if progs else None
        if final_wm is None:
            # without a watermark the closed-session oracle below is
            # undefined; a None here crashed after minutes of completed
            # join work -- fail with the diagnosis instead (r14 review)
            raise RuntimeError(
                "session drive reported no watermark in its final "
                "progress entry")
        got = spark.read.parquet(sink)
        want = (
            _batch(spark, root)
            .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                     "user_id")
            .agg(F.count("*").alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "n_events")
        )
        # BARRIER before filtering on the aggregate's output (found BY
        # this drive, r14): Catalyst pushes a deterministic predicate on
        # a grouping expression below the Aggregate, and session_window
        # is a grouping expression -- `session_end <= wm` reached the
        # SCAN as `ts + gap <= wm`, dropping merge-partner events BEFORE
        # sessionization and fabricating 43 phantom "closed" sessions
        # with pre-merge bounds. The localCheckpoint makes the aggregate
        # a materialized leaf the filter cannot cross.
        # (tests/test_plans.py::test_session_window_filter_pushdown_hazard
        # pins the class.)
        want = want.localCheckpoint(eager=False)
        closed = want.where(
            F.col("session_end") <= F.to_timestamp(F.lit(
                final_wm.replace("T", " ").replace("Z", ""))))
        n_got, n_closed, n_all = got.count(), closed.count(), want.count()
        if n_all == 0 or n_closed == 0:
            # same vacuous-exactness guard as the join drive (r15
            # review): no sessions, or none closed by the final
            # watermark, means the append-mode comparison checked nothing
            raise RuntimeError(
                f"session drive: batch oracle degenerate "
                f"(total={n_all}, closed={n_closed})")
        miss = closed.exceptAll(got).count()
        extra = got.exceptAll(closed).count()
        curve = _state_curve(progs)
        results["session"] = {
            "wall_s": round(wall, 1), "emitted": n_got,
            "batch_closed": n_closed, "batch_total": n_all,
            "still_open": n_all - n_closed,
            "missing": miss, "extra": extra,
            "exact": miss == 0 and extra == 0,
            "rows_per_s": round(args.rows / wall),
            "n_batches": len(progs), **_plateau(curve),
            "state_curve_sample": curve[:: max(len(curve) // 12, 1)],
            "final_watermark": final_wm,
        }
        print(f"# session: {results['session']}", file=sys.stderr)

    print("\n| shape | wall (s) | rows/s | exact | max state rows |"
          " mid-3rd | late-3rd | plateau |")
    print("|---|---|---|---|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['wall_s']} | {r['rows_per_s']:,} |"
              f" {r['exact']} | {r['max_state_rows']:,} |"
              f" {r['mid_third_max']:,} | {r['late_third_max']:,} |"
              f" {r['plateau_ok']} |")
    print(json.dumps({"metric": "stream_state_scale", "rows": args.rows,
                      "state_store": args.state_store,
                      "results": results, "load_start": round(load, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
