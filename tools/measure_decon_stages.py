"""Stage-level wall breakdown of ``decontaminate`` at the ~sf10 sweep
corpus (VERDICT r12 item #2: 17.6x/100x on the v3 corpus is the
steepest sweep cell without a stage tool; minhash and bm25 both had
theirs and both changed the story).

Splits the query into its three physical stages, each materialized with
an eager localCheckpoint so the next stage's clock starts from real
blocks instead of recomputing the prefix. The stage relations come FROM
the plans/curation.py builders (decon_grams / decon_bench_ngrams /
decon_corpus_grams / decon_count) -- the bm25 stage-from-builders
discipline. Caveat: the registry row itself runs one SQL string
(_decon_spark_sql), while the builders compose the same tokenizer and
n-gram SQL fragments (text.words_spark_sql / grams_spark_sql) as
DataFrame stages; their results are pinned by the stream-static parity
row's oracle (stream_decontaminate_equiv), not plan-identity, so the
staged-vs-full gap below includes any stage-assembly divergence
Catalyst introduces:

1. ``bench``  -- benchmark-side n-gram build: split + zip_with 4-grams
                 over the doc_id % 13 == 0 docs, explode, DISTINCT
                 (this is the relation the real query BROADCASTS)
2. ``corpus`` -- corpus-side n-gram scan: the same narrow gram map over
                 the other 12/13 of the corpus, exploded to (doc_id, ng)
3. ``join``   -- broadcast hash join of (2) against (1) + the per-doc
                 count/flag aggregate (matched rows only shuffle)

Caveat the table inherits from the method: the staged corpus cell pays
materialization the fused query never does (the real plan filters
map-side inside the join, so unmatched grams never leave the scan
operator); the staged total therefore UPPER-bounds the full query.

Usage: python tools/measure_decon_stages.py [--copies 100] [--runs 3]
Prints a markdown table + one JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import _wait_for_quiet_box  # the shared load gate

from aws_cloudfront_realtime_monitoring_spark.session import get_spark
from aws_cloudfront_realtime_monitoring_spark.sources.tables import (
    load_table,
    register_views,
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _stage_pass(spark, sf_dir: str) -> dict[str, float]:
    """One staged pass; returns per-stage wall seconds + stage row counts
    (counts read the checkpointed blocks, so they cost ~nothing extra)."""
    from pyspark.sql import functions as F

    from aws_cloudfront_realtime_monitoring_spark.plans.curation import (
        decon_bench_ngrams,
        decon_corpus_grams,
        decon_count,
        decon_grams,
    )

    docs = load_table(spark, sf_dir, "documents")
    g = decon_grams(docs)

    out: dict[str, float] = {}
    t0 = time.time()
    bn = decon_bench_ngrams(g).localCheckpoint(eager=True)
    out["bench"] = time.time() - t0

    t0 = time.time()
    ex = decon_corpus_grams(g).localCheckpoint(eager=True)
    out["corpus"] = time.time() - t0

    t0 = time.time()
    _noop(decon_count(ex.join(F.broadcast(bn), "ng")))
    out["join"] = time.time() - t0

    out["bench_ngrams"] = float(bn.count())
    out["corpus_grams"] = float(ex.count())
    out["matched"] = float(ex.join(F.broadcast(bn), "ng").count())
    return out


def _full_pass(spark, registry, sf_dir: str) -> float:
    t0 = time.time()
    _noop(registry["decontaminate"].build(spark, sf_dir))
    return time.time() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=100)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    load, flagged = _wait_for_quiet_box()
    print(f"# start load: {load:.2f} (flagged: {flagged})", file=sys.stderr)

    spark = get_spark("decon_stages")
    import __spark_entry__

    __spark_entry__._ship_package(spark)
    sys.path.insert(0, str(REPO / "tools"))
    from scale_sweep import build_scaled_documents

    from aws_cloudfront_realtime_monitoring_spark.plans import load_full

    registry = load_full()
    scaled_dir = build_scaled_documents(
        spark, "/root/testdata/sf0.1", args.copies
    )

    results: dict[str, dict] = {}
    for label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"),
                          (f"~sf{args.copies / 10:g}", scaled_dir)):
        # re-gate per cell: the corpus build + the earlier cell run for
        # minutes, so the start-of-process gate says nothing about the
        # box by the time a later cell is timed (r12 review)
        load, flagged = _wait_for_quiet_box()
        if flagged:
            print(f"# {label}: box never went quiet (load {load:.2f}) -- "
                  "cell is suspect", file=sys.stderr)
        register_views(spark, sf_dir)
        # untimed warm-up: codegen/JIT + first-touch file listing
        _full_pass(spark, registry, sf_dir)

        # full passes FIRST: each stage pass leaves ~25M rows of
        # localCheckpoint blocks in the block manager (freed only when
        # the driver GCs the RDD refs), and the first cut of this tool
        # measured the full query drifting 23 -> 36 -> 39 s behind three
        # stage passes' accumulated blocks
        full_runs = [_full_pass(spark, registry, sf_dir)
                     for _ in range(args.runs)]

        stage_runs = []
        for _ in range(args.runs):
            stage_runs.append(_stage_pass(spark, sf_dir))
            # drop the pass's checkpoint blocks before the next one:
            # ContextCleaner reclaims them only on a driver JVM GC
            spark.sparkContext._jvm.System.gc()
        stages = {
            k: min(r[k] for r in stage_runs)
            for k in ("bench", "corpus", "join")
        }
        for k in ("bench_ngrams", "corpus_grams", "matched"):
            stages[k] = stage_runs[0][k]
        # per-run raw timings: a neighbor burst mid-cell must be
        # detectable post-hoc (r12 review)
        for k in ("bench", "corpus", "join"):
            print(f"# {label} {k} runs: "
                  f"{[round(r[k], 2) for r in stage_runs]}", file=sys.stderr)
        print(f"# {label} full runs: {[round(t, 2) for t in full_runs]}",
              file=sys.stderr)
        stages["full"] = min(full_runs)
        results[label] = stages
        print(f"# {label}: {stages}", file=sys.stderr)

    print("| Scale | bench build | corpus scan | join+count | staged total |"
          " full query | bench n-grams | corpus grams | matched |")
    print("|---|---|---|---|---|---|---|---|---|")
    for label, s in results.items():
        total = s["bench"] + s["corpus"] + s["join"]
        print(f"| {label} | {s['bench']:.2f} s | {s['corpus']:.2f} s "
              f"| {s['join']:.2f} s | {total:.2f} s | {s['full']:.2f} s "
              f"| {int(s['bench_ngrams'])} | {int(s['corpus_grams'])} "
              f"| {int(s['matched'])} |")
    print(json.dumps({"decon_stages": results}))


if __name__ == "__main__":
    main()
