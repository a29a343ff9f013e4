"""ANN / similarity-family scale decade (r14).

SCALE.md's Similarity/ANN section was the last family whose 100 TB
posture was argued, not measured (relational, dedup, curation, media,
streaming-state and skew each have sweep tables). This tool drives the
three registry rows that scan the embeddings corpus through two decades
of the signed-rotation scaled corpus (``scale_sweep.build_scaled_
embeddings``: an orthogonal per-copy transform, so within-copy cosine
structure is preserved bit-identically while cross-copy pairs
decorrelate -- a true scale-up, not a duplication change):

- ``ann_topk_bruteforce``: broadcast probes, one corpus scan, per-
  partition top-k -- expected ~linear in N;
- ``ann_topk_ivf``: Hamming-1 probe ball against a bucket equi-join --
  expected ~linear (the probe-side explosion is constant-size);
- ``embedding_near_dup_blocked``: exact all-pairs, QUADRATIC BY DESIGN
  (the LSH/semdedup rows are the sub-quadratic production paths; this
  row is the exact sibling). The measured question is not the N^2 law
  -- that is arithmetic -- but whether the r14 corpus-scaled block
  count keeps per-group work bounded and balanceable: the fixed B=8
  decomposition is re-measured side by side (target forced huge so B
  pins at the floor) to quantify what the scaling buys. Max single-task
  duration is read from Spark's status store (measure_skew_scale's
  ``timed``) because a straggler can hide inside a 32-core makespan.

Usage: python tools/measure_ann_scale.py [--copies 10 100] [--runs 3]
Prints a markdown table (for SCALE.md) plus one JSON line. Corpora live
under ``.scale_sweep/`` (gitignored), built once per testdata stamp.
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

from bench import _wait_for_quiet_box

import measure_skew_scale as mss
from scale_sweep import SWEEP_DIR, build_scaled_embeddings

from aws_cloudfront_realtime_monitoring_spark.plans import load_full
from aws_cloudfront_realtime_monitoring_spark.plans import similarity as sim
from aws_cloudfront_realtime_monitoring_spark.session import get_spark

QUERIES = ["ann_topk_bruteforce", "ann_topk_ivf", "embedding_near_dup_blocked"]


def _nprobe_sweep(spark, last_dir: tuple[str, str], args) -> None:
    """Trained-quantizer recall-vs-nprobe curve + sample-fit contrast
    (r16, verdict #3/#4) at the largest built decade. Fit is timed ONCE
    per arm (full-corpus Lloyd vs a deterministic hash-sample fit at
    ``--fit-fraction``); each nprobe cell then times search-only with
    the pre-trained index and audits recall@3 vs the exact ground
    truth. One JSON line + a markdown table for SCALE.md."""
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import fit_kmeans
    from aws_cloudfront_realtime_monitoring_spark.plans.similarity import (
        ann_topk_trained,
        ann_trained_recall,
    )

    label, d = last_dir
    n = spark.read.parquet(f"{d}/embeddings.parquet").count()
    k = 64 if n > 50_000 else 16
    arms = {}
    for arm, frac in (("full", None), (f"sample{args.fit_fraction}",
                                       args.fit_fraction)):
        t0 = time.perf_counter()
        cents, _, iters = fit_kmeans(
            spark.read.parquet(f"{d}/embeddings.parquet"),
            k=k, max_iters=8, fit_fraction=frac)
        arms[arm] = {"cents": cents, "iters": iters,
                     "fit_s": round(time.perf_counter() - t0, 2)}
        print(f"# fit[{arm}] @{label} (n={n}, k={k}): "
              f"{arms[arm]['fit_s']}s, {iters} iters", file=sys.stderr)

    cells = {}
    for nprobe in args.nprobe_sweep:
        for arm, st in arms.items():
            cell = mss.timed(
                spark,
                lambda: ann_topk_trained(
                    spark, d, centroids=st["cents"], nprobe=nprobe),
                args.runs)
            rec = ann_trained_recall_nprobe(
                spark, d, st["cents"], nprobe).collect()
            cell.update({
                "recall_at3": round(
                    sum(r.n_both for r in rec) / (3 * len(rec)), 3),
            })
            cells[f"np{nprobe}:{arm}"] = cell
            print(f"# np{nprobe}:{arm}: {cell}", file=sys.stderr)

    print(f"\n# trained-ANN sweep @{label} (n={n}, k={k}); "
          f"fit: " + ", ".join(
              f"{a}={st['fit_s']}s/{st['iters']}it"
              for a, st in arms.items()))
    print("| nprobe | arm | search min (s) | recall@3 | ext |")
    print("|---|---|---|---|---|")
    for name, c in cells.items():
        np_, arm = name.split(":")
        print(f"| {np_[2:]} | {arm} | {c['sec']} | {c['recall_at3']} |"
              f" {c['ext_cores']} |")
    print(json.dumps({
        "metric": "ann_nprobe_sweep", "n": n, "k": k,
        "fits": {a: {"fit_s": st["fit_s"], "iters": st["iters"]}
                 for a, st in arms.items()},
        "cells": cells}))


def _dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*")
               if p.is_file() and not p.name.startswith(("_", ".")))


def _pq_sweep(spark, last_dir: tuple[str, str], args) -> None:
    """IVF-PQ cells at the largest built decade (r17, r16 verdict #1):
    fit the coarse quantizer (auto-sample, the r16 measured default)
    and the PQ codebooks once, time the encode pass, record the HONEST
    on-disk compression ratio (encoded index parquet vs the raw
    quantized-vector parquet the uncompressed trained index scans),
    then per nprobe time PQ search + recall@3 next to the uncompressed
    trained path on the SAME centroids -- the ratio and the recall
    delta are the two numbers SCALE.md needs. One JSON line + a
    markdown table."""
    import shutil
    import tempfile

    from aws_cloudfront_realtime_monitoring_spark.functions.quantize import (
        qvec,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
        fit_kmeans,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.pq import (
        encode_pq,
        fit_pq,
    )
    from aws_cloudfront_realtime_monitoring_spark.plans.similarity import (
        ann_topk_pq,
        ann_topk_trained,
    )

    label, d = last_dir
    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    n = emb.count()
    k = 64 if n > 50_000 else 16
    t0 = time.perf_counter()
    cents, _, iters = fit_kmeans(emb, k=k, max_iters=8,
                                 fit_fraction="auto")
    coarse_fit_s = round(time.perf_counter() - t0, 2)
    qvecs = emb.select("vec_id", qvec().alias("qv"))
    t0 = time.perf_counter()
    cbs = fit_pq(qvecs, cents, m=args.pq_m, ksub=args.pq_ksub)
    pq_fit_s = round(time.perf_counter() - t0, 2)
    print(f"# fits @{label} (n={n}, k={k}, m={args.pq_m}, "
          f"ksub={args.pq_ksub}): coarse {coarse_fit_s}s/{iters}it, "
          f"pq {pq_fit_s}s", file=sys.stderr)

    tmp = tempfile.mkdtemp(prefix="pq_size_")
    try:
        t0 = time.perf_counter()
        encode_pq(qvecs, cents, cbs).write.mode("overwrite").parquet(
            f"{tmp}/index")
        encode_s = round(time.perf_counter() - t0, 2)
        qvecs.write.mode("overwrite").parquet(f"{tmp}/raw")
        idx_b, raw_b = _dir_bytes(f"{tmp}/index"), _dir_bytes(f"{tmp}/raw")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    ratio = round(raw_b / idx_b, 2) if idx_b else None
    print(f"# encode {encode_s}s; index {idx_b} B vs raw {raw_b} B "
          f"= {ratio}x", file=sys.stderr)

    cells = {}
    for nprobe in (args.nprobe_sweep or [2, 4, 8]):
        for arm, thunk, audit in (
            ("pq",
             lambda: ann_topk_pq(spark, d, centroids=cents, codebooks=cbs,
                                 nprobe=nprobe),
             lambda: _pq_recall_nprobe(spark, d, cents, cbs, nprobe)),
            ("trained",
             lambda: ann_topk_trained(spark, d, centroids=cents,
                                      nprobe=nprobe),
             lambda: ann_trained_recall_nprobe(spark, d, cents, nprobe)),
        ):
            cell = mss.timed(spark, thunk, args.runs)
            rec = audit().collect()
            cell["recall_at3"] = round(
                sum(r.n_both for r in rec) / (3 * len(rec)), 3)
            cells[f"np{nprobe}:{arm}"] = cell
            print(f"# np{nprobe}:{arm}: {cell}", file=sys.stderr)

    print(f"\n# IVF-PQ sweep @{label} (n={n}, k={k}, m={args.pq_m}, "
          f"ksub={args.pq_ksub}); coarse fit {coarse_fit_s}s/{iters}it, "
          f"pq fit {pq_fit_s}s, encode {encode_s}s, on-disk index "
          f"{idx_b} B vs raw {raw_b} B = {ratio}x smaller")
    print("| nprobe | arm | search min (s) | recall@3 | ext |")
    print("|---|---|---|---|---|")
    for name, c in cells.items():
        np_, arm = name.split(":")
        print(f"| {np_[2:]} | {arm} | {c['sec']} | {c['recall_at3']} |"
              f" {c['ext_cores']} |")
    print(json.dumps({
        "metric": "ann_pq_sweep", "n": n, "k": k,
        "m": args.pq_m, "ksub": args.pq_ksub,
        "coarse_fit_s": coarse_fit_s, "pq_fit_s": pq_fit_s,
        "encode_s": encode_s, "index_bytes": idx_b, "raw_bytes": raw_b,
        "compression": ratio, "cells": cells}))


def _pq_recall_nprobe(spark, d, cents, cbs, nprobe):
    """ann_pq_recall's n_both relation with the nprobe knob exposed."""
    from aws_cloudfront_realtime_monitoring_spark.plans.similarity import (
        ann_topk_bruteforce,
        ann_topk_pq,
        recall_audit,
    )

    return recall_audit(
        ann_topk_pq(spark, d, centroids=cents, codebooks=cbs,
                    nprobe=nprobe),
        ann_topk_bruteforce(spark, d),
        "pq",
    ).select("query_id", "n_both")


def ann_trained_recall_nprobe(spark, d, cents, nprobe):
    """ann_trained_recall with the nprobe knob exposed (the registry row
    pins the production default; the sweep varies it)."""
    from aws_cloudfront_realtime_monitoring_spark.plans.similarity import (
        ann_topk_bruteforce,
        ann_topk_trained,
        recall_audit,
    )

    return recall_audit(
        ann_topk_trained(spark, d, centroids=cents, nprobe=nprobe),
        ann_topk_bruteforce(spark, d),
        "trained",
    ).select("query_id", "n_both")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, nargs="*", default=[10, 100])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--skip-fixed-b", action="store_true",
                    help="skip the fixed-B=8 near-dup contrast cells")
    ap.add_argument("--skip-trained", action="store_true",
                    help="skip the trained-quantizer fit/search/recall cells")
    ap.add_argument("--queries", nargs="*", default=None,
                    help="registry rows to time (default: the full set); "
                         "lets a targeted re-run skip the expensive "
                         "quadratic near-dup cell")
    ap.add_argument("--nprobe-sweep", type=int, nargs="*", default=None,
                    help="run ONLY the trained-quantizer sweep (r16, "
                         "verdict #3/#4): fit once per arm (full corpus "
                         "and --fit-fraction sample), then per nprobe "
                         "value time search + recall@3 with both centroid "
                         "sets at the LAST --copies decade")
    ap.add_argument("--fit-fraction", type=float, default=0.1,
                    help="sample fraction for the sample-fit arm of "
                         "--nprobe-sweep")
    ap.add_argument("--pq-sweep", action="store_true",
                    help="run ONLY the IVF-PQ sweep (r17): fit coarse + "
                         "codebooks once at the LAST --copies decade, "
                         "time encode, record the on-disk compression "
                         "ratio, then per nprobe (--nprobe-sweep or "
                         "2/4/8) time PQ search + recall@3 next to the "
                         "uncompressed trained path on the same index")
    ap.add_argument("--pq-m", type=int, default=8,
                    help="PQ subspace count for --pq-sweep")
    ap.add_argument("--pq-ksub", type=int, default=256,
                    help="PQ codebook size per subspace for --pq-sweep")
    args = ap.parse_args()

    load, flagged = _wait_for_quiet_box()
    print(f"# start load {load:.2f} flagged={flagged}", file=sys.stderr)
    spark = get_spark("ann_scale")
    registry = load_full()

    dirs: list[tuple[str, str]] = [
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
    ]
    for c in args.copies:
        build_scaled_embeddings(spark, "/root/testdata/sf0.1", c)
        dirs.append((f"x{c}", str(SWEEP_DIR / f"sf0.1x{c}")))

    if args.pq_sweep:
        _pq_sweep(spark, dirs[-1], args)
        spark.stop()
        return

    if args.nprobe_sweep:
        _nprobe_sweep(spark, dirs[-1], args)
        spark.stop()
        return

    results: dict[str, dict] = {}
    for label, d in dirs:
        n = spark.read.parquet(f"{d}/embeddings.parquet").count()
        for q in (args.queries if args.queries is not None else QUERIES):
            cell = mss.timed(spark, lambda: registry[q].build(spark, d),
                             args.runs)
            cell["n"] = n
            results[f"{q}@{label}"] = cell
            print(f"# {q}@{label} (n={n}): {cell}", file=sys.stderr)
        if not args.skip_trained:
            # trained-quantizer cell (r15 verdict #5): fit ONCE (the
            # production train-once/search-many shape, timed on its
            # own), then time search-only runs with the pre-trained
            # index and audit recall vs the exact ground truth
            from aws_cloudfront_realtime_monitoring_spark.operators.kmeans \
                import fit_kmeans
            from aws_cloudfront_realtime_monitoring_spark.plans.similarity \
                import ann_topk_trained, ann_trained_recall

            k = 64 if n > 50_000 else 16
            t0 = time.perf_counter()
            cents, _, iters = fit_kmeans(
                spark.read.parquet(f"{d}/embeddings.parquet"),
                k=k, max_iters=8)
            fit_s = round(time.perf_counter() - t0, 2)
            cell = mss.timed(
                spark,
                lambda: ann_topk_trained(spark, d, centroids=cents),
                args.runs)
            rec = ann_trained_recall(spark, d, centroids=cents).collect()
            cell.update({
                "n": n, "k": k, "fit_s": fit_s, "fit_iters": iters,
                "recall_at3": round(
                    sum(r.n_both for r in rec) / (3 * len(rec)), 3),
            })
            results[f"ann_trained@{label}"] = cell
            print(f"# ann_trained@{label} (n={n}): {cell}", file=sys.stderr)
        if (not args.skip_fixed_b and label.startswith("x")):
            # contrast cell: pin B at the floor (the pre-r14 fixed
            # decomposition) by making the doubling condition
            # unreachable; restore afterwards. Results are invariant to
            # B, only the physical decomposition changes.
            saved = sim.NEAR_DUP_BLOCK_TARGET
            sim.NEAR_DUP_BLOCK_TARGET = 1 << 40
            try:
                cell = mss.timed(
                    spark,
                    lambda: registry["embedding_near_dup_blocked"]
                    .build(spark, d),
                    args.runs)
            finally:
                sim.NEAR_DUP_BLOCK_TARGET = saved
            cell["n"] = n
            results[f"near_dup_fixed_b8@{label}"] = cell
            print(f"# near_dup_fixed_b8@{label}: {cell}", file=sys.stderr)

    print("\n| cell | vectors | min wall (s) | max task (s) | runs | ext |")
    print("|---|---|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['n']} | {r['sec']} | {r['max_task_s']} |"
              f" {r['runs']} | {r['ext_cores']} |")
    print(json.dumps({
        "metric": "ann_scale", "results": results,
        "load_start": round(load, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
