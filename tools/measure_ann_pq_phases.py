"""Phase split for the ann_pq_recall / ann_trained_recall extras
(r17 continuation, guide §1.2): attribute the registry rows' wall to
fit / encode / search / brute-force / audit so the remaining tail is
optimized where it actually lives.

Usage: python tools/measure_ann_pq_phases.py [--runs 3] [--sf DIR]
Prints one line per phase (min-of-N) + a JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from aws_cloudfront_realtime_monitoring_spark.session import get_spark


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark("ann_pq_phases")
    import __spark_entry__

    __spark_entry__._ship_package(spark)

    from pyspark.sql import functions as F

    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
        fit_kmeans)
    from aws_cloudfront_realtime_monitoring_spark.operators.pq import (
        encode_pq, fit_pq)
    from aws_cloudfront_realtime_monitoring_spark.plans.similarity import (
        ann_topk_bruteforce, ann_topk_pq, ann_topk_trained, qvec,
        recall_audit)
    from aws_cloudfront_realtime_monitoring_spark.plans.core import load_table

    sf = args.sf
    emb = load_table(spark, sf, "embeddings")
    qvecs = emb.select("vec_id", qvec().alias("qv"))

    phases: dict[str, float] = {}

    def timed(name, fn, warm=True):
        if warm:
            fn()
        best = min(
            (lambda t0=time.time(): (fn(), time.time() - t0)[1])()
            for _ in range(args.runs))
        phases[name] = round(best, 3)
        print(f"# {name}: {best:.3f}s", file=sys.stderr)
        return best

    # model fits (driver-side since r17; timed as called by the row)
    state = {}

    def do_fit():
        state["centroids"], _, _ = fit_kmeans(
            emb, k=16, max_iters=8, fit_fraction="auto")
    timed("fit_kmeans", do_fit)

    def do_fit_pq():
        state["codebooks"] = fit_pq(
            qvecs, state["centroids"], m=8, ksub=256, max_iters=8)
    timed("fit_pq", do_fit_pq)

    cents, cbs = state["centroids"], state["codebooks"]

    timed("encode_pq_noop", lambda: noop(encode_pq(qvecs, cents, cbs)))

    timed("pq_search_noop", lambda: noop(
        ann_topk_pq(spark, sf, centroids=cents, codebooks=cbs)))

    timed("trained_search_noop", lambda: noop(
        ann_topk_trained(spark, sf, centroids=cents)))

    timed("bruteforce_noop", lambda: noop(ann_topk_bruteforce(spark, sf)))

    timed("pq_audit_full_noop", lambda: noop(recall_audit(
        ann_topk_pq(spark, sf, centroids=cents, codebooks=cbs),
        ann_topk_bruteforce(spark, sf), "pq")))

    # the registry rows end-to-end (fits included), bench discipline
    from aws_cloudfront_realtime_monitoring_spark.plans import load_full
    registry = load_full()
    for row in ("ann_pq_recall", "ann_trained_recall"):
        timed(f"row_{row}", lambda row=row: noop(
            registry[row].build(spark, sf)))

    print(json.dumps({"sf": sf, "runs": args.runs, "phases": phases}))


if __name__ == "__main__":
    main()
