"""Learned-BPE tokenizer scale decades (r17).

Two claims to measure, matching operators/bpe.py's design:

1. **Fit is corpus-size-independent.** ``fit_bpe`` trains on the
   h60-deterministic <= 20k-doc sample, so fit wall time should be flat
   across decades (the only N-dependent piece is the
   TakeOrderedAndProject scan feeding the sample).
2. **Encode is a zero-shuffle narrow map whose cost scales linearly
   with tokens.** The word-salted decades (``build_scaled_documents``)
   multiply the DISTINCT-word count by the copy factor — the worst case
   for the per-batch word memo, since salting defeats cross-copy memo
   hits by construction.

Also records a determinism checksum (sum of n_tokens + sum of the
h60 token-sequence fingerprints) across two encode runs per decade —
retries must not change answers.

Usage: python tools/measure_bpe_scale.py [--copies 10 100] [--runs 3]
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

from aws_cloudfront_realtime_monitoring_spark.operators.bpe import (  # noqa: E402
    build_vocab,
    encode_bpe_batches,
    fit_bpe,
    tokens_to_ids,
)
from aws_cloudfront_realtime_monitoring_spark.operators.packing import (  # noqa: E402
    pack_token_sequences,
)
from aws_cloudfront_realtime_monitoring_spark.session import get_spark  # noqa: E402
from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table  # noqa: E402


def _checksum(spark, docs, merges) -> dict:
    """One encode pass reduced to order-free exact integers — through
    the SHARED bpe_stats_cols projection (the registry row's spelling;
    a hand-copied fingerprint expression here could silently drift,
    r17 review)."""
    from pyspark.sql import functions as F

    from aws_cloudfront_realtime_monitoring_spark.plans.text import bpe_stats_cols

    stats = bpe_stats_cols(encode_bpe_batches(docs, merges))
    row = stats.select(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        # 60-bit hashes sum past int64 at a few thousand docs -- reduce
        # mod a prime first (order-free, still collision-resistant
        # enough for a determinism check)
        F.sum(F.col("tok_fp") % F.lit(1_000_000_007)).alias("fp_sum"),
    ).collect()[0]
    return {"n_docs": int(row["n_docs"]), "n_tokens": int(row["n_tokens"]),
            "fp_sum": int(row["fp_sum"])}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, nargs="*", default=[10, 100])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--n-merges", type=int, default=200)
    args = ap.parse_args()

    load, flagged = _wait_for_quiet_box()
    print(f"# start load {load:.2f} flagged={flagged}", file=sys.stderr)
    spark = get_spark("bpe_scale")

    dirs: list[tuple[str, str]] = [
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
    ]
    for c in args.copies:
        dirs.append((f"x{c}",
                     build_scaled_documents(spark, "/root/testdata/sf0.1", c)))

    results: dict[str, dict] = {}
    for label, d in dirs:
        docs = load_table(spark, d, "documents")

        t0 = time.perf_counter()
        merges = fit_bpe(docs, n_merges=args.n_merges)
        fit_s = round(time.perf_counter() - t0, 3)

        cell = mss.timed(
            spark, lambda: encode_bpe_batches(docs, merges)
            .select("n_tokens"), args.runs)
        a = _checksum(spark, docs, merges)
        b = _checksum(spark, docs, merges)
        cell.update(a)
        cell["fit_s"] = fit_s
        cell["n_merges"] = len(merges)
        cell["deterministic"] = (a == b)
        cell["tokens_per_s"] = (
            round(a["n_tokens"] / cell["sec"]) if cell.get("sec") else None)
        results[f"bpe@{label}"] = cell
        print(f"# bpe@{label}: {cell}", file=sys.stderr)

        # packed-pretraining stage: ids + FFD shard assignment + the
        # token-moving join/concat -- the only BPE stage with a
        # corpus-sized shuffle (each token id crosses the wire once)
        from pyspark.sql import functions as F

        enc = encode_bpe_batches(docs, merges).localCheckpoint(eager=False)
        vocab = build_vocab(docs, merges, enc=enc)
        idsrel = tokens_to_ids(enc, vocab)
        pcell = mss.timed(
            spark, lambda: pack_token_sequences(idsrel, 2048)
            .select("seq_id", "n_tokens"), args.runs)
        prow = pack_token_sequences(idsrel, 2048).agg(
            F.count("*").alias("n_seqs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.avg(F.when(F.col("oversize") == 0, F.col("n_tokens")))
            .alias("fill")).collect()[0]
        # None guards (r17 review): an all-oversize cell makes fill
        # NULL; an empty corpus makes the sums NULL -- record honestly
        # instead of a TypeError that discards every earlier cell
        n_tok = int(prow["n_tokens"]) if prow["n_tokens"] is not None else 0
        pcell.update({"n_seqs": int(prow["n_seqs"]),
                      "n_tokens": n_tok,
                      "mean_fill_2048": (round(float(prow["fill"]), 1)
                                         if prow["fill"] is not None
                                         else None),
                      "conserved": n_tok == a["n_tokens"],
                      "tokens_per_s": (round(n_tok / pcell["sec"])
                                       if pcell.get("sec") else None),
                      "vocab_size": len(vocab)})
        results[f"pack@{label}"] = pcell
        print(f"# pack@{label}: {pcell}", file=sys.stderr)

    print("\n| cell | docs/seqs | tokens | fit (s) | min wall (s) "
          "| tokens/s | deterministic/conserved |")
    print("|---|---|---|---|---|---|---|")
    for name, r in results.items():
        n = r.get("n_docs", r.get("n_seqs", "-"))
        ok = r.get("deterministic", r.get("conserved", "-"))
        print(f"| {name} | {n} | {r.get('n_tokens', '-')} "
              f"| {r.get('fit_s', '-')} | {r.get('sec', '-')} "
              f"| {r.get('tokens_per_s', '-')} | {ok} |")
    print(json.dumps({"metric": "bpe_scale", "results": results,
                      "load_start": round(load, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
