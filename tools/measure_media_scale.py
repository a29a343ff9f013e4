"""Media-decode-family scale sweep (VERDICT r13 item #1).

Every other family has a measured sf0.1 -> ~sf10 decade in SCALE.md; the
media path's 100 TB posture rested on the ARGUED line "the Arrow batch
plumbing is what scales". This tool measures it: a mixed corpus of
REAL-decode payloads (PNG profiles incl. Adam7 + 16-bit + palette,
baseline + arithmetic-SOF9 JPEG, lossless WebP/VP8L, BMP) and a WAV
corpus are synthesized at 5k / 50k / 500k payloads (sf0.1 / ~sf1 /
~sf10 by documents-table row count) and driven through the PRODUCTION
surfaces -- ``operators.multimodal.decode_batches`` and
``operators.audio.audio_feature_batches`` -- exactly as the registry
rows use them (mapInPandas, declared schema, noop sink).

Payloads come from a driver-built POOL (spec-written encoders imported
from the golden test suites; the pool is pickled into the synthesis
closure) and are assigned round-robin -- decoders are stateless and
cache nothing, so repeated payloads measure the same per-record work a
distinct-payload corpus would, while keeping corpus build O(pool).

Methodology per the repo's measurement discipline: the shared
_wait_for_quiet_box gate at start, an EXTERNAL-cores gate re-checked
per cell (our own just-finished cell inflates loadavg for ~a minute, so
the loadavg gate would sleep on a quiet box), one untimed warm-up run
per cell (Python-worker spinup + page cache), min-of-3 timed runs,
corpus written once and keyed by a version stamp. Peak Arrow batch
memory comes from an instrumented probe pass (max batch rows/bytes +
worker ru_maxrss) -- the probe is tool-side only; timed cells run the
unmodified production surfaces.

Usage: python tools/measure_media_scale.py [--runs 3] [--cells 5000,50000,500000]
Prints one markdown table (for SCALE.md) plus a JSON line.
Sweep data lives under ``.scale_sweep/media_v1/`` (gitignored).
"""

from __future__ import annotations

import argparse
import json
import resource
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

import numpy as np

from bench import _ExternalCpu, _wait_for_quiet_box  # the shared load gate

from aws_cloudfront_realtime_monitoring_spark.session import get_spark

SWEEP_DIR = REPO / ".scale_sweep" / "media_v1"

#: pool stamp: bump when the pool recipe changes so stale corpora retire
POOL_VERSION = 1


def build_pool() -> dict[str, list[bytes]]:
    """Driver-side payload pool, one list per family. Sizes chosen so
    per-record decode cost matches the family's real profile (the pure-
    Python Huffman/QM JPEG entropy decode dominates; PNG/WebP/BMP are
    numpy-vectorized and cheap)."""
    from test_jpeg import make_jpeg
    from test_jpeg_arith import make_arith_jpeg
    from test_png_full import make_png, _rng
    from test_webp import _encode_vp8l, _wrap_riff

    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        bmp_payload,
        wav_payload,
    )

    r = _rng(POOL_VERSION)
    pngs: list[bytes] = []
    for i in range(12):
        w, h = 32 + (i * 13) % 65, 32 + (i * 29) % 65
        profile = i % 4
        if profile == 0:  # 8-bit RGB sequential
            pngs.append(make_png(r.randint(0, 256, (h, w, 3)).astype(np.uint8)))
        elif profile == 1:  # 8-bit RGBA Adam7 interlaced
            pngs.append(make_png(
                r.randint(0, 256, (h, w, 4)).astype(np.uint8),
                interlace=1, filters=(0, 1, 2, 3, 4)))
        elif profile == 2:  # 16-bit grayscale
            pngs.append(make_png(r.randint(0, 65536, (h, w, 1)), depth=16))
        else:  # 4-bit palette
            pal = r.randint(0, 256, (16, 3)).astype(np.uint8)
            pngs.append(make_png(
                r.randint(0, 16, (h, w, 1)), depth=4, color_type=3,
                palette=pal))
    jpeg_base = [
        make_jpeg(r.randint(0, 256, (24 + (i % 3) * 8,) * 2 + (3,))
                  .astype(np.uint8))
        for i in range(6)
    ]
    jpeg_arith = [
        make_arith_jpeg(r.randint(0, 256, (16, 16, 3)).astype(np.uint8))
        for _ in range(3)
    ]
    webps = [
        _wrap_riff(_encode_vp8l(
            r.randint(0, 256, (24 + (i % 3) * 8,) * 2 + (4,))
            .astype(np.uint8))[0])
        for i in range(6)
    ]
    bmps = [bmp_payload(7919 * i + 13) for i in range(8)]
    wavs = [wav_payload(2 * (104729 * i + 7) + 1) for i in range(8)]
    return {
        "png": pngs, "jpeg": jpeg_base, "jpeg_arith": jpeg_arith,
        "webp": webps, "bmp": bmps, "wav": wavs,
    }


#: image-corpus family mix, in 16ths: PNG-heavy like a web crawl, the
#: expensive pure-Python JPEG entropy decoders get a real (but bounded)
#: share so the cell measures them without being ONLY them
IMAGE_MIX = ["png"] * 7 + ["jpeg"] * 3 + ["jpeg_arith"] * 1 + \
    ["webp"] * 3 + ["bmp"] * 2


def _corpus_path(kind: str, n: int) -> Path:
    return SWEEP_DIR / f"{kind}_v{POOL_VERSION}_{n}"


def build_corpus(spark, pool: dict[str, list[bytes]], kind: str, n: int) -> str:
    """(doc_id, payload) parquet of ``n`` payloads; round-robin over the
    mix (images) or the wav pool (audio). Idempotent per (kind, n,
    POOL_VERSION)."""
    path = _corpus_path(kind, n)
    if (path / "_SUCCESS").exists():
        return str(path)
    if kind == "images":
        # mix slot = doc_id % 16 picks the family; doc_id // 16 rotates
        # within the family's pool
        fams = list(IMAGE_MIX)
        fam_pools = {f: pool[f] for f in set(fams)}
    else:
        fams = ["wav"] * 16
        fam_pools = {"wav": pool["wav"]}

    def synth(batches):
        import pandas as pd
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame({
                "doc_id": ids,
                "payload": [
                    fam_pools[fams[i % 16]][(i // 16) % len(fam_pools[fams[i % 16]])]
                    for i in ids
                ],
            })

    (
        spark.range(0, n, 1, 32)
        .mapInPandas(synth, "doc_id BIGINT, payload BINARY")
        .write.mode("overwrite").parquet(str(path))
    )
    return str(path)


def _wait_ext_quiet(max_wait: float = 120.0) -> None:
    """Between-cell gate on EXTERNAL cores, not loadavg: our own just-
    finished cell inflates 1-min loadavg for ~a minute, so the shared
    loadavg gate would sleep on a quiet box after every heavy cell
    (observed in the smoke run). External CPU is self-load-free."""
    ext = _ExternalCpu()
    deadline = time.time() + max_wait
    while time.time() < deadline:
        time.sleep(5)
        if ext.sample() <= 4.0:
            return
        print("# external neighbors busy: waiting", file=sys.stderr)


def _timed_cell(spark, build_df, runs: int) -> tuple[float, list[float], float]:
    """Untimed warm-up + min-of-N noop-sink runs; returns (min, all, ext)."""
    ext = _ExternalCpu()
    build_df().write.format("noop").mode("overwrite").save()
    ext.sample()
    per, ext_max = [], 0.0
    for _ in range(runs):
        t0 = time.perf_counter()
        build_df().write.format("noop").mode("overwrite").save()
        per.append(round(time.perf_counter() - t0, 3))
        ext_max = max(ext_max, ext.sample())
    return min(per), per, round(ext_max, 2)


def probe_batches(spark, path: str) -> dict:
    """Instrumented pass over the image corpus: per-batch rows/bytes and
    the worker's ru_maxrss AFTER decoding the batch -- the 'peak Arrow
    batch memory' number the r13 verdict asked for. Probe-only: the
    timed cells run the production surfaces unmodified."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_image,
    )

    def probe(batches):
        import pandas as pd
        for pdf in batches:
            nbytes = int(sum(len(p) for p in pdf["payload"] if p is not None))
            for r in pdf.itertuples(index=False):
                decode_image(int(r.doc_id), bytes(r.payload))
            rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            yield pd.DataFrame({
                "rows": [len(pdf)], "bytes": [nbytes], "rss_mb": [rss_mb],
            })

    from pyspark.sql import functions as F

    row = (
        spark.read.parquet(path)
        .mapInPandas(probe, "rows BIGINT, bytes BIGINT, rss_mb DOUBLE")
        .agg(F.max("rows").alias("max_rows"),
             F.max("bytes").alias("max_bytes"),
             F.max("rss_mb").alias("max_rss_mb"),
             F.count("*").alias("n_batches"))
        .head()
    )
    return {
        "max_batch_rows": int(row.max_rows),
        "max_batch_mb": round(row.max_bytes / 1e6, 2),
        "worker_max_rss_mb": round(row.max_rss_mb, 1),
        "n_batches": int(row.n_batches),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cells", default="5000,50000,500000")
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()
    cells = [int(c) for c in args.cells.split(",")]

    load, flagged = _wait_for_quiet_box()
    print(f"# start load {load:.2f} flagged={flagged}", file=sys.stderr)
    spark = get_spark("media_scale", cpus=args.cpus)
    sys.path.insert(0, str(REPO))
    import __spark_entry__

    __spark_entry__._ship_package(spark)

    from aws_cloudfront_realtime_monitoring_spark.operators.audio import (
        audio_feature_batches,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_batches,
    )

    pool = build_pool()
    SWEEP_DIR.mkdir(parents=True, exist_ok=True)

    results: dict[str, dict] = {}
    rows_md: list[str] = []
    for kind, surface in (("images", decode_batches),
                          ("wav", lambda df: audio_feature_batches(
                              df, skip_invalid=False))):
        prev_min = None
        for n in cells:
            path = build_corpus(spark, pool, kind, n)
            if kind == "images":
                # real-decode gate (r15 review): decode_batches falls
                # back to the deterministic fake for unrecognized
                # payloads, so a regressed pool builder would silently
                # time the FAKE path and this sweep would "measure" a
                # decoder that never ran -- the exit-0-checked-nothing
                # class. One aggregation per corpus, outside the timed
                # window. (The wav leg needs no gate:
                # skip_invalid=False already raises on bad payloads.)
                n_fake = (decode_batches(spark.read.parquet(path))
                          .where("fmt LIKE 'fake-%'").count())
                if n_fake:
                    raise RuntimeError(
                        f"images corpus n={n}: {n_fake} payloads took "
                        "the fake-decode fallback -- pool regression")
            _wait_ext_quiet()
            sec, per, ext = _timed_cell(
                spark, lambda: surface(spark.read.parquet(path)), args.runs)
            rec_s = round(n / sec)
            rec_s_core = round(n / sec / args.cpus, 1)
            ratio = round(sec / prev_min, 2) if prev_min else None
            prev_min = sec
            results[f"{kind}_{n}"] = {
                "sec": sec, "runs": per, "ext_cores": ext,
                "rec_per_s": rec_s, "rec_per_s_core": rec_s_core,
                "ratio_vs_prev_decade": ratio,
            }
            rows_md.append(
                f"| {kind} | {n:,} | {sec:.2f} | {rec_s:,} | {rec_s_core} |"
                f" {ratio if ratio else '—'} | {per} | {ext} |")
            print(f"# {kind} n={n}: {sec:.2f}s min ({per}), ext {ext}",
                  file=sys.stderr)

    # per-family attribution at the middle decade: same surface, one
    # single-family corpus each -- what share of the mixed cell each
    # decoder family owns
    mid = cells[len(cells) // 2]
    fam_results = {}
    for fam in ("png", "jpeg", "jpeg_arith", "webp", "bmp"):
        path = _corpus_path(f"only_{fam}", mid)
        if not (path / "_SUCCESS").exists():
            def synth(batches, _p=pool[fam]):
                import pandas as pd
                for pdf in batches:
                    ids = [int(i) for i in pdf["id"]]
                    yield pd.DataFrame({
                        "doc_id": ids,
                        "payload": [_p[i % len(_p)] for i in ids],
                    })
            (spark.range(0, mid, 1, 32)
             .mapInPandas(synth, "doc_id BIGINT, payload BINARY")
             .write.mode("overwrite").parquet(str(path)))
        n_fake = (decode_batches(spark.read.parquet(str(path)))
                  .where("fmt LIKE 'fake-%'").count())
        if n_fake:
            raise RuntimeError(
                f"only_{fam} corpus: {n_fake} fake-decode fallbacks")
        _wait_ext_quiet()
        sec, per, ext = _timed_cell(
            spark, lambda: decode_batches(spark.read.parquet(str(path))),
            args.runs)
        fam_results[fam] = {
            "sec": sec, "rec_per_s_core": round(mid / sec / args.cpus, 1),
            "runs": per, "ext_cores": ext,
        }
        print(f"# only_{fam} n={mid}: {sec:.2f}s min ({per})", file=sys.stderr)

    mem = probe_batches(spark, str(_corpus_path("images", cells[-1])))

    print("\n| corpus | payloads | min wall (s) | rec/s | rec/s/core |"
          " ×/decade | runs | ext cores |")
    print("|---|---|---|---|---|---|---|---|")
    for r in rows_md:
        print(r)
    print("\n| family-only cell (n={:,}) | min wall (s) | rec/s/core |".format(mid))
    print("|---|---|---|")
    for fam, fr in fam_results.items():
        print(f"| {fam} | {fr['sec']:.2f} | {fr['rec_per_s_core']} |")
    print(f"\n# batch memory probe (largest images corpus): {mem}")
    print(json.dumps({
        "metric": "media_scale_sweep", "cells": results,
        "family_cells": fam_results, "batch_memory": mem,
        "load_start": round(load, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
