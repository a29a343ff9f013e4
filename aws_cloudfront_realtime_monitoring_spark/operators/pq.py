"""Product quantization (PQ) of residual vectors — the memory/IO scale
path for the trained IVF index (``plans.similarity.ann_topk_pq``).

At 100 TB the corpus VECTORS are the wall, not the index: a dim-64
int64-quantized embedding is 512 bytes/row, so a 10^11-vector corpus
holds ~50 TB of raw vectors that every probed inverted list must scan.
IVF-PQ (Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — the FAISS `IVFPQ` shape) replaces each
vector in the index with M small codes:

1. assign the vector to its coarse (k-means) cluster — the existing
   trained-IVF quantizer (operators/kmeans.py);
2. take the RESIDUAL r = x - centroid(cluster) (residuals concentrate
   near 0, so a given code budget spends its precision where the data
   actually is);
3. split r into M contiguous subspaces of dim/M components each and
   encode every sub-vector as the index of its nearest codebook entry
   (one independent ksub-entry codebook per subspace, trained by the
   same deterministic integer Lloyd as the coarse quantizer).

The encoded index row is (id, cluster, M codes) — M + O(1) bytes of
payload instead of dim * 8 — and search scans codes, not vectors:
a probe builds one ADC (asymmetric distance computation) lookup table
of dot(q_sub, codebook entry) per subspace — M * ksub integers, O(1)
per probe — and a candidate's approximate score is

    dot(q, x_hat) = dot(q, centroid(cluster)) + sum_m LUT[m][code_m]

exact int64 arithmetic on the RECONSTRUCTION x_hat, so ranking is
bit-stable across engines, partitionings, and retries (the repo-wide
integer-exactness contract). The short list the ADC scan produces is
then re-ranked on true vectors fetched by id — the standard exact
re-rank that restores ranking quality at O(shortlist) cost.

Scale shape:
- training is corpus-size-INDEPENDENT: codebooks fit on the same
  deterministic <= FIT_SAMPLE_TARGET sample as the coarse quantizer
  (r16's measured 5.8x fit amortization), collected once to the driver
  — a bounded, model-training-sized collect (20k x dim int64 ~ 10 MB,
  the documented kmeans/CC O(small) contract), after which each
  subspace runs ``kmeans.lloyd``, the coarse quantizer's own numpy
  Lloyd (h60-ordered init, first-min argmin, half-away-from-zero
  integer means, integer-equality convergence);
- encoding is a narrow Arrow map (``mapInPandas``): vectors never
  shuffle, centroids + codebooks ride the closure (k*dim + M*ksub*dsub
  integers);
- the ADC scan shuffles only (id, cluster, codes) — the 10-50x smaller
  relation is the point — and the exact re-rank joins a broadcast
  shortlist (queries x shortlist rows) back against the raw vectors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..functions.hashing import h60
from . import kmeans as km


def fit_pq(
    qvecs: DataFrame,
    coarse_centroids: list[list[int]],
    m: int = 8,
    ksub: int = 256,
    max_iters: int = 8,
    vec_col: str = "qv",
    id_col: str = "vec_id",
    sample_target: int | None = None,
    sample_rows: list | None = None,
) -> list[list[list[int]]]:
    """Train M residual sub-codebooks on a deterministic sample.

    ``qvecs`` is an (id, int64-vector) relation (the ``qvec()``
    convention). The training set is the <= ``sample_target`` rows with
    the smallest (h60(id), id) — ONE TakeOrderedAndProject job, fully
    deterministic, corpus-size-independent (the same key init_centroids
    seeds from, so fit cost is fixed at any N; defaults to
    kmeans.FIT_SAMPLE_TARGET). Residuals against the caller's coarse
    centroids are computed driver-side on the collected sample — a
    bounded model-training collect (sample x dim int64, ~10 MB at the
    default), NOT a data collect — and each subspace trains an
    independent integer Lloyd (``kmeans.lloyd``: the first ksub sample
    rows seed it, which is init_centroids' rule on this sorted sample).

    Returns ``codebooks``: M lists of <= ksub centroids of dim/M ints
    each. Raises when dim is not divisible by ``m`` (the standard PQ
    constraint) or the sample is empty.

    ``sample_rows`` (r17 optimization round): the caller may pass the
    already-collected (id, qv, __h) rows of the COMPLETE clean relation
    — the rows ``fit_kmeans(..., fit_fraction="auto",
    return_sample=True)`` hands back when its capped probe proved the
    corpus fits under FIT_SAMPLE_TARGET. Sorting them driver-side by
    the same (h60, id) key and taking the first ``target`` reproduces
    the TakeOrderedAndProject collect below EXACTLY (same set by
    completeness, same order by the shared ``_h60_sort_key``), so the
    codebooks are bit-identical and the composed coarse+PQ fit pays ONE
    corpus collect instead of two."""
    if m < 1:
        raise ValueError(f"fit_pq: m must be >= 1, got {m}")
    if ksub < 1:
        raise ValueError(f"fit_pq: ksub must be >= 1, got {ksub}")
    if ksub > 32_768:
        # codes are stored SIGNED 16-bit (np.int16 buffers here, Spark
        # ShortType in the index schema), so the largest representable
        # code id is 32767 -- a 65536 bound would let encode_pq's int16
        # assignment wrap code ids negative with no error
        raise ValueError(
            f"fit_pq: ksub must fit a signed 16-bit code (<= 32768), "
            f"got {ksub}")
    if not coarse_centroids:
        raise ValueError("fit_pq: coarse_centroids must be non-empty")
    target = km.FIT_SAMPLE_TARGET if sample_target is None else sample_target
    from pyspark.sql import functions as F

    if sample_rows is not None:
        # shared-sample path (docstring): sort the complete clean rows
        # by the same key the JVM orderBy would use and keep the first
        # `target` — identical rows to the collect below
        rows = sorted(sample_rows, key=km._h60_sort_key(id_col))[:target]
    else:
        # the fit_kmeans dirty-row guard: NULL vectors / NULL elements
        # would otherwise surface as an opaque object-dtype numpy error
        # below
        clean = qvecs.where(F.col(vec_col).isNotNull()).where(
            ~F.exists(F.col(vec_col), lambda x: x.isNull()))
        rows = (
            clean.select(id_col, vec_col,
                         h60(F.col(id_col).cast("string")).alias("__h"))
            .orderBy("__h", id_col)
            .limit(target)
            .collect()
        )
    if not rows:
        raise ValueError("fit_pq: qvecs is empty")
    lens = {len(r[vec_col]) for r in rows}
    if len(lens) > 1:
        raise ValueError(
            f"fit_pq: {vec_col} has inconsistent vector lengths {sorted(lens)}")
    x = np.array([list(r[vec_col]) for r in rows], dtype=np.int64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(
            f"fit_pq: dim {dim} not divisible by m={m} subspaces")
    cmat = np.asarray(coarse_centroids, dtype=np.int64)
    if cmat.shape[1] != dim:
        raise ValueError(
            f"fit_pq: coarse centroid dim {cmat.shape[1]} != vector dim {dim}")
    res = x - cmat[km.nearest(x, cmat)[0]]
    dsub = dim // m
    return [
        km.lloyd(np.ascontiguousarray(res[:, s * dsub:(s + 1) * dsub]),
                 ksub, max_iters)[0].tolist()
        for s in range(m)
    ]


def encode_pq(
    qvecs: DataFrame,
    coarse_centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    vec_col: str = "qv",
) -> DataFrame:
    """Encode every vector as (coarse ``cluster``, M-wide ``codes``) —
    the PQ index relation. A narrow Arrow map (``mapInPandas``, the
    assign_clusters_batches shape): vectors never shuffle, the models
    ride the closure. The output DROPS the vector column — the index
    carries codes only, which is the compression (dim*8 bytes -> M
    smallint codes + one int); callers keep their own raw relation for
    the exact re-rank. Both assignments (coarse cluster, then one code
    per subspace) are ``kmeans.nearest``: exact int64, first-min
    tiebreaks, pinned against a numpy replica in tests."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        ShortType,
        StructField,
        StructType,
    )

    if not coarse_centroids or not codebooks:
        raise ValueError("encode_pq: empty coarse_centroids or codebooks")
    clash = {c for c in qvecs.columns if c in ("cluster", "codes")}
    if clash:
        raise ValueError(f"encode_pq: input already has {sorted(clash)}")
    cmat = np.asarray(coarse_centroids, dtype=np.int64)
    cbs = [np.asarray(cb, dtype=np.int64) for cb in codebooks]
    m = len(cbs)
    dsub = cbs[0].shape[1]
    if cmat.shape[1] != m * dsub:
        raise ValueError(
            f"encode_pq: dim {cmat.shape[1]} != m*dsub {m * dsub}")
    out_schema = StructType(
        [f for f in qvecs.schema.fields if f.name != vec_col]
        + [StructField("cluster", IntegerType()),
           StructField("codes", ArrayType(ShortType()))]
    )

    def encode_iter(batches):
        from aws_cloudfront_realtime_monitoring_spark.operators.scratch import (
            scratch,
        )

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                out = pdf.drop(columns=[vec_col])
                out["cluster"] = np.array([], dtype=np.int32)
                out["codes"] = []
                yield out
                continue
            if pdf[vec_col].isna().any():
                # the fit_kmeans dirty-row discipline: a NULL vector is
                # the caller's skip case, not an opaque np.stack
                # TypeError deep inside an executor task (fit_pq
                # FILTERS its training sample; the index build must not
                # silently drop corpus rows, so it fails loudly)
                bad = pdf.loc[pdf[vec_col].isna()].index[0]
                raise ValueError(
                    f"encode_pq: NULL {vec_col} vector in batch (first "
                    f"at pandas index {bad}); filter dirty rows before "
                    "encoding")
            x = scratch("pq.x", (n, cmat.shape[1]), np.int64)
            try:
                np.stack(pdf[vec_col].to_numpy(), axis=0, out=x)
            except (TypeError, ValueError) as e:
                raise ValueError(
                    f"encode_pq: {vec_col} has NULL elements or ragged "
                    f"lengths (expected dim {cmat.shape[1]}): {e}"
                ) from e
            cl, _ = km.nearest(x, cmat)
            r = scratch("pq.res", (n, cmat.shape[1]), np.int64)
            np.subtract(x, cmat[cl], out=r)
            codes = scratch("pq.codes", (n, m), np.int16)
            for s in range(m):
                codes[:, s] = km.nearest(
                    np.ascontiguousarray(r[:, s * dsub:(s + 1) * dsub]),
                    cbs[s])[0]
            out = pdf.drop(columns=[vec_col])
            out["cluster"] = cl.astype(np.int32)
            # per-row copies: the Arrow serializer holds the lists past
            # this iteration, so they must not alias the pooled buffer
            out["codes"] = [codes[i].copy() for i in range(n)]
            yield out

    return qvecs.mapInPandas(encode_iter, out_schema)


def adc_tables(
    query_vec: list[int],
    coarse_centroids: list[list[int]],
    codebooks: list[list[list[int]]],
) -> tuple[list[int], list[list[int]]]:
    """The per-probe ADC model: (base, lut) where ``base[c]`` =
    dot(q, centroid_c) and ``lut[s][j]`` = dot(q_sub_s, codebook_s[j]),
    all exact int64 — a candidate's approximate score is
    base[cluster] + sum_s lut[s][codes[s]] = dot(q, reconstruction).
    O(k*dim + M*ksub*dsub) integer work per probe, done once."""
    q = np.asarray(query_vec, dtype=np.int64)
    cmat = np.asarray(coarse_centroids, dtype=np.int64)
    base = (cmat @ q).tolist()
    dsub = len(codebooks[0][0])
    lut = [
        (np.asarray(cb, dtype=np.int64)
         @ q[s * dsub:(s + 1) * dsub]).tolist()
        for s, cb in enumerate(codebooks)
    ]
    return [int(b) for b in base], [[int(v) for v in row] for row in lut]


def save_pq(spark, codebooks: list[list[list[int]]], path: str) -> None:
    """Persist trained PQ codebooks as parquet (subspace INT, code INT,
    centroid ARRAY<BIGINT>) — the train-once artifact completing the
    coarse quantizer's save_centroids (operators/kmeans.py): together
    they make ann_topk_pq's ``centroids=``/``codebooks=`` arguments a
    load-from-storage production shape. One row per (subspace, code):
    M x ksub x dsub integers, model-state-sized."""
    rows = [(s, j, [int(v) for v in c])
            for s, cb in enumerate(codebooks)
            for j, c in enumerate(cb)]
    (spark.createDataFrame(
        rows, "subspace INT, code INT, centroid ARRAY<BIGINT>")
     .coalesce(1).write.mode("overwrite").parquet(path))


def load_pq(spark, path: str) -> list[list[list[int]]]:
    """Inverse of :func:`save_pq`: M lists of codebook entries, ordered
    by (subspace, code) — a reordered load would silently remap every
    stored code (the load_centroids discipline)."""
    rows = spark.read.parquet(path).orderBy("subspace", "code").collect()
    if not rows:
        raise ValueError("PQ codebook relation is empty")
    n_sub = rows[-1].subspace + 1
    out: list[list[list[int]]] = [[] for _ in range(n_sub)]
    for r in rows:
        if r.subspace < 0 or r.code != len(out[r.subspace]):
            raise ValueError(
                "PQ codebook relation is not dense (subspace, 0..ksub-1) "
                "sequences")
        out[r.subspace].append([int(v) for v in r.centroid])
    if not all(out):
        raise ValueError("PQ codebook relation has an empty subspace")
    return out
