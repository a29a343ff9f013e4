"""Integer-exact k-means over embedding columns: the trained coarse
quantizer behind ``plans.similarity``'s trained-IVF and IVF-PQ searches
(its sign-pattern IVF is the train-free variant) and behind
``semdedup_kmeans``.

One kernel: ``nearest`` is the only nearest-centroid rule in the package
and ``lloyd_update`` the only centroid update. Every assignment (the
corpus map, the Lloyd loops, PQ codebook training and encoding, the
probe fan-out of both trained searches) calls them, so all of them agree
bit for bit.

Scale shape:
- a training set of up to ``FIT_SAMPLE_TARGET`` rows is collected once
  and Lloyd runs driver-side in numpy (``lloyd``);
- a larger one runs the distributed loop: vectors NEVER shuffle, each
  iteration is a narrow map (``assign_clusters_batches``) plus one
  partial-aggregated groupBy(cluster) whose shuffle carries k x dim
  running sums per partition, not vectors;
- centroids are model state: k x dim integers on the driver (the same
  contract as MLlib's KMeans), independent of corpus size;
- all arithmetic is integer-exact on 1e6-quantized vectors (the
  ``plans.similarity`` convention), so results are bit-stable across
  partitionings, retries and engines; tests/test_kmeans.py replays the
  same computation in numpy and asserts exact equality.

Determinism details:
- init: the k vectors with the smallest (h60(vec_id), vec_id), no RNG;
- argmin tiebreak: lowest centroid index wins;
- centroid update: per-dimension integer mean, rounded half away from
  zero (sign(s) * ((|s| * 2 + n) // (2 * n))), exact in int64; an empty
  cluster keeps its centroid;
- convergence: centroids unchanged (integer equality), or max_iters.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60
from ..functions.quantize import QUANT, qvec as quantize  # noqa: F401


def nearest(x: np.ndarray, cents: np.ndarray, out: np.ndarray | None = None):
    """``(index, d)`` for int64 rows ``x`` (n, dim) against ``cents``
    (k, dim): ``d`` (n, k) holds every exact squared L2 distance,
    ``|x|^2 - 2 x.c + |c|^2`` in int64 (|x - c| <= 2e6 and dim <= 64
    keep it below 2^49), and ``index`` each row's nearest centroid,
    lowest index on ties (np.argmin takes the first minimum). ``out``
    is an optional (n, k) int64 buffer for ``d``."""
    d = np.matmul(x, cents.T, out=out)
    np.multiply(d, -2, out=d)
    d += np.einsum("ij,ij->i", x, x)[:, None]
    d += np.einsum("ij,ij->i", cents, cents)[None, :]
    return np.argmin(d, axis=1), d


def lloyd_update(cents: np.ndarray, sums: np.ndarray,
                 counts: np.ndarray) -> np.ndarray:
    """Lloyd's centroid update from per-cluster int64 ``sums`` (k, dim)
    and member ``counts`` (k,): the integer mean rounded half away from
    zero, an empty cluster keeping its centroid. The numerator and
    denominator are nonnegative, so numpy floor division is exact."""
    n = np.maximum(counts, 1)[:, None]
    means = np.sign(sums) * ((np.abs(sums) * 2 + n) // (2 * n))
    return np.where(counts[:, None] > 0, means, cents)


def lloyd(x: np.ndarray, k: int, max_iters: int):
    """Lloyd in numpy over int64 rows ``x`` that arrive in init order
    (sorted by (h60(id), id)), so the first k rows are the seeds.
    Returns ``(centroids, n_iters)``: fewer than k centroids when ``x``
    has fewer rows; ``n_iters`` counts the final no-change check."""
    cents = x[:k].copy()
    n_iters = 0
    for n_iters in range(1, max_iters + 1):
        cl, _ = nearest(x, cents)
        sums = np.zeros_like(cents)
        np.add.at(sums, cl, x)
        new = lloyd_update(cents, sums, np.bincount(cl, minlength=len(cents)))
        if np.array_equal(new, cents):
            break
        cents = new
    return cents, n_iters


def assign_clusters_batches(qvecs: DataFrame, centroids: list[list[int]],
                            vec_col: str = "qv") -> DataFrame:
    """Add ``cluster`` (the nearest centroid, lowest index on ties) and
    ``dist`` (its exact squared distance) columns, computed per Arrow
    batch (``mapInPandas``) by ``nearest``. A narrow map: vectors stay
    put, centroids ride the closure, tiles come from the per-worker
    scratch pool.

    The cluster id is a plain Arrow column, so joins on it plan fast:
    the retired Column form (k ~200-node distance expressions under a
    k-way when-chain) sent Catalyst's constraint propagation into a
    measured 200+ s rebuild on a 500-row corpus. One numpy matmul per
    batch also handles thousands of centroids."""
    import pandas as pd

    if len(centroids) == 0:
        # fail on the driver with a clear message, not inside the executor
        # as an opaque IndexError on a 0-d cmat (r15 ADVICE) — mirrors
        # fit_kmeans' k >= 1 guard
        raise ValueError("assign_clusters_batches: centroids must be "
                         "non-empty")
    clash = {c for c in qvecs.columns if c in ("cluster", "dist")}
    if clash:
        raise ValueError(
            f"assign_clusters_batches: input already has {sorted(clash)}")
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cmat = np.asarray(centroids, dtype=np.int64)
    # the map runs over positional column names and the result takes the
    # input's names back: mapInPandas resolves each input column by name,
    # and a name holding a backtick does not parse
    names = qvecs.columns
    pos = [f"_{i}" for i in range(len(names))]
    vec_pos = pos[names.index(vec_col)]
    out_schema = StructType([
        StructField(p, f.dataType, f.nullable)
        for p, f in zip(pos, qvecs.schema.fields)
    ] + [
        StructField("cluster", IntegerType()),
        StructField("dist", LongType()),
    ])

    def assign_iter(batches):
        from aws_cloudfront_realtime_monitoring_spark.operators.scratch import (
            scratch,
        )

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf.assign(cluster=pd.Series(dtype="int32"),
                                 dist=pd.Series(dtype="int64"))
                continue
            x = scratch("kmeans.x", (n, cmat.shape[1]), np.int64)
            np.stack(pdf[vec_pos].to_numpy(), axis=0, out=x)
            cl, d = nearest(
                x, cmat, out=scratch("kmeans.d", (n, len(cmat)), np.int64))
            yield pdf.assign(
                cluster=cl.astype(np.int32),
                dist=d[np.arange(n), cl],
            )

    return qvecs.toDF(*pos).mapInPandas(assign_iter, out_schema).toDF(
        *names, "cluster", "dist")


def init_centroids(qvecs: DataFrame, k: int, vec_col: str = "qv",
                   id_col: str = "vec_id") -> list[list[int]]:
    """Deterministic seeding: the k vectors with the smallest
    (h60(vec_id), vec_id). One top-k (TakeOrderedAndProject) — no RNG, no
    full sort."""
    rows = (
        qvecs.select(id_col, vec_col,
                     h60(F.col(id_col).cast("string")).alias("__h"))
        .orderBy("__h", id_col)
        .limit(k)
        .collect()
    )
    return [[int(x) for x in r[vec_col]] for r in rows]


#: a training set of at most this many vectors is collected and fitted
#: driver-side, and "auto" fit_fraction samples down to it: the r16
#: x100 sweep measured a 200k-corpus fit at fraction 0.1 (20k vectors)
#: running 5.8x faster than full-fit (23.5 s vs 136.4 s, 8 Lloyd
#: iterations each at k=64) with recall@3 at or ABOVE the full fit at
#: every nprobe — and 20k keeps >= ~300 vectors per centroid through
#: k=64 (>= 100/centroid through k=200), the classical sizing floor.
FIT_SAMPLE_TARGET = 20_000


def _h60_sort_key(id_col: str):
    """Driver-side replay of ``orderBy("__h", id_col)`` (ascending,
    Spark's NULLS FIRST) over collected (id, qv, __h) rows — shared by
    the driver-side Lloyd fit and fit_pq's shared-sample path so both
    reproduce init_centroids' ordering bit-for-bit."""
    return lambda r: (
        r["__h"] is not None, r["__h"] if r["__h"] is not None else 0,
        r[id_col] is not None, r[id_col] if r[id_col] is not None else 0,
    )


def _hash_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """The deterministic fit sample: ``xxhash64(id) % 2^20 <
    fraction * 2^20``, reproducible across runs and engines."""
    mod = 1 << 20
    return df.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod))
                    < F.lit(int(fraction * mod)))


def fit_kmeans(vectors: DataFrame, k: int = 8, max_iters: int = 20,
               vec_col: str = "embedding", id_col: str = "vec_id",
               fit_fraction: float | str | None = None,
               return_sample: bool = False):
    """Lloyd's algorithm on quantized vectors.

    Returns ``(centroids, assignments, n_iters)`` where ``centroids`` is a
    k x dim list of ints (the trained coarse quantizer), ``assignments`` a
    DataFrame (id, cluster, dist) over the FULL corpus, and ``n_iters``
    the executed iteration count (including the final no-change check).

    ``fit_fraction`` picks the training set. ``None`` (or 1.0) trains on
    the whole corpus; a float in (0, 1) on the deterministic hash sample
    ``xxhash64(id) % 2^20 < fraction * 2^20`` (r16); ``"auto"`` on the
    full corpus when it has at most FIT_SAMPLE_TARGET vectors, else on
    the hash sample of fraction ``FIT_SAMPLE_TARGET / n``. Every Lloyd
    iteration is a full assignment pass over the training set, so the
    fit cost divides by ~1/fraction while centroid quality barely moves
    (SCALE.md's trained-ANN table: at x100 the 0.1-sample fit matched or
    beat full-fit recall at every nprobe). The returned ``assignments``
    ALWAYS cover the full corpus, and validation (ragged/NULL) stays
    full-corpus, since the assignment pass consumes every row.

    Execution shape: one capped collect (``limit(FIT_SAMPLE_TARGET +
    1)``) fetches the training rows. When it comes back with at most
    FIT_SAMPLE_TARGET rows (and in ``"auto"`` mode, whose training set
    is bounded by construction) the whole Lloyd loop runs driver-side in
    numpy (``lloyd``): one to three Spark jobs instead of one per
    iteration. Only a larger training set runs the distributed loop.
    Both loops use the same kernel, so the centroids do not depend on
    which one ran (pinned in tests/test_kmeans.py).

    ``return_sample`` (r17): when True the function returns a 4-tuple
    ``(centroids, assignments, n_iters, sample)`` where ``sample`` is
    the collected (id, qv, __h) training rows IF they are the COMPLETE
    clean corpus, else None. A caller that next trains PQ codebooks on
    the same deterministic sample (``fit_pq(sample_rows=...)``) reuses
    this collect instead of paying its own corpus job, with
    bit-identical models (the shared ``_h60_sort_key`` replays the
    ordering driver-side).
    """
    if k < 1:
        raise ValueError(f"fit_kmeans: k must be >= 1, got {k}")
    auto = isinstance(fit_fraction, str)
    if auto and fit_fraction != "auto":
        raise ValueError(
            f"fit_kmeans: fit_fraction must be a float in (0, 1], 'auto' "
            f"or None, got {fit_fraction!r}")
    if (fit_fraction is not None and not auto
            and not 0.0 < fit_fraction <= 1.0):
        raise ValueError(
            f"fit_kmeans: fit_fraction must be in (0, 1], got {fit_fraction}")
    # drop NULL vectors (and vectors with a NULL element) up front: they
    # would propagate NULL through every distance and crash the centroid
    # update (r11 review) -- a dirty row is the caller's skip case
    qall = (
        vectors.where(F.col(vec_col).isNotNull())
        .where(~F.exists(F.col(vec_col), lambda x: x.isNull()))
        .select(id_col, quantize(F.col(vec_col)).alias("qv"))
    )

    def keyed(df):
        return df.select(id_col, "qv",
                         h60(F.col(id_col).cast("string")).alias("__h"))

    sampled = not auto and fit_fraction is not None and fit_fraction < 1.0
    train = _hash_sample(qall, id_col, fit_fraction) if sampled else qall
    # Spark runs a limit incrementally (first partitions only), so a
    # corpus past the cap costs a partial scan here, not a full pass
    rows = keyed(train).limit(FIT_SAMPLE_TARGET + 1).collect()
    complete = not sampled and len(rows) <= FIT_SAMPLE_TARGET
    if not complete:
        # the rows in hand are not the whole corpus: one aggregate
        # validates it (min != max size IS the ragged condition) and
        # counts it for the auto fraction
        n_corpus, dim_lo, dim_hi = qall.agg(
            F.count("*"), F.min(F.size("qv")), F.max(F.size("qv"))
        ).first()
        if auto:
            fit_fraction = FIT_SAMPLE_TARGET / n_corpus
            sampled = True
            rows = keyed(_hash_sample(qall, id_col, fit_fraction)).collect()
    if not rows:
        raise ValueError(
            "fit_kmeans: vectors DataFrame is empty"
            + (f" after fit_fraction={fit_fraction} sampling" if sampled
               else ""))
    if complete:
        dims = {len(r["qv"]) for r in rows}
        dim_lo, dim_hi = min(dims), max(dims)
    # ragged vector lengths are the same schema violation as NULL
    # elements: a MIXED-length cluster would silently average over
    # missing dimensions (r12 review)
    if dim_lo != dim_hi:
        raise ValueError(
            f"fit_kmeans: {vec_col} has inconsistent vector lengths "
            f"(expected {dim_lo} elements)"
        )
    if auto or len(rows) <= FIT_SAMPLE_TARGET:
        # init_centroids' ordering, replayed on the collected rows
        rows.sort(key=_h60_sort_key(id_col))
        cmat, n_iters = lloyd(
            np.array([r["qv"] for r in rows], dtype=np.int64), k, max_iters)
    else:
        cmat, n_iters = _lloyd_distributed(train, k, max_iters, id_col)
    centroids = cmat.tolist()
    if len(centroids) < k:
        # fewer distinct vectors than requested clusters: train what the
        # data supports, but say so (r13 review)
        import logging

        logging.getLogger(__name__).warning(
            "fit_kmeans: corpus has only %d vectors; training %d "
            "centroids instead of the requested k=%d",
            len(centroids), len(centroids), k,
        )
    # the returned assignments are LAZY: each later action re-runs the
    # narrow quantize+assign map from the source (no shuffle). Callers
    # consuming them repeatedly should persist() them (r11 review).
    assignments = assign_clusters_batches(qall, centroids).select(
        id_col, "cluster", "dist")
    if return_sample:
        return centroids, assignments, n_iters, rows if complete else None
    return centroids, assignments, n_iters


def _lloyd_distributed(train: DataFrame, k: int, max_iters: int,
                       id_col: str):
    """``lloyd``'s loop for a training set too large to collect:
    init_centroids seeds it, and each iteration is one
    ``assign_clusters_batches`` map plus one groupBy(cluster) whose
    shuffle carries k x dim running sums, which ``lloyd_update`` turns
    into the next centroids on the driver."""
    train = train.persist()
    cmat = np.asarray(init_centroids(train, k, vec_col="qv", id_col=id_col),
                      dtype=np.int64)
    dim = cmat.shape[1]
    n_iters = 0
    for n_iters in range(1, max_iters + 1):
        stats = (
            assign_clusters_batches(train, cmat).groupBy("cluster")
            # SQL-string sums: the Column spelling costs ~3 py4j
            # round-trips per dimension per iteration (r15)
            .agg(F.count("*").alias("n"),
                 *[F.expr(f"sum(qv[{i}])").alias(f"s{i}")
                   for i in range(dim)])
            .collect()
        )
        counts = np.zeros(len(cmat), dtype=np.int64)
        sums = np.zeros_like(cmat)
        for r in stats:
            counts[r["cluster"]] = r["n"]
            sums[r["cluster"]] = [r[f"s{i}"] for i in range(dim)]
        new = lloyd_update(cmat, sums, counts)
        if np.array_equal(new, cmat):
            break
        cmat = new
    train.unpersist()
    return cmat, n_iters


def save_centroids(spark, centroids: list[list[int]], path: str) -> None:
    """Persist a trained coarse quantizer as parquet (cluster INT,
    centroid ARRAY<BIGINT>) — the train-once artifact of the
    fit-once/search-many shape (ann_topk_trained's ``centroids=``
    argument loads from here). One row per centroid: k x dim integers,
    the same driver-side model-state footprint fit_kmeans already
    holds."""
    rows = [(j, [int(v) for v in c]) for j, c in enumerate(centroids)]
    (spark.createDataFrame(rows, "cluster INT, centroid ARRAY<BIGINT>")
     .coalesce(1).write.mode("overwrite").parquet(path))


def load_centroids(spark, path: str) -> list[list[int]]:
    """Inverse of :func:`save_centroids`: the k x dim integer list,
    ordered by cluster id (assignment indices must match the training
    run — a reordered load would silently relabel every cluster)."""
    rows = spark.read.parquet(path).orderBy("cluster").collect()
    if [r.cluster for r in rows] != list(range(len(rows))):
        raise ValueError(
            "centroid relation is not a dense 0..k-1 cluster sequence")
    return [[int(v) for v in r.centroid] for r in rows]
