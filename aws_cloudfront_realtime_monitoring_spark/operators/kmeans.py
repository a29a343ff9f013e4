"""Distributed k-means over embedding columns — the trained-centroid IVF
path for ANN at scale (``plans.similarity``'s sign-pattern IVF is the
train-free variant; this one learns the coarse quantizer).

Scale shape (the point):
- vectors NEVER shuffle: each Lloyd iteration is a narrow map (distance to
  k broadcast centroids + argmin) followed by one partial-aggregated
  groupBy(cluster) whose shuffle carries k×dim running sums per partition,
  not vectors;
- centroids are model state: k×dim integers on the driver per iteration —
  the legitimate driver-side footprint of iterative ML (same contract as
  MLlib's KMeans), independent of corpus size;
- all arithmetic is integer-exact on 1e6-quantized vectors (the
  ``plans.similarity`` convention): squared-L2 distances and centroid
  means are 64-bit integer ops, so results are bit-stable across
  partitionings, retries, and engines — the test suite replays the SAME
  computation in numpy and asserts exact equality.

Determinism details:
- init: the k vectors with the smallest (h60(vec_id), vec_id) — no RNG;
- argmin tiebreak: lowest centroid index wins;
- centroid update: per-dimension integer mean, rounded half away from zero
  (sign(s) * ((|s| * 2 + n) // (2 * n))) — exact in int64;
- convergence: centroids unchanged (integer equality), or max_iters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60
from ..functions.quantize import QUANT, qvec as quantize  # noqa: F401


def _sq_dist(vec_col: str, centroid: list[int]) -> Column:
    """Exact integer squared-L2 distance from an int64 vector column to a
    Python-side centroid (per-element (x-c)^2 summed; |x-c| <= 2e6 and
    dim <= 64 keeps the sum < 2^49 — no overflow).

    Built as ONE SQL expression string, not Column composition (r15):
    the array literal alone costs ~2*dim py4j round-trips per centroid
    the Column way, and a k=16/dim=64 assignment builds k of these per
    Lloyd iteration — the same driver-chatter class the r8 ANN
    SQL-string migration measured at ~0.6 s/plan (SCALE.md
    "Plan-build vs execute split"). The SQL form is one round-trip;
    values are identical (same integer ops)."""
    lits = ",".join(f"{int(c)}L" for c in centroid)
    # backtick-quoted identifier: a backtick INSIDE the name must be
    # doubled (Spark's quoting rule) or the f-string yields a malformed
    # expression for a hostile-but-legal column name (r15 ADVICE)
    vec_ident = vec_col.replace("`", "``")
    return F.expr(
        f"aggregate(zip_with(`{vec_ident}`, array({lits}), "
        "(x, c) -> (x - c) * (x - c)), CAST(0 AS BIGINT), "
        "(acc, d) -> acc + d)"
    )


def assign_clusters(qvecs: DataFrame, centroids: list[list[int]],
                    vec_col: str = "qv") -> DataFrame:
    """Add ``cluster`` (argmin of exact distance, lowest index on ties) and
    ``dist`` columns. Narrow map — centroids ride into the task as
    literals (k x dim integers), vectors stay put."""
    # collision guard (r13 review, the __salt/__z discipline from
    # skew/zorder): an input already carrying __d{j}/cluster/dist --
    # e.g. a persisted output of a prior assign_clusters fed back in --
    # would otherwise produce duplicate column names and an
    # AMBIGUOUS_REFERENCE crash downstream
    clash = {c for c in qvecs.columns
             if c in ("cluster", "dist") or c.startswith("__d")}
    if clash:
        raise ValueError(
            f"assign_clusters: input already has column(s) {sorted(clash)};"
            " drop or rename them first"
        )
    dists = [_sq_dist(vec_col, c) for c in centroids]
    # ONE projection for all k distance columns: chained withColumn built
    # k+2 nested Projects analyzed per Lloyd iteration -- the documented
    # Spark anti-pattern, linear plan bloat in k (r12 review)
    out = qvecs.select(
        "*", *[d.alias(f"__d{j}") for j, d in enumerate(dists)]
    )
    # F.least needs >= 2 columns; a single centroid is a valid degenerate
    # quantizer (everything in cluster 0)
    dmin = (
        F.least(*[F.col(f"__d{j}") for j in range(len(centroids))])
        if len(centroids) > 1
        else F.col("__d0")
    )
    cluster = F.when(F.col("__d0") == dmin, 0)
    for j in range(1, len(centroids)):
        cluster = cluster.when(F.col(f"__d{j}") == dmin, j)
    out = out.select("*", cluster.alias("cluster"), dmin.alias("dist"))
    return out.drop(*[f"__d{j}" for j in range(len(centroids))])


def assign_clusters_batches(qvecs: DataFrame, centroids: list[list[int]],
                            vec_col: str = "qv") -> DataFrame:
    """``assign_clusters``'s contract computed per Arrow batch
    (``mapInPandas``) instead of per-centroid Catalyst expressions —
    the SEARCH-path spelling (r15). Two reasons it exists:

    1. **Catalyst pathology, measured**: joining on the Column form's
       ``cluster`` (a k-way when-chain over k ~200-node aggregate
       trees) sent constraint propagation into a combinatorial
       expression rebuild — 200+ s of driver CPU inside
       ``gatherCommutative``/``TreeNode.copy`` on a 500-row corpus;
       with ``spark.sql.constraintPropagation.enabled=false`` the same
       plan ran in 2 s. A plain Arrow column gives the optimizer
       nothing to explode.
    2. **k ceiling**: k Column expressions cap practical k at a few
       hundred; one numpy matmul per batch handles thousands.

    Exact int64 arithmetic, identical values to ``assign_clusters``
    (pinned in tests/test_kmeans.py): d_j = x.x - 2 x.c_j + c_j.c_j
    (the exact expansion of sum((x - c)^2)), argmin with the
    lowest-index tiebreak (np.argmin takes the first minimum). A
    narrow map — vectors stay put, centroids ride the closure, tiles
    come from the per-worker scratch pool."""
    import numpy as np
    import pandas as pd

    if not centroids:
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
    # fresh StructType: StructType.add MUTATES the receiver, and
    # qvecs.schema is the live schema object of the input DataFrame --
    # chaining .add on it grew the INPUT's column list and mapInPandas
    # then tried to resolve the output-only columns against it (r15)
    out_schema = StructType(list(qvecs.schema.fields) + [
        StructField("cluster", IntegerType()),
        StructField("dist", LongType()),
    ])

    def assign_iter(batches):
        # tiles live in the per-worker scratch pool (operators/scratch.py);
        # values are bit-identical to fresh allocations (same ops, same
        # order; tests/test_kmeans.py pins the Column-form replica)
        from aws_cloudfront_realtime_monitoring_spark.operators.scratch import (
            scratch,
        )

        cn = np.einsum("ij,ij->i", cmat, cmat)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf.assign(cluster=pd.Series(dtype="int32"),
                                 dist=pd.Series(dtype="int64"))
                continue
            x = scratch("kmeans.x", (n, cmat.shape[1]), np.int64)
            np.stack(pdf[vec_col].to_numpy(), axis=0, out=x)
            dots = scratch("kmeans.dots", (n, cmat.shape[0]), np.int64)
            np.matmul(x, cmat.T, out=dots)
            d = scratch("kmeans.d", (n, cmat.shape[0]), np.int64)
            # d = |x|^2 - 2 x.c + |c|^2, all int64: exact
            np.multiply(dots, -2, out=d)
            d += np.einsum("ij,ij->i", x, x)[:, None]
            d += cn[None, :]
            cl = np.argmin(d, axis=1)
            yield pdf.assign(
                cluster=cl.astype(np.int32),
                dist=d[np.arange(n), cl],
            )

    return qvecs.mapInPandas(assign_iter, out_schema)


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


#: "auto" fit_fraction targets this many training vectors: the r16
#: x100 sweep measured a 200k-corpus fit at fraction 0.1 (20k vectors)
#: running 5.8x faster than full-fit (23.5 s vs 136.4 s, 8 Lloyd
#: iterations each at k=64) with recall@3 at or ABOVE the full fit at
#: every nprobe — and 20k keeps >= ~300 vectors per centroid through
#: k=64 (>= 100/centroid through k=200), the classical sizing floor.
FIT_SAMPLE_TARGET = 20_000


def _h60_sort_key(id_col: str):
    """Driver-side replay of ``orderBy("__h", id_col)`` (ascending,
    Spark's NULLS FIRST) over collected (id, qv, __h) rows — shared by
    the auto-mode Lloyd fit and fit_pq's shared-sample path so both
    reproduce init_centroids' ordering bit-for-bit."""
    return lambda r: (
        r["__h"] is not None, r["__h"] if r["__h"] is not None else 0,
        r[id_col] is not None, r[id_col] if r[id_col] is not None else 0,
    )


def fit_kmeans(vectors: DataFrame, k: int = 8, max_iters: int = 20,
               vec_col: str = "embedding", id_col: str = "vec_id",
               fit_fraction: float | str | None = None,
               return_sample: bool = False):
    """Lloyd's algorithm on quantized vectors.

    Returns ``(centroids, assignments, n_iters)`` where ``centroids`` is a
    k x dim list of ints (the trained coarse quantizer), ``assignments`` a
    DataFrame (id, cluster, dist) over the FULL corpus, and ``n_iters``
    the executed iteration count (including the final no-change check).

    ``fit_fraction`` (r16, verdict #4): train Lloyd on a DETERMINISTIC
    hash sample of the corpus (``xxhash64(id) % 2^20 < fraction*2^20``
    -- reproducible across runs and engines, no RNG state) instead of
    the full relation. Every Lloyd iteration is a full assignment pass
    over the training set, so the fit cost divides by ~1/fraction while
    centroid quality barely moves for any corpus whose cluster mass is
    not concentrated in a sub-sample sliver (measured in SCALE.md's
    trained-ANN table: at x100 the 0.1-sample fit matched-or-beat
    full-fit recall at every nprobe). ``"auto"`` derives the fraction
    from one count job as ``min(1, FIT_SAMPLE_TARGET / n)`` -- sub-20k
    corpora fit in full, larger ones pay a fixed-size fit. The returned
    ``assignments`` ALWAYS cover the full corpus; validation
    (ragged/NULL) also stays full-corpus, since the assignment pass
    would consume the bad rows either way.

    Execution shape (r17 optimization round): in ``"auto"`` mode the
    training set is BOUNDED (<= FIT_SAMPLE_TARGET rows ~ 10 MB at dim
    64) by construction, so the whole Lloyd loop runs driver-side in
    numpy on the collected sample -- the exact shape fit_pq already
    uses, with the same determinism rules (h60-ordered init, first-min
    argmin, half-away-from-zero integer means, integer-equality
    convergence), so centroids are BIT-IDENTICAL to the distributed
    loop's (pinned in tests/test_kmeans.py). That replaces ~12 Spark
    jobs (count + head + ragged probe + init top-k + one assignment
    aggregate per iteration) with exactly two (one stats pass over the
    corpus, one sample collect); measured 7.2 s -> ~0.8 s at sf0.1 /
    k=16 / 8 iters. Non-auto fits (an explicit float fraction or the
    full-corpus ``None``) keep the distributed loop: there the
    training-set size is not bounded by a constant, and a driver
    collect would violate the model-state-only contract.

    ``return_sample`` (r17 optimization round): when True the function
    returns a 4-tuple ``(centroids, assignments, n_iters, sample)``
    where ``sample`` is the collected (id, qv, __h) training rows IF
    the auto-mode capped probe proved the clean corpus fits under
    FIT_SAMPLE_TARGET (the rows are then the COMPLETE clean relation),
    else None. A caller that next trains PQ codebooks on the same
    deterministic sample (``fit_pq(sample_rows=...)``) reuses this
    collect instead of paying its own TakeOrdered corpus job — one
    Spark job saved per composed fit, with bit-identical models (the
    shared ``_h60_sort_key`` replays the ordering driver-side).
    """
    # drop NULL vectors (and vectors with a NULL element) up front: they
    # would propagate dist=NULL through every distance term, yield a
    # cluster=None stats row, and crash the driver-side centroid update
    # with an opaque TypeError (r11 review) -- a dirty row is the
    # caller's skip case, not a crash
    if k < 1:
        raise ValueError(f"fit_kmeans: k must be >= 1, got {k}")
    auto_fraction = isinstance(fit_fraction, str)
    if auto_fraction and fit_fraction != "auto":
        raise ValueError(
            f"fit_kmeans: fit_fraction must be a float in (0, 1], 'auto' "
            f"or None, got {fit_fraction!r}")
    if (fit_fraction is not None and not auto_fraction
            and not 0.0 < fit_fraction <= 1.0):
        raise ValueError(
            f"fit_kmeans: fit_fraction must be in (0, 1], got {fit_fraction}")
    qall = (
        vectors.where(F.col(vec_col).isNotNull())
        .where(~F.exists(F.col(vec_col), lambda x: x.isNull()))
        .select(id_col, quantize(F.col(vec_col)).alias("qv"))
    )
    if auto_fraction:
        # ONE capped collect serves as both the stats pass and the
        # training sample when the corpus fits under FIT_SAMPLE_TARGET
        # (r17 continuation): limit(target+1) coming back with <= target
        # rows proves no row was cut, so the count/dim facts derive
        # driver-side from the very rows the Lloyd loop trains on --
        # the sub-target fit drops from 2 Spark jobs to 1. A bigger
        # corpus falls back to the agg + hash-sampled collect below;
        # the probe costs it one partial-scan CollectLimit job (Spark
        # runs limit incrementally, first partitions only), not a
        # second corpus pass.
        probe = qall.select(
            id_col, "qv", h60(F.col(id_col).cast("string")).alias("__h")
        ).limit(FIT_SAMPLE_TARGET + 1).collect()
        if not probe:
            raise ValueError("fit_kmeans: vectors DataFrame is empty")
        if len(probe) <= FIT_SAMPLE_TARGET:
            dims = {len(r["qv"]) for r in probe}
            if len(dims) > 1:
                raise ValueError(
                    f"fit_kmeans: {vec_col} has inconsistent vector "
                    f"lengths (expected {min(dims)} elements)"
                )
            fit = _fit_kmeans_driver(qall, k, max_iters, id_col, 1.0,
                                     rows=probe)
            return (*fit, probe) if return_sample else fit
        # one pass derives the fraction AND the schema facts the old
        # path paid three jobs for (count / first-row dim / ragged
        # probe): count, min(size), max(size) in a single aggregate.
        # min != max IS the ragged condition; when equal, that value is
        # the dimension every row shares.
        n_corpus, dim_lo, dim_hi = qall.agg(
            F.count("*"), F.min(F.size("qv")), F.max(F.size("qv"))
        ).first()
        if dim_lo != dim_hi:
            raise ValueError(
                f"fit_kmeans: {vec_col} has inconsistent vector lengths "
                f"(expected {dim_lo} elements)"
            )
        fit_fraction = min(1.0, FIT_SAMPLE_TARGET / n_corpus)
        fit = _fit_kmeans_driver(qall, k, max_iters, id_col, fit_fraction)
        return (*fit, None) if return_sample else fit
    sampled = fit_fraction is not None and fit_fraction < 1.0
    if sampled:
        mod = 1 << 20
        qvecs = qall.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod))
            < F.lit(int(fit_fraction * mod))
        ).persist()
    else:
        qvecs = qall.persist()
    head = qvecs.select(F.size("qv")).first()
    if head is None:
        raise ValueError(
            "fit_kmeans: vectors DataFrame is empty"
            + (f" after fit_fraction={fit_fraction} sampling" if sampled
               else ""))
    dim = head[0]
    # ragged vector lengths are the same schema violation as NULL
    # elements (r11's guard above): a cluster of all-short vectors
    # aggregates NULL sums and the centroid update dies in int(None),
    # while MIXED-length clusters silently average over missing
    # dimensions -- reject both up front with a clear error (r12 review).
    # Checked on the FULL corpus even when the fit is sampled: the final
    # assignment pass consumes every row, so an out-of-sample ragged
    # vector would otherwise surface as an opaque executor numpy error.
    ragged = (qall if sampled else qvecs).where(
        F.size("qv") != dim).limit(1).count()
    if ragged:
        raise ValueError(
            f"fit_kmeans: {vec_col} has inconsistent vector lengths "
            f"(expected {dim} elements)"
        )
    centroids = init_centroids(qvecs, k, vec_col="qv", id_col=id_col)
    if len(centroids) < k:
        # fewer distinct vectors than requested clusters: train what the
        # data supports, but say so -- a silent short centroid list broke
        # callers' k-sized IVF assumptions with no signal (r13 review)
        import logging

        logging.getLogger(__name__).warning(
            "fit_kmeans: corpus has only %d vectors; training %d "
            "centroids instead of the requested k=%d",
            len(centroids), len(centroids), k,
        )
    n_iters = 0
    for _ in range(max_iters):
        n_iters += 1
        assigned = assign_clusters(qvecs, centroids)
        # k x dim running sums + counts: the ONLY shuffle, partial-agg'd
        stats = (
            assigned.groupBy("cluster")
            .agg(
                F.count("*").alias("n"),
                # SQL-string form: the Column spelling costs ~3 py4j
                # round-trips per dimension per iteration (r15, same
                # class as _sq_dist)
                *[F.expr(f"sum(qv[{i}])").alias(f"s{i}")
                  for i in range(dim)],
            )
            .collect()
        )
        new_centroids = [list(c) for c in centroids]  # empty clusters keep theirs
        for r in stats:
            n = r["n"]
            new_centroids[r["cluster"]] = [
                _round_div(int(r[f"s{i}"]), n) for i in range(dim)
            ]
        if new_centroids == centroids:
            break
        centroids = new_centroids
    # the RETURNED relation is what callers JOIN on (semdedup_kmeans
    # self-joins on cluster), so it takes the Arrow-batch form -- the
    # Column form's giant cluster expression is the measured
    # constraint-propagation blowup key (r15); the training loop above
    # keeps the Column form (its groupBy consumption never joins).
    # Assignments always cover the FULL corpus, sampled fit or not.
    assignments = assign_clusters_batches(
        qall if sampled else qvecs, centroids
    ).select(id_col, "cluster", "dist")
    # the returned assignments are LAZY and qvecs' cache is released
    # here: each later action re-runs the narrow quantize+assign map
    # from the source (no shuffle -- ordinary lazy semantics). Callers
    # consuming assignments repeatedly should persist() it themselves;
    # holding qvecs cached for an unbounded caller lifetime would leak
    # executor memory for the session (r11 review: documented trade).
    qvecs.unpersist()
    if return_sample:
        return centroids, assignments, n_iters, None
    return centroids, assignments, n_iters


def _fit_kmeans_driver(qall: DataFrame, k: int, max_iters: int,
                       id_col: str, fit_fraction: float, rows=None):
    """The ``"auto"``-mode Lloyd loop, driver-side (r17): collect the
    <= FIT_SAMPLE_TARGET-row training sample ONCE (with its h60 keys
    computed JVM-side, so init needs no Python hash replica) and run
    the exact integer Lloyd in numpy -- identical arithmetic, identical
    tie rules, bit-identical centroids to the distributed loop (the
    fit_pq ``_lloyd_int`` precedent; equality pinned in
    tests/test_kmeans.py). Inputs are pre-validated (non-empty,
    uniform dim) by the caller's stats pass. ``rows`` carries the
    already-collected (id, qv, __h) sample when the caller's capped
    probe collect proved the corpus fits under the target (r17
    continuation) -- same rows the collect below would fetch, minus
    the second Spark job."""
    import numpy as np

    sampled = fit_fraction < 1.0
    sample_df = qall
    if sampled:
        mod = 1 << 20
        sample_df = qall.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod))
            < F.lit(int(fit_fraction * mod))
        )
    if rows is None:
        rows = sample_df.select(
            id_col, "qv", h60(F.col(id_col).cast("string")).alias("__h")
        ).collect()
    if not rows:
        raise ValueError(
            "fit_kmeans: vectors DataFrame is empty"
            + (f" after fit_fraction={fit_fraction} sampling"
               if sampled else ""))
    # init_centroids' ordering, replayed driver-side: ascending
    # (h60, id) with Spark's NULLS FIRST (h60 is NULL only for a NULL
    # id; practically ids are non-null, but the sort must not crash on
    # one)
    rows.sort(key=_h60_sort_key(id_col))
    x = np.array([list(r["qv"]) for r in rows], dtype=np.int64)
    centroids = [list(int(v) for v in row) for row in x[:min(k, len(x))]]
    if len(centroids) < k:
        import logging

        logging.getLogger(__name__).warning(
            "fit_kmeans: corpus has only %d vectors; training %d "
            "centroids instead of the requested k=%d",
            len(centroids), len(centroids), k,
        )
    xn = np.einsum("ij,ij->i", x, x)
    n_iters = 0
    for _ in range(max_iters):
        n_iters += 1
        cmat = np.asarray(centroids, dtype=np.int64)
        # exact |x - c|^2 expansion, first-min argmin: the pinned
        # assign_clusters_batches arithmetic
        d = x @ cmat.T
        np.multiply(d, -2, out=d)
        d += xn[:, None]
        d += np.einsum("ij,ij->i", cmat, cmat)[None, :]
        cl = np.argmin(d, axis=1)
        new_centroids = [list(c) for c in centroids]
        for j in np.unique(cl):
            members = x[cl == j]
            s = members.sum(axis=0, dtype=np.int64)
            new_centroids[j] = [_round_div(int(v), len(members)) for v in s]
        if new_centroids == centroids:
            break
        centroids = new_centroids
    assignments = assign_clusters_batches(qall, centroids).select(
        id_col, "cluster", "dist")
    return centroids, assignments, n_iters


def _round_div(s: int, n: int) -> int:
    """Integer mean rounded half away from zero — exact, engine-portable."""
    sign = 1 if s >= 0 else -1
    return sign * ((abs(s) * 2 + n) // (2 * n))


def probe_clusters(probes: DataFrame, centroids: list[list[int]],
                   nprobe: int = 1, vec_col: str = "qv") -> DataFrame:
    """Multi-probe assignment (r15): each probe row fans out to its
    ``nprobe`` NEAREST centroids — the standard IVF recall/cost knob
    (probe more inverted lists, touch nprobe/k of the corpus) on the
    TRAINED quantizer, the analog of the sign-LSH path's Hamming-ball
    expansion. Adds a ``cluster`` column, one output row per (probe,
    probed cluster); exact integer distances, ties broken by lowest
    centroid index (array_sort on (dist, idx) structs — deterministic).
    Narrow map: the fanout multiplies only the (small) probe side."""
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(
            f"probe_clusters: nprobe must be in [1, k={len(centroids)}]")
    clash = {c for c in probes.columns
             if c == "cluster" or c.startswith("__d")}
    if clash:
        raise ValueError(
            f"probe_clusters: input already has column(s) {sorted(clash)}")
    # distances land in NAMED columns in their own projection, and the
    # sort/slice/explode references them by name (the assign_clusters
    # r12 lesson, re-learned the hard way in r15): inlining the k
    # ~200-node aggregate trees directly into array_sort let
    # CollapseProject re-substitute them through every downstream
    # projection -- a measured 355 s of driver CPU inside Catalyst
    # transformDown on a 500-row corpus, before the plan even ran
    out = probes.select(
        "*",
        *[_sq_dist(vec_col, c).alias(f"__d{j}")
          for j, c in enumerate(centroids)],
    )
    ranked = F.array_sort(F.array(*[
        F.struct(F.col(f"__d{j}").alias("d"), F.lit(j).alias("j"))
        for j in range(len(centroids))
    ]))
    out = out.select("*", F.explode(F.slice(ranked, 1, nprobe)).alias("__dc"))
    return out.select("*", F.col("__dc.j").alias("cluster")).drop(
        "__dc", *[f"__d{j}" for j in range(len(centroids))])


def ivf_search(qvecs: DataFrame, centroids: list[list[int]],
               probes: DataFrame, top_k: int = 5,
               vec_col: str = "qv", id_col: str = "vec_id",
               exclude_self: bool = True) -> DataFrame:
    """IVF search with the trained quantizer: corpus and probes are each
    assigned to their nearest centroid (narrow maps), candidates come from
    an equi-join on the cluster id (hash-partitionable — each probe scans
    one inverted list, not the corpus), ranked by exact integer dot
    product. Same approximate-recall contract as ``ann_topk_ivf``, but
    with a LEARNED coarse quantizer.

    ``exclude_self`` (default, the self-query convention shared with the
    recall audit): a candidate whose id equals the probe's id is dropped.
    Pass ``False`` when probes are EXTERNAL vectors whose id space merely
    overlaps the corpus's — a coincidental id match there would silently
    exclude a legitimate (possibly nearest) neighbor (r12 review)."""
    from pyspark.sql import Window as W

    # Arrow-batch assignment on BOTH sides (r15): joining on the
    # Column-form cluster key put k-way when-chains over k ~200-node
    # aggregate trees on each side of the equi-join — the measured
    # constraint-propagation blowup assign_clusters_batches documents
    # (200+ s of driver CPU at k=16 before any task ran). Values are
    # pinned identical to the Column form.
    corpus = assign_clusters_batches(qvecs, centroids, vec_col).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_qv"), "cluster"
    )
    probe = assign_clusters_batches(probes.select(
        F.col(id_col).alias("p_id"), F.col(vec_col).alias("p_qv")
    ), centroids, "p_qv").select("p_id", "p_qv", "cluster")
    dot = F.aggregate(
        F.zip_with("p_qv", "c_qv", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    # partition by the probe VECTOR too, not p_id alone: two distinct
    # external probes sharing a vec_id (the exact overlapping-id-space
    # case exclude_self=False exists for) would otherwise merge their
    # candidate pools into one top_k budget; identical (id, vector)
    # duplicates still collapse, which is harmless (r13 review)
    w = W.partitionBy("p_id", "p_qv").orderBy(F.desc("dot"), F.asc("c_id"))
    cand = probe.join(corpus, "cluster")
    if exclude_self:
        cand = cand.where(F.col("p_id") != F.col("c_id"))
    return (
        cand.select("p_id", "p_qv", "c_id", dot.alias("dot"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .drop("p_qv")
    )


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
