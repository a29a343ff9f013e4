"""k-means / trained-centroid IVF: exact numpy replication + invariants.

The operator does ALL arithmetic in int64 on 1e6-quantized vectors, so an
independent numpy implementation of the same algorithm must produce
IDENTICAL centroids and assignments — a bit-exact oracle for an iterative
distributed algorithm (no tolerance, no flakiness).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
    QUANT,
    fit_kmeans,
    ivf_search,
    quantize,
)
from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table

K = 4
MAX_ITERS = 20


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _numpy_kmeans(ids: np.ndarray, vecs: np.ndarray, k: int, max_iters: int):
    """Reference implementation: same init, same integer arithmetic, same
    tiebreaks as operators.kmeans."""
    order = sorted(range(len(ids)), key=lambda i: (_h60(str(ids[i])), ids[i]))
    centroids = vecs[order[:k]].copy()  # int64 (k, dim)
    for it in range(1, max_iters + 1):
        d = ((vecs[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # argmin: lowest index wins ties
        new_c = centroids.copy()
        for j in range(k):
            members = vecs[assign == j]
            if len(members):
                s = members.sum(axis=0)
                n = len(members)
                new_c[j] = np.sign(s) * ((np.abs(s) * 2 + n) // (2 * n))
        if (new_c == centroids).all():
            break
        centroids = new_c
    d = ((vecs[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    return centroids, d.argmin(axis=1), d.min(axis=1), it


@pytest.fixture(scope="module")
def fitted(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assignments, n_iters = fit_kmeans(emb, k=K, max_iters=MAX_ITERS)
    return emb, centroids, assignments.collect(), n_iters


def test_kmeans_matches_numpy_exactly(fitted, spark, sf_dir):
    emb, centroids, assign_rows, n_iters = fitted
    pdf = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", quantize(F.col("embedding")).alias("qv"))
        .toPandas()
        .sort_values("vec_id")
    )
    ids = pdf["vec_id"].to_numpy()
    vecs = np.array([np.array(v, dtype=np.int64) for v in pdf["qv"]])
    np_centroids, np_assign, np_dist, np_iters = _numpy_kmeans(
        ids, vecs, K, MAX_ITERS
    )
    assert [list(c) for c in np_centroids] == centroids
    got = {r.vec_id: (r.cluster, r.dist) for r in assign_rows}
    for i, vid in enumerate(ids):
        assert got[vid] == (int(np_assign[i]), int(np_dist[i]))
    assert n_iters == np_iters


def test_kmeans_deterministic_across_runs(fitted, spark, sf_dir):
    emb, centroids, assign_rows, _ = fitted
    c2, a2, _ = fit_kmeans(emb, k=K, max_iters=MAX_ITERS)
    assert c2 == centroids
    assert sorted((r.vec_id, r.cluster, r.dist) for r in a2.collect()) == sorted(
        (r.vec_id, r.cluster, r.dist) for r in assign_rows
    )


def test_kmeans_partitions_all_vectors(fitted):
    _, centroids, assign_rows, _ = fitted
    assert len({r.vec_id for r in assign_rows}) == len(assign_rows)
    assert {r.cluster for r in assign_rows} <= set(range(K))
    assert all(r.dist >= 0 for r in assign_rows)


def test_ivf_search_ranks_within_cluster(fitted, spark, sf_dir):
    """IVF candidates all share the probe's cluster; ranking is exact dot
    product with deterministic tiebreak, verified against a brute-force
    rescan restricted to the same inverted list."""
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
        assign_clusters,
    )

    emb, centroids, _, _ = fitted
    qvecs = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    probes = qvecs.orderBy("vec_id").limit(3)
    out = ivf_search(qvecs, centroids, probes, top_k=5).collect()
    assigned = {
        r.vec_id: (r.cluster, tuple(r.qv))
        for r in assign_clusters(qvecs, centroids).collect()
    }
    by_probe: dict[int, list] = {}
    for r in out:
        by_probe.setdefault(r.p_id, []).append(r)
    for p_id, rows in by_probe.items():
        rows.sort(key=lambda r: r.rnk)
        p_cluster, p_vec = assigned[p_id]
        # exact expected list: same cluster, ranked by integer dot
        cand = [
            (sum(a * b for a, b in zip(p_vec, vec)), cid)
            for cid, (cl, vec) in assigned.items()
            if cl == p_cluster and cid != p_id
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        expect = [(cid, dot) for dot, cid in cand[:5]]
        assert [(r.c_id, r.dot) for r in rows] == expect


def test_fit_kmeans_rejects_ragged_vectors(spark):
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import fit_kmeans

    df = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3, 0.4]), (2, [0.5, 0.6])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    with pytest.raises(ValueError, match="inconsistent vector lengths"):
        fit_kmeans(df, k=1)


def test_ivf_search_exclude_self_is_optional(spark):
    """External probes whose id space overlaps the corpus must be able
    to keep an id-equal corpus candidate (r12 review: the unconditional
    self-exclusion silently dropped a legitimate neighbor)."""
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
        ivf_search, quantize,
    )

    corpus = spark.createDataFrame(
        [(7, [1.0, 0.0]), (8, [0.9, 0.1])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    ).select("vec_id", quantize(F.col("embedding")).alias("qv"))
    # probe id 7 is an EXTERNAL vector, not corpus item 7
    probes = spark.createDataFrame(
        [(7, [1.0, 0.05])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).select("vec_id", quantize(F.col("embedding")).alias("qv"))
    cents = [[1_000_000, 0]]
    with_self = ivf_search(corpus, cents, probes, top_k=2,
                           exclude_self=False)
    ids = {r.c_id for r in with_self.collect()}
    assert ids == {7, 8}
    without = ivf_search(corpus, cents, probes, top_k=2)
    assert {r.c_id for r in without.collect()} == {8}


def test_assign_clusters_rejects_colliding_columns(spark):
    """r13 review: feeding a prior assign_clusters output back in created
    duplicate cluster/dist columns and AMBIGUOUS_REFERENCE downstream."""
    import pytest as _pytest

    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import assign_clusters

    df = spark.createDataFrame([(1, [1, 2])], "vec_id long, qv array<int>")
    once = assign_clusters(df, [[0, 0]])
    assert set(once.columns) == {"vec_id", "qv", "cluster", "dist"}
    with _pytest.raises(ValueError, match="cluster"):
        assign_clusters(once, [[0, 0]])


def test_assign_clusters_backtick_column_name(spark):
    """r15 ADVICE: a legal-but-hostile column name containing a backtick
    must be escaped into the SQL-string distance expression, not produce
    a malformed expression."""
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import assign_clusters

    df = spark.createDataFrame([(1, [3, 4]), (2, [10, 0])],
                               "vec_id long, `q``v` array<int>")
    out = assign_clusters(df, [[0, 0], [10, 0]], vec_col="q`v")
    got = {r["vec_id"]: (r["cluster"], r["dist"])
           for r in out.collect()}
    assert got == {1: (0, 25), 2: (1, 0)}


def test_assign_clusters_batches_rejects_empty_centroids(spark):
    """r15 ADVICE: empty centroid list fails driver-side with a clear
    message, not as an executor IndexError."""
    import pytest as _pytest

    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
        assign_clusters_batches,
    )

    df = spark.createDataFrame([(1, [1, 2])], "vec_id long, qv array<long>")
    with _pytest.raises(ValueError, match="non-empty"):
        assign_clusters_batches(df, [])


def test_fit_kmeans_validates_k_and_warns_on_short_corpus(spark, caplog):
    import logging

    import pytest as _pytest

    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import fit_kmeans

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(3)],
        "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="k must be >= 1"):
        fit_kmeans(df, k=0)
    with caplog.at_level(logging.WARNING):
        cents, _, _ = fit_kmeans(df, k=8, max_iters=2)
    assert len(cents) == 3
    assert any("instead of the requested k=8" in r.message
               for r in caplog.records)


def test_ivf_search_duplicate_external_probe_ids_keep_separate_pools(spark):
    """r13 review: the top-k window partitioned by p_id alone, so two
    DISTINCT external probes sharing a vec_id merged their candidate
    pools into one budget (exactly the overlapping-id-space case
    exclude_self=False exists for)."""
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import ivf_search

    corpus = spark.createDataFrame(
        [(i, [100 - i, 0]) for i in range(4)], "vec_id long, qv array<int>")
    # one centroid: every candidate is in every probe's pool
    probes = spark.createDataFrame(
        [(42, [1, 0]), (42, [0, 1])], "vec_id long, qv array<int>")
    got = ivf_search(corpus, [[50, 0]], probes, top_k=2,
                     exclude_self=False).collect()
    # two distinct probes must EACH get top_k rows, not share one budget
    assert len(got) == 4


def test_trained_quantizer_rescues_skewed_sign_buckets(spark):
    """SCALE.md's similarity regime claim, MEASURED (r14): 'trained
    k-means centroids remain the swap-in for corpora whose sign-pattern
    buckets skew'. Build a corpus of 8 well-separated blobs whose
    centers are all POSITIVE in the first IVF_BITS dimensions -- every
    vector then lands in the single all-positive sign bucket, so the
    sign-pattern IVF prunes NOTHING (each probe's inverted list is the
    whole corpus). The trained quantizer must (a) balance the inverted
    lists (real pruning) and (b) keep recall@5 vs exact brute force
    essentially perfect. Blob membership is arranged so the
    DETERMINISTIC h60 seeding starts one centroid per blob (Lloyd from
    a 2-seeds-in-one-blob start converges to a blob-splitting local
    optimum -- real k-means behavior, not what this test pins; the
    first attempt measured recall 0.675 from exactly that)."""
    from aws_cloudfront_realtime_monitoring_spark.functions.hashing import h60
    from aws_cloudfront_realtime_monitoring_spark.functions.quantize import qvec_numpy
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import ivf_search
    from aws_cloudfront_realtime_monitoring_spark.plans.similarity import IVF_BITS

    rng = np.random.RandomState(23)
    k, n_per, dim = 8, 64, 16
    n = k * n_per
    # the ids the deterministic seeding will pick (same rule as
    # init_centroids: smallest (h60(id), id))
    ids_df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        h60(F.col("id").cast("string")).alias("h"))
    seeds = [r.vec_id for r in
             ids_df.orderBy("h", "vec_id").limit(k).collect()]
    membership = np.repeat(np.arange(k), n_per)
    for j, sid in enumerate(sorted(seeds)):
        if membership[sid] != j:
            for t in range(n):
                if membership[t] == j and t not in seeds:
                    membership[sid], membership[t] = j, membership[sid]
                    break
    assert sorted(membership[s] for s in seeds) == list(range(k))

    centers = rng.normal(0.0, 1.0, (k, dim))
    centers[:, :IVF_BITS] = np.abs(centers[:, :IVF_BITS]) + 1.0
    # EQUAL-norm centers: ivf_search assigns by euclidean distance but
    # ranks by raw dot, so unequal blob norms would make a weak blob's
    # true dot-nearest neighbors live in a strong blob -- a metric
    # mismatch, not a quantizer property (the first draft measured
    # recall 0.8 from exactly that)
    centers = centers / np.linalg.norm(centers, axis=1, keepdims=True) * 20.0
    pts = centers[membership] + rng.normal(0.0, 0.3, (n, dim))
    # the construction's premise, asserted: every vector is positive in
    # the first IVF_BITS dims -> ONE sign bucket holds 100% of the mass
    assert (pts[:, :IVF_BITS] > 0).all()

    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<float>")
    centroids, assignments, _ = fit_kmeans(emb, k=k)
    sizes = [r["n"] for r in assignments.groupBy("cluster")
             .agg(F.count("*").alias("n")).collect()]
    # balanced inverted lists: no trained cluster holds more than 30%
    # of the corpus (vs the sign quantizer's 100%-in-one-bucket)
    assert max(sizes) / n < 0.30, sizes

    qv = qvec_numpy([list(v) for v in pts])
    # one probe per blob: the smallest non-seed id of each blob
    probe_ids = [min(i for i in range(n)
                     if membership[i] == b and i not in seeds)
                 for b in range(k)]
    # exact brute-force top-5 on the same quantized ints, same
    # (-dot, id) tie rule as the engine
    want = {}
    for pid in probe_ids:
        dots = qv @ qv[pid]
        order = sorted((int(-d), i) for i, d in enumerate(dots) if i != pid)
        want[pid] = {i for _, i in order[:5]}

    qdf = spark.createDataFrame(
        [(i, [int(x) for x in qv[i]]) for i in range(n)],
        "vec_id long, qv array<long>")
    got_rows = ivf_search(
        qdf, centroids, qdf.where(F.col("vec_id").isin(probe_ids)),
        top_k=5).collect()
    got: dict[int, set] = {}
    for r in got_rows:
        got.setdefault(r.p_id, set()).add(r.c_id)
    hits = sum(len(got.get(p, set()) & want[p]) for p in probe_ids)
    recall = hits / (5 * len(probe_ids))
    # blob-aligned centroids on well-separated blobs: no misses
    assert recall == 1.0, (
        recall, {p: sorted(got.get(p, set())) for p in probe_ids})


def test_assign_clusters_batches_matches_column_form(spark, sf_dir):
    """r15: the Arrow-batch assignment (the search-path spelling that
    sidesteps the measured constraint-propagation blowup) must produce
    IDENTICAL (cluster, dist) to the Column form — same exact int64
    arithmetic, same lowest-index tiebreak."""
    from aws_cloudfront_realtime_monitoring_spark.functions.quantize import (
        qvec,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
        assign_clusters,
        assign_clusters_batches,
        fit_kmeans,
    )
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = emb.select("vec_id", qvec(F.col("embedding")).alias("qv"))
    # deterministic k=16 centroids WITHOUT a Lloyd fit (r18 suite-wall
    # trim): the subject is assignment-form equality, which holds for
    # ANY centroid set — init_centroids gives 16 real data vectors in
    # one top-k job instead of a 4-iteration distributed fit
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
        init_centroids,
    )

    cents = init_centroids(qvecs, 16, vec_col="qv")
    col_form = {r.vec_id: (r.cluster, r.dist)
                for r in assign_clusters(qvecs, cents).collect()}
    batch_form = {r.vec_id: (r.cluster, r.dist)
                  for r in assign_clusters_batches(qvecs, cents).collect()}
    assert col_form == batch_form and len(col_form) > 0
    # duplicate-vector ties must break to the same (lowest) index
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cluster"):
        assign_clusters_batches(
            qvecs.withColumn("cluster", F.lit(1)), cents)


def test_centroid_save_load_roundtrip(fitted, spark, sf_dir, tmp_path):
    """r15: the train-once artifact — saved centroids reload in
    cluster order and reproduce the identical search. Uses the module
    fixture's trained centroids (r18 suite-wall trim: the roundtrip and
    the search equality hold for any trained model; a second
    distributed fit added nothing)."""
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
        load_centroids,
        save_centroids,
    )
    from aws_cloudfront_realtime_monitoring_spark.plans.similarity import (
        ann_topk_trained,
    )

    _, cents, _, _ = fitted
    p = str(tmp_path / "index")
    save_centroids(spark, cents, p)
    loaded = load_centroids(spark, p)
    assert loaded == cents
    a = sorted(map(tuple, ann_topk_trained(
        spark, sf_dir, centroids=cents).collect()))
    b = sorted(map(tuple, ann_topk_trained(
        spark, sf_dir, centroids=loaded).collect()))
    assert a == b and a
    # a corrupted (gapped) relation is refused, not silently relabeled
    import pytest as _pytest
    from pyspark.sql import functions as F

    # drop an INTERIOR cluster: removing the last one would leave a
    # still-dense 0..k-2 sequence and not exercise the gap refusal
    (spark.read.parquet(p).where(F.col("cluster") != 1)
     .write.mode("overwrite").parquet(str(tmp_path / "gapped")))
    with _pytest.raises(ValueError, match="dense"):
        load_centroids(spark, str(tmp_path / "gapped"))


def test_fit_kmeans_sampled_fit_full_assignments(spark):
    """r16 (verdict #4): fit_fraction trains Lloyd on a deterministic
    hash sample but the returned assignments cover the FULL corpus, and
    the sample is reproducible across calls."""
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import fit_kmeans

    df = spark.createDataFrame(
        [(i, [float(i % 7), float((3 * i) % 5)]) for i in range(400)],
        "vec_id long, embedding array<double>")
    c1, a1, _ = fit_kmeans(df, k=3, max_iters=4, fit_fraction=0.5)
    c2, a2, _ = fit_kmeans(df, k=3, max_iters=4, fit_fraction=0.5)
    assert c1 == c2  # deterministic sample -> identical centroids
    assert a1.count() == 400  # full corpus assigned, not the sample
    got = {r.vec_id for r in a1.select("vec_id").collect()}
    assert got == set(range(400))

    import pytest as _pytest
    with _pytest.raises(ValueError, match="fit_fraction"):
        fit_kmeans(df, k=3, fit_fraction=0.0)
    with _pytest.raises(ValueError, match="fit_fraction"):
        fit_kmeans(df, k=3, fit_fraction=1.5)


def test_fit_kmeans_sampled_fit_validates_full_corpus(spark):
    """A ragged vector OUTSIDE the fit sample must still be rejected --
    the full-corpus assignment pass would consume it."""
    import pytest as _pytest

    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import fit_kmeans

    rows = [(i, [float(i), 0.0]) for i in range(200)]
    rows.append((200, [1.0, 2.0, 3.0]))  # ragged
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="inconsistent vector lengths"):
        fit_kmeans(df, k=2, max_iters=2, fit_fraction=0.3)


def test_fit_kmeans_auto_driver_path_matches_distributed(fitted, spark):
    """r17 optimization: fit_fraction='auto' runs the whole Lloyd loop
    driver-side in numpy on the collected bounded sample. On a corpus
    at or under FIT_SAMPLE_TARGET the auto training set IS the full
    corpus, so the driver path must reproduce the distributed
    (fit_fraction=None) loop bit-for-bit: centroids, iteration count,
    and full-corpus assignments. The distributed arm is the module
    ``fitted`` fixture (same corpus, same k, same max_iters) — r18
    suite-wall trim: re-fitting the identical model here doubled the
    most expensive fixture for no extra coverage."""
    emb, c_dist, a_dist_rows, i_dist = fitted
    c_auto, a_auto, i_auto = fit_kmeans(
        emb, k=K, max_iters=MAX_ITERS, fit_fraction="auto")
    assert c_auto == c_dist
    assert i_auto == i_dist
    assert sorted(
        (r.vec_id, r.cluster, r.dist) for r in a_auto.collect()
    ) == sorted((r.vec_id, r.cluster, r.dist) for r in a_dist_rows)


def test_fit_kmeans_auto_sampled_driver_matches_explicit_fraction(spark):
    """When auto derives a fraction < 1 the driver-side loop must train
    on exactly the hash sample the distributed sampled path uses: pin
    auto (sample_target < corpus) against the explicit-fraction
    distributed loop with the same fraction."""
    import aws_cloudfront_realtime_monitoring_spark.operators.kmeans as km

    df = spark.createDataFrame(
        [(i, [float(i % 7), float((3 * i) % 5)]) for i in range(400)],
        "vec_id long, embedding array<double>")
    old_target = km.FIT_SAMPLE_TARGET
    km.FIT_SAMPLE_TARGET = 200
    try:
        c_auto, a_auto, i_auto = fit_kmeans(
            df, k=3, max_iters=4, fit_fraction="auto")
    finally:
        km.FIT_SAMPLE_TARGET = old_target
    c_frac, a_frac, i_frac = fit_kmeans(
        df, k=3, max_iters=4, fit_fraction=200 / 400)
    assert c_auto == c_frac
    assert i_auto == i_frac
    assert a_auto.count() == 400


def test_fit_kmeans_auto_capped_probe_boundary(spark):
    """r17 continuation: the auto fit's capped probe collect serves as
    BOTH the stats pass and the training sample when the corpus fits
    under FIT_SAMPLE_TARGET. Pin the boundary on both sides: at
    n == target the fused single-job path must match the distributed
    full fit bit-for-bit; at n == target + 1 the fallback must match
    the explicit hash-fraction fit the old path would have run."""
    import aws_cloudfront_realtime_monitoring_spark.operators.kmeans as km

    def corpus(n):
        return spark.createDataFrame(
            [(i, [float(i % 11), float((7 * i) % 13)]) for i in range(n)],
            "vec_id long, embedding array<double>")

    old_target = km.FIT_SAMPLE_TARGET
    km.FIT_SAMPLE_TARGET = 150
    try:
        # n == target: fused path, fraction 1.0
        c_auto, _, i_auto = fit_kmeans(
            corpus(150), k=3, max_iters=4, fit_fraction="auto")
        # n == target + 1: fallback agg + hash-sampled collect
        c_auto2, _, i_auto2 = fit_kmeans(
            corpus(151), k=3, max_iters=4, fit_fraction="auto")
    finally:
        km.FIT_SAMPLE_TARGET = old_target
    c_full, _, i_full = fit_kmeans(corpus(150), k=3, max_iters=4)
    assert (c_auto, i_auto) == (c_full, i_full)
    c_frac, _, i_frac = fit_kmeans(
        corpus(151), k=3, max_iters=4, fit_fraction=150 / 151)
    assert (c_auto2, i_auto2) == (c_frac, i_frac)
