"""k-means / trained-centroid IVF: exact numpy replication + invariants.

operators/kmeans.py has one kernel: ``nearest`` (the exact int64
distance expansion, lowest index on ties) and ``lloyd_update`` (the
half-away-from-zero integer mean). The driver-side loop (``lloyd``, any
training set of at most FIT_SAMPLE_TARGET rows) and the distributed loop
(larger ones; the tests force it by patching FIT_SAMPLE_TARGET down)
both run it, so an independent numpy implementation of the algorithm
must produce IDENTICAL centroids and assignments from either loop: a
bit-exact oracle for an iterative algorithm (no tolerance, no flakiness).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

import aws_cloudfront_realtime_monitoring_spark.operators.kmeans as km
from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
    QUANT,
    fit_kmeans,
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
    """The distributed loop's fit: a training-set cap below the corpus
    size sends the full-corpus fit past the driver-side loop."""
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(km, "FIT_SAMPLE_TARGET", 100)
        centroids, assignments, n_iters = fit_kmeans(
            emb, k=K, max_iters=MAX_ITERS)
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
    """With nprobe=1 the trained IVF search's candidates all share the
    probe's cluster, ranked by exact cosine with the cand_id tiebreak:
    ids and cos6 verified against a brute-force rescan restricted to
    the same inverted list."""
    from aws_cloudfront_realtime_monitoring_spark.plans.similarity import (
        N_QUERIES,
        ann_topk_trained,
    )

    emb, centroids, assign_rows, _ = fitted
    out = ann_topk_trained(spark, sf_dir, centroids=centroids, nprobe=1,
                           top_k=5).collect()
    cluster = {r.vec_id: r.cluster for r in assign_rows}
    vec = {r.vec_id: np.array(r.qv, dtype=np.int64) for r in emb.select(
        "vec_id", quantize(F.col("embedding")).alias("qv")).collect()}
    by_probe: dict[int, list] = {}
    for r in out:
        by_probe.setdefault(r.query_id, []).append(r)
    assert sorted(by_probe) == list(range(N_QUERIES))
    for p_id, rows in by_probe.items():
        rows.sort(key=lambda r: r.rnk)
        p = vec[p_id]
        # exact expected list: same cluster, ranked by the engine's
        # cosine op order (dot / sqrt(|p|^2) / sqrt(|c|^2))
        cand = [
            (float(p @ v) / np.sqrt(float(p @ p)) / np.sqrt(float(v @ v)),
             cid)
            for cid, v in vec.items()
            if cluster[cid] == cluster[p_id] and cid != p_id
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        expect = [(cid, np.floor(cos * 1e6 + 0.5) / 1e6)
                  for cos, cid in cand[:5]]
        assert [(r.cand_id, r.cos6) for r in rows] == expect


def test_fit_kmeans_rejects_ragged_vectors(spark):
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import fit_kmeans

    df = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3, 0.4]), (2, [0.5, 0.6])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    with pytest.raises(ValueError, match="inconsistent vector lengths"):
        fit_kmeans(df, k=1)


def test_assign_clusters_rejects_colliding_columns(spark):
    """r13 review: feeding a prior assignment output back in created
    duplicate cluster/dist columns and AMBIGUOUS_REFERENCE downstream."""
    import pytest as _pytest

    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
        assign_clusters_batches,
    )

    df = spark.createDataFrame([(1, [1, 2])], "vec_id long, qv array<bigint>")
    once = assign_clusters_batches(df, [[0, 0]])
    assert set(once.columns) == {"vec_id", "qv", "cluster", "dist"}
    with _pytest.raises(ValueError, match="cluster"):
        assign_clusters_batches(once, [[0, 0]])


def test_assign_clusters_backtick_column_names(spark):
    """Column names holding a backtick (which mapInPandas cannot resolve
    by name) come back unchanged, the vector column included, with the
    same assignment as plain names."""
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
        assign_clusters_batches,
    )

    rows = [(1, [1, 2]), (2, [9, 9]), (3, [5, 5])]
    cents = [[0, 0], [10, 10]]
    plain = assign_clusters_batches(
        spark.createDataFrame(rows, "vec_id long, qv array<bigint>"), cents)
    odd = assign_clusters_batches(
        spark.createDataFrame(rows, "`i``d` long, `q``v` array<bigint>"),
        cents, vec_col="q`v")
    assert odd.columns == ["i`d", "q`v", "cluster", "dist"]
    assert sorted(map(tuple, odd.collect())) == \
        sorted(map(tuple, plain.collect()))


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


def test_trained_quantizer_rescues_skewed_sign_buckets(spark, tmp_path):
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
    first attempt measured recall 0.675 from exactly that). The search
    is ann_topk_trained over the corpus written as a table, one probed
    list per probe; its probes are vec_id < N_QUERIES, and blob
    membership is round-robin by id so they spread over the blobs."""
    from aws_cloudfront_realtime_monitoring_spark.functions.hashing import h60
    from aws_cloudfront_realtime_monitoring_spark.functions.quantize import qvec
    from aws_cloudfront_realtime_monitoring_spark.plans.similarity import (
        IVF_BITS,
        N_QUERIES,
        ann_topk_trained,
    )

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
    membership = np.arange(n) % k
    for j, sid in enumerate(sorted(seeds)):
        if membership[sid] != j:
            for t in range(n):
                if membership[t] == j and t not in seeds:
                    membership[sid], membership[t] = j, membership[sid]
                    break
    assert sorted(membership[s] for s in seeds) == list(range(k))

    centers = rng.normal(0.0, 1.0, (k, dim))
    centers[:, :IVF_BITS] = np.abs(centers[:, :IVF_BITS]) + 1.0
    # EQUAL-norm centers: the search assigns by euclidean distance but
    # ranks by cosine, so unequal blob norms would make a weak blob's
    # true nearest neighbors live in a strong blob -- a metric
    # mismatch, not a quantizer property (the first draft measured
    # recall 0.8 from exactly that)
    centers = centers / np.linalg.norm(centers, axis=1, keepdims=True) * 20.0
    pts = centers[membership] + rng.normal(0.0, 0.3, (n, dim))
    # the construction's premise, asserted: every vector is positive in
    # the first IVF_BITS dims -> ONE sign bucket holds 100% of the mass
    assert (pts[:, :IVF_BITS] > 0).all()

    spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    emb = load_table(spark, str(tmp_path), "embeddings")
    centroids, assignments, _ = fit_kmeans(emb, k=k)
    sizes = [r["n"] for r in assignments.groupBy("cluster")
             .agg(F.count("*").alias("n")).collect()]
    # balanced inverted lists: no trained cluster holds more than 30%
    # of the corpus (vs the sign quantizer's 100%-in-one-bucket)
    assert max(sizes) / n < 0.30, sizes

    qv = np.array([r.qv for r in emb.select("vec_id", qvec().alias("qv"))
                   .orderBy("vec_id").collect()], dtype=np.int64)
    probe_ids = list(range(N_QUERIES))
    # exact brute-force top-5 on the same quantized ints, by the
    # engine's cosine op order and (-cos, id) tie rule
    want = {}
    for pid in probe_ids:
        cos = (qv @ qv[pid]).astype(np.float64) / np.sqrt(
            float(qv[pid] @ qv[pid])) / np.sqrt(
            np.einsum("ij,ij->i", qv, qv).astype(np.float64))
        order = sorted((-c, i) for i, c in enumerate(cos) if i != pid)
        want[pid] = {i for _, i in order[:5]}

    got: dict[int, set] = {}
    for r in ann_topk_trained(spark, str(tmp_path), centroids=centroids,
                              nprobe=1, top_k=5).collect():
        got.setdefault(r.query_id, set()).add(r.cand_id)
    hits = sum(len(got.get(p, set()) & want[p]) for p in probe_ids)
    recall = hits / (5 * len(probe_ids))
    # blob-aligned centroids on well-separated blobs: no misses
    assert recall == 1.0, (
        recall, {p: sorted(got.get(p, set())) for p in probe_ids})


def test_assign_clusters_batches_matches_numpy_replica(spark, sf_dir):
    """The Arrow-batch assignment (kmeans.nearest per batch) gives the
    (cluster, dist) of an independent numpy replica, sum((x - c)^2) and
    a first-minimum argmin, on a centroid set with duplicate rows, so
    every vector has a tie and the lowest index must win it."""
    from aws_cloudfront_realtime_monitoring_spark.functions.quantize import (
        qvec,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.kmeans import (
        assign_clusters_batches,
        init_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = emb.select("vec_id", qvec(F.col("embedding")).alias("qv"))
    # deterministic centroids WITHOUT a Lloyd fit: the subject is the
    # assignment, which must hold for ANY centroid set -- 16 real data
    # vectors from one top-k job, each listed twice
    cents = init_centroids(qvecs, 16, vec_col="qv")
    cents = [c for c in cents for _ in range(2)]
    got = {r.vec_id: (r.cluster, r.dist)
           for r in assign_clusters_batches(qvecs, cents).collect()}
    rows = qvecs.collect()
    x = np.array([r.qv for r in rows], dtype=np.int64)
    d = ((x[:, None, :] - np.array(cents, dtype=np.int64)[None]) ** 2).sum(2)
    cl = d.argmin(axis=1)
    assert got == {r.vec_id: (int(cl[i]), int(d[i, cl[i]]))
                   for i, r in enumerate(rows)}
    assert all(c % 2 == 0 for c, _ in got.values())
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
    corpus, so the driver path must reproduce the distributed loop
    bit-for-bit: centroids, iteration count, and full-corpus
    assignments. The distributed arm is the module ``fitted`` fixture
    (same corpus, same k, same max_iters, a lowered cap) — r18
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
    df = spark.createDataFrame(
        [(i, [float(i % 7), float((3 * i) % 5)]) for i in range(400)],
        "vec_id long, embedding array<double>")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(km, "FIT_SAMPLE_TARGET", 200)
        c_auto, a_auto, i_auto = fit_kmeans(
            df, k=3, max_iters=4, fit_fraction="auto")
        # the explicit fraction's ~200-row sample runs the distributed
        # loop under a 100-row cap
        mp.setattr(km, "FIT_SAMPLE_TARGET", 100)
        c_frac, a_frac, i_frac = fit_kmeans(
            df, k=3, max_iters=4, fit_fraction=200 / 400)
    assert c_auto == c_frac
    assert i_auto == i_frac
    assert a_auto.count() == 400


def test_fit_kmeans_auto_capped_probe_boundary(spark, monkeypatch):
    """The capped collect (FIT_SAMPLE_TARGET + 1 rows) decides the loop.
    Pin the boundary on both sides for "auto" and for the full-corpus
    ``None``: at n == target both run driver-side on the collected
    rows and match the fit under the default cap; at n == target + 1
    "auto" falls back to the hash-sampled collect and matches the
    explicit-fraction fit, and ``None`` runs the distributed loop and
    matches the driver-side fit of the same corpus bit for bit."""
    def corpus(n):
        return spark.createDataFrame(
            [(i, [float(i % 11), float((7 * i) % 13)]) for i in range(n)],
            "vec_id long, embedding array<double>")

    distributed = []
    loop = km._lloyd_distributed
    monkeypatch.setattr(km, "_lloyd_distributed",
                        lambda *a: distributed.append(1) or loop(*a))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(km, "FIT_SAMPLE_TARGET", 150)
        # n == target: one collect, fraction 1.0
        c_auto, _, i_auto = fit_kmeans(
            corpus(150), k=3, max_iters=4, fit_fraction="auto")
        c_none, _, i_none = fit_kmeans(corpus(150), k=3, max_iters=4)
        assert not distributed
        # n == target + 1: auto's agg + hash-sampled collect, and the
        # distributed loop for the full corpus
        c_auto2, _, i_auto2 = fit_kmeans(
            corpus(151), k=3, max_iters=4, fit_fraction="auto")
        assert not distributed
        c_none2, a_none2, i_none2 = fit_kmeans(corpus(151), k=3, max_iters=4)
        assert distributed == [1]
    c_full, _, i_full = fit_kmeans(corpus(150), k=3, max_iters=4)
    assert (c_auto, i_auto) == (c_none, i_none) == (c_full, i_full)
    c_full2, a_full2, i_full2 = fit_kmeans(corpus(151), k=3, max_iters=4)
    assert distributed == [1]
    assert (c_none2, i_none2) == (c_full2, i_full2)
    assert sorted(map(tuple, a_none2.collect())) == sorted(
        map(tuple, a_full2.collect()))
    c_frac, _, i_frac = fit_kmeans(
        corpus(151), k=3, max_iters=4, fit_fraction=150 / 151)
    assert (c_auto2, i_auto2) == (c_frac, i_frac)
