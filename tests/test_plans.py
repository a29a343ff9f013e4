"""Physical-plan regression tests: the plan SHAPE is part of the contract.

These assert the properties that make the queries scale -- filter pushdown
reaching the parquet scan, dimensions broadcasting, top-k avoiding global
sorts, map-only pipelines staying shuffle-free -- so a refactor that silently
degrades a plan (e.g. loses a broadcast) fails CI, not the 100 TB run.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from aws_cloudfront_realtime_monitoring_spark.plans import load_full

REGISTRY = load_full()


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].build(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    p = plan_of(spark, sf_dir, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p       # predicate reached the scan
    assert "PartialMerge" in p or "HashAggregate" in p
    # column pruning: unused wide columns are not read
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    p = plan_of(spark, sf_dir, "revenue_by_region")
    assert p.count("BroadcastHashJoin") >= 3       # cust/nation/region never shuffle the fact side
    assert "CartesianProduct" not in p


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    p = plan_of(spark, sf_dir, "top_customers")
    assert "TakeOrderedAndProject" in p


def test_map_only_queries_have_no_shuffle(spark, sf_dir):
    for name in ("text_profile", "multimodal_pipeline", "sample_stratified"):
        p = plan_of(spark, sf_dir, name)
        assert "Exchange" not in p, f"{name} shuffles unexpectedly"


def test_ann_bruteforce_broadcasts_probe_set(spark, sf_dir):
    p = plan_of(spark, sf_dir, "ann_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # rank-filter pushdown: per-partition group limit before the shuffle
    assert "WindowGroupLimit" in p


def test_q1_now_is_broadcast_not_collected(spark, sf_dir):
    # injectable "now" = broadcast 1-row aggregate, not a driver collect
    p = plan_of(spark, sf_dir, "q1_hourly_measure_by_dim")
    assert "BroadcastExchange" in p


def test_semi_and_anti_joins_planned_as_such(spark, sf_dir):
    p = plan_of(spark, sf_dir, "semi_anti_membership")
    assert "LeftSemi" in p
    assert "LeftAnti" in p


def test_simhash_banded_no_nested_loop(spark, sf_dir):
    # the pigeonhole banding must plan as an equi-join on (band, bits):
    # no quadratic BroadcastNestedLoopJoin / CartesianProduct pair scan
    p = plan_of(spark, sf_dir, "dedup_simhash")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_blocked_near_dup_is_distributed(spark, sf_dir):
    # the block-partitioned near-dup must not collect the corpus: the plan
    # groups by block pair and applies the matmul in FlatMapGroupsInPandas
    p = plan_of(spark, sf_dir, "embedding_near_dup_blocked")
    assert "FlatMapGroupsInPandas" in p


def test_minhash_no_cartesian(spark, sf_dir):
    p = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert "CartesianProduct" not in p


def test_approx_percentile_within_rank_error(spark, sf_dir):
    """percentile_approx (GK sketch) must land within the declared rank
    error of the exact percentile -- the same verified-approximation
    contract the HLL row carries in-query."""
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    acc = 100  # rank error <= 1/acc = 1%
    row = events.agg(
        F.percentile_approx("value", 0.5, acc).alias("approx"),
        F.count("*").alias("n"),
    ).first()
    values = sorted(r.value for r in events.select("value").collect())
    n = row.n
    # the approx p50 must sit between the exact (0.5 - 1/acc) and
    # (0.5 + 1/acc) rank positions
    lo = values[max(int((0.5 - 1.0 / acc) * n) - 1, 0)]
    hi = values[min(int((0.5 + 1.0 / acc) * n) + 1, n - 1)]
    assert lo <= row.approx <= hi


#: queries whose builders EXECUTE work (iterative loops, and every
#: stream_* equivalence row runs its streaming query inside build()) --
#: explain() would run them end-to-end and then audit only the sink
#: read-back scan; audited by tools/audit_plans.py instead
_EXECUTING = {"dedup_clusters"} | {n for n in REGISTRY if n.startswith("stream_")}
#: accepted BroadcastNestedLoopJoin surfaces:
#: - q1/text_tfidf_topk: a ONE-ROW scalar broadcast
#:   (injectable now() / corpus count) with a non-equi or cross predicate —
#:   effectively a filter, O(n x 1);
#: - ann_topk_bruteforce: the deliberately-broadcast probe set;
#: - string_distance_pairs: bounded ~150-value domain;
#: - unigram_logprob: same ONE-ROW scalar broadcast as text_tfidf_topk
#:   (the total token count attaches to the vocabulary model);
#: - lang_temperature_sample (and curation_pipeline, which embeds it):
#:   ONE-ROW scalar broadcasts attaching the corpus total and the
#:   normalizer Z to the ~10^2-row language histogram;
#: - bm25_topk: the ONE-ROW corpus-stats relation (n_docs, total tokens)
#:   cross-joins into the scoring projection;
#: - curriculum_stages: the <= 3-row quartile-boundary relation joins the
#:   corpus on a non-equi comparison (stage = count of boundaries below);
#: - heavy_hitters: the ONE-ROW stream-length N (recovered from the CMS
#:   relation) cross-joins the K=10 hitters for the in-query bound check;
#: - ann_ivf_recall: embeds ann_topk_bruteforce (its ground-truth side),
#:   inheriting that row's deliberately-broadcast probe set.
_NLJ_OK = {"q1_hourly_measure_by_dim", "text_tfidf_topk",
           "ann_topk_bruteforce", "string_distance_pairs", "unigram_logprob",
           "lang_temperature_sample", "curation_pipeline", "bm25_topk",
           "curriculum_stages", "heavy_hitters", "ann_ivf_recall",
           "semdedup",  # r11: one-row broadcast params (nbits) relation
           # r14: one-row broadcast params (nblocks) relation -- the
           # corpus-scaled block count, COUNT(*) over parquet footers
           "embedding_near_dup_blocked",
           # r12: the ONE-ROW dimension-bounds relation that range-
           # quantizes both z-order dims before the interleave
           "zorder_events_key",
           # r15: the recall audit runs the brute-force ground truth in
           # full (broadcast probes x corpus with the != self predicate
           # -- the same documented shape as ann_topk_bruteforce /
           # ann_ivf_recall); the trained side itself is a broadcast
           # HASH join on the cluster id
           "ann_trained_recall",
           # r17: same shape as ann_trained_recall -- the audit's
           # ground-truth side IS ann_topk_bruteforce; the PQ side is a
           # broadcast HASH join on cluster + a broadcast shortlist join
           "ann_pq_recall",
           # r17: embeds ann_topk_bruteforce as its vector leg (the
           # documented broadcast-probe NLJ); the fusion itself is two
           # broadcast-sized top-k relations full-outer joined
           "hybrid_rrf_retrieval",
           # r16: the same one-row broadcast n_total relation as
           # unigram_logprob, cross-joined onto both fitted models
           "bigram_logprob"}
_ROWUDF_OK = {"udtf_tokenize"}


def test_no_cartesian_or_rowudf_in_any_registry_plan(spark, sf_dir):
    """Fleet-wide plan guard: NO registry query may contain a
    CartesianProduct, and only the allowlisted surfaces may use a
    BroadcastNestedLoopJoin (bounded domains) or a row-Python UDF (the
    UDTF extension-point demo). Protects every operator's scale posture
    against silent plan regressions in one sweep."""
    for name in REGISTRY:
        if name in _EXECUTING:
            continue
        p = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name}: CartesianProduct"
        if name not in _NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{name}: NLJ"
        if name not in _ROWUDF_OK:
            assert "BatchEvalPython" not in p, f"{name}: row-Python UDF"


def test_registry_plan_stats_stay_bounded(spark, sf_dir):
    """Fleet-wide localCheckpoint stats guard (r13 verdict #3): Spark 4's
    ``Dataset.localCheckpoint`` inherits the origin plan's Catalyst
    ``sizeInBytes`` (LogicalRDD.rewriteStatsAndConstraints) -- joins over
    an inflated LogicalRDD multiply the BigInt further, and chained
    barriers compound it hyper-exponentially until the driver stalls
    minutes inside BigInteger multiplies before submitting any job (the
    r13 cc-loop scale-killer, pinned per-loop in test_dedup.py). Eight
    more builders barrier intermediates with a single lazy
    localCheckpoint (dedup/sampling/text/curation); a future refactor
    that chains a second barrier or squares an inflated stat through a
    self-join would regress the same way, so pin EVERY registry row's
    final optimized-plan stat to a sane bit length. A healthy plan's
    sizeInBytes is < 2^200 even with multiplicative join estimates; the
    pre-fix trajectory reached thousands of digits within one loop
    round."""
    for name in REGISTRY:
        if name in _EXECUTING:
            # dedup_clusters' loop is pinned (with the same bound) by
            # test_dedup.py; stream_* builders execute their query and
            # return a parquet read-back whose stats are file-sized
            continue
        df = REGISTRY[name].build(spark, sf_dir)
        bits = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()
        assert bits < 100_000, f"{name}: inherited sizeInBytes has {bits} bits"


def test_session_window_filter_pushdown_hazard(spark):
    """Found by the r14 streaming-state drive (tools/measure_stream_state
    .py): Catalyst pushes a deterministic predicate on a GROUPING
    expression below the Aggregate -- and ``session_window`` is a
    grouping expression, so ``filter(w.end <= X)`` over a session agg
    reaches the scan as ``ts + gap <= X``, dropping merge-PARTNER events
    before sessionization: sessions that should have been extended past
    X (and therefore excluded) come back with their pre-merge bounds as
    phantom rows. No registry plan filters on session_window outputs
    (this test is the guard for the next one that tries); the correct
    spelling is a materialization barrier between the agg and the
    filter. If an engine upgrade stops the pushdown, the first assert
    fails loudly -- delete the hazard note and keep the barrier test."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "2024-01-08 10:00:00"), (1, "2024-01-08 10:20:00")],
        "user_id long, ts_s string",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    agg = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.end").alias("session_end"), "n")
    )
    bound = F.to_timestamp(F.lit("2024-01-08 10:40:00"))
    # the merged session ends 10:50 > 10:40, so the TRUE answer is empty
    naive = agg.where(F.col("session_end") <= bound).collect()
    assert len(naive) == 1 and naive[0].n == 1, (
        "Catalyst no longer pushes the session_end predicate below the "
        "session aggregate -- the hazard this test pins is gone; update "
        "the docs and the measure_stream_state barrier comment")
    # the barrier spelling gives the true (empty) answer
    barriered = (
        agg.localCheckpoint(eager=False)
        .where(F.col("session_end") <= bound).collect()
    )
    assert barriered == []


def test_bin_1h_floors_pre_epoch_timestamps(spark):
    """Java % rounds toward zero, so pre-1970 timestamps would bin UP
    while the DuckDB oracle floors with // -- the r7 bin_ fix applied to
    the _bin_1h duplicate (r8 review)."""
    from pyspark.sql import functions as F

    from aws_cloudfront_realtime_monitoring_spark.plans.core import _bin_1h

    df = spark.sql("SELECT timestamp'1969-12-31 23:58:20' AS ts")
    got = df.select(_bin_1h(F.col("ts")).alias("b")).first().b
    assert str(got) == "1969-12-31 23:00:00"


def test_synth_wire_lines_renders_null_columns_as_sentinel(spark):
    """concat_ws SKIPS null inputs: a NULL source column must render the
    '-' sentinel instead of silently dropping its token and left-shifting
    every later field (r8 review)."""
    from aws_cloudfront_realtime_monitoring_spark.plans.core import _synth_wire_lines
    from aws_cloudfront_realtime_monitoring_spark.schema import CF_FIELDS

    df = spark.sql("""
        SELECT CAST(1 AS BIGINT) AS event_id,
               timestamp'2024-01-02 03:04:05' AS ts,
               CAST(NULL AS BIGINT) AS user_id,
               'click' AS event_type,
               CAST(NULL AS DOUBLE) AS value,
               CAST(NULL AS STRING) AS props
    """)
    line = _synth_wire_lines(df).first().value
    toks = line.split("\t")
    assert len(toks) == len(CF_FIELDS), toks
    # cs-user-agent (props) renders the sentinel, not a dropped token
    names = [n for n, _ in CF_FIELDS]
    assert toks[names.index("cs-user-agent")] == "-"
