"""Z-order layout: key correctness (decode roundtrip vs Spark) and the
pruning property the layout exists for (per-partition spans tighten on the
SECOND dimension versus a time-only sort)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_cloudfront_realtime_monitoring_spark.operators.zorder import (
    zorder_decode,
    zorder_key_sql,
    zorder_layout,
)


def test_zorder_key_decodes_back_to_inputs(spark):
    df = spark.range(0, 2000).select(
        (F.col("id") * 7919 % 65536).alias("a"),
        (F.col("id") * 104729 % 65536).alias("b"),
    )
    rows = df.select("a", "b", F.expr(zorder_key_sql("a", "b")).alias("z")).collect()
    for r in rows:
        assert zorder_decode(r.z) == (r.a, r.b)


def test_zorder_key_orders_locality(spark):
    """Morton keys of nearby (a, b) points stay near: the max key within a
    small tile is bounded by the tile's enclosing power-of-2 square."""
    pts = [(a, b) for a in range(8) for b in range(8)]
    df = spark.createDataFrame(pts, ["a", "b"])
    rows = df.select(F.expr(zorder_key_sql("a", "b")).alias("z")).collect()
    zs = sorted(r.z for r in rows)
    assert zs == list(range(64))  # an 8x8 tile fills exactly [0, 64)


def test_zorder_layout_tightens_second_dimension(spark):
    """After zorder_layout on two equal-width dimensions, the summed
    per-partition span of the SECOND dimension is materially smaller than
    under a first-dimension-only sort -- the min/max pruning win the
    layout exists for. (Uniform synthetic dims: Z-order assumes the
    quantized dimensions have comparable bit-widths, which is why
    production ZORDER BY rank-quantizes columns first.)"""
    df = spark.range(0, 4000).select(
        (F.col("id") * 7919 % 65536).cast("long").alias("a"),
        (F.col("id") * 104729 % 65536).cast("long").alias("b"),
    )
    n_parts = 8

    def span_sum(laid_out):
        spans = (
            laid_out.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg((F.max("b") - F.min("b")).alias("span"))
            .collect()
        )
        assert len(spans) == n_parts
        return sum(r.span for r in spans)

    a_sorted = df.repartitionByRange(n_parts, "a").sortWithinPartitions("a")
    z_sorted = zorder_layout(df, F.col("a"), F.col("b"), partitions=n_parts)
    a_span, z_span = span_sum(a_sorted), span_sum(z_sorted)
    # a-only layout leaves every partition spanning ~the full b range; the
    # Morton layout's top 3 partition bits split b into quarters
    assert z_span * 2 <= a_span, (z_span, a_span)


def test_zorder_key_integer_columns_no_overflow(spark):
    """Regression (r7 code review): a shift keeps the input type, so
    INT columns overflowed at bit 15 (1 << 31 = INT_MIN) and produced
    negative Morton keys. The cast-to-BIGINT guard must make INT and
    LONG inputs agree, and keys must stay non-negative and invertible."""
    rows = [(0, 32768), (32768, 0), (65535, 65535), (12345, 54321)]
    got = {}
    for typ in ("INT", "LONG"):
        spark.createDataFrame(rows, f"a {typ}, b {typ}") \
            .createOrReplaceTempView(f"zo_{typ}")
        got[typ] = [
            r.z for r in spark.sql(
                f"SELECT CAST({zorder_key_sql('a', 'b')} AS BIGINT) AS z "
                f"FROM zo_{typ}"
            ).collect()
        ]
    assert got["INT"] == got["LONG"]
    for (a, b), z in zip(rows, got["INT"]):
        assert z >= 0
        assert zorder_decode(z) == (a, b)


def test_zorder_layout_wide_domains_still_prune(spark):
    """Dimensions wider than 2^16 (hours-since-epoch is ~490k; ids
    outgrow 65535 at scale) must STILL produce tight per-partition
    spans: the r12 range quantization fixed the low-bit mask that made
    v and v+65536 interleave identically, which left every partition
    spanning nearly the full domain."""
    base_a, base_b = 490_000, 1_000_000
    df = spark.range(0, 4000).select(
        (F.col("id") * 7919 % 262144 + base_a).cast("long").alias("a"),
        (F.col("id") * 104729 % 262144 + base_b).cast("long").alias("b"),
    )
    n_parts = 8

    def span_sum(laid_out):
        spans = (
            laid_out.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg((F.max("b") - F.min("b")).alias("span"))
            .collect()
        )
        return sum(r.span for r in spans)

    a_sorted = df.repartitionByRange(n_parts, "a").sortWithinPartitions("a")
    z_sorted = zorder_layout(df, F.col("a"), F.col("b"), partitions=n_parts)
    a_span, z_span = span_sum(a_sorted), span_sum(z_sorted)
    assert z_span * 2 <= a_span, (z_span, a_span)


def test_zorder_quantize_monotone_and_exact(spark):
    from aws_cloudfront_realtime_monitoring_spark.operators.zorder import (
        zorder_quantize_sql,
    )

    lo = 490_000
    hi = lo + 999 * 317  # bounds COVER the data (they come from min/max)
    df = spark.range(0, 1000).select(
        (F.col("id") * 317 + lo).cast("long").alias("v")
    )
    q = F.expr(zorder_quantize_sql("v", str(lo), str(hi), "spark"))
    rows = df.select("v", q.alias("q")).orderBy("v").collect()
    qs = [r.q for r in rows]
    assert all(0 <= q <= 65535 for q in qs)
    assert qs == sorted(qs)  # monotone
    # exact integer division semantics
    span = hi - lo
    assert all(q == (r.v - lo) * 65535 // span for q, r in zip(qs, rows))


def test_zorder_layout_guards(spark):
    # every hidden column the layout adds is refused on input, or the
    # final drop would erase the caller's column
    for hidden in ("__z", "__za", "__zb"):
        df = spark.range(5).select(
            F.col("id").alias("a"), F.col("id").alias("b"),
            F.lit(1).alias(hidden),
        )
        with pytest.raises(ValueError, match=f"{hidden} column"):
            zorder_layout(df, F.col("a"), F.col("b"))


def test_zorder_layout_one_null_dimension_keeps_other_tight(spark):
    """r13 review: the joint empty-input branch zeroed BOTH dimensions'
    bounds when only ONE was all-NULL, quantizing the live dimension
    with vmin=vmax=0 (q = v*65535, past the interleave space) -- the
    exact aliasing the r12 range quantization exists to prevent. An
    all-NULL dimension must degrade to a clean sort on the other."""
    from aws_cloudfront_realtime_monitoring_spark.operators.zorder import zorder_layout

    n = 1000
    df = spark.range(n).select(
        (F.col("id") * 491).alias("a"),  # wide dimension, ~490k span
        F.lit(None).cast("long").alias("b"),
    )
    out = zorder_layout(df, F.col("a"), F.col("b"), partitions=4)
    # each output partition must hold a CONTIGUOUS, non-overlapping `a`
    # range (what tight per-file min/max means); pre-fix the aliasing
    # interleaved the partitions' ranges
    parts = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").agg(F.min("a").alias("lo"), F.max("a").alias("hi"),
                            F.count("*").alias("cnt"))
        .orderBy("lo")
        .collect()
    )
    assert sum(p.cnt for p in parts) == n
    # r14 advice: pre-coalesce, the all-NULL dimension NULLed every __z
    # and ALL rows landed in ONE range partition, making the pairwise
    # overlap loop below pass vacuously -- require real spread
    assert len(parts) > 1, "all rows collapsed into one range partition"
    for prev, cur in zip(parts, parts[1:]):
        assert prev.hi < cur.lo, (
            f"overlapping ranges: {[(p.lo, p.hi) for p in parts]}")


def test_zorder_layout_rejects_non_integer_dimension(spark):
    """r13 review: a timestamp dimension used to die with an opaque
    int(datetime) TypeError deep inside zorder_quantize AFTER the stats
    job ran; the contract (cast to epoch units first) now surfaces."""
    from datetime import datetime

    import pytest as _pytest

    from aws_cloudfront_realtime_monitoring_spark.operators.zorder import zorder_layout

    df = spark.createDataFrame(
        [(datetime(2024, 1, 8), 1)], "ts timestamp, uid long")
    with _pytest.raises(TypeError, match="integer-typed"):
        zorder_layout(df, F.col("ts"), F.col("uid"))
