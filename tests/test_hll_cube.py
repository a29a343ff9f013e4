"""HLL distinct-count cube: range estimates from unioned per-hour sketches
must match exact distinct counts within the sketch's error contract, and
re-aggregated (daily) cubes must answer like the hourly cube they roll up."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from aws_cloudfront_realtime_monitoring_spark.operators.hll_cube import (
    DEFAULT_LG_K,
    hourly_distinct_cube,
    range_distinct,
    reaggregate,
)

#: HLL relative standard error for lg_k registers
RSD = 1.04 / math.sqrt(2**DEFAULT_LG_K)


def _exact_distinct(events, start=None, end=None):
    cond = F.lit(True)
    if start is not None:
        cond = cond & (F.date_trunc("hour", "ts") >= F.lit(start))
    if end is not None:
        cond = cond & (F.date_trunc("hour", "ts") <= F.lit(end))
    return events.where(cond).select("user_id").distinct().count()


def test_cube_range_estimates_within_contract(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cube = hourly_distinct_cube(events, "ts", "user_id").cache()
    try:
        # cube size == hour-bucket count: bounded state, not data volume
        n_hours = events.select(F.date_trunc("hour", "ts")).distinct().count()
        assert cube.count() == n_hours

        # whole-range union vs exact (5-sigma, the registry HLL contract)
        [whole] = range_distinct(cube).collect()
        exact_all = _exact_distinct(events)
        assert abs(whole.n_distinct - exact_all) <= max(5 * RSD * exact_all, 1)
        assert whole.n_rows == events.count()

        # a sub-range: pick the middle third of the hour buckets
        hours = sorted(
            r[0] for r in cube.select("bucket_start").collect()
        )
        start, end = hours[len(hours) // 3], hours[2 * len(hours) // 3]
        [sub] = range_distinct(cube, start, end).collect()
        exact_sub = _exact_distinct(events, start, end)
        assert abs(sub.n_distinct - exact_sub) <= max(5 * RSD * exact_sub, 1)

        # empty range degrades to zero rows, not an error
        [none] = range_distinct(cube, end, start).collect()
        assert none.n_rows == 0
    finally:
        cube.unpersist()


def test_daily_reaggregation_matches_hourly(spark, sf_dir):
    """hour -> day rollup is a sketch union: the daily cube's whole-range
    answer must EQUAL the hourly cube's (same sketch state, just
    pre-merged), and per-day estimates must satisfy the exact-count
    contract."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    hourly = hourly_distinct_cube(events, "ts", "user_id").cache()
    try:
        daily = reaggregate(hourly, F.date_trunc("day", "bucket_start"))
        n_days = events.select(F.date_trunc("day", "ts")).distinct().count()
        assert daily.count() == n_days

        [h] = range_distinct(hourly).collect()
        [d] = range_distinct(daily).collect()
        assert h.n_distinct == d.n_distinct
        assert h.n_rows == d.n_rows

        day_rows = daily.select(
            "bucket_start",
            F.hll_sketch_estimate("sketch").alias("est"),
        ).collect()
        for r in day_rows:
            exact = (
                events.where(F.date_trunc("day", "ts") == F.lit(r.bucket_start))
                .select("user_id")
                .distinct()
                .count()
            )
            assert abs(r.est - exact) <= max(5 * RSD * exact, 1), r.bucket_start
    finally:
        hourly.unpersist()


def test_streaming_cube_equals_batch(spark, sf_dir):
    """The cube built by a real Structured Streaming query must estimate
    identically to the batch cube: HLL register state depends only on the
    SET of hashed inputs (order- and duplicate-insensitive), so per-bucket
    estimates are exactly equal — the streaming ingest can maintain the
    dashboard cube incrementally with no drift from the batch answer."""
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import (
        stream_dir,
    )
    from aws_cloudfront_realtime_monitoring_spark.streaming import (
        drain_to_parquet,
    )

    path = stream_dir(spark, sf_dir, "events")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    agg = (
        stream.groupBy(F.date_trunc("hour", "ts").alias("bucket_start"))
        .agg(F.hll_sketch_agg("user_id", F.lit(DEFAULT_LG_K)).alias("sketch"))
        .select(
            "bucket_start", F.hll_sketch_estimate("sketch").alias("est")
        )
    )
    got = {
        r.bucket_start: r.est
        for r in drain_to_parquet(agg, "complete").collect()
    }

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = hourly_distinct_cube(events, "ts", "user_id")
    want = {
        r.bucket_start: r.est
        for r in batch.select(
            "bucket_start", F.hll_sketch_estimate("sketch").alias("est")
        ).collect()
    }
    assert got == want and len(got) > 0


def test_range_distinct_datetime_bounds_match_string_bounds(spark):
    """r13 review: range_distinct passed datetime bounds through plain
    F.lit -- py4j's host-timezone path -- while strings parse in the UTC
    session tz (the r12 ago() class). Both forms must select the same
    buckets; ts_lit owns the rendering."""
    from datetime import datetime, timezone

    from aws_cloudfront_realtime_monitoring_spark.operators.hll_cube import (
        hourly_distinct_cube,
        range_distinct,
    )

    rows = [(datetime(2024, 1, 8, h, 30), h) for h in range(6)]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    cube = hourly_distinct_cube(df, "ts", "user_id")
    want = range_distinct(
        cube, "2024-01-08 01:00:00", "2024-01-08 03:00:00"
    ).head()
    got_dt = range_distinct(
        cube, datetime(2024, 1, 8, 1), datetime(2024, 1, 8, 3)
    ).head()
    got_aware = range_distinct(
        cube,
        datetime(2024, 1, 8, 1, tzinfo=timezone.utc),
        datetime(2024, 1, 8, 3, tzinfo=timezone.utc),
    ).head()
    assert want == got_dt == got_aware
    assert want.n_distinct == 3 and want.n_rows == 3


def test_cube_drops_null_timestamp_rows(spark):
    """r13 review: NULL-ts rows used to land in a NULL bucket that
    bounded range queries silently exclude but unbounded ones include --
    two 'whole range' queries disagreeing with no error. The cube now
    drops them at build (the session_window rule)."""
    from datetime import datetime

    from aws_cloudfront_realtime_monitoring_spark.operators.hll_cube import (
        hourly_distinct_cube,
        range_distinct,
    )

    rows = [(datetime(2024, 1, 8, 1), 1), (datetime(2024, 1, 8, 2), 2),
            (None, 3), (None, 4)]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    cube = hourly_distinct_cube(df, "ts", "user_id")
    assert cube.where(F.col("bucket_start").isNull()).count() == 0
    unbounded = range_distinct(cube).head()
    bounded = range_distinct(cube, "2024-01-01", "2024-12-31").head()
    assert unbounded == bounded
    assert unbounded.n_distinct == 2 and unbounded.n_rows == 2
