"""Unit tests for the Timestream SQL sugar (bin/ago/create_time_series/
macro expansion) -- SURVEY.md B1/B2/B8/B9."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_cloudfront_realtime_monitoring_spark.functions.timestream import (
    ago,
    bin_,
    create_time_series,
    expand_macros,
)


def test_bin_epoch_aligned(spark):
    df = spark.sql(
        "SELECT timestamp'2020-10-14 03:38:58.145' AS t"
    ).select(
        bin_("t", "1h").alias("h"),
        bin_("t", "15m").alias("q"),
        bin_("t", "1d").alias("d"),
    )
    r = df.collect()[0]
    assert r.h.isoformat() == "2020-10-14T03:00:00"
    assert r.q.isoformat() == "2020-10-14T03:30:00"
    assert r.d.isoformat() == "2020-10-14T00:00:00"


def test_bin_rejects_garbage():
    with pytest.raises(ValueError):
        bin_("t", "1 fortnight")


def test_ago_injectable_now(spark):
    df = spark.range(1).select(ago("24h", now="2020-10-14 06:00:00").alias("cut"))
    assert df.collect()[0].cut.isoformat() == "2020-10-13T06:00:00"


def test_ago_defaults_to_current_timestamp(spark):
    """The default cutoff is the query's own start time minus the
    interval, exactly, on every row of every partition."""
    same, rows = (
        spark.range(0, 1000, 1, 4)
        .select(ago("1h").alias("c"),
                (F.current_timestamp() - F.expr("INTERVAL 1 HOUR")).alias("n"))
        .agg(F.count(F.when(F.col("c") == F.col("n"), 1)), F.count(F.lit(1)))
        .collect()[0]
    )
    assert (same, rows) == (1000, 1000)


def test_create_time_series_orders_by_time(spark):
    df = spark.createDataFrame(
        [("a", "2020-01-01 02:00:00", 2), ("a", "2020-01-01 01:00:00", 1)],
        "k string, t string, v long",
    ).select("k", F.col("t").cast("timestamp").alias("t"), "v")
    out = df.groupBy("k").agg(create_time_series("t", "v").alias("s")).collect()[0]
    assert [p.value for p in out.s] == [1, 2]


def test_expand_macros():
    sql = expand_macros(
        'SELECT x FROM "$__database"."$__table" WHERE $__timeFilter '
        "AND m = $__measure",
        table="events",
        measure="sc_bytes",
        time_col="ts",
        time_from="2024-01-01 00:00:00",
        time_to="2024-01-02 00:00:00",
    )
    assert "FROM events" in sql
    assert "ts BETWEEN timestamp '2024-01-01 00:00:00'" in sql
    assert "m = 'sc_bytes'" in sql
    with pytest.raises(ValueError):
        expand_macros("SELECT 1 WHERE $__timeFilter")


def test_expand_macros_preserves_quoted_string_literals():
    """The quoted macro forms resolve BEFORE substitution, so a user's
    double-quoted literal that happens to equal the table name must
    survive untouched (a global post-hoc quote strip corrupted it)."""
    from aws_cloudfront_realtime_monitoring_spark.functions.timestream import (
        expand_macros,
    )

    out = expand_macros(
        'SELECT * FROM "$__database"."$__table" WHERE kind = "events"',
        table="events",
    )
    assert 'FROM events' in out
    assert '"events"' in out  # the literal predicate survives
    out2 = expand_macros(
        'SELECT * FROM "$__database"."$__table"', database="db", table="t"
    )
    assert "FROM db.t" in out2


def test_ago_naive_datetime_matches_string_form(spark):
    """A naive datetime 'now' must take the UTC session-timezone path,
    not the host timezone (r12 review: py4j's DatetimeConverter goes
    through time.mktime, which produced a 4 h divergence between the
    datetime and string forms under TZ=America/New_York)."""
    from datetime import datetime, timezone

    from aws_cloudfront_realtime_monitoring_spark.functions.timestream import ago

    row = spark.range(1).select(
        ago("24h", now=datetime(2020, 10, 14, 6)).alias("dt_form"),
        ago("24h", now="2020-10-14 06:00:00").alias("str_form"),
        ago("24h", now=datetime(2020, 10, 14, 6,
                                tzinfo=timezone.utc)).alias("aware"),
    ).head()
    assert row.dt_form == row.str_form == row.aware


def test_expand_macros_quoted_forms_parse(spark):
    """The quoted standalone database form and a pre-quoted measure
    macro must both expand to parseable SQL (r12 review: '\"db\"' in
    FROM position was a string literal, ''sc_bytes'' a parse error)."""
    from aws_cloudfront_realtime_monitoring_spark.functions.timestream import (
        expand_macros,
    )

    got = expand_macros('SELECT * FROM "$__database".events',
                        database="db", table="t")
    assert got == "SELECT * FROM db.events"
    got = expand_macros('SELECT * FROM "$__database".events',
                        database="", table="t")
    assert got == "SELECT * FROM events"
    got = expand_macros("SELECT 1 WHERE m = '$__measure'",
                        measure="sc_bytes")
    assert got == "SELECT 1 WHERE m = 'sc_bytes'"
    got = expand_macros("SELECT 1 WHERE m = $__measure",
                        measure="sc_bytes")
    assert got == "SELECT 1 WHERE m = 'sc_bytes'"
