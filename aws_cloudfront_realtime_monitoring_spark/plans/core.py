"""Timestream-surface queries (SURVEY.md Tier B) on the ``events`` stream
table -- the driver-provided stand-in for the CloudFront log table
(FIXTURES.md F2 note).

Q1/Q2 reproduce the reference's two documented Timestream queries
(README.md:100-113 and :127-135): time bucketing (``bin``), relative time
filter (``ago``), conditional aggregate over the narrow layout,
``CREATE_TIME_SERIES``, and Grafana macro expansion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timestream import expand_macros
from ..sources.tables import load_table
from . import register


def dsum(col: Column, scale: int = 4) -> Column:
    """Order-independent, engine-exact double sum: round -> DECIMAL
    accumulate -> DOUBLE. Matches ``dsum_sql`` bit-for-bit.

    Only safe when the underlying doubles are already (close to) ``scale``
    decimal values -- for products of columns use :func:`money` terms
    instead, which stay exact end-to-end.
    """
    return F.sum(F.round(col, scale).cast(f"decimal(28,{scale})")).cast("double")


def dsum_sql(expr: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST(ROUND({expr}, {scale}) AS DECIMAL(28,{scale}))) AS DOUBLE)"


def session_cte_sql(keep: str = "user_id, ts", sid: str = "sid") -> str:
    """The flagged/sessions DuckDB CTE body (no leading WITH): per-user
    30-min-gap session ids under the END-INCLUSIVE merge rule (strict
    ``>``: an event exactly ``gap`` after its predecessor MERGES),
    matching Spark's native ``session_window`` and pinned by
    tests/test_session_boundary.py. The ONE spelling behind the
    sessionize / session_window_agg / stream_session_equiv oracles
    (r11 review: three hand copies of a pinned boundary rule meant an
    engine-upgrade fix would have to land three times). ``ts IS NOT
    NULL`` matches session_window's silent drop of null timestamps."""
    return f"""flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      -- (ts, event_id) tiebreak matches the flag window exactly: with
      -- duplicate (user_id, ts) rows an ts-only ORDER BY would make the
      -- ROWS-frame prefix sum nondeterministic across engines
      SELECT {keep},
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS {sid}
      FROM flagged)"""


def money(col: Column | str, prec: int = 14, scale: int = 2) -> Column:
    """Cast a k-decimal-place double (price/discount/tax style) to an exact
    DECIMAL so subsequent arithmetic is engine-exact. Spark and DuckDB agree
    on double->decimal casts for values that are near-exact k-dp decimals;
    they do NOT agree on ROUND() of arbitrary products, which is why products
    must be formed decimal*decimal, never rounded doubles."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def with_now(df: DataFrame, events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Attach the dataset's max timestamp as ``__now`` via a broadcast
    1-row cross join -- the injectable "now" (D5) without a driver-side
    collect; scales as a broadcast, never a shuffle."""
    now = events.agg(F.max(ts_col).alias("__now"))
    return df.crossJoin(F.broadcast(now))


#: shared DuckDB fragment: epoch-aligned 1h bucket as naive TIMESTAMP
_BIN_1H_SQL = "make_timestamp(((CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600) * 1000000)"


def _bin_1h(col: Column) -> Column:
    # the ONE bin spelling lives in functions.timestream (r11 review:
    # this module kept a duplicate that had already missed the r7 pmod
    # fix once; bin_ no longer bakes in an alias, so it is reusable)
    from ..functions.timestream import bin_

    return bin_(col, "1h")


@register(
    "q1_hourly_measure_by_dim",
    oracle=f"""
    WITH now AS (SELECT max(ts) AS now_ts FROM events)
    SELECT {_BIN_1H_SQL} AS binned_time,
           event_type,
           {dsum_sql('value', 2)} AS sum_value,
           COUNT(*) AS n
    FROM events, now
    WHERE ts >= now.now_ts - INTERVAL 24 HOUR
    GROUP BY 1, 2
    """,
    description="Flagship Q1 (README.md:100-113): hourly measure by dimension "
                "over the trailing 24 h. bin(time,1h)+ago(24h)+SUM+GROUP BY.",
    tags=("tier-b", "flagship"),
)
def q1_hourly_measure_by_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        with_now(events, events)
        .where(F.col("ts") >= F.col("__now") - F.expr("INTERVAL 24 HOURS"))
        .groupBy(
            _bin_1h(F.col("ts")).alias("binned_time"),
            F.col("event_type"),
        )
        .agg(dsum(F.col("value"), 2).alias("sum_value"), F.count("*").alias("n"))
        .orderBy("binned_time", "event_type")
    )


@register(
    "q2_create_time_series",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_points,
           string_agg(
             epoch_us(ts)::VARCHAR || ':' || (value::DECIMAL(18,2))::VARCHAR,
             ';' ORDER BY epoch_us(ts), (value::DECIMAL(18,2))::VARCHAR
           ) AS series
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-06 00:00:00'
      AND value IS NOT NULL
    GROUP BY event_type
    """,
    description="Q2 (README.md:127-135): CREATE_TIME_SERIES per dimension -- "
                "time-ascending (time,value) series per group, canonicalized "
                "to a string for engine-portable comparison.",
    tags=("tier-b",),
)
def q2_create_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pair = F.struct(
        F.unix_micros("ts").alias("us"),
        F.col("value").cast("decimal(18,2)").cast("string").alias("val"),
    )
    series = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(pair)),
            lambda x: F.concat_ws(":", x["us"], x["val"]),
        ),
        ";",
    )
    return (
        events.where(
            F.col("ts").between("2024-01-05 00:00:00", "2024-01-06 00:00:00")
            # NULL values diverge cross-engine (concat_ws skips the NULL
            # FIELD; DuckDB's || absorbs the whole element) -- exclude
            # them identically on both sides (r8 review; latent, the
            # fixtures carry no NULL values)
            & F.col("value").isNotNull()
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_points"), series.alias("series"))
    )


#: Grafana panel query template before macro expansion (B9, README.md:127-135)
GRAFANA_TEMPLATE = """
SELECT event_type, COUNT(*) AS n, {sum_sql} AS sum_value
FROM "$__database"."$__table"
WHERE $__timeFilter
GROUP BY event_type
"""


@register(
    "grafana_macro_timeseries",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {dsum_sql('value', 2)} AS sum_value
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY event_type
    """,
    description="Grafana macro expansion (B9): $__table/$__timeFilter template "
                "expanded client-side, then executed as Spark SQL.",
    tags=("tier-b",),
)
def grafana_macro_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    # the memoized registrar, not a bare createOrReplaceTempView: the
    # bare call bypassed (and desynced) the _VIEWS_CURRENT memo every
    # other SQL-API plan shares (r8 review)
    register_views(spark, sf_dir)
    sql = expand_macros(
        GRAFANA_TEMPLATE.format(sum_sql=dsum_sql("value", 2)),
        table="events",
        time_col="ts",
        time_from="2024-01-10 00:00:00",
        time_to="2024-01-20 00:00:00",
    )
    return spark.sql(sql)


@register(
    "q1_narrow_form",
    oracle=f"""
    WITH narrow AS (
      SELECT ts AS time, event_type, 'value' AS measure_name, value AS measure_value
      FROM events
      UNION ALL
      SELECT ts AS time, event_type, 'user_id' AS measure_name, user_id::DOUBLE AS measure_value
      FROM events)
    SELECT make_timestamp(((CAST(floor(epoch(time)) AS BIGINT) // 3600) * 3600) * 1000000)
             AS binned_time,
           event_type,
           {dsum_sql("CASE WHEN measure_name = 'value' THEN measure_value END", 2)}
             AS sum_measure
    FROM narrow
    WHERE measure_name IN ('value')
    GROUP BY 1, 2
    """,
    description="The reference's Q1 in its TRUE narrow form "
                "(README.md:100-113): unpivot to the Timestream layout "
                "(A14), filter measure_name IN (B3), conditional-aggregate "
                "un-pivot SUM(CASE WHEN ...) (B4/B5), bin+group (B1/B6). "
                "Catalyst collapses the melt+filter back to a wide scan -- "
                "the narrow view costs nothing when queried this way. "
                "Demoted in the r8 registry swap (slot went to "
                "stream_stream_join_equiv): the B3 IN-list is also "
                "driver-checked by q1_hourly_measure_by_dim, the A14 "
                "melt + B4/B5 un-pivot by strict_compat_narrow, pivoting "
                "by pivot_status_by_priority; the pytest suite keeps "
                "running this row's own Spark-vs-DuckDB comparison.",
    tags=("tier-b", "narrow"),
    driver_slot=False,
)
def q1_narrow_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    narrow = events.select(
        F.col("ts").alias("time"),
        "event_type",
        F.col("value"),
        F.col("user_id").cast("double").alias("user_id"),
    ).unpivot(
        ids=["time", "event_type"],
        values=["value", "user_id"],
        variableColumnName="measure_name",
        valueColumnName="measure_value",
    )
    epoch = F.unix_timestamp("time")
    return (
        narrow.where(F.col("measure_name").isin("value"))
        .groupBy(
            # pmod: floor semantics for pre-1970 ts (see _bin_1h)
            F.timestamp_seconds(
                epoch - F.pmod(epoch, F.lit(3600))
            ).alias("binned_time"),
            F.col("event_type"),
        )
        .agg(
            dsum(
                F.when(F.col("measure_name") == "value", F.col("measure_value")), 2
            ).alias("sum_measure")
        )
    )


#: event_type -> HTTP status used when synthesizing wire lines (distinct
#: statuses so the parse round-trip produces several groups)
_TYPE_STATUS = {"click": 200, "view": 304, "purchase": 201, "signup": 302, "error": 500}


def _synth_wire_lines(events: DataFrame, ts_int_math: bool = False) -> DataFrame:
    """Synthesize one 40-field tab-delimited CloudFront line per event row
    (pure Catalyst string ops; absent fields render as the ``-`` sentinel).

    ``ts_int_math=True`` renders the timestamp token as ``sec.mmm`` via
    integer truncation (``us div 1000``) instead of ``%.3f`` float
    formatting -- byte-replicable in DuckDB, which float formatting is not
    (engine rounding rules differ at sub-ms ties).

    Built as ONE SQL expression parsed JVM-side (r17 optimization round,
    the parser's r6 ``_typed_token_sql`` precedent): the Column spelling
    cost ~150 py4j round-trips per build -- measured 0.27 s quiet /
    >1 s under load, ~half the flagship roundtrip row's wall -- where
    the single ``selectExpr`` is one. Rendered lines are byte-identical
    (full-corpus old-vs-new equality pinned at both ts modes; the
    DuckDB oracle hashes of the three consuming rows gate every drift).
    """
    from ..schema import CF_FIELDS

    # first-match CASE == the old coalesce(when...) chain: each WHEN arm
    # yields its literal exactly when event_type matches, else '500'
    # (including NULL event_type)
    status = ("CASE " + " ".join(
        f"WHEN `event_type` = '{t}' THEN '{s}'"
        for t, s in _TYPE_STATUS.items()) + " ELSE '500' END")
    if ts_int_math:
        from ..functions.timestream import sec_mmm_sql

        ts_tok = sec_mmm_sql("ts")
    else:
        ts_tok = ("format_string('%.3f', "
                  "CAST(unix_micros(`ts`) AS DOUBLE) / 1000000.0D)")
    bytes_tok = "CAST(CAST(round(`value` * 100, 0) AS BIGINT) AS STRING)"
    # cs-headers payload (A9 wire shape, reference test.json:39-72): URL-
    # encoded newline-delimited K:V block exercising every branch of the
    # reference's header loop (lambda_function.py:40-49) -- a value with a
    # colon (first-colon split only), a space (URL decode), an entry
    # without ':' (skipped), and a trailing empty entry (dropped). The
    # names field (A10) keeps `badentry`: the names parser drops only
    # empties (lambda_function.py:50-52).
    headers_tok = (
        "url_encode(concat('Host:h', CAST(`user_id` AS STRING), "
        f"'.example.com\\nX-B:', {bytes_tok}, "
        "'\\nX-Tag:u:', CAST(`user_id` AS STRING), ' ', `event_type`, "
        "'\\nbadentry\\n'))"
    )
    field_exprs = {
        "timestamp": ts_tok,
        "c-ip": "concat('u', CAST(`user_id` AS STRING))",
        "sc-status": status,
        "sc-bytes": bytes_tok,
        "cs-method": "'GET'",
        "cs-uri-stem": "concat('/e/', CAST(`event_id` AS STRING))",
        "cs-user-agent": "`props`",
        "cs-headers": headers_tok,
        "cs-header-names": "url_encode('Host\\nX-B\\nX-Tag\\nbadentry\\n')",
    }
    # coalesce each field: concat_ws SKIPS null inputs, so a NULL source
    # column would silently DROP its token and left-shift every later
    # field -- the '-' sentinel is the wire contract for absent values
    # (r8 review; latent, the fixtures carry no NULLs)
    dash = "'-'"
    line = "concat_ws('\\t', " + ", ".join(
        f"coalesce({field_exprs.get(name, dash)}, '-')"
        for name, _ in CF_FIELDS
    ) + ")"
    return events.selectExpr(f"{line} AS value")


@register(
    "cf_parse_wire_roundtrip",
    oracle=f"""
    SELECT CAST(CASE event_type
             WHEN 'click' THEN 200 WHEN 'view' THEN 304
             WHEN 'purchase' THEN 201 WHEN 'signup' THEN 302
             ELSE 500 END AS BIGINT) AS sc_status,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_bytes,
           COUNT(DISTINCT 'u' || user_id) AS n_ips,
           CAST(3 * COUNT(*) AS BIGINT) AS n_hdr_entries,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS hdr_sum_bytes,
           MAX('u:' || user_id || ' ' || event_type) AS max_tag_value,
           CAST(4 * COUNT(*) AS BIGINT) AS n_hdr_names,
           'Host,X-B,X-Tag,badentry' AS names_joined
    FROM events GROUP BY 1
    """,
    description="End-to-end wire-format round-trip at scale: synthesize one "
                "40-field tab-delimited CloudFront line per event row "
                "including URL-encoded cs-headers / cs-header-names blocks "
                "(pure Catalyst string ops), parse with the production "
                "parser with parse_headers=True (A4-A12 incl. the A9/A10 "
                "header K/V and names parse: URL decode, newline split, "
                "FIRST-colon-only K/V split, skip-no-colon and drop-empty "
                "rules), aggregate. Header-derived outputs -- entry counts, "
                "a value summed back to bytes, the max colon-and-space-"
                "bearing decoded value string, the joined names list -- are "
                "recomputed by the oracle directly from events, so any "
                "decode/split/positioning drift breaks the hash.",
    tags=("tier-a", "parser"),
)
def cf_parse_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import parse_log_lines

    events = load_table(spark, sf_dir, "events")
    parsed = parse_log_lines(_synth_wire_lines(events), parse_headers=True)
    return parsed.groupBy("sc_status").agg(
        F.count("*").alias("n"),
        F.sum("sc_bytes").alias("sum_bytes"),
        F.count_distinct("c_ip").alias("n_ips"),
        F.sum(F.size("cs_headers")).alias("n_hdr_entries"),
        F.sum(
            F.col("cs_headers").getItem(1).getField("Value").try_cast("bigint")
        ).alias("hdr_sum_bytes"),
        F.max(F.col("cs_headers").getItem(2).getField("Value")).alias(
            "max_tag_value"
        ),
        F.sum(F.size("cs_header_names")).alias("n_hdr_names"),
        F.min(F.array_join("cs_header_names", ",")).alias("names_joined"),
    )


@register(
    "strict_compat_narrow",
    oracle="""
    SELECT CAST(CASE event_type
             WHEN 'click' THEN 200 WHEN 'view' THEN 304
             WHEN 'purchase' THEN 201 WHEN 'signup' THEN 302
             ELSE 500 END AS VARCHAR) AS sc_status,
           'sc_bytes' AS measure_name,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_bytes,
           COUNT(*) AS n_dash_referer,
           COUNT(DISTINCT
             ((epoch_us(ts) // 1000000)::VARCHAR || '.' ||
              lpad(((epoch_us(ts) - (epoch_us(ts) // 1000000) * 1000000)
                    // 1000)::VARCHAR, 3, '0'))) AS n_ts_dims,
           MIN(make_timestamp((epoch_us(ts) // 1000000) * 1000000)) AS min_time,
           MAX(make_timestamp((epoch_us(ts) // 1000000) * 1000000)) AS max_time
    FROM events GROUP BY 1
    """,
    description="Byte-parity strict-compat narrow view, driver-checked: wire "
                "lines (integer-math sec.mmm timestamp tokens) -> production "
                "parser -> to_narrow(strict_compat=True), reproducing the "
                "reference's second-truncated Time (lambda_function.py:"
                "115-116), literal-'-' rendering of absent dimensions "
                "(:85-86), and the stringified timestamp dimension its "
                "all-fields dimension loop carries (:104-108). The oracle "
                "recomputes every aggregate -- truncated seconds, dash "
                "counts, distinct timestamp-dimension strings -- directly "
                "from events, so any parity drift breaks the hash.",
    tags=("tier-a", "narrow", "strict-compat"),
)
def strict_compat_narrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.narrow import to_narrow
    from ..sources import parse_log_lines

    events = load_table(spark, sf_dir, "events")
    parsed = parse_log_lines(_synth_wire_lines(events, ts_int_math=True))
    narrow = to_narrow(parsed, time_col="timestamp", strict_compat=True)
    return narrow.groupBy("sc_status").agg(
        F.min(F.col("measure_name")).alias("measure_name"),
        F.count("*").alias("n"),
        F.sum("measure_value").alias("sum_bytes"),
        F.count(F.when(F.col("cs_referer") == "-", 1)).alias("n_dash_referer"),
        F.count_distinct(F.col("timestamp")).alias("n_ts_dims"),
        F.min("time").alias("min_time"),
        F.max("time").alias("max_time"),
    )
