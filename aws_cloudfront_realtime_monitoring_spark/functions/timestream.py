"""Timestream SQL sugar re-expressed as Catalyst expressions.

The reference's analytical surface is Timestream SQL (README.md:100-113,
127-135). Timestream-specific functions and Grafana macros map to plain
Spark expressions -- no custom Catalyst rule needed (SURVEY.md section 4):

- ``bin(time, 1h)``              -> epoch-aligned tumbling bucket (B1)
- ``ago(24h)``                   -> ``now - interval`` with injectable "now"
                                    for deterministic tests (B2, D5)
- ``CREATE_TIME_SERIES(t, v)``   -> time-ordered array of (time, value)
                                    structs per group (B8)
- ``$__timeFilter`` etc.         -> client-side macro expansion (B9)
"""

from __future__ import annotations

import re
from datetime import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

_UNIT_SECONDS = {
    "s": 1,
    "m": 60,
    "h": 3600,
    "d": 86400,
}


def _interval_seconds(spec: str) -> int:
    """Parse a Timestream interval literal like ``1h``, ``24h``, ``15m``."""
    m = re.fullmatch(r"\s*(\d+)\s*([smhd])\s*", spec)
    if not m:
        raise ValueError(f"unsupported interval spec: {spec!r}")
    return int(m.group(1)) * _UNIT_SECONDS[m.group(2)]


def bin_(time_col: Column | str, interval: str) -> Column:
    """Timestream ``bin(time, interval)`` (README.md:103): floor the
    timestamp to an epoch-aligned bucket of the given width.

    Implemented arithmetically (epoch // width * width) so any width works,
    not just calendar units; for calendar widths this equals
    ``date_trunc``. Stays inside codegen -- no UDF.
    """
    secs = _interval_seconds(interval)
    c = F.col(time_col) if isinstance(time_col, str) else time_col
    epoch = F.unix_timestamp(c)
    # pmod, not %: Java % rounds toward zero, so a pre-1970 timestamp
    # would bin UP into the next bucket instead of flooring (r7 review;
    # DuckDB's // and date_trunc both floor). NO baked-in alias (r11
    # review): a forced name made two bins in one select ambiguous and
    # drove plans/core.py to keep a duplicate spelling -- callers alias
    # at the call site.
    return F.timestamp_seconds(epoch - F.pmod(epoch, F.lit(secs)))


def ts_lit(value: Column | datetime | str) -> Column:
    """Timestamp literal with SESSION-timezone semantics for every input
    form. A naive ``datetime`` through plain ``F.lit`` converts via
    py4j's DatetimeConverter -- ``time.mktime``, the HOST timezone --
    while a string parses in the UTC session timezone (r12 review,
    verified 4 h divergence under TZ=America/New_York). Render datetimes
    to strings so all forms share the session-tz path; aware datetimes
    convert to UTC first. The one spelling for every operator that
    accepts user-supplied time bounds (ago, hll_cube.range_distinct)."""
    if isinstance(value, Column):
        return value
    if isinstance(value, datetime):
        if value.tzinfo is not None:
            from datetime import timezone

            value = value.astimezone(timezone.utc).replace(tzinfo=None)
        value = value.strftime("%Y-%m-%d %H:%M:%S.%f")
    return F.lit(value).cast("timestamp")


def ago(interval: str, now: Column | datetime | str | None = None) -> Column:
    """Timestream ``ago(interval)`` (README.md:109): ``now - interval``.

    ``now`` is injectable (D5) so tests and oracle comparisons are
    deterministic; defaults to ``current_timestamp()`` like Timestream.

    The default cutoff is an uncorrelated scalar subquery, not
    ``current_timestamp() - interval``. The optimizer folds
    ``current_timestamp()`` into a timestamp literal and whole-stage
    codegen inlines timestamp and long literals into the generated
    source, so every query (every dashboard poll) would compile, and
    JIT, new classes. A decimal literal goes to codegen by reference
    instead, so the subquery returns the cutoff as ``DECIMAL(18, 0)``
    micros and a repeated query reuses its cached class. The subquery
    reads its own ``VALUES`` row, because a ``FROM``-less one folds back
    into a literal; ``ComputeCurrentTime`` gives it the main query's
    instant, so the cutoff is exact. The filter is not pushed to parquet
    as a result; on the sink that costs nothing, because
    ``write_partitioned_parquet`` stores ``timestamp`` as INT96 without
    statistics, which row-group filtering cannot use. Revisit this if
    the sink ever writes ``TIMESTAMP_MICROS``. An injected ``now`` is
    the same literal on every build, so it keeps the plain spelling.
    """
    secs = _interval_seconds(interval)
    if now is None:
        return F.timestamp_micros(F.expr(
            f"CAST((SELECT CAST(unix_micros(c) - {secs * 1_000_000}"
            " AS DECIMAL(18, 0)) FROM VALUES (current_timestamp()) AS t(c))"
            " AS BIGINT)"
        ))
    # ts_lit owns the datetime-vs-string session-tz discipline (the r12
    # host-tz fix, factored out in r13 so range_distinct shares it)
    now_col = ts_lit(now)
    # micros, not unix_timestamp: the parser keeps millisecond precision
    # (D3), and a seconds-truncated cutoff would shift the boundary by up
    # to 1 s against the ms-precision data (r7 review)
    return F.timestamp_micros(
        # the micros constant is computed in Python: two INT literals
        # multiplied in-plan would overflow 32-bit under ANSI for >35 min
        F.unix_micros(now_col) - F.lit(secs * 1_000_000).cast("long")
    )


def create_time_series(time_col: Column | str, value_col: Column | str) -> Column:
    """Timestream ``CREATE_TIME_SERIES(time, value)`` (README.md:130): per
    group, collapse rows into a time-ascending array of (time, value) pairs.

    ``sort_array`` on an array of structs sorts lexicographically by field
    order, so putting ``time`` first gives exact time-first ordering (B8).
    Aggregate + sort are both JVM-side; state is one array per group.
    """
    t = F.col(time_col) if isinstance(time_col, str) else time_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    return F.sort_array(
        F.collect_list(F.struct(t.alias("time"), v.alias("value")))
    )


def sec_mmm_sql(ts_expr: str) -> str:
    """Spark-SQL fragment rendering a timestamp as ``sec.mmm`` (epoch
    seconds, dot, zero-padded milliseconds) with FLOOR semantics in pure
    integer arithmetic -- THE one spelling, shared by the strict-compat
    narrow dimension and the wire-line synthesizer (two hand-spelled
    copies used trunc-toward-zero `div`/%, which render garbage like
    '0.-50' for pre-1970 timestamps while the DuckDB oracles floor --
    r8 review). pmod keeps the millisecond field in [0, 999] for either
    sign; the seconds field floors like the oracle's //."""
    us = f"unix_micros({ts_expr})"
    return (
        f"concat(CAST(({us} - pmod({us}, 1000000)) div 1000000 AS STRING),"
        f" '.', lpad(CAST(pmod({us}, 1000000) div 1000 AS STRING), 3, '0'))"
    )


def expand_macros(
    sql: str,
    database: str = "",
    table: str = "events",
    measure: str = "sc_bytes",
    time_col: str = "time",
    time_from: str | None = None,
    time_to: str | None = None,
) -> str:
    """Grafana Timestream-datasource macro expansion (README.md:127-135, B9).

    ``$__database``/``$__table``/``$__measure`` are textual; ``$__timeFilter``
    expands to a BETWEEN predicate over the dashboard's time range (injectable
    for determinism, D5). The expanded text is plain Spark SQL.
    """
    # identifier safety (r11 review): the quoted macro forms expand to
    # UNQUOTED Spark identifiers (double quotes are STRING literals in
    # Spark SQL, so they cannot be preserved), which silently mis-parses
    # names like 'access-logs' ('access minus logs'). Refuse such names
    # loudly instead -- callers with special characters should rename or
    # backtick the identifier in the template themselves.
    for kind, name in (("database", database), ("table", table)):
        if name and not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(
                f"expand_macros: {kind} name {name!r} is not a plain "
                "identifier; it would expand unquoted and mis-parse"
            )
    # resolve the QUOTED macro forms first, while the tokens are still
    # unambiguous -- any post-substitution quote stripping could touch a
    # user's double-quoted string literal that happens to equal the
    # table name (r8 review)
    qualified = '"$__database"."$__table"'
    sql = sql.replace(
        qualified, f"{database}.{table}" if database else table
    )
    sql = sql.replace('"$__table"', table)
    # the standalone quoted database form ALSO expands unquoted (the
    # stated contract above; r12 review, verified: '"db"' in FROM
    # position is a string literal and a parse error) -- and when the
    # database is empty the dot-qualified spelling takes its dot with it
    # (mirroring the unquoted cleanup below)
    sql = sql.replace('"$__database".', f"{database}." if database else "")
    sql = sql.replace('"$__database"', database)
    if not database:
        # the UNQUOTED qualified form must take its dot with it, or
        # 'FROM $__database.$__table' renders 'FROM .events' (r11 review)
        sql = sql.replace("$__database.", "")
    out = sql.replace("$__database", database).replace("$__table", table)
    # templates following the common Grafana convention quote the macro
    # themselves; expanding those to ''sc_bytes'' was a parse error
    # (r12 review) -- resolve the pre-quoted form first
    out = out.replace("'$__measure'", f"'{measure}'")
    out = out.replace("$__measure", f"'{measure}'")
    if "$__timeFilter" in out:
        if time_from is None or time_to is None:
            raise ValueError("$__timeFilter requires time_from/time_to")
        out = out.replace(
            "$__timeFilter",
            f"{time_col} BETWEEN timestamp '{time_from}' AND timestamp '{time_to}'",
        )
    return out
