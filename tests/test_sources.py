"""Source/sink format coverage: the typed log model round-trips through
parquet, ORC, JSON, and CSV unchanged (schema + values), and partitioned
layouts prune on read."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from aws_cloudfront_realtime_monitoring_spark.sources import parse_log_lines
from tests.test_parser import GOLDEN_LINE, lines_df


@pytest.fixture(scope="module")
def wide_df(spark):
    lines = [GOLDEN_LINE.replace("boNb1al7", f"req{i:03d}") for i in range(20)]
    return parse_log_lines(lines_df(spark, *lines))


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_roundtrip_format(spark, wide_df, fmt):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, f"out.{fmt}")
        writer = wide_df.write.mode("overwrite")
        reader = spark.read
        if fmt in ("json", "csv"):
            # text formats need the schema pinned on read (no inference in prod)
            reader = reader.schema(wide_df.schema)
        if fmt == "csv":
            writer = writer.option("header", False)
            reader = reader.option("header", False)
        getattr(writer, fmt)(path)
        back = getattr(reader, fmt)(path)
        assert back.schema == wide_df.schema
        orig = sorted(map(tuple, wide_df.collect()))
        got = sorted(map(tuple, back.collect()))
        assert got == orig


def test_partitioned_write_prunes_on_read(spark, wide_df):
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "part")
        # two partition values (hour 3 + a copy shifted to hour 4), so a
        # broken pruning path that scans everything yields count 40 != 20
        two_hours = wide_df.unionByName(
            wide_df.withColumn(
                "timestamp", F.col("timestamp") + F.expr("INTERVAL 1 HOUR")
            )
        )
        (
            two_hours.withColumn("event_hour", F.hour("timestamp"))
            .write.mode("overwrite")
            .partitionBy("event_hour")
            .parquet(out)
        )
        pruned = spark.read.parquet(out).where(F.col("event_hour") == 3)
        # pruning visible in the plan: the predicate must sit INSIDE the
        # scan's PartitionFilters list ("PartitionFilters: [...]" prints
        # for any partitioned scan, pruned or not, so bare presence of
        # the label proves nothing)
        import contextlib, io, re

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            pruned.explain(True)
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", buf.getvalue())
        assert m is not None, "no FileSourceScan with partition filters"
        assert "event_hour" in m.group(1), (
            "event_hour predicate not pushed as a partition filter: "
            + m.group(0)
        )
        assert pruned.count() == 20  # golden ts is hour 3 UTC
        assert spark.read.parquet(out).count() == 40  # fixture really spans 2 hours


def test_ntz_timestamps_normalized_to_instant(spark):
    """Parquet timestamps written without isAdjustedToUTC read back as
    TIMESTAMP_NTZ in Spark 4 (the driver's regenerated testdata does this);
    the loader must normalize them to TIMESTAMP so epoch functions and
    streaming watermarks resolve, interpreting the wall clock as UTC --
    exactly how the DuckDB oracle reads the same file."""
    import datetime
    import tempfile

    from pyspark.sql import types as T

    from aws_cloudfront_realtime_monitoring_spark.sources import tables

    wall = datetime.datetime(2024, 1, 5, 12, 34, 56, 789000)
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "events.parquet")
        spark.createDataFrame(
            [(1, wall)],
            T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("ts", T.TimestampNTZType()),
                ]
            ),
        ).write.parquet(src)
        assert isinstance(  # precondition: the file really reads back NTZ
            spark.read.parquet(src).schema["ts"].dataType, T.TimestampNTZType
        )
        df = tables.load_table(spark, d, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        [row] = df.select(F.unix_micros("ts").alias("us")).collect()
        epoch_utc = int(
            wall.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
        )
        assert row.us == epoch_utc


def test_layout_cache_retires_stale_keys(spark):
    """Re-materializing after the source file changes must remove the old
    layout dir (the driver regenerates testdata between rounds; stale keys
    would otherwise accumulate forever) while leaving other tables alone.
    Retirement is age-gated: a dir younger than _RETIRE_GRACE_S survives
    (it may belong to another live process), so the prompt-deletion half
    of the test runs with the grace period patched to zero."""
    import time as _time

    from aws_cloudfront_realtime_monitoring_spark.sources import tables

    with tempfile.TemporaryDirectory() as sf, tempfile.TemporaryDirectory() as cache:
        old_cache_dir = tables.LAYOUT_CACHE_DIR
        old_grace = tables._RETIRE_GRACE_S
        tables.LAYOUT_CACHE_DIR = cache
        try:
            df = spark.range(10).toDF("event_id")
            df.coalesce(1).write.parquet(os.path.join(sf, "events.parquet"))
            df.coalesce(1).write.parquet(os.path.join(sf, "orders.parquet"))
            first = tables.stream_dir(spark, sf, "events")
            other = tables.stream_dir(spark, sf, "orders")
            assert os.path.isdir(first) and os.path.isdir(other)
            # regenerate the source with different content/mtime -> new key
            shutil_rm = __import__("shutil").rmtree
            shutil_rm(os.path.join(sf, "events.parquet"))
            _time.sleep(1.1)  # ensure a distinct mtime second
            spark.range(20).toDF("event_id").coalesce(1).write.parquet(
                os.path.join(sf, "events.parquet")
            )
            second = tables.stream_dir(spark, sf, "events")
            assert second != first
            # within the grace window the old layout must SURVIVE (another
            # live process may still be scanning it)
            assert os.path.isdir(first)
            # past the grace window (patched to zero) a re-materialization
            # retires it; trigger one by regenerating again
            tables._RETIRE_GRACE_S = 0
            shutil_rm(os.path.join(sf, "events.parquet"))
            _time.sleep(1.1)
            spark.range(30).toDF("event_id").coalesce(1).write.parquet(
                os.path.join(sf, "events.parquet")
            )
            third = tables.stream_dir(spark, sf, "events")
            assert third not in (first, second)
            assert not os.path.exists(first)   # stale layouts retired
            assert not os.path.exists(second)
            assert os.path.isdir(third)
            assert os.path.isdir(other)  # other tables untouched
        finally:
            tables.LAYOUT_CACHE_DIR = old_cache_dir
            tables._RETIRE_GRACE_S = old_grace


def test_register_views_drops_views_missing_from_new_layout(spark):
    """Switching a live session from a full layout to a partial one (the
    scale sweep's documents-only dir) must DROP the views for tables the
    new layout lacks -- otherwise a query on a missing table silently
    reads the previous sf_dir's data instead of failing with
    TABLE_OR_VIEW_NOT_FOUND as documented (ADVICE r6, medium)."""
    from pyspark.errors import AnalysisException

    from aws_cloudfront_realtime_monitoring_spark.sources import tables

    with tempfile.TemporaryDirectory() as full, tempfile.TemporaryDirectory() as part:
        spark.range(5).toDF("event_id").coalesce(1).write.parquet(
            os.path.join(full, "events.parquet")
        )
        spark.range(7).toDF("o_orderkey").coalesce(1).write.parquet(
            os.path.join(full, "orders.parquet")
        )
        spark.range(9).toDF("o_orderkey").coalesce(1).write.parquet(
            os.path.join(part, "orders.parquet")
        )
        tables.register_views(spark, full)
        assert spark.sql("SELECT COUNT(*) AS n FROM events").head().n == 5
        tables.register_views(spark, part)
        assert spark.sql("SELECT COUNT(*) AS n FROM orders").head().n == 9
        try:
            spark.sql("SELECT COUNT(*) FROM events").collect()
            raise AssertionError("stale `events` view survived the switch")
        except AnalysisException:
            pass  # TABLE_OR_VIEW_NOT_FOUND, as documented
        # switching back re-registers everything
        tables.register_views(spark, full)
        assert spark.sql("SELECT COUNT(*) AS n FROM events").head().n == 5


def test_strict_compat_ts_dim_floors_pre_epoch(spark):
    """The sec.mmm dimension renderer floors for either sign: the old
    trunc `div`/% spelling rendered '0.-50'-style garbage for pre-1970
    timestamps while the DuckDB oracle floors (r8 review)."""
    from aws_cloudfront_realtime_monitoring_spark.functions.timestream import (
        sec_mmm_sql,
    )

    df = spark.sql(
        "SELECT timestamp'1969-12-31 23:59:59.5' AS ts "
        "UNION ALL SELECT timestamp'2024-01-02 03:04:05.678'"
    )
    got = sorted(
        r.d for r in df.selectExpr(f"{sec_mmm_sql('ts')} AS d").collect()
    )
    assert got == ["-1.500", "1704164645.678"]


def test_header_decode_permissive_on_malformed_escape(spark):
    """r11 review: url_decode RAISES on a malformed percent-escape
    (e.g. a line truncated mid-escape, exactly what D2 anticipates),
    which would kill the whole micro-batch for one corrupt token. The
    permissive decode falls back to the RAW blob instead -- and
    well-formed blobs decode exactly as before."""
    from aws_cloudfront_realtime_monitoring_spark.sources.cf_logs import (
        to_wire_line,
    )

    blobs = ["Host:ex%3Aample.com%0AUA:x",   # well-formed
             "Host:bad%zzescape%0AUA:x",     # malformed mid-blob
             "truncated%E"]                  # truncated escape
    df = lines_df(spark, *(
        to_wire_line({"cs-headers": b, "cs-header-names": b}) for b in blobs))
    rows = parse_log_lines(df, drop_headers=False,
                           parse_headers=True).collect()
    assert [(e.Name, e.Value) for e in rows[0].cs_headers] == [
        ("Host", "ex:ample.com"), ("UA", "x")]
    # malformed: raw passthrough, still split on the literal ':'
    assert rows[1].cs_headers[0].Name == "Host"
    assert rows[1].cs_headers[0].Value == "bad%zzescape%0AUA:x"
    assert rows[2].cs_headers == []  # no ':' once raw -- dropped, not an error
    assert rows[2].cs_header_names == ["truncated%E"]


def test_register_views_distinct_per_sibling_session(spark, sf_dir):
    """r11 review: temp views are per-SESSION; a newSession() sibling
    shares (applicationId, startTime) but has its own empty catalog, so
    the memo must not serve it a false hit."""
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import (
        register_views,
    )

    register_views(spark, sf_dir)
    assert spark.sql("SELECT COUNT(*) AS n FROM region").head().n > 0
    sib = spark.newSession()
    try:
        register_views(sib, sf_dir)
        assert sib.sql("SELECT COUNT(*) AS n FROM region").head().n > 0
    finally:
        # sibling views die with the session object; nothing to undo
        pass


def test_load_table_pins_utc_on_cache_hit(spark, sf_dir):
    """r11 review: the warm layout-cache path skipped _read_raw and with
    it the UTC session-timezone pin -- a non-UTC session would shift
    every date/hour bucket away from the naive-as-UTC oracle."""
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table

    load_table(spark, sf_dir, "events")  # ensure the cache exists
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        load_table(spark, sf_dir, "events")  # cache HIT path
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_load_table_memo_invalidates_on_source_rewrite(spark, tmp_path):
    """r17 continuation: load_table memoizes the resolved relation per
    (session, dir, table, source stat) -- metadata only. A memo hit must
    return the resolved frame without re-listing; a source REWRITE
    (new size/mtime) must re-resolve instead of serving the old data."""
    import pandas as pd

    from aws_cloudfront_realtime_monitoring_spark.sources import tables

    d = str(tmp_path)
    src = os.path.join(d, "events.parquet")
    pd.DataFrame({"event_id": [1, 2]}).to_parquet(src)
    df1 = tables.load_table(spark, d, "events")
    assert df1.count() == 2
    assert tables.load_table(spark, d, "events") is df1  # memo hit
    # regenerate with different contents (size/mtime change)
    pd.DataFrame({"event_id": [1, 2, 3, 4, 5]}).to_parquet(src)
    df2 = tables.load_table(spark, d, "events")
    assert df2.count() == 5


def test_session_memos_evict_oldest_session_past_lru_cap():
    """r18 hygiene (r17 verdict #6): the per-session resolution memos
    never evicted, so a long-lived multi-session process grew them
    without bound. Session keys past _SESSION_LRU_CAP must take their
    _TABLE_MEMO and _VIEWS_CURRENT entries with them; recently used
    sessions keep theirs. Pure-dict test -- no Spark needed."""
    from aws_cloudfront_realtime_monitoring_spark.sources import tables

    saved = (dict(tables._TABLE_MEMO), dict(tables._VIEWS_CURRENT),
             list(tables._SESSION_LRU))
    try:
        tables._TABLE_MEMO.clear()
        tables._VIEWS_CURRENT.clear()
        tables._SESSION_LRU.clear()
        keys = [("app", i, "u") for i in range(tables._SESSION_LRU_CAP + 2)]
        for sk in keys:
            tables._TABLE_MEMO[(sk, "/d", "events")] = ((1, 1), None)
            tables._VIEWS_CURRENT[sk] = ("/d", ())
            tables._touch_session(sk)
        evicted, kept = keys[:2], keys[2:]
        for sk in evicted:
            assert (sk, "/d", "events") not in tables._TABLE_MEMO
            assert sk not in tables._VIEWS_CURRENT
        for sk in kept:
            assert (sk, "/d", "events") in tables._TABLE_MEMO
            assert sk in tables._VIEWS_CURRENT
        # re-touching an existing key is an LRU bump, not an eviction
        tables._touch_session(kept[0])
        assert (kept[0], "/d", "events") in tables._TABLE_MEMO
        assert len(tables._SESSION_LRU) == tables._SESSION_LRU_CAP
    finally:
        tables._TABLE_MEMO.clear(); tables._TABLE_MEMO.update(saved[0])
        tables._VIEWS_CURRENT.clear(); tables._VIEWS_CURRENT.update(saved[1])
        tables._SESSION_LRU[:] = saved[2]


def test_small_file_scan_packs_by_bytes(spark, tmp_path):
    """Scan tasks are sized by bytes, not one per file: a directory of
    100 small parquet files (a streaming sink after a few minutes) must
    scan in at most defaultParallelism partitions. A 4 MB
    maxPartitionBytes/openCostInBytes pair gives one task per file."""
    d = str(tmp_path / "many")
    spark.range(0, 1000, 1, 100).write.parquet(d)
    assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 100
    parts = spark.read.parquet(d).rdd.getNumPartitions()
    assert parts <= spark.sparkContext.defaultParallelism


def test_sf0001_tables_are_read_in_place(spark, sf_dir):
    """The layout rule gives every sf0.001 table one file, so each is
    read in place: no rewrite, no second copy in the layout cache."""
    from aws_cloudfront_realtime_monitoring_spark.sources import tables

    for name in tables.TABLES:
        assert tables.layout_dir(spark, sf_dir, name) is None, name


def test_layout_rule_cuts_by_uncompressed_bytes(spark, tmp_path,
                                                private_layout_cache):
    """A single-file table over the target is cut into
    ceil(uncompressed bytes / target) files, scans at least one task per
    file up to the core count, and reads back the source's rows, row for
    row."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_cloudfront_realtime_monitoring_spark.sources import tables

    n = 5 * tables._TARGET_FILE_BYTES // 200
    src = pa.table({"id": list(range(n)),
                    "text": [f"{i:08d}" + "x" * 92 for i in range(n)]})
    pq.write_table(src, str(tmp_path / "events.parquet"))
    md = pq.read_metadata(str(tmp_path / "events.parquet"))
    raw = sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    want = math.ceil(raw / tables._TARGET_FILE_BYTES)
    assert want >= 2

    cache = tables.layout_dir(spark, str(tmp_path), "events")
    assert cache is not None and cache.startswith(tables.LAYOUT_CACHE_DIR)
    parts = [f for f in os.listdir(cache) if f.endswith(".parquet")]
    assert len(parts) == want
    df = tables.load_table(spark, str(tmp_path), "events")
    # the files keep the scan width: one task per file up to the cores
    assert df.rdd.getNumPartitions() >= min(
        want, spark.sparkContext.defaultParallelism)
    got = sorted(map(tuple, df.collect()))
    assert got == sorted(zip(src["id"].to_pylist(), src["text"].to_pylist()))
    assert not private_layout_cache()


def test_stream_dir_of_one_file_table_holds_one_file(spark, sf_dir,
                                                     private_layout_cache):
    """A file-stream source needs a directory: a table read in place
    still gets one, holding a single data file."""
    from aws_cloudfront_realtime_monitoring_spark.sources import tables

    assert tables.layout_dir(spark, sf_dir, "region") is None
    d = tables.stream_dir(spark, sf_dir, "region")
    assert os.path.isdir(d)
    assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 1
    assert spark.read.parquet(d).count() == 5
    assert not private_layout_cache()


def test_directory_source_is_read_in_place(spark, tmp_path, monkeypatch,
                                           private_layout_cache):
    """A parquet directory is never rewritten, whatever its bytes: the
    check is that the source is not a file, not its st_size."""
    from aws_cloudfront_realtime_monitoring_spark.sources import tables

    monkeypatch.setattr(tables, "_TARGET_FILE_BYTES", 1)
    src = str(tmp_path / "orders.parquet")
    spark.range(0, 100, 1, 4).toDF("o_orderkey").write.parquet(src)
    assert tables.layout_files(src) > 1
    assert tables.layout_dir(spark, str(tmp_path), "orders") is None
    df = tables.load_table(spark, str(tmp_path), "orders")
    assert all(src in f for f in df.inputFiles())
    assert df.count() == 100
    assert not os.path.exists(tables.LAYOUT_CACHE_DIR)
    assert not private_layout_cache()


def test_register_views_pins_utc_on_memo_hit(spark, sf_dir):
    """ADVICE r18: a register_views memo hit returned before the UTC
    session-timezone pin, so a session switched to another zone after
    the first registration kept it. The nanosAsLong read pin
    (session.pin_session) must be restored on the same path."""
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import (
        register_views,
    )

    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    register_views(spark, sf_dir)  # first registration: memo filled
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set(nanos, "false")
    try:
        register_views(spark, sf_dir)  # memo HIT path
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get(nanos) == "true"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set(nanos, "true")
