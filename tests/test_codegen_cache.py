"""Repeated queries reuse their compiled codegen classes.

Spark caches the classes whole-stage code generation compiles in a per-JVM
LRU of ``spark.sql.codegen.cache.maxEntries`` entries. The rows the
benchmark's ``query_sweep`` runs generate ~165 distinct classes; at Spark's
default cap of 100 a cyclic re-run of them never hits, so every pass
recompiled every class. ``session.get_spark`` sizes the cache to the
engine's working set, so a second pass compiles nothing.

The cache key is the generated source, so anything in it that changes
from run to run makes a new class every run: a literal codegen inlines
(timestamp, long, int), such as the live dashboard's ``ago("24h")``
cutoff, or the whole-stage codegen stage id in the class name, which AQE
assigns in the order it plans stages.
"""

from __future__ import annotations

import sys
import tempfile
import time
from datetime import datetime, timedelta, timezone
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.run import SWEEP_ROWS, dashboard_q1  # noqa: E402

from aws_cloudfront_realtime_monitoring_spark.plans import load_full  # noqa: E402


def _compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def test_second_sweep_pass_compiles_no_classes(spark, sf_dir):
    registry = load_full()

    def one_pass() -> int:
        before = _compiles(spark)
        for name in SWEEP_ROWS:
            registry[name].build(spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            spark.catalog.clearCache()
        return _compiles(spark) - before

    # the counter sees this session's compiles: codegen inlines the
    # literal, so a never-seen one makes a new class
    before = _compiles(spark)
    spark.range(10).selectExpr(f"id + {time.time_ns()} AS x") \
        .write.format("noop").mode("overwrite").save()
    assert _compiles(spark) > before

    one_pass()  # fills the cache (earlier tests may already have)
    assert one_pass() == 0


def test_warm_dashboard_poll_compiles_no_classes(spark):
    """The benchmark's Q1 poll re-run over an unchanged table: the default
    ``ago()`` cutoff moves with every poll, yet a warm poll reuses the
    first poll's classes."""
    now = datetime.now(timezone.utc)
    # odd hours back, so no row sits on the 24 h boundary
    rows = [(now - timedelta(hours=h), f"E{h % 3}", h) for h in range(1, 48, 2)]
    with tempfile.TemporaryDirectory() as d:
        table = f"{d}/q1"
        spark.createDataFrame(
            rows, "timestamp timestamp, x_edge_location string, sc_bytes long"
        ).repartition(3).write.parquet(table)

        def poll() -> tuple[int, int]:
            before = _compiles(spark)
            seen, _, _ = dashboard_q1(spark, table)
            return seen, _compiles(spark) - before

        in_window = sum(1 for _, _, h in rows if h < 24)
        assert poll()[0] == in_window
        assert [poll(), poll()] == [(in_window, 0), (in_window, 0)]


def test_replanned_registry_rows_compile_no_classes(spark, sf_dir):
    """Rows whose AQE stages get planned in a different order on each run
    still reuse their classes: the stage id stays out of the source."""
    registry = load_full()
    for name in ("curation_pipeline", "hybrid_rrf_retrieval"):
        added = []
        for _ in range(3):
            before = _compiles(spark)
            registry[name].build(spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            spark.catalog.clearCache()
            added.append(_compiles(spark) - before)
        assert added[1:] == [0, 0], (name, added)
