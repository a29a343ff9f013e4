"""Repeated queries reuse their compiled codegen classes.

Spark caches the classes whole-stage code generation compiles in a per-JVM
LRU of ``spark.sql.codegen.cache.maxEntries`` entries. The rows the
benchmark's ``query_sweep`` runs generate ~165 distinct classes; at Spark's
default cap of 100 a cyclic re-run of them never hits, so every pass
recompiled every class. ``session.get_spark`` sizes the cache to the
engine's working set, so a second pass compiles nothing.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.run import SWEEP_ROWS  # noqa: E402

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
