"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All queries live in ``aws_cloudfront_realtime_monitoring_spark.plans`` -- a registry of
(Spark DataFrame builder, ANSI-SQL oracle) pairs; this module is a thin
adapter over it.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from aws_cloudfront_realtime_monitoring_spark.plans import load_all  # noqa: E402
from aws_cloudfront_realtime_monitoring_spark.session import pin_session  # noqa: E402

_REGISTRY = load_all()

_PKG_ZIP: str | None = None

#: Connect sessions (by session_id) the package zip was already shipped to
_SHIPPED_CONNECT_SESSIONS: set = set()


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable on executor Python workers regardless of
    the driver process's cwd/PYTHONPATH.

    Pandas-UDF / mapInPandas closures pickle module-level functions BY
    REFERENCE, so workers must import ``aws_cloudfront_realtime_monitoring_spark``
    themselves; a harness that starts its SparkSession from another working
    directory would otherwise fail every UDF query with
    ModuleNotFoundError. ``addPyFile`` ships a zip of the package and puts
    it on every worker's sys.path (idempotent per SparkContext); under
    Spark Connect (no ``sparkContext``) the equivalent is
    ``spark.addArtifacts(..., pyfile=True)`` (idempotent per session)."""
    global _PKG_ZIP
    if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
        root = Path(__file__).resolve().parent
        fd, zpath = tempfile.mkstemp(prefix="acrm_spark_pkg_", suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted((root / "aws_cloudfront_realtime_monitoring_spark").rglob("*.py")):
                z.write(p, p.relative_to(root))
        _PKG_ZIP = zpath
    try:
        sc = spark.sparkContext
    except Exception:  # Spark Connect client: ship via the artifact API
        sid = getattr(spark, "session_id", None)
        if sid is not None and sid in _SHIPPED_CONNECT_SESSIONS:
            return
        # no stable session id -> ship every call rather than memoize on
        # id(spark), which a successor session can reuse and thereby
        # SKIP shipping for a brand-new session (r11 review; the
        # tables.py memo documents the same id() hazard)
        spark.addArtifacts(_PKG_ZIP, pyfile=True)
        if sid is not None:
            _SHIPPED_CONNECT_SESSIONS.add(sid)
        return
    if getattr(sc, "_acrm_pkg_shipped", False):
        return
    sc.addPyFile(_PKG_ZIP)
    sc._acrm_pkg_shipped = True


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (reference Q1, README.md:100-113) on sf0.001."""
    pin_session(spark)
    _ship_package(spark)
    return _REGISTRY["q1_hourly_measure_by_dim"].build(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2."""

    def make(name: str) -> Callable[[SparkSession, str], DataFrame]:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            # user-built sessions may lack the UTC / nanosAsLong pins
            pin_session(spark)
            _ship_package(spark)
            return _REGISTRY[name].build(spark, sf_dir)

        run.__name__ = name
        return run

    return {name: make(name) for name in _REGISTRY}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query (omitted for non-SQL ops)."""
    return {name: q.oracle for name, q in _REGISTRY.items() if q.oracle is not None}
