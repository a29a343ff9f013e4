from __future__ import annotations

import os

import pytest

from aws_cloudfront_realtime_monitoring_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def private_layout_cache(tmp_path, monkeypatch):
    """Point the layout cache at the test's own ``tmp_path``: a test over a
    ``tmp_path`` sf_dir would otherwise add a parent dir to the shared
    cache on every run, and nothing retires those. Yields a function that
    returns the parent dirs the shared cache gained since."""
    from aws_cloudfront_realtime_monitoring_spark.sources import tables

    shared = tables.LAYOUT_CACHE_DIR

    def parents() -> set[str]:
        return set(os.listdir(shared)) if os.path.isdir(shared) else set()

    before = parents()
    monkeypatch.setattr(tables, "LAYOUT_CACHE_DIR", str(tmp_path / "layout_cache"))
    yield lambda: parents() - before
