"""Query registry: every supported query as (Spark DataFrame builder,
ANSI-SQL oracle) pair.

The driver contract (``__spark_entry__.py``) consumes this registry: each
entry's ``build`` runs on Spark and its ``oracle`` on DuckDB over the same
parquet tables; results must match on row count, column names, and
order-insensitive value hash. Queries whose semantics are not expressible in
portable SQL (custom stateful ops) set ``oracle=None`` and get a weaker
rows-only check.

Determinism rules used throughout (so hashes match across engines):
- double aggregates go through ``ROUND(x, k)`` then DECIMAL accumulation,
  cast back to DOUBLE -- exact and order-independent in both engines;
- every top-k / limit has a total deterministic ORDER BY with id tiebreaks;
- hashing uses the md5-derived 60-bit hash (``functions.hashing``), identical
  in Spark and DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = ()


REGISTRY: dict[str, Query] = {}

#: Spark/oracle pairs verified by the test suite but deliberately kept OUT
#: of the <=50-entry driver registry (the driver records correctness rows
#: for the first 50 ``queries()`` entries only, so the registry is a
#: budget). Same Query shape, same Spark-vs-DuckDB comparison in
#: tests/test_queries_oracle.py -- just no driver slot.
EXTRAS: dict[str, Query] = {}


def register(name: str, oracle: str | None, description: str = "",
             tags: tuple[str, ...] = (), driver_slot: bool = True):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        target = REGISTRY if driver_slot else EXTRAS
        if name in REGISTRY or name in EXTRAS:
            # a copy-pasted @register block would silently shadow the
            # earlier query and its oracle check would vanish from the
            # suite with no error (r11 review) -- collide loudly
            raise ValueError(f"duplicate registry name {name!r}")
        target[name] = Query(name, fn, oracle, description, tags)
        return fn
    return deco


#: Names surfaced FIRST in the registry (insertion order of the dict the
#: driver iterates). CORRECTNESS_r01.json recorded rows for exactly the
#: first 50 queries() entries -- positions 50-52 (the UDF trio) got none --
#: so the registry is kept at <= 50 entries and queries whose verification
#: is new or recently changed lead, with the long-stable rows behind them.
#: Why each row holds its slot, and which row it displaced: COVERAGE.md,
#: "Driver-slot history".
PRIORITY = [
    "q1_hourly_measure_by_dim",
    "pixel_decode_real_stats",
    "animated_frame_real_stats",
    "image_audio_real_meta",
    "skew_salted_join",
    "stream_session_equiv",
    "dedup_lsh_recall",
    "ann_ivf_recall",
    "stream_stream_join_equiv",
    "curation_pipeline",
    "bm25_topk",
    "semdedup",
    "pii_redact",
    "decontaminate",
    "text_repetition",
    "hll_cube_range",
    "cf_parse_wire_roundtrip",
    "stats_profile",
    "stream_sliding_equiv",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "text_tfidf_topk",
    "sample_stratified",
    "text_profile",
    "revenue_by_region",
    "pandas_udf_scalar",
    "grouped_udaf_applyinpandas",
    "approx_distinct_ips",
    "strict_compat_narrow",
    "stream_hourly_bytes_equiv",
    "stream_dedup_equiv",
    "embedding_near_dup_blocked",
    "grouping_analytics",
]


def load_all() -> dict[str, Query]:
    """Import every plan module so registration side effects run; order the
    registry so recently-changed/new verifications come first (see PRIORITY)."""
    from . import (  # noqa: F401
        core, relational, advanced, text, dedup, similarity, multimodal, udf,
        streaming_equiv, sampling, curation,
    )
    missing = [n for n in PRIORITY if n not in REGISTRY]
    if missing:
        # a typo'd or since-demoted PRIORITY name used to be silently
        # dropped, quietly shifting the newest-verification-first
        # ordering the 50-row driver budget depends on (r11 review)
        raise ValueError(f"PRIORITY names missing from REGISTRY: {missing}")
    ordered = {n: REGISTRY[n] for n in PRIORITY}
    for n, q in REGISTRY.items():
        ordered.setdefault(n, q)
    return ordered


def load_full():
    """Every oracle-verified query: the 50 driver rows plus the
    demoted/extra rows (driver rows win name conflicts). The one merge
    spelling the tools share -- bench, check_oracles, audit_plans, and
    the scale sweep previously hand-rolled it four ways (r7 review)."""
    full = dict(load_demoted())
    full.update(load_all())
    return full


def load_demoted() -> dict[str, Query]:
    """Spark/oracle pairs verified by the test suite outside the
    <=50-entry driver registry (EXTRAS: rows registered with
    ``driver_slot=False``)."""
    load_all()
    return dict(EXTRAS)
