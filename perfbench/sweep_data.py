"""Seeded star-schema tables for the ``query_sweep`` workload.

Same ten tables, column names and physical types as the engine's test data
(``region nation customer supplier part orders lineitem events documents
embeddings``, one single-row-group parquet file each), drawn from a seed
with the row counts of its smallest scale (lineitem 6,000 rows; 500
documents and 500 embeddings). Value domains follow the test data, so every
registry row runs the same operators on comparable inputs:

- ``documents.text``: words from a 30-word vocabulary, 10-100 words, ~5%
  near duplicates (an earlier text plus the word ``dup``), ~0.2% exact
  duplicates;
- ``embeddings.embedding``: 64-d float32 unit vectors with a random
  ``label`` in 0-9.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1_500,
        "lineitem": 6_000, "events": 1_000, "documents": 500,
        "embeddings": 500}
USERS = 15
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": _ids(n["customer"]),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": _ids(n["supplier"]),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"], dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
    })
    adjs = ["large", "hot", "blue", "red", "old", "new", "small", "cold"]
    nouns = ["ring", "bolt", "anvil", "plate", "gizmo", "gear", "spring", "valve"]
    pk = np.arange(n["part"])
    t["part"] = pa.table({
        "p_partkey": _ids(n["part"]),
        "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in zip(
            rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
        "p_type": _pick(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                              "PROMO"], n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"], dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": _ids(n["orders"]),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n["orders"])),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n["orders"])),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n["orders"]),
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m)),
        "l_partkey": pa.array(rng.integers(0, n["part"], m)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m)),
        "l_linenumber": pa.array(rng.integers(1, 8, m, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, m)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["O", "F"], m),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", m)),
    })
    e = n["events"]
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, e))
    t["events"] = pa.table({
        "event_id": _ids(e),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, USERS, e)),
        "event_type": _pick(rng, ["view", "click", "purchase", "signup", "error"], e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    t["documents"] = pa.table({
        "doc_id": _ids(d),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, d, p=LANG_WEIGHTS),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    v = n["embeddings"]
    labels = rng.integers(0, 10, v, dtype=np.int32)
    vecs = rng.normal(0, 1, (v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": _ids(v),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return t


def write_tables(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=len(table) or 1)
