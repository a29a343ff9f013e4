"""Results do not depend on the physical file layout.

The layout cache only changes how a table is cut into files, so a row's
answer must be the same whether its tables are read in place or through
a multi-file layout. The rows below scan the tables the layout rule cuts
first as they grow (embeddings, documents, lineitem, events); each runs
twice at sf0.001, once in place and once with the target file size
forced down so every one of those tables is rewritten into several files,
and the two results must canonicalize (``tools/check_oracles.canon``) to
the same hash.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_oracles import canon  # noqa: E402

from aws_cloudfront_realtime_monitoring_spark.plans import load_full  # noqa: E402
from aws_cloudfront_realtime_monitoring_spark.sources import tables  # noqa: E402

ROWS = ("ann_topk_ivf", "stats_profile", "pii_redact", "text_tfidf_topk",
        "dedup_minhash_lsh")
#: small enough that every table these rows scan gets at least two files
FORCED_TARGET = 16 * 1024


def _hashes(spark, sf_dir) -> dict[str, str]:
    registry = load_full()
    out = {}
    for name in ROWS:
        df = registry[name].build(spark, sf_dir).toPandas()
        spark.catalog.clearCache()
        out[name] = hashlib.sha256(repr(canon(df)).encode()).hexdigest()
    return out


def test_rows_match_across_layouts(spark, sf_dir, monkeypatch,
                                   private_layout_cache):
    # fresh relation and view memos per arm: they key on the source
    # file's stat, which the target does not change
    monkeypatch.setattr(tables, "_TABLE_MEMO", {})
    monkeypatch.setattr(tables, "_VIEWS_CURRENT", {})
    in_place = _hashes(spark, sf_dir)

    monkeypatch.setattr(tables, "_TARGET_FILE_BYTES", FORCED_TARGET)
    monkeypatch.setattr(tables, "_TABLE_MEMO", {})
    monkeypatch.setattr(tables, "_VIEWS_CURRENT", {})
    for name in ("embeddings", "documents", "lineitem", "events"):
        assert tables.layout_dir(spark, sf_dir, name) is not None, name
        assert len(tables.load_table(spark, sf_dir, name).inputFiles()) >= 2, name
    assert _hashes(spark, sf_dir) == in_place
    assert not private_layout_cache()
