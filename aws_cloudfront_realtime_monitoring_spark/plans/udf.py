"""UDF/UDAF/UDTF surface (SURVEY.md Tier C): the reference's Lambda is in
effect one hard-coded row-wise UDF (operators A2-A15); here the general
user-function surface is exposed the Spark-idiomatic way and each variant is
oracle-checked.

The hot-path guidance stands: built-ins first. These exist to prove the
extension points work -- Arrow-vectorized pandas UDF (scalar), grouped
applyInPandas (UDAF-shaped), and a Python UDTF (table function) -- with
deterministic arithmetic so DuckDB can replicate results exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..sources.tables import load_table
from . import register
from .core import dsum, dsum_sql
from .text import WS_RE, sql_str_literal


def make_scaled_score():
    """Arrow-vectorized scalar UDF: operates on pandas Series batches.
    Arithmetic chosen exact-in-IEEE (x*2, +1, /4) so the SQL oracle matches
    bit-for-bit. Created lazily -- decorating at import time requires an
    active SparkContext."""

    @pandas_udf("double")
    def scaled_score(v: pd.Series) -> pd.Series:
        return (v * 2.0 + 1.0) / 4.0

    return scaled_score


@register(
    "pandas_udf_scalar",
    # core.dsum_sql, not a hand copy of the round->DECIMAL->double sum:
    # a fourth hand-typed spelling of the determinism contract could
    # silently fork (r11 review)
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {dsum_sql('(value * 2.0 + 1.0) / 4.0', 4)} AS sum_score
    FROM events GROUP BY event_type
    """,
    description="Vectorized (Arrow) pandas UDF in a projection feeding an "
                "aggregate -- the sanctioned slow-path pattern: batch "
                "transfer, no per-row serde.",
    tags=("udf", "pandas-udf"),
)
def pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    scaled_score = make_scaled_score()
    return (
        events.select("event_type", scaled_score(F.col("value")).alias("score"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("score"), 4).alias("sum_score"),
        )
    )


@register(
    "grouped_udaf_applyinpandas",
    oracle="""
    WITH q AS (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS x
               FROM events)
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(x) AS BIGINT) AS qsum,
           CAST(MAX(x) - MIN(x) AS BIGINT) AS qrange
    FROM q GROUP BY event_type
    """,
    description="UDAF via applyInPandas: per-group pandas frame in, "
                "one-row aggregate out (integer-quantized so the oracle is "
                "exact). Shuffle on the group key, group fits in memory -- "
                "the contract of grouped-map at scale.",
    tags=("udf", "udaf"),
)
def grouped_udaf_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    q = events.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("x")
    )

    def agg_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # explicit NULL handling matching SQL aggregate semantics: SUM/
        # MAX/MIN skip NULLs and return NULL for an all-NULL group,
        # while int(NaN) would crash the task and pandas' skipna sum of
        # nothing returns 0 instead of NULL (r11 review)
        xs = pdf.x.dropna()
        return pd.DataFrame(
            [
                {
                    "event_type": pdf.event_type.iloc[0],
                    "n": len(pdf),
                    "qsum": int(xs.sum()) if len(xs) else None,
                    "qrange": int(xs.max() - xs.min()) if len(xs) else None,
                }
            ]
        )

    return q.groupBy("event_type").applyInPandas(
        agg_group, "event_type STRING, n BIGINT, qsum BIGINT, qrange BIGINT"
    )


@register(
    "udtf_tokenize",
    oracle=f"""
    WITH w AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(text, {sql_str_literal(WS_RE, 'duck')}), x -> x <> '') AS words
               FROM documents)
    SELECT doc_id,
           unnest(generate_series(1, len(words))) AS pos,
           unnest(words) AS token
    FROM w WHERE doc_id < 50
    """,
    description="Python UDTF (table function): one input row -> many output "
                "rows (position, token). Registered and invoked via LATERAL "
                "in Spark SQL. API-capability row, NOT the tokenization "
                "scale path: Python UDTFs evaluate row-at-a-time (PLANS.md's "
                "one intentional ROWUDF flag); bulk tokenization belongs to "
                "text_profile's Catalyst split/filter expressions, which "
                "stay JVM-side and vectorized. Demoted from the driver "
                "registry r9 (slot to dedup_lsh_recall): an API-capability "
                "row, not a semantics row; the identical hash check still "
                "runs in the test suite (driver_slot=False).",
    tags=("udf", "udtf", "sql-api"),
    driver_slot=False,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos BIGINT, token STRING")
    class Tokenize:
        def eval(self, text: str):
            import re as _re

            if text is None:
                return  # NULL text: zero rows, like the oracle
            # split on the Java/RE2/Python common whitespace subset, NOT
            # str.split(): Python would also split on Unicode whitespace
            # (NBSP, ideographic space) the SQL oracle's RE2 \s does not.
            # WS_RE is text.py's one regex source for that class
            # (a hand-typed fourth copy could silently fork -- r8 review);
            # absolute import: eval runs on executors, where the shipped
            # package resolves by its top-level name
            from aws_cloudfront_realtime_monitoring_spark.plans.text import WS_RE

            for i, tok in enumerate(
                t for t in _re.split(WS_RE, text) if t
            ):
                yield i + 1, tok

    spark.udtf.register("tokenize_udtf", Tokenize)
    # the memoized registrar, NOT a bare createOrReplaceTempView: the
    # bare call rebound 'documents' behind _VIEWS_CURRENT's back, so a
    # later register_views(spark, other_sf_dir) could memo-hit and
    # silently serve THIS sf_dir's data (the r8 bug class core.py
    # documents; r11 review found this surviving instance)
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM documents d, LATERAL tokenize_udtf(d.text) t
        WHERE d.doc_id < 50
        """
    )
