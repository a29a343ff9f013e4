"""Keyed streaming state for the reference Lambda's two stateful jobs.

- Record counting (lambda_function.py:64,119), generalized per key:
  :func:`running_totals_stream` is Spark's built-in update-mode
  aggregate. It runs in the JVM, with no Python worker.
- The buffered 100-record flush (lambda_function.py:103-126):
  :func:`chunked_flush_stream` is the one arbitrary-state operator, a
  ``groupBy(...).applyInPandasWithState`` that carries each key's
  partial chunk in the state store across micro-batches.

Both keep their state in the default state store, checkpointed with the
query, so it survives restarts exactly once. State is hash-partitioned by
the group key; its size is bounded by key cardinality, not stream length.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout


def running_totals_stream(
    parsed: DataFrame,
    group_col: str = "x_edge_location",
    bytes_col: str = "sc_bytes",
) -> DataFrame:
    """Cumulative ``(n, total_bytes)`` per key, for ``outputMode("update")``:
    each micro-batch emits the keys it touched with their running totals.
    A NULL byte count adds 0, so ``total_bytes`` is never NULL."""
    return parsed.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(bytes_col), F.lit(0)).alias("total_bytes"),
    )


def chunked_flush_stream(
    parsed: DataFrame,
    group_col: str = "x_edge_location",
    bytes_col: str = "sc_bytes",
    chunk_size: int = 100,
) -> DataFrame:
    """Per-key buffered chunk flush, for ``outputMode("append")``: one
    output row per COMPLETED chunk ``(key, chunk_id, n_records,
    chunk_bytes)``. A key's partial chunk is carried in its state, three
    BIGINTs ``(pending, pending_bytes, chunks)``, across micro-batches and
    restarts, so the chunks do not depend on how batches split the
    records. Each pandas batch is cut by :func:`_cut_chunks` (cumsum and
    reduce at the boundaries), not per-record Python."""
    if chunk_size < 1:
        # the module's loud-early-error contract (the r11 flush_size
        # check in ingest.py): without this the ValueError surfaces
        # executor-side inside _cut_chunks on the first micro-batch of
        # an already-running query (r12 review)
        raise ValueError("chunked_flush_stream: chunk_size must be >= 1")
    # key column DDL from the INPUT schema, not a hardcoded STRING: a
    # non-string grouping key (e.g. sc_status BIGINT) would otherwise
    # mislabel the emitted pandas key column at the Arrow boundary
    key_ddl = parsed.schema[group_col].dataType.simpleString()
    out_schema = (
        f"{group_col} {key_ddl}, chunk_id BIGINT, n_records BIGINT, "
        "chunk_bytes BIGINT"
    )

    def flush(key, batches, state):
        carry = state.get if state.exists else (0, 0, 0)
        for pdf in batches:
            out, carry = _cut_chunks(
                key[0], pdf[bytes_col], carry, chunk_size, group_col
            )
            if out is not None:
                yield out
        state.update(carry)

    return parsed.select(group_col, bytes_col).groupBy(
        group_col
    ).applyInPandasWithState(
        flush,
        outputStructType=out_schema,
        stateStructType="pending BIGINT, pending_bytes BIGINT, chunks BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _cut_chunks(
    key: str,
    bytes_series: pd.Series,
    carry: tuple,
    chunk_size: int,
    group_col: str,
) -> tuple[pd.DataFrame | None, tuple]:
    """One pandas batch of a key's byte counts -> (completed-chunk frame or
    None, new (pending, pending_bytes, chunks) carry). Vectorized: cumsum +
    slice at chunk boundaries; pure function so the boundary arithmetic is
    unit-testable without a streaming query."""
    import numpy as np

    pending, pbytes, chunks = carry
    if chunk_size < 1:
        raise ValueError("chunk_size must be >= 1")
    if pending >= chunk_size:
        # a checkpointed carry can only satisfy pending < chunk_size for
        # the SIZE IT WAS BUILT WITH; restarting the query with a smaller
        # chunk_size would make the boundary arithmetic index negatively
        # (wrong chunk bytes via wraparound, or IndexError) -- fail loud
        # instead of corrupting the state store (r8 review)
        raise ValueError(
            f"carried pending={pending} >= chunk_size={chunk_size}: the "
            "query was restarted with a smaller chunk_size than its "
            "checkpoint was built with; keep chunk_size stable across "
            "restarts"
        )
    vals = bytes_series.fillna(0).to_numpy(dtype="int64")
    n = len(vals)
    if n == 0:
        return None, carry
    cums = np.cumsum(vals) + pbytes
    seen = pending + n
    n_done = seen // chunk_size
    if not n_done:
        return None, (seen, int(cums[-1]), chunks)
    # indices (within this batch) where a chunk completes
    ends = np.arange(1, n_done + 1) * chunk_size - pending - 1
    ebytes = cums[ends]
    out = pd.DataFrame(
        {
            group_col: key,
            "chunk_id": np.arange(chunks + 1, chunks + n_done + 1),
            "n_records": chunk_size,
            "chunk_bytes": np.diff(np.concatenate(([0], ebytes))),
        }
    )
    return out, (
        int(seen - n_done * chunk_size),
        int(cums[-1] - ebytes[-1]),
        chunks + int(n_done),
    )
