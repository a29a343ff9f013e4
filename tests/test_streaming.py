"""Structured Streaming tests: file-source replay of wire-format fixture
lines -> parser -> windowed aggregates / dedup / partitioned sink
(FIXTURES.md F5; reference EP1)."""

from __future__ import annotations

import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from aws_cloudfront_realtime_monitoring_spark.streaming import (
    dedup_stream,
    drain_to_parquet,
    hourly_bytes_stream,
    stream_log_lines,
    write_partitioned_parquet,
)
from tests.test_parser import GOLDEN, GOLDEN_LINE
from aws_cloudfront_realtime_monitoring_spark.schema import CF_FIELDS


def make_line(ts: float, req_id: str, edge: str, sc_bytes: int) -> str:
    vals = dict(GOLDEN)
    vals["timestamp"] = str(ts)
    vals["x-edge-request-id"] = req_id
    vals["x-edge-location"] = edge
    vals["sc-bytes"] = str(sc_bytes)
    return "\t".join(vals[name] for name, _ in CF_FIELDS)


BASE_TS = 1602630000.0  # 2020-10-13T23:00:00Z


@pytest.fixture()
def replay_dir():
    with tempfile.TemporaryDirectory() as d:
        # two micro-batch files ("Kinesis batches"), plus one late record
        with open(os.path.join(d, "batch1.txt"), "w") as f:
            for i in range(10):
                f.write(make_line(BASE_TS + i * 60, f"req-a-{i}", "IAD66-C1", 100) + "\n")
        with open(os.path.join(d, "batch2.txt"), "w") as f:
            for i in range(10):
                f.write(make_line(BASE_TS + 3600 + i * 60, f"req-b-{i}", "FRA56-P2", 50) + "\n")
            # duplicate request id (dedup target)
            f.write(make_line(BASE_TS + 3600, "req-b-0", "FRA56-P2", 50) + "\n")
            # very late record: >24h older than everything else
            f.write(make_line(BASE_TS - 200_000, "req-late", "SIN2-C1", 999) + "\n")
        yield d


def test_streaming_windowed_aggregate(spark, replay_dir):
    parsed = stream_log_lines(spark, replay_dir)
    agg = hourly_bytes_stream(parsed)
    rows = {
        (r.binned_time.isoformat(), r.x_edge_location): r.sum_bytes_downloaded
        for r in drain_to_parquet(agg, "complete").collect()
    }
    assert rows[("2020-10-13T23:00:00", "IAD66-C1")] == 1000
    assert rows[("2020-10-14T00:00:00", "FRA56-P2")] == 550  # incl. duplicate
    assert any(k[1] == "SIN2-C1" for k in rows)  # late row still in complete mode


def test_streaming_dedup_within_watermark(spark, replay_dir):
    parsed = stream_log_lines(spark, replay_dir)
    deduped = dedup_stream(parsed)
    ids = [r.x_edge_request_id for r in drain_to_parquet(deduped).collect()]
    # the duplicated req-b-0 appears exactly once
    assert ids.count("req-b-0") == 1
    assert len(ids) == len(set(ids))


def test_streaming_partitioned_parquet_sink(spark, replay_dir):
    with tempfile.TemporaryDirectory() as out:
        sink_dir = os.path.join(out, "data")
        ckpt = os.path.join(out, "ckpt")
        parsed = stream_log_lines(spark, replay_dir)
        q = write_partitioned_parquet(parsed, sink_dir, ckpt).start()
        q.processAllAvailable()
        q.stop()
        written = spark.read.parquet(sink_dir)
        assert written.count() == 22
        # partition layout present (pruning + retention unit)
        parts = {d for d in os.listdir(sink_dir) if d.startswith("event_date=")}
        assert parts  # partitioned by date
        # restart with same checkpoint: no duplicates (exactly-once)
        q2 = write_partitioned_parquet(
            stream_log_lines(spark, replay_dir), sink_dir, ckpt
        ).start()
        q2.processAllAvailable()
        q2.stop()
        assert spark.read.parquet(sink_dir).count() == 22


def test_sink_timestamp_is_int96_without_statistics(spark, replay_dir):
    """The sink's ``timestamp`` column is physical INT96 with no row-group
    statistics (Spark's default ``outputTimestampType``), so parquet
    filtering on it skips nothing. ``ago()``'s default cutoff gives up
    pushdown for a cached codegen class on that basis."""
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as out:
        sink_dir = os.path.join(out, "data")
        q = write_partitioned_parquet(
            stream_log_lines(spark, replay_dir), sink_dir, os.path.join(out, "ck")
        ).start()
        q.processAllAvailable()
        q.stop()
        files = [os.path.join(root, f) for root, _, names in os.walk(sink_dir)
                 for f in names if f.endswith(".parquet")]
        assert files
        for path in files:
            meta = pq.ParquetFile(path).metadata
            col = meta.schema.names.index("timestamp")
            kind = meta.schema.column(col).physical_type
            stats = [meta.row_group(g).column(col).is_stats_set
                     for g in range(meta.num_row_groups)]
            assert (kind, any(stats)) == ("INT96", False), (
                f"sink timestamp is now {kind} with statistics={stats}: "
                "parquet pushdown on it can skip data, so revisit ago()'s "
                "default cutoff, which trades that pushdown away "
                "(functions/timestream.py)")


def test_ago_filters_a_stream(spark):
    """``ago()``'s default cutoff (a scalar subquery) works in a
    streaming filter and keeps only the in-window rows."""
    from aws_cloudfront_realtime_monitoring_spark.functions.timestream import ago

    now = float(int(time.time()))
    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "batch.txt"), "w") as f:
            for i, hours in enumerate((1, 2, 48)):
                f.write(make_line(now - hours * 3600, f"req-{i}", "IAD66-C1", 100) + "\n")
        recent = stream_log_lines(spark, d).where(F.col("timestamp") >= ago("24h"))
        got = {r.x_edge_request_id
               for r in drain_to_parquet(recent.select("x_edge_request_id")).collect()}
    assert got == {"req-0", "req-1"}


def test_streaming_source_sampling(spark, replay_dir):
    parsed = stream_log_lines(spark, replay_dir, sample_fraction=0.5)
    n = drain_to_parquet(parsed.select("x_edge_request_id")).count()
    assert 0 < n < 22


def test_stateful_running_totals_across_batches(spark, replay_dir):
    """Update-mode aggregate state must carry across micro-batches
    (maxFilesPerTrigger=1 -> one batch per file)."""
    from aws_cloudfront_realtime_monitoring_spark.streaming.stateful import (
        running_totals_stream,
    )

    parsed = stream_log_lines(spark, replay_dir, max_files_per_trigger=1)
    totals = drain_to_parquet(running_totals_stream(parsed), "update")
    rows = totals.groupBy("x_edge_location").agg(
        F.max("n").alias("n"), F.max("total_bytes").alias("t")).collect()
    got = {r.x_edge_location: (r.n, r.t) for r in rows}
    assert got["IAD66-C1"] == (10, 1000)
    assert got["FRA56-P2"] == (11, 550)  # includes the duplicate record
    assert got["SIN2-C1"] == (1, 999)


def test_retention_partition_drop(spark, replay_dir):
    """D6: retention = partition drop (template.yaml:203-205 semantics)."""
    from datetime import date
    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        drop_partitions_older_than,
        list_date_partitions,
        read_sink,
    )

    with tempfile.TemporaryDirectory() as out:
        sink_dir = os.path.join(out, "data")
        q = write_partitioned_parquet(
            stream_log_lines(spark, replay_dir), sink_dir, os.path.join(out, "ck")
        ).start()
        q.processAllAvailable()
        q.stop()
        parts = list_date_partitions(sink_dir)
        assert len(parts) == 3  # 2020-10-11 (late record), 2020-10-13, 2020-10-14
        # dry run drops nothing
        would = drop_partitions_older_than(sink_dir, date(2020, 10, 13), dry_run=True)
        assert len(would) == 1 and len(list_date_partitions(sink_dir)) == 3
        dropped = drop_partitions_older_than(sink_dir, date(2020, 10, 13))
        assert len(dropped) == 1
        # streaming sinks keep a _spark_metadata log that still lists the
        # dropped files; read_sink bypasses it via explicit partition paths
        remaining = read_sink(spark, sink_dir)
        assert remaining.count() == 21  # late 999-byte record retired
        assert remaining.where(F.col("x_edge_location") == "SIN2-C1").count() == 0


def test_streaming_sliding_window(spark, replay_dir):
    """Sliding 1h/15m windows over the stream: each record lands in 4
    overlapping windows."""
    parsed = stream_log_lines(spark, replay_dir)
    agg = (
        parsed.withWatermark("timestamp", "24 hours")
        .groupBy(F.window("timestamp", "1 hour", "15 minutes"), "x_edge_location")
        .agg(F.count("*").alias("n"))
    )
    rows = drain_to_parquet(agg, "complete").select(
        F.col("window.start").alias("s"), F.col("x_edge_location").alias("e"),
        "n").collect()
    iad = [r for r in rows if r.e == "IAD66-C1"]
    # 10 IAD records spread over 9 min starting 23:00 -> windows starting
    # 22:15..23:00; the 23:00 window holds all 10
    by_start = {r.s.isoformat(): r.n for r in iad}
    assert by_start["2020-10-13T23:00:00"] == 10
    assert len(by_start) >= 4


def test_streaming_session_window(spark, replay_dir):
    """session_window in streaming mode with watermark: per-edge sessions
    with 30 min gap."""
    parsed = stream_log_lines(spark, replay_dir)
    agg = (
        parsed.withWatermark("timestamp", "24 hours")
        .groupBy(F.session_window("timestamp", "30 minutes"), "x_edge_location")
        .agg(F.count("*").alias("n"))
    )
    rows = drain_to_parquet(agg, "complete").collect()
    got = {(r.x_edge_location, r.n) for r in rows}
    # IAD burst (10 within 9 min) = one session; FRA 11 (incl dup) = one
    assert ("IAD66-C1", 10) in got
    assert ("FRA56-P2", 11) in got
    assert ("SIN2-C1", 1) in got


def test_foreach_batch_grouped_flush(spark, replay_dir):
    """A16/A17 parity: 100-record buffered flush (here 8 to exercise the
    remainder path) via foreachBatch + foreachPartition grouping."""
    import glob
    from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
        write_foreach_batch_grouped,
    )

    with tempfile.TemporaryDirectory() as d:
        log_dir = os.path.join(d, "calls")
        os.makedirs(log_dir)

        def handler(rows):
            # executor-side: record each flush size
            import os as _os, uuid

            assert 0 < len(rows) <= 8
            with open(_os.path.join(log_dir, uuid.uuid4().hex), "w") as f:
                f.write(str(len(rows)))

        parsed = stream_log_lines(spark, replay_dir).coalesce(1)
        q = write_foreach_batch_grouped(parsed, handler, flush_size=8).start()
        q.processAllAvailable()
        q.stop()
        sizes = sorted(int(open(p).read()) for p in glob.glob(f"{log_dir}/*"))
        assert sum(sizes) == 22          # every record flushed exactly once
        assert all(s <= 8 for s in sizes)
        assert sizes.count(8) >= 2       # full buffers + remainder flushes


def test_kafka_source_options_reference_parity():
    """Config-level parity with the reference's event-source mapping
    (template.yaml:26-33): 1000-record batch cap, LATEST start."""
    from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
        KAFKA_DEFAULTS,
        kafka_source_options,
    )

    opts = kafka_source_options("broker:9092", "cf-logs")
    assert opts["maxOffsetsPerTrigger"] == "1000"      # template.yaml:31
    assert opts["startingOffsets"] == "latest"         # template.yaml:30
    assert opts["subscribe"] == "cf-logs"
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["failOnDataLoss"] == "false"
    assert KAFKA_DEFAULTS["trigger_seconds"] == 10     # template.yaml:32
    # r11 review: fail loud BEFORE .load() -- an invalid offsets
    # spelling (the Kinesis constant pasted here, or a typo) must not
    # survive as a plausible config map; JSON offset specs still pass
    import pytest

    with pytest.raises(ValueError, match="startingOffsets"):
        kafka_source_options("b:9092", "t", starting_position="TRIM_HORIZON")
    with pytest.raises(ValueError, match="startingOffsets"):
        kafka_source_options("b:9092", "t", starting_position="lastest")
    js = kafka_source_options(
        "b:9092", "t", starting_position='{"t":{"0":42}}'
    )
    assert js["startingOffsets"] == '{"t":{"0":42}}'

    tuned = kafka_source_options("b:9092", "t", max_records_per_trigger=500,
                                 starting_position="earliest")
    assert tuned["maxOffsetsPerTrigger"] == "500"
    assert tuned["startingOffsets"] == "earliest"


def test_foreach_batch_grouped_rejects_zero_flush_size(spark):
    """r11 review: flush_size=0 silently disabled chunking (len(buf)
    never equals 0 after an append) and buffered whole partitions --
    the same falsy-zero trap stream_log_lines was hardened against."""
    import pytest

    from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
        write_foreach_batch_grouped,
    )

    with pytest.raises(ValueError, match="flush_size"):
        write_foreach_batch_grouped(
            spark.range(1), handler=lambda rows: None, flush_size=0
        )


def test_kinesis_source_options_reference_parity():
    """Config-level parity with the reference's ACTUAL transport, the
    Kinesis event-source mapping (template.yaml:26-33): per-shard
    1000-record fetch cap (BatchSize is per shard -- one Lambda per
    shard), LATEST start, replay-safe data-loss handling."""
    import pytest

    from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
        kinesis_source_options,
    )

    opts = kinesis_source_options("cf-log-stream", "us-east-1")
    assert opts["kinesis.maxFetchRecordsPerShard"] == "1000"  # template.yaml:31
    assert opts["kinesis.startingPosition"] == "LATEST"       # template.yaml:30
    assert opts["kinesis.streamName"] == "cf-log-stream"
    assert opts["kinesis.region"] == "us-east-1"
    assert opts["kinesis.failOnDataLoss"] == "false"

    tuned = kinesis_source_options(
        "s", "eu-west-1", max_records_per_shard_per_trigger=500,
        starting_position="trim_horizon",
    )
    assert tuned["kinesis.maxFetchRecordsPerShard"] == "500"
    assert tuned["kinesis.startingPosition"] == "TRIM_HORIZON"

    with pytest.raises(ValueError, match="startingPosition"):
        kinesis_source_options("s", "r", starting_position="yesterday")


def test_sliding_window_stream_equals_batch(spark, sf_dir):
    """Sliding windows (2h window, 1h slide) computed by a REAL streaming
    query in complete mode must equal the batch sliding-window aggregate
    over the same events -- every event lands in two overlapping windows in
    both engines."""
    from pyspark.sql import functions as F

    from aws_cloudfront_realtime_monitoring_spark.sources.tables import (
        load_table,
        stream_dir,
    )

    path = stream_dir(spark, sf_dir, "events")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    agg = (
        stream.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    got = {
        (r.ws, r.event_type): r.n
        for r in drain_to_parquet(agg, "complete").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    want = {(r.ws, r.event_type): r.n for r in batch.collect()}
    assert got == want and len(want) > 0


def _write_chunk_files(d, keys_per_file):
    """One wire file per micro-batch: file ``b`` holds one record per
    ``(edge, sc_bytes)`` pair in ``keys_per_file[b]``. The file source
    takes files oldest first, so each file gets its own modification
    time: files written within one clock tick would arrive in any
    order."""
    seq = 0
    for b, recs in enumerate(keys_per_file):
        path = os.path.join(d, f"b{b}.txt")
        with open(path, "w") as f:
            for edge, nbytes in recs:
                f.write(make_line(BASE_TS + seq * 60, f"req-c-{seq}", edge,
                                  nbytes) + "\n")
                seq += 1
        mtime = time.time() - 60 + b
        os.utime(path, (mtime, mtime))


def _flushed_chunks(spark, d, max_files_per_trigger, chunk_size=4):
    from aws_cloudfront_realtime_monitoring_spark.streaming.stateful import (
        chunked_flush_stream,
    )

    parsed = stream_log_lines(spark, d, max_files_per_trigger=max_files_per_trigger)
    chunks = drain_to_parquet(chunked_flush_stream(parsed, chunk_size=chunk_size))
    return sorted(
        (r.x_edge_location, r.chunk_id, r.n_records, r.chunk_bytes)
        for r in chunks.collect()
    )


def test_chunked_flush_spans_micro_batches(spark):
    """Chunk boundaries must span micro-batch boundaries via the state
    store: 9 records for one key over three single-file batches with
    chunk_size=4 yield exactly chunks (4, 4) and a 1-record carry that
    never emits."""
    with tempfile.TemporaryDirectory() as d:
        _write_chunk_files(
            d, [[("E1", b * 3 + i + 1) for i in range(3)] for b in range(3)])
        got = _flushed_chunks(spark, d, max_files_per_trigger=1)
    # bytes are 1..9 per record: chunk1 = 1+2+3+4, chunk2 = 5+6+7+8; the
    # 9th record stays pending in state
    assert got == [("E1", 1, 4, 10), ("E1", 2, 4, 26)]


def test_chunked_flush_same_chunks_however_batched(spark):
    """The same records give the same chunks as three single-file
    micro-batches or as one batch. No file holds a whole chunk of any
    key, so the split run emits only through the state-store carry.
    Each key's records carry one byte count, so the chunks cannot depend
    on the order rows reach the state function within a batch."""
    files = [
        [("E1", 5)] * 3 + [("E2", 2)] * 2,
        [("E2", 2)] * 3 + [("E1", 5)] * 3,
        [("E1", 5)] * 3 + [("E2", 2)] * 2,
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_chunk_files(d, files)
        split = _flushed_chunks(spark, d, max_files_per_trigger=1)
        whole = _flushed_chunks(spark, d, max_files_per_trigger=None)
    assert split == whole == [
        ("E1", 1, 4, 20), ("E1", 2, 4, 20), ("E2", 1, 4, 8),
    ]


def test_running_totals_plan_has_no_python_exec(spark, replay_dir):
    """Running totals are a built-in aggregate: no Python worker in the
    plan. The chunk flush's plan is the positive control, so the node
    names checked are the ones this Spark prints."""
    import contextlib
    import io

    from aws_cloudfront_realtime_monitoring_spark.streaming.stateful import (
        chunked_flush_stream,
        running_totals_stream,
    )

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    python_nodes = ("InPandas", "EvalPython", "PythonUDF")
    parsed = stream_log_lines(spark, replay_dir)
    assert any(n in plan(chunked_flush_stream(parsed)) for n in python_nodes)
    totals = plan(running_totals_stream(parsed))
    assert "HashAggregate" in totals
    assert not any(n in totals for n in python_nodes), totals


def test_chunk_cut_arithmetic_pure():
    """The chunk-boundary math behind chunked_flush_stream, driven directly
    (the arithmetic is the part that can be wrong): carries accumulate
    across batches, every completed chunk sums exactly chunk_size records'
    bytes, leftovers never emit."""
    import pandas as pd

    from aws_cloudfront_realtime_monitoring_spark.streaming.stateful import (
        _cut_chunks,
    )

    carry = (0, 0, 0)
    frames = []
    # 9 records with bytes 1..9, delivered 3 per batch, chunk_size=4
    for b in range(3):
        s = pd.Series([b * 3 + i + 1 for i in range(3)])
        out, carry = _cut_chunks("E1", s, carry, 4, "loc")
        if out is not None:
            frames.append(out)
    got = pd.concat(frames, ignore_index=True)
    assert got["chunk_id"].tolist() == [1, 2]
    assert got["chunk_bytes"].tolist() == [10, 26]  # 1+2+3+4, 5+6+7+8
    assert got["n_records"].tolist() == [4, 4]
    assert carry == (1, 9, 2)  # the 9th record (9 bytes) stays pending
    # a batch bigger than several chunks flushes them all at once
    out, carry = _cut_chunks("E1", pd.Series([1] * 11, dtype="int64"), carry, 4, "loc")
    assert out["chunk_id"].tolist() == [3, 4, 5]
    assert out["chunk_bytes"].tolist() == [9 + 1 + 1 + 1, 4, 4]
    assert carry == (0, 0, 5)
    # NULL bytes count as 0 (parser sentinel -> NULL)
    out, carry = _cut_chunks("E1", pd.Series([None, 2, None, 5], dtype="float64"), carry, 4, "loc")
    assert out["chunk_bytes"].tolist() == [7]
    assert carry == (0, 0, 6)


def test_chunk_cut_batch_split_invariance():
    """Property: the emitted chunks depend only on the record sequence,
    never on how micro-batches split it — the exactly-once guarantee the
    state carry exists to provide."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from aws_cloudfront_realtime_monitoring_spark.streaming.stateful import (
        _cut_chunks,
    )

    def run(vals, cuts, chunk_size):
        carry, frames = (0, 0, 0), []
        for lo, hi in zip([0] + cuts, cuts + [len(vals)]):
            out, carry = _cut_chunks(
                "k", pd.Series(vals[lo:hi], dtype="int64"), carry, chunk_size, "g"
            )
            if out is not None:
                frames.append(out)
        if not frames:
            return [], carry
        cat = pd.concat(frames, ignore_index=True)
        return list(zip(cat["chunk_id"], cat["chunk_bytes"])), carry

    @settings(max_examples=200, deadline=None)
    @given(
        vals=st.lists(st.integers(0, 1000), max_size=60),
        data=st.data(),
        chunk_size=st.integers(1, 10),
    )
    def check(vals, data, chunk_size):
        cuts = sorted(
            data.draw(
                st.lists(st.integers(0, len(vals)), max_size=6), label="cuts"
            )
        )
        whole, carry_whole = run(vals, [], chunk_size)
        split, carry_split = run(vals, cuts, chunk_size)
        assert split == whole
        assert carry_split == carry_whole
        assert len(whole) == len(vals) // chunk_size
        assert carry_whole[0] == len(vals) % chunk_size
        # BYTE conservation: every record's bytes land in exactly one
        # flushed chunk or the pending carry (the old spelling was an
        # algebraic tautology that could not fail -- r7 review)
        assert sum(b for _, b in whole) + carry_whole[1] == sum(vals)

    check()


def _soak_state_rows(build_query):
    """Start the stream, run it to completion, and return the per-batch
    ``numRowsTotal`` of its state operator (empty batches excluded)."""
    q = build_query()
    try:
        q.processAllAvailable()
        rows = []
        for p in q.recentProgress:
            ops = p.get("stateOperators") or []
            if ops and p.get("numInputRows", 0) > 0:
                rows.append(ops[0]["numRowsTotal"])
        return rows
    finally:
        q.stop()


@pytest.mark.parametrize("shape", ["window", "dedup", "session", "join"])
def test_streaming_state_plateaus_across_watermark_horizons(spark, shape):
    """State-size soak (SCALE.md's 'state bounded by key cardinality x
    watermark horizon, never stream length' claim, measured): drive each
    stateful stream shape over 18 micro-batches whose event time spans
    6x the 1 h watermark horizon and assert from StreamingQueryProgress
    that state ROWS PLATEAU -- the last-third maximum must not exceed
    the middle-third maximum (watermark eviction keeps up), and the
    final state must stay far below total input rows (no unbounded
    accumulation)."""
    n_batches, step_s, per_batch = 18, 2400, 20  # 40 min apart, 6 h span
    # ignore_cleanup_errors on the CHECKPOINT dir (r18): the state-store
    # maintenance thread snapshots asynchronously after query.stop(), and
    # on a slow box its .snapshot.tmp writes race the tempdir's rmtree --
    # observed as a teardown-only "Directory not empty" flake with the
    # test body fully passed. Leftover files are in /tmp and harmless.
    with tempfile.TemporaryDirectory() as d, tempfile.TemporaryDirectory(
            ignore_cleanup_errors=True) as ck:
        for b in range(n_batches):
            path = os.path.join(d, f"b{b:03d}.txt")
            with open(path, "w") as f:
                for i in range(per_batch):
                    ts = BASE_TS + b * step_s + i * 10
                    f.write(
                        make_line(ts, f"req-{b}-{i}", f"EDGE{i % 5}", 100)
                        + "\n"
                    )
            # the file source processes files in MODIFICATION-TIME order;
            # 18 files written within one clock tick tie, and a tie broken
            # against event-time order jumps the watermark ahead of unread
            # batches (late-dropping them and randomizing eviction) --
            # pin strictly ascending mtimes so replay order IS event order
            os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
        parsed = stream_log_lines(spark, d)  # maxFilesPerTrigger=1
        if shape == "window":
            out = hourly_bytes_stream(parsed, watermark="1 hour")
        elif shape == "dedup":
            out = dedup_stream(parsed, watermark="1 hour")
        elif shape == "join":
            # stream-stream interval self-join: BOTH sides buffer rows in
            # state; the event-time bound + watermarks must evict them
            left = (
                stream_log_lines(spark, d)
                .select(
                    F.col("x_edge_request_id").alias("lid"),
                    F.col("x_edge_location").alias("lloc"),
                    F.col("timestamp").alias("lts"),
                )
                .withWatermark("lts", "1 hour")
            )
            right = (
                stream_log_lines(spark, d)
                .select(
                    F.col("x_edge_location").alias("rloc"),
                    F.col("timestamp").alias("rts"),
                )
                .withWatermark("rts", "1 hour")
            )
            out = left.join(
                right,
                (F.col("lloc") == F.col("rloc"))
                & (F.col("rts") >= F.col("lts"))
                & (F.col("rts") < F.col("lts") + F.expr("INTERVAL 30 MINUTES")),
                "inner",
            )
        else:
            out = (
                parsed.withWatermark("timestamp", "1 hour")
                .groupBy(
                    F.session_window("timestamp", "30 minutes"),
                    F.col("x_edge_location"),
                )
                .count()
            )

        def build():
            return (
                out.writeStream.format("noop")
                .option("checkpointLocation", ck)
                .outputMode("append")
                .start()
            )

        state_rows = _soak_state_rows(build)
        assert len(state_rows) >= 12  # the soak really spanned many batches
        third = len(state_rows) // 3
        mid = max(state_rows[third:2 * third])
        late = max(state_rows[2 * third:])
        total_input = n_batches * per_batch
        # plateau: eviction keeps up once the first horizon has passed
        assert late <= mid, (shape, state_rows)
        # bounded: state never approaches stream length
        assert max(state_rows) < total_input / 2, (shape, state_rows)


def test_compact_partition_preserves_rows_and_shrinks_files(spark):
    """OPTIMIZE-style compaction: a partition of many tiny files rewrites
    to few target-sized files with the exact same rows (order-insensitive
    multiset equality), atomically."""
    import glob

    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        compact_partition,
    )

    with tempfile.TemporaryDirectory() as d:
        part = os.path.join(d, "event_date=2024-01-01")
        # 16 one-row-ish files: the streaming-sink small-file shape
        spark.range(320).selectExpr(
            "id", "CAST(id % 7 AS STRING) AS k"
        ).repartition(16).write.parquet(part)
        before_files = glob.glob(os.path.join(part, "*.parquet"))
        assert len(before_files) == 16
        before_rows = sorted(
            (r.id, r.k) for r in spark.read.parquet(part).collect()
        )
        n_before, n_after = compact_partition(
            spark, part, target_file_bytes=10**9
        )
        assert (n_before, n_after) == (16, 1)
        after_rows = sorted(
            (r.id, r.k) for r in spark.read.parquet(part).collect()
        )
        assert after_rows == before_rows
        # missing partition fails loudly
        import pytest as _pytest

        with _pytest.raises(ValueError):
            compact_partition(spark, os.path.join(d, "nope"))


def test_compact_partition_recovers_crashed_swap(spark):
    """Crash-recovery contract: deterministic tmp/old names let a later
    run repair any state a crashed compaction left behind -- a stranded
    .compact-old with no live partition is restored, stale .compact-tmp
    and already-swapped .compact-old are removed."""
    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        compact_partition,
    )

    with tempfile.TemporaryDirectory() as d:
        part = os.path.join(d, "event_date=2024-01-02")
        spark.range(50).write.parquet(part)
        rows = sorted(r.id for r in spark.read.parquet(part).collect())
        # sidecars are dot-prefixed siblings (r11: hidden from Spark's
        # partition discovery)
        side = os.path.join(d, ".event_date=2024-01-02")
        # simulate a crash between the two renames: partition absent,
        # original stranded in .compact-old, stale tmp lying around
        os.rename(part, side + ".compact-old")
        os.makedirs(side + ".compact-tmp")
        _nb, n_after = compact_partition(spark, part, target_file_bytes=10**9)
        assert n_after == 1
        assert sorted(r.id for r in spark.read.parquet(part).collect()) == rows
        assert not os.path.exists(side + ".compact-old")
        assert not os.path.exists(side + ".compact-tmp")
        # a leftover .old AFTER a successful swap is cleaned on entry
        os.makedirs(side + ".compact-old")
        compact_partition(spark, part, target_file_bytes=10**9)
        assert not os.path.exists(side + ".compact-old")
        assert sorted(r.id for r in spark.read.parquet(part).collect()) == rows


def test_compact_partition_lock_blocks_concurrent_run(spark):
    """The compaction lock keeps a retry from destroying a LIVE run's
    scratch state: a held lock raises, and a lock whose holder exited
    without unlocking is free again, so compaction proceeds."""
    import fcntl
    import subprocess
    import sys

    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        compact_partition,
    )

    with tempfile.TemporaryDirectory() as d:
        part = os.path.join(d, "event_date=2024-01-04")
        spark.range(30).write.parquet(part)
        lock = os.path.join(d, ".event_date=2024-01-04.compact-lock")
        # live holder -> refused
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            with pytest.raises(ValueError, match="already in progress"):
                compact_partition(spark, part, target_file_bytes=10**9)
        finally:
            os.close(fd)
        # a child locks and exits without unlocking -> the kernel
        # released its lock, compaction proceeds
        subprocess.run(
            [sys.executable, "-c",
             "import fcntl, os, sys; "
             "fd = os.open(sys.argv[1], os.O_RDWR); "
             "fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)", lock],
            check=True)
        _nb, n_after = compact_partition(spark, part, target_file_bytes=10**9)
        assert n_after == 1
        # the lock is free after the run
        fd = os.open(lock, os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        finally:
            os.close(fd)


def test_compact_partition_ignores_stale_pid_in_lock_file(spark):
    """A lock file left by an older pid-file lock, naming a pid that now
    belongs to some unrelated LIVE process, must not block compaction:
    only a held flock does (the pid-file lock refused until that
    process exited)."""
    import subprocess

    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        compact_partition,
    )

    with tempfile.TemporaryDirectory() as d:
        part = os.path.join(d, "event_date=2024-01-06")
        spark.range(30).write.parquet(part)
        lock = os.path.join(d, ".event_date=2024-01-06.compact-lock")
        bystander = subprocess.Popen(["sleep", "60"])
        try:
            with open(lock, "w") as f:
                f.write(str(bystander.pid))
            _nb, n_after = compact_partition(spark, part,
                                             target_file_bytes=10**9)
            assert n_after == 1
            assert bystander.poll() is None  # still alive throughout
        finally:
            bystander.kill()
            bystander.wait()
        assert spark.read.parquet(part).count() == 30


def test_connector_wrappers_reject_misnamed_overrides(spark):
    """Connectors silently ignore unrecognized options, so a mis-named
    override (e.g. the builder's own parameter spelling passed as a raw
    key) must raise instead of leaving the default silently in force;
    the real tuning knobs are named wrapper parameters that reach the
    validated builders."""
    from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
        kafka_source_options,
        kinesis_source_options,
        stream_kafka_lines,
        stream_kinesis_lines,
    )

    with pytest.raises(ValueError, match="unknown Kinesis option"):
        stream_kinesis_lines(spark, "s", "us-east-1",
                             startingPosition="TRIM_HORIZON")
    with pytest.raises(ValueError, match="unknown Kafka option"):
        stream_kafka_lines(spark, "b:9092", "t", max_records=500)
    # the named knobs flow through to the validated builders
    assert kinesis_source_options("s", "r", 500, "trim_horizon")[
        "kinesis.startingPosition"] == "TRIM_HORIZON"
    assert kafka_source_options("b", "t", 500)["maxOffsetsPerTrigger"] == "500"
    with pytest.raises(ValueError):
        kinesis_source_options("s", "r", starting_position="nonsense")


def test_dedup_stream_passes_null_request_ids_through(spark, replay_dir):
    """NULL request ids (the '-' sentinel) must not dedup against each
    other: dropDuplicates treats NULL keys as equal, which would keep
    ONE id-less record per watermark horizon and drop the rest."""
    from aws_cloudfront_realtime_monitoring_spark.sources.cf_logs import to_wire_line
    from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
        dedup_stream,
    )

    lines = []
    for i in range(4):
        row = {"timestamp": f"{1704100000 + i}.000", "sc-bytes": str(10 + i),
               "c-ip": f"1.2.3.{i}", "sc-status": "200"}
        if i < 2:
            row["x-edge-request-id"] = "SAME-ID"  # real duplicates: collapse
        # i >= 2: no request id -> parser NULL -> must pass through
        lines.append(to_wire_line(row))
    d = os.path.join(replay_dir, "null_dedup")
    os.makedirs(d)
    with open(os.path.join(d, "f0.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    parsed = stream_log_lines(spark, d)
    out = dedup_stream(parsed)
    rows = drain_to_parquet(out.select("c_ip", "x_edge_request_id")).collect()
    ids = sorted((r.c_ip, r.x_edge_request_id) for r in rows)
    # the two SAME-ID rows collapse to one; both NULL-id rows survive
    assert len([r for r in ids if r[1] == "SAME-ID"]) == 1
    assert len([r for r in ids if r[1] is None]) == 2


def test_cut_chunks_rejects_stale_or_degenerate_chunk_size():
    """A checkpointed carry only satisfies pending < chunk_size for the
    size it was built with; a restart with a smaller chunk_size must
    fail loudly instead of emitting wraparound-corrupted chunks."""
    import pandas as pd

    from aws_cloudfront_realtime_monitoring_spark.streaming.stateful import (
        _cut_chunks,
    )

    with pytest.raises(ValueError, match="pending=7 >= chunk_size=4"):
        _cut_chunks("k", pd.Series([1, 1, 1]), (7, 70, 2), 4, "g")
    with pytest.raises(ValueError, match="chunk_size"):
        _cut_chunks("k", pd.Series([1]), (0, 0, 0), 0, "g")


def test_compact_lock_refuses_while_held_and_frees_on_release():
    """Acquire/release cycles: while a descriptor holds the lock, a second
    acquire (a fresh open file, as another thread or process would
    have) refuses; closing the holder's descriptor frees it at once."""
    import tempfile as _tf

    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        _acquire_compact_lock,
    )

    with _tf.TemporaryDirectory() as d:
        lock = os.path.join(d, "p.compact-lock")
        for _ in range(50):
            fd = _acquire_compact_lock(lock, "p")
            with pytest.raises(ValueError, match="already in progress"):
                _acquire_compact_lock(lock, "p")
            os.close(fd)


def test_compact_lock_file_is_never_unlinked(spark):
    """The lock file keeps its inode across runs and refusals: an unlink
    after an unlock would let a run holding the old inode and a run that
    created a new one compact at the same time."""
    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        _acquire_compact_lock,
        compact_partition,
    )

    with tempfile.TemporaryDirectory() as d:
        part = os.path.join(d, "event_date=2024-01-07")
        spark.range(30).write.parquet(part)
        lock = os.path.join(d, ".event_date=2024-01-07.compact-lock")
        fd = _acquire_compact_lock(lock, part)
        inode = os.stat(lock).st_ino
        try:
            with pytest.raises(ValueError, match="already in progress"):
                compact_partition(spark, part, target_file_bytes=10**9)
            assert os.stat(lock).st_ino == inode
        finally:
            os.close(fd)
        compact_partition(spark, part, target_file_bytes=10**9)
        assert os.stat(lock).st_ino == inode


def test_compact_partition_concurrent_threads_one_winner(spark):
    """Six same-process threads race one partition: exactly one compacts,
    the rest refuse CLEANLY ("already in progress"), and no lock or temp
    file survives. Pins the r9 verify-drive bug where the temp-lock name
    was keyed on pid alone, so sibling threads truncated/unlinked each
    other's temp file and crashed with FileNotFoundError."""
    import glob as _glob
    import threading

    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        compact_partition,
    )

    with tempfile.TemporaryDirectory() as d:
        part = os.path.join(d, "event_date=2024-01-05")
        spark.range(200).repartition(4).write.parquet(part)
        results = []

        def run():
            try:
                results.append(compact_partition(spark, part,
                                                 target_file_bytes=10**9))
            except ValueError as e:
                results.append(str(e))

        ts = [threading.Thread(target=run) for _ in range(6)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        wins = [r for r in results if isinstance(r, tuple)]
        refusals = [r for r in results
                    if isinstance(r, str) and "already in progress" in r]
        assert len(wins) == 1 and len(refusals) == 5, results
        assert not os.path.exists(part + ".compact-lock")
        # no non-hidden lock litter (the hidden lock file itself stays
        # by design, see compact_partition)
        leftovers = [p for p in _glob.glob(part + ".compact-lock.*")
                     if not p.endswith(".guard")]
        assert not leftovers, leftovers
        assert spark.read.parquet(part).count() == 200


def test_compact_partition_nested_layout_stays_readable(spark):
    """r11 review: the permanent lock-guard sidecar used to be a
    NON-hidden sibling (event_hour=5.compact-lock.guard) inside the
    date dir of the documented nested D6 layout -- Spark's partition
    discovery listed it as a mis-placed leaf and every later read of
    the date dir failed. Sidecars are dot-prefixed now; the whole sink
    must stay readable after compacting an hour leaf."""
    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        compact_partition,
    )

    with tempfile.TemporaryDirectory() as d:
        sink = os.path.join(d, "sink")
        spark.range(40).selectExpr(
            "id", "DATE'2024-01-01' AS event_date", "id % 2 AS event_hour"
        ).repartition(4).write.partitionBy(
            "event_date", "event_hour"
        ).parquet(sink)
        leaf = os.path.join(sink, "event_date=2024-01-01", "event_hour=0")
        _nb, n_after = compact_partition(spark, leaf, target_file_bytes=10**9)
        assert n_after == 1
        # no non-hidden sidecar leaked into the date dir
        date_dir = os.path.join(sink, "event_date=2024-01-01")
        leaked = [f for f in os.listdir(date_dir)
                  if not f.startswith((".", "_")) and "compact" in f]
        assert leaked == []
        # the full sink (and the date dir) still read + partition-infer
        assert spark.read.parquet(sink).count() == 40
        assert spark.read.parquet(date_dir).count() == 40


def test_compact_partition_migrates_legacy_nonhidden_sidecars(spark):
    """Pre-dot-prefix crash recovery (r11 advice): a NON-hidden
    '<partition>.compact-old' left by an old crashed run -- possibly the
    only copy of the data -- is migrated and restored; legacy tmp/lock
    litter that breaks partition discovery is removed."""
    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        compact_partition,
    )

    with tempfile.TemporaryDirectory() as d:
        part = os.path.join(d, "event_date=2024-01-05")
        spark.range(40).write.parquet(part)
        rows = sorted(r.id for r in spark.read.parquet(part).collect())
        # old-version crash between the two renames: partition absent,
        # original stranded under the LEGACY (non-hidden) name, plus
        # legacy tmp/lock litter
        os.rename(part, part + ".compact-old")
        os.makedirs(part + ".compact-tmp")
        for litter in (part + ".compact-lock", part + ".compact-lock.guard"):
            with open(litter, "w") as f:
                f.write("0")
        _nb, n_after = compact_partition(spark, part, target_file_bytes=10**9)
        assert n_after == 1
        assert sorted(r.id for r in spark.read.parquet(part).collect()) == rows
        for leftover in (".compact-old", ".compact-tmp", ".compact-lock",
                         ".compact-lock.guard"):
            assert not os.path.exists(part + leftover)
        # legacy .compact-old NEXT TO a live partition is a post-swap
        # duplicate: removed, live data untouched
        os.makedirs(part + ".compact-old")
        compact_partition(spark, part, target_file_bytes=10**9)
        assert not os.path.exists(part + ".compact-old")
        assert sorted(r.id for r in spark.read.parquet(part).collect()) == rows


def test_connector_override_gates_revalidate(spark):
    """r12 review: an override of the VALIDATED key used to bypass the
    builder's check and fail only at .load() on a real cluster; a second
    subscription mode conflicted at the connector level."""
    from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
        stream_kafka_lines,
        stream_kinesis_lines,
    )

    with pytest.raises(ValueError, match="startingOffsets"):
        stream_kafka_lines(spark, "b:9092", "t",
                           startingOffsets="TRIM_HORIZON")
    with pytest.raises(ValueError, match="conflicts"):
        stream_kafka_lines(spark, "b:9092", "t", assign='{"t":[0]}')
    with pytest.raises(ValueError, match="startingPosition"):
        stream_kinesis_lines(
            spark, "s", "us-east-1",
            **{"kinesis.startingPosition": "lastest"})


def test_chunked_flush_rejects_bad_chunk_size(spark):
    from aws_cloudfront_realtime_monitoring_spark.streaming.stateful import (
        chunked_flush_stream,
    )

    with pytest.raises(ValueError, match="chunk_size"):
        chunked_flush_stream(spark.range(1), chunk_size=0)


def test_time_partitions_null_ts_lands_in_epoch_partition(spark):
    """NULL timestamps map to the 1970-01-01/0 partition (retention can
    age it out) instead of __HIVE_DEFAULT_PARTITION__ (retention never
    touches it) -- r12 review."""
    from datetime import date

    from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
        with_time_partitions,
    )

    df = spark.createDataFrame(
        [("2026-01-02 03:04:05",), (None,)], "ts_str STRING"
    ).select(F.col("ts_str").cast("timestamp").alias("timestamp"))
    rows = {(r.event_date, r.event_hour)
            for r in with_time_partitions(df).collect()}
    assert rows == {(date(2026, 1, 2), 3), (date(1970, 1, 1), 0)}


def test_retention_reaps_dropped_partitions_compaction_sidecars(tmp_path):
    """r13 review: a compaction that crashed after its swap leaves
    .<partition>.compact-old holding a FULL COPY of the partition's
    rows; partition listing skips dot-prefixed names, so retention used
    to leave the expired copy on disk forever."""
    import os
    from datetime import date

    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        drop_partitions_older_than,
    )

    sink = str(tmp_path)
    old_part = os.path.join(sink, "event_date=2020-01-01")
    new_part = os.path.join(sink, "event_date=2024-01-01")
    os.makedirs(old_part)
    os.makedirs(new_part)
    stranded = os.path.join(sink, ".event_date=2020-01-01.compact-old")
    os.makedirs(stranded)
    with open(os.path.join(stranded, "part-0.parquet"), "w") as f:
        f.write("x")
    with open(os.path.join(sink, ".event_date=2020-01-01.compact-lock"),
              "w") as f:
        f.write("0")
    keep_side = os.path.join(sink, ".event_date=2024-01-01.compact-old")
    os.makedirs(keep_side)

    dropped = drop_partitions_older_than(sink, date(2023, 1, 1))
    assert dropped == [old_part]
    assert not os.path.exists(old_part)
    assert not os.path.exists(stranded)          # the full-copy sidecar
    assert not os.path.exists(
        os.path.join(sink, ".event_date=2020-01-01.compact-lock"))
    assert os.path.exists(new_part)              # survivor untouched
    assert os.path.exists(keep_side)             # survivor's sidecar kept


def test_compact_partition_rejects_nonpositive_target(spark, tmp_path):
    import os

    import pytest as _pytest

    from aws_cloudfront_realtime_monitoring_spark.operators.retention import (
        compact_partition,
    )

    part = os.path.join(str(tmp_path), "event_date=2024-01-01")
    os.makedirs(part)
    with _pytest.raises(ValueError, match="target_file_bytes"):
        compact_partition(spark, part, target_file_bytes=0)


def test_connector_overrides_normalize_and_reject_identity_conflicts(
    spark, monkeypatch
):
    """r13 review: the r12 re-validation gate checked the uppercased
    Kinesis override but DISCARDED the normalized map, shipping the raw
    lowercase value to the connector; and 'subscribe' /
    'kinesis.streamName' / 'kinesis.region' overrides silently
    superseded the named parameters (the call read as consuming one
    stream while actually consuming another)."""
    from aws_cloudfront_realtime_monitoring_spark.streaming import ingest

    captured = {}

    def fake_connector(_spark, fmt, opts, _col, _charset, _frac):
        captured[fmt] = dict(opts)

    monkeypatch.setattr(ingest, "_connector_lines", fake_connector)
    ingest.stream_kinesis_lines(
        spark, "s", "us-east-1",
        **{"kinesis.startingPosition": "trim_horizon"})
    assert captured["aws-kinesis"]["kinesis.startingPosition"] == \
        "TRIM_HORIZON"
    with pytest.raises(ValueError, match="conflicts"):
        ingest.stream_kinesis_lines(
            spark, "s", "us-east-1", **{"kinesis.streamName": "other"})
    with pytest.raises(ValueError, match="conflicts"):
        ingest.stream_kinesis_lines(
            spark, "s", "us-east-1", **{"kinesis.region": "eu-west-1"})
    with pytest.raises(ValueError, match="conflicts"):
        ingest.stream_kafka_lines(spark, "b:9092", "t", subscribe="other")


def test_stream_hourly_equiv_drops_null_ts_like_its_oracle(spark, tmp_path,
                                                           private_layout_cache):
    """r13 review: Spark's window() silently drops NULL-event-time rows
    (Catalyst injects an IsNotNull filter) while the DuckDB oracle's
    make_timestamp grouped them into a NULL window_start -- plant a NULL
    ts and pin Spark-vs-DuckDB agreement (fixtures carry no NULL ts, so
    the registry gate alone can never catch this class)."""
    from datetime import datetime

    import duckdb

    from aws_cloudfront_realtime_monitoring_spark.plans import load_full

    q = load_full()["stream_hourly_bytes_equiv"]
    rows = [
        (1, 7, datetime(2024, 1, 8, 1, 10), "view", 1.25),
        (2, 7, datetime(2024, 1, 8, 1, 40), "view", 2.25),
        (3, 8, datetime(2024, 1, 8, 2, 10), "click", 4.00),
        (4, 9, None, "view", 8.00),  # window() drops; oracle must too
    ]
    sdf = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")
    sf_dir = str(tmp_path)
    sdf.write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    got = {(r.window_start, r.event_type): (r.n, r.sum_value)
           for r in q.build(spark, sf_dir).collect()}
    assert len(got) == 2  # the NULL-ts row produced no window
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    want = {(ws, et): (int(n), float(sv))
            for ws, et, n, sv in con.execute(q.oracle).fetchall()}
    assert want == got
    assert not private_layout_cache()


def test_stream_dedup_equiv_counts_null_ids_once(spark, tmp_path,
                                                 private_layout_cache):
    """r14 advice: the NULL-id passthrough used to branch off the
    at-least-once union, so every id-less row was emitted TWICE while
    the oracle counts the table once -- a latent divergence (fixtures
    carry no NULL ids). The passthrough now comes from the pre-union
    stream; plant NULL ids and pin Spark-vs-DuckDB agreement."""
    from datetime import datetime

    import duckdb

    from aws_cloudfront_realtime_monitoring_spark.plans import load_full

    q = load_full()["stream_dedup_equiv"]
    rows = [
        (1, 7, datetime(2024, 1, 8, 1, 10), "view", 1.25),
        (2, 7, datetime(2024, 1, 8, 1, 40), "view", 2.25),
        (None, 8, datetime(2024, 1, 8, 2, 10), "click", 4.00),
        (None, 9, datetime(2024, 1, 8, 2, 20), "click", 8.00),
    ]
    sdf = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")
    sf_dir = str(tmp_path)
    sdf.write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    got = {r.event_type: (r.n, r.sum_value)
           for r in q.build(spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    want = {et: (int(n), float(sv))
            for et, n, sv in con.execute(q.oracle).fetchall()}
    assert want == got  # pre-fix: click counted 4, not 2
    assert not private_layout_cache()


def test_stateful_running_totals_bigint_key(spark, replay_dir):
    """r13 review: the output schema hardcoded the key column as STRING;
    a BIGINT grouping key (sc_status) must keep its input type through
    the Arrow boundary."""
    from aws_cloudfront_realtime_monitoring_spark.streaming.stateful import (
        running_totals_stream,
    )

    parsed = stream_log_lines(spark, replay_dir)
    totals = running_totals_stream(parsed, group_col="sc_status")
    assert dict(totals.dtypes)["sc_status"] == \
        dict(parsed.dtypes)["sc_status"]
    rows = drain_to_parquet(totals, "update").groupBy("sc_status").agg(
        F.max("n").alias("n")).collect()
    got = {r.sc_status: r.n for r in rows}
    assert got and all(isinstance(k, int) for k in got)
