"""Structured Streaming ingest: the reference's Kinesis -> Lambda ->
Timestream hot path (SURVEY.md EP1), re-expressed as
``readStream -> parse -> watermark -> windowed agg / dedup -> sink``.

Reference parity mapping:
- Kinesis shard polling, <=1000-rec / <=10 s batches (template.yaml:26-33)
  -> micro-batch trigger (``processingTime``) on any streaming source; a
  file source replays fixture lines in tests.
- the Lambda's parse chain (lambda_function.py:66-119) -> the SAME
  ``parse_log_lines`` used in batch (one code path, both modes).
- Timestream memory-store 24 h ingestion bound (template.yaml:204) ->
  ``withWatermark(timestamp, '24 hours')``: late data beyond the bound is
  dropped from stateful aggregations, exactly the reference's effective
  behavior.
- buffered 100-record WriteRecords flush + raise-on-error at-least-once
  (lambda_function.py:54-60, 121-126) -> checkpointed ``writeStream`` to
  time-partitioned parquet: exactly-once, strictly stronger; partition
  layout (event_date/event_hour) doubles as the retention + pruning unit
  (D6).

Scale: parse is a narrow map; the only stateful shuffle keys are
(window, dimension) -- bounded state per the watermark. Shard-count
parallelism (template.yaml:191) becomes source partitions -> tasks.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.cf_logs import decode_payload_bytes, parse_log_lines


def stream_log_lines(
    spark: SparkSession,
    watch_dir: str,
    max_files_per_trigger: int | None = 1,
    sample_fraction: float | None = None,
) -> DataFrame:
    """File-source replay of wire-format TSV lines -> parsed typed stream.

    ``maxFilesPerTrigger`` stands in for the reference's 1000-record batch
    cap (template.yaml:31); in production the source would be
    ``format('kinesis')``/``format('kafka')`` with ``maxOffsetsPerTrigger``.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        if max_files_per_trigger < 1:
            # a falsy 0 used to silently DISABLE the cap (None is the
            # documented disable value) -- error instead (r8 review)
            raise ValueError("max_files_per_trigger must be >= 1 or None")
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.load(watch_dir)
    return parse_log_lines(lines, sample_fraction=sample_fraction)


#: reference batching parity (template.yaml:26-33): <=1000 records per
#: poll, <=10 s batching window, start at the stream tip
KAFKA_DEFAULTS = {
    "max_records_per_trigger": 1000,   # template.yaml:31 BatchSize
    "trigger_seconds": 10,             # template.yaml:32 MaximumBatchingWindowInSeconds
    "starting_position": "latest",     # template.yaml:30 StartingPosition: LATEST
}


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    max_records_per_trigger: int = KAFKA_DEFAULTS["max_records_per_trigger"],
    starting_position: str = KAFKA_DEFAULTS["starting_position"],
) -> dict[str, str]:
    """Option map for a ``format('kafka')`` source with the reference's
    event-source-mapping semantics (template.yaml:26-33):

    - ``maxOffsetsPerTrigger`` caps records per micro-batch like the
      Kinesis->Lambda BatchSize of 1000 (template.yaml:31);
    - ``startingOffsets`` latest == StartingPosition LATEST
      (template.yaml:30);
    - per-partition ordering == per-shard ordering; partition count is the
      parallelism degree, exactly like shard count (template.yaml:191).

    Kept as a pure config map so parity is testable without the Kafka
    connector jar on the classpath; a Kinesis connector takes the same
    shape with ``startingPosition``/``maxFetchRate``.
    """
    # fail loud BEFORE .load(), like the Kinesis sibling: an invalid
    # offsets spelling (e.g. the Kinesis 'TRIM_HORIZON' pasted here, or
    # a typo'd 'lastest') otherwise survives every pure-config-map test
    # and only errors on a real cluster (r11 review). Kafka also accepts
    # JSON per-partition offset specs -- gate only the non-JSON forms.
    if not starting_position.strip().startswith("{"):
        if starting_position.lower() not in ("latest", "earliest"):
            raise ValueError(
                f"startingOffsets {starting_position!r} is not "
                "latest/earliest or a JSON offset spec"
            )
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_position,
        "maxOffsetsPerTrigger": str(max_records_per_trigger),
        # the reference re-polls the same batch on failure (at-least-once,
        # lambda_function.py:58-60); checkpointed restart may legitimately
        # observe aged-out offsets, which should not kill the query
        "failOnDataLoss": "false",
    }


def kinesis_source_options(
    stream_name: str,
    region: str,
    max_records_per_shard_per_trigger: int = KAFKA_DEFAULTS["max_records_per_trigger"],
    starting_position: str = "LATEST",
) -> dict[str, str]:
    """Option map for a ``format('aws-kinesis')`` source (the
    spark-streaming-sql-kinesis connector) -- the reference's ACTUAL
    transport (Kinesis -> Lambda event source mapping, template.yaml:26-33):

    - ``kinesis.startingPosition`` LATEST == StartingPosition LATEST
      (template.yaml:30); TRIM_HORIZON is the replay-from-retention start;
    - ``kinesis.maxFetchRecordsPerShard`` caps the per-shard fetch like
      the per-invocation BatchSize of 1000 (template.yaml:31) -- Kinesis
      batch caps are PER SHARD, matching the reference's one-Lambda-per-
      shard fan-out (shard count is the parallelism knob,
      template.yaml:5-8, 191);
    - the 10 s MaximumBatchingWindowInSeconds (template.yaml:32) maps to
      the query trigger (``processingTime='10 seconds'``), not a source
      option, same as the Kafka sibling.

    Pure config map, testable without the connector jar on the classpath;
    ``stream_kinesis_lines`` consumes it the same way
    ``stream_kafka_lines`` consumes ``kafka_source_options``.
    """
    valid = {"LATEST", "TRIM_HORIZON", "EARLIEST", "AT_TIMESTAMP"}
    if starting_position.upper() not in valid:
        raise ValueError(
            f"startingPosition {starting_position!r} not in {sorted(valid)}"
        )
    return {
        "kinesis.streamName": stream_name,
        "kinesis.region": region,
        "kinesis.startingPosition": starting_position.upper(),
        "kinesis.maxFetchRecordsPerShard": str(max_records_per_shard_per_trigger),
        # at-least-once replay parity with the Kafka map: aged-out records
        # on checkpointed restart must not kill the query
        "kinesis.failOnDataLoss": "false",
    }


def stream_kinesis_lines(
    spark: SparkSession,
    stream_name: str,
    region: str,
    charset: str = "UTF-8",
    sample_fraction: float | None = None,
    max_records_per_shard_per_trigger: int = KAFKA_DEFAULTS[
        "max_records_per_trigger"],
    starting_position: str = "LATEST",
    **option_overrides,
) -> DataFrame:
    """Kinesis -> parsed typed stream: the production drop-in matching the
    reference's transport end-to-end. The record ``data`` carries the raw
    TSV line bytes; the connector delivers them base64-handled at the
    transport layer (A2), so only the charset decode remains (A3 -- pass
    ``charset='ISO-8859-1'`` for byte-exact reference behavior, D4).

    Requires the aws-kinesis connector on the classpath at .load() time
    (not bundled in this sandbox; config parity is covered by tests).
    """
    opts = kinesis_source_options(
        stream_name, region, max_records_per_shard_per_trigger,
        starting_position,
    )
    for k in option_overrides:
        # connectors silently IGNORE unrecognized options, so a mis-named
        # override (e.g. the builder's own parameter spelling) would
        # leave the default silently in force (r8 review)
        if not k.startswith("kinesis."):
            raise ValueError(
                f"unknown Kinesis option {k!r}: raw connector options "
                "start with 'kinesis.'; tuning knobs are named "
                "parameters of this function"
            )
    for k in ("kinesis.streamName", "kinesis.region"):
        if k in option_overrides:
            # the named parameter already sets these; a silent override
            # would make the call read as consuming one stream while
            # actually consuming another (r13 review -- the same
            # conflict rule the Kafka wrapper applies to subscription
            # modes)
            raise ValueError(
                f"{k!r} conflicts with this builder's named parameters; "
                "pass stream_name/region instead"
            )
    opts.update({k: str(v) for k, v in option_overrides.items()})
    # re-validate AFTER the merge and SHIP the normalized result: the
    # r12 gate validated the uppercased override but then discarded the
    # normalized map, so a lowercase 'trim_horizon' passed the gate yet
    # went to the connector un-normalized (r13 review)
    opts["kinesis.startingPosition"] = kinesis_source_options(
        stream_name, region, max_records_per_shard_per_trigger,
        opts["kinesis.startingPosition"],
    )["kinesis.startingPosition"]
    return _connector_lines(spark, "aws-kinesis", opts, "data",
                            charset, sample_fraction)


#: raw Kafka source options without the "kafka." client-config prefix
#: (the documented structured-streaming option surface)
_KAFKA_OPTION_KEYS = {
    "subscribe", "subscribePattern", "assign", "startingOffsets",
    "endingOffsets", "startingTimestamp", "endingTimestamp",
    "maxOffsetsPerTrigger", "minOffsetsPerTrigger", "maxTriggerDelay",
    "failOnDataLoss", "includeHeaders", "groupIdPrefix",
    "startingOffsetsByTimestamp", "endingOffsetsByTimestamp",
}


def stream_kafka_lines(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    charset: str = "UTF-8",
    sample_fraction: float | None = None,
    max_records_per_trigger: int = KAFKA_DEFAULTS["max_records_per_trigger"],
    starting_position: str = KAFKA_DEFAULTS["starting_position"],
    **option_overrides,
) -> DataFrame:
    """Kafka -> parsed typed stream: the production drop-in for the
    file-replay source (same parser, same downstream plan). The record
    value carries the raw TSV line bytes (A2/A3: Kinesis base64 decoding is
    transport-level -- Kafka delivers binary values directly, so only the
    charset decode remains; pass ``charset='ISO-8859-1'`` for byte-exact
    reference behavior, D4).

    Requires the spark-sql-kafka connector on the classpath at .load() time
    (not bundled in this sandbox; config parity is covered by tests).
    """
    opts = kafka_source_options(
        bootstrap_servers, topic, max_records_per_trigger, starting_position
    )
    for k in option_overrides:
        # same silent-ignore trap as the Kinesis wrapper (r8 review)
        if not (k.startswith("kafka.") or k in _KAFKA_OPTION_KEYS):
            raise ValueError(
                f"unknown Kafka option {k!r}: raw client configs start "
                "with 'kafka.'; source options are the documented set; "
                "tuning knobs are named parameters of this function"
            )
        if k in ("assign", "subscribePattern", "subscribe"):
            # this builder always sets 'subscribe' from the topic
            # parameter; a second subscription mode is a connector-level
            # conflict that would fail only at .load() (r12 review), and
            # a 'subscribe' override would SILENTLY supersede the named
            # topic -- the call reads as consuming one topic while
            # actually consuming another (r13 review)
            raise ValueError(
                f"{k!r} conflicts with the topic parameter's 'subscribe' "
                "subscription; use the topic parameter or the raw reader"
            )
    opts.update({k: str(v) for k, v in option_overrides.items()})
    # re-validate AFTER the merge (r12 review: an override of
    # startingOffsets bypassed the gate and failed only on-cluster)
    kafka_source_options(bootstrap_servers, topic, max_records_per_trigger,
                         opts["startingOffsets"])
    return _connector_lines(spark, "kafka", opts, "value",
                            charset, sample_fraction)


def _connector_lines(
    spark: SparkSession,
    source_format: str,
    opts: dict[str, str],
    data_col: str,
    charset: str,
    sample_fraction: float | None,
) -> DataFrame:
    """Shared connector -> parsed-stream path (Kafka and Kinesis differ
    only in format name and payload column; one code path so a decode or
    option fix can never silently miss one of them, r7 review)."""
    reader = spark.readStream.format(source_format)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return _parse_records(reader.load(), data_col, charset, sample_fraction)


def _parse_records(
    records: DataFrame, data_col: str, charset: str,
    sample_fraction: float | None,
) -> DataFrame:
    """The connector path's decode-and-parse step: the binary payload
    column through the permissive bytes->string decode, then the parser
    (works on a batch frame too)."""
    lines = records.select(
        decode_payload_bytes(F.col(data_col), charset).alias("value")
    )
    return parse_log_lines(lines, sample_fraction=sample_fraction)


def hourly_bytes_stream(parsed: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """Streaming version of the flagship Q1: tumbling 1 h windows of
    sum(sc_bytes) per edge location, late data bounded by the watermark
    (the Timestream memory-store bound, template.yaml:204).

    NULL-timestamp rows (the '-' sentinel / truncated lines the
    permissive parser passes through) are dropped EXPLICITLY: a null
    event time lands in a null-window group the watermark can never
    pass, so in append mode its aggregate would sit in the state store
    forever and never emit (r12 review) -- silent state growth, not
    output. Callers needing those rows count them upstream."""
    return (
        parsed.where(F.col("timestamp").isNotNull())
        .withWatermark("timestamp", watermark)
        .groupBy(
            F.window("timestamp", "1 hour").alias("win"),
            F.col("x_edge_location"),
        )
        .agg(F.sum("sc_bytes").alias("sum_bytes_downloaded"))
        .select(
            F.col("win.start").alias("binned_time"),
            "x_edge_location",
            "sum_bytes_downloaded",
        )
    )


def dedup_stream(parsed: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """Streaming dedup on the request id (FIXTURES.md: ~1% duplicated):
    ``dropDuplicatesWithinWatermark`` keeps state only within the watermark
    horizon -- bounded memory at any scale.

    Rows whose request id parsed to NULL (the ``-`` sentinel / truncated
    lines, D2) PASS THROUGH un-deduped: dropDuplicates treats NULL keys
    as equal, so deduping them would collapse every distinct id-less
    record within the horizon into one survivor (r8 review)."""
    watermarked = parsed.withWatermark("timestamp", watermark)
    with_id = watermarked.where(F.col("x_edge_request_id").isNotNull())
    no_id = watermarked.where(F.col("x_edge_request_id").isNull())
    return with_id.dropDuplicatesWithinWatermark(
        ["x_edge_request_id"]
    ).unionByName(no_id)


def with_time_partitions(parsed: DataFrame) -> DataFrame:
    """Attach the D6 partition columns (event_date, event_hour) -- the
    ONE spelling of the sink layout derivation, shared by the production
    sink below and the throughput measurement tool.

    NULL timestamps map to the epoch partition (1970-01-01/0), NOT to
    Hive's __HIVE_DEFAULT_PARTITION__: the default partition escapes
    date-cutoff retention forever (drop_partitions_older_than parses
    event_date= values as dates), while the epoch partition ages out on
    the first retention pass (r12 review). The rows themselves are
    preserved -- a sink must not silently drop data."""
    return parsed.withColumn(
        "event_date",
        F.coalesce(F.to_date("timestamp"), F.lit("1970-01-01").cast("date")),
    ).withColumn("event_hour", F.coalesce(F.hour("timestamp"), F.lit(0)))


def write_partitioned_parquet(
    parsed: DataFrame, out_dir: str, checkpoint_dir: str,
    # default FROM the parity table, not a second literal 10 that could
    # drift from it (r11 review: the dict entry was dead)
    trigger_seconds: int = KAFKA_DEFAULTS["trigger_seconds"],
):
    """Exactly-once partitioned parquet sink (the Timestream stand-in, D6).

    Partitioning by (event_date, event_hour) gives Catalyst partition
    pruning for time-range queries that filter on those columns
    (README.md:109) and makes retention a partition drop
    (template.yaml:203-205 semantics).

    ``timestamp`` is written as INT96 (Spark's default
    ``outputTimestampType``), which gets no parquet statistics, so a
    filter on it skips no row groups. ``ago()``'s default cutoff relies
    on this: it gives up pushdown to keep the dashboard's codegen class
    cached (see ``functions/timestream.ago``).
    """
    with_parts = with_time_partitions(parsed)
    return (
        with_parts.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("event_date", "event_hour")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .outputMode("append")
    )


def drain_to_parquet(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Run a bounded stream to completion through ``foreachBatch`` into a
    parquet directory and return the file-backed batch relation.

    ``complete`` mode rewrites the whole result per micro-batch (overwrite
    write), so the final batch leaves exactly the final table; ``append``
    and ``update`` modes accumulate each batch's emitted rows. The result
    is a plain parquet scan, never a driver-side row copy, so the helper
    holds at any result size (on a cluster the directory lives on shared
    storage)."""
    path = os.path.join(
        tempfile.gettempdir(), f"stream_drain_{uuid.uuid4().hex[:12]}"
    )
    # the returned DataFrame pins these files for the caller's lifetime;
    # reclaim them at process exit so repeated runs don't grow /tmp
    # without bound (r7 review)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def _write(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(path)

    q = df.writeStream.foreachBatch(_write).outputMode(output_mode).start()
    try:
        q.processAllAvailable()
    finally:
        # always stop: a failing micro-batch would otherwise leak a
        # running query (and its file-source listing state) into every
        # later drain of the session (r8 review)
        q.stop()
    # explicit schema: a legitimately EMPTY result writes only _SUCCESS,
    # and a schema-less read.parquet would fail with
    # UNABLE_TO_INFER_SCHEMA instead of returning the empty relation the
    # batch oracle would also produce (r8 review)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def write_foreach_batch_grouped(
    parsed: DataFrame,
    handler,
    flush_size: int = 100,
    checkpoint_dir: str | None = None,
):
    """Custom-sink extension point mirroring the reference's buffered
    WriteRecords flush: within each micro-batch, each partition groups rows
    into ``flush_size`` chunks and calls ``handler(chunk_of_rows)`` --
    exactly the Lambda's 100-record buffering + remainder flush
    (lambda_function.py:121-126; README.md:203). A raising handler fails the
    batch and checkpoint replay re-delivers it (at-least-once, matching
    lambda_function.py:58-60; idempotent handlers upgrade to effectively
    exactly-once).

    ``handler`` must be picklable (runs on executors via foreachPartition).
    """
    if flush_size < 1:
        # a falsy 0 would silently disable chunking (len(buf) can never
        # equal 0 after an append) and buffer the whole partition into
        # one oversized delivery -- the same loud-error contract as
        # stream_log_lines' trigger cap (r11 review)
        raise ValueError("flush_size must be >= 1")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        def per_partition(rows):
            buf = []
            for row in rows:
                buf.append(row)
                if len(buf) == flush_size:
                    handler(buf)
                    buf = []
            if buf:
                handler(buf)

        # DataFrame-level foreachPartition (not batch_df.rdd.*): the same
        # executor-side iteration in classic Spark, and the only spelling
        # that also works under Spark Connect (no RDD API there)
        batch_df.foreachPartition(per_partition)

    writer = parsed.writeStream.foreachBatch(process_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
