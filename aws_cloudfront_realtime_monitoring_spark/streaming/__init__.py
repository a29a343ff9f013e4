from .ingest import (  # noqa: F401
    stream_log_lines,
    stream_kafka_lines,
    stream_kinesis_lines,
    kafka_source_options,
    kinesis_source_options,
    hourly_bytes_stream,
    dedup_stream,
    with_time_partitions,
    write_partitioned_parquet,
    write_foreach_batch_grouped,
    drain_to_parquet,
)
from .stateful import chunked_flush_stream, running_totals_stream  # noqa: F401
