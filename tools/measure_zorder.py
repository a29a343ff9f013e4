"""Measure Z-order layout pruning: how much of the events table a 2-D
range query must READ under a Z-ordered layout vs the natural time-sorted
layout -- the before/after number behind operators/zorder.py's claim.

Writes the sf events table twice (same rows, same file count, different
physical order), then evaluates a (time-range AND user-range) predicate
three ways:

1. footer statistics (pyarrow): row groups whose [min, max] box overlaps
   the predicate -- the engine-independent count of row groups ANY
   stats-pruning reader (Spark parquet pushdown, DuckDB zone maps,
   Iceberg/Delta file skipping) must decode; the rest are provably
   skippable;
2. Spark task input bytes (the in-process status store): what a real
   Spark scan actually read under its parquet row-group pushdown;
3. wall clock of the Spark scan.

Usage: python tools/measure_zorder.py [sf_dir] [n_files]
Prints a markdown table (redirect into SCALE.md).
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyarrow.parquet as pq
from pyspark.sql import functions as F

#: the 2-D range predicate: 2 days of a 30-day table x 50 of 1500 users
HOUR_LO, HOUR_N = 240, 48
USER_LO, USER_N = 400, 50


def footer_overlap(layout_dir: str, hour_lo_ts, hour_hi_ts,
                   use_ts: bool, use_user: bool) -> tuple[int, int, int, int]:
    """(row groups total, row groups overlapping, bytes total, bytes
    overlapping) for the predicate box, from parquet footers only.
    ``use_ts`` / ``use_user`` select which dimensions the predicate
    constrains (a disabled dimension overlaps everything)."""
    import glob
    import os

    total = hit = bytes_total = bytes_hit = 0
    for f in sorted(glob.glob(os.path.join(layout_dir, "*.parquet"))):
        meta = pq.ParquetFile(f).metadata
        names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            total += 1
            sz = g.total_byte_size
            bytes_total += sz
            ts_st = g.column(names["ts"]).statistics
            u_st = g.column(names["user_id"]).statistics
            # pyarrow returns tz-aware datetimes for MICROS-with-UTC
            ts_min = ts_st.min.replace(tzinfo=None)
            ts_max = ts_st.max.replace(tzinfo=None)
            # strict < on the upper edge matches the measured predicate
            # ts < hi: a row group whose min sits exactly on the boundary
            # is skippable by every stats-pruning reader (r7 review)
            ts_ok = (not use_ts) or (
                ts_min < hour_hi_ts and ts_max >= hour_lo_ts)
            u_ok = (not use_user) or (
                u_st.min <= USER_LO + USER_N - 1 and u_st.max >= USER_LO)
            if ts_ok and u_ok:
                hit += 1
                bytes_hit += sz
    return total, hit, bytes_total, bytes_hit


def spark_scan_bytes(spark, path: str, pred) -> tuple[int, int, float]:
    """(task input bytes, result rows, wall seconds) for scanning
    ``path`` under ``pred``, from the status store's stage metrics."""
    from bench import _layer_profile, _status_mark

    mark = _status_mark(spark)
    t0 = time.time()
    n = spark.read.parquet(path).where(pred).count()
    wall = time.time() - t0
    return _layer_profile(spark, mark)["input_bytes"], n, wall


def main() -> None:
    from aws_cloudfront_realtime_monitoring_spark.operators.zorder import (
        zorder_layout,
    )
    from aws_cloudfront_realtime_monitoring_spark.session import get_spark
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark("measure_zorder", cpus=8)
    # Spark's default INT96 timestamps carry NO parquet min/max stats --
    # no engine can prune on them; MICROS is what Delta/Iceberg write
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    # one row group per ~3k rows so footer stats have file-sub granularity,
    # as a real multi-TB table would (many row groups per file)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    spark.sparkContext._jsc.hadoopConfiguration().setInt(
        "parquet.block.size", 256 * 1024
    )

    events = load_table(spark, sf_dir, "events")
    t0_hour = events.agg(
        (F.floor(F.unix_timestamp(F.min("ts")) / 3600)).cast("long")
    ).head()[0]
    rel_hour = (F.unix_timestamp("ts") / F.lit(3600)).cast("long") - F.lit(t0_hour)

    tmp = tempfile.mkdtemp(prefix="zorder_measure_")
    nat_dir, z_dir = f"{tmp}/natural", f"{tmp}/zordered"
    try:
        # natural layout: the time-partitioned order an ingest sink produces
        (events.repartitionByRange(n_files, "ts")
         .sortWithinPartitions("ts")
         .write.mode("overwrite").parquet(nat_dir))
        # z-ordered layout: same rows, same file count, Morton order
        (zorder_layout(events, rel_hour, F.col("user_id"), partitions=n_files)
         .write.mode("overwrite").parquet(z_dir))

        import datetime

        hour_lo_ts = datetime.datetime.utcfromtimestamp(
            (t0_hour + HOUR_LO) * 3600
        )
        hour_hi_ts = datetime.datetime.utcfromtimestamp(
            (t0_hour + HOUR_LO + HOUR_N) * 3600
        )
        ts_pred = (F.col("ts") >= F.lit(hour_lo_ts)) & (
            F.col("ts") < F.lit(hour_hi_ts))
        user_pred = (F.col("user_id") >= USER_LO) & (
            F.col("user_id") < USER_LO + USER_N)
        queries = [
            (f"time-only ({HOUR_N} of 720 h)", ts_pred, True, False),
            (f"user-only ({USER_N} of 1500 users)", user_pred, False, True),
            ("2-D box (time AND user)", ts_pred & user_pred, True, True),
        ]

        print(f"{n_files} files per layout, same rows both layouts\n")
        print("| query | layout | row groups read / total "
              "| spark input bytes | rows | wall |")
        print("|---|---|---|---|---|---|")
        for qname, pred, use_ts, use_user in queries:
            for name, d in (("natural (ts sort)", nat_dir),
                            ("z-ordered", z_dir)):
                tot, hit, _bt, _bh = footer_overlap(
                    d, hour_lo_ts, hour_hi_ts, use_ts, use_user)
                sb, n, wall = spark_scan_bytes(spark, d, pred)
                print(f"| {qname} | {name} | {hit} / {tot} "
                      f"| {sb / 1e6:.2f} MB | {n} | {wall:.2f} s |")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
