"""Retention = partition lifecycle on the time-partitioned parquet sink.

The reference's storage tiers (Timestream memory store 24 h, magnetic store
7 d -- template.yaml:203-205) map to partition-level operations on the D6
layout (``event_date=<date>/event_hour=<h>``):

- the "hot window" a query touches is pruned by partition only through a
  predicate on the partition columns (``event_date`` / ``event_hour``):
  ``timestamp`` is a data column, so ``WHERE timestamp >= ago(24h)`` alone
  has empty ``PartitionFilters`` and scans every partition;
- expiry (magnetic-store retention) is a partition DROP -- an O(partitions)
  metadata operation, no data rewrite, exactly how large lakes retire data.
"""

from __future__ import annotations

import os
import shutil
from datetime import date, datetime

from pyspark.sql import DataFrame, SparkSession


def list_date_partitions(sink_dir: str) -> list[tuple[date, str]]:
    """(partition_date, path) for every ``event_date=*`` child, sorted."""
    out = []
    if not os.path.isdir(sink_dir):
        return out
    for name in os.listdir(sink_dir):
        if name.startswith("event_date="):
            try:
                d = datetime.strptime(name.split("=", 1)[1], "%Y-%m-%d").date()
            except ValueError:
                continue
            out.append((d, os.path.join(sink_dir, name)))
    return sorted(out)


def drop_partitions_older_than(sink_dir: str, cutoff: date, dry_run: bool = False) -> list[str]:
    """Drop date partitions strictly older than ``cutoff`` (the 7 d
    magnetic-store retention semantics). Returns dropped paths.

    NOTE: a STREAMING parquet sink keeps a ``_spark_metadata`` transaction
    log whose file list still references dropped files; read a
    partially-retired sink with :func:`read_sink` (explicit partition paths
    + basePath, which bypasses the log). Table formats with real partition
    DDL (Delta/Iceberg) subsume this; with plain parquet this pairing is
    the standard pattern.
    """
    dropped = []
    for d, path in list_date_partitions(sink_dir):
        if d < cutoff:
            if not dry_run:
                shutil.rmtree(path)
                # reap the partition's hidden compaction sidecars too
                # (r13 review): a compaction that crashed after its swap
                # leaves .<partition>.compact-old holding a FULL COPY of
                # the data; partition listing skips dot-prefixed names,
                # so without this the expired rows survived retention
                # forever
                parent, base = os.path.split(path)
                for suffix in (".compact-old", ".compact-tmp",
                               ".compact-lock"):
                    side = os.path.join(parent, f".{base}{suffix}")
                    if os.path.isdir(side):
                        shutil.rmtree(side, ignore_errors=True)
                    elif os.path.exists(side):
                        try:
                            os.unlink(side)
                        except OSError:
                            pass
            dropped.append(path)
    return dropped


def read_sink(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Read the surviving partitions of a (possibly retired) streaming
    parquet sink: explicit partition directories with ``basePath`` so
    partition columns are recovered and the ``_spark_metadata`` log -- which
    may reference dropped files -- is not consulted."""
    paths = [p for _, p in list_date_partitions(sink_dir)]
    if not paths:
        # falling back to the root would consult the stale _spark_metadata
        # log and fail with an opaque FileNotFound from the JVM
        raise ValueError(
            f"no surviving date partitions under {sink_dir!r} "
            "(fully retired sink)"
        )
    return spark.read.option("basePath", sink_dir).parquet(*paths)


def compact_partition(
    spark: SparkSession,
    partition_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """OPTIMIZE-style small-file compaction of one partition directory:
    rewrite its parquet files into ``ceil(total_bytes / target)`` files
    and swap the directory (two renames; see the atomicity note below).
    Returns (files_before, files_after).

    A streaming sink writes one file per (micro-batch x task) -- at 1000
    executors x 10 s triggers that is millions of kB-sized files per day,
    and every later scan pays per-file open cost (the classic small-file
    problem). Compaction is the standard maintenance job (Delta OPTIMIZE,
    Iceberg rewrite_data_files): read the partition once, write it back
    at the target file size via one round-robin repartition, swap. Rows
    are preserved exactly (pytest-pinned); only the physical file layout
    changes. Run per partition so a failure affects one partition; table
    formats get transactional swaps for free.

    The swap is NOT atomic: it is two ``os.rename`` calls, and between
    them the partition directory is briefly absent (a plain filesystem
    has no two-directory exchange short of ``renameat2(RENAME_EXCHANGE)``,
    which Python does not expose portably). Concurrent readers in that
    window see a missing partition and should retry. Crash recovery IS
    handled: the tmp/old names are deterministic (``.compact-tmp`` /
    ``.compact-old``), and on entry this function repairs any leftover
    state from a crashed prior run -- a stranded ``.compact-old`` with no
    live partition is renamed back into place; a stale ``.compact-tmp``
    or an already-swapped ``.compact-old`` is removed -- so no data is
    ever stranded without a recovery path. An exclusive ``flock`` on a
    hidden lock file (``.compact-lock``) keeps recovery and a LIVE
    concurrent run from racing: a second invocation while the holder
    runs raises ``ValueError``; the kernel releases the lock when the
    holder exits, however it exits.

    NOTE: like drop_partitions_older_than, a streaming sink's
    ``_spark_metadata`` log still lists the old files; read a compacted
    sink through :func:`read_sink`.
    """
    if target_file_bytes < 1:
        # surfaced as a contract error, not the bare ZeroDivisionError
        # the sizing ceil would raise after the lock is taken (r13
        # review; the n_salts/partitions discipline)
        raise ValueError(
            f"compact_partition: target_file_bytes must be >= 1, got "
            f"{target_file_bytes}"
        )
    partition_dir = partition_dir.rstrip("/")
    # sidecars are DOT-PREFIXED siblings: Spark's file listing ignores
    # names starting with '.' or '_', so scratch/lock state can never
    # leak into partition discovery of the enclosing directory -- the
    # old '<partition>.compact-lock.guard' spelling left a permanent
    # non-hidden file inside a nested event_date=/event_hour= layout
    # that made every later read of the date dir fail with conflicting
    # partition columns (r11 review)
    parent, base = os.path.split(partition_dir)
    tmp = os.path.join(parent, f".{base}.compact-tmp")
    old = os.path.join(parent, f".{base}.compact-old")
    lock = os.path.join(parent, f".{base}.compact-lock")
    # Deterministic names let a later run repair a CRASHED one -- but
    # they would also let a concurrent retry destroy a LIVE run's
    # scratch state (rmtree its tmp mid-write, "recover" .compact-old
    # out from under its swap). The lock arbitrates: recovery and
    # compaction only proceed while this run holds it (compaction is a
    # same-host maintenance job in this layout; table formats replace
    # all of this with transactional commits).
    fd = _acquire_compact_lock(lock, partition_dir)
    try:
        return _compact_locked(spark, partition_dir, tmp, old,
                               target_file_bytes)
    finally:
        # closing releases the flock. The file itself stays: unlinking
        # it after the unlock would let a run that opened the old inode
        # lock it while a later run creates and locks a NEW inode at the
        # same name -- two compactions at once
        os.close(fd)


def _acquire_compact_lock(lock: str, partition_dir: str) -> int:
    """Take a non-blocking exclusive ``flock`` on the lock file and return
    its descriptor (closing it releases the lock), or raise
    ``ValueError`` if another run holds it.

    The kernel ties the lock to the open file, so a holder that exits or
    crashes releases it, and a leftover lock file, whatever it contains,
    blocks nobody. ``flock`` locks belong to the open file
    description, so two threads that each ``os.open`` the file exclude
    each other just as two processes do.
    """
    import fcntl

    fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        os.close(fd)
        raise ValueError(
            f"compaction of {partition_dir!r} already in progress"
        ) from None
    return fd


def _compact_locked(spark, partition_dir, tmp, old, target_file_bytes):
    import glob

    # One-time migration of strandings from PRE-dot-prefix runs whose
    # sidecars were not hidden (r11 advice: a non-hidden
    # '<partition>.compact-old' left by an old crashed run may hold the
    # ONLY copy of the data, and it both went unrepaired and kept
    # breaking partition discovery until cleaned by hand). Map legacy
    # names onto today's so the recovery below sees them. A legacy
    # .compact-old is renamed, never deleted, unless a live partition
    # proves it is a post-swap duplicate; a legacy .compact-tmp is
    # untrusted scratch either way.
    for legacy, current in ((partition_dir + ".compact-tmp", tmp),
                            (partition_dir + ".compact-old", old)):
        if not os.path.isdir(legacy):
            continue
        if not os.path.exists(current):
            os.rename(legacy, current)
        elif legacy.endswith(".compact-tmp") or os.path.isdir(partition_dir):
            shutil.rmtree(legacy)
        # else: legacy AND current .compact-old with no live partition --
        # a double-crash across versions; keep the legacy copy in place
        # rather than guess which original is authoritative
    for legacy_lock in (partition_dir + ".compact-lock",
                        partition_dir + ".compact-lock.guard"):
        # stale plain files from the old lock spelling; the pid they may
        # name belongs to a long-dead pre-migration process, and leaving
        # them breaks discovery of the enclosing date directory
        if os.path.isfile(legacy_lock):
            os.unlink(legacy_lock)

    # Recover from a crashed prior run (deterministic names make the
    # leftover state identifiable; the lock guarantees it is dead).
    if os.path.isdir(old) and not os.path.isdir(partition_dir):
        # crashed between the two renames: the original is in .compact-old
        os.rename(old, partition_dir)
    if os.path.isdir(old):
        # crashed after a successful swap, before cleanup
        shutil.rmtree(old)
    if os.path.isdir(tmp):
        # crashed mid-write or pre-swap; the tmp contents are untrusted
        shutil.rmtree(tmp)

    files = sorted(glob.glob(os.path.join(partition_dir, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet files under {partition_dir!r}")
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(partition_dir)
    df.repartition(int(n_out)).write.mode("overwrite").parquet(tmp)
    os.rename(partition_dir, old)
    try:
        os.rename(tmp, partition_dir)
    except OSError:
        os.rename(old, partition_dir)  # restore on failed swap
        raise
    shutil.rmtree(old)
    after = len(glob.glob(os.path.join(partition_dir, "*.parquet")))
    return len(files), after
