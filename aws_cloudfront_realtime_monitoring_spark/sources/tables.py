"""Parquet table loaders for the driver's testdata star schema.

``TESTDATA.md``: tables ``region nation customer supplier part orders
lineitem events documents embeddings`` live as one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``. At scale these would be
directory-partitioned datasets; the loaders take any path so the same code
reads a 100 TB partitioned layout unchanged.

Local layout cache
------------------
The driver's files are written as a SINGLE parquet row group each, which
caps every scan at one task regardless of core count -- a narrow map over
600k lineitem rows would use 1 of 32 local cores. A real deployment never
has this problem (ingest writes many files/row groups; see the partitioned
streaming sink, D6), so the loader reproduces that layout once per
(sf_dir, table) with the target-file-size rule a compaction job applies:
a table is cut into ``ceil(uncompressed bytes / _TARGET_FILE_BYTES)``
files. The uncompressed bytes are the row groups' ``total_byte_size``
from the source footer, read on the driver with pyarrow (no Spark job).
Scan work grows with uncompressed bytes, not on-disk ones: the regex and
shingling over ``documents.text`` see text that compresses 2.65x on disk,
and an on-disk rule would leave that table one task.

A table the rule gives one file is read in place: no rewrite, no second
copy. Larger ones are rewritten into a multi-file parquet directory
under ``.layout_cache/`` (keyed by layout version, file count and source
size+mtime, atomic rename, safe under concurrent runs) and every later
read scans the partitioned copy in parallel. Data is row-for-row
identical; only the physical file layout changes. Sources that are not
a local file -- a parquet directory, a non-local path -- are always read
in place. A file-stream source needs a directory, so :func:`stream_dir`
materializes every table, a one-file table as one file.

Scan tasks are sized by Spark's byte rule, not one per file: a split
holds ``min(maxPartitionBytes, max(openCostInBytes, total / cores))``
bytes, each file counted as its size plus the open cost, so the layout's
files pack into about one task per core, one file per task once there
are as many cores as files.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from ..session import pin_session

#: columns stored as TIMESTAMP(NANOS) in the driver's parquet
_NANO_TS_COLUMNS = {"ts"}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
#: where re-partitioned table layouts live; override for tests
LAYOUT_CACHE_DIR = os.environ.get(
    "SPARK_GRAFT_LAYOUT_CACHE", os.path.join(_REPO_ROOT, ".layout_cache")
)
#: uncompressed bytes per layout file; a table under it is read in place
_TARGET_FILE_BYTES = 512 * 1024
#: bump when _read_raw normalization or the layout rule changes so stale
#: cached layouts rebuild (v2: TIMESTAMP_NTZ -> TIMESTAMP normalization;
#: v3: nanos -> micros now FLOORS like DuckDB instead of truncating toward
#: zero, r12; v4: file count from uncompressed bytes, not a constant 32)
_LAYOUT_VERSION = 4
#: stale-layout dirs younger than this are never deleted (another live
#: process may have just written them)
_RETIRE_GRACE_S = 15 * 60


def _read_raw(spark: SparkSession, src: str) -> DataFrame:
    # The testdata's wall-clock timestamps are UTC instants; pin the session
    # timezone so the NTZ->LTZ cast below (and every downstream date/epoch
    # function) is deterministic regardless of host timezone, and matches the
    # DuckDB oracle's naive-as-UTC reading of the same files.
    pin_session(spark)
    df = spark.read.parquet(src)
    for f in df.schema.fields:
        # Nanosecond-precision parquet timestamps arrive as raw LongType nanos
        # (spark.sql.legacy.parquet.nanosAsLong); convert to TimestampType at
        # microsecond precision with FLOOR semantics -- DuckDB's
        # TIMESTAMP_NS -> TIMESTAMP conversion floors, while a bare `div`
        # truncates toward zero, landing pre-1970 nanos 1 us higher in
        # Spark than in the oracle (r12 review, verified on -1500 ns).
        if isinstance(f.dataType, T.LongType) and f.name in _NANO_TS_COLUMNS:
            # pure int64: pmod keeps the remainder nonnegative, so the
            # subtraction yields an exact multiple and `div` floors
            df = df.withColumn(
                f.name,
                F.timestamp_micros(F.expr(
                    f"(`{f.name}` - pmod(`{f.name}`, 1000)) div 1000"
                )),
            )
        # Parquet timestamps without isAdjustedToUTC read as TIMESTAMP_NTZ in
        # Spark 4; normalize to TIMESTAMP so epoch functions (unix_micros) and
        # streaming watermarks work. With the UTC session tz above the instant
        # equals the stored wall clock -- exactly DuckDB's interpretation.
        elif isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    return df


def layout_files(src: str) -> int:
    """Files the layout rule cuts a parquet source (a file, or a directory
    of part files) into: ``ceil(uncompressed bytes / _TARGET_FILE_BYTES)``,
    at least one. Footers only, no Spark job."""
    files = [src] if os.path.isfile(src) else glob.glob(os.path.join(src, "*.parquet"))
    raw = 0
    for f in files:
        md = pq.read_metadata(f)
        raw += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return max(1, -(-raw // _TARGET_FILE_BYTES))


def layout_dir(spark: SparkSession, sf_dir: str, name: str) -> str | None:
    """Materialize (once) and return the multi-file layout directory for a
    table, or ``None`` if the table is read in place: it is not a local
    file, or the layout rule gives it one file. Streaming sources need a
    directory whatever the size -- call :func:`stream_dir` for those."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.isfile(src):
        return None  # a parquet directory or a non-local path
    n_files = layout_files(src)
    if n_files == 1:
        return None
    return _materialize(spark, src, sf_dir, name, n_files)


def stream_dir(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Layout directory for use as a file-stream source: always
    materialized, with at least one file -- streaming sources list a
    dir."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    return _materialize(spark, src, sf_dir, name, layout_files(src))


def _materialize(spark: SparkSession, src: str, sf_dir: str, name: str,
                 n_files: int) -> str:
    st = os.stat(src)
    # the cache parent keys on basename PLUS a digest of the absolute
    # source dir: two processes over different testdata roots that share
    # a basename ('sf0.1') used to share one parent, and A's retirement
    # scan could rmtree B's LIVE layout (B's stat never matches A's
    # source -- r12 review); distinct parents make cross-root
    # interference structurally impossible
    norm = os.path.normpath(os.path.abspath(sf_dir))
    digest = hashlib.md5(norm.encode()).hexdigest()[:8]
    sf_tag = f"{os.path.basename(norm)}-{digest}"
    # st_mtime_ns, not whole seconds: a same-size rewrite landing in
    # the same second must not serve the previous corpus (r8 review)
    key = f"{name}-v{_LAYOUT_VERSION}-{n_files}f-{st.st_size}-{st.st_mtime_ns}"
    cache = os.path.join(LAYOUT_CACHE_DIR, sf_tag, key)
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        # a new key means the source, the layout version or the file
        # count changed: retire this table's stale layouts so the cache
        # doesn't grow unboundedly across testdata regenerations. Deletion
        # is deliberately conservative: only `{name}-v` keys (never another
        # table's), only keys whose recorded source stat no longer matches
        # the CURRENT source file (a concurrent process on a
        # different-but-same-basename sf_dir, or a different
        # _LAYOUT_VERSION or file count over an unchanged source, records
        # the same stat and is left alone), and only dirs untouched for
        # _RETIRE_GRACE_S (a layout another live process just wrote or is
        # mid-write keeps its files).
        parent = os.path.dirname(cache)
        cur_stat = f"-{st.st_size}-{st.st_mtime_ns}"
        if os.path.isdir(parent):
            now = time.time()
            for d in os.listdir(parent):
                if not d.startswith(f"{name}-v") or d == key:
                    # not this table's layout, or the current layout itself
                    continue
                if ".tmp-" in d:
                    # another writer's scratch: the top-dir mtime goes
                    # STALE during a long Spark write (only job start
                    # touches it), so the age gate alone would rmtree a
                    # live >15-min write (r8 review). The pid suffix
                    # settles liveness; only a dead writer's leak falls
                    # through to the age gate.
                    try:
                        os.kill(int(d.rsplit(".tmp-", 1)[1]), 0)
                        continue  # live writer: never touch
                    except (ValueError, ProcessLookupError):
                        pass  # crashed or unparseable: reclaimable
                    except PermissionError:
                        continue  # alive under another uid
                elif d.endswith(cur_stat):
                    # same source bytes, other version: in use (r12
                    # review: the old `.split('.tmp-')[0]` was dead --
                    # this branch is only reachable for non-tmp names)
                    continue
                path = os.path.join(parent, d)
                try:
                    if now - os.path.getmtime(path) < _RETIRE_GRACE_S:
                        continue
                except OSError:
                    continue
                # KNOWN LIMIT (r11 review, documented not fixed): reads
                # never bump a dir's mtime, so a >15-min-old retired
                # layout a LIVE session still scans could be reclaimed
                # under it. That requires the source file to regenerate
                # while an old session keeps querying a plan built
                # before the change -- here testdata regenerates only
                # between rounds, after sessions end. A shared-cluster
                # deployment should retire via a manifest of active
                # (session, layout) leases instead.
                shutil.rmtree(path, ignore_errors=True)
        tmp = f"{cache}.tmp-{os.getpid()}"
        _read_raw(spark, src).repartition(n_files).write.mode(
            "overwrite"
        ).parquet(tmp)
        try:
            os.rename(tmp, cache)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(os.path.join(cache, "_SUCCESS")):
                # NOT a lost race (the winner's cache would exist):
                # surface the real failure instead of returning a path
                # that does not exist (r8 review)
                raise
    return cache


#: (session key, normalized sf_dir, table) -> (source (size, mtime_ns),
#: resolved DataFrame). Catalog-resolution memo (r17 optimization round):
#: ``spark.read.parquet`` re-lists the layout directory and re-reads a
#: footer for the schema on EVERY call -- ~0.1 s of driver latency per
#: table per plan build, paid by every query and multiplied by the
#: bench's repeated builds. The memo holds the resolved LAZY relation
#: (metadata only -- every action still scans the parquet files; nothing
#: computed is stored), keyed and invalidated exactly like
#: register_views' view memo: per session, per directory, per source
#: (size, mtime_ns) signature, so a testdata regeneration under a live
#: session re-resolves instead of serving a stale schema. This is what a
#: table catalog does for a production engine (metastore-cached relation
#: resolution); the per-build re-listing was pure overhead at any scale.
_TABLE_MEMO: dict[tuple, tuple[tuple, DataFrame]] = {}

#: r18 hygiene (r17 verdict #6): the memos above and _VIEWS_CURRENT are
#: keyed by session and never evicted, so a very long-lived process that
#: creates many sessions grows them without bound (tiny per entry, but
#: unbounded). An LRU of recently seen SESSION keys caps the growth:
#: when a new session key pushes the list past the cap, the oldest
#: session's entries leave both memos. Evicting a still-live session is
#: harmless — the memo is a resolution cache, the next load_table just
#: re-resolves.
_SESSION_LRU: list[tuple] = []
_SESSION_LRU_CAP = 4


def _touch_session(skey: tuple) -> None:
    """Mark ``skey`` most-recently-used; evict the oldest session's memo
    entries past _SESSION_LRU_CAP."""
    if _SESSION_LRU and _SESSION_LRU[-1] == skey:
        return  # fast path: same session as the last call
    if skey in _SESSION_LRU:
        _SESSION_LRU.remove(skey)
    _SESSION_LRU.append(skey)
    while len(_SESSION_LRU) > _SESSION_LRU_CAP:
        dead = _SESSION_LRU.pop(0)
        for k in [k for k in _TABLE_MEMO if k[0] == dead]:
            del _TABLE_MEMO[k]
        _VIEWS_CURRENT.pop(dead, None)


def _session_key(spark: SparkSession) -> tuple:
    """Stable identity of a session for lifetime-scoped memos: the
    register_views key discipline (applicationId + context startTime +
    JVM session UUID; Connect sessions use their client session_id)."""
    try:
        sc = spark.sparkContext
        try:
            sess = str(spark._jsparkSession.sessionUUID())
        except Exception:
            sess = ""
        return (sc.applicationId, sc.startTime, sess)
    except Exception:
        return ("connect", getattr(spark, "session_id", None) or id(spark), "")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the UTC session-timezone pin must hold on the layout-cache HIT
    # path too: _read_raw sets it while normalizing, but a warm cache
    # skips _read_raw entirely, and a user-built session in a non-UTC
    # host timezone would shift every date/hour bucket away from the
    # DuckDB oracle's naive-as-UTC reading (r11 review)
    pin_session(spark)
    src = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(src)
        sig = (st.st_size, st.st_mtime_ns)
    except OSError:
        sig = None
    skey = _session_key(spark)
    _touch_session(skey)
    key = (skey, os.path.normpath(os.path.abspath(sf_dir)), name)
    if sig is not None:
        hit = _TABLE_MEMO.get(key)
        if hit is not None and hit[0] == sig:
            return hit[1]
    cache = layout_dir(spark, sf_dir, name)
    if cache is None:
        df = _read_raw(spark, src)
    else:
        df = spark.read.parquet(cache)
    if sig is not None:
        _TABLE_MEMO[key] = (sig, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


#: (applicationId, context startTime, session UUID) -> (sf_dir,
#: source-stat signature) the SESSION's temp views currently point at
_VIEWS_CURRENT: dict[tuple, tuple[str, tuple]] = {}


def _source_sig(sf_dir: str) -> tuple:
    """(size, mtime) per table file — ten os.stat calls, microseconds,
    vs the ~1.5 s re-registration they gate."""
    out = []
    for t in TABLES:
        try:
            st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
            out.append((t, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((t, -1, -1))
    return tuple(out)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries match the
    DuckDB oracle's pre-registered view names.

    Memoized on the sf_dir the session's views CURRENTLY point at: temp
    views live for the session, and re-loading all ten tables costs ~1.5 s
    of driver-side file listing per call — paid by every spark.sql-based
    query build otherwise. Switching sf_dir re-registers (the view
    namespace is shared), so alternating directories stays correct. The
    memo keys on (applicationId, context startTime, session UUID) —
    stable for a session's lifetime, never reused by a successor the
    way ``id()`` can be, and distinct across ``newSession()`` siblings
    whose view catalogs are separate — and stores the source files'
    (size, mtime) signature, so a
    testdata regeneration under a live session re-registers instead of
    serving views bound to a retired layout.

    Tables absent from ``sf_dir`` are skipped (a partial layout — e.g. the
    scale sweep's documents-only synthetic corpus — registers only what it
    has; a query touching a missing view fails with TABLE_OR_VIEW_NOT_FOUND
    instead of blocking registration of the tables that DO exist). The
    stat signature distinguishes partial from full layouts, so switching
    between them re-registers."""
    # temp views are per-SESSION, not per-context: a sibling from
    # spark.newSession() shares (applicationId, startTime) but has its
    # own empty view catalog, so the key needs the JVM session's UUID
    # too or the sibling gets a false memo hit and no views (r11
    # review); _session_key carries that discipline (and the Connect
    # fallback) for this memo and the load_table relation memo alike
    # pinned before the memo check, as in load_table: a memo hit must
    # not leave a session that was switched to another zone off UTC
    pin_session(spark)
    key = _session_key(spark)
    _touch_session(key)
    sig = _source_sig(sf_dir)
    cur = (os.path.normpath(sf_dir), sig)
    if _VIEWS_CURRENT.get(key) == cur:
        return
    for (t, size, _mtime) in sig:
        if size >= 0:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        else:
            # a previously registered view must not survive a switch to a
            # layout that lacks the table — otherwise a query on the missing
            # table silently reads the PREVIOUS sf_dir's data instead of
            # failing with TABLE_OR_VIEW_NOT_FOUND as documented above
            spark.catalog.dropTempView(t)
    _VIEWS_CURRENT[key] = cur
