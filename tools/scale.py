"""One scale harness: every SCALE.md decade table from one command.

    python tools/scale.py --family FAMILY [--copies N ...] [--runs 3]

A family is data: its decades, how its corpus is made, its cells (registry
rows or operator calls), the arms a cell runs under (a Spark conf or a
module constant, restored on exit) and the exactness checks its outputs
must pass. Each SCALE.md decade table is one family: ``dedup``,
``relational``, ``ann``, ``ann_nprobe``, ``ann_pq``, ``lm``, ``bpe``,
``cc``, ``skew``, ``media``, ``zorder`` and ``stream_drain``.

``--copies`` sets the scaled decades: copies of the sf0.1 corpus for the
testdata families (their sf0.01 / sf0.1 decades always run), multiples
of a fixed unit for cc / skew / media. The default is the decades
SCALE.md recorded; a bare ``--copies`` runs only the unscaled decades.

Every cell is timed by ``bench.timed_runs`` (one untimed warm-up,
min-of-``--runs``, build / execute split, external cores, layer
profile), so a table here has the columns of a bench row. Every family
runs at ``get_spark()``'s default core count (``$SPARK_GRAFT_CPUS``).
Prints one markdown table and one JSON line; exits 1 if an exactness
check failed. Corpora live under ``.scale_sweep/`` (gitignored).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from bench import noop_sink, timed_runs, _wait_for_quiet_box  # noqa: E402

from aws_cloudfront_realtime_monitoring_spark.functions.quantize import qvec  # noqa: E402
from aws_cloudfront_realtime_monitoring_spark.operators import (  # noqa: E402
    audio, bpe, graph, kmeans, media_synth, multimodal, packing, pq, skew,
    zorder)
from aws_cloudfront_realtime_monitoring_spark.plans import load_full  # noqa: E402
from aws_cloudfront_realtime_monitoring_spark.plans import similarity as sim  # noqa: E402
from aws_cloudfront_realtime_monitoring_spark.plans.core import _synth_wire_lines  # noqa: E402
from aws_cloudfront_realtime_monitoring_spark.plans.text import bpe_stats_cols  # noqa: E402
from aws_cloudfront_realtime_monitoring_spark.session import get_spark  # noqa: E402
from aws_cloudfront_realtime_monitoring_spark.sources.tables import (  # noqa: E402
    DEFAULT_SF_DIR, load_table)
from aws_cloudfront_realtime_monitoring_spark.streaming import ingest  # noqa: E402

SWEEP_DIR = REPO / ".scale_sweep"
#: the testdata root: the parent of the engine's default sf dir
TESTDATA = Path(DEFAULT_SF_DIR).parent
#: the testdata scale the scaled decades copy
BASE = TESTDATA / "sf0.1"

#: a prime the order-free checksums reduce hashes by: 64-bit hashes sum
#: past int64 at a few thousand rows
_PRIME = 1_000_000_007


# the corpus cache, the arm and the cell
def cached_corpus(path: Path, version: int, build: Callable[[str], None],
                  *sources: str) -> str:
    """The one corpus cache: ``path`` (a parquet dir) is reused while its
    stamp -- ``version`` plus each source file's size and mtime_ns -- is
    unchanged, else rebuilt by ``build(str(path))``. The source stat is
    keyed because testdata is regenerated between rounds and a stale
    corpus would silently measure last round's data; mtime_ns, NOT whole
    seconds, so a same-second same-size regen invalidates it (tables.py
    r8 review). The version is bumped when a construction rule changes:
    an old-rule corpus would pass the stat check and keep feeding sweeps
    (the bm25 empty-tf lesson). Superseded stamps are retired, so a
    source stat that ever reverts cannot resurrect an old corpus; only
    THIS corpus is wiped, not the other tables of its dir (r8 review)."""
    key = f"v{version}" + "".join(
        f"-{st.st_size}-{st.st_mtime_ns}" for st in map(os.stat, sources))
    stamp = path.parent / f".{path.name}-{key}"
    if (path / "_SUCCESS").exists() and stamp.exists():
        return str(path)
    if path.exists():
        shutil.rmtree(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    for old in path.parent.glob(f".{path.name}-v*"):
        old.unlink()
    build(str(path))
    stamp.touch()
    print(f"# built {path}", file=sys.stderr)
    return str(path)


@contextmanager
def arm(spark, settings: dict):
    """Run the body under ``settings``, then restore what was there: a
    ``"spark.…"`` key is a session conf (unset again if it was unset), a
    ``(module, NAME)`` key a module constant. Families share a session: an
    ``autoBroadcastJoinThreshold=-1`` leaked by the skew joins would flip
    the lm family's join-op counts."""
    confs = spark.conf.getAll
    saved = []
    try:
        for key, value in settings.items():
            if isinstance(key, tuple):
                saved.append((key, getattr(*key)))
                setattr(*key, value)
            else:
                saved.append((key, confs.get(key)))
                spark.conf.set(key, str(value))
        yield
    finally:
        for key, value in reversed(saved):
            if isinstance(key, tuple):
                setattr(*key, value)
            elif value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


@dataclass
class Cell:
    """``run(build())`` timed by ``bench.timed_runs`` under ``arm``; then
    ``probe()``, under the same arm, adds facts (checksums, counts)."""
    name: str
    build: Callable
    arm: dict = field(default_factory=dict)
    probe: Callable[[], dict] | None = None
    run: Callable = noop_sink
    n_runs: int | None = None
    warmup: bool = True


@dataclass
class Ctx:
    spark: object
    results: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)
    registry: dict = field(default_factory=load_full)

    def fact(self, name: str, **facts) -> dict:
        """An untimed result row (corpus sizes, fit iterations, ratios)."""
        self.results[name] = facts
        return facts


def expect(res: dict, check: str, ok: bool) -> None:
    """Record one exactness check on a result row (see ``failures``)."""
    res.setdefault("exact", {})[check] = bool(ok)


def failures(results: dict) -> list[str]:
    return [f"{cell}: {check}" for cell, r in results.items()
            for check, ok in r.get("exact", {}).items() if not ok]


def per_core(spark, rate: float) -> float:
    """``rate`` per core: every family runs at ``get_spark()``'s default
    core count, which is Spark's ``defaultParallelism``."""
    return round(rate / spark.sparkContext.defaultParallelism, 1)


def rates(spark, res: dict, n: int) -> None:
    res.update(rec_per_s=round(n / res["sec"]),
               rec_per_s_core=per_core(spark, n / res["sec"]))


def checksum(df) -> dict:
    """Order-free exact fingerprint of ``df``'s rows, hashed in column
    order: the row count and the sum of the row hashes mod a prime."""
    row = df.select(F.pmod(F.xxhash64(*df.columns), F.lit(_PRIME)).alias("h")) \
        .agg(F.count("*").alias("n"), F.sum("h").alias("s")).head()
    return {"n": int(row.n), "s": int(row.s or 0)}


def recall_at3(rel) -> float:
    rec = rel.collect()
    return round(sum(r.n_both for r in rec) / (3 * len(rec)), 3)


# scaled testdata corpora
def _salted_documents(spark, base, copies: int):
    """The ~sf1 corpus is NOT a plain self-union: copying rows verbatim
    would multiply every duplicate-group size by the copy count, which
    multiplies LSH candidate pairs QUADRATICALLY in the copy count -- a
    data-distribution change, not a scale-up, and it would conflate "the
    corpus is 10x bigger" with "the corpus is 100x more duplicated".
    Instead each copy ``i`` salts EVERY word with the copy index
    (``regexp_replace(text, '(\\S+)', '$1<i>')``), which:

    - keeps per-document token/shingle counts identical (same per-row
      cost),
    - keeps the WITHIN-copy duplicate structure bit-identical (two docs
      that were near-dups still are -- both got the same salt),
    - makes every cross-copy shingle AND word hash distinct, so no
      cross-copy MinHash/SimHash collisions beyond random chance:
      duplicate-group sizes stay constant while the corpus grows -- a
      true scale-up. The salt also multiplies the vocabulary (and so the
      bigram model) by the copy count, the stress the LM filters' unhinted
      model join exists for, and defeats BPE's cross-copy memo hits."""
    if copies > 999:
        raise ValueError("copies > 999 exceeds the fixed-width salt")
    return [
        base.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            # fixed-width salt: equal-length suffixes are collision-free
            # across copies (str(i) was not prefix-free past copies=10:
            # 'foo'+'11' == 'foo1'+'1' -- r7 review; the recorded 10-copy
            # sweeps used single-digit salts, which ARE uniform width, so
            # their numbers stand)
            F.regexp_replace("text", r"(\S+)", r"$1" + f"{i:03d}").alias("text"),
            "lang",
            "source",
        ).withColumn("n_chars", F.length("text"))
        for i in range(copies)
    ]


def _sign(i: int, j: int) -> float:
    # genuinely per-(copy, dim) bit: parity of the hashed pair. The r6
    # form parity(i*odd + j*odd) collapsed to parity(i + j) -- a constant
    # GLOBAL sign per copy pair, no per-dim decorrelation.
    h = (i * 2654435761 + j * 40503) & 0xFFFFFFFF
    h ^= h >> 16
    return 1.0 if bin(h).count("1") % 2 == 0 else -1.0


def _rotated_embeddings(spark, base, copies: int):
    """The word-salt analog for vectors is a per-copy SIGNED ROTATION of
    the dimensions (rotate by the copy index, flip signs by a
    deterministic per-(copy, dim) bit): an orthogonal transform, so every
    WITHIN-copy cosine -- and therefore the within-copy near-dup/cluster
    structure -- is preserved bit-identically, while cross-copy pairs
    decorrelate to random-vector cosines. A verbatim self-union would
    instead create copies^2 exact-duplicate pairs (cos = 1), a
    data-distribution change, not a scale-up."""
    dim = len(base.select("embedding").head()[0])
    # Past dim copies the rotation offsets repeat (copies i and i+dim
    # share an offset), but the per-(copy, dim) sign patterns still
    # decorrelate them: for same-offset copies the cross-copy cosine is
    # sum_j s_ij * s_i'j * e_j^2 / ||e||^2, and with independent-looking
    # hashed sign bits that is a +-e_j^2 random walk -- mean 0, std
    # ~1/sqrt(dim), i.e. random-vector cosines, same as the rotated
    # pairs. The former copies<=dim refusal predated the v2 hashed signs
    # (the parity form WAS degenerate); what must now hold is that no
    # two same-offset copies share a sign pattern (else those two copies
    # are bit-identical: copies^2 cos=1 pairs, the distribution change
    # this construction exists to avoid). Checked explicitly -- a hash
    # collision refuses rather than corrupts.
    by_offset: dict[int, dict[tuple, int]] = {}
    for i in range(copies):
        pat = tuple(_sign(i, j) for j in range(dim))
        prev = by_offset.setdefault(i % dim, {}).setdefault(pat, i)
        if prev != i:
            raise ValueError(
                f"copies {prev} and {i} share rotation offset {i % dim} "
                "AND sign pattern -- they would be bit-identical; change "
                "the sign hash or the copy count")
    return [
        base.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            F.array(*[(F.element_at("embedding", (j + i) % dim + 1)
                       * F.lit(_sign(i, j))).cast("float")
                      for j in range(dim)]).alias("embedding"),
            "label",
        )
        for i in range(copies)
    ]


def _salted_relation(key_col: str, id_col: str, t_col: str):
    """The word-salt discipline applied to the relational family -- each
    copy ``i`` must neither merge with nor tie against the others, while
    its INTERNAL structure (sessions, window frames, as-of matches,
    per-series interpolation points) stays bit-identical:

    - ``user_id``/``o_custkey`` += i * 1e5 (above o_custkey's 15k max,
      small enough that stats_profile's SUM(user_id^2) moment stays
      within int64 -- a 1e8 offset overflowed it): disjoint key spaces,
      so sessions, per-user windows, and as-of joins never merge across
      copies (a verbatim self-union would 10x every user's row count --
      a distribution change, not a scale-up);
    - ``event_type`` gets a fixed-width copy suffix: series-keyed ops
      (interpolate's per-type grid, stats' per-type groups) see 10x MORE
      series of unchanged density -- how dimension cardinality actually
      grows at scale -- instead of 10x denser series that would
      serialize into 5 partitions;
    - ``ts``/``o_orderdate`` += i ms: breaks cross-copy exact sort ties
      (10x tie multiplicity would change window/sort behavior) while
      leaving hour bins, the ago(24h) horizon, and 30-min session gaps
      unchanged -- the time RANGE stays fixed, so time-windowed queries
      hold 10x the rows: a traffic scale-up, not a history stretch;
    - ``event_id``/``o_orderkey`` += i * 1e6: globally unique tiebreaks.

    One cell-level caveat, documented rather than hidden: the salted
    event_type no longer matches _synth_wire_lines' literal _TYPE_STATUS
    map, so cf_parse_wire_roundtrip's final tiny GROUP BY collapses to
    the ELSE-500 status for the scaled corpus (both engines treat it
    identically -- correctness holds; the measured per-row parse work,
    which dominates that row, is unchanged)."""
    def build(spark, base, copies: int):
        if copies > 214:
            # at 215 copies, stats_profile's SUM(user_id^2) moment already
            # exceeds int64 (copy 214's biggest group: 20,302 rows x
            # (2.14e7)^2 ~ 9.30e18 > 2^63-1 ~ 9.22e18; 214 sums to
            # ~9.21e18) -- refuse instead of overflowing mid-sweep (r11
            # review: the old > 215 guard was off by one against its own
            # arithmetic)
            raise ValueError(
                "copies > 214 overflows int64 in the SUM(user_id^2) moment")
        # the per-copy offsets below are only collision-free for the
        # RANGES the sf0.1 base corpus actually has; a larger base dir
        # would silently produce colliding ids/keys across copies and
        # corrupt the measured dedup/stats semantics (r11 advice) --
        # verify the assumption, don't trust it
        mx_id, mx_key = base.agg(F.max(id_col), F.max(key_col)).head()
        if mx_id is not None and int(mx_id) >= 1_000_000:
            raise ValueError(f"{id_col} max {mx_id} >= 1e6: the per-copy id "
                             "offset would collide across copies")
        if mx_key is not None and int(mx_key) >= 100_000:
            raise ValueError(f"{key_col} max {mx_key} >= 1e5: the per-copy "
                             "key salt would collide across copies")

        def column(c: str, i: int):
            if c == key_col:
                return (F.col(c) + F.lit(i * 100_000)).alias(c)
            if c == id_col:
                # +1e6 per copy, NOT 1e9: stats_profile's min_by/max_by
                # composite key is injective only while event_id < 2^33
                # ~ 8.6e9 (advanced.py, r8), which the old offset broke
                # from copy 9 on; base ids are < 1e6 in both tables so
                # 1e6 stays globally unique through the 214-copy cap
                return (F.col(c) + F.lit(i * 1_000_000)).alias(c)
            if c == t_col:
                return F.timestamp_micros(
                    F.unix_micros(F.col(c)) + F.lit(i * 1000)).alias(c)
            if c == "event_type":
                return F.concat(F.col(c), F.lit(f"{i:03d}")).alias(c)
            return F.col(c)
        return [base.select(*[column(c, i) for c in base.columns])
                for i in range(copies)]
    return build


#: table -> (corpus version, copy function). The version is the
#: cached_corpus stamp: bump it when the table's construction changes.
SCALED_TABLES = {
    "documents": (3, _salted_documents),
    "embeddings": (3, _rotated_embeddings),
    "events": (3, _salted_relation("user_id", "event_id", "ts")),
    "orders": (3, _salted_relation("o_custkey", "o_orderkey", "o_orderdate")),
}


def scaled_table(spark, base_dir: Path, copies: int, name: str) -> str:
    """``copies`` salted copies of ``base_dir``'s table ``name``, in the
    sf_dir-shaped ``SWEEP_DIR/<base>x<copies>`` directory (a parquet
    DIRECTORY, which ``load_table`` reads in place)."""
    version, copier = SCALED_TABLES[name]
    src = base_dir / f"{name}.parquet"
    out = SWEEP_DIR / f"{base_dir.name}x{copies}" / f"{name}.parquet"

    def build(path: str) -> None:
        parts = copier(spark, load_table(spark, str(base_dir), name), copies)
        scaled = parts[0]
        for p in parts[1:]:
            scaled = scaled.unionAll(p)
        scaled.repartition(32).write.mode("overwrite").parquet(path)
    cached_corpus(out, version, build, str(src))
    return str(out.parent)


def testdata_decades(fixed: tuple, tables: tuple, largest: bool = False):
    """The ``fixed`` sf dirs, then a salted ``x<copies>`` corpus per copy
    count (``largest``: only the last decade); a scaled decade must hold
    exactly copies x base rows."""
    def decades(ctx, copies, base: Path, fixed_override=None):
        out = [(sf, str(TESTDATA / sf)) for sf in (
            fixed if fixed_override is None else fixed_override)]
        for c in copies[-1:] if largest else copies:
            out.append((f"x{c}", [scaled_table(ctx.spark, base, c, t)
                                  for t in tables][0]))
        out = out[-1:] if largest else out
        for label, d in out:
            rows = {t: load_table(ctx.spark, d, t).count() for t in tables}
            res = ctx.fact(f"rows@{label}", **rows)
            if label.startswith("x"):
                c = int(label[1:])
                for t in tables:
                    expect(res, f"{t} = copies x base", rows[t] == c *
                           load_table(ctx.spark, str(base), t).count())
        return out
    return decades


def unit_decades(unit: Callable[[int], list]):
    """Decades of a synthetic corpus: ``unit(copies)`` lists the labelled
    sizes one copy count runs at."""
    return lambda ctx, copies, base, fixed=None: [d for c in copies for d in unit(c)]


# dedup / relational: registry rows over the scaled corpora
#: the r5 dedup sweep set plus the r6 curation family (r7): every op that
#: scans only the documents table, plus semdedup over the embeddings table
DEDUP_QUERIES = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_clusters",
    "bm25_topk", "decontaminate", "unigram_logprob", "dedup_spans",
    "curation_pipeline", "semdedup"]
#: the r8 relational/headline sweep set (VERDICT r7 item #1): the flagship
#: Q1 + wire-parse paths and the window/join/interpolate/stats/HLL family,
#: over the salted events/orders corpus
RELATIONAL_QUERIES = [
    "q1_hourly_measure_by_dim", "cf_parse_wire_roundtrip", "sessionize",
    "asof_join_latest_order", "window_frames_ranking",
    "interpolate_linear_fill", "stats_profile", "hll_cube_range"]


def registry_cells(queries: list[str]):
    def cells(ctx, label, d):
        # one untimed pass over every row before the first decade's cells:
        # the signature/flatten plans are codegen-heavy and the JIT keeps
        # improving them for several executions (cold 7.6 s vs warm 1.0 s
        # for minhash at sf0.1), so without it the first cells measure JVM
        # warm-up, not the query
        for q in () if ctx.state.setdefault("warm", False) else queries:
            noop_sink(ctx.registry[q].build(ctx.spark, d))
            ctx.spark.catalog.clearCache()
        ctx.state["warm"] = True
        for q in queries:
            yield Cell(f"{q}@{label}",
                       lambda q=q: ctx.registry[q].build(ctx.spark, d))
    return cells


# ann / ann_nprobe / ann_pq
#: the three registry rows that scan the embeddings corpus:
#: ann_topk_bruteforce (broadcast probes, one corpus scan, per-partition
#: top-k -- expected ~linear), ann_topk_ivf (Hamming-1 probe ball against
#: a bucket equi-join -- expected ~linear) and embedding_near_dup_blocked
#: (exact all-pairs, QUADRATIC BY DESIGN: the measured question is
#: whether the corpus-scaled block count keeps per-group work bounded and
#: balanceable, so the fixed B=8 decomposition is re-measured next to it)
ANN_QUERIES = ["ann_topk_bruteforce", "ann_topk_ivf",
               "embedding_near_dup_blocked"]
#: Lloyd iterations of every coarse-quantizer fit
KMEANS_ITERS = 8
#: trained-quantizer sweep (r16): nprobe values and the sample-fit arm
NPROBE_SWEEP = (1, 2, 4, 8, 16)
FIT_FRACTION = 0.1
#: IVF-PQ sweep (r17): subspaces, codebook size, nprobe values
PQ_M, PQ_KSUB, PQ_NPROBE = 8, 256, (2, 4, 8)


def _embeddings(ctx, d):
    return ctx.spark.read.parquet(f"{d}/embeddings.parquet")


def _fit_cell(name: str, out: dict, load, fit) -> Cell:
    """A fit timed once, cold (the production train-once shape); its
    result lands in ``out["model"]``."""
    return Cell(name, load, run=lambda df: out.update(model=fit(df)),
                n_runs=1, warmup=False)


def _kmeans(ctx, label, d, name: str, fit_fraction=None):
    """The coarse-quantizer fit cell (k=64 past 50k vectors, else 16),
    its result holder, n and k."""
    n = _embeddings(ctx, d).count()
    k, out = 64 if n > 50_000 else 16, {}
    return _fit_cell(f"{name}@{label}", out, lambda: _embeddings(ctx, d),
                     lambda df: kmeans.fit_kmeans(df, k=k, max_iters=KMEANS_ITERS,
                                                  fit_fraction=fit_fraction)), out, n, k


def _trained_recall(spark, d, cents, nprobe=None, codebooks=None):
    """ann_trained_recall / ann_pq_recall's n_both relation with the
    nprobe knob exposed (the registry rows pin the production default;
    the sweeps vary it)."""
    found = (sim.ann_topk_trained(spark, d, centroids=cents, nprobe=nprobe)
             if codebooks is None else
             sim.ann_topk_pq(spark, d, centroids=cents, codebooks=codebooks,
                             nprobe=nprobe))
    return sim.recall_audit(found, sim.ann_topk_bruteforce(spark, d),
                        "trained" if codebooks is None else "pq") \
        .select("query_id", "n_both")


def ann_cells(ctx, label, d):
    """The three rows; the trained quantizer (r15 verdict #5: fit ONCE,
    search-only runs, recall@3 against the exact ground truth); at the
    scaled decades the fixed-B=8 near-dup contrast (B pinned at the floor
    by making the doubling condition unreachable -- results are invariant
    to B, so its checksum must match)."""
    spark, reg = ctx.spark, ctx.registry
    scaled = label.startswith("x")

    def near_dup():
        return reg["embedding_near_dup_blocked"].build(spark, d)

    for q in ANN_QUERIES:
        yield Cell(f"{q}@{label}", lambda q=q: reg[q].build(spark, d),
                   probe=(lambda: {"checksum": checksum(near_dup())})
                   if scaled and q == "embedding_near_dup_blocked" else None)
    cell, fit, n, k = _kmeans(ctx, label, d, "ann_trained_fit")
    res = yield cell
    cents, _, iters = fit["model"]
    res.update(n=n, k=k, fit_iters=iters)
    yield Cell(f"ann_trained@{label}",
               lambda: sim.ann_topk_trained(spark, d, centroids=cents),
               probe=lambda: {"recall_at3": recall_at3(
                   sim.ann_trained_recall(spark, d, centroids=cents))})
    if scaled:
        res = yield Cell(
            f"near_dup_fixed_b8@{label}", near_dup,
            arm={(sim, "NEAR_DUP_BLOCK_TARGET"): 1 << 40},
            probe=lambda: {"checksum": checksum(near_dup())})
        expect(res, "matches adaptive B", res["checksum"] == ctx.results[
            f"embedding_near_dup_blocked@{label}"]["checksum"])


def ann_nprobe_cells(ctx, label, d):
    """Recall-vs-nprobe curve + sample-fit contrast (r16, verdict #3/#4):
    fit ONCE per arm (full-corpus Lloyd vs a deterministic hash-sample
    fit), then per nprobe time search-only and audit recall@3. More lists
    only widen the set the exact re-rank picks from: recall may not fall."""
    spark = ctx.spark
    arms = {}
    for arm_name, frac in (("full", None), (f"sample{FIT_FRACTION}",
                                            FIT_FRACTION)):
        cell, fit, n, k = _kmeans(ctx, label, d, f"fit[{arm_name}]", frac)
        res = yield cell
        arms[arm_name] = fit["model"][0]
        res.update(n=n, k=k, fit_iters=fit["model"][2])
    for arm_name, cents in arms.items():
        prev = 0.0
        for nprobe in NPROBE_SWEEP:
            res = yield Cell(
                f"np{nprobe}:{arm_name}@{label}",
                lambda: sim.ann_topk_trained(spark, d, centroids=cents,
                                             nprobe=nprobe),
                probe=lambda: {"recall_at3": recall_at3(
                    _trained_recall(spark, d, cents, nprobe))})
            expect(res, "recall >= previous nprobe", res["recall_at3"] >= prev)
            prev = res["recall_at3"]


def _dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*")
               if p.is_file() and not p.name.startswith(("_", ".")))


def ann_pq_cells(ctx, label, d):
    """IVF-PQ (r17, r16 verdict #1): fit the coarse quantizer (auto-
    sample) and the codebooks once, time the encode, record the HONEST
    on-disk compression ratio (index parquet vs the raw quantized-vector
    parquet the trained index scans), then per nprobe PQ search + recall@3
    next to the trained path on the SAME centroids. One code per vector."""
    spark = ctx.spark
    cell, fit, n, k = _kmeans(ctx, label, d, "coarse_fit", "auto")
    res = yield cell
    cents = fit["model"][0]
    res.update(n=n, k=k, fit_iters=fit["model"][2])

    def qvecs():
        return _embeddings(ctx, d).select("vec_id", qvec().alias("qv"))
    books: dict = {}
    res = yield _fit_cell(f"pq_fit@{label}", books, qvecs,
                          lambda df: pq.fit_pq(df, cents, m=PQ_M, ksub=PQ_KSUB))
    res.update(m=PQ_M, ksub=PQ_KSUB)
    cbs = books["model"]
    tmp = tempfile.mkdtemp(prefix="pq_size_")
    try:
        res = yield Cell(
            f"pq_encode@{label}", lambda: pq.encode_pq(qvecs(), cents, cbs),
            run=lambda df: df.write.mode("overwrite").parquet(f"{tmp}/index"))
        qvecs().write.mode("overwrite").parquet(f"{tmp}/raw")
        idx_b, raw_b = _dir_bytes(f"{tmp}/index"), _dir_bytes(f"{tmp}/raw")
        res.update(index_bytes=idx_b, raw_bytes=raw_b,
                   compression=round(raw_b / idx_b, 2) if idx_b else None)
        expect(res, "one code per vector",
               spark.read.parquet(f"{tmp}/index").count() == n)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for nprobe in PQ_NPROBE:
        yield Cell(f"np{nprobe}:pq@{label}",
                   lambda: sim.ann_topk_pq(spark, d, centroids=cents,
                                           codebooks=cbs, nprobe=nprobe),
                   probe=lambda: {"recall_at3": recall_at3(
                       _trained_recall(spark, d, cents, nprobe, cbs))})
        yield Cell(f"np{nprobe}:trained@{label}",
                   lambda: sim.ann_topk_trained(spark, d, centroids=cents,
                                                nprobe=nprobe),
                   probe=lambda: {"recall_at3": recall_at3(
                       _trained_recall(spark, d, cents, nprobe))})


# lm / bpe
LM_QUERIES = ["unigram_logprob", "bigram_logprob"]
_JOIN_OPS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
#: BPE merges learned per decade (the fit trains on the h60-deterministic
#: <= 20k-doc sample, so its wall should be flat across decades)
N_MERGES = 200
PACK_SEQ_LEN = 2048


def _lm_plan(ctx, name: str, d: str) -> dict:
    """Execute the row once through a tiny checksum aggregate (so the AQE
    FINAL plan -- runtime join decisions included -- is readable off the
    same QueryExecution): the checksum and the per-join-op counts."""
    agg = ctx.registry[name].build(ctx.spark, d).agg(
        F.count("*").alias("n"), F.sum("sum_lp_micro").alias("s"),
        F.sum("keep").alias("k"))
    row = agg.collect()[0]
    plan = agg._jdf.queryExecution().executedPlan().toString()
    return {"n_docs": row["n"], "sum_lp": int(row["s"]), "n_keep": int(row["k"]),
            "joins": {op: plan.count(op) for op in _JOIN_OPS}}


def lm_cells(ctx, label, d):
    """Both LM filters (r17, r16 verdict #2) with the executed join
    strategy off the AQE final plan: bigram_logprob's model join is
    DELIBERATELY unhinted (plans/curation.py), so AQE broadcasts it when
    small and shuffle-joins it at scale. The forced-shuffle arm
    (autoBroadcastJoinThreshold=-1) flips the unhinted join to a shuffle
    join on the same data (the hinted unigram broadcast survives); the
    checksum must not move."""
    for q in LM_QUERIES:
        yield Cell(f"{q}@{label}",
                   lambda q=q: ctx.registry[q].build(ctx.spark, d),
                   probe=lambda q=q: _lm_plan(ctx, q, d))
    res = yield Cell(
        f"bigram_forced_shuffle@{label}",
        lambda: ctx.registry["bigram_logprob"].build(ctx.spark, d),
        arm={"spark.sql.autoBroadcastJoinThreshold": "-1"},
        probe=lambda: _lm_plan(ctx, "bigram_logprob", d))
    base = ctx.results[f"bigram_logprob@{label}"]
    expect(res, "checksum_match", all(res[c] == base[c]
                                      for c in ("sum_lp", "n_docs", "n_keep")))


def _bpe_checksum(docs, merges) -> dict:
    """One encode pass reduced to order-free exact integers -- through
    the SHARED bpe_stats_cols projection (the registry row's spelling; a
    hand-copied fingerprint expression here could silently drift, r17
    review)."""
    row = bpe_stats_cols(bpe.encode_bpe_batches(docs, merges)).select(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens"),
        # 60-bit hashes sum past int64 at a few thousand docs -- reduce
        # mod a prime first (order-free, still collision-resistant enough
        # for a determinism check)
        F.sum(F.col("tok_fp") % F.lit(_PRIME)).alias("fp_sum"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in ("n_docs", "n_tokens", "fp_sum")}


def bpe_cells(ctx, label, d):
    """Learned BPE (r17): the fit is corpus-size-independent (bounded
    sample); the encode is a zero-shuffle narrow map, linear in tokens
    (salting multiplies distinct words, the word memo's worst case). Two
    encode passes must agree; packing must conserve every token."""
    spark = ctx.spark
    docs = load_table(spark, d, "documents")
    fit: dict = {}
    res = yield _fit_cell(f"bpe_fit@{label}", fit, lambda: docs,
                          lambda df: bpe.fit_bpe(df, n_merges=N_MERGES))
    merges = fit["model"]
    res["n_merges"] = len(merges)
    res = yield Cell(f"bpe@{label}",
                     lambda: bpe.encode_bpe_batches(docs, merges).select("n_tokens"))
    a, b = _bpe_checksum(docs, merges), _bpe_checksum(docs, merges)
    res.update(a, tokens_per_s=round(a["n_tokens"] / res["sec"]))
    expect(res, "deterministic", a == b)

    # packed-pretraining stage: ids + FFD shard assignment + the
    # token-moving join/concat -- the only BPE stage with a corpus-sized
    # shuffle (each token id crosses the wire once)
    enc = bpe.encode_bpe_batches(docs, merges).localCheckpoint(eager=False)
    vocab = bpe.build_vocab(docs, merges, enc=enc)
    ids = bpe.tokens_to_ids(enc, vocab)
    res = yield Cell(f"pack@{label}", lambda: packing.pack_token_sequences(
        ids, PACK_SEQ_LEN).select("seq_id", "n_tokens"))
    row = packing.pack_token_sequences(ids, PACK_SEQ_LEN).agg(
        F.count("*").alias("n_seqs"), F.sum("n_tokens").alias("n_tokens"),
        F.avg(F.when(F.col("oversize") == 0, F.col("n_tokens"))).alias("fill"),
    ).collect()[0]
    # None guards (r17 review): an all-oversize cell makes fill NULL; an
    # empty corpus makes the sums NULL -- record honestly instead of a
    # TypeError that discards every earlier cell
    n_tok = int(row["n_tokens"] or 0)
    res.update(n_seqs=int(row["n_seqs"]), n_tokens=n_tok,
               mean_fill=None if row["fill"] is None
               else round(float(row["fill"]), 1),
               tokens_per_s=round(n_tok / res["sec"]), vocab_size=len(vocab))
    expect(res, "conserved", n_tok == a["n_tokens"])


# cc: adversarial path graphs
#: nodes per copy: the recorded decades 10 and 25 are 2e6 (==
#: graph.BROADCAST_MAX_NODES) and 5e6 nodes
CC_UNIT_NODES = 200_000


def _cc_unit(copies: int) -> list:
    """The adversarial shape is a single PATH GRAPH 0-1-2-...-N: under the
    operator's seed labeling (lbl(n) = min over {n} + neighbors(n)) every
    interior node takes n-1, so the contracted label graph is ANOTHER
    path of ~N edges -- contraction buys nothing, making the path at once
    the worst case for the probe size, the loop depth (component
    diameter N), and the pointer-jumping flatten. At or under the node
    gate a DOUBLE-step path (edges (i, i+1) AND (i, i+2)) also runs: the
    gate admits the finish but the contracted graph is ~2N pairs, so the
    bounded probe must report oversize and the BROADCAST hook loop must
    engage."""
    n = copies * CC_UNIT_NODES
    shapes = ["path"] + (["path2"] if n <= graph.BROADCAST_MAX_NODES else [])
    return [(f"{n}:{s}", (n, s)) for s in shapes]


def cc_cells(ctx, label, arg):
    """One cell per graph; exact only if every node is labelled 0 --
    only a clean full pass of whichever path the operator took can
    produce that."""
    n_nodes, shape = arg
    spark = ctx.spark

    def edges():
        step1 = spark.range(0, n_nodes - 1, 1, 32).select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
        if shape == "path":
            return step1
        return step1.union(spark.range(0, n_nodes - 2, 1, 32).select(
            F.col("id").alias("doc_a"), (F.col("id") + 2).alias("doc_b")))

    # which path the operator's decision tree takes, from its own
    # thresholds. Contracted pairs under the seed labeling: a plain path
    # contracts to n-2 pairs; the double-step path's seed is
    # lbl(0)=lbl(1)=0, lbl(i>=2)=i-2, so family (i,i+1) yields the n-3
    # distinct cross pairs (i-2, i-1) for i in 2..n-2 and family (i,i+2)
    # adds the n-4 new pairs (i-2, i) for i in 2..n-3 (i=0 self-pairs,
    # i=1 duplicates (0,1)): 2n-7 total
    contracted = n_nodes - 2 if shape == "path" else 2 * n_nodes - 7
    path = ("shuffle loop (node gate)" if n_nodes > graph.BROADCAST_MAX_NODES
            else "broadcast loop (probe oversize)"
            if contracted > graph.LOCAL_FINISH_MAX_EDGES
            else "local finish (max-size driver union-find)")
    last: dict = {}

    def labels():
        last["df"] = graph.connected_components(edges())
        return last["df"]

    res = yield Cell(f"cc@{label}", labels, probe=lambda: last["df"].agg(
        F.count("*").alias("n"), F.countDistinct("lbl").alias("k"),
        F.max("lbl").alias("mx")).head().asDict())
    res.update(contracted_pairs=contracted, path=path)
    expect(res, "one component labelled 0",
           res["n"] == n_nodes and res["k"] == 1 and res["mx"] == 0)


# skew: one hot key
#: large-side rows per copy (the recorded decade, 10 copies, is 1e7)
SKEW_UNIT_ROWS = 1_000_000
SKEW_KEYS = 1_000_000  # uniform tail key domain (also the small side's keys)
SKEW_SALTS = (4, 8, 16, 32, "auto")


def _skew_corpus(spark, rows: int, hot_share: float) -> str:
    """``rows`` rows, key 0 owns ``hot_share`` of them, the rest uniform
    over 1..SKEW_KEYS. ``val2`` adds a high-cardinality value (~1e6
    distinct under the hot key) so the exact-distinct cells measure
    LARGE partial aggregation state; keyed by hot share for the
    two-ratio auto-salt sweep."""
    def build(path: str) -> None:
        spark.range(0, rows, 1, 64).selectExpr(
            f"CASE WHEN id % {int(1 / hot_share)} = 0 THEN 0 "
            f"ELSE pmod(xxhash64(id), {SKEW_KEYS - 1}) + 1 END AS key",
            "CAST(pmod(id, 1000) AS DOUBLE) AS val",
            "pmod(id, 1000003) AS val2",
        ).write.mode("overwrite").parquet(path)
    return cached_corpus(SWEEP_DIR / "skew" / f"large_{rows}_h{int(hot_share * 100)}",
                         2, build)


def skew_cells(ctx, label, rows):
    """Plain join with AQE skew-join on (the default) and off (the
    straggler, isolated), the salted join over a hand-tuned grid and the
    derived salt at two skew ratios (auto passes within ~1.2x of the grid
    optimum), then the aggregations; read ``max_task_s``, since wall time
    on a many-core box hides a straggler inside other tasks' makespan.
    The small side (SKEW_KEYS keys x 2 rows) is sized ABOVE the broadcast
    threshold (the operator's domain: "too big to broadcast, far smaller
    than the large side"); the join arm pins the threshold off so a
    future default cannot flip the experiment. Spark's hash aggregate
    already computes MAP-SIDE partials, so the honest aggregation outcome
    may be a NULL RESULT; two_phase_agg's surviving domain is LARGE
    partial state (exact distinct): the built-in count-distinct against
    the explicit dedup-then-count (the VALID decomposition -- a (key,
    salt) countDistinct would double-count values spread across salts).
    Every salted / two-phase cell must give its plain cell's rows."""
    spark = ctx.spark
    large_p = _skew_corpus(spark, rows, 0.5)
    large10_p = _skew_corpus(spark, rows, 0.1)

    def build_small(path: str) -> None:
        spark.range(0, SKEW_KEYS, 1, 32) \
            .selectExpr("id AS key", "explode(array(0, 1)) AS rep") \
            .selectExpr("key", "concat('dim_', key, '_', rep) AS dim") \
            .write.mode("overwrite").parquet(path)
    small_p = cached_corpus(SWEEP_DIR / "skew" / f"small_{SKEW_KEYS}", 1,
                            build_small)

    large, large10, small = (lambda p=p: spark.read.parquet(p)
                             for p in (large_p, large10_p, small_p))
    join_on = {"spark.sql.autoBroadcastJoinThreshold": "-1",
               "spark.sql.adaptive.skewJoin.enabled": "true"}
    join_off = dict(join_on, **{"spark.sql.adaptive.skewJoin.enabled": "false"})

    def joins(prefix, lg, plain_arms):
        return [(f"{prefix}_plain_aqe_skew_{s}",
                 lambda: lg().join(small(), on="key", how="inner"), a)
                for s, a in plain_arms] + [
            (f"{prefix}_salted_{n}",
             lambda n=n: skew.salted_join(lg(), small(), "key", n), join_on)
            for n in SKEW_SALTS]
    groups = [
        joins("join", large, [("off", join_off), ("on", join_on)]),
        joins("join10", large10, [("on", join_on)]),
        [("agg_plain", lambda: large().groupBy("key").agg(
            F.count("*").alias("n"), F.sum("val").alias("s"),
            F.max("val").alias("mx")), {}),
         ("agg_two_phase_8", lambda: skew.two_phase_agg(
             large(), "key", {"n": "count", "s": "sum:val", "mx": "max:val"},
             8), {})],
        [("distinct_plain", lambda: large().groupBy("key").agg(
            F.countDistinct("val2").alias("nd")), {}),
         ("distinct_manual_two_phase", lambda: large().select("key", "val2")
          .distinct().groupBy("key").count(), {})],
    ]
    for group in groups:
        ref = None
        for name, build, arm_ in group:
            res = yield Cell(f"{name}@{label}", build, arm_,
                             probe=lambda: {"checksum": checksum(build())})
            if ref is None:
                ref = res["checksum"]
            else:
                expect(res, "matches plain", res["checksum"] == ref)


# media: the decode surfaces over a synthesized payload corpus
#: payloads per copy (the recorded decades, 10/100/1000 copies, are 5k /
#: 50k / 500k payloads: sf0.1 / ~sf1 / ~sf10 by documents-table rows)
MEDIA_UNIT = 500
#: pool recipe version: the media corpora's cache stamp
MEDIA_VERSION = 1
#: image-corpus family mix, in 16ths: PNG-heavy like a web crawl, the
#: expensive pure-Python JPEG entropy decoders get a real (but bounded)
#: share so the cell measures them without being ONLY them
IMAGE_MIX = ["png"] * 7 + ["jpeg"] * 3 + ["jpeg_arith"] * 1 + \
    ["webp"] * 3 + ["bmp"] * 2
IMAGE_FAMILIES = ("png", "jpeg", "jpeg_arith", "webp", "bmp")


def build_pool() -> dict[str, list[bytes]]:
    """Payloads per family from the golden suites' spec-written encoders,
    sized so per-record decode cost matches the family's real profile
    (pure-Python JPEG entropy decode dominates; the rest is numpy)."""
    sys.path.insert(0, str(REPO / "tests"))
    import numpy as np
    from test_jpeg import make_jpeg
    from test_jpeg_arith import make_arith_jpeg
    from test_png_full import _rng, make_png
    from test_webp import _encode_vp8l, _wrap_riff

    r = _rng(MEDIA_VERSION)
    pngs: list[bytes] = []
    for i in range(12):
        w, h = 32 + (i * 13) % 65, 32 + (i * 29) % 65
        if i % 4 == 0:  # 8-bit RGB sequential
            pngs.append(make_png(r.randint(0, 256, (h, w, 3)).astype(np.uint8)))
        elif i % 4 == 1:  # 8-bit RGBA Adam7 interlaced
            pngs.append(make_png(r.randint(0, 256, (h, w, 4)).astype(np.uint8),
                                 interlace=1, filters=(0, 1, 2, 3, 4)))
        elif i % 4 == 2:  # 16-bit grayscale
            pngs.append(make_png(r.randint(0, 65536, (h, w, 1)), depth=16))
        else:  # 4-bit palette
            pngs.append(make_png(r.randint(0, 16, (h, w, 1)), depth=4, color_type=3,
                                 palette=r.randint(0, 256, (16, 3)).astype(np.uint8)))
    jpeg_base = [make_jpeg(r.randint(0, 256, (24 + (i % 3) * 8,) * 2 + (3,))
                           .astype(np.uint8)) for i in range(6)]
    jpeg_arith = [make_arith_jpeg(r.randint(0, 256, (16, 16, 3)).astype(np.uint8))
                  for _ in range(3)]
    webps = [_wrap_riff(_encode_vp8l(
        r.randint(0, 256, (24 + (i % 3) * 8,) * 2 + (4,)).astype(np.uint8))[0])
        for i in range(6)]
    bmps = [media_synth.bmp_payload(7919 * i + 13) for i in range(8)]
    wavs = [media_synth.wav_payload(2 * (104729 * i + 7) + 1) for i in range(8)]
    return {"png": pngs, "jpeg": jpeg_base, "jpeg_arith": jpeg_arith,
            "webp": webps, "bmp": bmps, "wav": wavs}


def _media_corpus(ctx, kind: str, n: int) -> str:
    """(doc_id, payload) parquet of ``n`` payloads of ``kind`` (``images``
    = the mix, ``wav``, ``only_<family>``) assigned round-robin (doc_id %
    16 picks the family, doc_id // 16 rotates within its pool): decoders
    are stateless and cache nothing, so repeated payloads measure the
    same per-record work a distinct-payload corpus would."""
    if "pool" not in ctx.state:
        ctx.state["pool"] = build_pool()
    pool = ctx.state["pool"]
    fams = (IMAGE_MIX if kind == "images" else
            ["wav"] * 16 if kind == "wav" else [kind[5:]] * 16)
    fam_pools = {f: pool[f] for f in set(fams)}

    def synth(batches):
        import pandas as pd
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame({"doc_id": ids, "payload": [
                fam_pools[fams[i % 16]][(i // 16) % len(fam_pools[fams[i % 16]])]
                for i in ids]})

    def build(path: str) -> None:
        ctx.spark.range(0, n, 1, 32) \
            .mapInPandas(synth, "doc_id BIGINT, payload BINARY") \
            .write.mode("overwrite").parquet(path)
    return cached_corpus(SWEEP_DIR / "media" / f"{kind}_{n}", MEDIA_VERSION, build)


def media_decades(ctx, copies, base, fixed=None):
    """The mixed decades, then per-family attribution at the middle one
    (one single-family corpus each: what share of the mixed cell each
    decoder owns) and the batch memory probe at the largest."""
    out = [(str(c * MEDIA_UNIT), ("mixed", c * MEDIA_UNIT)) for c in copies]
    if out:
        mid, top = out[len(out) // 2][1][1], out[-1][1][1]
        out += [(f"families@{mid}", ("families", mid)),
                (f"memory@{top}", ("memory", top))]
    return out


def _formats(spark, surface, path: str) -> dict:
    return {r.fmt: r["count"] for r in
            surface(spark.read.parquet(path)).groupBy("fmt").count().collect()}


def media_cells(ctx, label, arg):
    """The PRODUCTION surfaces as the registry rows use them:
    ``decode_batches`` over REAL-decode images (PNG incl. Adam7, 16-bit,
    palette; baseline + arithmetic JPEG; VP8L WebP; BMP) and
    ``audio_feature_batches`` over WAV (strict: a bad payload raises)."""
    spark = ctx.spark
    decode, what, n = multimodal.decode_batches, *arg
    if what == "memory":
        ctx.fact(f"batch_memory@{n}", **_probe_batches(
            spark, _media_corpus(ctx, "images", n)))
        return
    kinds = ([("images", decode), ("wav", lambda df: audio.audio_feature_batches(
        df, skip_invalid=False))] if what == "mixed" else
        [(f"only_{f}", decode) for f in IMAGE_FAMILIES])
    for kind, surface in kinds:
        path = _media_corpus(ctx, kind, n)
        # every payload must decode (a regressed pool would silently time
        # the fake fallback -- the exit-0-checked-nothing class), read
        # before the timed runs and again after them
        before = _formats(spark, surface, path)
        res = yield Cell(f"{kind}_{n}",
                         lambda: surface(spark.read.parquet(path)))
        res["formats"] = before
        rates(spark, res, n)
        expect(res, "every payload decoded", sum(before.values()) == n and not
               any(f.startswith("fake-") for f in before))
        expect(res, "counts stable across runs",
               _formats(spark, surface, path) == before)
        prev = ctx.state.get(kind)
        res["ratio_vs_prev_decade"] = round(res["sec"] / prev, 2) if prev else None
        ctx.state[kind] = res["sec"]


def _probe_batches(spark, path: str) -> dict:
    """Peak Arrow batch memory: per-batch rows/bytes and the worker's
    ru_maxrss AFTER decoding the batch (probe-only, untimed)."""
    def probe(batches):
        import resource

        import pandas as pd
        for pdf in batches:
            nbytes = int(sum(len(p) for p in pdf["payload"] if p is not None))
            for r in pdf.itertuples(index=False):
                multimodal.decode_image(int(r.doc_id), bytes(r.payload))
            rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            yield pd.DataFrame({"rows": [len(pdf)], "bytes": [nbytes],
                                "rss_mb": [rss_mb]})

    row = spark.read.parquet(path) \
        .mapInPandas(probe, "rows BIGINT, bytes BIGINT, rss_mb DOUBLE") \
        .agg(F.max("rows").alias("max_rows"), F.max("bytes").alias("max_bytes"),
             F.max("rss_mb").alias("max_rss_mb"),
             F.count("*").alias("n_batches")).head()
    return {"max_batch_rows": int(row.max_rows),
            "max_batch_mb": round(row.max_bytes / 1e6, 2),
            "worker_max_rss_mb": round(row.max_rss_mb, 1),
            "n_batches": int(row.n_batches)}


# zorder: write-side pruning
#: the 2-D range predicate: 2 days of a 30-day table x 50 of 1500 users
HOUR_LO, HOUR_N = 240, 48
USER_LO, USER_N = 400, 50
ZORDER_FILES = 32
#: one row group per ~3k rows so footer stats have file-sub granularity,
#: as a real multi-TB table would (many row groups per file)
ZORDER_ROW_GROUP_BYTES = 256 * 1024


def _footer_overlap(layout_dir: str, lo, hi, use_ts: bool,
                    use_user: bool) -> tuple[int, int]:
    """(row groups total, row groups overlapping the predicate box) from
    the footers alone: the engine-independent count ANY stats-pruning
    reader (Spark pushdown, DuckDB zone maps, Iceberg/Delta skipping) must
    decode. A disabled dimension overlaps everything."""
    import pyarrow.parquet

    total = hit = 0
    for f in sorted(Path(layout_dir).glob("*.parquet")):
        meta = pyarrow.parquet.ParquetFile(f).metadata
        names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            total += 1
            ts_st = g.column(names["ts"]).statistics
            u_st = g.column(names["user_id"]).statistics
            # pyarrow returns tz-aware datetimes for MICROS-with-UTC; strict
            # < on the upper edge matches the measured predicate ts < hi: a
            # row group whose min sits exactly on the boundary is skippable
            # by every stats-pruning reader (r7 review)
            ts_ok = not use_ts or (ts_st.min.replace(tzinfo=None) < hi
                                   and ts_st.max.replace(tzinfo=None) >= lo)
            u_ok = not use_user or (u_st.min <= USER_LO + USER_N - 1
                                    and u_st.max >= USER_LO)
            hit += ts_ok and u_ok
    return total, hit


def zorder_cells(ctx, label, d):
    """What a range query must READ under a Z-ordered vs the natural
    time-sorted layout (same rows, same file count): footer row groups
    read / total, Spark scan input bytes (``layers``) and wall. Both
    layouts must return the same rows."""
    import datetime

    spark = ctx.spark
    events = load_table(spark, d, "events")
    t0_hour = events.agg(
        F.floor(F.unix_timestamp(F.min("ts")) / 3600).cast("long")).head()[0]
    rel_hour = (F.unix_timestamp("ts") / F.lit(3600)).cast("long") - F.lit(t0_hour)
    tmp = tempfile.mkdtemp(prefix="zorder_measure_")
    layouts = {"natural (ts sort)": f"{tmp}/natural", "z-ordered": f"{tmp}/zordered"}
    try:
        # Spark's default INT96 timestamps carry NO parquet min/max stats
        # -- no engine can prune on them; MICROS is what Delta/Iceberg write
        with arm(spark, {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
                         "spark.sql.files.maxRecordsPerFile": "0"}):
            # natural layout: the time-partitioned order an ingest sink
            # produces; z-ordered: same rows, same file count, Morton order
            for df, path in (
                (events.repartitionByRange(ZORDER_FILES, "ts")
                 .sortWithinPartitions("ts"), layouts["natural (ts sort)"]),
                (zorder.zorder_layout(events, rel_hour, F.col("user_id"),
                               partitions=ZORDER_FILES), layouts["z-ordered"]),
            ):
                df.write.option("parquet.block.size", ZORDER_ROW_GROUP_BYTES) \
                    .mode("overwrite").parquet(path)
        lo = datetime.datetime.utcfromtimestamp((t0_hour + HOUR_LO) * 3600)
        hi = datetime.datetime.utcfromtimestamp((t0_hour + HOUR_LO + HOUR_N) * 3600)
        ts_pred = (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
        user_pred = (F.col("user_id") >= USER_LO) & (
            F.col("user_id") < USER_LO + USER_N)
        for qname, pred, use_ts, use_user in (
            (f"time-only ({HOUR_N} of 720 h)", ts_pred, True, False),
            (f"user-only ({USER_N} of 1500 users)", user_pred, False, True),
            ("2-D box (time AND user)", ts_pred & user_pred, True, True),
        ):
            rows = {}
            for layout, path in layouts.items():
                # a count, as a scan with no output columns: the status
                # store's input bytes are what pushdown left to read
                res = yield Cell(
                    f"{qname}: {layout}@{label}",
                    lambda: spark.read.parquet(path).where(pred).groupBy().count(),
                    probe=lambda: {"rows": spark.read.parquet(path).where(pred).count()})
                total, hit = _footer_overlap(path, lo, hi, use_ts, use_user)
                res.update(row_groups=f"{hit} / {total}")
                rows[layout] = res["rows"]
            expect(res, "same rows both layouts", len(set(rows.values())) == 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# stream_drain: the parse->parquet drain
#: text files the replayed backlog is split into
STREAM_FILES = 32
#: the reference's derived single-shard ingest ceiling (BASELINE.md)
REFERENCE_CEILING_REC_S = 1000


def _replay_dir(spark, sf_dir: str, out_dir: str) -> int:
    """The events table as cf_parse_wire_roundtrip's 40-field wire lines,
    in STREAM_FILES text files with strictly ascending mtimes (the file
    source orders by mtime; same-tick ties replay out of order)."""
    staging = out_dir + ".staging"
    _synth_wire_lines(load_table(spark, sf_dir, "events")) \
        .repartition(STREAM_FILES).write.mode("overwrite").text(staging)
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    parts = sorted(Path(staging).glob("part-*.txt"))
    base = time.time() - len(parts) - 10
    for i, p in enumerate(parts):
        dst = os.path.join(out_dir, f"replay-{i:05d}.txt")
        shutil.move(str(p), dst)
        os.utime(dst, (base + i, base + i))  # pin replay order
        with open(dst, "rb") as f:
            n += sum(1 for _ in f)
    shutil.rmtree(staging)
    return n


def stream_cells(ctx, label, d):
    """``stream_log_lines`` into a parquet sink, availableNow so each run
    drains the backlog; the wall includes stream start-up and commits, so
    rec/s is a LOWER bound on sustained throughput. Every run must sink
    every line. ``partitioned`` is the production D6 layout with rows
    REPARTITIONED on (event_date, event_hour) first -- without that every
    task writes every touched hour and a toy corpus spanning 720 hours
    explodes into ~20k tiny files, measuring the small-file problem (a
    production micro-batch spans ONE hour; the repartition keeps
    exactly-once). ``flat`` sinks flat parquet: the parse-limited rate."""
    spark = ctx.spark
    tmp = tempfile.mkdtemp(prefix="stream_tp_")
    try:
        replay = os.path.join(tmp, "replay")
        n = _replay_dir(spark, d, replay)
        for mode in ("flat", "partitioned"):
            sinks: list[str] = []

            def writer():
                work = os.path.join(tmp, f"work_{mode}_{len(sinks)}")
                sinks.append(os.path.join(work, "sink"))
                parsed = ingest.stream_log_lines(spark, replay, max_files_per_trigger=None)
                if mode == "partitioned":
                    parsed = ingest.with_time_partitions(parsed).repartition(
                        F.col("event_date"), F.col("event_hour"))
                w = parsed.writeStream.format("parquet") \
                    .option("path", sinks[-1]) \
                    .option("checkpointLocation", os.path.join(work, "ckpt"))
                if mode == "partitioned":
                    w = w.partitionBy("event_date", "event_hour")
                return w.trigger(availableNow=True).outputMode("append")
            res = yield Cell(f"{mode}@{label}", writer,
                             run=lambda w: w.start().awaitTermination())
            sunk = [spark.read.parquet(s).count() for s in sinks]
            for s in sinks:
                shutil.rmtree(os.path.dirname(s))
            res.update(records=n, x_reference_ceiling=round(
                n / res["sec"] / REFERENCE_CEILING_REC_S))
            rates(spark, res, n)
            expect(res, "n_sunk == n", all(s == n for s in sunk))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# the families and the driver
@dataclass(frozen=True)
class Family:
    cells: Callable       # (ctx, label, arg) -> generator of Cells
    decades: Callable     # (ctx, copies, base, fixed) -> [(label, arg)]
    copies: tuple         # the decades SCALE.md recorded


_SF = ("sf0.01", "sf0.1")
FAMILIES = {
    "dedup": Family(registry_cells(DEDUP_QUERIES),
                    testdata_decades(_SF, ("documents", "embeddings")), (10,)),
    "relational": Family(registry_cells(RELATIONAL_QUERIES),
                         testdata_decades(_SF, ("events", "orders")), (10,)),
    "ann": Family(ann_cells, testdata_decades(_SF, ("embeddings",)), (10, 100)),
    "ann_nprobe": Family(ann_nprobe_cells,
                         testdata_decades(_SF, ("embeddings",), True), (100,)),
    "ann_pq": Family(ann_pq_cells,
                     testdata_decades(_SF, ("embeddings",), True), (100,)),
    "lm": Family(lm_cells, testdata_decades(_SF, ("documents",)), (10, 100)),
    "bpe": Family(bpe_cells, testdata_decades(_SF, ("documents",)), (10, 100)),
    "cc": Family(cc_cells, unit_decades(_cc_unit), (10, 25)),
    "skew": Family(skew_cells, unit_decades(
        lambda c: [(str(c * SKEW_UNIT_ROWS), c * SKEW_UNIT_ROWS)]), (10,)),
    "media": Family(media_cells, media_decades, (10, 100, 1000)),
    "zorder": Family(zorder_cells, testdata_decades(("sf0.1",), ("events",)), ()),
    "stream_drain": Family(stream_cells,
                           testdata_decades(("sf0.1",), ("events",)), (10,)),
}

_TIMING = ("sec", "runs", "build_s", "exec_s", "ext_cores", "compiles", "layers")


def run_family(spark, name: str, copies=None, runs: int = 3,
               base: Path = BASE, fixed=None) -> dict:
    """{cell: result row} of family ``name`` at its decades (``fixed``
    replaces the unscaled testdata decades)."""
    fam = FAMILIES[name]
    ctx = Ctx(spark)
    for label, arg in fam.decades(ctx, fam.copies if copies is None else copies,
                                  Path(base), fixed):
        gen, res = fam.cells(ctx, label, arg), None
        while True:
            try:
                cell = gen.send(res)
            except StopIteration:
                break
            with arm(spark, cell.arm):
                res = timed_runs(spark, cell.build, cell.n_runs or runs,
                                 warmup=cell.warmup, run=cell.run)
                res.update(cell.probe() if cell.probe else {})
            res.update({k: round(res[k], 3) for k in ("sec", "build_s", "exec_s")},
                       runs=[round(t, 3) for t in res["runs"]],
                       ext_cores=round(res["ext_cores"], 2))
            ctx.results[cell.name] = res
            print(f"# {cell.name}: {res['sec']} s (runs {res['runs']})",
                  file=sys.stderr)
    return ctx.results


def render(results: dict) -> str:
    """A bench row's columns, then each row's facts and checks."""
    out = ["| cell | min (s) | build / exec (s) | runs (s) | tasks "
           "| executor CPU-s | max task (s) | shuffle write MB | ext "
           "| facts | exact |", "|---" * 11 + "|"]
    for cell, r in results.items():
        facts = "; ".join(f"{k}={v}" for k, v in r.items()
                          if k not in _TIMING and k != "exact")
        exact = ", ".join(f"{k}: {'ok' if v else 'FAILED'}"
                          for k, v in r.get("exact", {}).items())
        if "sec" in r:
            lay = r["layers"]
            timing = (f"{r['sec']} | {r['build_s']} / {r['exec_s']} | {r['runs']} "
                      f"| {lay['tasks']} | {lay['executor_cpu_s']} "
                      f"| {lay['max_task_s']} "
                      f"| {lay['shuffle_write_bytes'] / 1e6:.1f} | {r['ext_cores']}")
        else:
            timing = " | ".join(["—"] * 8)
        out.append(f"| {cell} | {timing} | {facts or '—'} | {exact or '—'} |")
    return "\n".join(out)


def main() -> None:
    ap = argparse.ArgumentParser(description="One SCALE.md decade table.")
    ap.add_argument("--family", required=True, choices=sorted(FAMILIES))
    ap.add_argument("--copies", type=int, nargs="*", help=(
        "scaled decades: sf0.1 copies, or cc / skew / media units "
        "(default: the decades SCALE.md recorded)"))
    ap.add_argument("--runs", type=int, default=3,
                    help="timed runs per cell, after one warm-up")
    args = ap.parse_args()

    load, flagged = _wait_for_quiet_box()
    print(f"# start load {load:.2f} flagged={flagged}", file=sys.stderr)
    spark = get_spark(f"scale_{args.family}")
    # ship the package to executor Python workers so the pandas-UDF cells
    # run regardless of the launch cwd
    import __spark_entry__

    __spark_entry__._ship_package(spark)
    results = run_family(spark, args.family, args.copies, args.runs)
    print(render(results))
    print(json.dumps({"family": args.family,
                      "cpus": spark.sparkContext.defaultParallelism,
                      "load_start": round(load, 2), "results": results},
                     default=str))
    spark.stop()
    failed = failures(results)
    if failed:
        sys.exit("exactness failed: " + "; ".join(failed))


if __name__ == "__main__":
    main()
