"""Distributed connected components over an edge list — the clustering
primitive behind ``plans.dedup.dedup_clusters`` and any pair-to-group
rollup (near-dup canonicalization, entity resolution, session stitching).

Algorithm: TWO-PHASE star contraction (the Kiveris et al. "Connected
Components in MapReduce and Beyond" shape). Phase 1 — one distributed
seed round labels every node min(self, neighbors); when even the edge
list fits the broadcast budget (n_nodes <= n_edges, so the label table
certainly fits), the seed is a LAZY localCheckpoint that the local
finish's probe job materializes as a side effect (r16 ran the finish on
the unbarriered seed subplan; r17 lazy-checkpoints it — still zero
parquet round-trips and zero dedicated barrier jobs, the seed computes
once, and the materialized checkpoint anchors the returned plan so no
separate anchor job runs either). Phase 2, common case — when the
CONTRACTED label graph
(distinct cross-label pairs) fits the same ~2M-row broadcast budget as
the label table, a driver union-find finishes it exactly and one
broadcast join applies the root map, with the driver touching only
model-state-sized data (the same O(small) contract as the kmeans
centroid collect). Phase 2, fallback — oversized contracted graphs (or
> BROADCAST_MAX_NODES node sets) run the distributed loop: root-level
hooking + pointer-doubling compression (the Shiloach-Vishkin /
large-star-small-star family). Per outer round:

- **hook (at the roots)**: for every edge (u, v), the ROOTS of u's and v's
  label trees adopt ``min(lbl(u), lbl(v)``) — two equi-joins to look up
  endpoint labels, a min-aggregate per root, and a left-join applying the
  update. Hooking roots (not endpoints) is what makes rounds logarithmic:
  a whole star adopts its neighbor star's smaller root in one round, so
  components contract like a doubling chain, not a crawling frontier.
  (A naive endpoint hook — node <- min(neighbors' labels) — degrades to
  O(diameter) rounds: once labels form long constant runs, each round
  moves the smaller label ONE position along the run. Measured: a
  400-node chain had not converged after 60 naive rounds, vs 10 rounds
  for root hooking.)
- **flatten**: pointer-double the label forest (``lbl <- lbl(lbl)``)
  until flat — log(depth) self-joins. The hook is NOT materialized on
  its own: it is composed un-barriered under the round's first
  double-jump, so each round writes exactly one label table (identical
  hook/jump sub-plans inside the composite are deduplicated by Spark's
  ReusedExchange, so the fan-out costs scans, not shuffles).
- **materialization barrier**: every step materializes the label relation
  to truncate lineage. Two modes, chosen from the observed node count:
  small label tables (the broadcast regime) use ``localCheckpoint``
  barriers — no parquet commit + re-read latency — with a parquet write
  every ``LC_CHAIN_MAX`` links, because Spark 4's localCheckpoint
  INHERITS the origin plan's Catalyst sizeInBytes and chained rounds
  compound that BigInt hyper-exponentially until stats estimation
  itself stalls the driver (see LC_CHAIN_MAX; the cap originally
  targeted a milder block-manager re-read degradation, r12); large
  label tables always round-trip
  through parquet, which stayed flat for 60+ rounds. On a cluster the
  barrier directory belongs on shared storage — which is exactly how
  production iterative jobs (GraphFrames CC, MLlib) persist interround
  state anyway.
- **convergence for free, via observed metrics**: every job carries
  ``Observation`` counters instead of running separate convergence
  queries. The flatten barrier observes how many labels its LAST chained
  jump changed — labels only decrease and every label value is itself a
  node, so lbl(lbl(n)) <= lbl(n) always, and "final jump changed
  nothing" PROVES the written table is flat (no confirming pass). The
  hook's localCheckpoint observes the root-update count — on flat labels
  "hook changed nothing" means every edge joins equal labels, the global
  fixpoint, so the final round costs exactly one job. The driver only
  ever sees these counters. Typical round cost: 2 jobs (hook
  checkpoint + flatten write); the r1/r2 shape was 4-6 jobs/round
  (separate hook barrier, label-mass sum actions, and a confirming
  flatten iteration).

All joins are hash-partitioned equi-joins on node/label ids — AQE handles
skew (a giant component's root is a hot key; AQE splits it).
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

#: label tables at or under this row count are broadcast into the jump and
#: hook joins (2 bigint cols ~= 16 B/row -> ~32 MB at the threshold, well
#: inside executor broadcast budgets). Above it, every join runs the plain
#: hash-shuffle path unchanged.
BROADCAST_MAX_NODES = 2_000_000

#: consecutive localCheckpoint barriers allowed before a parquet write
#: truncates the chain. 1, NOT a longer chain (r13, was 6): Spark 4's
#: ``Dataset.localCheckpoint`` (LogicalRDD.fromDataset ->
#: rewriteStatsAndConstraints) inherits the ORIGIN plan's Catalyst
#: ``sizeInBytes`` into the new LogicalRDD, and the stats visitor
#: multiplies child sizes through every join -- so a loop round whose
#: label inputs are themselves stat-inheriting checkpoints COMPOUNDS that
#: BigInt's bit length hyper-exponentially (measured: a ~20-bit seed
#: inherits a multi-thousand-digit sizeInBytes after ONE hook+flatten
#: round; at the r13 cc_scale 2M-node probe-oversize cell the driver
#: burned 13+ min single-threaded in SizeInBytesOnlyStatsPlanVisitor's
#: Toom-Cook BigInteger multiplies around round 4, BEFORE submitting any
#: job -- the checkpoint call itself was the stall). A parquet round-trip
#: resets stats to file size, so capping the chain at one link bounds
#: every inherited stat at the single-round blow-up (microsecond
#: multiplies) while alternate barriers still skip the parquet
#: commit+re-read latency. The older ~8-link block-manager re-read
#: degradation this cap originally targeted is moot at 1.
LC_CHAIN_MAX = 1


#: Seed handling in the small-graph fast path (history): r16 ran the
#: probe/apply on the UNBARRIERED seed subplan (three recomputes of a
#: scan+agg over the cached edges); r17 first added a MEMORY_ONLY
#: persist (measured: a wash at sf0.1's ~3k-row seed, 1.18x at a
#: near-gate 1M-node chain where the three 2M-row-cache scans are real
#: work; SCALE.md "r17: seed persist vs recompute in the fast path").
#: The current spelling subsumes both: the seed is a LAZY
#: localCheckpoint (eager=False), so the probe's broadcast build
#: materializes it as a side effect of the
#: probe job (localCheckpoint persists MEMORY_AND_DISK and truncates
#: lineage when the first job that computes it finishes) -- one
#: evaluation total, like the persist arm, AND the materialized
#: checkpoint anchors the returned root-map apply plan, which removes
#: the separate anchor localCheckpoint job every build previously paid
#: (measured 0.32-0.38 s of dedup_clusters' sf0.1 wall; see
#: connected_components below).

#: contracted label-graph edge cap for the driver union-find finish --
#: the same two-bigint-columns sizing argument as BROADCAST_MAX_NODES
#: (~32 MB at the cap), and the same CBO-style role: under it the local
#: finish is model-state-sized driver work, over it the distributed loop
#: runs unchanged.
LOCAL_FINISH_MAX_EDGES = 2_000_000


def _label_pairs(edges: DataFrame, lbl_x: DataFrame,
                 lbl_y: DataFrame) -> DataFrame:
    """(lbl(u), lbl(v)) as (la, lb) for every (symmetrized) edge -- the
    endpoint-label lookup shared by the local-finish probe and the hook
    loop (r11 review: two hand-rolled copies could silently diverge on
    join policy). ``lbl_x``/``lbl_y`` must be (node, lbl) relations
    aliased "x" and "y" (broadcast-wrapped by the caller per its join
    strategy)."""
    lu = (
        edges.alias("e")
        .join(lbl_x, F.col("e.u") == F.col("x.node"))
        .select(F.col("e.v").alias("v"), F.col("x.lbl").alias("la"))
    )
    return (
        lu.alias("l")
        .join(lbl_y, F.col("l.v") == F.col("y.node"))
        .select(F.col("l.la").alias("la"), F.col("y.lbl").alias("lb"))
    )


def _local_finish(spark, edges: DataFrame, labels: DataFrame) -> DataFrame | None:
    """Two-phase local finish: contract ``edges`` to the label graph
    (distinct cross-label pairs under the seed labeling) and, when the
    contracted graph fits ``LOCAL_FINISH_MAX_EDGES``, union-find it on
    the driver and broadcast-apply the root map. Returns the final
    (node, lbl) labeling, or ``None`` when the contracted graph exceeds
    the cap (caller falls back to the distributed hook/flatten loop).

    Exactness: contraction preserves connectivity between seed groups
    (the quotient of a connected graph is connected), so components of
    the contracted graph are precisely the remaining merge work; and the
    component minimum survives because every label IS a node id of the
    same component, with the true minimum m always labeled lbl(m) == m
    (its seed min over itself and its larger neighbors). A group with no
    cross-label edge is a whole component already labeled by its min.

    The ``limit(cap+1)`` probe makes the size test one bounded job: if
    the distinct relation holds <= cap rows, the probe result IS the
    complete contracted edge set; a cap+1-th row proves oversize without
    counting the rest. The driver-side rows are model-state-sized by
    construction -- the same O(small) contract as the kmeans centroid
    collect (operators/kmeans.py), not a data collect.

    Deliberately probed ONCE, at the seed labeling: an oversized
    contracted graph discards this bounded pass and the loop never
    re-probes, even though later rounds shrink the contraction. A
    per-round re-probe would charge every loop round the full
    edges-scan + distinct shuffle to catch the rare graph that is
    marginally over the cap at the seed -- the loop is logarithmic
    anyway, so the expected savings don't cover the per-round cost.
    """
    lbl_x = F.broadcast(labels.select("node", "lbl").alias("x"))
    lbl_y = F.broadcast(labels.select("node", "lbl").alias("y"))
    probe = (
        _label_pairs(edges, lbl_x, lbl_y)
        .filter(F.col("la") != F.col("lb"))
        .select(
            F.least("la", "lb").alias("a"), F.greatest("la", "lb").alias("b")
        )
        .distinct()
        .limit(LOCAL_FINISH_MAX_EDGES + 1)
        .toPandas()
    )
    if len(probe) > LOCAL_FINISH_MAX_EDGES:
        return None
    if not len(probe):
        # every edge joins equal labels: adjacent nodes share labels, so
        # each component is uniformly labeled -- and that constant label
        # is the component min (see docstring). Already done.
        return labels
    pair_list = list(zip(probe["a"].tolist(), probe["b"].tolist()))
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while x != r:  # path compression
            parent[x], x = r, parent.get(x, r)
        return r

    for a, b in pair_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # min-root union keeps component minima
    vals = {v for ab in pair_list for v in ab}
    mapping = [(v, find(v)) for v in sorted(vals)]
    mapping = [(old, new) for old, new in mapping if old != new]
    if not mapping:
        return labels
    from pyspark.sql import types as T

    lt = labels.schema["lbl"].dataType
    map_df = spark.createDataFrame(
        mapping,
        T.StructType(
            [T.StructField("old_lbl", lt), T.StructField("new_lbl", lt)]
        ),
    )
    return (
        labels.join(
            F.broadcast(map_df), F.col("lbl") == F.col("old_lbl"), "left"
        )
        .select("node", F.coalesce("new_lbl", "lbl").alias("lbl"))
    )


def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_rounds: int = 50,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Label every node of the undirected graph ``pairs`` with its
    component's minimum node id.

    Returns (node, lbl) for every node appearing in at least one edge.
    ``max_rounds`` bounds the outer (hook) rounds, which grow with
    log(component size) — 50 covers any graph that fits on hardware; the
    function raises rather than silently returning partial components.
    ``checkpoint_dir``: where inter-round label tables live (default: a
    driver-local temp dir, correct for local mode; pass shared storage on
    a cluster).
    """
    spark = pairs.sparkSession
    tmp = checkpoint_dir or tempfile.mkdtemp(prefix="cc_labels_")
    own_tmp = checkpoint_dir is None
    step = 0
    # join-strategy flag the nested helpers close over; decided from the
    # observed node count right after the seed job
    small_labels = False

    # Size post-shuffle partitions by DATA (AQE advisory bytes), not by
    # core count, for the duration of the loop: with the default
    # parallelismFirst=true AQE never coalesces below defaultParallelism,
    # so every tiny inter-round label shuffle/write stays at >=32
    # partitions and every micro-job schedules ~100 near-empty tasks --
    # measured ~2x the whole operator's wall clock at sf0.1. Size-based
    # coalescing gives 1 partition for kB-sized label tables and grows to
    # hundreds at 1e9 nodes: exactly the scaling an iterative graph job
    # wants. Restored on exit (unset again if the session had no value);
    # per-query compile picks it up immediately.
    _PFIRST = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    old_pfirst = spark.conf.get(_PFIRST, None)
    spark.conf.set(_PFIRST, "false")

    # localCheckpoint-vs-parquet bookkeeping: lc_streak counts consecutive
    # checkpoint links since the last parquet truncation (finish() always
    # re-anchors, so no per-barrier backing-kind flag is needed -- r13)
    lc_streak = 0

    def barrier(df: DataFrame) -> DataFrame:
        nonlocal step, lc_streak
        step += 1
        t0 = time.monotonic()
        if small_labels and lc_streak < LC_CHAIN_MAX:
            # partition-sized label table: a localCheckpoint barrier has no
            # parquet commit + re-read latency; the chain cap bounds the
            # inherited-sizeInBytes compounding (see LC_CHAIN_MAX) and the
            # block-manager re-read degradation long chains exhibit
            out = df.localCheckpoint(eager=True)
            lc_streak += 1
            _LOG.info("cc barrier %d (lc): %.2fs", step, time.monotonic() - t0)
            return out
        path = os.path.join(tmp, f"step_{step}")
        df.write.mode("overwrite").parquet(path)
        lc_streak = 0
        _LOG.info("cc barrier %d: %.2fs", step, time.monotonic() - t0)
        return spark.read.parquet(path)

    def jump_barrier(df: DataFrame, jumps: int = 3) -> tuple[DataFrame, int]:
        """ONE job: pointer-double ``jumps`` times (lbl <- lbl(lbl), each
        applied to its own output), write the label table, and observe how
        many labels the LAST jump changed — no separate convergence query.

        ``chg_last == 0`` proves the RESULT is flat: labels only ever
        decrease and every label value is itself a node in the table, so
        lbl(lbl(n)) <= lbl(n) always, and a final jump that changed
        nothing means lbl(lbl(n)) == lbl(n) for every n. Chained jumps
        make that final jump an identity for any forest of depth <=
        2**(jumps-1), so a flatten is usually a single write with its
        convergence proof built in. An extra in-job jump is one more
        shuffle of the (already partition-sized) label table; an extra
        flatten PASS is a whole job plus a parquet round-trip of that
        same table — so callers size ``jumps`` to the forest depth they
        expect: 3 covers the bounded post-hook shape, 5 the unbounded
        seed forest (measured: the sf0.1 seed needed two jumps=3 passes,
        one jumps=5 pass). The self-join fan-out only re-reads the
        barriered input (parquet files or checkpoint blocks), never
        recomputes upstream work.
        """
        cur = df
        for _ in range(jumps):
            # only the LAST jump's pre-image ("prev") is observed, so
            # each iteration overwrites it instead of accumulating dead
            # lbl{i} columns through every subsequent self-join (r11
            # review)
            parents = cur.select("node", "lbl").alias("p")
            if small_labels:
                parents = F.broadcast(parents)
            cur = (
                cur.alias("m")
                .join(parents, F.col("m.lbl") == F.col("p.node"))
                .select(
                    F.col("m.node").alias("node"),
                    F.least(F.col("m.lbl"), F.col("p.lbl")).alias("lbl"),
                    F.col("m.lbl").alias("prev"),
                )
            )
        obs = Observation()
        out = cur.observe(
            obs,
            F.count(
                F.when(F.col("lbl") < F.col("prev"), 1)
            ).alias("chg_last"),
        ).select("node", "lbl")
        written = barrier(out)
        return written, obs.get["chg_last"]

    def flatten(df: DataFrame, jumps: int = 3) -> DataFrame:
        """Pointer-double until flat; the observed last-jump change count
        terminates the loop with no confirming extra pass whenever the
        forest depth fits one barrier's jump coverage."""
        while True:
            df, chg_last = jump_barrier(df, jumps)
            if chg_last == 0:
                return df

    # NULL endpoints carry no connectivity but would leak through the
    # seed groupBy as a spurious (null, lbl) output row while every
    # equi-join silently dropped their edges (r11 review): drop the
    # whole dirty edge up front, documented rather than silent-wrong
    p = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    # hash-partition on the hook's join key at persist time: cached plans
    # bypass AQE (canChangeCachedPlanOutputPartitioning=false), so without
    # this the cache keeps the upstream join's doubled micro-partitions
    # (measured 64 near-empty partitions at sf0.1) AND every hook re-join
    # re-shuffles; with it, Catalyst sees the cached outputPartitioning
    # and the per-round edges-side exchange disappears.
    edges = (
        p.union(p.select(F.col("b"), F.col("a")))
        .toDF("u", "v")
        .repartition(F.col("u"))
        .persist()
    )

    def finish(result: DataFrame) -> DataFrame:
        if own_tmp:
            # the returned DataFrame must outlive the temp dir: re-anchor it
            # off the parquet files before they are deleted (localCheckpoint
            # stores MEMORY_AND_DISK — eviction cannot trigger a recompute
            # from the deleted path; one call has none of the repeated-
            # checkpoint degradation the barrier avoids). Unconditional
            # (r13): the old `not last_lc` skip described the LAST barrier
            # taken, but the converged exit returns the PREVIOUS round's
            # flatten relation — once the hook also routes through
            # barrier(), a final lc-backed no-op hook could mask a
            # parquet-backed result and hand back a plan over deleted
            # files. Re-anchoring an already-lc result is one cheap
            # block-manager copy of the final label table.
            result = result.localCheckpoint()
        return result

    try:
        # the seed labeling: min(self, direct neighbors) — one
        # aggregation, no join; equivalent to (and cheaper than) running
        # the first naive round
        seed_plan = (
            edges.groupBy(F.col("u").alias("node"))
            .agg(F.min("v").alias("mn"))
            .select("node", F.least("node", "mn").alias("lbl"))
        )
        # Materialize the edge cache and count it in one bounded job.
        # n_edges is a CONSERVATIVE node-count proxy (every node appears
        # as u in >= 1 symmetrized row, so n_nodes <= n_edges): when even
        # the edge list fits the broadcast budget, the label table
        # certainly does, and the whole small-graph fast path below is
        # safe without ever materializing the seed. Cost: for small
        # graphs the count IS the cache materialization the seed job
        # used to pay; for big graphs it adds one scan of the
        # already-cached edges before the seed job -- cheap relative to
        # the loop the big path is about to run.
        n_edges = edges.count()
        if n_edges <= BROADCAST_MAX_NODES:
            # Small-graph fast path (r16): run the two-phase local finish
            # DIRECTLY on the unbarriered seed subplan over the cached
            # edge relation — no parquet barrier, no Observation, no
            # read-back. The seed aggregate is recomputed by each of the
            # probe's two broadcast builds and once by the final apply,
            # but each recompute is one scan+agg of a <= 2M-row cached
            # relation — cheaper than one parquet commit + re-read, and
            # it removes the seed barrier from the operator's fixed cost
            # (the dominant term at sf0.1, where the local finish always
            # engages and the loop never runs).
            small_labels = True
            # LAZY seed checkpoint (r17): localCheckpoint(eager=False)
            # marks the seed RDD for checkpointing without running a
            # job; the local-finish probe's broadcast build is the
            # first execution, so the checkpoint MATERIALIZES as a side
            # effect of the probe job (persisted MEMORY_AND_DISK,
            # lineage truncated when that job completes). Consequences,
            # each replacing a job the r16/early-r17 spellings paid:
            #   - the seed is computed ONCE (the CC_SEED_PERSIST effect,
            #     without a separate cache to release);
            #   - the returned root-map apply plan references only the
            #     materialized checkpoint plus a literal map relation,
            #     so it is recompute-safe after the finally unpersists
            #     edges (the r16 ADVICE anchoring hazard) and can be
            #     returned LAZILY for BOTH own_tmp and caller-supplied
            #     checkpoint_dir -- the per-build anchor localCheckpoint
            #     job (measured 0.32-0.38 s of dedup_clusters' sf0.1
            #     wall) disappears;
            #   - the oversized-contracted-graph fallback reuses the
            #     same materialized seed as its round-0 labels with no
            #     fresh barrier (it is lc-backed: lc_streak starts at 1
            #     so the next barrier rolls to parquet per LC_CHAIN_MAX).
            seed_rel = seed_plan.localCheckpoint(eager=False)
            done = _local_finish(spark, edges, seed_rel)
            if done is not None:
                _LOG.info(
                    "connected_components converged: local finish "
                    "(lazy-checkpointed seed, %d edges), %d barrier "
                    "writes", n_edges, step,
                )
                return done
            # oversized contracted graph: the probe job already
            # materialized the seed checkpoint -- it IS the barrier;
            # fall into the unchanged distributed loop
            labels = seed_rel
            lc_streak = 1
            _LOG.info("cc: <=%d nodes (edge proxy), broadcast_labels=True",
                      n_edges)
        else:
            # big-graph path, unchanged: the seed job observes the node
            # count — the one table statistic the loop needs for its
            # join-strategy choice, gathered for free.
            seed_obs = Observation()
            labels = barrier(
                seed_plan.observe(
                    seed_obs, F.count(F.lit(1)).alias("n_nodes"))
            )
            # Cost-based join strategy, decided once: the label relation
            # has exactly n_nodes rows forever (monotone relabeling,
            # never grows), so if it fits a broadcast now it always will.
            # Broadcasting the parent/label side turns every jump
            # self-join and hook lookup into a BroadcastHashJoin — the
            # whole jump chain becomes ONE stage pipeline instead of
            # jumps+1 AQE query stages, whose per-stage driver
            # re-planning latency (~0.2-0.3 s each on partition-sized
            # label tables) dominated the operator's local cost. Past the
            # threshold the plain shuffle-join path runs unchanged — the
            # same decision a CBO makes from table stats.
            n_nodes = seed_obs.get["n_nodes"]
            small_labels = n_nodes <= BROADCAST_MAX_NODES
            _LOG.info("cc: %d nodes, broadcast_labels=%s",
                      n_nodes, small_labels)
            if small_labels:
                # Two-phase finish (the Kiveris et al. "CC in MapReduce
                # and Beyond" local-finish pattern): contract edges to
                # the LABEL graph -- distinct (lbl(u), lbl(v)) pairs with
                # differing labels. Contraction preserves connectivity
                # between seed groups, so exact components of the
                # contracted graph ARE the remaining merge work. When
                # that contracted edge set fits the same broadcast budget
                # as the labels, a driver union-find (model-state-sized
                # data, same O(small) contract as the kmeans centroid
                # collect) finishes it exactly, and ONE broadcast join
                # applies the root map -- replacing the whole hook/
                # flatten loop (2 jobs + 1-2 barriers per round) with a
                # single job and zero extra barriers. Oversized
                # contracted graphs (dense cross-group edge structure)
                # fall through to the unchanged logarithmic loop below,
                # which also remains the only path for >
                # BROADCAST_MAX_NODES graphs.
                done = _local_finish(spark, edges, labels)
                if done is not None:
                    _LOG.info(
                        "connected_components converged: local finish, "
                        "%d barrier writes", step,
                    )
                    return finish(done)
        # The seed is not generally flat (lbl(n) may itself point onward),
        # but NO pre-flatten pass runs: hooking is label-propagation-
        # correct on any labeling (labels only decrease and always name a
        # node of the same component), so folding the old standalone
        # jumps=5 seed flatten into round 1's post-hook flatten removes a
        # whole barrier from the round floor (r7; breakdown in SCALE.md).
        # CAVEAT that makes the hchg==0 test round-1-special: "hook
        # changed nothing" proves the global fixpoint ONLY on FLAT labels
        # (where it implies every edge joins equal labels). On a non-flat
        # seed the hook targets label VALUES, not endpoints, and can be a
        # no-op while the labeling is still wrong -- e.g. the ascending
        # chain 1-2-3 seeds as {1:1, 2:1, 3:2}: both hook targets already
        # hold their minimum, hchg==0, yet node 3 is mislabeled. So a
        # round-1 hchg==0 FLATTENS and continues to round 2 (whose hook
        # runs on flat labels and re-tests soundly) instead of returning;
        # any graph that does hook in round 1 -- the normal case -- pays
        # nothing for the caveat. Rounds >= 2 always hook flat labels
        # (flatten() postcondition), where the early exit is sound.
        # Round 1 flattens with jumps=5 because it faces the unbounded
        # seed-forest depth composed with the hook; later rounds keep
        # jumps=4.
        for rnd in range(1, max_rounds + 1):
            # look up both endpoint labels, then hook each ROOT to the min
            # of the two: (root_of_u <- lbl(v)) and (root_of_v <- lbl(u))
            lbl_x = labels.alias("x")
            lbl_y = labels.alias("y")
            if small_labels:
                # broadcast the label lookup into the (big, cached) edge
                # relation: no exchange on edges, no AQE stage per lookup
                lbl_x, lbl_y = F.broadcast(lbl_x), F.broadcast(lbl_y)
            luv = _label_pairs(edges, lbl_x, lbl_y)
            # edges is SYMMETRIZED at construction (both orientations of
            # every input pair), so luv already contains (la, lb) AND
            # (lb, la) for each undirected edge -- no swapped union here
            # (r11 review: the old union fed the min-aggregate exactly
            # twice every row, doubling the hook's shuffle volume)
            # equal-label pairs carry no information (their hook is a
            # no-op the least/coalesce discards anyway): filtering them
            # HERE shrinks the min-aggregate -- and the broadcast upd in
            # the small regime -- to the active frontier, near-empty on
            # a mostly-converged graph, instead of one row per label
            # with any incident edge every round (r12 review; identical
            # results: u_lbl simply comes back NULL for settled nodes)
            cand = luv.where(F.col("la") != F.col("lb")).select(
                F.col("la").alias("node"), F.col("lb").alias("lbl")
            )
            upd = cand.groupBy("node").agg(F.min("lbl").alias("u_lbl"))
            # materialize the hook ONCE before the double-jump
            # self-joins: composing it lazily under the jump fans the
            # hook sub-plan out 4x, and AQE does not reliably reuse the
            # duplicated exchanges (measured 4.3 s for a fanned round-1
            # barrier vs ~0.4 s unfanned). In the small regime the
            # barrier CHAINS onto the previous flatten's checkpoint,
            # which is exactly why barrier()'s lc_streak rolls the chain
            # over to a parquet barrier at LC_CHAIN_MAX -- both for the
            # block-manager re-read degradation (r12 review) and, r13,
            # to stop the inherited-sizeInBytes compounding documented
            # on LC_CHAIN_MAX itself. The observed
            # update count doubles as the convergence test: on FLAT labels
            # a hook that changes nothing means every edge already joins
            # equal labels — the global fixpoint — so the round costs
            # exactly one job when the answer is "done".
            if small_labels:
                # upd has at most one row per root (a subset of labels) —
                # broadcast it into the left-outer update join
                upd = F.broadcast(upd)
            obs = Observation()
            hooked = (
                labels.join(upd, "node", "left")
                .observe(
                    obs,
                    F.count(
                        F.when(F.col("u_lbl") < F.col("lbl"), 1)
                    ).alias("hchg"),
                )
                .select(
                    "node",
                    F.least(
                        F.col("lbl"), F.coalesce(F.col("u_lbl"), F.col("lbl"))
                    ).alias("lbl"),
                )
            )
            t0 = time.monotonic()
            # BOTH regimes go through barrier(): it picks localCheckpoint
            # vs parquet itself (small tables lc, big tables parquet for
            # executor-loss recovery -- r11 review) AND enforces
            # LC_CHAIN_MAX. The hook used to call localCheckpoint
            # directly in the small regime, bypassing the chain cap --
            # which let the inherited-sizeInBytes compounding (see
            # LC_CHAIN_MAX) run unbounded across hook rounds (r13).
            hooked = barrier(hooked)
            hchg = obs.get["hchg"]
            _LOG.info("cc hook barrier: %.2fs (hchg=%d)",
                      time.monotonic() - t0, hchg)
            if hchg == 0:
                if rnd == 1:
                    # see the caveat above: the seed labels were never
                    # flattened, so this is not yet proof of the fixpoint.
                    # Flatten and let round 2's hook re-test on flat
                    # labels. hchg==0 makes hooked row-identical to
                    # labels, and hooked is the copy just materialized --
                    # flatten THAT rather than re-reading the seed
                    # barrier (r11 review).
                    labels = flatten(hooked, jumps=5)
                    continue
                _LOG.info(
                    "connected_components converged: %d hook rounds, "
                    "%d barrier writes",
                    rnd,
                    step,
                )
                return finish(labels)
            # jumps=4 (5 in round 1): the measured sf0.1 round-1 forest
            # needed two jumps=3 passes (an extra full barrier); one more
            # in-job jump is a single extra self-join of the partition-
            # sized label table and folds that second pass into the
            # first. Round 1 carries the un-pre-flattened seed forest's
            # depth composed with the hook, so it gets the deeper chain.
            labels = flatten(hooked, jumps=5 if rnd == 1 else 4)
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} hook rounds"
        )
    finally:
        if old_pfirst is None:
            spark.conf.unset(_PFIRST)
        else:
            spark.conf.set(_PFIRST, old_pfirst)
        edges.unpersist()
        if own_tmp:
            shutil.rmtree(tmp, ignore_errors=True)
