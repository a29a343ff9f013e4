r"""Deduplication operators over ``documents`` (driver-mandated
training-data extensions): exact hash dedup, exact n-gram Jaccard, MinHash +
LSH banding, and SimHash.

Scale design (the point of each variant):
- **exact**: one hash-groupBy / window over md5(text) -- the cheap first
  pass; shuffle on the digest, perfectly partitionable.
- **ngram_jaccard**: ground-truth pairwise Jaccard via shingle explode +
  equi-join on shingle. Exact but worst-case quadratic in co-occurring
  shingles -- kept as the oracle-grade reference path.
- **minhash_lsh**: the 100 TB path. Signatures are computed map-side with
  array expressions (NO explode, NO shuffle per shingle); only (band, sig)
  pairs shuffle for the bucket join, then the handful of candidates is
  verified with an exact array_intersect Jaccard. Sub-quadratic end to end.
- **simhash**: 32-bit signature from word-hash bit votes; near-dups =
  pairs within Hamming distance. Signature build is a per-doc aggregation;
  the pair scan here is a broadcast self-join (fine at 10^3 docs; at scale
  you'd band the signature bits exactly like MinHash-LSH).

Every query's DuckDB oracle replicates the SAME deterministic algorithm
(shared md5-based h60 hash + universal-hash permutations), so hash equality
is a true correctness check, not a smoke test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import (HASH_PRIME, h60_spark_sql, h60_sql,
                                 mod_hash_sql, perm_params)
from ..sources.tables import load_table, register_views
from . import REGISTRY, register
from .text import (_WORDS_SQL, adjacent_grams, grams_spark_sql,
                   words_spark_sql)

# ---------------------------------------------------------------- shingles

# the word-split oracle fragment is canonical in text.py (imported above):
# the whitespace class encodes the Java/RE2 \x0b contract and must never
# fork between the text and dedup oracles
_SHINGLES_SQL = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(words) - 2, 0)), "
    "i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]))"
)
#: CTE producing (doc_id, sh) with distinct word-3gram shingles
SHINGLE_CTE_SQL = f"""
    words AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    shingled AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM words)
"""


def shingles_col() -> Column:
    """Distinct word-3gram shingles as an array column (map-side only).

    Delegates the n-gram construction to :func:`plans.text.
    adjacent_grams` (r11 review: this module kept its own
    zip_with-over-shifted-slices spelling of the SAME invariant, and
    the header comment already warns the word handling must never fork
    between the text and dedup paths). The zip_with form matters: HOF
    lambdas get no common-subexpression elimination, so a
    ``transform(sequence(...), i -> element_at(words, i))`` body
    re-splits the text per element (measured 10x slower at sf0.1).
    """
    return F.array_distinct(adjacent_grams(words_spark_sql(), 3))


# ------------------------------------------------------------- exact dedup

@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id,
           COUNT(*) OVER (PARTITION BY md5(text)) AS group_size,
           CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                THEN 1 ELSE 0 END AS is_canonical
    FROM documents
    """,
    description="Exact dedup: hash-group on md5(text), keep-first canonical "
                "flag. One shuffle on the digest; at 100 TB this is the "
                "standard first-pass dedup (hash, not full text, moves).",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text"))
    return docs.select(
        "doc_id",
        F.count("*").over(w).alias("group_size"),
        F.when(F.col("doc_id") == F.min("doc_id").over(w), 1)
        .otherwise(0)
        .alias("is_canonical"),
    )


# --------------------------------------------------- exact n-gram Jaccard

JACCARD_THRESHOLD = 0.6


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {SHINGLE_CTE_SQL},
    cnt AS (SELECT doc_id, len(sh) AS n FROM shingled),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
    inter AS (
      SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, (20000 * c + u) // (2 * u) AS jaccard_bp
    FROM (SELECT i AS doc_a, j AS doc_b, c, ca.n + cb.n - c AS u
          FROM inter
          JOIN cnt ca ON ca.doc_id = i
          JOIN cnt cb ON cb.doc_id = j)
    WHERE c * 10 >= u * 6
    """,
    description="Exact word-3gram Jaccard near-dup pairs (>= 0.6) via "
                "shingle explode + equi-join -- the ground-truth path that "
                "minhash_lsh approximates. The similarity is reported in "
                "integer BASIS POINTS, round-half-up of 1e4*|I|/|U| "
                "computed entirely in int64 ((20000c+u) div 2u), and the "
                "threshold compares 10c >= 6u exactly: ROUND(double, 4) "
                "diverges between engines on tie-adjacent rationals "
                "(measured: 481/800 rounds to .6013 in Spark, .6012 in "
                "DuckDB -- r8 review), and a planted pair landing on one "
                "would fail the hash gate despite correct dedup logic.",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # lazy barrier: without it the shingle expression re-evaluates per
    # consumer branch (cnt x2 + both self-join sides = up to 4 corpus
    # re-shingles; the signature-relation pattern the MinHash/SimHash
    # siblings already use -- r8 review)
    sh = docs.select(
        "doc_id", shingles_col().alias("sh")
    ).localCheckpoint(eager=False)
    cnt = sh.select("doc_id", F.size("sh").alias("n"))
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"))
        .agg(F.count("*").alias("c"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    u = F.col("ca.n") + F.col("cb.n") - F.col("c")
    return (
        inter.join(ca, F.col("i") == F.col("ca.doc_id"))
        .join(cb, F.col("j") == F.col("cb.doc_id"))
        # 10c >= 6u == c/u >= 0.6, exact in int64 (see the description)
        .where(F.col("c") * 10 >= u * 6)
        .withColumn("u", u)
        .select(
            F.col("i").alias("doc_a"),
            F.col("j").alias("doc_b"),
            # round-half-up basis points, all-integer arithmetic
            F.expr("(20000 * c + u) div (2 * u)").alias("jaccard_bp"),
        )
    )


# ------------------------------------------------------------ MinHash+LSH

MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS
_PERMS = perm_params(MINHASH_K)


def _minhash_sigs_sql() -> str:
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> {mod_hash_sql('h', a, b)})) AS m{j}"
        for j, (a, b) in enumerate(_PERMS)
    )
    return f"""
    hashed AS (
      SELECT doc_id, sh, list_transform(sh, s -> {h60_sql('s')}) AS hs
      FROM shingled WHERE len(sh) > 0),
    sigs AS (SELECT doc_id, sh, {mins} FROM hashed)
    """


#: band-signature mixers: two independent 31-bit Horner chains packed
#: into ONE int64 (band index as the seed, so the band id folds into
#: the signature and the band join key is a single BIGINT -- 8 bytes
#: per shuffle row where the r10 md5 form shuffled a 32-char string).
#: Every step stays within int64 in BOTH engines: acc < HASH_PRIME
#: (2^31-1), acc * A2 < 2^31 * 2^30 < 2^61, and the final pack
#: mix1 * 2^31 + mix2 < 2^62 + 2^31. Collisions (~2^-62 per pair) only
#: ADD candidates, the exact verify filters them, and the oracle runs
#: the IDENTICAL mix, so the engines can never diverge.
_SIG_A1 = 1_000_003
_SIG_A2 = 998_244_353
_SIG_SHIFT = 1 << 31


def _band_int64_expr(b: int) -> str:
    """Portable (Spark SQL == DuckDB) int64 band signature over the
    ``m{j}`` minhash columns of band ``b``."""
    def mix(a: int) -> str:
        acc = f"CAST({b} AS BIGINT)"  # int literals would overflow ANSI int32
        for r in range(LSH_ROWS):
            acc = f"(({acc}) * {a} + m{b * LSH_ROWS + r}) % {HASH_PRIME}"
        return acc
    return f"(({mix(_SIG_A1)}) * {_SIG_SHIFT} + ({mix(_SIG_A2)}))"


def _band_sql(b: int) -> str:
    return f"SELECT doc_id, sh, {_band_int64_expr(b)} AS sig FROM sigs"


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {SHINGLE_CTE_SQL},
    {_minhash_sigs_sql()},
    bands AS ({" UNION ALL ".join(_band_sql(b) for b in range(LSH_BANDS))}),
    cand AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM bands a JOIN bands b
        ON a.sig = b.sig AND a.doc_id < b.doc_id),
    verified AS (
      SELECT i, j,
             len(list_intersect(sa.sh, sb.sh)) AS c,
             len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS u
      FROM cand
      JOIN shingled sa ON sa.doc_id = i
      JOIN shingled sb ON sb.doc_id = j)
    SELECT i AS doc_a, j AS doc_b, (20000 * c + u) // (2 * u) AS jaccard_bp
    FROM verified WHERE c * 10 >= u * 6
    """,
    description=f"MinHash({MINHASH_K} perms) + LSH ({LSH_BANDS} bands x "
                f"{LSH_ROWS} rows) candidate generation, exact-Jaccard "
                "verification of candidates. Signatures are pure array "
                "expressions (map-side); only band signatures shuffle -- "
                "packed as ONE int64 per band (band-seeded double Horner "
                "mix, r11: the md5-string form shuffled a 32-char key; "
                "8-byte keys cut the band-join shuffle volume and the "
                "oracle runs the identical integer mix, so engines "
                "cannot diverge). The oracle replicates the identical "
                "algorithm in SQL.",
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two ``spark.sql`` statements (signatures, then band join + exact
    verify) rather than Column composition: the shingle zip_with chain,
    16 permutation transforms, and 4 band structs cost ~60 py4j
    round-trips as Column objects (~0.5-0.7 s of driver latency per plan
    build); one SQL string parses JVM-side with an identical analyzed
    plan (the simhash rewrite below measured the same trade). Preserved
    semantics from the Column version:

    - shingles via zip_with over shifted slices (HOF-lambda element_at
      gets no CSE and re-splits the text per element, measured 10x
      slower);
    - hash+mod ONCE into ``hm``; the 16 permutations share that column,
      and the non-deterministic ``__b = rand(42)`` in the inner
      projection blocks CollapseProject from re-inlining the md5
      transform into every permutation;
    - the lazy localCheckpoint between the two statements materializes
      the signature relation once for BOTH sides of the band self-join
      (checkpoint blocks free on GC; persist() would leak for the
      session)."""
    register_views(spark, sf_dir)
    sigs = spark.sql(minhash_sigs_stmt()).localCheckpoint(eager=False)
    sigs.createOrReplaceTempView("minhash_sigs_tmp")
    return spark.sql(minhash_pairs_stmt("minhash_sigs_tmp"))


def minhash_sigs_stmt() -> str:
    """Spark-SQL statement computing the checkpointable signature
    relation ``(doc_id, sh, s0..s{LSH_BANDS-1})`` from the registered
    ``documents`` view."""
    perms = ", ".join(
        f"array_min(transform(hm, h -> ({a} * h + {b}) % {HASH_PRIME})) AS m{j}"
        for j, (a, b) in enumerate(_PERMS)
    )
    # band signatures computed BEFORE the checkpoint: the post-barrier band
    # relation is a pure column unpivot (stack), so each join side is one
    # scan of checkpoint blocks with no signature recompute
    band_sigs = ", ".join(
        f"{_band_int64_expr(b)} AS s{b}" for b in range(LSH_BANDS)
    )
    return f"""
        WITH wz AS (
          SELECT doc_id, {words_spark_sql()} AS w
          FROM documents),
        shing AS (
          SELECT doc_id, array_distinct({grams_spark_sql('w', 3)}) AS sh
          FROM wz),
        hm AS (
          SELECT doc_id, sh,
                 transform(sh, s ->
                   {h60_spark_sql('s')}
                     % {HASH_PRIME}) AS hm,
                 rand(42) AS __b
          FROM shing WHERE size(sh) > 0)
        SELECT doc_id, sh, {band_sigs}
        FROM (SELECT doc_id, sh, {perms} FROM hm)
    """


def minhash_pairs_stmt(sigs_view: str) -> str:
    """Spark-SQL statement from a signature view to verified pairs.

    - candidate dedup keys on (i, j) ONLY, then the shingle arrays join
      back for the exact verify (the oracle's exact shape): a DISTINCT
      whose grouping key includes the two shingle ARRAYS hashes and
      shuffles every array once per duplicate candidate -- measured 36 s
      vs 1-3 s at ~sf1 (50k docs). The band relation is likewise slimmed
      to (doc_id, sig); arrays never enter the band join at all.
    - the band id is FOLDED INTO the int64 signature (Horner seed), so
      the band join keys on one BIGINT -- 8 bytes per shuffle row where
      the r10 md5 form shuffled (band, 32-char string)."""
    stack_args = ", ".join(f"s{b}" for b in range(LSH_BANDS))
    return f"""
        WITH bands AS (
          SELECT doc_id, stack({LSH_BANDS}, {stack_args}) AS sig
          FROM {sigs_view}),
        cand AS (
          SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
          FROM bands a JOIN bands b
            ON a.sig = b.sig AND a.doc_id < b.doc_id),
        verified AS (
          -- BIGINT up front: size() is INT, and past c ~ 1e5 shingles
          -- 20000*c leaves int32 -- under ANSI (this repo's default)
          -- that RAISES mid-job; with ANSI off it would wrap silently
          -- (r11: comment previously described only the non-ANSI mode)
          SELECT i, j,
                 CAST(size(array_intersect(sa.sh, sb.sh)) AS BIGINT) AS c,
                 CAST(size(sa.sh) + size(sb.sh)
                   - size(array_intersect(sa.sh, sb.sh)) AS BIGINT) AS u
          FROM cand
          JOIN {sigs_view} sa ON sa.doc_id = i
          JOIN {sigs_view} sb ON sb.doc_id = j)
        SELECT i AS doc_a, j AS doc_b,
               (20000 * c + u) div (2 * u) AS jaccard_bp
        FROM verified WHERE c * 10 >= u * 6
    """


# ---------------------------------------------------------------- SimHash

SIMHASH_BITS = 32
# <=2 of 32 bits: on this corpus the planted near-dup pairs sit at distance 0
# while the background distribution peaks at ~10 -- see distribution note in
# tests/test_dedup.py.
HAMMING_MAX = 2
#: pigeonhole bands (lo_bit, n_bits): HAMMING_MAX+1 = 3 disjoint bands of
#: 11/11/10 bits -- any pair within Hamming distance 2 differs in <= 2
#: bands, so it matches EXACTLY on at least one band. Equi-join on
#: (band, bits) generates candidates; exact bit_count verifies. Same
#: sub-quadratic shape as the MinHash-LSH bucket join above.
SIMHASH_BANDS = [(0, 11), (11, 11), (22, 10)]


def _simhash_sql() -> str:
    votes = ", ".join(
        f"SUM(((h >> {j}) & 1) * 2 - 1) AS v{j}" for j in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
    w AS (SELECT doc_id, unnest(words) AS word FROM words),
    h AS (SELECT doc_id, {h60_sql('word')} AS h FROM w),
    votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
    sigs AS (SELECT doc_id, CAST({sig} AS BIGINT) AS sig FROM votes)
    """


def _simhash_band_sql() -> str:
    selects = " UNION ALL ".join(
        f"SELECT doc_id, sig, {i} AS band, (sig >> {lo}) & {(1 << n) - 1} AS bits FROM sigs"
        for i, (lo, n) in enumerate(SIMHASH_BANDS)
    )
    return f"bands AS ({selects})"


def _simhash_pairs_ctes() -> str:
    """WITH-body (no leading WITH) ending in a ``pairs(doc_a, doc_b,
    hamming)`` CTE -- shared by the ``dedup_simhash`` and
    ``dedup_clusters`` oracles."""
    return f"""
    words AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    {_simhash_sql()},
    {_simhash_band_sql()},
    cand AS (
      SELECT DISTINCT a.doc_id AS i, a.sig AS sa, b.doc_id AS j, b.sig AS sb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT i AS doc_a, j AS doc_b,
             CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
      FROM cand
      WHERE bit_count(xor(sa, sb)) <= {HAMMING_MAX})
    """


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_simhash_pairs_ctes()}
    SELECT doc_a, doc_b, hamming FROM pairs
    """,
    description=f"SimHash({SIMHASH_BITS}-bit) near-dup pairs within Hamming "
                f"distance {HAMMING_MAX}: per-word hash bit votes aggregated "
                "per doc (partial agg, one shuffle on doc_id); the pair "
                "scan is pigeonhole-banded -- the signature splits into "
                "HAMMING_MAX+1 bands (11/11/10 bits), any qualifying pair "
                "matches exactly on >= 1 band, so candidates come from an "
                "equi-join on (band, bits) (hash-partitionable, "
                "sub-quadratic) and an exact bit_count verifies. EXACT "
                "results -- the banding loses nothing (pigeonhole), unlike "
                "probabilistic MinHash-LSH recall.",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_pairs(spark, sf_dir)


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming) near-dup pairs via pigeonhole-banded SimHash
    (exact; shared by ``dedup_simhash`` and ``dedup_clusters``).

    Built as TWO ``spark.sql`` calls (signatures, then band join) instead
    of Column-by-Column composition: the 32 vote aggregates + signature
    sum + banding cost ~70 py4j round-trips as Column objects -- measured
    1.3-1.7 s of driver-side plan-build latency per invocation, ~25% of
    dedup_clusters' wall time -- while a SQL string parses JVM-side in one
    call with an identical analyzed plan. The lazy localCheckpoint between
    the two statements is load-bearing: the signature relation feeds both
    sides of the band self-join, and the checkpoint stops the vote
    aggregation from recomputing per side (blocks free themselves on GC;
    a persist() here would leak cached blocks for the session -- see the
    MinHash note)."""
    register_views(spark, sf_dir)
    votes = ", ".join(
        f"SUM((shiftright(h, {j}) & 1) * 2 - 1) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    # band bit-fields computed BEFORE the checkpoint; the post-barrier band
    # relation is a stack() unpivot -- one checkpoint-block scan per side
    band_bits = ", ".join(
        f"shiftright(sig, {lo}) & {(1 << n) - 1} AS b{i}"
        for i, (lo, n) in enumerate(SIMHASH_BANDS)
    )
    sigs = spark.sql(f"""
        WITH w AS (
          SELECT doc_id, explode({words_spark_sql()}) AS word
          FROM documents),
        h AS (
          SELECT doc_id,
                 {h60_spark_sql('word')} AS h
          FROM w),
        votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
        SELECT doc_id, sig, {band_bits}
        FROM (SELECT doc_id, CAST({sig} AS BIGINT) AS sig FROM votes)
    """).localCheckpoint(eager=False)
    sigs.createOrReplaceTempView("simhash_sigs_tmp")
    stack_args = ", ".join(f"{i}, b{i}" for i in range(len(SIMHASH_BANDS)))
    return spark.sql(f"""
        WITH bands AS (
          SELECT doc_id, sig, stack({len(SIMHASH_BANDS)}, {stack_args})
                 AS (band, bits)
          FROM simhash_sigs_tmp),
        cand AS (
          SELECT DISTINCT a.doc_id AS i, a.sig AS sa, b.doc_id AS j, b.sig AS sb
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
        SELECT i AS doc_a, j AS doc_b,
               CAST(bit_count(sa ^ sb) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(sa ^ sb) <= {HAMMING_MAX}
    """)


# ------------------------------------------------------- connected components


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_simhash_pairs_ctes()},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_rep
             FROM reach GROUP BY node)
    SELECT c.doc_id, c.cluster_rep, s.cluster_size,
           CASE WHEN c.doc_id = c.cluster_rep THEN 1 ELSE 0 END AS is_canonical
    FROM comp c
    JOIN (SELECT cluster_rep, COUNT(*) AS cluster_size
          FROM comp GROUP BY cluster_rep) s
      ON c.cluster_rep = s.cluster_rep
    """,
    description="Near-dup CLUSTERS from the pigeonhole-banded SimHash "
                "pairs: TWO-PHASE connected components "
                "(operators/graph.py, the Kiveris et al. local-finish "
                "shape, r10): one distributed seed round labels each "
                "node min(self, neighbors), then the CONTRACTED label "
                "graph -- provably the remaining merge work -- is "
                "finished by a driver union-find when it fits the same "
                "~2M-row broadcast budget as the label table (model-"
                "state-sized data, the kmeans-centroid contract), with "
                "one broadcast join applying the root map: 2 jobs, zero "
                "dedicated barriers (the probe job materializes the "
                "lazily-checkpointed seed, which anchors the returned "
                "plan). Oversized contracted graphs and >2M-node "
                "sets fall back to the unchanged distributed loop: ROOT-"
                "level hooking + pointer-doubling flattening, log-"
                "(component-size) rounds of hash-partitioned equi-joins "
                "with parquet/localCheckpoint barriers and Observation-"
                "counter convergence (no driver data). All three paths "
                "are pinned equal to a union-find oracle in pytest. "
                "Output: every doc in >=1 pair, its "
                "canonical representative (component-min doc_id), "
                "component size, and a canonical flag -- the keep-list a "
                "dedup pipeline actually consumes. Oracle: DuckDB "
                "recursive CTE computing the same transitive closure.",
    tags=("dedup", "graph", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.graph import connected_components

    pairs = _simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    comp = labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_rep"))
    # cluster_size as a whole-partition window count instead of the old
    # groupBy + self-join rollup (r17, guide §2.4): ONE scan of the
    # label relation and ONE exchange (the window's hashpartitioning)
    # replace two scans + two exchanges + a join — row-identical output
    # (verified exceptAll 0/0 both directions at sf0.1 plus the DuckDB
    # oracle hash), and the label relation is the CC fast path's lazy
    # plan over the checkpointed seed, so scanning it once also halves
    # the root-map apply work.
    w = W.partitionBy("cluster_rep")
    return comp.select(
        "doc_id",
        "cluster_rep",
        F.count("*").over(w).alias("cluster_size"),
        F.when(F.col("doc_id") == F.col("cluster_rep"), 1)
        .otherwise(0)
        .alias("is_canonical"),
    )


# ------------------------------------------------------- dedup_lsh_recall

def _lsh_recall_oracle() -> str:
    lsh = REGISTRY["dedup_minhash_lsh"].oracle
    exact = REGISTRY["dedup_ngram_jaccard"].oracle
    return f"""
    WITH lsh AS (SELECT doc_a, doc_b FROM ({lsh})),
    exact AS (SELECT doc_a, doc_b FROM ({exact})),
    joined AS (
      SELECT CASE WHEN l.doc_a IS NOT NULL AND e.doc_a IS NOT NULL
                    THEN 'both'
                  WHEN l.doc_a IS NOT NULL THEN 'lsh_only'
                  ELSE 'exact_only' END AS category
      FROM lsh l FULL OUTER JOIN exact e
        ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b)
    SELECT category, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM joined GROUP BY category
    """


@register(
    "dedup_lsh_recall",
    oracle=_lsh_recall_oracle(),
    description="Recall audit of the MinHash-LSH scale path against the "
                "exact n-gram-Jaccard ground truth: a FULL OUTER JOIN of "
                "the two pair relations counts pairs found by both, by "
                "LSH only, and by the exact path only -- quantifying the "
                "probabilistic-recall trade the LSH row documents, as a "
                "driver-checkable relation rather than prose. A "
                "'lsh_only' row is STRUCTURALLY impossible -- every LSH "
                "candidate passes the same exact-Jaccard verify the "
                "ground-truth path uses -- so its appearance indicates a "
                "verification bug (pytest-pinned); 'exact_only' counts "
                "pairs the banding missed. Runs the "
                "two audited sibling plans (each with its signature "
                "barrier) plus one join on the tiny pair sets; at 100 TB "
                "this is the standard sampled-recall validation job a "
                "pipeline runs before trusting its LSH parameters. "
                "Promoted to the driver registry r9 (slot from "
                "udtf_tokenize): audit rows earn driver slots, as "
                "ann_ivf_recall proved in r8.",
    tags=("dedup", "minhash", "validation"),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    lsh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    exact = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("e_a"), F.col("doc_b").alias("e_b")
    )
    joined = lsh.join(
        exact,
        (F.col("doc_a") == F.col("e_a")) & (F.col("doc_b") == F.col("e_b")),
        "full_outer",
    )
    category = (
        F.when(F.col("doc_a").isNotNull() & F.col("e_a").isNotNull(), "both")
        .when(F.col("doc_a").isNotNull(), "lsh_only")
        .otherwise("exact_only")
    )
    return joined.select(category.alias("category")).groupBy("category").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
