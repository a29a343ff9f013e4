"""Learned byte-pair-encoding tokenizer: merge learning + corpus encode.

The missing piece between the regex token ESTIMATES (plans/text.py's
``n_bpe_tokens``) and what a training pipeline actually runs: token
counts under the tokenizer the model will train with. The algorithm is
Sennrich/Haddow/Birch 2016 ("Neural Machine Translation of Rare Words
with Subword Units"): learn the most frequent adjacent symbol pair,
merge it everywhere, repeat; encode by replaying merges in learned
order (the GPT-2 style lowest-rank-first greedy apply).

Spark shape (the fit_kmeans / fit_pq model discipline):

- ``fit_bpe`` trains on the <= ``sample_target`` documents with the
  smallest (h60(doc_id), doc_id) — ONE TakeOrderedAndProject job, fully
  deterministic, corpus-size-INDEPENDENT: at 100 TB the fit cost is
  identical to sf0.01's. Merge learning itself runs driver-side over a
  word-frequency dict (model-state-sized: distinct sample words, not
  corpus rows).
- ``encode_bpe_batches`` is a zero-shuffle Arrow narrow map
  (``mapInPandas``): the merge table rides the closure (O(n_merges)
  strings), documents never move, and a per-batch word -> tokens memo
  exploits the Zipf distribution so the greedy merge loop runs once per
  DISTINCT word per batch, not once per occurrence.
- ``save_bpe`` / ``load_bpe`` persist the merge table as parquet —
  train-once / encode-many, the save_centroids contract.

Word segmentation is the repo's single lowered-word spelling
(``plans/text.lwords_col`` / ``_LWORDS_SQL``): lowercase, split on the
explicit whitespace class, drop empties. Each word gets a trailing
``</w>`` end-of-word symbol (the paper's formulation), so
``"".join(tokens_of(word)) == word + "</w>"`` is an invariant the tests
pin.

Determinism rules (so two fits of the same relation are identical and
retries can't change answers): pair counts are exact integers; the
merge chosen each round is the max by ``(count, reversed lexicographic
pair)`` — i.e. among equally frequent pairs the lexicographically
SMALLEST (left, right) wins; the greedy apply breaks rank ties by
leftmost position. No floats anywhere.

Reference parity note: the reference system (lambda_function.py) has no
tokenizer — this is a driver-mandated training-data-pipeline extension
(SURVEY.md section 2, LLM tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: default merge-table size; the fit SAMPLE is capped separately by
#: kmeans.FIT_SAMPLE_TARGET (20k docs), shared with the other model fits
DEFAULT_N_MERGES = 200

#: end-of-word marker symbol (Sennrich et al. 2016)
EOW = "</w>"


# --------------------------------------------------------------- fit


def _apply_merge(syms: list[str], a: str, b: str) -> list[str]:
    """One word's symbols with every adjacent (a, b) merged
    (left-to-right, non-overlapping)."""
    merged = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            merged.append(a + b)
            i += 2
        else:
            merged.append(syms[i])
            i += 1
    return merged


def learn_merges(
    freqs: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    """The driver-side merge-learning loop over a word-frequency dict —
    the INDEXED incremental algorithm (subword-nmt's optimization):
    pair counts and a pair -> affected-words index are maintained
    incrementally, so each merge costs O(words containing that pair),
    not O(whole vocabulary). The r17 naive rescan was
    O(merges x distinct words x word length) — minutes on a real
    20k-doc sample with ~10^5 distinct words; the output is
    BIT-IDENTICAL (pinned against the brute-force replica and the
    Sennrich worked example in tests/test_bpe.py, plus a hypothesis
    sweep over random corpora).

    Determinism: exact integer counts; each round's merge is the max
    count with the lexicographically SMALLEST (left, right) tiebreak;
    stops early when no pair remains."""
    words: list[list[str]] = []
    wfreq: list[int] = []
    for w, n in freqs.items():
        words.append(list(w) + [EOW])
        wfreq.append(n)
    counts: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(words):
        n = wfreq[wi]
        for p in zip(syms, syms[1:]):
            counts[p] = counts.get(p, 0) + n
            index.setdefault(p, set()).add(wi)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        for wi in sorted(index.pop(best, ())):
            # only words CONTAINING the pair are touched (sorted for a
            # deterministic update order, though count arithmetic is
            # order-free)
            syms = words[wi]
            n = wfreq[wi]
            new_syms = _apply_merge(syms, *best)
            for p in zip(syms, syms[1:]):
                c = counts.get(p, 0) - n
                if c > 0:
                    counts[p] = c
                else:
                    counts.pop(p, None)
                s = index.get(p)
                if s is not None:
                    s.discard(wi)
                    if not s:
                        index.pop(p, None)
            for p in zip(new_syms, new_syms[1:]):
                counts[p] = counts.get(p, 0) + n
                index.setdefault(p, set()).add(wi)
            words[wi] = new_syms
        # the merged pair itself must not survive as a candidate
        counts.pop(best, None)
        index.pop(best, None)
    return merges


def fit_bpe(
    docs: DataFrame,
    n_merges: int = DEFAULT_N_MERGES,
    sample_target: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a deterministic document
    sample. Returns the ordered merge list (rank = list position).
    Stops early (shorter list) when no adjacent pair is left to merge —
    callers must treat the merge table as variable-length.

    NULL texts are dropped before the sample collect (the fit_kmeans
    dirty-row discipline: training skips them; they are not an error).
    Raises when the sample is empty or ``n_merges`` < 1.
    """
    import re

    from pyspark.sql import functions as F

    from ..functions.hashing import h60
    from ..operators.kmeans import FIT_SAMPLE_TARGET
    from ..plans.text import WS_RE

    if n_merges < 1:
        raise ValueError(f"fit_bpe: n_merges must be >= 1, got {n_merges}")
    target = FIT_SAMPLE_TARGET if sample_target is None else sample_target
    rows = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(text_col).alias("__t"),
                h60(F.col(id_col).cast("string")).alias("__h"),
                F.col(id_col).alias("__i"))
        # __t as final tiebreak: with DUPLICATE ids (a duplicate-ingest
        # corpus) the (h60, id) key ties at the limit boundary and
        # TakeOrderedAndProject would pick arbitrary rows per
        # partitioning -- two fits of the same relation could disagree
        # (r17 review)
        .orderBy("__h", "__i", "__t")
        .limit(target)
        .collect()
    )
    if not rows:
        raise ValueError("fit_bpe: docs is empty")
    ws = re.compile(WS_RE)
    freqs: dict[str, int] = {}
    for r in rows:
        for w in ws.split(r["__t"].lower()):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    return learn_merges(freqs, n_merges)


# ------------------------------------------------------------ encode


def bpe_word_tokens(
    word: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """Tokenize ONE lowered word by greedy lowest-rank merge replay
    (leftmost-first on rank ties). Pure function — the per-word kernel
    ``encode_bpe_batches`` memoizes; also the unit the replica tests
    drive directly."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def encode_bpe_batches(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document learned-BPE tokens: ``(id_col, n_tokens, tokens)``.

    Zero-shuffle Arrow narrow map; the merge-rank dict rides the
    closure. Unknown characters (absent from the training sample)
    simply never merge — they come out as single-character tokens, the
    standard open-vocabulary behavior. NULL text raises (the encode_pq
    r17 contract: an encode pass must not silently drop corpus rows).
    A document with no words yields ``n_tokens = 0`` and an empty
    array."""
    import re

    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..plans.text import WS_RE

    if not isinstance(merges, list) or any(
        not (isinstance(m, tuple) and len(m) == 2) for m in merges
    ):
        raise ValueError(
            "encode_bpe_batches: merges must be a list of (left, right) "
            "tuples (fit_bpe/load_bpe output)")
    ranks = {pair: i for i, pair in enumerate(merges)}
    id_field = [f for f in docs.schema.fields if f.name == id_col]
    if not id_field:
        raise ValueError(f"encode_bpe_batches: no column {id_col!r}")
    out_schema = StructType([
        id_field[0],
        StructField("n_tokens", LongType()),
        StructField("tokens", ArrayType(StringType())),
    ])

    def encode_iter(batches):
        ws = re.compile(WS_RE)
        # ONE memo per task, not per batch (r17, guide 4.5): the Zipf
        # head repeats across every batch of the partition, so a
        # task-lifetime memo amortizes the greedy merge loop over the
        # whole partition's distinct words
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            if pdf[text_col].isna().any():
                bad = pdf.loc[pdf[text_col].isna(), id_col].iloc[0]
                raise ValueError(
                    f"encode_bpe_batches: NULL {text_col} at "
                    f"{id_col}={bad}; filter dirty rows before encoding")
            n_out = []
            toks_out = []
            for t in pdf[text_col]:
                toks: list[str] = []
                for w in ws.split(t.lower()):
                    if not w:
                        continue
                    cached = memo.get(w)
                    if cached is None:
                        cached = memo[w] = bpe_word_tokens(w, ranks)
                    toks.extend(cached)
                n_out.append(len(toks))
                toks_out.append(toks)
            yield pdf[[id_col]].assign(n_tokens=n_out, tokens=toks_out)

    return docs.select(id_col, text_col).mapInPandas(
        encode_iter, out_schema)


# ------------------------------------------------------- persistence


def save_bpe(spark, merges: list[tuple[str, str]], path: str) -> None:
    """Persist a learned merge table as parquet (rank INT, left STRING,
    right STRING) — the save_centroids train-once contract. Rank order
    IS the model: a reordered table is a different tokenizer."""
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    (spark.createDataFrame(rows, "rank INT, left STRING, right STRING")
     .coalesce(1).write.mode("overwrite").parquet(path))


def load_bpe(spark, path: str) -> list[tuple[str, str]]:
    """Inverse of :func:`save_bpe`, validated dense 0..n-1 by rank (the
    load_centroids discipline — a gap or reorder would silently change
    every encoding)."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    if not rows:
        raise ValueError("BPE merge relation is empty")
    if [r.rank for r in rows] != list(range(len(rows))):
        raise ValueError(
            "BPE merge relation is not a dense 0..n-1 rank sequence")
    return [(r.left, r.right) for r in rows]


# ----------------------------------------------------- vocab and ids


def build_vocab(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    enc: DataFrame | None = None,
) -> dict[str, int]:
    """The token -> id table a shard writer needs (training shards
    store INT ids, not strings). One distributed distinct over an
    encode pass — only distinct TOKENS shuffle (vocabulary-sized, not
    corpus-sized) — then ids assigned driver-side in sorted-token order
    (deterministic: independent of partitioning, retries, and doc
    order). The collect is vocabulary-sized — the documented
    model-state contract (fit_kmeans/fit_pq).

    Pass ``enc`` (an encode_bpe_batches result, ideally checkpointed)
    to reuse an existing encode pass instead of running a fresh one —
    the encode is the pipeline's dominant cost, and a caller that
    needs BOTH the vocab and the encoded relation (bpe_seq_windows)
    would otherwise pay it twice (r17 review)."""
    from pyspark.sql import functions as F

    if enc is None:
        enc = encode_bpe_batches(docs, merges, text_col=text_col,
                                 id_col=id_col)
    toks = (enc.select(F.explode("tokens").alias("tok"))
            .distinct().collect())
    return {t: i for i, t in enumerate(sorted(r["tok"] for r in toks))}


def tokens_to_ids(
    enc: DataFrame,
    vocab: dict[str, int],
    oov: str = "error",
) -> DataFrame:
    """Map the ``tokens`` array to ``token_ids ARRAY<INT>`` inside one
    Arrow narrow map (the vocab dict rides the closure — vocabulary-
    sized, like the merge table). ``oov`` policy for tokens absent from
    the vocab: ``"error"`` fails loudly (an encode-side vocab should be
    total over its own corpus), ``"skip"`` drops them, or any INT-like
    string (e.g. ``"0"``) substitutes that id — the <unk> convention.
    Output keeps every input column and appends ``token_ids``."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    if oov not in ("error", "skip"):
        try:
            unk = int(oov)
        except (TypeError, ValueError):
            raise ValueError(
                f"tokens_to_ids: oov must be 'error', 'skip', or an "
                f"int-like <unk> id, got {oov!r}") from None
    else:
        unk = None
    if "tokens" not in enc.columns:
        raise ValueError("tokens_to_ids: input has no 'tokens' column "
                         "(encode_bpe_batches output expected)")
    vmap = dict(vocab)
    out_schema = StructType(list(enc.schema.fields) + [
        StructField("token_ids", ArrayType(IntegerType())),
    ])

    def ids_iter(batches):
        for pdf in batches:
            ids_out = []
            for toks in pdf["tokens"]:
                ids = []
                for t in toks:
                    j = vmap.get(t)
                    if j is None:
                        if oov == "error":
                            raise ValueError(
                                f"tokens_to_ids: token {t!r} not in "
                                "vocab (oov='error'); rebuild the vocab "
                                "or pass an <unk> id")
                        if oov == "skip":
                            continue
                        j = unk
                    ids.append(j)
                ids_out.append(ids)
            yield pdf.assign(token_ids=ids_out)

    return enc.mapInPandas(ids_iter, out_schema)


def save_vocab(spark, vocab: dict[str, int], path: str) -> None:
    """Persist a vocab as parquet (id INT, token STRING) — ids must be
    a dense 0..V-1 permutation (the shard format's contract)."""
    if not vocab:
        # load_vocab rejects an empty relation, so blessing one here
        # would create an artifact that can never be loaded -- fail at
        # the save, next to the root cause (r17 review)
        raise ValueError("save_vocab: vocab is empty")
    if sorted(vocab.values()) != list(range(len(vocab))):
        raise ValueError("save_vocab: ids must be dense 0..V-1")
    rows = [(i, t) for t, i in vocab.items()]
    (spark.createDataFrame(rows, "id INT, token STRING")
     .coalesce(1).write.mode("overwrite").parquet(path))


def load_vocab(spark, path: str) -> dict[str, int]:
    """Inverse of :func:`save_vocab`, validated dense and duplicate-free
    (the load_centroids discipline)."""
    rows = spark.read.parquet(path).collect()
    if not rows:
        raise ValueError("vocab relation is empty")
    vocab = {r.token: r.id for r in rows}
    if len(vocab) != len(rows) or \
            sorted(vocab.values()) != list(range(len(rows))):
        raise ValueError(
            "vocab relation has duplicate tokens or non-dense ids")
    return vocab


def chunk_id_seqs(
    enc_ids: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document's ``token_ids`` into fixed-length training
    sequences — the tokenize -> shard intermediate (context-window
    packing's per-document half; cross-document concat packing is
    ``pack_shards``'s territory). Pure Catalyst (sequence + slice +
    posexplode): zero Python, zero shuffle, whole-stage codegen. The
    final sequence per document is the (possibly short) remainder —
    padding is the trainer's concern, not the pipeline's. Documents
    with no tokens yield no sequences. Output: (id_col, seq_idx,
    seq_ids, seq_n)."""
    from pyspark.sql import functions as F

    if seq_len < 1:
        raise ValueError(f"chunk_id_seqs: seq_len must be >= 1, got {seq_len}")
    if "token_ids" not in enc_ids.columns:
        raise ValueError("chunk_id_seqs: input has no 'token_ids' column "
                         "(tokens_to_ids output expected)")
    n_seqs = F.ceil(F.size("token_ids") / F.lit(seq_len)).cast("int")
    # guard the zero-token case: sequence(0, -1) is NOT empty -- Spark
    # defaults the step to -1 and expands [0, -1], which would emit two
    # spurious empty windows per empty document (r17 review, verified
    # by execution)
    windows = F.when(
        F.size("token_ids") > 0,
        F.transform(
            F.sequence(F.lit(0), n_seqs - 1),
            lambda i: F.slice("token_ids", i * seq_len + 1, seq_len)),
    ).otherwise(F.expr("array()").cast("array<array<int>>"))
    return (
        enc_ids.select(id_col, F.posexplode(windows)
                       .alias("seq_idx", "seq_ids"))
        .select(id_col, "seq_idx", "seq_ids",
                F.size("seq_ids").cast("int").alias("seq_n"))
    )
