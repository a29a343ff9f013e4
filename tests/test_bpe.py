"""Learned-BPE tokenizer (operators/bpe.py): the fit is pinned against
the Sennrich et al. 2016 hand-worked merges and a brute-force replica;
the Spark encode pass is pinned bit-exact against an INDEPENDENT
pure-Python replay (sequential rank-order merge application, a
different algorithm from the kernel's greedy lowest-rank-first apply --
equivalent only when the merge table was actually learned by BPE, which
is exactly the contract under test)."""

from __future__ import annotations

import re

import pytest

from aws_cloudfront_realtime_monitoring_spark.operators.bpe import (
    EOW,
    bpe_word_tokens,
    encode_bpe_batches,
    fit_bpe,
    load_bpe,
    save_bpe,
)
from aws_cloudfront_realtime_monitoring_spark.plans.text import WS_RE


def _replica_fit(texts: list[str], n_merges: int) -> list[tuple[str, str]]:
    """Brute-force merge learning written independently of the
    production _pair_counts/_merge_vocab helpers: recount every word
    occurrence (no frequency dict) each round."""
    ws = re.compile(WS_RE)
    words = [list(w) + [EOW] for t in texts for w in ws.split(t.lower()) if w]
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + 1
        if not counts:
            break
        top = max(counts.values())
        best = sorted(p for p, n in counts.items() if n == top)[0]
        merges.append(best)
        for syms in words:
            i = 0
            while i < len(syms) - 1:
                if (syms[i], syms[i + 1]) == best:
                    syms[i:i + 2] = [syms[i] + syms[i + 1]]
                else:
                    i += 1
    return merges


def _replica_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Sequential rank-order replay (the training-style apply) -- NOT
    the kernel's greedy lowest-rank-first loop."""
    syms = list(word) + [EOW]
    for a, b in merges:
        i = 0
        while i < len(syms) - 1:
            if syms[i] == a and syms[i + 1] == b:
                syms[i:i + 2] = [a + b]
            else:
                i += 1
    return syms


#: the paper's corpus shape: low x5, lower x2, newest x6, widest x3
_PAPER = ["low " * 5 + "lower " * 2, "newest " * 6 + "widest " * 3]


def test_fit_matches_paper_and_replica(spark):
    df = spark.createDataFrame(
        list(enumerate(_PAPER)), "doc_id BIGINT, text STRING")
    merges = fit_bpe(df, n_merges=10)
    # hand-checkable head (Sennrich 2016 worked example with the
    # smallest-pair tie rule): es(9) -> est(9) -> est</w>(9)
    assert merges[:3] == [("e", "s"), ("es", "t"), ("est", EOW)]
    assert merges == _replica_fit(_PAPER, 10)


def test_fit_is_deterministic_and_guarded(spark):
    df = spark.createDataFrame(
        list(enumerate(_PAPER)), "doc_id BIGINT, text STRING")
    assert fit_bpe(df, n_merges=6) == fit_bpe(df, n_merges=6)
    with pytest.raises(ValueError, match="n_merges"):
        fit_bpe(df, n_merges=0)
    empty = spark.createDataFrame([], "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError, match="empty"):
        fit_bpe(empty)
    # NULL text rows are training skips, not errors
    dirty = spark.createDataFrame(
        [(0, "ab ab"), (1, None)], "doc_id BIGINT, text STRING")
    assert fit_bpe(dirty, n_merges=2)[0] == ("a", "b")


def test_fit_stops_early_when_fully_merged(spark):
    df = spark.createDataFrame([(0, "aa aa")], "doc_id BIGINT, text STRING")
    merges = fit_bpe(df, n_merges=50)
    # "aa</w>" has 3 symbols -> at most 2 merges exist
    assert len(merges) == 2
    assert bpe_word_tokens("aa", {p: i for i, p in enumerate(merges)}) \
        == ["aa" + EOW]


def test_word_tokens_reconstruction_property():
    merges = _replica_fit(_PAPER, 8)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in ["low", "lower", "newest", "widest", "lowest",
              "unseen", "xyzzy", "w", ""]:
        toks = bpe_word_tokens(w, ranks)
        assert "".join(toks) == w + EOW
        assert toks == _replica_encode(w, merges)


def test_encode_batches_matches_replica_on_testdata(spark, sf_dir):
    """The full Spark pass (fit on the deterministic sample + Arrow
    encode with the per-batch memo) equals a driver-side pure-Python
    replay document for document."""
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    merges = fit_bpe(docs, n_merges=60)
    got = {
        r["doc_id"]: (r["n_tokens"], tuple(r["tokens"]))
        for r in encode_bpe_batches(docs, merges).collect()
    }
    ws = re.compile(WS_RE)
    raw = docs.select("doc_id", "text").collect()
    assert len(got) == len(raw) > 0
    for r in raw:
        toks = []
        for w in ws.split(r["text"].lower()):
            if w:
                toks.extend(_replica_encode(w, merges))
        assert got[r["doc_id"]] == (len(toks), tuple(toks)), r["doc_id"]


def test_encode_rejects_null_text_and_bad_merges(spark):
    dirty = spark.createDataFrame(
        [(0, "ok"), (1, None)], "doc_id BIGINT, text STRING")
    with pytest.raises(Exception) as ei:
        encode_bpe_batches(dirty, [("a", "b")]).collect()
    assert "NULL text" in str(ei.value)
    clean = spark.createDataFrame([(0, "ok")], "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError, match="list of \\(left, right\\)"):
        encode_bpe_batches(clean, [("a", "b", "c")])
    with pytest.raises(ValueError, match="no column"):
        encode_bpe_batches(
            clean.withColumnRenamed("doc_id", "d"), [("a", "b")])


def test_empty_document_yields_zero_tokens(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, "  \t "), (2, "low")], "doc_id BIGINT, text STRING")
    out = {r["doc_id"]: (r["n_tokens"], list(r["tokens"]))
           for r in encode_bpe_batches(df, [("l", "o")]).collect()}
    assert out[0] == (0, []) and out[1] == (0, [])
    # only ("l","o") merges; "w" and EOW stay separate symbols
    assert out[2] == (3, ["lo", "w", EOW])


def test_save_load_roundtrip_and_validation(spark, tmp_path):
    merges = _replica_fit(_PAPER, 5)
    p = str(tmp_path / "bpe_model")
    save_bpe(spark, merges, p)
    assert load_bpe(spark, p) == merges
    # a gapped rank sequence is a different tokenizer -> loud failure
    bad = str(tmp_path / "bpe_bad")
    (spark.createDataFrame([(0, "a", "b"), (2, "c", "d")],
                           "rank INT, left STRING, right STRING")
     .write.mode("overwrite").parquet(bad))
    with pytest.raises(ValueError, match="dense"):
        load_bpe(spark, bad)


def test_registry_row_shape_and_determinism(spark, sf_dir):
    """bpe_token_stats: stable schema, one row per document, token
    fingerprints reproducible across two independent builds (retries
    can't change answers)."""
    from aws_cloudfront_realtime_monitoring_spark.plans import load_full

    q = load_full()["bpe_token_stats"]
    a = q.build(spark, sf_dir).toPandas().sort_values("doc_id")
    b = q.build(spark, sf_dir).toPandas().sort_values("doc_id")
    assert list(a.columns) == [
        "doc_id", "n_tokens", "n_distinct_tokens", "tok_fp"]
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))
    assert (a["n_distinct_tokens"] <= a["n_tokens"]).all()
    assert (a["n_tokens"] > 0).any()


def test_stream_encode_equals_batch(spark, sf_dir):
    """stream_bpe_tokens_equiv: the streaming encode (batch-fitted
    merges, stateless Arrow map per micro-batch, append parquet sink)
    produces EXACTLY the batch bpe_token_stats relation -- the
    stream==batch contract the oracle harness can't check for a
    non-SQL-expressible op."""
    from aws_cloudfront_realtime_monitoring_spark.plans import load_full

    reg = load_full()
    batch = reg["bpe_token_stats"].build(spark, sf_dir).toPandas()
    stream = reg["stream_bpe_tokens_equiv"].build(spark, sf_dir).toPandas()
    key = ["doc_id"]
    b = batch.sort_values(key).reset_index(drop=True)
    s = stream.sort_values(key).reset_index(drop=True)
    assert list(b.columns) == list(s.columns)
    assert b.equals(s)
    assert len(b) > 0


def test_tok_fp_distinguishes_separator_collisions(spark):
    """The fingerprint uses length-prefix framing, not a bare separator
    join: a token CONTAINING \\x1f must not collide with the split pair
    (r17 review -- WS_RE does not strip \\x1f, so no separator
    character is guaranteed absent from tokens)."""
    from aws_cloudfront_realtime_monitoring_spark.plans.text import bpe_stats_cols

    enc = spark.createDataFrame(
        [(0, 1, ["a\x1fb</w>"]), (1, 2, ["a", "b</w>"])],
        "doc_id BIGINT, n_tokens BIGINT, tokens ARRAY<STRING>")
    rows = {r["doc_id"]: r["tok_fp"]
            for r in bpe_stats_cols(enc).collect()}
    assert rows[0] != rows[1]


def test_fit_deterministic_with_duplicate_doc_ids(spark):
    """Duplicate ids tie on the (h60, id) sample key; the text tiebreak
    keeps the fit deterministic across partitionings (r17 review)."""
    rows = [(i % 3, f"w{i} " * 4) for i in range(30)]
    a = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    b = spark.createDataFrame(list(reversed(rows)),
                              "doc_id BIGINT, text STRING").repartition(7)
    assert fit_bpe(a, n_merges=8, sample_target=10) \
        == fit_bpe(b, n_merges=8, sample_target=10)


def test_bpe_counts_feed_shard_packing(spark, sf_dir):
    """The pipeline composes end-to-end: learned-tokenizer counts
    (bpe_token_stats) ARE the pack_shards input contract -- shards
    respect capacity under the real token counts, every document is
    packed exactly once, and only genuinely oversize docs overflow."""
    from aws_cloudfront_realtime_monitoring_spark.operators.packing import (
        pack_shards,
    )
    from aws_cloudfront_realtime_monitoring_spark.plans import load_full

    stats = load_full()["bpe_token_stats"].build(spark, sf_dir)
    cap = 256
    packed = pack_shards(stats.select("doc_id", "n_tokens"),
                         capacity=cap, n_groups=4).toPandas()
    src = stats.toPandas()
    assert sorted(packed["doc_id"]) == sorted(src["doc_id"])
    fills = packed.groupby("shard_id")["n_tokens"].sum()
    over = packed[packed["oversize"] == 1]
    ok = packed[packed["oversize"] == 0]
    assert (ok.groupby("shard_id")["n_tokens"].sum() <= cap).all()
    # oversize shards hold exactly one doc, each genuinely > capacity
    assert (over.groupby("shard_id").size() == 1).all()
    assert (over["n_tokens"] > cap).all()
    assert len(fills) > 1


def test_vocab_ids_roundtrip_and_persistence(spark, sf_dir, tmp_path):
    """build_vocab -> tokens_to_ids -> ids map back to the exact token
    sequence (the shard format's contract); vocab save/load validates
    density; OOV policies behave as documented."""
    from aws_cloudfront_realtime_monitoring_spark.operators.bpe import (
        build_vocab,
        load_vocab,
        save_vocab,
        tokens_to_ids,
    )
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    merges = fit_bpe(docs, n_merges=40)
    vocab = build_vocab(docs, merges)
    assert sorted(vocab.values()) == list(range(len(vocab)))
    # deterministic across two builds
    assert vocab == build_vocab(docs, merges)

    p = str(tmp_path / "vocab")
    save_vocab(spark, vocab, p)
    assert load_vocab(spark, p) == vocab

    inv = {i: t for t, i in vocab.items()}
    enc = encode_bpe_batches(docs, merges)
    out = tokens_to_ids(enc, vocab).collect()
    assert len(out) > 0
    for r in out:
        assert [inv[i] for i in r["token_ids"]] == list(r["tokens"])

    # OOV policies on a vocab missing a token
    small = spark.createDataFrame([(0, "zz qq")], "doc_id BIGINT, text STRING")
    enc2 = encode_bpe_batches(small, merges)
    partial = {t: i for i, t in enumerate(
        sorted({t for r in enc2.collect() for t in r["tokens"]} - {"q"}))}
    with pytest.raises(Exception) as ei:
        tokens_to_ids(enc2, partial, oov="error").collect()
    assert "not in vocab" in str(ei.value)
    skipped = tokens_to_ids(enc2, partial, oov="skip").collect()[0]
    assert len(skipped["token_ids"]) < skipped["n_tokens"]
    unked = tokens_to_ids(enc2, partial, oov=str(len(partial))).collect()[0]
    assert len(unked["token_ids"]) == unked["n_tokens"]
    assert len(partial) in unked["token_ids"]
    with pytest.raises(ValueError, match="oov must be"):
        tokens_to_ids(enc2, partial, oov="nope")
    with pytest.raises(ValueError, match="dense"):
        save_vocab(spark, {"a": 0, "b": 2}, str(tmp_path / "bad"))
    # an empty vocab must fail at SAVE time: load_vocab rejects the
    # empty relation, so blessing it would persist an unloadable
    # artifact (r17 review)
    with pytest.raises(ValueError, match="empty"):
        save_vocab(spark, {}, str(tmp_path / "bad2"))


def test_chunk_id_seqs_windows_reconstruct(spark, sf_dir):
    """Fixed-length sequence windows: every window except a doc's last
    has exactly seq_len ids, the concatenation reconstructs the full id
    sequence in order, zero-token docs yield no rows, and bad inputs
    fail loudly."""
    from aws_cloudfront_realtime_monitoring_spark.operators.bpe import (
        build_vocab,
        chunk_id_seqs,
        tokens_to_ids,
    )
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    merges = fit_bpe(docs, n_merges=40)
    ids = tokens_to_ids(encode_bpe_batches(docs, merges),
                        build_vocab(docs, merges))
    seq_len = 16
    out = chunk_id_seqs(ids, seq_len).collect()
    src = {r["doc_id"]: list(r["token_ids"]) for r in ids.collect()}
    got: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["seq_idx"])):
        assert r["seq_n"] == len(r["seq_ids"]) <= seq_len
        got.setdefault(r["doc_id"], []).extend(r["seq_ids"])
        # only the LAST window of a doc may be short
        if r["seq_n"] < seq_len:
            assert (r["seq_idx"] + 1) * seq_len >= len(src[r["doc_id"]])
    assert got == {d: v for d, v in src.items() if v}

    with pytest.raises(ValueError, match="seq_len"):
        chunk_id_seqs(ids, 0)
    with pytest.raises(ValueError, match="token_ids"):
        chunk_id_seqs(docs, 8)

    # zero-token docs yield NO rows (sequence(0,-1) is [0,-1] in Spark,
    # not empty -- the unguarded spelling emitted two spurious empty
    # windows per empty doc; r17 review, pinned here)
    empty_ids = spark.createDataFrame(
        [(7, []), (8, [1, 2, 3])],
        "doc_id BIGINT, token_ids ARRAY<INT>")
    rows = chunk_id_seqs(empty_ids, 2).collect()
    assert sorted((r["doc_id"], r["seq_idx"], list(r["seq_ids"]))
                  for r in rows) == [(8, 0, [1, 2]), (8, 1, [3])]


def test_pack_token_sequences_conservation_and_capacity(spark, sf_dir):
    """Packed pretraining: every token id appears exactly once across
    the packed output (multiset conservation), non-oversize sequences
    respect seq_len and hold whole documents in ascending doc_id order,
    oversize sequences are single genuinely-long docs, and the packing
    is deterministic."""
    from aws_cloudfront_realtime_monitoring_spark.operators.bpe import (
        build_vocab,
        tokens_to_ids,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.packing import (
        pack_token_sequences,
    )
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    merges = fit_bpe(docs, n_merges=40)
    enc = encode_bpe_batches(docs, merges)
    ids = tokens_to_ids(enc, build_vocab(docs, merges, enc=enc))
    src = {r["doc_id"]: list(r["token_ids"]) for r in ids.collect()}
    seq_len = 128

    out = pack_token_sequences(ids, seq_len, n_groups=4).collect()
    # conservation: concatenating each sequence's member docs from the
    # SOURCE reproduces its token_ids exactly, and every doc appears
    # exactly once across all sequences
    seen = []
    for r in out:
        expect = [t for d in r["doc_ids"] for t in src[d]]
        assert list(r["token_ids"]) == expect
        assert list(r["doc_ids"]) == sorted(r["doc_ids"])
        assert r["n_tokens"] == len(expect) and r["n_docs"] == len(r["doc_ids"])
        seen.extend(r["doc_ids"])
        if not r["oversize"]:
            assert r["n_tokens"] <= seq_len
        else:
            assert r["n_docs"] == 1 and r["n_tokens"] > seq_len
    assert sorted(seen) == sorted(src)
    # real packing happened: fewer sequences than documents
    assert len(out) < len(src)

    again = pack_token_sequences(ids, seq_len, n_groups=4).collect()
    assert sorted((r["seq_id"], tuple(r["token_ids"])) for r in again) \
        == sorted((r["seq_id"], tuple(r["token_ids"])) for r in out)

    with pytest.raises(ValueError, match="token_ids"):
        pack_token_sequences(docs, seq_len)


def test_pack_rejects_duplicate_doc_ids_and_bad_seq_len(spark):
    """Duplicate doc_ids would cross-join in the shard join and
    silently duplicate tokens (r17 review: 5 tokens in -> 9 out before
    the guard), and they break the FFD sort's total order -- pack_group
    rejects them with zero extra jobs (equal ids hash to the same
    group). seq_len < 1 fails loudly like chunk_id_seqs."""
    from aws_cloudfront_realtime_monitoring_spark.operators.packing import (
        pack_shards,
        pack_token_sequences,
    )

    dup = spark.createDataFrame(
        [(1, [10, 11]), (1, [20, 21]), (2, [30])],
        "doc_id BIGINT, token_ids ARRAY<INT>")
    with pytest.raises(Exception) as ei:
        pack_token_sequences(dup, 8).collect()
    assert "duplicate doc_id 1" in str(ei.value)
    counts = spark.createDataFrame(
        [(1, 2), (1, 2)], "doc_id BIGINT, n_tokens BIGINT")
    with pytest.raises(Exception) as ei:
        pack_shards(counts, capacity=8).collect()
    assert "duplicate doc_id 1" in str(ei.value)
    with pytest.raises(ValueError, match="seq_len"):
        pack_token_sequences(dup.limit(1), 0)


def test_property_random_corpora_greedy_equals_replay():
    """Hypothesis sweep over random small corpora: for any merge table
    actually LEARNED by BPE, the kernel's greedy lowest-rank-first
    apply equals the sequential rank-order replay for every word, and
    reconstruction holds -- the equivalence the testdata pin relies on,
    exercised over the input space instead of one corpus."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    words = st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1, max_size=12)

    @settings(max_examples=60, deadline=None)
    @given(words, st.integers(1, 12))
    def check(ws, n_merges):
        corpus = [" ".join(ws)]
        merges = _replica_fit(corpus, n_merges)
        # the production INDEXED learner (incremental pair counts,
        # r17) must be bit-identical to the brute-force recount
        from collections import Counter

        from aws_cloudfront_realtime_monitoring_spark.operators.bpe import (
            learn_merges,
        )

        assert learn_merges(dict(Counter(ws)), n_merges) == merges
        ranks = {p: i for i, p in enumerate(merges)}
        for w in set(ws) | {"dcba", "aaaa", ""}:
            toks = bpe_word_tokens(w, ranks)
            assert "".join(toks) == w + EOW
            assert toks == _replica_encode(w, merges)

    check()
