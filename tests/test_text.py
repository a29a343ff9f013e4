"""Text-pipeline invariants for the merged profile and TF-IDF queries."""

from __future__ import annotations

from aws_cloudfront_realtime_monitoring_spark.plans import load_all


def test_tfidf_topk_invariants(spark, sf_dir):
    """Per doc: <= k rows, ranks contiguous from 1, scores non-increasing,
    term tiebreak ascending on equal scores; df consistent per term."""
    from aws_cloudfront_realtime_monitoring_spark.plans.text import TFIDF_TOPK

    rows = load_all()["text_tfidf_topk"].build(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    df_by_term: dict[str, int] = {}
    for r in rows:
        assert r.tf >= 1 and r.df >= 1 and r.score_micro >= 0
        df_by_term.setdefault(r.term, r.df)
        assert df_by_term[r.term] == r.df
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r.rnk)
        assert 1 <= len(rs) <= TFIDF_TOPK
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        for a, b in zip(rs, rs[1:]):
            assert a.score_micro >= b.score_micro
            if a.score_micro == b.score_micro:
                assert a.term < b.term


def test_text_profile_consistency(spark, sf_dir):
    """Merged profile agrees with its own internal definitions: stopword
    hits bound by token count, quality gate recomputable from the row."""
    rows = load_all()["text_profile"].build(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r.n_stop <= r.n_ws_tokens
        assert r.top_score >= r.n_stop or r.pred_lang != "en"
        expected = 1 if (10 <= r.n_ws_tokens <= 1000 and r.n_stop * 20 >= r.n_ws_tokens) else 0
        assert r.quality_pass == expected
        assert r.sum_word_len + max(r.n_ws_tokens - 1, 0) <= r.n_chars + r.n_ws_tokens


def test_tfidf_idf_quantization_margin(spark):
    """The hash contract depends on Spark (Java Math.log) and DuckDB (libm)
    agreeing on floor(ln(N/df)*1e6 + 0.5). Neither log is guaranteed
    correctly rounded, so agreement is only certain when no quantization
    input lands near an integer boundary: a 1-ulp log divergence moves
    x = ln(N/df)*1e6 + 0.5 by at most ~|x|*2^-52 < 1e-8, so a margin of
    1e-5 to the nearest boundary makes a flip impossible. Checked over ALL
    distinct df values of the tf relation (not just output rows -- a flip
    in a non-output row could reorder the top-k cut) at both pytest and
    driver-correctness scale factors."""
    import math

    from pyspark.sql import functions as F

    from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = load_table(spark, sf_dir, "documents")
        n_docs = docs.count()
        words = docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != F.lit(""))
            ).alias("term"),
        )
        dfs = {
            r.df
            for r in words.groupBy("doc_id", "term")
            .count()
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .select("df")
            .distinct()
            .collect()
        }
        worst = min(
            min(frac, 1.0 - frac)
            for df in dfs
            for frac in [math.modf(math.log(n_docs / df) * 1e6 + 0.5)[0]]
        )
        assert worst > 1e-5, (
            f"{sf_dir}: idf quantization margin {worst:.2e} too close to a "
            "boundary; the Spark/DuckDB hash contract may flip"
        )


def test_text_repetition_vs_python_replica(spark, sf_dir):
    """Gopher-style within-doc repetition stats must match an independent
    Python implementation exactly (promoted into the driver registry in
    r6 -- this replica is the second, engine-independent witness; the
    fractions are 4-dp round-half-up via exact integer arithmetic, which
    Decimal HALF_UP reproduces)."""
    import re

    from aws_cloudfront_realtime_monitoring_spark.plans.text import (
        text_repetition,
    )

    got = {
        r.doc_id: (r.n_words, r.dup_word_frac, r.dup_2gram_frac, r.dup_3gram_frac)
        for r in text_repetition(spark, sf_dir).collect()
    }

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    assert len(got) == len(docs) > 0

    def frac(grams):
        # HALF_UP like Spark's round() -- python round() is banker's and
        # differs on exact ties (13/32 = 0.40625 -> 0.4063, not 0.4062)
        from decimal import ROUND_HALF_UP, Decimal

        if not grams:
            return 0.0
        v = Decimal((len(grams) - len(set(grams)))) / Decimal(len(grams))
        return float(v.quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))

    for d in docs:
        ws = [w for w in re.split(r"\s+", d.text) if w != ""]
        g2 = [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
        g3 = [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]
        assert got[d.doc_id] == (len(ws), frac(ws), frac(g2), frac(g3)), d.doc_id

    # planted degenerate doc: one phrase repeated -> fractions near 1
    planted = spark.createDataFrame(
        [(1, "spam ham spam ham spam ham spam ham")], "doc_id BIGINT, text STRING"
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as tmp:
        planted.write.parquet(os.path.join(tmp, "documents.parquet"))
        [r] = text_repetition(spark, tmp).collect()
    assert r.n_words == 8
    assert r.dup_word_frac == 0.75      # 2 distinct of 8
    assert r.dup_2gram_frac == round(5 / 7, 4)
    assert r.dup_3gram_frac == round(4 / 6, 4)


def test_text_normalize_vs_unicodedata_replica(spark, sf_dir):
    """NFKC + casefold + whitespace collapse must match an independent
    unicodedata implementation on the real corpus AND on planted unicode
    edge cases (ligatures, full-width forms, combining accents)."""
    import re
    import unicodedata

    from aws_cloudfront_realtime_monitoring_spark.plans.text import (
        text_normalize,
    )

    def replica(t):
        return re.sub(r"\s+", " ", unicodedata.normalize("NFKC", t).casefold()).strip()

    got = {r.doc_id: r.norm_text for r in text_normalize(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    assert len(got) == len(docs) > 0
    for d in docs:
        assert got[d.doc_id] == replica(d.text), d.doc_id

    planted = [
        (1, "ﬁnal  Ｗｏｒｄ"),          # fi ligature + full-width letters
        (2, "Café Ångström"),  # combining acute, ring
        (3, "  MiXeD\tCase\n\nspace  "),
        (4, "①② x²"),    # circled digits, superscript
    ]
    import os, tempfile
    df = spark.createDataFrame(planted, "doc_id BIGINT, text STRING")
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {r.doc_id: r.norm_text for r in text_normalize(spark, tmp).collect()}
    for i, t in planted:
        assert out[i] == replica(t), (i, out[i], replica(t))
    assert out[1] == "final ｗｏｒｄ".replace("ｗｏｒｄ", "word")
    assert out[4] == "12 x2"


def test_training_pipeline_composition(spark):
    """End-to-end composition of the training-data operators: unicode
    normalization -> exact dedup over the NORMALIZED text (catching
    case/width/ligature variants raw-byte hashing misses) -> repetition
    quality filter -> token-budget shard packing. Each stage is verified
    alone elsewhere; this pins that they compose — schemas line up and the
    variant collapse actually happens."""
    import os
    import tempfile

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from aws_cloudfront_realtime_monitoring_spark.operators.packing import (
        pack_shards,
    )
    from aws_cloudfront_realtime_monitoring_spark.plans.text import (
        text_normalize,
        text_repetition,
    )

    rows = [
        (1, "The Quick Brown Fox"),
        (2, "the quick brown fox"),        # case variant of 1
        (3, "ｔｈｅ ｑｕｉｃｋ ｂｒｏｗｎ ｆｏｘ"),  # full-width variant of 1
        (4, "an original document about sparks"),
        (5, "spam spam spam spam spam spam"),   # repetition-filtered
        (6, "another unique piece of text here"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        norm = text_normalize(spark, tmp).select("doc_id", "norm_text")
        rep = text_repetition(spark, tmp).select(
            "doc_id", "n_words", "dup_word_frac"
        )
        w = W.partitionBy("norm_text")
        canon = (
            norm.select(
                "doc_id",
                "norm_text",
                F.when(
                    F.col("doc_id") == F.min("doc_id").over(w), 1
                ).otherwise(0).alias("is_canonical"),
            )
            .where(F.col("is_canonical") == 1)
            .join(rep, "doc_id")
            .where(F.col("dup_word_frac") <= 0.5)
        )
        kept = {r.doc_id: r.n_words for r in canon.collect()}
        # 2 and 3 collapse into 1; 5 fails the repetition filter
        assert set(kept) == {1, 4, 6}
        packed = pack_shards(
            canon.select("doc_id", F.col("n_words").alias("n_tokens")),
            capacity=10,
            n_groups=2,
        )
        out = packed.collect()
        assert {r.doc_id for r in out} == {1, 4, 6}
        assert all(r.shard_fill <= 10 and r.oversize == 0 for r in out)


def test_words_split_cross_engine_fuzz(spark):
    """The word splitter produces IDENTICAL tokens in Spark (Java regex),
    DuckDB (RE2), and the Python replica spelling, including on the
    whitespace edge cases where the engines' `\\s` classes disagree
    (Java \\s has \\x0B, RE2's does not, Python str.split() adds Unicode
    whitespace). Pins the WS_RE common-subset contract every word-based
    oracle row relies on."""
    import re

    import duckdb

    from aws_cloudfront_realtime_monitoring_spark.plans.text import (
        _WORDS_SQL,
        WS_RE,
        words_col,
    )

    rng = __import__("random").Random(42)
    alphabet = list("abXY9.") + ["\t", "\n", "\r", "\f", "\x0b", " ",
                                 "\xa0", "　", "汉"]
    cases = ["", " ", "\x0b", "a\x0bb", "\xa0", "a\xa0 b\x0b\x0bc "]
    cases += ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 24)))
              for _ in range(60)]

    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], ["i", "text"]
    )
    spark_words = {
        r.i: r.ws for r in sdf.select("i", words_col().alias("ws")).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(cases):
        # run the exact oracle fragment with the text bound as a one-row relation
        duck = con.execute(
            f"SELECT {_WORDS_SQL} FROM (SELECT ? AS text)", [t]
        ).fetchone()[0]
        py = [w for w in re.split(WS_RE, t) if w != ""]
        assert spark_words[i] == duck == py, (
            repr(t), spark_words[i], duck, py
        )


def test_lower_cross_engine_ascii(spark):
    """Spark and DuckDB lower() agree exactly on ASCII (the contract the
    lower()-based oracle rows rely on) -- and the known Unicode
    divergences (U+0130, final sigma) really do diverge, so if either
    engine changes semantics this test flags the contract for review."""
    import duckdb

    from pyspark.sql import functions as F

    rng = __import__("random").Random(7)
    ascii_cases = ["", "ABC", "MiXeD 123 .,!"] + [
        "".join(chr(rng.randrange(32, 127)) for _ in range(rng.randrange(0, 30)))
        for _ in range(50)
    ]
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ascii_cases)], ["i", "s"]
    )
    sres = {r.i: r.l for r in sdf.select("i", F.lower("s").alias("l")).collect()}
    con = duckdb.connect()
    for i, t in enumerate(ascii_cases):
        assert sres[i] == con.execute("SELECT lower(?)", [t]).fetchone()[0]

    # the documented divergence set -- full-Unicode folding belongs to
    # text_normalize, not to the SQL oracle surface
    udf_rows = spark.createDataFrame(
        [(0, "İstanbul"), (1, "ΣΟΦΟΣ")], ["i", "s"]
    ).select("i", F.lower("s").alias("l")).collect()
    spark_l = [r.l for r in sorted(udf_rows, key=lambda r: r.i)]
    duck = [con.execute("SELECT lower(?)", [t]).fetchone()[0]
            for t in ("İstanbul", "ΣΟΦΟΣ")]
    # EACH documented divergence must actually diverge -- if an engine
    # upgrade aligns either one, the contract needs review
    assert spark_l[0] != duck[0], "U+0130 lowering now agrees"
    assert spark_l[1] != duck[1], "final-sigma lowering now agrees"


def test_chunk_documents_coverage_and_overlap(spark, sf_dir):
    """Every word of every document lands in at least one chunk, adjacent
    chunks overlap by exactly CHUNK_OVERLAP (except a shorter final
    window), and short documents produce exactly one chunk."""
    from aws_cloudfront_realtime_monitoring_spark.plans.text import (
        CHUNK_OVERLAP,
        CHUNK_WORDS,
        chunk_documents,
        words_col,
    )
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table

    stride = CHUNK_WORDS - CHUNK_OVERLAP
    docs = {
        r.doc_id: r.ws
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", words_col().alias("ws")).collect()
    }
    out = {}
    for r in chunk_documents(spark, sf_dir).collect():
        out.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text.split(" ")
        assert r.chunk_words == len(r.chunk_text.split(" "))
    for doc_id, ws in docs.items():
        if not ws:
            assert doc_id not in out
            continue
        chunks = [out[doc_id][i] for i in range(len(out[doc_id]))]
        if len(ws) <= CHUNK_WORDS:
            assert chunks == [ws]
            continue
        rebuilt = list(chunks[0])
        for c in chunks[1:]:
            assert c[:CHUNK_OVERLAP] == rebuilt[-CHUNK_OVERLAP:]  # overlap
            rebuilt.extend(c[CHUNK_OVERLAP:])
        assert rebuilt == ws  # total coverage, order preserved
        assert all(len(c) == CHUNK_WORDS for c in chunks[:-1])


def test_bm25_combined_stage_matches_stage_statements(spark, sf_dir):
    """r18 (guide §6): the one-corpus-scan combined (doc_id, dl, tfs)
    statement the builder checkpoints must reproduce the unfused stage
    statements row-for-row — dl vs bm25_dl_select, and the inlined tfs
    vs bm25_tf_select's explode+join+COUNT (whose spelling the DuckDB
    oracle still runs)."""
    from aws_cloudfront_realtime_monitoring_spark.plans.text import (
        _bm25_values,
        bm25_combined_select,
        bm25_dl_select,
        bm25_split_expr,
        bm25_tf_select,
    )
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import (
        register_views,
    )

    register_views(spark, sf_dir)
    split = bm25_split_expr("spark")
    combined = spark.sql(bm25_combined_select(split))
    combined.createOrReplaceTempView("bm25_combined_test")

    dl_new = spark.sql("SELECT doc_id, dl FROM bm25_combined_test")
    dl_old = spark.sql(bm25_dl_select(split))
    assert dl_new.schema == dl_old.schema
    assert dl_new.exceptAll(dl_old).count() == 0
    assert dl_old.exceptAll(dl_new).count() == 0

    tf_new = spark.sql(
        "SELECT doc_id, query_id, term, tf FROM bm25_combined_test "
        "LATERAL VIEW inline(tfs) t")
    tf_old = spark.sql(bm25_tf_select(split, _bm25_values("spark")))
    # names+types only: inline()'s struct fields are nullable where the
    # VALUES/COUNT(*) spelling is not -- laundered by the scoring tail's
    # aggregates, so the registry row's final schema is identical (the
    # full-query schema equality is asserted by the oracle suite)
    assert [(f.name, f.dataType) for f in tf_new.schema.fields] == \
        [(f.name, f.dataType) for f in tf_old.schema.fields]
    assert tf_new.exceptAll(tf_old).count() == 0
    assert tf_old.exceptAll(tf_new).count() == 0


def test_bm25_matches_python_replica(spark, sf_dir):
    """BM25 scores equal an independent Python implementation of the
    Robertson idf / k1-b saturation formula (guards the formula itself --
    the oracle row only proves Spark==DuckDB on shared SQL text)."""
    import math
    import re

    from aws_cloudfront_realtime_monitoring_spark.plans.text import (
        BM25_QUERIES,
        BM25_TOPK,
        WS_RE,
        bm25_topk,
    )
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table

    docs = {
        r.doc_id: [w for w in re.split(WS_RE, r.text.lower()) if w]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    # the operator's corpus-size contract: N counts TOKENIZED documents
    docs = {d: ws for d, ws in docs.items() if ws}
    n_docs = float(len(docs))
    total = float(sum(len(ws) for ws in docs.values()))
    k1, b = 1.2, 0.75

    expected = {}
    for qid, terms in BM25_QUERIES:
        tf = {}
        for did, ws in docs.items():
            for t in terms:
                c = ws.count(t)
                if c:
                    tf[(did, t)] = c
        df = {t: sum(1 for (d2, t2) in tf if t2 == t) for t in terms}
        scores = {}
        for (did, t), c in tf.items():
            dl = len(docs[did])
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s = idf * (c * (k1 + 1.0)) / (
                c + k1 * (1.0 - b + b * dl / (total / n_docs))
            )
            scores[did] = scores.get(did, 0) + int(math.floor(s * 1e6 + 0.5))
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_TOPK]
        for rnk, (did, sc) in enumerate(top, 1):
            expected[(qid, did)] = (sc, rnk)

    got = {
        (r.query_id, r.doc_id): (r.score_micro, r.rnk)
        for r in bm25_topk(spark, sf_dir).collect()
    }
    assert got == expected


def test_bpe_tokens_agree_on_vertical_tab(spark):
    """BPE_RE spells its whitespace class explicitly: a bare \\s is
    Java's class in Spark (includes \\x0B) but RE2's in DuckDB (excludes
    it), so a vertical tab made n_bpe_tokens diverge (r8 review)."""
    import duckdb

    from aws_cloudfront_realtime_monitoring_spark.plans.text import BPE_RE

    from pyspark.sql import functions as F

    text = "a\x0bb c"
    # the Column API, exactly as text_profile builds it (a spark.sql
    # literal would C-escape the backslashes differently)
    spark_n = (
        spark.createDataFrame([(text,)], "text STRING")
        .select(F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).alias("n"))
        .first()
        .n
    )
    duck_n = duckdb.sql(
        f"SELECT len(regexp_extract_all('{text}', '{BPE_RE}')) AS n"
    ).fetchone()[0]
    assert spark_n == duck_n == 3  # 'a', 'b', 'c'; \x0B is whitespace


def test_bpe_re_spark_sql_spelling_matches_python(spark):
    """sql_str_literal(BPE_RE, "spark") is BPE_RE as a spark.sql string
    literal (which unescapes backslashes once): Spark's
    regexp_extract_all with it must tokenize exactly as Python's
    re.findall does with BPE_RE, whitespace escapes included. The DuckDB
    spelling must agree too, and a quote in a pattern must survive both
    literals."""
    import re

    import duckdb

    from aws_cloudfront_realtime_monitoring_spark.plans.text import (
        BPE_RE,
        sql_str_literal,
    )

    sample = "Hello,\tworld 42x\x0bé!\n\fend\r-9 it's"
    spark.createDataFrame([(sample,)], "text STRING").createOrReplaceTempView(
        "bpe_sample"
    )
    for pat in (BPE_RE, "'|" + BPE_RE):
        [row] = spark.sql(
            "SELECT regexp_extract_all(text, "
            f"{sql_str_literal(pat, 'spark')}, 0) AS toks FROM bpe_sample"
        ).collect()
        duck = duckdb.execute(
            f"SELECT regexp_extract_all(?, {sql_str_literal(pat, 'duck')})",
            [sample],
        ).fetchone()[0]
        assert row.toks == duck == re.findall(pat, sample), pat
