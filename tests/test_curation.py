"""Unit tests for the curation operators (plans/curation.py): PII
redaction edge cases on hand-built strings, and decontamination semantics
(benchmark exclusion, flag threshold, overlap counting) on a hand-built
corpus — independent of the registry oracle check, which covers the
driver tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_cloudfront_realtime_monitoring_spark.plans import load_all
from aws_cloudfront_realtime_monitoring_spark.plans.curation import (
    DECON_FLAG_MIN,
    DECON_MOD,
    redact_pii,
)

REGISTRY = load_all()


def _redact(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    return [r[0] for r in df.select(redact_pii(F.col("t"))).collect()]


def test_redact_pii_handbuilt(spark):
    got = _redact(
        spark,
        [
            "mail a.b-c_9@sub.example.org now",
            "call 555-123-4567 or 555-000-1111.",
            "from 192.168.0.1 and 10.0.0.255",
            "no pii here at all",
            "edge 1234-567-8901 not a phone midword",
            "a@b.co tiny tld ok",
        ],
    )
    assert got[0] == "mail [EMAIL] now"
    assert got[1] == "call [PHONE] or [PHONE]."
    assert got[2] == "from [IP] and [IP]"
    assert got[3] == "no pii here at all"
    # \b rejects a 4-digit run fused to the area code: 1234-567-8901 has no
    # word boundary between '1234' and a 3-digit prefix, but the tail
    # '234-567-8901' does start at a digit boundary? No: \b needs a
    # non-word/word transition; inside '1234' there is none, so no match.
    assert got[4] == "edge 1234-567-8901 not a phone midword"
    assert got[5] == "[EMAIL] tiny tld ok"


def test_redact_order_email_before_ip(spark):
    # a dotted-letter hostname with digits is eaten whole by the email
    # pass (runs first); an IP-literal domain fails the \.[A-Za-z]{2,}
    # tail, so its address part is still scrubbed by the IP pass — either
    # way nothing sensitive survives
    got = _redact(spark, ["mail me9@ns1.host9.example.net ok",
                          "ping me x9@10.2.3.44 thanks"])
    assert got[0] == "mail [EMAIL] ok"
    assert got[1] == "ping me x9@[IP] thanks"


def test_pii_redact_registry_paths(spark, sf_dir):
    rows = (
        REGISTRY["pii_redact"].build(spark, sf_dir)
        .withColumn("touched",
                    (F.col("n_emails") + F.col("n_phones") + F.col("n_ips")) > 0)
        .collect()
    )
    by_id = {r.doc_id: r for r in rows}
    for r in rows:
        # counts match what was planted
        assert r.n_emails == (1 if r.doc_id % 2 == 1 else 0)
        assert r.n_phones == (1 if r.doc_id % 4 == 0 else 0)
        assert r.n_ips == (1 if r.doc_id % 3 == 0 else 0)
        # redaction is complete: no raw planted PII survives
        assert "@mail.example.com" not in r.redacted
        assert " 555-" not in r.redacted
        assert " 10." not in r.redacted
    untouched = [r for r in rows if not r.touched]
    assert untouched, "corpus must include documents with no PII planted"
    assert all(r.doc_id % 2 == 0 and r.doc_id % 4 != 0 and r.doc_id % 3 != 0
               for r in untouched)
    assert by_id  # non-empty sanity


def test_decontaminate_semantics(spark, sf_dir):
    out = REGISTRY["decontaminate"].build(spark, sf_dir).collect()
    assert out, "sf0.001 corpus must contain contaminated docs"
    for r in out:
        # benchmark members are never reported as contaminated corpus docs
        assert r.doc_id % DECON_MOD != 0
        assert r.shared_ngrams >= 1
        assert r.flagged == (1 if r.shared_ngrams >= DECON_FLAG_MIN else 0)
    # both flagged and below-threshold docs appear (the threshold is live)
    flags = {r.flagged for r in out}
    assert flags == {0, 1}


def test_redact_matches_python_re_on_fuzz(spark):
    """Cross-engine regex parity: Java regex (Spark) must agree with
    Python ``re`` (same backtracking family) on 300 seeded adversarial
    strings mixing real PII shapes, near-misses, and junk — the RE2 side
    is already pinned by the DuckDB oracle row at two scales, so together
    the three engines triangulate the patterns' portable subset."""
    import random
    import re as pyre

    from aws_cloudfront_realtime_monitoring_spark.plans.curation import REDACTIONS

    rng = random.Random(42)
    frags = [
        "a@b.co", "x.y-z_9@sub.do-main.org", "@nouser.com", "user@", "a@b",
        "a@@b.com", "555-123-4567", "55-123-4567", "5551-123-4567",
        "555-123-45678", "1.2.3.4", "999.999.999.999", "1.2.3.4.5",
        "1.2.3", "..", "1-2-3", "word", "w0rd9", ".", "-", "@", " ",
        "x 10.0.0.1y", "pre555-123-4567post", "a.b@c.d.ee",
    ]
    texts = []
    for _ in range(300):
        n = rng.randint(0, 8)
        texts.append("".join(rng.choice(frags + [" ", "  "]) for _ in range(n)))

    def py_redact(s: str) -> str:
        for pat, rep in REDACTIONS:
            s = pyre.sub(pat, rep.replace("\\", "\\\\"), s)
        return s

    got = _redact(spark, texts)
    for t, g in zip(texts, got):
        assert g == py_redact(t), f"mismatch on {t!r}"


def test_decontaminate_counts_distinct_overlap(spark):
    # hand-built: doc 13 is the benchmark (id % 13 == 0); doc 1 repeats a
    # benchmark 4-gram twice but must count it ONCE (distinct overlap);
    # doc 2 shares nothing
    bench_text = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (13, bench_text),
            (1, "alpha beta gamma delta x alpha beta gamma delta"),
            (2, "zeta eta theta iota kappa"),
        ],
        ["doc_id", "text"],
    )
    from aws_cloudfront_realtime_monitoring_spark.plans.curation import DECON_N
    from aws_cloudfront_realtime_monitoring_spark.plans.text import (
        adjacent_grams,
        words_spark_sql,
    )

    g = docs.select(
        "doc_id",
        F.array_distinct(adjacent_grams(words_spark_sql(), DECON_N)).alias("gg"),
    )
    is_bench = F.col("doc_id") % DECON_MOD == 0
    bn = g.where(is_bench).select(F.explode("gg").alias("ng")).distinct()
    hits = (
        g.where(~is_bench)
        .select("doc_id", F.explode("gg").alias("ng"))
        .join(F.broadcast(bn), "ng")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared"))
        .collect()
    )
    assert {r.doc_id: r.shared for r in hits} == {1: 1}


# ------------------------- r6 EXTRAS: c4 / unigram logprob / span dedup

def test_quality_filter_c4_branch_logic(spark, sf_dir):
    """Each planted branch drives exactly the rule it targets, and the keep
    bit is the conjunction (the oracle parity test checks Spark==DuckDB;
    this pins that the rules mean what the docstring says)."""
    from aws_cloudfront_realtime_monitoring_spark.plans.curation import (
        C4_MIN_SENTENCES,
        C4_MIN_WORDS,
        quality_filter_c4,
    )

    rows = {r.doc_id: r for r in quality_filter_c4(spark, sf_dir).collect()}
    for did, r in rows.items():
        assert r.has_brace == (1 if did % 5 == 0 else 0)
        assert r.has_lorem == (1 if did % 7 == 0 else 0)
        # sentences / terminal punctuation only ever come from the % 3 plant
        if did % 3 != 0:
            assert r.n_sentences == 0 and r.ends_terminal == 0 and r.keep == 0
        expected_keep = int(
            r.n_sentences >= C4_MIN_SENTENCES
            and r.n_words >= C4_MIN_WORDS
            and r.has_brace == 0
            and r.has_lorem == 0
            and r.ends_terminal == 1
        )
        assert r.keep == expected_keep
    kept = [d for d, r in rows.items() if r.keep]
    assert kept, "no document passed the C4 gate"
    assert all(d % 3 == 0 and d % 5 != 0 and d % 7 != 0 for d in kept)


def test_unigram_logprob_accounting(spark, sf_dir):
    """Token counts are conserved and the keep bit is the exact integer
    threshold test; the corpus-median threshold splits the corpus."""
    from aws_cloudfront_realtime_monitoring_spark.plans.curation import (
        LP_KEEP_MIN_MICRO,
        unigram_logprob,
    )
    from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table

    out = unigram_logprob(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_total = docs.select(
        F.sum(F.size(F.filter(F.split(F.lower("text"), r"\s+"),
                              lambda w: w != F.lit("")))).alias("n")
    ).collect()[0].n
    assert sum(r.n_tokens for r in out) == n_total
    for r in out:
        assert r.sum_lp_micro < 0
        assert r.keep == int(r.sum_lp_micro >= LP_KEEP_MIN_MICRO * r.n_tokens)
    keeps = {r.keep for r in out}
    assert keeps == {0, 1}, "threshold did not split the corpus"


def test_dedup_spans_verbatim_duplicates_fully_flagged(spark, sf_dir):
    """The corpus's planted verbatim duplicates (the ones dedup_exact
    groups) must come out with every gram duplicated; fraction and flag
    stay mutually consistent everywhere."""
    from aws_cloudfront_realtime_monitoring_spark.plans.curation import (
        SPAN_FLAG_MICRO,
        dedup_spans,
    )

    out = dedup_spans(spark, sf_dir).collect()
    assert all(0 <= r.dup_grams <= r.n_grams for r in out)
    for r in out:
        if r.n_grams:
            assert r.flagged == int(
                r.dup_grams * 1_000_000 >= SPAN_FLAG_MICRO * r.n_grams
            )
    assert max(r.dup_frac_micro for r in out) == 1_000_000, (
        "verbatim duplicate docs should have 100% duplicated spans"
    )
