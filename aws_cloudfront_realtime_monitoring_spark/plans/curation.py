"""Training-data curation operators (driver-mandated LLM-pipeline
extensions): PII redaction and benchmark decontamination.

Both are standard stages of a production pre-training pipeline (the same
family as the dedup/quality operators in ``plans.dedup`` / ``plans.text``):

- **pii_redact**: scrub emails / phone numbers / IPv4 addresses before any
  text ships to training, and count what was scrubbed for audit. Pure
  Catalyst ``regexp_count`` + chained ``regexp_replace`` — a narrow map
  with ZERO shuffles whose predicates the scan can pipeline; at 100 TB
  this is a pass-through transform, never a join or aggregation.
- **decontaminate**: flag corpus documents that share word n-grams with a
  held-out benchmark set (test-set contamination removal, as described for
  public corpora such as C4/Dolma: n-gram overlap against the eval
  suites). The corpus side stays a narrow map (split + n-gram arrays built
  with ``zip_with``, exploded map-side); the benchmark n-gram set is tiny
  by construction (eval suites are ~10^5 n-grams vs 10^12 corpus rows) and
  BROADCASTS, so the only shuffle is the per-doc count of the (rare)
  matches — at 100 TB, shuffle volume ~ contamination volume, not corpus
  volume. Past broadcast size the same plan runs as a shuffle join
  unchanged.

The synthetic documents contain no real PII, so ``pii_redact``'s query
row deterministically plants PII derived from ``doc_id`` (identically in
Spark and the DuckDB oracle) before scrubbing — the operator's logic runs
on real strings flowing through the engine, and the hash check proves the
Java-regex and RE2 engines agree on every match and replacement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h60, h60_sql
from ..sources.tables import load_table
from . import register
from .text import (_LWORDS_SQL, _WORDS_SQL, WS_RE, adjacent_grams,
                   gram_sql, grams_spark_sql, lwords_col, sql_str_literal,
                   words_col, words_spark_sql)

# ------------------------------------------------------------- pii_redact

#: PII patterns, written to the common subset of Java regex (Spark) and
#: RE2 (DuckDB): character classes, bounded quantifiers, \b word
#: boundaries — no backrefs, no lookaround (RE2 has neither)
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
IP_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

#: redaction order: emails first (their digits could otherwise feed the
#: numeric patterns), then phones, then IPs — the IP pattern must run last
#: because it is the loosest
REDACTIONS = [(EMAIL_RE, "[EMAIL]"), (PHONE_RE, "[PHONE]"), (IP_RE, "[IP]")]


def redact_pii(col: Column) -> Column:
    """Chained global regexp_replace over the three PII patterns."""
    out = col
    for pat, rep in REDACTIONS:
        out = F.regexp_replace(out, pat, rep)
    return out


def _planted_sql() -> str:
    """DuckDB expression for the deterministically planted PII text."""
    return (
        "text"
        " || CASE WHEN doc_id % 2 = 1 THEN ' reach me at user' ||"
        " CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END"
        " || CASE WHEN doc_id % 4 = 0 THEN ' call 555-' ||"
        " CAST(doc_id % 900 + 100 AS VARCHAR) || '-' ||"
        " CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END"
        " || CASE WHEN doc_id % 3 = 0 THEN ' from 10.' ||"
        " CAST(doc_id % 250 AS VARCHAR) || '.' ||"
        " CAST((doc_id // 7) % 250 AS VARCHAR) || '.' ||"
        " CAST(doc_id % 200 + 1 AS VARCHAR) ELSE '' END"
    )


def _planted_col() -> Column:
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    email = F.concat(
        F.lit(" reach me at user"), s(did), F.lit("@mail.example.com")
    )
    phone = F.concat(
        F.lit(" call 555-"), s(did % 900 + 100), F.lit("-"),
        s(did % 9000 + 1000),
    )
    ip = F.concat(
        F.lit(" from 10."), s(did % 250), F.lit("."),
        s(F.expr("(doc_id div 7) % 250")), F.lit("."), s(did % 200 + 1),
    )
    return F.concat(
        F.col("text"),
        F.when(did % 2 == 1, email).otherwise(F.lit("")),
        F.when(did % 4 == 0, phone).otherwise(F.lit("")),
        F.when(did % 3 == 0, ip).otherwise(F.lit("")),
    )


#: the pii_redact batch oracle — also the oracle for the streaming parity
#: row (plans.streaming_equiv.stream_pii_redact_equiv), since a stateless
#: narrow map must produce the identical relation either way
PII_ORACLE_SQL = f"""
    WITH planted AS (
      SELECT doc_id, {_planted_sql()} AS pii_text FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '{EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(pii_text, '{PHONE_RE}')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(pii_text, '{IP_RE}')) AS BIGINT)
             AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(pii_text,
             '{EMAIL_RE}', '[EMAIL]', 'g'),
             '{PHONE_RE}', '[PHONE]', 'g'),
             '{IP_RE}', '[IP]', 'g') AS redacted
    FROM planted
    """


def pii_projection(planted: DataFrame) -> DataFrame:
    """The count+redact projection over a (doc_id, pii_text) relation —
    shared by the batch row and the streaming parity row (identical
    expressions in both execution modes)."""
    return planted.select(
        "doc_id",
        F.regexp_count(F.col("pii_text"), F.lit(EMAIL_RE))
        .cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("pii_text"), F.lit(PHONE_RE))
        .cast("bigint").alias("n_phones"),
        F.regexp_count(F.col("pii_text"), F.lit(IP_RE))
        .cast("bigint").alias("n_ips"),
        redact_pii(F.col("pii_text")).alias("redacted"),
    )


@register(
    "pii_redact",
    oracle=PII_ORACLE_SQL,
    description="PII scrub before training: count and redact emails / "
                "phone numbers / IPv4 addresses with patterns valid in "
                "both Java regex and RE2 (no backrefs/lookaround). Pure "
                "narrow map, zero shuffles, whole-stage codegen end to "
                "end. The synthetic corpus has no PII, so the row plants "
                "doc_id-derived PII identically in both engines first: "
                "odd ids get an email, % 4 == 0 a phone, % 3 == 0 an IP, "
                "and ids = 2 mod 4 with % 3 != 0 get none — so multi-hit, "
                "single-hit, and untouched documents are all exercised "
                "and hash-checked.",
    tags=("text", "curation"),
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select("doc_id", _planted_col().alias("pii_text"))
    return pii_projection(planted)


# ---------------------------------------------------------- decontaminate

#: word n-gram length for overlap detection (C4/Dolma-style pipelines use
#: 8-13 token n-grams on natural text; 4 fits this corpus' ~50-word docs
#: while keeping random collisions near zero)
DECON_N = 4
#: benchmark membership: every 13th doc stands in for a held-out eval set
DECON_MOD = 13
#: docs sharing at least this many distinct benchmark n-grams are flagged
#: as contaminated (1-2 shared grams can be phrase coincidence; sustained
#: overlap is a leaked eval document)
DECON_FLAG_MIN = 3

# the ONE oracle n-gram generator lives in text.py (r11 review: this
# was a hand copy that had to track three siblings)
_G4_SQL = gram_sql(DECON_N)


#: the decontaminate batch oracle — shared with the streaming parity row
#: (stream_decontaminate_equiv): a stream-static join + aggregation over
#: bounded input must produce the identical relation
DECON_ORACLE_SQL = f"""
    WITH w AS (
      SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    g AS (
      SELECT doc_id, {_G4_SQL} AS gg FROM w),
    ex AS (SELECT doc_id, unnest(gg) AS ng FROM g),
    bn AS (SELECT DISTINCT ng FROM ex WHERE doc_id % {DECON_MOD} = 0)
    SELECT ex.doc_id,
           CAST(count(*) AS BIGINT) AS shared_ngrams,
           CAST(CASE WHEN count(*) >= {DECON_FLAG_MIN} THEN 1 ELSE 0 END
                AS BIGINT) AS flagged
    FROM ex JOIN bn USING (ng)
    WHERE ex.doc_id % {DECON_MOD} <> 0
    GROUP BY ex.doc_id
    """


def decon_grams(df: DataFrame) -> DataFrame:
    """(doc_id, gg): distinct word DECON_N-grams of a documents relation —
    a pure narrow map, valid on batch and streaming inputs alike."""
    w = df.select("doc_id", words_col().alias("ws"))
    return w.select(
        "doc_id",
        F.array_distinct(adjacent_grams("ws", DECON_N)).alias("gg"),
    )


def decon_count(corpus_hits: DataFrame) -> DataFrame:
    """Per-doc overlap count + flag over the matched (doc_id, ng) rows."""
    shared = F.count("*").cast("bigint")
    return corpus_hits.groupBy("doc_id").agg(
        shared.alias("shared_ngrams"),
        F.when(shared >= DECON_FLAG_MIN, 1).otherwise(0)
        .cast("bigint").alias("flagged"),
    )


@register(
    "decontaminate",
    oracle=DECON_ORACLE_SQL,
    description="Benchmark decontamination: corpus docs sharing distinct "
                "word 4-grams with a held-out benchmark set (docs with "
                "doc_id % 13 == 0 stand in for an eval suite) are "
                "reported with their overlap count and a flagged bit at "
                ">= 3 shared grams. Corpus side is a narrow map (split + "
                "zip_with n-grams, exploded map-side); the benchmark "
                "n-gram set broadcasts (eval suites are tiny vs a 100 TB "
                "corpus), so the broadcast join filters on the map side "
                "and only MATCHED (doc, gram) rows — contamination "
                "volume, not corpus volume — shuffle into the per-doc "
                "count.",
    tags=("text", "curation", "dedup"),
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_decon_spark_sql())


def _decon_spark_sql() -> str:
    """The decontaminate query as one spark.sql string: the r6-r7
    Column composition cost ~1,300 py4j round-trips per plan build (the
    zip_with/slice n-gram chain -- SCALE.md "Plan-build vs execute
    split"); one spark.sql call costs ~20."""
    ws = words_spark_sql()  # the ONE tokenizer spelling (text.py)
    # the ONE n-gram spelling too (r13: this chain was a second live
    # copy of text.grams_spark_sql)
    gg = f"array_distinct({grams_spark_sql('ws', DECON_N)})"
    return f"""
    WITH w AS (SELECT doc_id, {ws} AS ws FROM documents),
    g AS (SELECT doc_id, {gg} AS gg FROM w),
    ex AS (SELECT doc_id, explode(gg) AS ng FROM g),
    bn AS (SELECT DISTINCT ng FROM ex WHERE doc_id % {DECON_MOD} = 0)
    SELECT /*+ BROADCAST(bn) */ ex.doc_id,
           CAST(count(*) AS BIGINT) AS shared_ngrams,
           CAST(CASE WHEN count(*) >= {DECON_FLAG_MIN} THEN 1 ELSE 0 END
                AS BIGINT) AS flagged
    FROM ex JOIN bn USING (ng)
    WHERE ex.doc_id % {DECON_MOD} != 0
    GROUP BY ex.doc_id
    """


def decon_bench_ngrams(g: DataFrame) -> DataFrame:
    """Distinct benchmark n-grams of a decon_grams relation (the
    broadcast side) -- shared by the stream-static parity row and the
    stage tool so the split/explode assembly cannot drift (r8 review)."""
    return (
        g.where(F.col("doc_id") % DECON_MOD == 0)
        .select(F.explode("gg").alias("ng"))
        .distinct()
    )


def decon_corpus_grams(g: DataFrame) -> DataFrame:
    """Exploded (doc_id, ng) rows of the NON-benchmark corpus side -- the
    probe relation of the broadcast join. Split out of
    :func:`decon_corpus_hits` so the corpus-scan stage can be timed on
    its own as the production relation, not a hand-rolled replica
    (SCALE.md "decontaminate stage breakdown at ~sf10")."""
    return g.where(~(F.col("doc_id") % DECON_MOD == 0)).select(
        "doc_id", F.explode("gg").alias("ng")
    )


def decon_corpus_hits(g: DataFrame, bench_ngrams: DataFrame) -> DataFrame:
    """Matched (doc_id, ng) rows of the non-benchmark corpus against the
    broadcast benchmark set -- the input decon_count aggregates."""
    return decon_corpus_grams(g).join(F.broadcast(bench_ngrams), "ng")


# ------------------------------------------------------ quality_filter_c4

#: C4-style heuristic gate (Raffel et al. 2020, "Exploring the Limits of
#: Transfer Learning", appendix C4 rules): terminal punctuation, >= 3
#: sentences, no curly brace, no "lorem ipsum", word-count bounds.
C4_MIN_SENTENCES = 3
C4_MIN_WORDS = 10
C4_MAX_WORDS = 100_000

#: the synthetic corpus is unpunctuated word salad, so (as with
#: pii_redact's planted PII) the row plants sentence structure / braces /
#: lorem-ipsum deterministically from doc_id, identically in both engines:
#: doc_id % 3 == 0 gains three punctuated sentences, % 5 == 0 a brace,
#: % 7 == 0 a lorem-ipsum fragment -- so every rule fires on some rows and
#: stays silent on others, all under the hash check.
_C4_SENTS = " First sentence ends here. Second one too! Third, yes?"
_C4_BRACE = " config { unbalanced"
_C4_LOREM = " Lorem Ipsum dolor sit amet"


def _c4_planted_sql() -> str:
    return (
        "text"
        f" || CASE WHEN doc_id % 3 = 0 THEN '{_C4_SENTS}' ELSE '' END"
        f" || CASE WHEN doc_id % 5 = 0 THEN '{_C4_BRACE}' ELSE '' END"
        f" || CASE WHEN doc_id % 7 = 0 THEN '{_C4_LOREM}' ELSE '' END"
    )


def _c4_planted_col() -> Column:
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.lit(_C4_SENTS)).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(_C4_BRACE)).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit(_C4_LOREM)).otherwise(F.lit("")),
    )


_C4_WORDS_SQL = ("list_filter(regexp_split_to_array(pt, "
                 f"{sql_str_literal(WS_RE, 'duck')}), w -> w <> '')")


@register(
    "quality_filter_c4",
    oracle=f"""
    WITH p AS (SELECT doc_id, {_c4_planted_sql()} AS pt FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(pt, '[.!?]')) AS BIGINT)
               AS n_sentences,
             CAST(len({_C4_WORDS_SQL}) AS BIGINT) AS n_words,
             CAST(CASE WHEN contains(pt, '{{') THEN 1 ELSE 0 END AS BIGINT)
               AS has_brace,
             CAST(CASE WHEN contains(lower(pt), 'lorem ipsum') THEN 1
                  ELSE 0 END AS BIGINT) AS has_lorem,
             CAST(CASE WHEN right(rtrim(pt), 1) IN ('.', '!', '?') THEN 1
                  ELSE 0 END AS BIGINT) AS ends_terminal
      FROM p)
    SELECT doc_id, n_sentences, n_words, has_brace, has_lorem,
           ends_terminal,
           CAST(CASE WHEN n_sentences >= {C4_MIN_SENTENCES}
                      AND n_words BETWEEN {C4_MIN_WORDS} AND {C4_MAX_WORDS}
                      AND has_brace = 0 AND has_lorem = 0
                      AND ends_terminal = 1
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM m
    """,
    description="C4-style heuristic quality gate (terminal punctuation, "
                ">= 3 sentences, no '{', no 'lorem ipsum', word-count "
                "bounds), reporting each rule's verdict plus the combined "
                "keep bit. Pure narrow map -- regexp_count / contains / "
                "split, zero shuffles, whole-stage codegen; at 100 TB this "
                "is a pass-through filter stage. The unpunctuated "
                "synthetic corpus gets doc_id-derived sentence/brace/"
                "lorem plants (pii_redact pattern) so every rule branch "
                "is exercised under the hash check.",
    tags=("text", "curation", "quality"),
    driver_slot=False,
)
def quality_filter_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select("doc_id", _c4_planted_col().alias("pt"))
    pt = F.col("pt")
    bit = lambda c: F.when(c, 1).otherwise(0).cast("bigint")  # noqa: E731
    m = p.select(
        "doc_id",
        F.regexp_count(pt, F.lit("[.!?]")).cast("bigint").alias("n_sentences"),
        F.size(words_col("pt")).cast("bigint").alias("n_words"),
        bit(F.instr(pt, "{") > 0).alias("has_brace"),
        bit(F.instr(F.lower(pt), "lorem ipsum") > 0).alias("has_lorem"),
        bit(F.substring(F.rtrim(pt), -1, 1).isin(".", "!", "?"))
        .alias("ends_terminal"),
    )
    return m.select(
        "*",
        bit(
            (F.col("n_sentences") >= C4_MIN_SENTENCES)
            & F.col("n_words").between(C4_MIN_WORDS, C4_MAX_WORDS)
            & (F.col("has_brace") == 0)
            & (F.col("has_lorem") == 0)
            & (F.col("ends_terminal") == 1)
        ).alias("keep"),
    )


# ------------------------------------------------------- unigram_logprob

#: keep documents whose mean per-token unigram log-probability is above
#: this (micro-units of natural log). The synthetic corpus draws from a
#: ~30-word vocabulary, so per-doc means cluster near ln(1/30) ~ -3.4;
#: -3.402 sits at the observed median so the keep bit splits the corpus
#: and both branches are hash-checked. The standard perplexity-filter
#: stage of a pre-training pipeline, with the corpus's own unigram
#: distribution standing in for the external LM (KenLM-style models are
#: not in this sandbox; the dataflow -- tiny broadcast model, two hash
#: aggregates -- is identical).
LP_KEEP_MIN_MICRO = -3_402_000

_LWORDS = _LWORDS_SQL  # the one lowered-word spelling (r11 review)

#: shared by unigram_logprob and the r17 streaming-parity row
#: (stream_lm_filter_equiv) -- one oracle spelling, like PII_ORACLE_SQL
UNIGRAM_ORACLE_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_LWORDS}) AS w FROM documents),
    model AS (
      SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
    n AS (SELECT SUM(cnt) AS n_total FROM model),
    lp AS (
      SELECT w,
             CAST(floor(ln(CAST(cnt AS DOUBLE) / n_total) * 1e6 + 0.5)
                  AS BIGINT) AS lp_micro
      FROM model CROSS JOIN n)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(lp_micro) AS BIGINT) AS sum_lp_micro,
           CAST(CASE WHEN SUM(lp_micro) >= {LP_KEEP_MIN_MICRO} * COUNT(*)
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM toks JOIN lp USING (w)
    GROUP BY doc_id
    """


def lm_toks(docs: DataFrame) -> DataFrame:
    """The (doc_id, lowered word) token stream both LM-filter stages
    consume -- one spelling so the fit side and the scoring side (and
    the batch vs streaming inputs of the r17 parity row) can never
    tokenize differently."""
    return docs.select("doc_id", F.explode(lwords_col()).alias("w"))


def lm_unigram_lp(toks: DataFrame) -> DataFrame:
    """Fit the unigram LM over a token stream: the (w, lp_micro)
    broadcast model relation. Barriered (lazy localCheckpoint) because
    it feeds both the corpus total and the scoring join."""
    model = toks.groupBy("w").agg(
        F.count("*").alias("cnt")
    ).localCheckpoint(eager=False)
    # corpus total from the model, NOT a second token-stream scan
    total = model.agg(F.sum("cnt").alias("n_total"))
    lp_micro = F.floor(
        F.log(F.col("cnt").cast("double") / F.col("n_total")) * 1e6 + 0.5
    ).cast("bigint")
    return model.crossJoin(F.broadcast(total)).select(
        "w", lp_micro.alias("lp_micro"))


def lm_unigram_score(toks: DataFrame, lp: DataFrame) -> DataFrame:
    """Score a token stream under a fitted (w, lp_micro) model: per-doc
    token count, exact integer log-prob sum, and the multiplied-through
    keep bit. ``toks`` may be a STREAMING relation -- the model side
    broadcasts per micro-batch (the stream-static join shape) and the
    groupBy is a complete-mode stateful aggregation."""
    summed = F.sum("lp_micro").cast("bigint")
    return (
        toks.join(F.broadcast(lp), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            summed.alias("sum_lp_micro"),
            F.when(summed >= F.lit(LP_KEEP_MIN_MICRO) * F.count("*"), 1)
            .otherwise(0).cast("bigint").alias("keep"),
        )
    )


@register(
    "unigram_logprob",
    oracle=UNIGRAM_ORACLE_SQL,
    description="Perplexity-proxy filter: per-document sum of unigram "
                "log-probabilities under the corpus's own unigram LM, "
                "with a keep bit on the mean-per-token threshold (the "
                "KenLM-quality-filter dataflow with the corpus as its own "
                "model). Two shuffles total: the vocabulary count "
                "(map-side partial agg on the token) and the per-doc sum; "
                "the fitted model BROADCASTS back onto the token stream "
                "(vocabulary ~ 10^6 rows regardless of corpus size -- at "
                "100 TB, truncate to top-V with an OOV floor, or swap in "
                "the count-min sketch from operators.sketch, same plan "
                "shape). Log-probs quantized to integer micro-units so "
                "sums are exact BIGINTs; the keep test multiplies through "
                "by the token count instead of dividing, staying in exact "
                "integer arithmetic. Known residual (r8 review): the "
                "quantization floors ln(p)*1e6+0.5 from each engine's "
                "libm (JVM Math.log is 1-ulp-accurate, glibc correctly "
                "rounded), so a word landing within ~1 ulp of a .5 "
                "boundary could differ by one micro-unit -- ~1e-9 per "
                "word, unbounded only in principle; unlike summation "
                "order this cannot be closed client-side without "
                "reimplementing ln.",
    tags=("text", "curation", "quality"),
    driver_slot=False,
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fit + score over the same token stream, via the shared helpers
    # the streaming parity row reuses (r17: one spelling, no drift)
    toks = lm_toks(load_table(spark, sf_dir, "documents"))
    return lm_unigram_score(toks, lm_unigram_lp(toks))


# ------------------------------------------------------- bigram_logprob

#: Jelinek-Mercer interpolation weight on the bigram term:
#: p(w|v) = LAM * c(v,w)/c(v.) + (1-LAM) * c(w)/N. 0.75 and its
#: complement 0.25 are BINARY-EXACT doubles, so the interpolated
#: probability is the same IEEE value in both engines given the same
#: operation order (the only cross-engine float residue stays the
#: documented 1-ulp ln() difference the unigram row carries).
BIGRAM_LAM = 0.75
#: keep documents whose mean per-token interpolated log-probability is
#: above this (micro-units of natural ln). Set at the observed sf0.01
#: median (r16) so the keep bit splits the corpus and both branches are
#: hash-checked -- the unigram row's thresholding discipline.
BIGRAM_KEEP_MIN_MICRO = -3_390_000


def lm_bigram_base(docs: DataFrame) -> DataFrame:
    """(doc_id, ws) word-array relation the bigram stages consume —
    shared by the fit side, the scoring side, and the r17 streaming
    parity row (the lm_toks discipline, one order up)."""
    return docs.select("doc_id", lwords_col().alias("ws")).where(
        F.size("ws") > 0)


def lm_bigram_pairs(base: DataFrame) -> DataFrame:
    """(doc_id, v, w) adjacent-pair stream via zip_with over array
    slices — no window, no pairing shuffle."""
    return (
        base.where(F.size("ws") > 1)
        .select("doc_id", F.explode(F.expr(
            "zip_with(slice(ws, 1, size(ws) - 1), "
            "slice(ws, 2, size(ws) - 1), "
            "(a, b) -> struct(a AS v, b AS w))")).alias("g"))
        .select("doc_id", F.col("g.v").alias("v"), F.col("g.w").alias("w"))
    )


def lm_bigram_models(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fit the interpolated bigram LM over a (doc_id, ws) relation:
    returns ``(lpu, lpb)`` — the (w, lp) unigram and (v, w, lp) bigram
    micro-log-prob model relations. Both fitted aggregates are
    barriered (lazy localCheckpoint): each feeds two+ downstream
    references and would otherwise re-run its token-stream aggregation
    per reference."""
    toks = base.select("doc_id", F.explode("ws").alias("w"))
    bi = lm_bigram_pairs(base)
    uni = toks.groupBy("w").agg(F.count("*").alias("cw")) \
        .localCheckpoint(eager=False)
    total = uni.agg(F.sum("cw").alias("n_total"))
    bim = bi.groupBy("v", "w").agg(F.count("*").alias("cvw")) \
        .localCheckpoint(eager=False)
    ctx = bim.groupBy("v").agg(F.sum("cvw").alias("cv"))
    lp_bi = F.floor(
        F.log(F.lit(BIGRAM_LAM) * F.col("cvw").cast("double") / F.col("cv")
              + F.lit(1.0 - BIGRAM_LAM) * F.col("cw").cast("double")
              / F.col("n_total")) * 1e6 + 0.5
    ).cast("bigint")
    lpb = (bim.join(ctx, "v").join(uni, "w")
           .crossJoin(F.broadcast(total))
           .select("v", "w", lp_bi.alias("lp")))
    lp_uni = F.floor(
        F.log(F.col("cw").cast("double") / F.col("n_total")) * 1e6 + 0.5
    ).cast("bigint")
    lpu = uni.crossJoin(F.broadcast(total)).select("w", lp_uni.alias("lp"))
    return lpu, lpb


def lm_bigram_score(base: DataFrame, lpu: DataFrame,
                    lpb: DataFrame) -> DataFrame:
    """Score a (doc_id, ws) relation under fitted (lpu, lpb) models:
    first token under the broadcast unigram model, the rest under the
    (deliberately unhinted) bigram model, exact integer micro sums and
    the multiplied-through keep bit. ``base`` may be STREAMING — the
    static models broadcast/join per micro-batch and the per-doc
    groupBy runs as a complete-mode stateful aggregation."""
    firsts = base.select("doc_id", F.col("ws").getItem(0).alias("w"))
    scored = (
        firsts.join(F.broadcast(lpu), "w").select("doc_id", "lp")
        .unionByName(
            lm_bigram_pairs(base).join(lpb, ["v", "w"])
            .select("doc_id", "lp"))
    )
    summed = F.sum("lp").cast("bigint")
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        summed.alias("sum_lp_micro"),
        F.when(summed >= F.lit(BIGRAM_KEEP_MIN_MICRO) * F.count("*"), 1)
        .otherwise(0).cast("bigint").alias("keep"),
    )


#: shared by bigram_logprob and the r17 streaming-parity row
BIGRAM_ORACLE_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_LWORDS} AS ws FROM documents
      WHERE len({_LWORDS}) > 0),
    toks AS (SELECT doc_id, unnest(ws) AS w FROM base),
    uni AS (SELECT w, COUNT(*) AS cw FROM toks GROUP BY w),
    n AS (SELECT SUM(cw) AS n_total FROM uni),
    bi AS (SELECT doc_id,
                  unnest(ws[1:len(ws)-1]) AS v,
                  unnest(ws[2:len(ws)]) AS w
           FROM base WHERE len(ws) > 1),
    bim AS (SELECT v, w, COUNT(*) AS cvw FROM bi GROUP BY v, w),
    ctx AS (SELECT v, SUM(cvw) AS cv FROM bim GROUP BY v),
    lpb AS (
      SELECT v, w,
             CAST(floor(ln({BIGRAM_LAM} * CAST(cvw AS DOUBLE) / cv
                           + {1.0 - BIGRAM_LAM} * CAST(cw AS DOUBLE)
                             / n_total) * 1e6 + 0.5) AS BIGINT) AS lp
      FROM bim JOIN ctx USING (v) JOIN uni USING (w) CROSS JOIN n),
    lpu AS (
      SELECT w,
             CAST(floor(ln(CAST(cw AS DOUBLE) / n_total) * 1e6 + 0.5)
                  AS BIGINT) AS lp
      FROM uni CROSS JOIN n),
    firsts AS (SELECT doc_id, ws[1] AS w FROM base),
    scored AS (
      SELECT doc_id, lp FROM firsts JOIN lpu USING (w)
      UNION ALL
      SELECT doc_id, lp FROM bi JOIN lpb USING (v, w))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(lp) AS BIGINT) AS sum_lp_micro,
           CAST(CASE WHEN SUM(lp) >= {BIGRAM_KEEP_MIN_MICRO} * COUNT(*)
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM scored GROUP BY doc_id
    """


@register(
    "bigram_logprob",
    oracle=BIGRAM_ORACLE_SQL,
    description="KenLM-style quality filter, one order up from "
                "unigram_logprob: per-document sum of INTERPOLATED "
                "BIGRAM log-probabilities under the corpus's own LM "
                "(Jelinek-Mercer: p(w|v) = 0.75 c(v,w)/c(v.) + 0.25 "
                "c(w)/N -- the first token scores under the unigram "
                "model), keep bit on the mean-per-token threshold. The "
                "bigram stream is built JVM-side with zip_with over two "
                "array slices (no window, no shuffle for pairing); the "
                "context totals derive from the bigram model itself "
                "(groupBy v over c(v,w) -- no extra corpus scan), and "
                "the per-(v,w) model joins back WITHOUT a broadcast "
                "hint: unlike the O(V) unigram table the bigram table "
                "is O(min(V^2, tokens)) and at 100 TB belongs in a "
                "shuffle join (AQE still broadcasts it when small, as "
                "here). The UNIGRAM table (lpu) IS broadcast-hinted for "
                "the first-token join: O(V) rows like unigram_logprob's "
                "-- natural-language vocabularies plateau in the tens "
                "of millions (~hundreds of MB as (token, int64)), "
                "inside executor broadcast budgets; a pathological "
                "unbounded-vocabulary corpus should drop that one hint "
                "and let the join shuffle (same documented posture as "
                "unigram_logprob). Log-probs quantized to integer "
                "micro-units; "
                "0.75/0.25 are binary-exact doubles so the only "
                "cross-engine float residue is the unigram row's "
                "documented 1-ulp ln() boundary case. Empty documents "
                "(no tokens) are excluded by both engines.",
    tags=("text", "curation", "quality"),
    driver_slot=False,
)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fit + score over the same relation, via the shared helpers the
    # streaming parity row reuses (r17: one spelling, no drift)
    base = lm_bigram_base(load_table(spark, sf_dir, "documents"))
    lpu, lpb = lm_bigram_models(base)
    return lm_bigram_score(base, lpu, lpb)


# ----------------------------------------------------------- dedup_spans

#: word n-gram length for the duplicated-span profile. Exact substring
#: dedup (the suffix-array pass of Lee et al. 2022, "Deduplicating
#: Training Data Makes Language Models Better") marks spans that recur
#: verbatim anywhere in the corpus; the distributed analog fingerprints
#: every adjacent SPAN_N-gram and marks grams seen in >= 2 documents.
SPAN_N = 5
#: docs with more than half their grams duplicated elsewhere are flagged
SPAN_FLAG_MICRO = 500_000




@register(
    "dedup_spans",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    g AS (SELECT doc_id, {gram_sql(SPAN_N)} AS gg FROM w),
    t AS (SELECT doc_id, CAST(len(gg) AS BIGINT) AS n_grams FROM g),
    ex AS (SELECT doc_id, {h60_sql('ng')} AS gh
           FROM (SELECT doc_id, unnest(gg) AS ng FROM g)),
    dup AS (SELECT gh FROM ex GROUP BY gh HAVING COUNT(*) >= 2),
    dc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_grams
           FROM ex JOIN dup USING (gh) GROUP BY doc_id)
    SELECT t.doc_id, t.n_grams,
           COALESCE(dc.dup_grams, 0) AS dup_grams,
           CAST(CASE WHEN t.n_grams = 0 THEN 0
                ELSE COALESCE(dc.dup_grams, 0) * 1000000 // t.n_grams
                END AS BIGINT) AS dup_frac_micro,
           CAST(CASE WHEN t.n_grams > 0
                      AND COALESCE(dc.dup_grams, 0) * 1000000
                          >= {SPAN_FLAG_MICRO} * t.n_grams
                THEN 1 ELSE 0 END AS BIGINT) AS flagged
    FROM t LEFT JOIN dc USING (doc_id)
    """,
    description=f"Duplicated-span profile (the distributed analog of "
                "suffix-array substring dedup, Lee et al. 2022): every "
                f"adjacent word {SPAN_N}-gram is fingerprinted to a 60-bit "
                "hash map-side (zip_with grams, NO explode-to-string "
                "shuffle -- only int64 hashes ever shuffle); grams "
                "appearing in >= 2 documents mark their spans duplicated, "
                "and each doc reports its duplicated-gram fraction plus a "
                "flag at >= 50%. Shuffle volume is one int64 per distinct "
                "(doc, gram) -- at 100 TB add a winnowing stride "
                "(text_fingerprint) to sample grams instead of keeping "
                "all, same plan. The flag comparison multiplies through "
                "by n_grams: exact integer arithmetic, no doubles.",
    tags=("text", "curation", "dedup"),
    driver_slot=False,
)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", words_col().alias("ws"))
    g = w.select(
        "doc_id",
        F.array_distinct(adjacent_grams("ws", SPAN_N)).alias("gg"),
    )
    # materialize the fingerprint stream ONCE (lazy localCheckpoint): it
    # feeds three consumers (dup-gram counts, the hit join, per-doc
    # totals), and without a barrier each re-runs the corpus scan +
    # gram build -- 3 full scans for one operator. This is the standard
    # "write the fingerprint table" step of substring dedup; blocks free
    # on GC like the minhash/simhash signature barriers. explode_outer +
    # the carried n_grams keep zero-gram docs (shorter than SPAN_N words)
    # in the relation as a single NULL-hash row, so per-doc totals stay
    # complete without a second corpus scan.
    ex = g.select(
        "doc_id",
        F.size("gg").cast("bigint").alias("n_grams"),
        F.explode_outer("gg").alias("ng"),
    ).select(
        "doc_id", "n_grams", h60(F.col("ng")).alias("gh")
    ).localCheckpoint(eager=False)
    t = ex.groupBy("doc_id").agg(F.max("n_grams").alias("n_grams"))
    hits = ex.where(F.col("gh").isNotNull())
    dup = hits.groupBy("gh").agg(F.count("*").alias("nd")).where(
        F.col("nd") >= 2
    ).select("gh")
    dc = hits.join(dup, "gh").groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("dup_grams")
    )
    dg = F.coalesce(F.col("dup_grams"), F.lit(0).cast("bigint"))
    return (
        t.join(dc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            dg.alias("dup_grams"),
            F.when(F.col("n_grams") == 0, 0)
            .otherwise(F.expr("coalesce(dup_grams, 0) * 1000000 div n_grams"))
            .cast("bigint").alias("dup_frac_micro"),
            F.when(
                (F.col("n_grams") > 0)
                & (dg * 1_000_000 >= F.lit(SPAN_FLAG_MICRO) * F.col("n_grams")),
                1,
            ).otherwise(0).cast("bigint").alias("flagged"),
        )
    )


# ------------------------------------------------------ curation_pipeline

#: token-count gate for the composed pipeline (the text_profile rule's
#: length component)
PIPE_MIN_TOKENS = 10
PIPE_MAX_TOKENS = 1000


def _pipeline_oracle() -> str:
    from .sampling import _temp_sql
    from ..functions.hashing import h60_sql as _h60

    temp = _temp_sql(_h60("CAST(doc_id AS VARCHAR)"))
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, source,
             CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
      FROM documents),
    canon AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                    THEN 1 ELSE 0 END AS c
        FROM documents) WHERE c = 1),
    contaminated AS (
      SELECT doc_id FROM ({DECON_ORACLE_SQL}) WHERE flagged = 1),
    sampled AS (
      SELECT doc_id FROM ({temp}) WHERE kept = 1)
    SELECT t.doc_id, t.lang, t.source, t.n_tokens
    FROM tok t
    JOIN canon USING (doc_id)
    JOIN sampled USING (doc_id)
    LEFT JOIN contaminated c ON c.doc_id = t.doc_id
    WHERE c.doc_id IS NULL
      AND t.doc_id % {DECON_MOD} <> 0
      AND t.n_tokens BETWEEN {PIPE_MIN_TOKENS} AND {PIPE_MAX_TOKENS}
    """


@register(
    "curation_pipeline",
    oracle=_pipeline_oracle(),
    description="The composed keep-list a training run actually consumes: "
                "token-length gate AND exact-dedup canonical AND not "
                "benchmark-contaminated (and not itself a benchmark doc) "
                "AND surviving language-balanced temperature sampling -- "
                "four independently-verified stages (text_profile's length "
                "rule, dedup_exact, decontaminate, lang_temperature_sample) "
                "composed into one relation and hash-checked end to end. "
                "Composition cost is three doc_id hash-joins over "
                "already-reduced keep-lists (each stage's filter runs "
                "map-side before its join); at 100 TB the stages run as "
                "one pipeline over a shared scan, and every stage's "
                "individual scale argument (SCALE.md) carries over "
                "unchanged. Promoted to a driver-oracle row in r6 (slot "
                "from sessionize, whose lag+cumsum mechanics remain the "
                "oracle of both session-window rows).",
    tags=("curation", "pipeline"),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dedup_exact
    from .sampling import lang_temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", "source",
        F.size(words_col()).cast("bigint").alias("n_tokens"),
    )
    canon = dedup_exact(spark, sf_dir).where(
        F.col("is_canonical") == 1
    ).select("doc_id")
    contaminated = decontaminate(spark, sf_dir).where(
        F.col("flagged") == 1
    ).select("doc_id")
    sampled = lang_temperature_sample(spark, sf_dir).where(
        F.col("kept") == 1
    ).select("doc_id")
    return (
        tok.join(canon, "doc_id")
        .join(sampled, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .where(
            (F.col("doc_id") % DECON_MOD != 0)
            & F.col("n_tokens").between(PIPE_MIN_TOKENS, PIPE_MAX_TOKENS)
        )
        .select("doc_id", "lang", "source", "n_tokens")
    )
