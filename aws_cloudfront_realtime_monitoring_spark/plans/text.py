r"""Text-analysis operators over the ``documents`` table (driver-mandated
training-data-pipeline extensions): token counting, language-ID heuristic,
quality scoring, winnowing fingerprints.

All hot-path logic is built-in Catalyst array/string expressions (no Python
UDFs): per-document work is a narrow map over the corpus, so the operators
scale embarrassingly -- no shuffle except the final (tiny) aggregations.
Hashing uses the engine-portable md5-derived h60 (functions.hashing) so every
query has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import register

#: BPE-ish token pattern: letter runs, digit runs, single non-alnum
#: glyphs. The whitespace class is spelled EXPLICITLY (same discipline
#: as WS_RE below): a bare \s is Java's class in Spark (includes \x0B)
#: but RE2's in the DuckDB oracle (excludes it), so a vertical tab in a
#: document would make n_bpe_tokens diverge across engines (r8 review).
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0B]"

STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "was", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"],
}
#: deterministic tie-break priority
LANG_ORDER = ["en", "es", "fr", "de"]


#: Whitespace split written to the Java-regex/RE2/Python common subset
#: (the same discipline as curation's PII patterns): Java's \s includes
#: \x0B (vertical tab) but RE2's does not, and Python's str.split() adds
#: all of Unicode whitespace -- so a bare `\s+` silently diverges between
#: Spark, the DuckDB oracle, and Python-replica tests on edge-case text.
#: One regex source (Python ``re`` reads it as is); :func:`sql_str_literal`
#: spells it inside each engine's SQL string literals.
WS_RE = "[ \\t\\n\\r\\f\\x0b]+"


def sql_str_literal(s: str, dialect: str) -> str:
    """``s`` as a quoted SQL string literal: Spark's parser unescapes
    backslashes inside literals, so they double; DuckDB's standard
    strings keep them as written and only double a quote. Regex text is
    all the engines share here, never a query's semantic core."""
    if dialect == "spark":
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if dialect == "duck":
        return "'" + s.replace("'", "''") + "'"
    raise ValueError(f"sql_str_literal: unknown dialect {dialect!r}")


def words_spark_sql(col: str = "text") -> str:
    """Whitespace-split word tokens of the SQL expression ``col``, empty
    tokens dropped -- the ONE home for the Spark tokenizer fragment
    (r13 review: four verbatim copies had grown across dedup/curation/
    sampling; a tokenizer change must land in one place or a builder
    silently forks from its own oracle)."""
    return f"filter(split({col}, {sql_str_literal(WS_RE, 'spark')}), w -> w != '')"


def words_col(col: str = "text") -> Column:
    """Column form of :func:`words_spark_sql`."""
    return F.expr(words_spark_sql(col))


_WORDS_SQL = ("list_filter(regexp_split_to_array(text, "
              f"{sql_str_literal(WS_RE, 'duck')}), w -> w <> '')")


def adjacent_grams(ws: str, n: int) -> Column:
    """Column form of :func:`grams_spark_sql` over the SQL word-array
    expression ``ws``."""
    return F.expr(grams_spark_sql(ws, n))


def grams_spark_sql(arr: str, n: int) -> str:
    """Adjacent word n-grams of the word-array expression ``arr``: zip
    the array against its shifted selves, a narrow map with no explode
    and no shuffle; zip_with pads the tail with NULLs and NULL-concat
    grams are filtered out. The ONE home for the n-gram fragment (r13
    review: dedup's trigram-shingle CTE and curation's decon chain were
    two more live spellings of the same invariant; like
    :func:`words_spark_sql`, a gram-shape change must land in one
    place or a builder silently forks from its own oracle)."""
    if n == 1:
        return arr
    joined = arr
    for k in range(1, n):
        shifted = f"slice({arr}, {k + 1}, greatest(size({arr}) - {k}, 0))"
        joined = (
            f"zip_with({joined}, {shifted}, (a, b) -> "
            "CASE WHEN a IS NULL OR b IS NULL THEN NULL "
            "ELSE concat(a, ' ', b) END)"
        )
    return f"filter({joined}, x -> x IS NOT NULL)"


def _lang_score_over(words_expr: str, lang: str) -> str:
    """Stopword-hit count over an already-materialized word-list column."""
    arr = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({words_expr}, w -> list_contains([{arr}], w)))"


def _langid_case_sql() -> str:
    # argmax with fixed priority order (ties resolve to the earlier language)
    best = "GREATEST(" + ", ".join(f"s_{l}" for l in LANG_ORDER) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'unknown' "
    for l in LANG_ORDER:
        case += f"WHEN s_{l} = {best} THEN '{l}' "
    return case + "END"


@register(
    "text_profile",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, length(text) AS n_chars,
             len(regexp_extract_all(text, {sql_str_literal(BPE_RE, 'duck')})) AS n_bpe_tokens,
             len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
             {_WORDS_SQL} AS words
      FROM documents),
    s AS (
      SELECT doc_id, lang, n_chars, n_bpe_tokens, n_punct,
             len(words) AS n_ws_tokens,
             -- COALESCE: list_sum([]) is NULL in DuckDB but F.aggregate's
             -- 0-init gives 0 in Spark for a zero-token document
             CAST(COALESCE(list_sum(list_transform(words, x -> length(x))), 0)
                  AS BIGINT) AS sum_word_len,
             {", ".join(f"{_lang_score_over('words', l)} AS s_{l}" for l in LANG_ORDER)}
      FROM w)
    SELECT doc_id, lang AS labeled_lang, n_chars, n_ws_tokens, n_bpe_tokens,
           {_langid_case_sql()} AS pred_lang,
           GREATEST({", ".join(f"s_{l}" for l in LANG_ORDER)}) AS top_score,
           sum_word_len, n_punct, s_en AS n_stop,
           CASE WHEN n_ws_tokens BETWEEN 10 AND 1000
                 AND s_en * 20 >= n_ws_tokens THEN 1 ELSE 0 END AS quality_pass
    FROM s
    """,
    description="Single-pass per-document text profile, merging token "
                "counting (whitespace + BPE-ish regex tokens), stopword-"
                "argmax language ID, and Gopher-style quality gating "
                "(length / punctuation / stopword-ratio thresholds). One "
                "narrow map over the corpus: the word array materializes "
                "once behind a projection barrier and every downstream "
                "column reads the attribute, so the tokenizer runs once "
                "per row, not once per output column.",
    tags=("text",),
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    # One spark.sql statement instead of three Column-composed selects
    # (r18, the cf_parse/simhash SQL-string precedent, guide §4): the
    # Column form's ~200 py4j round-trips (4 stopword arrays x 10
    # literals, HOF lambdas, the CASE chain) cost 0.28-0.55 s of
    # driver-side build latency per invocation -- >= 50% of this row's
    # wall -- while a SQL string parses JVM-side in one call with the
    # same analyzed plan (verified: exceptAll 0/0 both directions at
    # sf0.01/sf0.1 and the DuckDB oracle hash).
    register_views(spark, sf_dir)
    # rand() barrier: stops CollapseProject from re-inlining the split
    # into every consumer below (no CSE across HOF lambdas otherwise)
    scores = ", ".join(
        f"size(filter(words, x -> array_contains(array("
        + ", ".join(f"'{s}'" for s in STOPWORDS[l])
        + f"), x))) AS s_{l}"
        for l in LANG_ORDER
    )
    return spark.sql(f"""
        WITH base AS (
          SELECT doc_id, lang AS labeled_lang,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(size(regexp_extract_all(text, {sql_str_literal(BPE_RE, 'spark')}, 0)) AS BIGINT)
                   AS n_bpe_tokens,
                 CAST(size(regexp_extract_all(text, '[.,;:!?]', 0)) AS BIGINT)
                   AS n_punct,
                 {words_spark_sql()} AS words,
                 rand(7) AS __b1
          FROM documents),
        scored AS (
          SELECT doc_id, labeled_lang, n_chars, n_bpe_tokens, n_punct,
                 CAST(size(words) AS BIGINT) AS n_ws_tokens,
                 aggregate(words, CAST(0 AS BIGINT),
                           (acc, x) -> acc + length(x)) AS sum_word_len,
                 {scores}
          FROM base)
        SELECT doc_id, labeled_lang, n_chars, n_ws_tokens, n_bpe_tokens,
               {_langid_case_sql()} AS pred_lang,
               CAST(GREATEST({", ".join(f"s_{l}" for l in LANG_ORDER)})
                    AS BIGINT) AS top_score,
               sum_word_len, n_punct,
               CAST(s_en AS BIGINT) AS n_stop,
               CASE WHEN n_ws_tokens BETWEEN 10 AND 1000
                     AND s_en * 20 >= n_ws_tokens THEN 1 ELSE 0 END
                 AS quality_pass
        FROM scored
    """)


#: top-k terms kept per document in the TF-IDF ranking
TFIDF_TOPK = 3

#: lower() parity caveat: Spark lowercases with full Unicode semantics
#: (U+0130 'İ' -> 'i' + combining dot, context-aware final sigma) while
#: DuckDB's lower() applies simple mappings -- the two agree exactly on
#: ASCII (pinned by tests/test_text.py::test_lower_cross_engine_ascii)
#: and the synthetic corpus is ASCII. Multilingual case-folding is NOT
#: this fragment's job: that is text_normalize (NFKC + casefold, Arrow
#: pandas UDF), whose Python replica test carries the Unicode contract.
_LWORDS_SQL = ("list_filter(regexp_split_to_array(lower(text), "
               f"{sql_str_literal(WS_RE, 'duck')}), w -> w <> '')")


def lwords_col() -> Column:
    """Lowered word tokens as an array column, the Spark twin of
    ``_LWORDS_SQL`` (r11 review: text_tfidf_topk and curation's
    unigram_logprob each hand-spelled it; a whitespace-class fix in one
    would have forked the tokenizer between them)."""
    return F.expr(words_spark_sql("lower(text)"))


def gram_list_sql(n: int) -> str:
    """Adjacent word n-grams over a ``ws`` word-array column (DuckDB),
    duplicates KEPT -- repetition metrics need them. The ONE generator
    behind every oracle n-gram spelling (r11 review: four hand copies
    lived across text/curation)."""
    parts = " || ' ' || ".join(
        f"ws[i+{k}]" if k else "ws[i]" for k in range(n)
    )
    return f"list_transform(range(1, len(ws) - {n - 2}), i -> {parts})"


def gram_sql(n: int) -> str:
    """Distinct adjacent n-grams (the dedup/decontaminate shape)."""
    return f"list_distinct({gram_list_sql(n)})"


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest({_LWORDS_SQL}) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term),
    df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             CAST(tf AS BIGINT)
               * CAST(floor(ln(CAST(n_docs AS DOUBLE) / df) * 1e6 + 0.5) AS BIGINT)
               AS score_micro
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tf, df, score_micro,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY score_micro DESC, term) AS INTEGER) AS rnk
      FROM scored)
    SELECT doc_id, term, tf, df, score_micro, rnk
    FROM ranked WHERE rnk <= {TFIDF_TOPK}
    """,
    description=f"TF-IDF top-{TFIDF_TOPK} terms per document. Term "
                "frequencies partial-aggregate map-side before the "
                "(doc, term) shuffle; document frequencies come from a "
                "COUNT window over the term partition of the SAME tf "
                "relation -- no df relation, no tf-x-df join, one shuffle "
                "on term total; the corpus size joins as a broadcast "
                "scalar. idf is quantized to integer micro-units "
                "(floor(ln(N/df)*1e6+0.5)) so scores are exact BIGINTs -- "
                "order-stable across engines and partitionings -- and the "
                "per-doc top-k runs as a window rank with a deterministic "
                "term tiebreak. All shuffles hash-partitionable, skew "
                "handled by AQE.",
    tags=("text", "tfidf"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(lwords_col()).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df via a count window over term: one shuffle gives every tf row its
    # term's doc frequency -- cheaper than groupBy(term) + equi-join back
    df_w = F.count("*").over(W.partitionBy("term")).alias("df")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    with_df = tf.select("doc_id", "term", "tf", df_w)
    idf_micro = F.floor(
        F.log(F.col("n_docs").cast("double") / F.col("df")) * 1e6 + 0.5
    ).cast("bigint")
    scored = (
        with_df.crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", "tf", "df",
            (F.col("tf") * idf_micro).alias("score_micro"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_micro"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", "score_micro", "rnk")
    )


#: polynomial rolling-hash parameters for 8-gram fingerprints: base 131,
#: modulus 2^31-1 (HASH_PRIME). codepoint < 2^21 and coefficient < 2^31, so
#: every product stays < 2^52 and the 8-term sum < 2^55 -- exact in int64 on
#: both engines, no md5 per position (the md5 variant measured ~4 s at sf0.1;
#: this is pure integer arithmetic).
FP_BASE = 131
_FP_COEF = [pow(FP_BASE, 7 - k, 2_147_483_647) for k in range(8)]
_FP_MOD = 2_147_483_647

_FP_HASH_SQL = (
    "("
    + " + ".join(
        f"CAST(ascii(substr(text, CAST(i + {k} AS INTEGER), 1)) AS BIGINT) * {c}"
        for k, c in enumerate(_FP_COEF)
    )
    + f") % {_FP_MOD}"
)


@register(
    "text_fingerprint",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text) - 7, 0))) AS i
      FROM documents),
    grams AS (
      SELECT doc_id, i, {_FP_HASH_SQL} AS h
      FROM pos),
    wins AS (
      SELECT doc_id, i,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM grams)
    SELECT doc_id, COUNT(DISTINCT mh) AS n_fp, MIN(mh) AS min_fp, MAX(mh) AS max_fp
    FROM wins WHERE i <= n - 3
    GROUP BY doc_id
    """,
    description="Document fingerprinting via winnowing (Schleimer et al.): "
                "char-8-gram polynomial rolling hashes (base 131 mod 2^31-1, "
                "engine-portable integer arithmetic -- no per-position md5), "
                "min over each 4-window, distinct mins. Array-expression "
                "implementation -- per-doc narrow map, no shuffle. "
                "DEMOTED r15 (registry swap): its driver slot went to "
                "animated_frame_real_stats (APNG compositing under the "
                "hash discipline); this row stays hash-checked via "
                "load_demoted().",
    tags=("text", "fingerprint"),
    driver_slot=False,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # codepoints materialized ONCE per row; the rand() barrier stops
    # CollapseProject from re-inlining the split into every F.get below
    codes = F.transform(F.split("text", ""), lambda ch: F.ascii(ch).cast("bigint"))
    chars = docs.where(F.length("text") >= 11).select(
        "doc_id", codes.alias("cs"), F.rand(7).alias("__b1")
    )

    def gram_hash(i):  # i = 0-based start index into cs
        s = None
        for k, c in enumerate(_FP_COEF):
            term = F.get("cs", i + F.lit(k)) * F.lit(c)
            s = term if s is None else s + term
        return s % F.lit(_FP_MOD)

    hashes = F.transform(F.sequence(F.lit(0), F.size("cs") - 8), gram_hash)
    grams = chars.select("doc_id", hashes.alias("hs"), F.rand(7).alias("__b2"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - 3),
            lambda i: F.array_min(F.slice(F.col("hs"), i, 4)),
        )
    )
    return grams.select(
        "doc_id",
        F.size(fps).cast("bigint").alias("n_fp"),
        F.array_min(fps).alias("min_fp"),
        F.array_max(fps).alias("max_fp"),
    )


def _rep_frac_sql(lst: str) -> str:
    """DuckDB: 4-dp round-half-up excess fraction via exact integer
    arithmetic (see ``text_repetition``'s determinism note)."""
    return (
        f"CASE WHEN len({lst}) = 0 THEN 0.0 ELSE "
        f"((len({lst}) - len(list_distinct({lst}))) * 20000 + len({lst})) "
        f"// (2 * len({lst})) / 10000.0 END"
    )


@register(
    "text_repetition",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    g AS (
      SELECT doc_id, ws,
             {gram_list_sql(2)} AS g2,
             {gram_list_sql(3)} AS g3
      FROM w)
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           {_rep_frac_sql('ws')} AS dup_word_frac,
           {_rep_frac_sql('g2')} AS dup_2gram_frac,
           {_rep_frac_sql('g3')} AS dup_3gram_frac
    FROM g
    """,
    description="Within-document repetition profile -- the Gopher-family "
                "quality rule (Rae et al. 2021 A1.1: documents whose "
                "n-grams are mostly repeats are boilerplate/spam and get "
                "filtered before LLM training). Per doc, for n in {1,2,3}: "
                "the excess-occurrence fraction (total n-grams - distinct "
                "n-grams) / total. Pure Catalyst array expressions, a "
                "narrow map with ZERO shuffles -- the same plan shape as "
                "text_profile. Fractions are 4-dp round-half-up computed "
                "in exact BIGINT arithmetic then divided by 10000.0, so "
                "both engines produce bit-identical doubles (no reliance "
                "on either engine's float ROUND rule).",
    tags=("text", "quality"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promoted into the driver registry in r6 (previously pytest-only);
    oracle: DuckDB builds the same adjacent n-gram lists with
    list_transform over the word array."""
    from ..sources.tables import register_views

    # One spark.sql statement instead of Column composition (r18, the
    # text_profile/cf_parse precedent, guide §4): the zip_with gram
    # chains and the repeated excess-fraction arithmetic cost 0.22-0.40 s
    # of per-invocation py4j build latency (~50% of the row's wall);
    # the SQL string parses JVM-side in one call with identical plan
    # node shapes. Words still materialize once per row behind the
    # rand() CollapseProject barrier so the three gram sizes don't each
    # re-split the text.
    register_views(spark, sf_dir)

    def excess_frac(g: str) -> str:
        # 4-dp round-half-up via exact integers: micro = (dup*20000 + total)
        # div (2*total). Operands stay < 2^31, so the double division inside
        # floor() is exact (an integer quotient divides exactly; a non-
        # integer one sits >= 1/(2*total) from the boundary, far beyond one
        # ulp). micro/10000.0 is then ONE correctly-rounded IEEE op on
        # identical integers in both engines -> bit-identical doubles.
        total = f"CAST(size({g}) AS BIGINT)"
        dup = f"({total} - CAST(size(array_distinct({g})) AS BIGINT))"
        micro = f"FLOOR(({dup} * 20000 + {total}) / ({total} * 2))"
        return (
            f"CASE WHEN {total} = 0 THEN CAST(0.0 AS DOUBLE) "
            f"ELSE {micro} / CAST(10000.0 AS DOUBLE) END"
        )

    return spark.sql(f"""
        WITH w AS (
          SELECT doc_id, {words_spark_sql()} AS ws, rand(11) AS __b
          FROM documents)
        SELECT doc_id,
               CAST(size(ws) AS BIGINT) AS n_words,
               {excess_frac('ws')} AS dup_word_frac,
               {excess_frac(grams_spark_sql('ws', 2))} AS dup_2gram_frac,
               {excess_frac(grams_spark_sql('ws', 3))} AS dup_3gram_frac
        FROM w
    """)


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization for training corpora: NFKC (full-width forms,
    ligatures, compatibility chars fold to canonical equivalents) +
    casefold + whitespace collapse — the standard pre-dedup canonicalization
    pass (and the textbook case FOR the Arrow path: Spark SQL has no
    unicode-normalize builtin, so this is semantics Catalyst cannot
    express, done as a vectorized pandas UDF rather than a per-row Python
    UDF; pandas' .str.normalize is C-backed over Arrow batches).

    Narrow map, zero shuffles. Pytest-pinned against an independent
    ``unicodedata`` replica plus planted ligature/full-width/combining
    cases (outside the 50-row oracle budget; DuckDB's nfc_normalize only
    covers NFC, so an exact cross-engine oracle would weaken the op to
    NFC anyway).
    """
    import pandas as pd

    def _fold(s):
        return (
            s.str.normalize("NFKC")
            .str.casefold()
            .str.replace(r"\s+", " ", regex=True)
            .str.strip()
        )

    # evaluated annotations set explicitly: this module's
    # `from __future__ import annotations` would stringify inline hints,
    # which pandas_udf's signature inference rejects
    _fold.__annotations__ = {"s": pd.Series, "return": pd.Series}
    nfkc_fold = F.pandas_udf(_fold, "string")

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        nfkc_fold("text").alias("norm_text"),
        F.length("text").cast("bigint").alias("n_chars_raw"),
    ).withColumn("n_chars_norm", F.length("norm_text").cast("bigint"))


# ------------------------------------------------------- chunk_documents

#: context-window chunking: CHUNK_WORDS per training example with
#: CHUNK_OVERLAP carried between neighbors (stride = CHUNK_WORDS -
#: CHUNK_OVERLAP), the standard long-document -> fixed-window stage of a
#: pre-training pipeline
CHUNK_WORDS = 32
CHUNK_OVERLAP = 8
_STRIDE = CHUNK_WORDS - CHUNK_OVERLAP


def chunk_projection(docs: DataFrame) -> DataFrame:
    """The chunking transform over any (doc_id, text) relation -- shared
    by the batch row and the streaming parity row (identical expressions
    in both execution modes, so the two can never drift)."""
    w = docs.select("doc_id", words_col().alias("ws")).where(F.size("ws") > 0)
    n_chunks = (
        F.lit(1)
        + F.greatest(
            F.ceil((F.size("ws") - F.lit(CHUNK_WORDS)).cast("double") / _STRIDE)
            .cast("bigint"),
            F.lit(0).cast("bigint"),
        )
    )
    # materialize each chunk's word-array slice ONCE, then explode and
    # derive BOTH outputs from the exploded attribute: HOF lambdas get
    # no common-subexpression elimination, so the previous struct form
    # evaluated slice() twice per chunk on the module's highest-fan-out
    # relation (r13 review; the r11 fix had already stopped re-splitting
    # the joined string -- this removes the remaining duplicate slice)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.slice(F.col("ws"), i * _STRIDE + 1, CHUNK_WORDS),
    )
    ex = w.select("doc_id", F.posexplode(chunks).alias("chunk_id", "c"))
    return ex.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.array_join("c", " ").alias("chunk_text"),
        F.size("c").cast("bigint").alias("chunk_words"),
    )


@register(
    "chunk_documents",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    n AS (SELECT doc_id, ws, len(ws) AS n_words FROM w WHERE len(ws) > 0),
    c AS (
      SELECT doc_id, n_words,
             CAST(1 + greatest(
               CAST(ceil(CAST(n_words - {CHUNK_WORDS} AS DOUBLE)
                         / {_STRIDE}) AS BIGINT), 0) AS BIGINT) AS n_chunks,
             ws
      FROM n)
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           array_to_string(ws[(i * {_STRIDE} + 1):(i * {_STRIDE} + {CHUNK_WORDS})],
                           ' ') AS chunk_text,
           CAST(len(ws[(i * {_STRIDE} + 1):(i * {_STRIDE} + {CHUNK_WORDS})])
                AS BIGINT) AS chunk_words
    FROM c, unnest(range(0, n_chunks)) AS t(i)
    """,
    description=f"Context-window chunking: every document splits into "
                f"{CHUNK_WORDS}-word windows with {CHUNK_OVERLAP} words of "
                "overlap (the long-document stage of a pre-training "
                "pipeline). Chunk windows are built map-side as array "
                "slices over the split words (sequence + transform, no "
                "UDF) and posexploded -- zero shuffles, output rows ~ "
                "corpus tokens / stride. The chunk count formula "
                "(1 + max(ceil((n - chunk)/stride), 0)) guarantees every "
                "word lands in at least one window and short documents "
                "produce exactly one. Verified by the test suite outside "
                "the 50-row driver budget (driver_slot=False).",
    tags=("text", "curation", "chunking"),
    driver_slot=False,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_projection(load_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------- bm25_topk

#: Okapi BM25 parameters (the standard defaults) and the probe queries --
#: retrieval over the corpus is how curation pipelines mine examples
#: (near-benchmark text, topic seeds) at scale
BM25_K1 = "CAST(1.2 AS DOUBLE)"
BM25_B = "CAST(0.75 AS DOUBLE)"
BM25_TOPK = 5
BM25_QUERIES = [
    ("q_join", ["join", "hash", "merge"]),
    ("q_stream", ["stream", "window", "batch"]),
    ("q_scan", ["table", "scan", "filter"]),
]


def bm25_split_expr(dialect: str) -> str:
    """THE tokenizer spelling per engine -- the one fragment every BM25
    consumer (builder, oracle, stage-measurement tool) must share."""
    if dialect == "duck":
        return f"unnest({_LWORDS_SQL})"
    return f"explode({words_spark_sql('lower(text)')})"


def bm25_dl_select(split_expr: str) -> str:
    """Standalone per-doc token-length statement (stage 1): the exact
    statement the builder checkpoints (per-stage timings at ~sf10:
    SCALE.md "bm25_topk stage breakdown").

    r17 (guide 2.4, remove shuffles outright): a document's token count
    is the LENGTH of its split array, so dl is a narrow map over the
    corpus — no explode, no per-token groupBy shuffle. Row-identical to
    the old explode+COUNT form: array length = exploded-row count for
    every tokenized doc, and the ``> 0`` filter reproduces explode's
    dropping of zero-token (and NULL-text: size/len of NULL is NULL)
    documents. The per-engine array fragment is recovered from the
    shared ``bm25_split_expr`` spelling so the tokenizer still has one
    home."""
    for wrap, size_fn in (("explode(", "size"), ("unnest(", "len")):
        if split_expr.startswith(wrap) and split_expr.endswith(")"):
            arr = split_expr[len(wrap):-1]
            return (
                "SELECT doc_id, CAST(__n AS BIGINT) AS dl"
                f" FROM (SELECT doc_id, {size_fn}({arr}) AS __n"
                " FROM documents)"
                " WHERE __n > 0"
            )
    raise ValueError(
        f"bm25_dl_select: unrecognized split fragment {split_expr!r}")


def bm25_tf_select(split_expr: str, values_clause: str) -> str:
    """Standalone query-term tf statement (stage 2)."""
    return (
        f"WITH toks AS (SELECT doc_id, {split_expr} AS term FROM documents),"
        f" q AS ({values_clause})"
        " SELECT t.doc_id, q.query_id, t.term,"
        " CAST(COUNT(*) AS BIGINT) AS tf"
        " FROM toks t JOIN q ON t.term = q.term"
        " GROUP BY t.doc_id, q.query_id, t.term"
    )


def bm25_combined_select(split_expr: str) -> str:
    """ONE-corpus-scan (doc_id, dl, tfs) statement (r18, guide §6 —
    the Spark builder's stage 1+2 fused): document length AND the
    per-(query, term) frequencies all derive from the SAME split array,
    so one narrow map over the corpus produces everything downstream
    scoring needs. The pre-r18 composition scanned the ``documents``
    parquet THREE times per run (once materializing the dl checkpoint,
    twice for the tf CTE, which Spark inlines into both of its
    consumers, ``scored`` and ``dfr``); checkpointing this relation
    instead makes the corpus scan count exactly 1.

    Row semantics are pinned to the stage statements above:
    ``dl = size(ws)`` with the ``> 0`` filter reproducing explode's
    zero-token/NULL-text drops, and each tfs entry is
    ``size(filter(ws, w -> w = term))`` — exactly the exploded-token
    COUNT(*) of ``bm25_tf_select`` for that (query_id, term) pair, with
    the ``s.tf > 0`` filter reproducing the inner join's no-match drop.
    The query-term set is a fixture literal (BM25_QUERIES), so the tf
    computation is a fixed 9-expression map — no token explode, no
    broadcast join, no per-token aggregate. Spark-dialect only: the
    DuckDB oracle keeps the unfused stage CTEs (its job is semantics,
    not scan count)."""
    wrap = "explode("
    if not (split_expr.startswith(wrap) and split_expr.endswith(")")):
        raise ValueError(
            f"bm25_combined_select: unrecognized split fragment "
            f"{split_expr!r}")
    arr = split_expr[len(wrap):-1]
    structs = ", ".join(
        f"named_struct('query_id', '{qid}', 'term', '{t}', "
        f"'tf', CAST(size(filter(ws, w -> w = '{t}')) AS BIGINT))"
        for qid, terms in BM25_QUERIES for t in terms
    )
    return (
        "SELECT doc_id, CAST(size(ws) AS BIGINT) AS dl,"
        f" filter(array({structs}), s -> s.tf > 0) AS tfs"
        f" FROM (SELECT doc_id, {arr} AS ws FROM documents)"
        " WHERE size(ws) > 0"
    )


def bm25_score_ctes(dl_rel: str = "dl", tf_rel: str = "tf") -> str:
    """The scoring tail (stage 3) as a CTE-list fragment + final SELECT,
    reading document lengths from ``dl_rel`` and term frequencies from
    ``tf_rel``: `_bm25_sql` composes it after its dl/tf CTEs; the
    measurement tool prefixes ``WITH `` and points it at materialized
    stage views. Every scoring literal is CAST to DOUBLE explicitly
    (DuckDB parses bare 1.2 as DECIMAL, which would change intermediate
    types and rounding vs Spark); the per-term score is quantized to
    micro-units BEFORE the per-doc sum, so the final score is an exact
    BIGINT -- summation-order-free across engines and partitionings
    (the text_tfidf_topk discipline)."""
    half = "CAST(0.5 AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    term_score = (
        f"ln((n_docs - df + {half}) / (df + {half}) + {one})"
        f" * (tf * ({BM25_K1} + {one}))"
        f" / (tf + {BM25_K1} * ({one} - {BM25_B} + {BM25_B} * dl / (total / n_docs)))"
    )
    return f"""stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) AS total FROM {dl_rel}),
    dfr AS (
      SELECT query_id, term, CAST(COUNT(*) AS BIGINT) AS df
      FROM {tf_rel} GROUP BY query_id, term),
    scored AS (
      SELECT tf.doc_id, tf.query_id,
             CAST(floor(({term_score}) * 1e6 + {half}) AS BIGINT) AS s_micro
      FROM {tf_rel} tf
      JOIN dfr ON dfr.query_id = tf.query_id AND dfr.term = tf.term
      JOIN {dl_rel} dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats),
    agg AS (
      SELECT query_id, doc_id, CAST(SUM(s_micro) AS BIGINT) AS score_micro
      FROM scored GROUP BY query_id, doc_id),
    ranked AS (
      SELECT query_id, doc_id, score_micro,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rnk
      FROM agg)
    SELECT query_id, doc_id, score_micro, rnk
    FROM ranked WHERE rnk <= {BM25_TOPK}
    """


def _bm25_sql(split_expr: str, values_clause: str,
              dl_rel: str | None = None) -> str:
    """One BM25 statement, shared by both engines: only the word-split
    spelling and the VALUES syntax differ. Composed from the stage
    statements above so the measurement tool times the exact SQL the
    registry row runs.

    dl_rel: a pre-materialized (doc_id, dl) relation. Without it the
    dl CTE inlines into every reference and the corpus is re-scanned
    per consumer (audit: 4 scans); the Spark builder passes a
    checkpointed view so the plan scans the corpus exactly twice
    (once for lengths, once for the query-term tf)."""
    dl_sub = f"SELECT * FROM {dl_rel}" if dl_rel else bm25_dl_select(
        split_expr)
    return f"""
    WITH dl AS ({dl_sub}),
    tf AS ({bm25_tf_select(split_expr, values_clause)}),
    {bm25_score_ctes()}
    """


def _bm25_values(dialect: str) -> str:
    rows = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in BM25_QUERIES for t in terms
    )
    if dialect == "duck":
        return f"SELECT * FROM (VALUES {rows}) v(query_id, term)"
    return f"SELECT * FROM VALUES {rows} AS v(query_id, term)"


@register(
    "bm25_topk",
    oracle=_bm25_sql(bm25_split_expr("duck"), _bm25_values("duck")),
    description=f"Okapi BM25 ranked retrieval, top-{BM25_TOPK} documents "
                f"per probe query (k1=1.2, b=0.75): the retrieval stage a "
                "curation pipeline uses to mine examples at scale. The "
                "tiny query term set joins the token stream map-side "
                "(AQE broadcasts it), so tf exists only for query terms; "
                "document lengths are a map-side-combined aggregate; "
                "corpus stats attach as a one-row broadcast. Per-term "
                "scores are micro-quantized BIGINTs summed exactly "
                "(order-free across engines/partitionings); every scoring "
                "literal is CAST to DOUBLE so Spark and DuckDB run "
                "identical IEEE arithmetic. Corpus size N counts TOKENIZED "
                "documents (a zero-token doc can neither match a query "
                "nor be retrieved, and its length would skew avgdl). "
                "Promoted to a driver-oracle "
                "row in r6 (slot from sliding_window_counts, subsumed by "
                "stream_sliding_equiv's identical oracle).",
    tags=("text", "retrieval", "bm25"),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    split_expr = bm25_split_expr("spark")
    # one corpus scan per run (r18, guide §6): dl AND tf both read the
    # lazily-checkpointed combined relation -- see bm25_combined_select.
    # The checkpoint is per-build (a fresh DataFrame every build), so
    # every bench run still computes from the parquet inputs.
    combined = spark.sql(
        bm25_combined_select(split_expr)).localCheckpoint(eager=False)
    combined.createOrReplaceTempView("bm25_combined_tmp")
    return spark.sql(f"""
    WITH dl AS (SELECT doc_id, dl FROM bm25_combined_tmp),
    tf AS (SELECT doc_id, query_id, term, tf
           FROM bm25_combined_tmp LATERAL VIEW inline(tfs) t),
    {bm25_score_ctes()}
    """)


def bpe_stats_cols(enc: DataFrame) -> DataFrame:
    """The ONE projection from encode_bpe_batches output to the
    bpe_token_stats row shape -- shared by the batch registry row and
    the streaming-parity row (the lm_* shared-projection discipline:
    batch and stream spellings cannot drift)."""
    from ..functions.hashing import h60

    # length-prefix framing, not a bare separator join: no character is
    # guaranteed absent from tokens (WS_RE does not strip \x1f), so
    # ["a\x1fb</w>"] and ["a", "b</w>"] would collide under a plain
    # concat_ws("\x1f") -- "<len>:<token>" frames are unambiguous for
    # any token content (r17 review)
    framed = F.transform(
        "tokens", lambda t: F.concat(F.length(t), F.lit(":"), t))
    return enc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).cast("bigint")
        .alias("n_distinct_tokens"),
        h60(F.concat_ws("", framed)).alias("tok_fp"),
    )


@register(
    "bpe_token_stats",
    oracle=None,  # iterative merge LEARNING is outside the SQL-oracle
                  # contract (the kmeans/ann_trained_recall precedent)
                  # -- rows-only here; the encoding itself is pinned
                  # bit-exact against an independent pure-Python
                  # replica in tests/test_bpe.py
    description="Per-document token statistics under a LEARNED BPE "
                "tokenizer (operators/bpe.py, Sennrich 2016): merges "
                "fit on the h60-deterministic <= 20k-doc sample "
                "(corpus-size-independent, the fit_kmeans discipline), "
                "then one zero-shuffle Arrow encode pass with the merge "
                "table in the closure and a per-batch word memo. "
                "Returns (doc_id, n_tokens, n_distinct_tokens, tok_fp) "
                "where tok_fp h60-fingerprints the exact token sequence "
                "-- the token counts a real training pipeline needs for "
                "shard packing / domain mixing, vs text_profile's regex "
                "ESTIMATE.",
    tags=("text", "llm", "tokenizer", "model"),
    driver_slot=False,
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import encode_bpe_batches, fit_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = fit_bpe(docs)
    return bpe_stats_cols(encode_bpe_batches(docs, merges))


@register(
    "bpe_seq_windows",
    oracle=None,  # the upstream merge learning has no SQL oracle (the
                  # bpe_token_stats precedent); the window mechanics are
                  # reconstruction-pinned in tests/test_bpe.py
    description="The full tokenize -> ids -> fixed-length sequence "
                "pipeline as one relation (r17): learned-BPE encode, "
                "sorted-order vocab ids, then 32-id training windows "
                "via chunk_id_seqs -- per-doc window counts plus an "
                "h60 fingerprint over the framed id sequence. The "
                "encode pass runs ONCE: a lazy localCheckpoint "
                "materializes it on the vocab collect and the main "
                "query reuses the checkpoint (r17 review -- the naive "
                "composition encodes the corpus twice, once inside "
                "build_vocab and once for the ids map). Plan shape "
                "after the checkpoint: ids Arrow map, codegen'd "
                "Generate, one final aggregation shuffle.",
    tags=("text", "llm", "tokenizer"),
    driver_slot=False,
)
def bpe_seq_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import h60
    from ..operators.bpe import (
        build_vocab,
        chunk_id_seqs,
        encode_bpe_batches,
        fit_bpe,
        tokens_to_ids,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = fit_bpe(docs)
    # encode once: the vocab collect materializes the lazy checkpoint,
    # the ids map below reads it back instead of re-running the encode
    enc = encode_bpe_batches(docs, merges).localCheckpoint(eager=False)
    vocab = build_vocab(docs, merges, enc=enc)
    seqs = chunk_id_seqs(tokens_to_ids(enc, vocab), seq_len=32)
    framed = F.transform(
        "seq_ids", lambda i: F.concat(i.cast("string"), F.lit(",")))
    return (
        seqs.select("doc_id", "seq_idx", "seq_n",
                    h60(F.concat_ws("", framed)).alias("seq_fp"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_seqs"),
             F.sum("seq_n").cast("bigint").alias("n_ids"),
             F.sum(F.col("seq_fp") % F.lit(1_000_000_007))
             .cast("bigint").alias("fp_sum"))
    )
