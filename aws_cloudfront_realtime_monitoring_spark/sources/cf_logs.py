"""CloudFront realtime-log wire-format parser, Spark-first.

The reference parses one record at a time in Python inside a Lambda
(``log-processor/lambda_function.py:66-119``): base64 -> bytes -> str ->
``split('\\t')`` -> positional zip against an ordered field->type config ->
per-field cast with a ``-`` null sentinel -> drop header columns -> rename
``-``->``_``. Here the whole chain is declarative Catalyst expressions --
one split-and-project chain performs tokenize + positional schema apply + cast +
null-sentinel handling for every row, JVM-side, inside whole-stage codegen.
The same function works identically on a batch DataFrame and a streaming
DataFrame (Structured Streaming), which is how the engine scales the
reference's 1-shard/1000-rec-s ceiling to a 1000-executor cluster: the parse
is a narrow map, no shuffle.

Deliberate deviations (SURVEY.md section 7, D2-D4):
- ``-`` parses to true SQL NULL (reference keeps the literal string,
  lambda_function.py:85-86); ``strict_compat`` in the narrow view re-renders.
- millisecond precision kept (reference truncates to seconds, :115-116).
- UTF-8 payload decode (reference's ``"".join(map(chr, b))`` is Latin-1,
  :72); both agree on CloudFront's URL-encoded payloads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import CF_FIELDS, DROPPED_BY_DEFAULT, storage_name


def decode_payload_bytes(col: Column, charset: str = "UTF-8") -> Column:
    """Payload bytes -> text line, PERMISSIVE like the rest of the parser:
    ``decode`` raises MALFORMED_CHARACTER_CODING on invalid UTF-8 under
    Spark's defaults, so one bad Kafka or Kinesis record would fail the
    whole micro-batch where the reference's chr() join never raises. The
    UTF-8 path therefore goes through the lenient binary->string cast
    (UTF8String wraps bytes unvalidated, invalid sequences flow through
    as replacement-rendered data) -- corrupt tokens then fall out as
    NULLs at the typed-token try_casts (D2), the documented degradation
    path. Other charsets use ``decode``; ISO-8859-1 cannot fail (every
    byte sequence is valid Latin-1)."""
    if charset.upper().replace("-", "") == "UTF8":
        return col.cast("string")
    return F.decode(col, charset)


def decode_kinesis_payload(col: Column, charset: str = "UTF-8") -> Column:
    """Kinesis envelope payload -> text line (A2+A3).

    Reference: base64-decode (lambda_function.py:69) then per-byte chr()
    join (:72, accidental Latin-1). Pass ``charset='ISO-8859-1'`` for
    byte-exact reference behavior on non-ASCII payloads.

    PERMISSIVE (r13 review): under ANSI mode plain ``unbase64`` raises on
    a corrupt envelope; ``try_to_binary`` nulls bad base64 instead, and
    the bytes go through :func:`decode_payload_bytes`."""
    return decode_payload_bytes(F.try_to_binary(col, F.lit("base64")),
                                charset)


def _typed_token_sql(toks: str, i: int, typ: str) -> str:
    """One positional token (of the array column named ``toks``) -> typed
    value: trim (the reference strips every token, lambda_function.py:81-93),
    ``-`` sentinel -> NULL (D2), ANSI-safe cast (``try_cast``: malformed
    tokens become NULL, matching the reference's PERMISSIVE intent rather
    than erroring).

    ``get()`` is OOB-safe (short/truncated lines yield NULLs, no ANSI
    error). Real CloudFront fields are URL-encoded, so edge whitespace
    beyond ASCII space does not occur on the wire.

    A SQL string, not a Column: building 40 typed fields Column-by-Column
    costs ~10 py4j round-trips each (~0.5 s of driver latency per parser
    plan build); the parser's one ``selectExpr`` parses them JVM-side in
    a single call.
    """
    v = f"nullif(trim(get({toks}, {i})), '-')"
    if typ == "int":
        return f"try_cast({v} as bigint)"
    if typ == "float":
        return f"try_cast({v} as double)"
    return v


def _url_decode_permissive_sql(tok: str) -> str:
    """URL-decode that cannot kill a (streaming) query: ``url_decode``
    RAISES on a malformed percent-escape (e.g. a line truncated
    mid-escape, which D2 explicitly anticipates), which would fail the
    whole micro-batch for one corrupt token -- against the parser's
    try_cast-everywhere PERMISSIVE design and the reference's
    ``urllib.parse.unquote``, which never raises (r11 review). A
    malformed blob falls back to its RAW bytes (unquote would decode
    the well-formed escapes around the bad one -- a documented
    deviation; matching it exactly needs a row-Python UDF, off the hot
    path's table)."""
    return f"coalesce(try_url_decode({tok}), {tok})"


def _cs_headers_sql(tok: str) -> str:
    """Encoded ``cs-headers`` -> array<struct<Name,Value>> (A9).

    Reference: URL-decode, split on ``\\n``, drop empties, split each on the
    FIRST ``:`` only, skip entries without ``:``
    (lambda_function.py:40-49). Golden shape: test.json:39-72.
    """
    return (
        f"transform(filter(split({_url_decode_permissive_sql(tok)}, '\\n'), "
        "x -> x != '' AND contains(x, ':')), "
        "x -> struct(split_part(x, ':', 1) AS Name, "
        "substr(x, instr(x, ':') + 1) AS Value))"
    )


def _cs_header_names_sql(tok: str) -> str:
    """Encoded ``cs-header-names`` -> array<string> (A10,
    lambda_function.py:50-52; golden shape test.json:73-82)."""
    return (f"filter(split({_url_decode_permissive_sql(tok)}, '\\n'), "
            "x -> x != '')")


def parse_log_lines(
    lines: DataFrame,
    value_col: str = "value",
    drop_headers: bool = True,
    parse_headers: bool = False,
    sample_fraction: float | None = None,
    sample_seed: int = 42,
) -> DataFrame:
    """Raw TSV-line DataFrame -> wide typed CloudFront log DataFrame.

    One expression chain covering reference operators A4-A15:
    tokenize+schema+cast via split-and-project (A4-A8), header parsing (A9-A10) or
    drop (A11), rename (A12), timestamp conversion (A15 sans truncation).
    ``sample_fraction`` mirrors CloudFront's source-side sampling
    (template.yaml:9-14; A19) -- applied BEFORE parsing, like the edge
    applies it before emitting.

    Works on batch and streaming DataFrames alike.
    """
    if sample_fraction is not None:
        # Hash-based sampling instead of .sample(): works identically on
        # batch AND streaming DataFrames (sample() is unsupported on
        # streams), and is deterministic per record -- replay/retry safe,
        # which at-scale ingest wants anyway. The reference's sampling is
        # random at the edge (template.yaml:9-14); keyed sampling preserves
        # the rate while making tests and backfills reproducible.
        bucket = F.pmod(
            F.hash(F.col(value_col), F.lit(sample_seed)), F.lit(1_000_000)
        )
        lines = lines.where(bucket < round(sample_fraction * 1_000_000))

    # Tokenize ONCE into an array column. CollapseProject does NOT inline
    # the split() into the 40 field expressions: its many-references rule
    # keeps a non-cheap expression referenced more than once in its own
    # projection (verified on the optimized plan: one line-split with or
    # without the rand() "CSE barrier" this select used to carry -- the
    # barrier was dead weight and is gone, r7 review; the from_csv
    # expression path remains ~3.5x slower than this shape).
    toks_df = lines.select(
        F.split(F.col(value_col), "\t", -1).alias("__toks"),
    )

    # Positional schema apply + cast (A5-A8) + rename (A12) + timestamp
    # conversion keeping ms (A15/D3), all in one whole-stage-codegen'd
    # projection. The 40 field expressions ship as SQL strings in ONE
    # selectExpr call (r17 optimization round): the per-field Column
    # composition (F.expr + alias + special-case wrappers) cost ~120
    # py4j round-trips per parser build -- pure driver latency that
    # multiplies under load -- while the string list marshals in a
    # single call and parses JVM-side into the same analyzed plan
    # (oracle rows + the parser/fuzz suites pin byte-identical output).
    exprs: list[str] = []
    for i, (wire_name, typ) in enumerate(CF_FIELDS):
        col = storage_name(wire_name)
        tok = _typed_token_sql("__toks", i, typ)
        if wire_name == "timestamp":
            e = f"timestamp_seconds({tok})"
        elif wire_name == "cs-headers" and parse_headers:
            e = _cs_headers_sql(tok)
        elif wire_name == "cs-header-names" and parse_headers:
            e = _cs_header_names_sql(tok)
        else:
            e = tok
        exprs.append(f"{e} AS `{col}`")
    out = toks_df.selectExpr(*exprs)

    if drop_headers and not parse_headers:
        # Reference deletes both header fields pre-ingest for cost
        # (lambda_function.py:96-101, README.md:31).
        out = out.drop(*DROPPED_BY_DEFAULT)
    return out


def to_wire_line(row: dict) -> str:
    """Inverse helper for tests/fixtures: typed dict (wire names) -> one
    TSV line, absent values rendered as the ``-`` sentinel."""
    toks = []
    for name, _ in CF_FIELDS:
        v = row.get(name)
        toks.append("-" if v is None else str(v))
    return "\t".join(toks)
