"""Parser unit tests pinned to the reference's golden record
(``log-processor/test.json``): raw TSV line in, typed row out, including
``-`` -> NULL, header parsing, rename, and Kinesis payload decoding."""

from __future__ import annotations

import base64
import urllib.parse

import pytest
from pyspark.sql import functions as F

from aws_cloudfront_realtime_monitoring_spark.schema import (
    CF_FIELDS,
    narrow_dimension_columns,
    wide_schema,
)
from aws_cloudfront_realtime_monitoring_spark.sources import (
    decode_kinesis_payload,
    parse_log_lines,
)
from aws_cloudfront_realtime_monitoring_spark.operators import to_narrow

# Golden record values (reference log-processor/test.json:1-85), wire order.
GOLDEN_HEADERS = [
    ("host", "somehost123.cloudfront.net"),
    ("user-agent", "curl/7.53.1"),
    ("accept", "*/*"),
    ("CloudFront-Is-Mobile-Viewer", "false"),
    ("CloudFront-Is-Tablet-Viewer", "false"),
    ("CloudFront-Is-SmartTV-Viewer", "false"),
    ("CloudFront-Is-Desktop-Viewer", "true"),
    ("CloudFront-Viewer-Country", "US"),
]

GOLDEN = {
    "timestamp": "1602646738.145",
    "c-ip": "1.2.3.4",
    "time-to-first-byte": "0.002",
    "sc-status": "200",
    "sc-bytes": "16653",
    "cs-method": "GET",
    "cs-protocol": "https",
    "cs-host": "somehost123.cloudfront.net",
    "cs-uri-stem": "/image.jpg",
    "cs-bytes": "59",
    "x-edge-location": "IAD66-C1",
    "x-edge-request-id": "boNb1al7B50G5T7jXDOGi2zlYAF2VWrba2fnZWfucsomething12345_UA==",
    "x-host-header": "somehost123.cloudfront.net",
    "time-taken": "0.002",
    "cs-protocol-version": "HTTP/2.0",
    "c-ip-version": "IPv4",
    "cs-user-agent": "curl/7.53.1",
    "cs-referer": "-",
    "cs-cookie": "-",
    "cs-uri-query": "-",
    "x-edge-response-result-type": "Hit",
    "x-forwarded-for": "-",
    "ssl-protocol": "TLSv1.2",
    "ssl-cipher": "ECDHE-RSA-AES128-GCM-SHA256",
    "x-edge-result-type": "Hit",
    "fle-encrypted-fields": "-",
    "fle-status": "-",
    "sc-content-type": "image/jpeg",
    "sc-content-len": "16335",
    "sc-range-start": "-",
    "sc-range-end": "-",
    "c-port": "36242",
    "x-edge-detailed-result-type": "Hit",
    "c-country": "US",
    "cs-accept-encoding": "-",
    "cs-accept": "*/*",
    "cache-behavior-path-pattern": "*",
    "cs-headers": urllib.parse.quote(
        "\n".join(f"{n}:{v}" for n, v in GOLDEN_HEADERS) + "\n"
    ),
    "cs-header-names": urllib.parse.quote(
        "\n".join(n for n, _ in GOLDEN_HEADERS) + "\n"
    ),
    "cs-headers-count": "8",
}

GOLDEN_LINE = "\t".join(GOLDEN[name] for name, _ in CF_FIELDS)


def lines_df(spark, *lines):
    return spark.createDataFrame([(l,) for l in lines], "value string")


def test_golden_record_parses_typed(spark):
    row = parse_log_lines(lines_df(spark, GOLDEN_LINE)).collect()[0]
    assert row.sc_status == 200
    assert row.sc_bytes == 16653
    assert row.cs_method == "GET"
    assert row.time_to_first_byte == pytest.approx(0.002)
    assert row.x_edge_location == "IAD66-C1"
    assert row.c_port == 36242
    assert row.sc_content_len == 16335
    # ms precision kept (D3): 1602646738.145 -> 2020-10-14T03:38:58.145 UTC
    assert row.timestamp.isoformat().startswith("2020-10-14T03:38:58.145")
    # '-' sentinel -> true NULL (D2)
    assert row.cs_referer is None
    assert row.sc_range_start is None
    assert row.x_forwarded_for is None


def test_golden_record_schema_and_rename(spark):
    df = parse_log_lines(lines_df(spark, GOLDEN_LINE))
    # header columns dropped by default (lambda_function.py:96-101)
    assert "cs_headers" not in df.columns
    assert len(df.columns) == 38
    assert all("-" not in c for c in df.columns)
    expected = wide_schema(parsed_headers=True)
    expected_names = [f.name for f in expected if f.name not in ("cs_headers", "cs_header_names")]
    assert df.columns == expected_names


def test_header_parsing_matches_golden(spark):
    row = parse_log_lines(
        lines_df(spark, GOLDEN_LINE), drop_headers=False, parse_headers=True
    ).collect()[0]
    assert [(h.Name, h.Value) for h in row.cs_headers] == GOLDEN_HEADERS
    assert row.cs_header_names == [n for n, _ in GOLDEN_HEADERS]
    assert row.cs_headers_count == 8


def test_header_value_with_colon_splits_on_first(spark):
    # reference splits on the FIRST ':' only (lambda_function.py:46)
    enc = urllib.parse.quote("referer:https://x.test/path\n")
    line = GOLDEN_LINE.replace(GOLDEN["cs-headers"], enc)
    row = parse_log_lines(
        lines_df(spark, line), drop_headers=False, parse_headers=True
    ).collect()[0]
    assert [(h.Name, h.Value) for h in row.cs_headers] == [
        ("referer", "https://x.test/path")
    ]


def test_kinesis_payload_decode(spark):
    payload = base64.b64encode(GOLDEN_LINE.encode()).decode()
    df = spark.createDataFrame([(payload,)], "data string").select(
        decode_kinesis_payload(F.col("data")).alias("value")
    )
    row = parse_log_lines(df).collect()[0]
    assert row.sc_bytes == 16653


def test_malformed_and_unicode_lines(spark):
    short = "1602646738.0\t9.9.9.9"  # truncated line -> nulls, no crash
    ua = GOLDEN_LINE.replace("curl/7.53.1", "Mözillä/5.0 (✓)")
    rows = parse_log_lines(lines_df(spark, short, ua)).orderBy("c_ip").collect()
    assert rows[0].c_ip == "1.2.3.4" and rows[0].cs_user_agent == "Mözillä/5.0 (✓)"
    assert rows[1].c_ip == "9.9.9.9" and rows[1].sc_status is None


def test_sampling_is_deterministic(spark):
    # distinct lines (hash-based sampling keys on record content)
    lines = [GOLDEN_LINE.replace("boNb1al7", f"req{i:04d}") for i in range(200)]
    df = lines_df(spark, *lines)
    n1 = parse_log_lines(df, sample_fraction=0.1, sample_seed=1).count()
    n2 = parse_log_lines(df, sample_fraction=0.1, sample_seed=1).count()
    assert n1 == n2
    assert 0 < n1 < 200


def test_narrow_view_matches_reference_shape(spark):
    wide = parse_log_lines(lines_df(spark, GOLDEN_LINE))
    narrow = to_narrow(wide, strict_compat=True)
    rows = narrow.collect()
    assert len(rows) == 1  # one measure -> one narrow record per log line
    r = rows[0]
    assert r.measure_name == "sc_bytes"
    assert r.measure_value == 16653
    # strict compat: seconds truncation (lambda_function.py:115-116)
    assert r.time.isoformat().endswith("03:38:58")
    # strict compat: NULL dims rendered as '-' (lambda_function.py:85-86)
    assert r.cs_referer == "-"
    # sc_bytes itself also a (string) dimension (lambda_function.py:103-108)
    assert r.sc_bytes == "16653"
    # strict compat: the reference's all-fields dimension loop also carries
    # a stringified `timestamp` dimension (lambda_function.py:104-108);
    # rendered as fixed sec.mmm (deviation D7: ms truncation, not str(float))
    assert r.timestamp == "1602646738.145"
    dims = set(narrow.columns) - {"time", "measure_name", "measure_value"}
    assert dims == set(narrow_dimension_columns()) | {"timestamp"}
    # non-strict narrow omits the parity-quirk timestamp dimension
    lax = to_narrow(wide)
    assert "timestamp" not in lax.columns


def test_padded_tokens_are_stripped(spark):
    # reference strips every token (lambda_function.py:81-93); '  200 ' -> 200,
    # ' - ' -> NULL, padded strings lose edge whitespace
    line = GOLDEN_LINE.replace("\t200\t", "\t  200 \t").replace(
        "\tGET\t", "\t GET \t"
    ).replace("\t-\t-\t-\tHit\t", "\t - \t-\t-\tHit\t")
    row = parse_log_lines(lines_df(spark, line)).collect()[0]
    assert row.sc_status == 200
    assert row.cs_method == "GET"
    assert row.cs_referer is None  # ' - ' trims to the sentinel


def test_narrow_multi_measure(spark):
    # generalized melt: several measures -> one narrow row per (record, measure)
    wide = parse_log_lines(lines_df(spark, GOLDEN_LINE))
    narrow = to_narrow(wide, measures=["sc_bytes", "cs_bytes", "c_port"])
    rows = {r.measure_name: r.measure_value for r in narrow.collect()}
    assert rows == {"sc_bytes": 16653, "cs_bytes": 59, "c_port": 36242}


def test_strict_compat_q1_truncates_seconds(spark):
    # strict-compat narrow view reproduces the reference's whole-second
    # Time (lambda_function.py:115-116) so Q1-on-narrow byte-matches
    from pyspark.sql import functions as F2

    wide = parse_log_lines(lines_df(spark, GOLDEN_LINE))
    narrow = to_narrow(wide, strict_compat=True)
    q1 = (
        narrow.where(F2.col("measure_name") == "sc_bytes")
        .groupBy(F2.date_trunc("hour", "time").alias("binned_time"))
        .agg(F2.sum("measure_value").alias("sum_bytes_downloaded"))
    )
    r = q1.collect()[0]
    assert r.binned_time.isoformat() == "2020-10-14T03:00:00"
    assert r.sum_bytes_downloaded == 16653


def test_kinesis_payload_decode_is_permissive(spark):
    """r13 review: under ANSI mode unbase64 raises on a corrupt envelope
    and decode raises on invalid UTF-8 -- one bad Kinesis record used to
    fail the whole micro-batch where the reference's chr() join never
    raises. Bad base64 -> NULL line; invalid UTF-8 bytes flow through
    the lenient cast; Latin-1 can't fail by construction."""
    good = base64.b64encode(GOLDEN_LINE.encode()).decode()
    bad_b64 = "!!!not-base64!!!"
    bad_utf8 = base64.b64encode(b"abc\xff\xfe\ttail").decode()
    df = spark.createDataFrame(
        [(good,), (bad_b64,), (bad_utf8,)], "data string"
    ).select(decode_kinesis_payload(F.col("data")).alias("value"))
    rows = df.collect()  # must not raise
    assert rows[0].value == GOLDEN_LINE
    assert rows[1].value is None
    assert rows[2].value.startswith("abc")
    # Latin-1 reference mode decodes the same bytes byte-for-byte
    latin = spark.createDataFrame([(bad_utf8,)], "data string").select(
        decode_kinesis_payload(F.col("data"), "ISO-8859-1").alias("v")
    ).head()
    assert latin.v == "abc\xff\xfe\ttail"
    # and corrupt records degrade to all-NULL parsed rows, not errors
    parsed = parse_log_lines(df)
    assert parsed.count() == 3


def test_connector_decode_is_permissive_on_invalid_utf8(spark):
    """The Kafka/Kinesis connector path decodes the binary record value
    through the same permissive decode: a record carrying an invalid
    UTF-8 byte (0xFF) parses to a row instead of failing the
    micro-batch with MALFORMED_CHARACTER_CODING, which plain ``decode``
    raises under Spark's defaults."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
        _parse_records,
    )

    bad = GOLDEN_LINE.replace("curl/7.53.1", "curl\xff").encode("latin-1")
    df = spark.createDataFrame(
        [(bytearray(GOLDEN_LINE.encode()),), (bytearray(bad),)],
        StructType([StructField("value", BinaryType())]))
    rows = _parse_records(df, "value", "UTF-8", None).collect()
    assert [r.sc_bytes for r in rows] == [16653, 16653]
    assert rows[0].cs_user_agent == "curl/7.53.1"
    latin = _parse_records(df, "value", "ISO-8859-1", None).collect()
    assert latin[1].cs_user_agent == "curl\xff"
