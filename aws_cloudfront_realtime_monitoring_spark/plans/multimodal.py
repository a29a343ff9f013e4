"""Multimodal-column queries: binary payload + pandas-batch decode plumbing
(operators.multimodal), verified end-to-end against an arithmetic oracle.

The decoder is REAL for BMP, every valid static-PNG profile (depths
1/2/4/8/16, Adam7 interlace -- r13) and APNG, the full T.81 JPEG
matrix, GIF (incl. animation) and WebP (VP8L and VP8), with real MP4
and Matroska header metadata (pure numpy + stdlib, each
golden-bytes-tested against independent spec-written encoders in
tests/test_{multimodal,jpeg,gif,webp}.py); this registry query feeds
utf-8 TEXT payloads, which take the documented deterministic fake path
(fmt values 'fake-*' so fabricated rows can never be confused with real
decodes) -- so the oracle below replicates the fake's arithmetic, and
what the row pins down is the Spark-side contract: binary column, Arrow
batch shape, mapInPandas schema, downstream aggregability of the decoded
metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.audio import audio_feature_batches
from ..operators.media_synth import (
    attach_animation_payload,
    attach_media_payload,
    attach_pixel_stats_payload,
)
from ..operators.multimodal import (
    attach_payload,
    decode_batches,
    frame_offset_expr,
    image_pixel_stats_batches,
    sample_animation_frames,
)
from ..sources.tables import load_table
from . import register


@register(
    "multimodal_pipeline",
    oracle="""
    WITH meta AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             (octet_length(encode(text)) * 7919) % 624 + 16 AS width,
             (octet_length(encode(text)) * 104729) % 464 + 16 AS height,
             octet_length(encode(text)) % 24 + 1 AS n_frames,
             CASE doc_id % 3 WHEN 0 THEN 'fake-jpeg' WHEN 1 THEN 'fake-png'
                             ELSE 'fake-webp' END AS fmt
      FROM documents)
    SELECT doc_id, n_bytes, width, height, n_frames, fmt,
           greatest(least(0 * greatest(n_bytes // 4, 1), n_bytes - 1), 0)
             || ';' || greatest(least(1 * greatest(n_bytes // 4, 1), n_bytes - 1), 0)
             || ';' || greatest(least(2 * greatest(n_bytes // 4, 1), n_bytes - 1), 0)
             || ';' || greatest(least(3 * greatest(n_bytes // 4, 1), n_bytes - 1), 0)
           AS offsets_str
    FROM meta
    """,
    description="Full multimodal plumbing in one pass: binary payload -> "
                "mapInPandas (Arrow-batched) decode (real for BMP, "
                "deterministic fake for these text payloads) -> typed "
                "metadata "
                "-> deterministic frame-sample plan (evenly spaced byte "
                "offsets, pure Catalyst arithmetic over the decoded "
                "metadata -- payload bytes never leave the decode batch). "
                "Verifies the binary-column round-trip through pandas "
                "batches with a declared schema AND the downstream "
                "aggregability of the decoded columns. DEMOTED r13 "
                "(registry swap): its driver slot went to "
                "image_audio_real_meta, whose oracle hash-checks REAL "
                "pixel/DSP decode output -- strictly stronger than this "
                "row's fake-path arithmetic. Coverage keepers: "
                "container_audio_meta (header-walk parity, pass-x) plus "
                "the golden-bytes decoder suites in tests/test_"
                "{multimodal,jpeg,jpeg_arith,gif,webp,vp8}.py; this row "
                "itself stays hash-checked by the pytest suite via "
                "load_demoted().",
    tags=("multimodal", "pandas-udf"),
    driver_slot=False,
)
def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_batches(attach_payload(docs))
    # the ONE offsets spelling (operators.multimodal.frame_offset_expr)
    return decoded.select(
        "doc_id", "n_bytes", "width", "height", "n_frames", "fmt",
        F.array_join(frame_offset_expr(4), ";").alias("offsets_str"),
    )


# ------------------------------------------- container/audio metadata
#
# r12 (verdict task #4): the MP4/WebM/FLAC/MP3 parsers were pytest-only;
# this demoted row promotes them to the Spark-vs-DuckDB hash discipline.
# operators/media_synth.py builds REAL spec-layout payloads whose every
# metadata field is arithmetic over doc_id, so the DuckDB oracle can
# recompute the expected values without parsing a byte. The payloads
# flow through the PRODUCTION decode surfaces (decode_batches for the
# video containers, audio_feature_batches for the audio ones), so what
# the row verifies is the real executor path: synthesis map ->
# signature dispatch -> parser -> declared Arrow schema.

@register(
    "container_audio_meta",
    oracle="""
    WITH ids AS (SELECT doc_id, doc_id % 4 AS kind FROM documents),
    vid AS (
      SELECT doc_id,
             CASE kind WHEN 0 THEN 'mp4' ELSE 'webm' END AS fmt,
             doc_id % 320 + 16 AS width,
             doc_id % 240 + 16 AS height,
             CASE kind WHEN 0 THEN doc_id % 50 + 1 ELSE 0 END AS n_frames,
             NULL AS sample_rate, NULL AS n_channels, NULL AS n_samples,
             NULL AS duration_ms
      FROM ids WHERE kind IN (0, 1)),
    flac AS (
      SELECT doc_id, 'flac' AS fmt,
             NULL AS width, NULL AS height, NULL AS n_frames,
             8000 + (doc_id % 5) * 8000 AS sample_rate,
             -- (doc_id // 4) parity: the %4 format routing makes FLAC
             -- ids all even, so doc_id%2 could never reach stereo (r13)
             (doc_id // 4) % 2 + 1 AS n_channels,
             (doc_id % 1000 + 1) * 100 AS n_samples,
             ((doc_id % 1000 + 1) * 100 * 1000)
               // (8000 + (doc_id % 5) * 8000) AS duration_ms
      FROM ids WHERE kind = 2),
    mp3 AS (
      SELECT doc_id, 'mp3' AS fmt,
             NULL AS width, NULL AS height, NULL AS n_frames,
             CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                             ELSE 32000 END AS sample_rate,
             CASE (doc_id // 4) % 2 WHEN 1 THEN 1 ELSE 2 END
               AS n_channels,
             (doc_id % 200 + 1) * 1152 AS n_samples,
             ((doc_id % 200 + 1) * 1152 * 1000)
               // (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                                   ELSE 32000 END) AS duration_ms
      FROM ids WHERE kind = 3)
    SELECT doc_id, fmt, CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(n_channels AS BIGINT) AS n_channels,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST(duration_ms AS BIGINT) AS duration_ms
    FROM (SELECT * FROM vid UNION ALL SELECT * FROM flac
          UNION ALL SELECT * FROM mp3)
    """,
    description="Container/audio metadata through the production decode "
                "surfaces: deterministic spec-layout MP4/WebM/FLAC/MP3 "
                "payloads (media_synth, every field arithmetic over "
                "doc_id) -> signature dispatch -> mp4/mkv/audio parsers "
                "-> typed Arrow schema; the oracle recomputes the "
                "expected metadata from the same formulas. Promotes the "
                "r11 parsers from pytest-only to the hash discipline.",
    tags=("multimodal", "pandas-udf", "container"),
    driver_slot=False,
)
def container_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    payloads = attach_media_payload(docs)
    nul = F.lit(None).cast("bigint")
    vids = decode_batches(
        payloads.filter(F.col("doc_id") % 4 < 2)
    ).select(
        "doc_id", "fmt",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_frames").cast("bigint").alias("n_frames"),
        nul.alias("sample_rate"), nul.alias("n_channels"),
        nul.alias("n_samples"), nul.alias("duration_ms"),
    )
    auds = audio_feature_batches(
        payloads.filter(F.col("doc_id") % 4 >= 2), skip_invalid=False
    ).select(
        "doc_id", "fmt",
        nul.alias("width"), nul.alias("height"), nul.alias("n_frames"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.col("duration_ms").cast("bigint").alias("duration_ms"),
    )
    return vids.unionByName(auds)


# ------------------------------------------- real-decode image/audio
#
# r12: container_audio_meta (above) verifies header-walk parsers; this
# sibling row goes one layer deeper -- the payloads here are REAL
# 24-bit BMPs (full pixel-array parse) and PCM WAVs whose DSP outputs
# (rms / zero-crossing rate over the decoded SAMPLES) are exact dyadic
# rationals the oracle recomputes as integers: a square wave of
# amplitude A has rms exactly A/32768 and zcr exactly 1. The decode
# surfaces are the production ones (decode_batches,
# audio_feature_batches); only the payload synthesis is test-shaped.

@register(
    "image_audio_real_meta",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents),
    bmp AS (
      SELECT doc_id, 'bmp' AS fmt,
             doc_id % 100 + 1 AS width,
             doc_id % 64 + 1 AS height,
             NULL AS sample_rate, NULL AS n_samples, NULL AS duration_ms,
             NULL AS rms_micro, NULL AS zcr_micro
      FROM ids WHERE doc_id % 2 = 0),
    wav AS (
      SELECT doc_id, 'wav' AS fmt,
             NULL AS width, NULL AS height,
             CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                             ELSE 44100 END AS sample_rate,
             (doc_id % 500 + 2) * 10 AS n_samples,
             ((doc_id % 500 + 2) * 10 * 1000)
               // (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                   ELSE 44100 END) AS duration_ms,
             -- rms of a square wave of amplitude 4096 << (doc_id % 3)
             -- over 16-bit full scale: exactly A/32768, in micro-units
             CASE doc_id % 3 WHEN 0 THEN 125000 WHEN 1 THEN 250000
                             ELSE 500000 END AS rms_micro,
             1000000 AS zcr_micro
      FROM ids WHERE doc_id % 2 = 1)
    SELECT doc_id, fmt, CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST(duration_ms AS BIGINT) AS duration_ms,
           CAST(rms_micro AS BIGINT) AS rms_micro,
           CAST(zcr_micro AS BIGINT) AS zcr_micro
    FROM (SELECT * FROM bmp UNION ALL SELECT * FROM wav)
    """,
    description="REAL pixel/sample decode under the hash discipline: "
                "spec-built 24-bit BMPs (full pixel-array parse through "
                "decode_batches) and PCM square-wave WAVs whose decoded "
                "rms/zcr are exact dyadic rationals "
                "(audio_feature_batches); the DuckDB oracle recomputes "
                "every field -- including the DSP outputs -- as integer "
                "arithmetic over doc_id. Complements container_audio_meta "
                "(header-walk parsers) one layer deeper. PROMOTED r13 "
                "(registry swap, newest-verification-first): took "
                "multimodal_pipeline's driver slot -- this is the only "
                "row whose oracle hash-checks real decode OUTPUT; the "
                "displaced row's plumbing coverage is kept by "
                "container_audio_meta and the golden-bytes suites, and "
                "the row itself stays in the pytest hash check.",
    tags=("multimodal", "pandas-udf", "audio"),
)
def image_audio_real_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media_synth import attach_image_audio_payload

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    payloads = attach_image_audio_payload(docs)
    nul = F.lit(None).cast("bigint")
    bmps = decode_batches(
        payloads.filter(F.col("doc_id") % 2 == 0)
    ).select(
        "doc_id", "fmt",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        nul.alias("sample_rate"), nul.alias("n_samples"),
        nul.alias("duration_ms"), nul.alias("rms_micro"),
        nul.alias("zcr_micro"),
    )
    wavs = audio_feature_batches(
        payloads.filter(F.col("doc_id") % 2 == 1), skip_invalid=False
    ).select(
        "doc_id", "fmt",
        nul.alias("width"), nul.alias("height"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.col("duration_ms").cast("bigint").alias("duration_ms"),
        F.col("rms_micro").cast("bigint").alias("rms_micro"),
        F.col("zcr_micro").cast("bigint").alias("zcr_micro"),
    )
    return bmps.unionByName(wavs)


# ---------------------------------------- r15: decode OUTPUT oracles
#
# r14 verdict task #2: APNG compositing, PNG tRNS color-keys, and
# hierarchical (pyramid) JPEG became real decodes in r14 but were only
# pytest-golden; these two rows push them through the Spark-vs-DuckDB
# hash discipline. Both check decode OUTPUT (full-image sample sums /
# composited per-frame channel means), which no header walk can fake —
# the formulas live in operators/media_synth.py and the oracles mirror
# them as closed-form integer arithmetic over doc_id.

@register(
    "pixel_decode_real_stats",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents),
    bmp0 AS (
      SELECT doc_id, doc_id % 100 + 1 AS w, doc_id % 64 + 1 AS h
      FROM ids WHERE doc_id % 3 = 0),
    bmp AS (
      -- constant color: weighted sum = channel sum * sum(1..n_px)
      SELECT doc_id, 'bmp' AS fmt, w, h, 3 AS n_ch,
             w * h * ((doc_id % 256) + ((doc_id * 7) % 256)
                      + ((doc_id * 13) % 256)) AS sum_px,
             (w * h * (w * h + 1) // 2)
               * ((doc_id % 256) + ((doc_id * 7) % 256)
                  + ((doc_id * 13) % 256)) AS wsum_px,
             w * h AS n_px
      FROM bmp0),
    hj0 AS (
      SELECT doc_id, 2 * (doc_id % 8 + 2) AS w, 2 * (doc_id % 6 + 2) AS h
      FROM ids WHERE doc_id % 3 = 1),
    hjy AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM hj0),
    hjyx AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM hjy),
    hj AS (
      -- gradient (doc_id%100) + y + 2x: per-pixel terms via unnested
      -- ranges (DuckDB's table-function generate_series rejects
      -- correlated column bounds; expression-context range() does not)
      SELECT doc_id, 'jpeg' AS fmt, w, h, 1 AS n_ch,
             SUM((doc_id % 100) + y + 2 * x) AS sum_px,
             SUM((y * w + x + 1)
                 * ((doc_id % 100) + y + 2 * x)) AS wsum_px,
             w * h AS n_px
      FROM hjyx
      GROUP BY doc_id, w, h),
    tr0 AS (
      SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h,
             (doc_id * 3) % 256 AS kr, (doc_id * 5) % 256 AS kg,
             (doc_id * 7) % 256 AS kb
      FROM ids WHERE doc_id % 3 = 2),
    try_ AS (SELECT doc_id, w, h, kr, kg, kb,
                    unnest(range(0, h)) AS y FROM tr0),
    tryx AS (SELECT doc_id, w, h, kr, kg, kb, y,
                    unnest(range(0, w)) AS x FROM try_),
    tr AS (
      -- key-colored left half decodes to alpha 0, the rest alpha 255
      SELECT doc_id, 'png' AS fmt, w, h, 4 AS n_ch,
             SUM(CASE WHEN x < w // 2
                      THEN kr + kg + kb
                      ELSE ((kr + 1) % 256) + ((kg + 2) % 256)
                           + ((kb + 3) % 256) + 255 END) AS sum_px,
             SUM((y * w + x + 1)
                 * CASE WHEN x < w // 2
                        THEN kr + kg + kb
                        ELSE ((kr + 1) % 256) + ((kg + 2) % 256)
                             + ((kb + 3) % 256) + 255 END) AS wsum_px,
             w * h AS n_px
      FROM tryx
      GROUP BY doc_id, w, h, kr, kg, kb)
    SELECT doc_id, fmt, CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height, CAST(n_ch AS BIGINT) AS n_ch,
           CAST(sum_px AS BIGINT) AS sum_px,
           CAST(wsum_px AS BIGINT) AS wsum_px,
           CAST(n_px AS BIGINT) AS n_px
    FROM (SELECT * FROM bmp UNION ALL SELECT * FROM hj
          UNION ALL SELECT * FROM tr)
    """,
    description="REAL pixel decode OUTPUT under the hash discipline: "
                "BMP / two-level LOSSLESS hierarchical JPEG (DHP + SOF3 "
                "+ EXP + SOF7 differential, bit-exact by T.81 Annex J "
                "construction) / tRNS-color-key PNG payloads "
                "(media_synth, doc_id % 3) through "
                "image_pixel_stats_batches; the oracle recomputes each "
                "payload's FULL-image sample sum (tRNS-synthesized "
                "alpha included) as closed-form integer arithmetic. A "
                "matching sum_px requires the whole pixel pipeline — "
                "defilter, prediction, pyramid expansion, color-key "
                "alpha — to be correct; header walks cannot fake it. "
                "PROMOTED r15 (registry swap): took scalar_functions' "
                "slot (its string/date/math coverage stays hash-checked "
                "via load_demoted()).",
    tags=("multimodal", "pandas-udf", "jpeg", "png"),
)
def pixel_decode_real_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return image_pixel_stats_batches(
        attach_pixel_stats_payload(docs), skip_invalid=False)


@register(
    "animated_frame_real_stats",
    oracle="""
    WITH f AS (
      SELECT doc_id, unnest(range(0, doc_id % 4 + 2)) AS frame_idx
      FROM documents)
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(doc_id % 4 + 2 AS BIGINT) AS n_frames,
           CAST(doc_id % 24 + 8 AS BIGINT) AS width,
           CAST(doc_id % 16 + 8 AS BIGINT) AS height,
           CAST((doc_id * 3 + 7 * frame_idx) % 256 AS BIGINT) AS mean_r,
           CAST((doc_id * 5 + 11 * frame_idx) % 256 AS BIGINT) AS mean_g,
           CAST((doc_id * 7 + 13 * frame_idx) % 256 AS BIGINT) AS mean_b
    FROM f
    """,
    description="REAL APNG compositing under the hash discipline: "
                "per-document animations (media_synth: acTL/fcTL/fdAT "
                "chains, 2-5 solid full-canvas frames, blend SOURCE on "
                "even frames and Porter-Duff OVER on odd — opaque RGB, "
                "so OVER must composite to the identical result through "
                "the real alpha path) sampled via "
                "sample_animation_frames; the oracle recomputes every "
                "composited frame's exact channel means from the color "
                "formulas. One input row fans out to n_frames output "
                "rows (unnest(range()) on the DuckDB side). PROMOTED "
                "r15 (registry swap): took text_fingerprint's slot (its "
                "rolling-hash coverage stays hash-checked via "
                "load_demoted()).",
    tags=("multimodal", "pandas-udf", "apng", "streaming-fanout"),
)
def animated_frame_real_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # n_samples=8 > the max synthesized frame count (5), so every frame
    # is sampled and the pick-set arithmetic stays out of the oracle
    return sample_animation_frames(
        attach_animation_payload(docs), n_samples=8, skip_invalid=False)


@register(
    "pixel_png_profiles_stats",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents),
    g0 AS (
      SELECT doc_id, doc_id % 12 + 4 AS w, doc_id % 10 + 4 AS h,
             doc_id % 30000 AS base
      FROM ids WHERE doc_id % 3 = 0),
    gy AS (SELECT doc_id, w, h, base, unnest(range(0, h)) AS y FROM g0),
    gyx AS (SELECT doc_id, w, h, base, y, unnest(range(0, w)) AS x FROM gy),
    g16 AS (
      SELECT doc_id, 'png' AS fmt, w, h, 1 AS n_ch,
             SUM(base + 64 * y + 16 * x) AS sum_px,
             SUM((y * w + x + 1) * (base + 64 * y + 16 * x)) AS wsum_px,
             w * h AS n_px
      FROM gyx
      GROUP BY doc_id, w, h),
    p0 AS (
      SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h
      FROM ids WHERE doc_id % 3 = 1),
    py AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM p0),
    pyx AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM py),
    pal AS (
      -- palette expands to RGB; entry channel sum for index x % 4
      SELECT doc_id, 'png' AS fmt, w, h, 3 AS n_ch,
             SUM(((3 * (x % 4) + doc_id) % 256)
                 + ((5 * (x % 4) + doc_id) % 256)
                 + ((7 * (x % 4) + doc_id) % 256)) AS sum_px,
             SUM((y * w + x + 1)
                 * (((3 * (x % 4) + doc_id) % 256)
                    + ((5 * (x % 4) + doc_id) % 256)
                    + ((7 * (x % 4) + doc_id) % 256))) AS wsum_px,
             w * h AS n_px
      FROM pyx
      GROUP BY doc_id, w, h),
    a0 AS (
      SELECT doc_id, doc_id % 20 + 5 AS w, doc_id % 14 + 5 AS h,
             doc_id % 256 AS bv
      FROM ids WHERE doc_id % 3 = 2),
    ay AS (SELECT doc_id, w, h, bv, unnest(range(0, h)) AS y FROM a0),
    ayx AS (SELECT doc_id, w, h, bv, y, unnest(range(0, w)) AS x FROM ay),
    a7 AS (
      SELECT doc_id, 'png' AS fmt, w, h, 3 AS n_ch,
             SUM((x % 256) + (y % 256) + bv) AS sum_px,
             SUM((y * w + x + 1)
                 * ((x % 256) + (y % 256) + bv)) AS wsum_px,
             w * h AS n_px
      FROM ayx
      GROUP BY doc_id, w, h, bv)
    SELECT doc_id, fmt, CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height, CAST(n_ch AS BIGINT) AS n_ch,
           CAST(sum_px AS BIGINT) AS sum_px,
           CAST(wsum_px AS BIGINT) AS wsum_px,
           CAST(n_px AS BIGINT) AS n_px
    FROM (SELECT * FROM g16 UNION ALL SELECT * FROM pal
          UNION ALL SELECT * FROM a7)
    """,
    description="The PNG profile matrix under the weighted-sum hash "
                "discipline (r15): 16-BIT grayscale (uint16 sample "
                "sums), PALETTE expansion (4-entry PLTE -> RGB), and "
                "ADAM7-INTERLACED RGB payloads (media_synth, doc_id % "
                "3) through image_pixel_stats_batches. The "
                "POSITION-WEIGHTED sum is the load-bearing column for "
                "the Adam7 leg: the plain sample sum is "
                "interlace-invariant, so only wsum_px verifies the "
                "seven-pass REASSEMBLY put every pixel back in its "
                "place. Oracles recompute both sums per pixel via "
                "generate_series. EXTRAS tier (the driver registry "
                "budget is full; same Spark-vs-DuckDB hash check via "
                "the pytest suite).",
    tags=("multimodal", "pandas-udf", "png"),
    driver_slot=False,
)
def pixel_png_profiles_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media_synth import attach_png_profile_payload

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return image_pixel_stats_batches(
        attach_png_profile_payload(docs), skip_invalid=False)


@register(
    "gif_pixel_stats",
    oracle="""
    WITH g0 AS (
      SELECT doc_id, doc_id % 18 + 4 AS w, doc_id % 12 + 4 AS h
      FROM documents),
    gy AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM g0),
    gyx AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM gy)
    SELECT doc_id, 'gif' AS fmt, CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height, CAST(3 AS BIGINT) AS n_ch,
           CAST(SUM(((3 * ((x + y) % 4) + doc_id) % 256)
                    + ((5 * ((x + y) % 4) + doc_id) % 256)
                    + ((7 * ((x + y) % 4) + doc_id) % 256)) AS BIGINT)
             AS sum_px,
           CAST(SUM((y * w + x + 1)
                    * (((3 * ((x + y) % 4) + doc_id) % 256)
                       + ((5 * ((x + y) % 4) + doc_id) % 256)
                       + ((7 * ((x + y) % 4) + doc_id) % 256)))
                AS BIGINT) AS wsum_px,
           CAST(w * h AS BIGINT) AS n_px
    FROM gyx
    GROUP BY doc_id, w, h
    """,
    description="REAL GIF LZW decode under the weighted-sum hash "
                "discipline (r15): spec-written GIF89a payloads "
                "(media_synth _gif_lzw — variable-width LSB-first LZW "
                "with code growth and the 12-bit CLEAR/reset path, "
                "written independently of the decoder) whose 4-color "
                "(x + y) %% 4 content is 2-D position-dependent, so "
                "wsum_px pins both the LZW stream decode AND pixel "
                "placement; the oracle recomputes per pixel via "
                "unnested ranges. With webp_pixel_stats (r17) this "
                "completes the pixel-content oracle matrix for every "
                "in-repo image decoder family. EXTRAS tier (driver "
                "budget full; identical hash check via the pytest "
                "suite).",
    tags=("multimodal", "pandas-udf", "gif"),
    driver_slot=False,
)
def gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media_synth import attach_gif_payload

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return image_pixel_stats_batches(
        attach_gif_payload(docs), skip_invalid=False)


@register(
    "webp_pixel_stats",
    oracle="""
    WITH g0 AS (
      SELECT doc_id, doc_id % 20 + 4 AS w, doc_id % 14 + 4 AS h,
             doc_id % 240 AS gb, (doc_id * 7) % 240 AS rb,
             (doc_id * 13) % 240 AS bb
      FROM documents),
    gy AS (SELECT doc_id, w, h, gb, rb, bb, unnest(range(0, h)) AS y
           FROM g0),
    gyx AS (SELECT doc_id, w, h, gb, rb, bb, y, unnest(range(0, w)) AS x
            FROM gy)
    SELECT doc_id, 'webp' AS fmt, CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height, CAST(4 AS BIGINT) AS n_ch,
           CAST(SUM((gb + (x + y) % 16) + (rb + (2 * x + y) % 16)
                    + (bb + (x + 3 * y) % 16) + 255) AS BIGINT)
             AS sum_px,
           CAST(SUM((y * w + x + 1)
                    * ((gb + (x + y) % 16) + (rb + (2 * x + y) % 16)
                       + (bb + (x + 3 * y) % 16) + 255)) AS BIGINT)
             AS wsum_px,
           CAST(w * h AS BIGINT) AS n_px
    FROM gyx
    GROUP BY doc_id, w, h
    """,
    description="REAL lossless-WebP (VP8L) decode under the "
                "weighted-sum hash discipline (r17, r16 verdict #4 -- "
                "the LAST decoder family without a pixel-content "
                "oracle row): media_synth vp8l_webp_payload writes "
                "spec-conformant VP8L stills independently of the "
                "decoder (FULL non-simple prefix codes for g/r/b -- "
                "code-length code with 17/18 zero runs, canonical "
                "multi-bit walks -- plus simple-code alpha/distance, "
                "so both header paths decode in one stream); content "
                "is 2-D position-dependent (16 contiguous values per "
                "channel), so wsum_px pins prefix decode AND pixel "
                "placement. The oracle recomputes both sums per pixel "
                "via unnested ranges; alpha (constant 255) is part of "
                "the channel sum, pinning the RGBA assembly order. The "
                "bit-exact-vs-libwebp goldens (tests/test_webp.py) "
                "remain the transform/backref/cache coverage. EXTRAS "
                "tier (driver budget full; identical hash check via "
                "the pytest suite).",
    tags=("multimodal", "pandas-udf", "webp"),
    driver_slot=False,
)
def webp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media_synth import attach_webp_payload

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return image_pixel_stats_batches(
        attach_webp_payload(docs), skip_invalid=False)


@register(
    "webp_resize_stats",
    oracle="""
    WITH g0 AS (
      SELECT doc_id, doc_id % 20 + 4 AS w, doc_id % 14 + 4 AS h,
             doc_id % 240 AS gb, (doc_id * 7) % 240 AS rb,
             (doc_id * 13) % 240 AS bb
      FROM documents),
    gy AS (SELECT doc_id, w, h, gb, rb, bb, unnest(range(0, 6)) AS y
           FROM g0),
    gyx AS (SELECT doc_id, w, h, gb, rb, bb, y, unnest(range(0, 8)) AS x
            FROM gy),
    m AS (SELECT doc_id, w, h, gb, rb, bb, y, x,
                 (y * h) // 6 AS sy, (x * w) // 8 AS sx
          FROM gyx)
    SELECT doc_id, 'webp' AS fmt, CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height, CAST(8 AS BIGINT) AS out_w,
           CAST(6 AS BIGINT) AS out_h, CAST(4 AS BIGINT) AS n_ch,
           CAST(SUM((gb + (sx + sy) % 16) + (rb + (2 * sx + sy) % 16)
                    + (bb + (sx + 3 * sy) % 16) + 255) AS BIGINT)
             AS sum_px,
           CAST(SUM((y * 8 + x + 1)
                    * ((gb + (sx + sy) % 16) + (rb + (2 * sx + sy) % 16)
                       + (bb + (sx + 3 * sy) % 16) + 255)) AS BIGINT)
             AS wsum_px,
           CAST(48 AS BIGINT) AS n_px
    FROM m
    GROUP BY doc_id, w, h
    """,
    description="REAL decode + nearest-neighbor RESIZE under the "
                "weighted-sum hash discipline (r17 — the brief's "
                "multimodal list names decode/feature-extract/resize/"
                "frame-sample; resize was the last without an "
                "operator): every synth WebP still resamples to 8x6 "
                "with the pure-integer index rule src = (dst * in) // "
                "out (resize_nearest), and the oracle recomputes the "
                "resized channel sums by applying the SAME integer "
                "division to the source-pixel formulas — a resize that "
                "reads the wrong source pixel or places it wrong "
                "cannot match the destination-weighted wsum_px. Narrow "
                "Arrow map (decode + resample inside the task, nothing "
                "shuffles); the thumbnail/pre-embedding downsample "
                "stage of a multimodal training pipeline. EXTRAS tier "
                "(driver budget full; same hash check via the pytest "
                "suite).",
    tags=("multimodal", "pandas-udf", "webp", "resize"),
    driver_slot=False,
)
def webp_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media_synth import attach_webp_payload
    from ..operators.multimodal import resize_pixel_stats_batches

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return resize_pixel_stats_batches(
        attach_webp_payload(docs), out_h=6, out_w=8, skip_invalid=False)


@register(
    "gif_frames_real_stats",
    oracle="""
    WITH f AS (
      SELECT doc_id, unnest(range(0, doc_id % 3 + 2)) AS frame_idx
      FROM documents)
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(doc_id % 3 + 2 AS BIGINT) AS n_frames,
           CAST(doc_id % 16 + 6 AS BIGINT) AS width,
           CAST(doc_id % 10 + 6 AS BIGINT) AS height,
           CAST((doc_id * 3 + 11 * frame_idx) % 256 AS BIGINT) AS mean_r,
           CAST((doc_id * 5 + 13 * frame_idx) % 256 AS BIGINT) AS mean_g,
           CAST((doc_id * 7 + 17 * frame_idx) % 256 AS BIGINT) AS mean_b
    FROM f
    """,
    description="REAL GIF animation compositing under the hash "
                "discipline — the animated_frame_real_stats sibling for "
                "the OTHER animation format the engine decodes: "
                "media_synth animations (2-4 full-canvas solid frames, "
                "per-frame LOCAL color tables, GCE disposal, real LZW "
                "data) sampled via sample_animation_frames; the oracle "
                "recomputes every composited frame's channel means. "
                "EXTRAS tier (driver budget full; same hash check via "
                "the pytest suite).",
    tags=("multimodal", "pandas-udf", "gif", "streaming-fanout"),
    driver_slot=False,
)
def gif_frames_real_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media_synth import attach_gif_anim_payload

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # n_samples=8 > the max frame count (4): every frame sampled
    return sample_animation_frames(
        attach_gif_anim_payload(docs), n_samples=8, skip_invalid=False)
