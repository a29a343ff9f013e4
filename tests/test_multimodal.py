"""Multimodal plumbing tests: binary columns through Arrow batches, the
real-BMP / fake-fallback decode contract, frame sampling arithmetic."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
    attach_payload,
    decode_batches,
    decode_bmp_pixels,
    decode_image,
    fake_decode,
    frame_sample_offsets,
)
from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table


def _make_bmp(pixels: np.ndarray, top_down: bool = False) -> bytes:
    """Hand-build an uncompressed 24-bit BMP from an RGB[h, w, 3] array --
    an independent golden-bytes encoder (header layout written from the
    format spec, not from the decoder under test)."""
    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    rows = []
    order = range(h) if top_down else range(h - 1, -1, -1)
    for y in order:
        row = pixels[y, :, ::-1].tobytes()  # RGB -> BGR
        rows.append(row + b"\x00" * (stride - len(row)))
    pix = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0, len(pix),
        2835, 2835, 0, 0,
    )
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40)
    return hdr + info + pix


def test_undecodable_payloads_fall_back_to_fake():
    """An unrecognized payload, and one whose signature matches but whose
    decoder rejects it, both take the fake fallback."""
    assert decode_image(1, b"abc") == fake_decode(1, b"abc")
    # a "BM"-prefixed non-BMP: the BMP decoder rejects it, decode_image
    # falls back
    with pytest.raises(ValueError):
        decode_bmp_pixels(b"BMnot really a bitmap")
    meta = decode_image(1, b"BMnot really a bitmap")
    assert meta["fmt"] in ("fake-jpeg", "fake-png", "fake-webp")  # fake fallback


def test_bmp_decodes_for_real():
    """Golden-bytes check: a hand-built 24-bit BMP decodes to its exact
    pixel array (both bottom-up and top-down row orders), and the metadata
    path reports the true dimensions -- the decode step is not a stub for
    this format."""
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(3, 5, 3), dtype=np.uint8)
    for top_down in (False, True):
        payload = _make_bmp(px, top_down=top_down)
        w, h, got = decode_bmp_pixels(payload)
        assert (w, h) == (5, 3)
        np.testing.assert_array_equal(got, px)
        meta = decode_image(9, payload)
        assert meta == {
            "doc_id": 9, "n_bytes": len(payload), "width": 5, "height": 3,
            "n_frames": 1, "fmt": "bmp",
        }
    # malformed variants are rejected, not mis-decoded
    with pytest.raises(ValueError):
        decode_bmp_pixels(_make_bmp(px)[:40])          # truncated header
    with pytest.raises(ValueError):
        decode_bmp_pixels(_make_bmp(px)[:-8])          # truncated pixels


def test_bmp_payloads_through_mapinpandas(spark):
    """The SAME mapInPandas contract carries real BMP bytes end-to-end:
    schema, batching, and metadata all come from the actual header."""
    rng = np.random.RandomState(11)
    rows = [
        (int(i), bytearray(_make_bmp(
            rng.randint(0, 256, size=(4 + i, 6 + i, 3), dtype=np.uint8)
        )))
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, payload BINARY")
    got = {r.doc_id: r for r in decode_batches(df).collect()}
    for i in range(3):
        assert got[i].fmt == "bmp"
        assert (got[i].width, got[i].height) == (6 + i, 4 + i)
        assert got[i].n_frames == 1


def test_payload_is_binary_and_roundtrips(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    p = attach_payload(docs)
    assert dict(p.dtypes)["payload"] == "binary"
    row = p.join(docs, "doc_id").select("payload", "text").first()
    assert bytes(row.payload) == row.text.encode("utf-8")


def test_decode_batches_schema_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = decode_batches(attach_payload(docs))
    assert out.columns == ["doc_id", "n_bytes", "width", "height", "n_frames", "fmt"]
    a = sorted(out.collect())
    b = sorted(decode_batches(attach_payload(docs)).collect())
    assert a == b  # deterministic across runs/partitionings
    r = a[0]
    assert 16 <= r.width < 640 and 16 <= r.height < 480
    assert 1 <= r.n_frames <= 24


def test_frame_offsets_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = frame_sample_offsets(decode_batches(attach_payload(docs)))
    for r in out.collect():
        assert len(r.frame_offsets) == 4
        assert all(0 <= o < r.n_bytes for o in r.frame_offsets)
        assert r.frame_offsets == sorted(r.frame_offsets)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib as _z

    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _make_png(pixels: np.ndarray, filters=None, color_type=None) -> bytes:
    """Hand-build a PNG from a [h, w, c] uint8 array -- an independent
    golden-bytes encoder (chunk layout + filter predictors written from the
    PNG spec, not from the decoder under test). ``filters`` chooses the
    per-row filter type (default: None filter everywhere)."""
    import zlib as _z

    h, w, c = pixels.shape
    ct = {1: 0, 2: 4, 3: 2, 4: 6}[c] if color_type is None else color_type
    filters = filters or [0] * h
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    flat = pixels.reshape(h, w * c).astype(np.int32)
    lines = []
    for y, f in enumerate(filters):
        row = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(w * c, np.int32)
        left = np.concatenate([np.zeros(c, np.int32), row[:-c]]) if w * c > c \
            else np.zeros(w * c, np.int32)
        upleft = np.concatenate([np.zeros(c, np.int32), prev[:-c]]) if w * c > c \
            else np.zeros(w * c, np.int32)
        if f == 0:
            enc = row
        elif f == 1:
            enc = row - left
        elif f == 2:
            enc = row - prev
        elif f == 3:
            enc = row - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = row - pred
        lines.append(bytes([f]) + (enc % 256).astype(np.uint8).tobytes())
    idat = _z.compress(b"".join(lines))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def test_png_decodes_for_real_all_filters_and_channels():
    """Golden-bytes check: hand-built PNGs decode to their exact pixel
    arrays across every standard filter type (None/Sub/Up/Average/Paeth)
    and every 8-bit color type (gray, gray+alpha, RGB, RGBA) -- the decode
    step is not a stub for this format."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_png_pixels,
    )

    rng = np.random.RandomState(13)
    for c in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=(6, 4, c), dtype=np.uint8)
        for filters in ([0] * 6, [1] * 6, [2] * 6, [3] * 6, [4] * 6,
                        [0, 1, 2, 3, 4, 1]):
            w, h, got = decode_png_pixels(_make_png(px, filters=filters))
            assert (w, h) == (4, 6)
            np.testing.assert_array_equal(got, px)
    meta = decode_image(3, _make_png(px))
    assert meta == {
        "doc_id": 3, "n_bytes": len(_make_png(px)), "width": 4, "height": 6,
        "n_frames": 1, "fmt": "png",
    }


def test_png_rejects_malformed_and_unsupported():
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_png_pixels,
    )

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    good = _make_png(px)
    with pytest.raises(ValueError):
        decode_png_pixels(good[:-6])                       # truncated
    bad_crc = bytearray(good)
    bad_crc[-5] ^= 0xFF                                    # corrupt IEND CRC
    with pytest.raises(ValueError):
        decode_png_pixels(bytes(bad_crc))
    with pytest.raises(ValueError):  # palette IHDR w/o PLTE (and 3x the
        decode_png_pixels(_make_png(px, color_type=3))  # expected bytes)
    # interlace flag flipped on (re-CRC'd so only interlace is wrong):
    # Adam7 decodes for REAL as of r13, so this now rejects on the
    # sequential IDAT's byte count not matching the Adam7 pass layout
    # (tests/test_png_full.py covers real interlaced decode)
    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 1)
    interlaced = (
        b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        + good[len(b"\x89PNG\r\n\x1a\n") + 25:]
    )
    with pytest.raises(ValueError):
        decode_png_pixels(interlaced)
    # decode_image falls back on the rejected payload
    assert decode_image(1, bytes(bad_crc))["fmt"] in ("fake-jpeg", "fake-png", "fake-webp")


def test_png_payloads_through_mapinpandas(spark):
    """The SAME mapInPandas contract carries real PNG bytes end-to-end:
    fmt/width/height come from actual chunk parsing + inflate, mixed in
    the same batch with BMP and fake-fallback payloads."""
    rng = np.random.RandomState(17)
    rows = [
        (0, bytearray(_make_png(
            rng.randint(0, 256, size=(5, 7, 3), dtype=np.uint8),
            filters=[4, 3, 2, 1, 0],
        ))),
        (1, bytearray(_make_png(
            rng.randint(0, 256, size=(8, 2, 4), dtype=np.uint8)))),
        (2, bytearray(_make_bmp(
            rng.randint(0, 256, size=(3, 3, 3), dtype=np.uint8)))),
        (3, bytearray(b"not an image at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, payload BINARY")
    got = {r.doc_id: r for r in decode_batches(df).collect()}
    assert (got[0].fmt, got[0].width, got[0].height) == ("png", 7, 5)
    assert (got[1].fmt, got[1].width, got[1].height) == ("png", 2, 8)
    assert got[2].fmt == "bmp"
    assert got[3].fmt in ("fake-jpeg", "fake-png", "fake-webp")  # documented fake fallback


def test_pipeline_shape_over_real_png_payloads(spark):
    """The multimodal_pipeline flow (decode -> frame-sample plan) over REAL
    PNG binaries: metadata comes from actual chunk parsing, and the
    downstream Catalyst arithmetic consumes it unchanged -- the pipeline is
    format-agnostic once the decode step emits the declared schema."""
    rng = np.random.RandomState(23)
    rows = [
        (int(i), bytearray(_make_png(
            rng.randint(0, 256, size=(4 + i, 5 + i, 3), dtype=np.uint8),
            filters=[(i + y) % 5 for y in range(4 + i)],
        )))
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, payload BINARY")
    decoded = decode_batches(df)
    out = {r.doc_id: r for r in frame_sample_offsets(decoded).collect()}
    meta = {r.doc_id: r for r in decoded.collect()}
    for i in range(4):
        assert meta[i].fmt == "png"
        assert (meta[i].width, meta[i].height) == (5 + i, 4 + i)
        assert len(out[i].frame_offsets) == 4
        assert all(0 <= o < meta[i].n_bytes for o in out[i].frame_offsets)


def _make_palette_png(idx: np.ndarray, palette: np.ndarray,
                      trns: bytes | None = None) -> bytes:
    """Hand-build an 8-bit palette PNG from an index map [h, w] and an
    RGB palette [n, 3] (independent encoder, written from the spec)."""
    import zlib as _z

    h, w = idx.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + idx[y].astype(np.uint8).tobytes()
                   for y in range(h))
    chunks = _png_chunk(b"IHDR", ihdr)
    chunks += _png_chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    if trns is not None:
        chunks += _png_chunk(b"tRNS", trns)
    chunks += _png_chunk(b"IDAT", _z.compress(raw))
    chunks += _png_chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + chunks


def test_png_palette_decodes_through_plte_and_trns():
    """Golden-bytes: 8-bit palette PNGs expand to the exact palette RGB
    (RGBA with tRNS; entries past the tRNS length are opaque), and
    out-of-range indices are rejected rather than mis-decoded."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_png_pixels,
    )

    rng = np.random.RandomState(29)
    pal = rng.randint(0, 256, size=(5, 3), dtype=np.uint8)
    idx = rng.randint(0, 5, size=(4, 6), dtype=np.uint8)
    w, h, got = decode_png_pixels(_make_palette_png(idx, pal))
    assert (w, h) == (6, 4)
    np.testing.assert_array_equal(got, pal[idx])
    # tRNS covering 2 of 5 entries: those get its alpha, the rest 255
    w, h, got = decode_png_pixels(
        _make_palette_png(idx, pal, trns=bytes([10, 200]))
    )
    assert got.shape == (4, 6, 4)
    np.testing.assert_array_equal(got[:, :, :3], pal[idx])
    alpha = np.full(5, 255, np.uint8)
    alpha[0], alpha[1] = 10, 200
    np.testing.assert_array_equal(got[:, :, 3], alpha[idx])
    # an index beyond the palette must raise, not wrap
    bad = idx.copy()
    bad[0, 0] = 7
    with pytest.raises(ValueError):
        decode_png_pixels(_make_palette_png(bad, pal))
    # and the metadata path reports palette PNGs like any other
    meta = decode_image(4, _make_palette_png(idx, pal))
    assert (meta["fmt"], meta["width"], meta["height"]) == ("png", 6, 4)


def test_png_roundtrip_property():
    """Property: ANY uint8 image (1-4 channels, 1x1 up to 9x7) encoded
    with ANY per-row filter choice decodes back bit-exactly. Catches
    boundary cases the fixed golden images cannot (1-pixel rows, width <
    one pixel's bytes, alternating filters)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_png_pixels,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(1, 7).flatmap(lambda h: st.tuples(
            st.just(h),
            st.integers(1, 9),
            st.integers(1, 4),
            st.lists(st.integers(0, 4), min_size=h, max_size=h),
            st.integers(0, 2**32 - 1),
        ))
    )
    def check(args):
        h, w, c, filters, seed = args
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, size=(h, w, c), dtype=np.uint8)
        got_w, got_h, got = decode_png_pixels(_make_png(px, filters=filters))
        assert (got_w, got_h) == (w, h)
        np.testing.assert_array_equal(got, px)

    check()


def test_decoders_never_crash_on_mutated_payloads():
    """Production contract under corrupt data: decode_image
    must NEVER raise for any bytes -- every decoder maps malformed input
    (truncations, bit flips, garbage) to ValueError internally and the
    fallback engages. Hypothesis mutates a valid payload of every
    format-table entry; one surviving non-ValueError would kill a 100 TB
    executor task instead of skipping one bad record."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        apng_payload,
        mp4_payload,
        vp8l_webp_payload,
        webm_payload,
    )
    from tests.test_gif import _frame as _gif_frame
    from tests.test_gif import _make_gif
    from tests.test_jpeg import make_jpeg

    rng = np.random.RandomState(97)
    px3 = rng.randint(0, 256, size=(6, 5, 3), dtype=np.uint8)
    pal = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
    seeds = [
        _make_bmp(px3),
        _make_png(px3),
        make_jpeg(px3),
        _make_gif([_gif_frame(rng.randint(0, 4, (6, 5), dtype=np.uint8))],
                  pal, 5, 6),
        # one seed per remaining format-table entry
        vp8l_webp_payload(3),
        apng_payload(3),
        mp4_payload(3),
        webm_payload(3),
    ]

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(0, len(seeds) - 1),
        st.lists(
            st.tuples(st.integers(0, 10_000), st.integers(0, 255)),
            min_size=0, max_size=8,
        ),
        st.integers(0, 10_000),
        st.booleans(),
    )
    def check(which, flips, cut, truncate):
        blob = bytearray(seeds[which])
        for pos, val in flips:
            blob[pos % len(blob)] = val
        if truncate:
            blob = blob[: max(2, cut % (len(blob) + 1))]
        meta = decode_image(1, bytes(blob))  # must not raise, period
        assert set(meta) == {
            "doc_id", "n_bytes", "width", "height", "n_frames", "fmt"
        }
        assert meta["n_bytes"] == len(blob)

    check()


def test_null_doc_id_rows_stay_inside_the_contract(spark):
    """NULL int64 doc_ids arrive in pandas as NaN, where int() raises
    ValueError OUTSIDE the payload try-block; every batch surface must
    honor its contract anyway. decode_batches keeps every row: a NULL id
    stays NULL, a NULL or corrupt payload takes the fake fallback. The
    four dropping surfaces skip a NULL id, a NULL payload and a corrupt
    payload under skip_invalid, and raise on each of them otherwise."""
    from aws_cloudfront_realtime_monitoring_spark.operators.audio import (
        audio_feature_batches,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        apng_payload,
        bmp_payload,
        wav_payload,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        image_pixel_stats_batches,
        resize_pixel_stats_batches,
        sample_animation_frames,
    )

    schema = "doc_id BIGINT, payload BINARY"
    df = spark.createDataFrame(
        [(None, bytearray(b"not media")), (7, bytearray(b"also not")),
         (8, None), (9, bytearray(bmp_payload(1)[:40]))],
        schema,
    )
    rows = decode_batches(df).collect()
    assert sorted([r.doc_id for r in rows], key=lambda x: (x is None, x)) \
        == [7, 8, 9, None]
    by_id = {r.doc_id: r for r in rows}
    assert by_id[8].n_bytes == 0 and by_id[9].n_bytes == 40
    assert all(r.fmt.startswith("fake-") for r in rows)

    def resize(docs, **kw):
        return resize_pixel_stats_batches(docs, 2, 3, **kw)

    for run, good in ((image_pixel_stats_batches, bmp_payload(1)),
                      (resize, bmp_payload(2)),
                      (sample_animation_frames, apng_payload(3)),
                      (audio_feature_batches, wav_payload(4))):
        bad = [(None, bytearray(good)), (2, None),
               (3, bytearray(good[: len(good) // 2]))]
        docs = spark.createDataFrame([(1, bytearray(good))] + bad, schema)
        assert {r.doc_id for r in run(docs).collect()} == {1}
        assert {r.doc_id for r in run(docs, skip_invalid=True).collect()} \
            == {1}
        for case in bad:
            one = spark.createDataFrame([case], schema)
            with pytest.raises(Exception, match="ValueError"):  # Py4J-wrapped
                run(one, skip_invalid=False).collect()


def test_png_ancillary_crc_corruption_is_recoverable():
    """r11 review: a flipped bit in a tEXt chunk's CRC aborted the whole
    decode and handed a perfectly decodable image to the fake fallback;
    ancillary-chunk CRC errors skip the chunk, critical ones still
    raise."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_png_pixels,
    )

    rng = np.random.RandomState(29)
    px = rng.randint(0, 256, size=(6, 5, 3), dtype=np.uint8)
    good = _make_png(px)
    # splice a tEXt chunk with a deliberately wrong CRC before IDAT
    bad_text = (struct.pack(">I", 4) + b"tEXt" + b"oops"
                + struct.pack(">I", 0xDEADBEEF))
    idat_at = good.find(b"IDAT") - 4
    blob = good[:idat_at] + bad_text + good[idat_at:]
    w, h, got = decode_png_pixels(blob)
    assert (w, h) == (5, 6)
    np.testing.assert_array_equal(got[:, :, :3], px)
    # a corrupt CRITICAL chunk still hard-fails
    bad = bytearray(good)
    bad[-1] ^= 0xFF  # IEND's CRC
    with pytest.raises(ValueError, match="CRC"):
        decode_png_pixels(bytes(bad))


def test_png_idat_bomb_is_bounded():
    """r11 review: the inflate is capped at the declared scanline bytes,
    so a tiny-IHDR payload whose IDAT would expand to gigabytes is
    rejected without materializing the expansion."""
    import zlib as _z

    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_png_pixels,
    )

    ihdr = struct.pack(">IIBBBBB", 10, 10, 8, 2, 0, 0, 0)  # 10x10 RGB
    bomb = _z.compress(b"\x00" * (64 * 1024 * 1024), 9)  # 64 MB of zeros
    blob = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", bomb) + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="scanline"):
        decode_png_pixels(blob)


def test_gif_lzw_min_code_size_ceiling():
    """r11 review: min code sizes 9-11 passed the guard and crashed
    table building with a misleading bytes-range error; 8 is the real
    GIF ceiling (one-byte pixel indices)."""
    from aws_cloudfront_realtime_monitoring_spark.operators.gif import _lzw_decode

    with pytest.raises(ValueError, match="min code size"):
        _lzw_decode(b"\x00", 9, 10)


def test_resize_nearest_integer_rule_and_replica():
    """r17: resize_nearest's pure-integer index rule — out[y, x] ==
    px[(y*h)//out_h, (x*w)//out_w] — replicated element-by-element in
    pure Python for up/down/identity scales; degenerate targets raise."""
    import numpy as np
    import pytest as _pytest

    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        resize_nearest,
    )

    rng = np.random.RandomState(5)
    for (h, w, oh, ow) in ((7, 11, 3, 4), (4, 4, 4, 4), (3, 2, 9, 5),
                           (1, 1, 2, 2), (10, 3, 1, 1)):
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = resize_nearest(px, oh, ow)
        assert out.shape == (oh, ow, 3)
        for y in range(oh):
            for x in range(ow):
                assert (out[y, x] == px[(y * h) // oh, (x * w) // ow]).all()
    with _pytest.raises(ValueError, match="bad target"):
        resize_nearest(px, 0, 4)
