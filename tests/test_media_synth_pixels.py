"""r15 media_synth additions: APNG / tRNS-color-key PNG / hierarchical
lossless JPEG payload builders, verified against the REAL decoders
(the builders are spec-written in operators/media_synth.py,
independently of the decoders under test), plus the
image_pixel_stats_batches operator contract.

Reference parity note: the reference performs no media decoding at all
(its 128-line Lambda parses log lines — /root/reference/log-processor/
lambda_function.py); this suite covers the training-data-pipeline
multimodal surface the brief adds on top.
"""

from __future__ import annotations

import numpy as np
import pytest

from aws_cloudfront_realtime_monitoring_spark.operators.jpeg import (
    decode_jpeg_pixels,
)
from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
    apng_frame_color,
    apng_payload,
    hier_jpeg_payload,
    trns_png_payload,
)
from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
    animation_frames,
    composite_frames,
    decode_image,
    decode_pixel_stats,
    decode_png_pixels,
    image_pixel_stats_batches,
)

IDS = [0, 1, 2, 3, 17, 123, 499]


@pytest.mark.parametrize("doc_id", IDS)
def test_apng_payload_composites_to_formula_colors(doc_id):
    p = apng_payload(doc_id)
    w, h, n, screens = composite_frames(animation_frames(p))
    assert (w, h, n) == (doc_id % 24 + 8, doc_id % 16 + 8, doc_id % 4 + 2)
    assert len(screens) == n
    for k, screen in enumerate(screens):
        assert screen.shape == (h, w, 4)
        # solid full-canvas frames: the composited canvas IS the frame
        # color, through blend SOURCE (even k) and Porter-Duff OVER
        # (odd k; opaque source, so the real alpha path must reproduce
        # SOURCE exactly)
        r, g, b = apng_frame_color(doc_id, k)
        assert (screen[:, :, 0] == r).all()
        assert (screen[:, :, 1] == g).all()
        assert (screen[:, :, 2] == b).all()
        assert (screen[:, :, 3] == 255).all()


@pytest.mark.parametrize("doc_id", IDS)
def test_trns_png_payload_alpha_split(doc_id):
    w, h, px = decode_png_pixels(trns_png_payload(doc_id))
    assert (w, h) == (doc_id % 16 + 4, doc_id % 12 + 4)
    assert px.shape == (h, w, 4)  # tRNS color-key synthesizes alpha
    wl = w // 2
    assert (px[:, :wl, 3] == 0).all()      # key-colored: transparent
    assert (px[:, wl:, 3] == 255).all()    # off-key: opaque
    kr = (doc_id * 3) % 256
    assert (px[:, :wl, 0] == kr).all()
    assert (px[:, wl:, 0] == (kr + 1) % 256).all()


@pytest.mark.parametrize("doc_id", IDS)
def test_hier_jpeg_payload_roundtrips_bit_exact(doc_id):
    w, h, px = decode_jpeg_pixels(hier_jpeg_payload(doc_id))
    assert (w, h) == (2 * (doc_id % 8 + 2), 2 * (doc_id % 6 + 2))
    exp = ((doc_id % 100)
           + np.arange(h, dtype=np.int64).reshape(-1, 1)
           + 2 * np.arange(w, dtype=np.int64).reshape(1, -1))
    got = px[:, :, 0] if px.ndim == 3 else px
    assert (got.astype(np.int64) == exp).all()
    # and the metadata hook routes it as a real jpeg, not the fake path
    assert decode_image(doc_id, hier_jpeg_payload(doc_id))["fmt"] == "jpeg"


def test_decode_pixel_stats_formats_and_rejection():
    st = decode_pixel_stats(trns_png_payload(5))
    assert st["fmt"] == "png" and st["n_ch"] == 4
    assert st["n_px"] == st["width"] * st["height"]
    st = decode_pixel_stats(hier_jpeg_payload(5))
    assert st["fmt"] == "jpeg" and st["n_ch"] == 1
    with pytest.raises(ValueError):
        decode_pixel_stats(b"not an image at all")
    with pytest.raises(ValueError):
        decode_pixel_stats(b"")


def test_image_pixel_stats_batches_skip_contract(spark):
    rows = [(1, bytearray(hier_jpeg_payload(1))),
            (2, bytearray(b"garbage bytes")),
            (3, bytearray(trns_png_payload(3)))]
    df = spark.createDataFrame(rows, "doc_id BIGINT, payload BINARY")
    got = {r.doc_id: r for r in image_pixel_stats_batches(df).collect()}
    assert set(got) == {1, 3}  # corrupt row dropped, not fatal
    assert got[1].fmt == "jpeg" and got[3].fmt == "png"
    with pytest.raises(Exception):  # Py4J wraps the ValueError
        image_pixel_stats_batches(df, skip_invalid=False).collect()


@pytest.mark.parametrize("doc_id", IDS)
def test_png_profile_builders_roundtrip_with_weighted_sums(doc_id):
    """r15 tier-2: 16-bit gray / palette / Adam7 builders decode to the
    exact formula sums AND position-weighted sums (the Adam7 leg's
    reassembly check — a permuted pass cannot match wsum_px)."""
    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        adam7_png_payload,
        gray16_png_payload,
        palette_png_payload,
    )

    st = decode_pixel_stats(gray16_png_payload(doc_id))
    w, h, base = doc_id % 12 + 4, doc_id % 10 + 4, doc_id % 30000
    assert (st["width"], st["height"], st["n_ch"]) == (w, h, 1)
    assert st["sum_px"] == sum(base + 64 * y + 16 * x
                               for y in range(h) for x in range(w))
    assert st["wsum_px"] == sum((y * w + x + 1) * (base + 64 * y + 16 * x)
                                for y in range(h) for x in range(w))

    st = decode_pixel_stats(palette_png_payload(doc_id))
    w, h = doc_id % 16 + 4, doc_id % 12 + 4
    pal = [((3 * k + doc_id) % 256) + ((5 * k + doc_id) % 256)
           + ((7 * k + doc_id) % 256) for k in range(4)]
    assert (st["width"], st["height"], st["n_ch"]) == (w, h, 3)
    assert st["wsum_px"] == sum((y * w + x + 1) * pal[x % 4]
                                for y in range(h) for x in range(w))

    st = decode_pixel_stats(adam7_png_payload(doc_id))
    w, h, bv = doc_id % 20 + 5, doc_id % 14 + 5, doc_id % 256
    assert (st["width"], st["height"], st["n_ch"]) == (w, h, 3)
    assert st["wsum_px"] == sum(
        (y * w + x + 1) * ((x % 256) + (y % 256) + bv)
        for y in range(h) for x in range(w))


def test_wsum_catches_position_scrambles():
    """The reason wsum_px exists: a pixel permutation preserves sum_px
    but MUST change wsum_px on non-constant images."""
    import numpy as np

    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        adam7_png_payload,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_png_pixels,
    )

    w, h, px = decode_png_pixels(adam7_png_payload(7))
    p64 = px.astype(np.int64)
    csum = p64.sum(axis=2).ravel()
    weights = np.arange(1, w * h + 1, dtype=np.int64)
    true_w = int((weights * csum).sum())
    scrambled = int((weights * csum[::-1]).sum())  # reversed placement
    assert int(csum.sum()) == int(csum[::-1].sum())  # sum is blind to it
    assert true_w != scrambled                       # wsum is not


@pytest.mark.parametrize("doc_id", IDS)
def test_gif_payload_roundtrips_through_real_lzw(doc_id):
    """r15: the spec-written GIF LZW encoder roundtrips bit-exact
    through the repo's decoder, and the pixel stats match the formula
    sums (incl. the position-weighted form — (x+y)%4 content is 2-D
    position-dependent)."""
    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        gif_payload,
    )

    st = decode_pixel_stats(gif_payload(doc_id))
    w, h = doc_id % 18 + 4, doc_id % 12 + 4
    pal = [((3 * k + doc_id) % 256) + ((5 * k + doc_id) % 256)
           + ((7 * k + doc_id) % 256) for k in range(4)]
    assert (st["fmt"], st["width"], st["height"], st["n_ch"]) == (
        "gif", w, h, 3)
    assert st["sum_px"] == sum(pal[(x + y) % 4]
                               for y in range(h) for x in range(w))
    assert st["wsum_px"] == sum((y * w + x + 1) * pal[(x + y) % 4]
                                for y in range(h) for x in range(w))


def test_gif_lzw_width_growth_and_reset_paths():
    """Force the encoder through its 12-bit CLEAR/reset path with a
    high-entropy index stream; the decoder must still roundtrip it."""
    import numpy as np

    from aws_cloudfront_realtime_monitoring_spark.operators.gif import (
        decode_gif,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        _gif_lzw,
        gif_payload,
    )
    import struct

    rng = np.random.RandomState(11)
    # 32,000 pixels of 4-symbol noise: the dictionary fills to 4096 and
    # resets exactly once at this seed/shape (verified by an
    # instrumented replica), so the CLEAR/reset branch is genuinely
    # exercised, not just present
    w, h = 200, 160
    idx = rng.randint(0, 4, w * h).tolist()
    lzw = _gif_lzw(idx, 2)
    gct = bytes(range(12))  # 4 arbitrary RGB entries
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        blocks += bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
    blocks += b"\x00"
    payload = (b"GIF89a" + struct.pack("<HH", w, h)
               + bytes([0x81, 0, 0]) + gct
               + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
               + bytes([2]) + bytes(blocks) + b"\x3b")
    gw, gh, n, px = decode_gif(payload)
    exp_idx = np.array(idx, np.uint8).reshape(h, w)
    pal = np.frombuffer(gct, np.uint8).reshape(4, 3)
    assert (px == pal[exp_idx]).all()
    # and the tiny-image path stays exact too
    assert decode_gif(gif_payload(255))[3] is not None


@pytest.mark.parametrize("doc_id", IDS)
def test_gif_anim_payload_composites_to_formula_colors(doc_id):
    """r15: GIF animation builder — per-frame local color tables, GCE
    disposal, real LZW — composites to exact frame colors through the
    repo's decoder (the APNG sibling check)."""
    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        gif_anim_frame_color,
        gif_anim_payload,
    )

    p = gif_anim_payload(doc_id)
    w, h, n, screens = composite_frames(animation_frames(p))
    assert (w, h, n) == (doc_id % 16 + 6, doc_id % 10 + 6, doc_id % 3 + 2)
    assert len(screens) == n
    for k, screen in enumerate(screens):
        r, g, b = gif_anim_frame_color(doc_id, k)
        assert (screen[:, :, 0] == r).all()
        assert (screen[:, :, 1] == g).all()
        assert (screen[:, :, 2] == b).all()
