"""APNG frame decoding + static tRNS color-key (r13 verdict #5).

Goldens come from an independent spec-written APNG encoder built on the
test_png_full chunk/serialize helpers (never the decoder under test),
and compositing expectations are computed by a separate pure-Python
reference compositor using exact Fraction arithmetic -- so the numpy
fast path in operators/apng.py is cross-checked, not mirrored.
"""

from __future__ import annotations

import struct
import sys
import zlib
from fractions import Fraction
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from test_png_full import _chunk, _serialize, _rng, make_png, _SIG

from aws_cloudfront_realtime_monitoring_spark.operators.apng import (
    apng_frames,
)
from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
    composite_frames,
    decode_image,
    decode_png_pixels,
)


def _screens(payload, keep_indices=None):
    """(width, height, kept canvases) through the compositor."""
    w, h, _n, screens = composite_frames(apng_frames(payload), keep_indices)
    return w, h, screens


# --------------------------------------------------------------- encoder

def _fctl(seq, w, h, x=0, y=0, dispose=0, blend=0):
    return _chunk(b"fcTL", struct.pack(
        ">IIIIIHHBB", seq, w, h, x, y, 1, 10, dispose, blend))


def make_apng(canvas, frames, depth=8, color_type=None, static=None,
              palette=None, trns=None, interlace=0, actl_frames=None,
              break_seq=False):
    """Independent APNG encoder. ``frames`` is a list of
    (samples[h,w,ch], x, y, dispose, blend). With ``static`` given, the
    IDAT image is NOT part of the animation (all fcTLs follow IDAT);
    otherwise frame 0 is the IDAT image (must cover the canvas)."""
    cw, ch_px = canvas
    ch = frames[0][0].shape[2] if static is None else static.shape[2]
    if color_type is None:
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    body = _chunk(b"IHDR", struct.pack(
        ">IIBBBBB", cw, ch_px, depth, color_type, 0, 0, interlace))
    if palette is not None:
        body += _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    if trns is not None:
        body += _chunk(b"tRNS", trns)
    n = len(frames) if actl_frames is None else actl_frames
    body += _chunk(b"acTL", struct.pack(">II", n, 0))
    seq = 0

    def z(samples):
        return zlib.compress(_serialize(samples, depth, ch, interlace, (0,)))

    if static is None:
        s0, x0, y0, d0, b0 = frames[0]
        body += _fctl(seq, s0.shape[1], s0.shape[0], x0, y0, d0, b0)
        seq += 1
        body += _chunk(b"IDAT", z(s0))
        rest = frames[1:]
    else:
        body += _chunk(b"IDAT", z(static))
        rest = frames
    for s, x, y, d, b in rest:
        body += _fctl(seq, s.shape[1], s.shape[0], x, y, d, b)
        seq += 1
        fseq = seq + (7 if break_seq else 0)
        body += _chunk(b"fdAT", struct.pack(">I", fseq) + z(s))
        seq += 1
    return _SIG + body + _chunk(b"IEND", b"")


# ------------------------------------------- reference compositor (exact)

def _ref_over(dst, src, amax):
    """Porter-Duff over in exact Fractions, rounded half-away-from-zero."""
    sa, da = Fraction(src[3], amax), Fraction(dst[3], amax)
    oa = sa + da * (1 - sa)
    out = []
    for i in range(3):
        if oa == 0:
            out.append(0)
            continue
        oc = (src[i] * sa + dst[i] * da * (1 - sa)) / oa
        out.append(int(oc + Fraction(1, 2)))
    out.append(int(oa * amax + Fraction(1, 2)))
    return tuple(out)


def reference_composite(canvas, frames_rgba, amax=255):
    """frames_rgba: list of (rgba_list_of_lists, x, y, dispose, blend).
    Returns the list of per-step canvas states (lists of lists of RGBA
    tuples) -- pure Python, no numpy."""
    cw, ch = canvas
    screen = [[(0, 0, 0, 0)] * cw for _ in range(ch)]
    out = []
    for i, (px, x, y, dispose, blend) in enumerate(frames_rgba):
        fh, fw = len(px), len(px[0])
        if i == 0 and dispose == 2:
            dispose = 1
        snap = [row[x:x + fw] for row in screen[y:y + fh]] \
            if dispose == 2 else None
        for r in range(fh):
            for c in range(fw):
                if blend == 0 or i == 0:
                    screen[y + r][x + c] = tuple(px[r][c])
                else:
                    screen[y + r][x + c] = _ref_over(
                        screen[y + r][x + c], tuple(px[r][c]), amax)
        out.append([row[:] for row in screen])
        if dispose == 1:
            for r in range(fh):
                for c in range(fw):
                    screen[y + r][x + c] = (0, 0, 0, 0)
        elif dispose == 2:
            for r in range(fh):
                for c in range(fw):
                    screen[y + r][x + c] = snap[r][c]
    return out


def _assert_screens(got, want):
    assert len(got) == len(want)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, np.array(w, g.dtype))


# ------------------------------------------------- static tRNS color-key

def test_trns_color_key_gray8():
    px = np.array([[[7], [9]], [[9], [7]]], np.uint8)
    data = make_png(px, depth=8, trns=struct.pack(">H", 9))
    w, h, out = decode_png_pixels(data)
    assert (w, h) == (2, 2) and out.shape == (2, 2, 2)
    np.testing.assert_array_equal(out[:, :, 0], px[:, :, 0])
    np.testing.assert_array_equal(
        out[:, :, 1], np.array([[255, 0], [0, 255]], np.uint8))


def test_trns_color_key_rgb16():
    px = np.array([[[1000, 2000, 3000], [4, 5, 6]]], np.uint16)
    data = make_png(px, depth=16, trns=struct.pack(">3H", 1000, 2000, 3000))
    w, h, out = decode_png_pixels(data)
    assert out.shape == (1, 2, 4) and out.dtype == np.uint16
    np.testing.assert_array_equal(
        out[:, :, 3], np.array([[0, 65535]], np.uint16))


def test_trns_color_key_subbyte_gray_matches_at_source_depth():
    # depth-2 samples scale to v*85 for PRESENTATION, but the key (3)
    # must match the raw sample value, not the scaled one
    px = np.array([[[0], [1], [2], [3]]], np.uint8)
    data = make_png(px, depth=2, trns=struct.pack(">H", 3))
    _w, _h, out = decode_png_pixels(data)
    assert out.shape == (1, 4, 2)
    np.testing.assert_array_equal(out[:, :, 0], [[0, 85, 170, 255]])
    np.testing.assert_array_equal(out[:, :, 1], [[255, 255, 255, 0]])


def test_trns_color_key_partial_match_is_opaque():
    # RGB pixels matching the key in SOME channels stay opaque
    px = np.array([[[9, 9, 9], [9, 9, 8]]], np.uint8)
    data = make_png(px, depth=8, trns=struct.pack(">3H", 9, 9, 9))
    _w, _h, out = decode_png_pixels(data)
    np.testing.assert_array_equal(out[:, :, 3], [[0, 255]])


def test_trns_wrong_length_ignored_like_corrupt_ancillary():
    px = np.array([[[7, 8, 9]]], np.uint8)
    data = make_png(px, depth=8, trns=b"\x00\x09\x00")  # 3 bytes: invalid
    _w, _h, out = decode_png_pixels(data)
    assert out.shape == (1, 1, 3)  # no alpha synthesized


def test_trns_key_beyond_depth_matches_nothing():
    px = np.array([[[0], [255]]], np.uint8)
    data = make_png(px, depth=8, trns=struct.pack(">H", 300))
    _w, _h, out = decode_png_pixels(data)
    assert out.shape == (1, 2, 2)
    np.testing.assert_array_equal(out[:, :, 1], [[255, 255]])


# --------------------------------------------------------- APNG decoding

def _rgba(r, g, b, a):
    return [r, g, b, a]


def test_apng_two_frames_idat_first_full_replace():
    f0 = np.full((4, 4, 4), 100, np.uint8)
    f1 = np.full((2, 2, 4), 200, np.uint8)
    data = make_apng((4, 4), [(f0, 0, 0, 0, 0), (f1, 1, 1, 0, 0)])
    w, h, screens = _screens(data)
    assert (w, h) == (4, 4) and len(screens) == 2
    want = reference_composite((4, 4), [
        ([[_rgba(100, 100, 100, 100)] * 4] * 4, 0, 0, 0, 0),
        ([[_rgba(200, 200, 200, 200)] * 2] * 2, 1, 1, 0, 0),
    ])
    _assert_screens(screens, want)


def test_apng_blend_over_and_dispose_background_match_reference():
    r = _rng(3)
    f0 = r.randint(0, 256, (4, 4, 4)).astype(np.uint8)
    f1 = r.randint(0, 256, (2, 3, 4)).astype(np.uint8)
    f2 = r.randint(0, 256, (3, 2, 4)).astype(np.uint8)
    specs = [(f0, 0, 0, 0, 0), (f1, 1, 2, 1, 1), (f2, 2, 0, 0, 1)]
    data = make_apng((4, 4), specs)
    _w, _h, screens = _screens(data)
    want = reference_composite(
        (4, 4), [(s.tolist(), x, y, d, b) for s, x, y, d, b in specs])
    _assert_screens(screens, want)


def test_apng_dispose_previous_reverts_region():
    f0 = np.full((3, 3, 4), 50, np.uint8)
    f1 = np.full((2, 2, 4), 250, np.uint8)
    f2 = np.full((1, 1, 4), 10, np.uint8)
    specs = [(f0, 0, 0, 0, 0), (f1, 0, 0, 2, 0), (f2, 2, 2, 0, 0)]
    data = make_apng((3, 3), specs)
    _w, _h, screens = _screens(data)
    want = reference_composite(
        (3, 3), [(s.tolist(), x, y, d, b) for s, x, y, d, b in specs])
    _assert_screens(screens, want)
    # frame 2's screen shows f0 again where f1 was (except its own px)
    np.testing.assert_array_equal(screens[2][0, 0], [50, 50, 50, 50])


def test_apng_first_frame_dispose_previous_degrades_to_background():
    f0 = np.full((2, 2, 4), 99, np.uint8)
    f1 = np.full((1, 1, 4), 7, np.uint8)
    data = make_apng((2, 2), [(f0, 0, 0, 2, 0), (f1, 1, 1, 0, 0)])
    _w, _h, screens = _screens(data)
    # after frame 0's BACKGROUND-degraded dispose, the canvas is clear:
    # frame 1 shows only its own pixel
    np.testing.assert_array_equal(screens[1][0, 0], [0, 0, 0, 0])
    np.testing.assert_array_equal(screens[1][1, 1], [7, 7, 7, 7])


def test_apng_static_idat_not_in_animation():
    static = np.full((3, 3, 4), 123, np.uint8)
    f0 = np.full((2, 2, 4), 200, np.uint8)
    data = make_apng((3, 3), [(f0, 0, 1, 0, 0)], static=static)
    w, h, screens = _screens(data)
    assert (w, h, len(screens)) == (3, 3, 1)
    # animation starts from a TRANSPARENT canvas, not the static image
    np.testing.assert_array_equal(screens[0][0, 0], [0, 0, 0, 0])
    np.testing.assert_array_equal(screens[0][1, 0], [200, 200, 200, 200])
    # while the static decoder shows the IDAT image
    _w, _h, px = decode_png_pixels(data)
    np.testing.assert_array_equal(px[0, 0], [123, 123, 123, 123])


def test_apng_gray_and_palette_sources_expand_to_rgba():
    g0 = np.array([[[3]]], np.uint8)  # depth-2 gray, scales to 255
    g1 = np.array([[[1]]], np.uint8)  # scales to 85
    data = make_apng((1, 1), [(g0, 0, 0, 0, 0), (g1, 0, 0, 0, 0)], depth=2)
    _w, _h, screens = _screens(data)
    np.testing.assert_array_equal(screens[0][0, 0], [255, 255, 255, 255])
    np.testing.assert_array_equal(screens[1][0, 0], [85, 85, 85, 255])

    pal = np.array([[10, 20, 30], [40, 50, 60]], np.uint8)
    p0 = np.array([[[0]]], np.uint8)
    p1 = np.array([[[1]]], np.uint8)
    data = make_apng((1, 1), [(p0, 0, 0, 0, 0), (p1, 0, 0, 0, 0)],
                     depth=8, color_type=3, palette=pal, trns=b"\x80")
    _w, _h, screens = _screens(data)
    np.testing.assert_array_equal(screens[0][0, 0], [10, 20, 30, 128])
    np.testing.assert_array_equal(screens[1][0, 0], [40, 50, 60, 255])


def test_apng_16bit_blend_over_matches_fraction_reference():
    f0 = np.array([[[60000, 30000, 10000, 40000]]], np.uint16)
    f1 = np.array([[[1000, 2000, 3000, 20000]]], np.uint16)
    specs = [(f0, 0, 0, 0, 0), (f1, 0, 0, 0, 1)]
    data = make_apng((1, 1), specs, depth=16)
    _w, _h, screens = _screens(data)
    assert screens[0].dtype == np.uint16
    want = reference_composite(
        (1, 1), [(s.tolist(), x, y, d, b) for s, x, y, d, b in specs],
        amax=65535)
    _assert_screens(screens, want)


def test_apng_retention_contract():
    frames = [(np.full((1, 1, 4), i, np.uint8), 0, 0, 0, 0)
              for i in range(5)]
    data = make_apng((1, 1), frames)
    _w, _h, screens = _screens(data, keep_indices={1, 3})
    assert [int(s[0, 0, 0]) for s in screens] == [1, 3]
    _w, _h, screens = _screens(data, keep_indices={0, 1})
    assert [int(s[0, 0, 0]) for s in screens] == [0, 1]
    assert len(apng_frames(data).frames) == 5


def test_apng_default_frame_cap_refuses_never_trims(monkeypatch):
    import aws_cloudfront_realtime_monitoring_spark.operators.multimodal as mm

    frames = [(np.full((1, 1, 4), i, np.uint8), 0, 0, 0, 0)
              for i in range(4)]
    data = make_apng((1, 1), frames)
    default = mm.DEFAULT_MAX_FRAMES
    monkeypatch.setattr(mm, "DEFAULT_MAX_FRAMES", 3)
    with pytest.raises(ValueError, match="retention cap"):
        _screens(data)
    assert default >= 256  # module default unchanged


def test_apng_malformed_animation_raises():
    f0 = np.full((2, 2, 4), 9, np.uint8)
    f1 = np.full((1, 1, 4), 3, np.uint8)
    good = make_apng((2, 2), [(f0, 0, 0, 0, 0), (f1, 0, 0, 0, 0)])
    # out-of-order sequence numbers
    bad_seq = make_apng((2, 2), [(f0, 0, 0, 0, 0), (f1, 0, 0, 0, 0)],
                        break_seq=True)
    with pytest.raises(ValueError, match="sequence"):
        _screens(bad_seq)
    # acTL count mismatch
    bad_n = make_apng((2, 2), [(f0, 0, 0, 0, 0), (f1, 0, 0, 0, 0)],
                      actl_frames=5)
    with pytest.raises(ValueError, match="declares"):
        _screens(bad_n)
    # frame region outside the canvas
    with pytest.raises(ValueError, match="geometry"):
        _screens(
            make_apng((2, 2), [(f0, 0, 0, 0, 0), (f1, 2, 2, 0, 0)]))
    # the good one still decodes (guards the guards)
    assert len(_screens(good)[2]) == 2


def test_decode_image_reports_apng_and_falls_back_when_malformed():
    f0 = np.full((2, 2, 4), 10, np.uint8)
    f1 = np.full((1, 1, 4), 20, np.uint8)
    good = make_apng((2, 2), [(f0, 0, 0, 0, 0), (f1, 0, 0, 0, 0)])
    row = decode_image(1, good)
    assert (row["fmt"], row["n_frames"], row["width"]) == ("apng", 2, 2)
    # malformed ANIMATION on a decodable static image: the spec's
    # APNG-unaware fallback -- static metadata, never the fake path
    bad = make_apng((2, 2), [(f0, 0, 0, 0, 0), (f1, 0, 0, 0, 0)],
                    actl_frames=9)
    row = decode_image(2, bad)
    assert (row["fmt"], row["n_frames"]) == ("png", 1)
    # a corrupt ANIMATION chunk (bad fcTL CRC): the one chunk walk records
    # the defect instead of raising it -- the static image still decodes,
    # and only the animation consumers raise it
    at = good.index(b"fcTL") + 4 + 26  # the first fcTL's CRC
    bad_crc = good[:at] + bytes(b ^ 0xFF for b in good[at : at + 4]) \
        + good[at + 4 :]
    row = decode_image(4, bad_crc)
    assert (row["fmt"], row["n_frames"]) == ("png", 1)
    with pytest.raises(ValueError, match="CRC mismatch"):
        _screens(bad_crc)
    # a plain static PNG still reports png/1
    row = decode_image(3, make_png(np.full((2, 2, 3), 5, np.uint8)))
    assert (row["fmt"], row["n_frames"]) == ("png", 1)


def test_decode_image_apng_frame_count_contract():
    row = decode_image(1, make_png(np.full((1, 1, 3), 5, np.uint8)))
    assert (row["fmt"], row["n_frames"]) == ("png", 1)
    f0 = np.full((1, 1, 4), 1, np.uint8)
    data = make_apng((1, 1), [(f0, 0, 0, 0, 0)])
    row = decode_image(2, data)
    assert (row["fmt"], row["n_frames"]) == ("apng", 1)


def test_apng_adam7_interlaced_frames_roundtrip():
    r = _rng(11)
    f0 = r.randint(0, 256, (9, 10, 4)).astype(np.uint8)
    f1 = r.randint(0, 256, (5, 6, 4)).astype(np.uint8)
    specs = [(f0, 0, 0, 0, 0), (f1, 3, 2, 0, 0)]
    data = make_apng((10, 9), specs, interlace=1)
    _w, _h, screens = _screens(data)
    want = reference_composite(
        (10, 9), [(s.tolist(), x, y, d, b) for s, x, y, d, b in specs])
    _assert_screens(screens, want)


def test_sample_animation_frames_handles_apng(spark):
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        sample_animation_frames,
    )

    frames = [(np.full((2, 2, 4), 40 * (i + 1), np.uint8), 0, 0, 0, 0)
              for i in range(5)]
    apng = make_apng((2, 2), frames)
    df = spark.createDataFrame(
        [(1, bytearray(apng)), (2, bytearray(b"notmedia"))],
        "doc_id long, payload binary")
    rows = {(r.doc_id, r.frame_idx): r
            for r in sample_animation_frames(df, n_samples=2).collect()}
    assert set(rows) == {(1, 0), (1, 4)}  # invalid payload dropped
    r0, r4 = rows[(1, 0)], rows[(1, 4)]
    assert (r0.n_frames, r0.width, r0.height) == (5, 2, 2)
    assert (r0.mean_r, r0.mean_g, r0.mean_b) == (40, 40, 40)
    assert (r4.mean_r, r4.mean_g, r4.mean_b) == (200, 200, 200)
