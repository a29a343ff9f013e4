"""Hierarchical (pyramid) JPEG decoder tests: golden bytes from an
INDEPENDENT spec-written encoder (T.81 Annex J marker sequencing + the
test_jpeg FDCT/Huffman primitives), never the decoder under test.

The LOSSLESS pyramid tests are BIT-EXACT: the encoder reconstructs its
own reference planes exactly (lossless), applies its own independent
spelling of the J.1.1.3 expansion filter, and codes mod-2^16
differences -- the decoder must reproduce the original image exactly.
DCT pyramids carry double rounding (base frame + difference frame), so
those tests assert a small bounded tolerance like the other
near-lossless JPEG roundtrips.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from test_jpeg import (
    _AC_SYMBOLS,
    _BitWriter,
    _FDCT,
    _ZIGZAG,
    _dht,
    _encode_blocks,
    _magnitude,
    _seg,
)

from aws_cloudfront_realtime_monitoring_spark.operators.jpeg import decode_jpeg_pixels


# ------------------------------------------------------------ encoder

def _sof_body(prec: int, h: int, w: int,
              comps: list[tuple[int, int, int, int]]) -> bytes:
    body = bytes([prec]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for cid, hs, vs, tq in comps:
        body += bytes([cid, (hs << 4) | vs, tq])
    return body


def _dhp(prec, h, w, comps) -> bytes:
    return _seg(0xDE, _sof_body(prec, h, w, comps))


def _exp(eh: int, ev: int) -> bytes:
    return _seg(0xDF, bytes([(eh << 4) | ev]))


def _sos(comps_tables: list[tuple[int, int, int]], ss: int, se: int,
         ah: int, al: int) -> bytes:
    body = bytes([len(comps_tables)])
    for cid, dct, act in comps_tables:
        body += bytes([cid, (dct << 4) | act])
    body += bytes([ss, se, (ah << 4) | al])
    return _seg(0xDA, body)


def _pad8(plane: np.ndarray) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, (-h) % 8), (0, (-w) % 8)), mode="edge")


def _idct_ref(coef: np.ndarray) -> np.ndarray:
    """The encoder's OWN inverse transform (from its forward basis)."""
    return _FDCT.T @ coef @ _FDCT


def _expand_ref(plane: np.ndarray, eh: int, ev: int,
                out_h: int, out_w: int) -> np.ndarray:
    """Independent spelling of the J.1.1.3 expansion filter."""
    p = plane.astype(np.int64)
    if ev:
        up = np.empty((2 * p.shape[0], p.shape[1]), np.int64)
        up[0::2] = p
        up[1:-1:2] = (p[:-1] + p[1:] + 1) // 2
        up[-1] = p[-1]
        p = up[:out_h]
    if eh:
        up = np.empty((p.shape[0], 2 * p.shape[1]), np.int64)
        up[:, 0::2] = p
        up[:, 1:-1:2] = (p[:, :-1] + p[:, 1:] + 1) // 2
        up[:, -1] = p[:, -1]
        p = up[:, :out_w]
    return p


def _dct_frame_model(plane: np.ndarray, level_shift: bool) -> np.ndarray:
    """What a quant=1 DCT frame reconstructs to, modeled with the
    encoder's own transforms: per block round(FDCT) then IDCT (+128
    clamp for non-differential frames; raw rounded diffs otherwise)."""
    padded = _pad8(plane.astype(np.float64)
                   - (128.0 if level_shift else 0.0))
    h8, w8 = padded.shape
    out = np.empty_like(padded)
    for by in range(h8 // 8):
        for bx in range(w8 // 8):
            blk = padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
            coef = np.round(_FDCT @ blk @ _FDCT.T)
            out[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = _idct_ref(coef)
    out = out[: plane.shape[0], : plane.shape[1]]
    if level_shift:
        return np.clip(np.floor(out + 128.0 + 0.5), 0, 255).astype(np.int64)
    return np.floor(out + 0.5).astype(np.int64)


def _encode_dct_frame(plane: np.ndarray, level_shift: bool,
                      differential: bool) -> bytes:
    """Entropy bytes of a quant=1 grayscale DCT frame; differential
    frames code each block's DC directly (fresh predictor per block)."""
    padded = _pad8(plane.astype(np.float64)
                   - (128.0 if level_shift else 0.0))
    bw = _BitWriter()
    pred = [0]
    q = np.ones(64, np.int32)
    for by in range(padded.shape[0] // 8):
        for bx in range(padded.shape[1] // 8):
            if differential:
                pred = [0]  # T.81 F.1.1.5.1: PRED=0 per block
            blk = padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
            _encode_blocks(bw, [blk], q, pred)
    return bw.flush()


def make_hier_dct_gray(px: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Two-level DCT pyramid of a grayscale image: SOF0 base at half
    resolution, EXP(1,1), SOF5 differential correction. Returns (bytes,
    the encoder's own model of the decoded output)."""
    h, w = px.shape
    base = px[::2, ::2].astype(np.int64)
    bh, bw_ = base.shape
    base_rec = _dct_frame_model(base, level_shift=True)
    up = _expand_ref(base_rec, 1, 1, h, w)
    diff = px.astype(np.int64) - up
    diff_rec = _dct_frame_model(diff, level_shift=False)
    model = np.clip(up + diff_rec, 0, 255)

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(np.ones(64, np.uint8)))
    out += _dhp(8, h, w, [(1, 1, 1, 0)])
    out += _dht(0, 0, [4] * 12, list(range(12)))
    out += _dht(1, 0, [8] * len(_AC_SYMBOLS), list(_AC_SYMBOLS))
    out += _seg(0xC0, _sof_body(8, bh, bw_, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 63, 0, 0)
    out += _encode_dct_frame(base, level_shift=True, differential=False)
    out += _exp(1, 1)
    out += _seg(0xC5, _sof_body(8, h, w, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 63, 0, 0)
    out += _encode_dct_frame(diff, level_shift=False, differential=True)
    out += b"\xff\xd9"
    return bytes(out), model.astype(np.uint8)


def _encode_lossless_plane(plane: np.ndarray, differential: bool,
                           prec: int = 8) -> bytes:
    """Entropy bytes of one lossless scan (predictor 1 for
    non-differential frames, none for differential; H.1.2.1 rules
    spelled independently of the decoder)."""
    bw = _BitWriter()
    h, w = plane.shape
    vals = plane.astype(np.int64)
    for y in range(h):
        for x in range(w):
            if differential:
                pred = 0
            elif y == 0 and x == 0:
                pred = 1 << (prec - 1)
            elif y == 0:
                pred = int(vals[y, x - 1])
            elif x == 0:
                pred = int(vals[y - 1, 0])
            else:
                pred = int(vals[y, x - 1])  # predictor 1: Ra
            d = (int(vals[y, x]) - pred + 32768) % 65536 - 32768
            if d == -32768:
                s, mag = 16, 0  # category 16: +32768, no bits (H.2)
            else:
                s, mag = _magnitude(d)
            bw.write(s, 5)  # uniform 5-bit DC codes for 17 categories
            if s < 16:
                bw.write(mag, s)
    return bw.flush()


def make_hier_lossless_gray(px: np.ndarray, levels: int = 2,
                            prec: int = 8) -> bytes:
    """Lossless pyramid: SOF3 base (predictor 1) + (levels-1) EXP +
    SOF7 differential corrections, BIT-EXACT by construction."""
    stages = [px.astype(np.int64)]
    for _ in range(levels - 1):
        stages.append(stages[-1][::2, ::2])
    stages.reverse()  # smallest first

    out = bytearray(b"\xff\xd8")
    h, w = px.shape
    out += _dhp(prec, h, w, [(1, 1, 1, 0)])
    out += _dht(0, 0, [5] * 17, list(range(17)))
    base = stages[0]
    out += _seg(0xC3, _sof_body(prec, *base.shape, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 1, 0, 0, 0)  # Ss = predictor 1, Al = Pt 0
    out += _encode_lossless_plane(base, differential=False, prec=prec)
    ref = base
    for nxt in stages[1:]:
        nh, nw = nxt.shape
        out += _exp(1, 1)
        up = _expand_ref(ref, 1, 1, nh, nw)
        diff = (nxt - up) & 0xFFFF
        out += _seg(0xC7, _sof_body(prec, nh, nw, [(1, 1, 1, 0)]))
        out += _sos([(1, 0, 0)], 0, 0, 0, 0)  # Ss = 0: no prediction
        out += _encode_lossless_plane(diff, differential=True, prec=prec)
        ref = nxt
    out += b"\xff\xd9"
    return bytes(out)


def _rng(seed: int) -> np.random.RandomState:
    return np.random.RandomState(seed)


# -------------------------------------------------------------- tests

def test_hier_lossless_two_level_roundtrip_exact():
    px = _rng(5).randint(0, 256, (21, 18)).astype(np.int64)
    data = make_hier_lossless_gray(px, levels=2)
    w, h, out = decode_jpeg_pixels(data)
    assert (w, h) == (18, 21)
    np.testing.assert_array_equal(out[:, :, 0], px.astype(np.uint8))


def test_hier_lossless_three_level_roundtrip_exact():
    px = _rng(6).randint(0, 256, (40, 33)).astype(np.int64)
    data = make_hier_lossless_gray(px, levels=3)
    _w, _h, out = decode_jpeg_pixels(data)
    np.testing.assert_array_equal(out[:, :, 0], px.astype(np.uint8))


def test_hier_dct_two_level_close_to_original():
    px = _rng(7).randint(60, 200, (24, 24)).astype(np.int64)
    data, model = make_hier_dct_gray(px.astype(np.uint8)[:, :])
    w, h, out = decode_jpeg_pixels(data)
    assert (w, h) == (24, 24)
    # the decoder must agree with the encoder's own reconstruction
    # model within 1 level (independent IDCT spellings round ties
    # differently), and the pyramid must land near the original
    assert np.abs(out[:, :, 0].astype(int) - model.astype(int)).max() <= 1
    assert np.abs(out[:, :, 0].astype(int) - px).max() <= 4


def test_hier_dct_odd_dimensions_exercise_2w_minus_1_expansion():
    px = _rng(8).randint(0, 256, (17, 13)).astype(np.uint8)
    data, model = make_hier_dct_gray(px)
    w, h, out = decode_jpeg_pixels(data)
    assert (w, h) == (13, 17)
    assert np.abs(out[:, :, 0].astype(int) - model.astype(int)).max() <= 1


def test_hier_lossless_single_axis_expansion():
    """A pyramid that doubles only horizontally: EXP(1,0) with the base
    carrying full vertical resolution."""
    px = _rng(9).randint(0, 256, (12, 19)).astype(np.int64)
    base = px[:, ::2]
    out = bytearray(b"\xff\xd8")
    out += _dhp(8, 12, 19, [(1, 1, 1, 0)])
    out += _dht(0, 0, [5] * 17, list(range(17)))
    out += _seg(0xC3, _sof_body(8, *base.shape, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 1, 0, 0, 0)
    out += _encode_lossless_plane(base, differential=False)
    up = _expand_ref(base, 1, 0, 12, 19)
    diff = (px - up) & 0xFFFF
    out += _exp(1, 0)
    out += _seg(0xC7, _sof_body(8, 12, 19, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 0, 0, 0)
    out += _encode_lossless_plane(diff, differential=True)
    out += b"\xff\xd9"
    _w, _h, got = decode_jpeg_pixels(bytes(out))
    np.testing.assert_array_equal(got[:, :, 0], px.astype(np.uint8))


def test_hier_lossless_final_correction_without_expansion():
    """The classic 'lossless final correction' shape: a full-resolution
    DCT base frame refined by a SOF7 difference with NO expansion --
    the output is the exact original even though a DCT stage is
    involved (output color follows the FIRST frame family: DCT)."""
    px = _rng(10).randint(40, 220, (16, 16)).astype(np.int64)
    base_rec = _dct_frame_model(px, level_shift=True)
    diff = (px - base_rec) & 0xFFFF
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(np.ones(64, np.uint8)))
    out += _dhp(8, 16, 16, [(1, 1, 1, 0)])
    out += _dht(0, 0, [4] * 12, list(range(12)))
    out += _dht(1, 0, [8] * len(_AC_SYMBOLS), list(_AC_SYMBOLS))
    out += _seg(0xC0, _sof_body(8, 16, 16, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 63, 0, 0)
    out += _encode_dct_frame(px, level_shift=True, differential=False)
    out += _dht(0, 1, [5] * 17, list(range(17)))
    out += _seg(0xC7, _sof_body(8, 16, 16, [(1, 1, 1, 0)]))
    out += _sos([(1, 1, 0)], 0, 0, 0, 0)
    out += _encode_lossless_plane(diff, differential=True)
    out += b"\xff\xd9"
    w, h, got = decode_jpeg_pixels(bytes(out))
    assert (w, h) == (16, 16)
    # mod-2^16 correction makes the DCT stage's rounding vanish IF the
    # decoder's base reconstruction matches the encoder's model; allow
    # the documented 1-level IDCT tie slack
    assert np.abs(got[:, :, 0].astype(int) - px).max() <= 1


def test_hier_error_paths():
    px = _rng(11).randint(0, 256, (8, 8)).astype(np.int64)
    good = make_hier_lossless_gray(px, levels=2)
    assert decode_jpeg_pixels(good)[2].shape == (8, 8, 1)

    # differential frame before any reference
    out = bytearray(b"\xff\xd8")
    out += _dhp(8, 8, 8, [(1, 1, 1, 0)])
    out += _dht(0, 0, [5] * 17, list(range(17)))
    out += _seg(0xC7, _sof_body(8, 8, 8, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 0, 0, 0)
    out += _encode_lossless_plane(px & 0xFFFF, differential=True)
    out += b"\xff\xd9"
    with pytest.raises(ValueError, match="reference"):
        decode_jpeg_pixels(bytes(out))

    # EXP before a NON-differential frame
    out = bytearray(b"\xff\xd8")
    out += _dhp(8, 8, 8, [(1, 1, 1, 0)])
    out += _dht(0, 0, [5] * 17, list(range(17)))
    out += _exp(1, 1)
    out += _seg(0xC3, _sof_body(8, 8, 8, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 1, 0, 0, 0)
    out += _encode_lossless_plane(px, differential=False)
    out += b"\xff\xd9"
    with pytest.raises(ValueError, match="EXP before a non-differential"):
        decode_jpeg_pixels(bytes(out))

    # pyramid that never reaches DHP resolution
    out = bytearray(b"\xff\xd8")
    out += _dhp(8, 16, 16, [(1, 1, 1, 0)])
    out += _dht(0, 0, [5] * 17, list(range(17)))
    out += _seg(0xC3, _sof_body(8, 8, 8, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 1, 0, 0, 0)
    out += _encode_lossless_plane(px, differential=False)
    out += b"\xff\xd9"
    with pytest.raises(ValueError, match="DHP resolution"):
        decode_jpeg_pixels(bytes(out))

    # a differential SOF outside any DHP stream stays rejected
    naked = bytearray(b"\xff\xd8")
    naked += _dht(0, 0, [5] * 17, list(range(17)))
    naked += _seg(0xC7, _sof_body(8, 8, 8, [(1, 1, 1, 0)]))
    naked += _sos([(1, 0, 0)], 0, 0, 0, 0)
    naked += _encode_lossless_plane(px & 0xFFFF, differential=True)
    naked += b"\xff\xd9"
    with pytest.raises(ValueError, match="outside a hierarchical"):
        decode_jpeg_pixels(bytes(naked))

    # a multi-component frame whose scans cover only ONE component must
    # be rejected, not reconstructed with fabricated flat channels for
    # the silent components (r14 review: mirrors the non-hierarchical
    # twin's seq_done/loss_done completeness checks)
    comps3 = [(1, 1, 1, 0), (2, 1, 1, 0), (3, 1, 1, 0)]
    out = bytearray(b"\xff\xd8")
    out += _dhp(8, 8, 8, comps3)
    out += _dht(0, 0, [5] * 17, list(range(17)))
    out += _seg(0xC3, _sof_body(8, 8, 8, comps3))
    out += _sos([(1, 0, 0)], 1, 0, 0, 0)
    out += _encode_lossless_plane(px, differential=False)
    out += b"\xff\xd9"
    with pytest.raises(ValueError, match="undelivered"):
        decode_jpeg_pixels(bytes(out))

    # ... and delivering the SAME component twice in one frame is a
    # duplicate, not a silent overwrite
    out = bytearray(b"\xff\xd8")
    out += _dhp(8, 8, 8, comps3)
    out += _dht(0, 0, [5] * 17, list(range(17)))
    out += _seg(0xC3, _sof_body(8, 8, 8, comps3))
    for _ in range(2):
        out += _sos([(1, 0, 0)], 1, 0, 0, 0)
        out += _encode_lossless_plane(px, differential=False)
    out += b"\xff\xd9"
    with pytest.raises(ValueError, match="delivered twice"):
        decode_jpeg_pixels(bytes(out))

    # differential lossless scan must carry predictor 0
    out = bytearray(good)
    # patch the second SOS's Ss byte (predictor field) from 0 to 1:
    # find the second occurrence of the SOS marker
    first = bytes(out).find(b"\xff\xda")
    second = bytes(out).find(b"\xff\xda", first + 2)
    ss_off = second + 2 + 2 + 1 + 2  # len(2) + ns(1) + comp pair(2)
    assert out[ss_off] == 0
    out[ss_off] = 1
    with pytest.raises(ValueError, match="predictor 0"):
        decode_jpeg_pixels(bytes(out))

    # pyramid sequencing: a DHP must lead every frame and EXP, once
    dhp_at = good.find(b"\xff\xde")
    dhp = good[dhp_at:dhp_at + 4 + good[dhp_at + 3] - 2]
    sof_at = good.find(b"\xff\xc3")
    sof_end = sof_at + 2 + good[sof_at + 3]
    late = (good[:dhp_at] + good[dhp_at + len(dhp):sof_end] + dhp
            + good[sof_end:])
    with pytest.raises(ValueError, match="frame before DHP"):
        decode_jpeg_pixels(late)
    with pytest.raises(ValueError, match="EXP outside"):
        decode_jpeg_pixels(good[:dhp_at] + _exp(1, 1) + good[dhp_at:])
    with pytest.raises(ValueError, match="multiple JPEG DHP"):
        decode_jpeg_pixels(good[:sof_at] + dhp + good[sof_at:])
    # ... while a plain file ignores an EXP it never acts on
    from test_jpeg import make_jpeg

    plain = make_jpeg(px.astype(np.uint8)[:, :, None])
    assert np.array_equal(decode_jpeg_pixels(plain[:2] + _exp(1, 1)
                                             + plain[2:])[2],
                          decode_jpeg_pixels(plain)[2])


def test_hier_baseline_frame_must_be_8_bit():
    """T.81 B.2.2 holds inside a pyramid too: SOF0 is 8-bit by
    definition. A 12-bit pyramid whose base frame carries SOF0 is
    rejected; the same frames under SOF1 (extended sequential)
    decode."""
    px = _rng(20).randint(0, 256, (16, 16)).astype(np.uint8)
    data = bytearray(make_hier_dct_gray(px)[0])
    for marker in (b"\xff\xde", b"\xff\xc0", b"\xff\xc5"):
        data[bytes(data).find(marker) + 4] = 12  # P of DHP and frames
    with pytest.raises(ValueError, match="12-bit baseline JPEG invalid"):
        decode_jpeg_pixels(bytes(data))
    data[bytes(data).find(b"\xff\xc0") + 1] = 0xC1
    assert decode_jpeg_pixels(bytes(data))[:2] == (16, 16)


@pytest.mark.parametrize("build", ["lossless", "dct"])
def test_hier_fuzz_valueerror_only(build):
    """Mutations of a valid pyramid either decode or raise ValueError --
    never anything else (the executor-task contract), through the one
    marker walk that reads every frame of the stream."""
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, (12, 10)).astype(np.int64)
    good = (make_hier_lossless_gray(px, levels=2) if build == "lossless"
            else make_hier_dct_gray(px.astype(np.uint8))[0])
    for _ in range(300):
        blob = bytearray(good)
        for _f in range(rng.randint(1, 6)):
            blob[rng.randint(0, len(blob))] = rng.randint(0, 256)
        if rng.rand() < 0.5:
            blob = blob[: rng.randint(2, len(blob))]
        try:
            _w, _h, pix = decode_jpeg_pixels(bytes(blob))
            assert pix.dtype == np.uint8
        except ValueError:
            pass


# ------------------------------------------- arithmetic pyramid frames

def _arith_lossless_scan_bytes(plane: np.ndarray, differential: bool,
                               prec: int = 8) -> bytes:
    """Entropy bytes of one single-component SOF11/SOF15 lossless scan
    (predictor 1 non-diff, none diff), mirroring the decoder's class
    conditioning -- built on test_jpeg_arith_lossless's independent
    Annex H encode model."""
    from test_jpeg_arith_lossless import _ArithLosslessEncoder

    enc = _ArithLosslessEncoder({})
    h, w = plane.shape
    vals = plane.astype(np.int64)
    up_cls = np.zeros(w, np.uint8)
    for y in range(h):
        left_cls = 0
        for x in range(w):
            if differential:
                pred = 0
            elif y == 0 and x == 0:
                pred = 1 << (prec - 1)
            elif y == 0:
                pred = int(vals[y, x - 1])
            elif x == 0:
                pred = int(vals[y - 1, 0])
            else:
                pred = int(vals[y, x - 1])  # predictor 1
            d = (int(vals[y, x]) - pred) & 0xFFFF
            if d > 32768:
                d -= 65536
            cls = enc.diff(0, left_cls, int(up_cls[x]), d)
            up_cls[x] = cls
            left_cls = cls
    return enc.flush()


def test_hier_arith_lossless_pyramid_exact():
    """SOF11 base + EXP + SOF15 differential: the arithmetic lossless
    pyramid roundtrips BIT-EXACTLY."""
    px = _rng(13).randint(0, 256, (14, 11)).astype(np.int64)
    base = px[::2, ::2]
    out = bytearray(b"\xff\xd8")
    out += _dhp(8, *px.shape, [(1, 1, 1, 0)])
    out += _seg(0xCB, _sof_body(8, *base.shape, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 1, 0, 0, 0)
    out += _arith_lossless_scan_bytes(base, differential=False)
    out += _exp(1, 1)
    up = _expand_ref(base, 1, 1, *px.shape)
    diff = (px - up) & 0xFFFF
    out += _seg(0xCF, _sof_body(8, *px.shape, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 0, 0, 0)
    out += _arith_lossless_scan_bytes(diff, differential=True)
    out += b"\xff\xd9"
    w, h, got = decode_jpeg_pixels(bytes(out))
    assert (w, h) == (11, 14)
    np.testing.assert_array_equal(got[:, :, 0], px.astype(np.uint8))


def _arith_dct_scan_bytes(plane: np.ndarray, level_shift: bool,
                          differential: bool) -> bytes:
    """Entropy bytes of a quant=1 grayscale arithmetic DCT scan
    (SOF9/SOF13); differential frames zero the encode-side prediction
    per block, the exact mirror of the decoder's PRED=0 rule."""
    from test_jpeg_arith import _ArithSeqEncoder

    enc = _ArithSeqEncoder({}, {})
    padded = _pad8(plane.astype(np.float64)
                   - (128.0 if level_shift else 0.0))
    for by in range(padded.shape[0] // 8):
        for bx in range(padded.shape[1] // 8):
            if differential:
                enc.pred[1] = 0
            blk = padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
            coef = np.round(_FDCT @ blk @ _FDCT.T).astype(np.int64)
            zz = coef.reshape(64)[_ZIGZAG]
            enc.data_unit(1, 0, 0, zz)
    return enc.flush()


def test_hier_arith_dct_pyramid():
    """SOF9 base + EXP + SOF13 differential correction."""
    px = _rng(14).randint(50, 210, (18, 15)).astype(np.int64)
    base = px[::2, ::2]
    base_rec = _dct_frame_model(base, level_shift=True)
    up = _expand_ref(base_rec, 1, 1, *px.shape)
    diff = px - up
    diff_rec = _dct_frame_model(diff, level_shift=False)
    model = np.clip(up + diff_rec, 0, 255)

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(np.ones(64, np.uint8)))
    out += _dhp(8, *px.shape, [(1, 1, 1, 0)])
    out += _seg(0xC9, _sof_body(8, *base.shape, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 63, 0, 0)
    out += _arith_dct_scan_bytes(base, level_shift=True,
                                 differential=False)
    out += _exp(1, 1)
    out += _seg(0xCD, _sof_body(8, *px.shape, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 63, 0, 0)
    out += _arith_dct_scan_bytes(diff, level_shift=False,
                                 differential=True)
    out += b"\xff\xd9"
    w, h, got = decode_jpeg_pixels(bytes(out))
    assert (w, h) == (15, 18)
    assert np.abs(got[:, :, 0].astype(int) - model.astype(int)).max() <= 1


# ---------------------------------------- progressive differential frames

def _block_dc_deltas(rng, h: int, w: int) -> np.ndarray:
    """A correction image constant within each 8x8 block: its FDCT is
    DC-only (DC = 8*delta exactly), so a differential PROGRESSIVE frame
    carrying only a DC scan reconstructs it EXACTLY -- isolating the
    differential-DC path from AC coding."""
    bh, bw_ = -(-h // 8), -(-w // 8)
    deltas = rng.randint(-12, 13, (bh, bw_)).astype(np.int64)
    return np.repeat(np.repeat(deltas, 8, 0), 8, 1)[:h, :w]


def test_hier_progressive_differential_dc_scan_exact():
    """SOF0 base + SOF6 differential-progressive correction (DC scan
    only): the block-constant correction decodes exactly."""
    rng = _rng(15)
    h, w = 16, 16
    base = rng.randint(60, 180, (h, w)).astype(np.int64)
    base_rec = _dct_frame_model(base, level_shift=True)
    delta = _block_dc_deltas(rng, h, w)
    target = np.clip(base_rec + delta, 0, 255)

    bw = _BitWriter()
    for by in range(h // 8):
        for bx in range(w // 8):
            d = int(delta[by * 8, bx * 8]) * 8  # DC of a constant block
            s, mag = _magnitude(d)
            bw.write(s, 4)  # uniform length-4 DC codes
            bw.write(mag, s)
    dc_scan = bw.flush()

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(np.ones(64, np.uint8)))
    out += _dhp(8, h, w, [(1, 1, 1, 0)])
    out += _dht(0, 0, [4] * 12, list(range(12)))
    out += _dht(1, 0, [8] * len(_AC_SYMBOLS), list(_AC_SYMBOLS))
    out += _seg(0xC0, _sof_body(8, h, w, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 63, 0, 0)
    out += _encode_dct_frame(base, level_shift=True, differential=False)
    out += _seg(0xC6, _sof_body(8, h, w, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 0, 0, 0)  # progressive DC scan, Al=0
    out += dc_scan
    out += b"\xff\xd9"
    _w, _h, got = decode_jpeg_pixels(bytes(out))
    assert np.abs(got[:, :, 0].astype(int) - target.astype(int)).max() <= 1


def test_hier_arith_progressive_differential_dc_scan_exact():
    """SOF9 base + SOF14 differential-progressive correction (DC scan
    only), the arithmetic twin."""
    from test_jpeg_arith import _ArithSeqEncoder

    rng = _rng(16)
    h, w = 16, 16
    base = rng.randint(60, 180, (h, w)).astype(np.int64)
    base_rec = _dct_frame_model(base, level_shift=True)
    delta = _block_dc_deltas(rng, h, w)
    target = np.clip(base_rec + delta, 0, 255)

    enc = _ArithSeqEncoder({}, {})
    from test_jpeg_arith import DEFAULT_DC_COND

    for by in range(h // 8):
        for bx in range(w // 8):
            d = int(delta[by * 8, bx * 8]) * 8
            # DC-only emission with PRED=0: reuse the encoder's DC
            # block by constructing a DC-only unit is not possible
            # without its AC tail, so emit the DC decisions directly
            dst = enc.dc_stats.setdefault(0, np.zeros(49, np.uint8))
            low, up = enc.dc_cond.get(0, DEFAULT_DC_COND)
            basec = enc.dc_context.setdefault(1, 0)
            if d == 0:
                enc.qm.encode(dst, basec, 0)
                enc.dc_context[1] = 0
            else:
                enc.qm.encode(dst, basec, 1)
                sign = 1 if d < 0 else 0
                enc.qm.encode(dst, basec + 1, sign)
                m = enc._magnitude(1, dst, basec + 2 + sign, 20,
                                   abs(d) - 1)
                if m < (1 << low) >> 1:
                    enc.dc_context[1] = 0
                elif m > (1 << up) >> 1:
                    enc.dc_context[1] = 12 + 4 * sign
                else:
                    enc.dc_context[1] = 4 + 4 * sign
    dc_scan = enc.flush()

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(np.ones(64, np.uint8)))
    out += _dhp(8, h, w, [(1, 1, 1, 0)])
    out += _seg(0xC9, _sof_body(8, h, w, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 63, 0, 0)
    out += _arith_dct_scan_bytes(base, level_shift=True,
                                 differential=False)
    out += _seg(0xCE, _sof_body(8, h, w, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], 0, 0, 0, 0)
    out += dc_scan
    out += b"\xff\xd9"
    _w, _h, got = decode_jpeg_pixels(bytes(out))
    assert np.abs(got[:, :, 0].astype(int) - target.astype(int)).max() <= 1


def test_hier_lossless_color_pyramid_exact():
    """Three-component lossless pyramid (one scan per component per
    frame): channels are literal RGB under the lossless conventions."""
    rng = _rng(17)
    px = rng.randint(0, 256, (10, 9, 3)).astype(np.int64)
    comps = [(1, 1, 1, 0), (2, 1, 1, 0), (3, 1, 1, 0)]
    out = bytearray(b"\xff\xd8")
    out += _dhp(8, 10, 9, comps)
    out += _dht(0, 0, [5] * 17, list(range(17)))
    base = px[::2, ::2]
    out += _seg(0xC3, _sof_body(8, *base.shape[:2], comps))
    for ci in range(3):
        out += _sos([(ci + 1, 0, 0)], 1, 0, 0, 0)
        out += _encode_lossless_plane(base[:, :, ci], differential=False)
    out += _exp(1, 1)
    out += _seg(0xC7, _sof_body(8, 10, 9, comps))
    for ci in range(3):
        up = _expand_ref(base[:, :, ci], 1, 1, 10, 9)
        diff = (px[:, :, ci] - up) & 0xFFFF
        out += _sos([(ci + 1, 0, 0)], 0, 0, 0, 0)
        out += _encode_lossless_plane(diff, differential=True)
    out += b"\xff\xd9"
    w, h, got = decode_jpeg_pixels(bytes(out))
    assert (w, h) == (9, 10)
    np.testing.assert_array_equal(got, px.astype(np.uint8))


# ------------------------------------------ restarts in differential frames

def _with_restarts(units: list, restart: int, encode) -> bytes:
    """Entropy bytes of ``units`` split into restart intervals of
    ``restart`` units: ``encode`` codes each interval from a fresh
    encoder (byte-aligned, statistics reset) and RSTn markers, numbered
    mod 8, separate the intervals."""
    out = bytearray()
    for i in range(0, len(units), restart):
        if i:
            out += bytes([0xFF, 0xD0 + (i // restart - 1) % 8])
        out += encode(units[i:i + restart])
    return bytes(out)


def _restarted_pyramid(px: np.ndarray, lossless: bool, arith: bool,
                       restart: int) -> bytes:
    """Two-level grayscale pyramid (base, EXP(1,1), differential frame)
    whose DIFFERENTIAL scan restarts every ``restart`` units (0: no
    DRI). Differential frames predict nothing (PRED=0), so an interval
    codes exactly like a standalone run of its units: samples for the
    Huffman lossless frame, whole rows for the arithmetic one (its
    neighbour classes reset with the interval), blocks for DCT."""
    base = px[::2, ::2]
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(np.ones(64, np.uint8)))
    out += _dhp(8, *px.shape, [(1, 1, 1, 0)])
    if lossless:
        out += _dht(0, 0, [5] * 17, list(range(17)))
        scan = _arith_lossless_scan_bytes if arith else _encode_lossless_plane
        base_bytes = scan(base, differential=False)
        diff = (px - _expand_ref(base, 1, 1, *px.shape)) & 0xFFFF
        units = list(diff) if arith else list(diff.reshape(-1))

        def encode(chunk):  # rows stay 2-D; a run of samples is one row
            return scan(np.atleast_2d(np.array(chunk)), differential=True)

    else:
        out += _dht(0, 0, [4] * 12, list(range(12)))
        out += _dht(1, 0, [8] * len(_AC_SYMBOLS), list(_AC_SYMBOLS))
        scan = _arith_dct_scan_bytes if arith else _encode_dct_frame
        base_bytes = scan(base, level_shift=True, differential=False)
        up = _expand_ref(_dct_frame_model(base, level_shift=True), 1, 1,
                         *px.shape)
        padded = _pad8(px - up)
        units = [padded[by:by + 8, bx:bx + 8]
                 for by in range(0, padded.shape[0], 8)
                 for bx in range(0, padded.shape[1], 8)]

        def encode(chunk):  # the interval's blocks side by side, in order
            return scan(np.hstack(chunk), level_shift=False,
                        differential=True)

    sof_base, sof_diff = {
        (False, False): (0xC0, 0xC5), (False, True): (0xC9, 0xCD),
        (True, False): (0xC3, 0xC7), (True, True): (0xCB, 0xCF),
    }[lossless, arith]
    # lossless: Ss carries the predictor (1 in the base, 0 differential)
    base_band, diff_band = ((1, 0), (0, 0)) if lossless else ((0, 63),) * 2
    out += _seg(sof_base, _sof_body(8, *base.shape, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], *base_band, 0, 0)
    out += base_bytes
    out += _exp(1, 1)
    if restart:  # DRI persists across frames: only the differential
        out += _seg(0xDD, struct.pack(">H", restart))  # frame restarts
    out += _seg(sof_diff, _sof_body(8, *px.shape, [(1, 1, 1, 0)]))
    out += _sos([(1, 0, 0)], *diff_band, 0, 0)
    # DRI counts samples; the arithmetic lossless units are rows
    per = restart // px.shape[1] if lossless and arith else restart
    out += _with_restarts(units, per or len(units), encode)
    out += b"\xff\xd9"
    return bytes(out)


@pytest.mark.parametrize("lossless", [True, False])
@pytest.mark.parametrize("arith", [False, True])
def test_hier_differential_frame_restarts_match_unrestarted(lossless, arith):
    """A DRI ahead of a differential frame restarts its scan every N
    units; the restarted decode equals the unrestarted one (lossless
    pyramids: both equal the source exactly)."""
    px = _rng(19).randint(30, 220, (18, 21)).astype(np.int64)
    plain = decode_jpeg_pixels(
        _restarted_pyramid(px, lossless, arith, 0))
    # arithmetic lossless intervals are whole rows: N = k * width
    for restart in ((21, 42) if lossless and arith else (1, 4)):
        got = decode_jpeg_pixels(
            _restarted_pyramid(px, lossless, arith, restart))
        assert got[:2] == plain[:2] == (21, 18)
        np.testing.assert_array_equal(got[2], plain[2])
    if lossless:
        np.testing.assert_array_equal(plain[2][:, :, 0],
                                      px.astype(np.uint8))


def test_decode_image_reports_hierarchical_as_jpeg():
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import decode_image

    px = _rng(12).randint(0, 256, (10, 14)).astype(np.int64)
    data = make_hier_lossless_gray(px, levels=2)
    row = decode_image(3, data)
    assert (row["fmt"], row["width"], row["height"]) == ("jpeg", 14, 10)
