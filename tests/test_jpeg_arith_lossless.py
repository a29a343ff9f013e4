"""Lossless ARITHMETIC JPEG (SOF11) goldens: the T.81 Annex H.1.2.2
statistical model over the shared QM coder.

The encoder below is written from the spec independently of the decoder
(prediction via test_jpeg._lossless_predict, QM transitions via the
shared spec DATA table — see test_jpeg_arith's header for why the table
is shared and how it is invariant-pinned). Bin ROLES and the decision
sequence follow H.1.2.2: 25 two-dimensional conditioning contexts from
the 5-way classes of the neighbour differences, two magnitude trees
selected by whether the b-difference is large, 158 statistics bins.

Interchange blind spot (same note as the SOF9/SOF10 suites): no
arithmetic-capable reference encoder exists in this sandbox (classic
cjpeg has no arithmetic or lossless support), so these goldens pin
encoder/decoder AGREEMENT under a spec-faithful decision sequence plus
exact equality against the independently-coded Huffman-lossless path,
not third-party interchange.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from aws_cloudfront_realtime_monitoring_spark.operators.jpeg import decode_jpeg_pixels
from aws_cloudfront_realtime_monitoring_spark.operators.jpeg_arith import (
    DEFAULT_DC_COND,
)
from test_jpeg import _app14, _lossless_predict, _seg, make_lossless_jpeg
from test_jpeg_arith import _QMEncoder


class _ArithLosslessEncoder:
    """Encode direction of the Annex H lossless model; bin layout
    identical to jpeg_arith.ArithLossless (the layout IS the
    interchange format between this pair)."""

    def __init__(self, dc_cond: dict) -> None:
        self.qm = _QMEncoder()
        self.stats: dict[int, np.ndarray] = {}
        self.dc_cond = dc_cond

    def diff(self, tid: int, ca: int, cb: int, d: int) -> int:
        dst = self.stats.setdefault(tid, np.zeros(158, np.uint8))
        low, up = self.dc_cond.get(tid, DEFAULT_DC_COND)
        base = 4 * (5 * ca + cb)
        if d == 0:
            self.qm.encode(dst, base, 0)
            return 0
        self.qm.encode(dst, base, 1)
        sign = 1 if d < 0 else 0
        self.qm.encode(dst, base + 1, sign)
        v = abs(d) - 1
        m = 0
        if v == 0:
            self.qm.encode(dst, base + 2 + sign, 0)
        else:
            self.qm.encode(dst, base + 2 + sign, 1)
            m = 1
            st = 129 if cb >= 3 else 100  # b-large tree selection
            while v >= 2 * m:
                self.qm.encode(dst, st, 1)
                m <<= 1
                st += 1
            self.qm.encode(dst, st, 0)
            if m > 1:
                st += 14
                mm = m >> 1
                while mm:
                    self.qm.encode(dst, st, 1 if v & mm else 0)
                    mm >>= 1
        if m < (1 << low) >> 1:
            return 0
        if m > (1 << up) >> 1:
            return 3 + sign
        return 1 + sign

    def flush(self) -> bytes:
        return self.qm.flush()


def make_arith_lossless_jpeg(pixels: np.ndarray, predictor: int = 4,
                             pt: int = 0, prec: int = 8, restart: int = 0,
                             split=None, dac: bytes | None = None,
                             dc_cond: dict | None = None,
                             app14: int | None = None) -> bytes:
    """Encode an [h, w, nc] integer array (values < 2^prec) as SOF11."""
    h, w, nc = pixels.shape
    planes = [(pixels[:, :, ci].astype(np.int64) >> pt) for ci in range(nc)]
    default = 1 << (prec - pt - 1)
    split = split if split is not None else [list(range(1, nc + 1))]
    dc_cond = dc_cond or {}

    out = bytearray(b"\xff\xd8")
    if app14 is not None:
        out += _app14(app14)
    sof = bytes([prec]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])
    out += _seg(0xCB, sof)
    if dac is not None:
        out += _seg(0xCC, dac)
    if restart:
        out += _seg(0xDD, struct.pack(">H", restart))

    for group in split:
        sos = bytes([len(group)])
        for cid in group:
            sos += bytes([cid, 0x00])  # DC conditioning table 0
        sos += bytes([predictor, 0, pt])
        out += _seg(0xDA, sos)
        enc = _ArithLosslessEncoder(dc_cond)
        data = bytearray()
        fresh = {cid: True for cid in group}
        first_line = 0
        up_cls = {cid: np.zeros(w, np.uint8) for cid in group}
        left_cls = {cid: 0 for cid in group}
        rst_i = 0
        mcu = 0
        for y in range(h):
            for cid in group:
                left_cls[cid] = 0
            for x in range(w):
                if restart and mcu and mcu % restart == 0:
                    data += enc.flush()
                    data += bytes([0xFF, 0xD0 + (rst_i % 8)])
                    rst_i += 1
                    enc = _ArithLosslessEncoder(dc_cond)
                    fresh = {cid: True for cid in group}
                    first_line = y
                    for cid in group:
                        up_cls[cid][:] = 0
                        left_cls[cid] = 0
                for cid in group:
                    plane = planes[cid - 1]
                    px = _lossless_predict(plane, y, x, predictor,
                                           default, fresh[cid],
                                           first_line)
                    fresh[cid] = False
                    d = (int(plane[y, x]) - px) & 0xFFFF
                    if d > 32768:
                        d -= 65536
                    cls = enc.diff(0, left_cls[cid],
                                   int(up_cls[cid][x]), d)
                    up_cls[cid][x] = cls
                    left_cls[cid] = cls
                mcu += 1
        data += enc.flush()
        out += data
    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------- tests


@pytest.mark.parametrize("predictor", [1, 2, 3, 4, 5, 6, 7])
def test_arith_lossless_gray_exact_roundtrip(predictor):
    rng = np.random.RandomState(89 + predictor)
    px = rng.randint(0, 256, size=(13, 17, 1), dtype=np.uint8)
    w, h, got = decode_jpeg_pixels(
        make_arith_lossless_jpeg(px, predictor=predictor))
    assert (w, h) == (17, 13)
    np.testing.assert_array_equal(got, px)


@pytest.mark.parametrize("predictor", [1, 4, 7])
def test_arith_lossless_matches_huffman_lossless_exactly(predictor):
    """The two entropy layers decode the SAME predictive stream: output
    must be bit-identical (prediction and reconstruction are shared)."""
    rng = np.random.RandomState(3 + predictor)
    px = rng.randint(0, 256, size=(9, 11, 3), dtype=np.uint8)
    a = decode_jpeg_pixels(make_arith_lossless_jpeg(px, predictor=predictor))
    hm = decode_jpeg_pixels(make_lossless_jpeg(px, predictor=predictor))
    assert a[0:2] == hm[0:2]
    np.testing.assert_array_equal(a[2], hm[2])


def test_arith_lossless_split_scans_match_interleaved():
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
    inter = decode_jpeg_pixels(make_arith_lossless_jpeg(px))
    split = decode_jpeg_pixels(
        make_arith_lossless_jpeg(px, split=[[1], [2], [3]]))
    np.testing.assert_array_equal(inter[2], split[2])
    np.testing.assert_array_equal(inter[2], px)


def test_arith_lossless_point_transform():
    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(6, 7, 1), dtype=np.uint8)
    _, _, got = decode_jpeg_pixels(make_arith_lossless_jpeg(px, pt=2))
    np.testing.assert_array_equal(got, (px >> 2) << 2)


def test_arith_lossless_16bit_and_4bit_precision():
    rng = np.random.RandomState(13)
    arr = rng.randint(0, 65536, size=(5, 6, 1)).astype(np.int64)
    _, _, got = decode_jpeg_pixels(
        make_arith_lossless_jpeg(arr, prec=16, predictor=4))
    want = np.clip(np.round(arr * (255.0 / 65535.0)), 0, 255).astype(np.uint8)
    np.testing.assert_array_equal(got, want)
    px4 = rng.randint(0, 16, size=(6, 5, 1)).astype(np.int64)
    _, _, got4 = decode_jpeg_pixels(
        make_arith_lossless_jpeg(px4, prec=4, predictor=2))
    want4 = np.clip(np.round(px4 * (255.0 / 15.0)), 0, 255).astype(np.uint8)
    np.testing.assert_array_equal(got4, want4)


def test_arith_lossless_restart_markers_reset_everything():
    rng = np.random.RandomState(17)
    px = rng.randint(0, 256, size=(7, 9, 1), dtype=np.uint8)
    base = decode_jpeg_pixels(make_arith_lossless_jpeg(px, predictor=5))
    rst = decode_jpeg_pixels(
        make_arith_lossless_jpeg(px, predictor=5, restart=7))
    np.testing.assert_array_equal(base[2], rst[2])
    np.testing.assert_array_equal(rst[2], px)


def test_arith_lossless_dac_conditioning_roundtrip():
    """Non-default L/U thresholds re-shape every conditioning class --
    encoder and decoder must agree through the DAC segment."""
    rng = np.random.RandomState(19)
    px = rng.randint(0, 256, size=(10, 8, 1), dtype=np.uint8)
    cond = {0: (2, 4)}
    dac = bytes([0x00, (2 << 4) | 4])  # Tc=0/Tb=0, L=2 U=4... see note
    # DAC body per B.2.4.3: Tc(4)/Tb(4) then the conditioning byte;
    # for DC (Tc=0) the byte packs U<<4 | L
    dac = bytes([0x00, (4 << 4) | 2])
    got = decode_jpeg_pixels(
        make_arith_lossless_jpeg(px, dac=dac, dc_cond=cond))
    np.testing.assert_array_equal(got[2], px)


def test_arith_lossless_malformed_stays_valueerror():
    rng = np.random.RandomState(23)
    px = rng.randint(0, 256, size=(6, 6, 1), dtype=np.uint8)
    blob = make_arith_lossless_jpeg(px)
    # NOTE truncation INSIDE the entropy data is not detectable for QM
    # streams: T.81 D.2.7's termination convention supplies zero bits
    # past any marker/end, so a cut stream decodes (to wrong samples)
    # rather than desyncing -- unlike the Huffman bit reader, which
    # raises on a marker inside a data unit.
    # Structural truncation must still raise:
    i = blob.index(b"\xff\xda")
    with pytest.raises(ValueError):
        decode_jpeg_pixels(blob[: i + 5])  # cut mid-SOS header
    bad = bytearray(blob)
    i = bad.index(b"\xff\xda")
    bad[i + 2 + 2 + 1 + 2] = 0  # Ss/predictor byte -> invalid 0
    with pytest.raises(ValueError, match="predictor"):
        decode_jpeg_pixels(bytes(bad))


def test_arith_lossless_through_decode_image_metadata():
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import decode_image

    rng = np.random.RandomState(31)
    px = rng.randint(0, 256, size=(12, 20, 3), dtype=np.uint8)
    blob = make_arith_lossless_jpeg(px)
    meta = decode_image(9, blob)
    assert meta == {
        "doc_id": 9, "n_bytes": len(blob), "width": 20, "height": 12,
        "n_frames": 1, "fmt": "jpeg",
    }
