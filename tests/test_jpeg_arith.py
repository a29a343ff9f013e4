"""Arithmetic-coded JPEG (SOF9) tests: golden bytes from an independent
spec-written QM ENCODER (T.81 Annex D encode procedures + the Annex F
encode-direction statistical model — the decode direction in
jpeg_arith.py was written from the F.2 mirror, not from this file).

The probability-estimation table (T.81 Table D.3) is shared with the
decoder by necessity: it is spec DATA with exactly one correct value,
not logic, so a shared transcription error cannot be caught by
roundtrips. It is pinned here instead by structural invariants and by
entropy-convergence on biased sources (gross damage — a swapped
column, a wrong jump — breaks those).

KNOWN residual blind spot (documented, not closable in this build): a
MIRRORED misreading of the Annex F statistical-model layout shared by
both directions (e.g. swapped 189/217 spectral chains on both sides)
would roundtrip cleanly here yet misdecode third-party SOF9 files. The
definitive pin is a golden stream from an external arithmetic encoder
(cjpeg -arithmetic); this sandbox has no codec binary or network, so
the layout is instead spelled in BOTH files independently from the
spec text and cross-cited to T.81 section numbers.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from aws_cloudfront_realtime_monitoring_spark.operators.jpeg import (
    decode_jpeg_pixels,
)
from aws_cloudfront_realtime_monitoring_spark.operators.jpeg_arith import (
    DEFAULT_AC_KX,
    DEFAULT_DC_COND,
    FIXED_STATE,
    QM_TABLE,
    QMDecoder,
)
from test_jpeg import (
    _ZIGZAG,
    _app14,
    _fdct_quant,
    _prep_planes,
    _seg,
    make_jpeg,
    make_jpeg12,
)


# ----------------------------------------------------------- QM encoder
#
# Interval arithmetic written as the ENCODE direction of T.81 D.1: MPS
# takes the lower sub-interval (C unchanged), LPS the upper (C += A)
# unless the conditional exchange swaps them; statistics adapt only on
# renormalization. The code register is a Python bignum, so carry needs
# no byte-stuffing gymnastics: the final stream is any value inside
# [C, C+A) emitted MSB-first, with 0xFF 0x00 byte stuffing applied to
# the finished bytes (the decoder's D.2.7 convention).


class _QMEncoder:
    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.nbits = 0

    def encode(self, st: np.ndarray, i: int, bit: int) -> None:
        sv = int(st[i])
        mps = sv >> 7
        qe, nmps, nlps, switch = QM_TABLE[sv & 0x7F]
        self.a -= qe
        if bit == mps:
            if self.a >= 0x8000:
                return  # no renorm, no adaptation
            if self.a < qe:  # conditional exchange: MPS is the upper
                self.c += self.a
                self.a = qe
            st[i] = (mps << 7) | nmps
        else:
            if self.a >= qe:  # normal: LPS is the upper sub-interval
                self.c += self.a
                self.a = qe
            # exchange: LPS keeps the lower interval (c unchanged)
            if switch:
                mps ^= 1
            st[i] = (mps << 7) | nlps
        while self.a < 0x8000:
            self.a <<= 1
            self.c <<= 1
            self.nbits += 1

    def flush(self) -> bytes:
        """Emit the shortest-trailing-zeros value inside [c, c+a) as a
        byte-stuffed stream (padding bits are zeros, which is exactly
        what the decoder feeds after the data ends)."""
        total = 16 + self.nbits
        hi = self.c + self.a - 1
        v = hi
        for t in range(total, -1, -1):
            cand = hi & ~((1 << t) - 1)
            if cand >= self.c:
                v = cand
                break
        pad = (-total) % 8
        raw = (v << pad).to_bytes((total + pad) // 8, "big")
        out = bytearray()
        for b in raw:
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)


class _ArithSeqEncoder:
    """Encode direction of the Annex F sequential statistical model,
    bin layout identical to jpeg_arith.ArithEntropy (it must be — the
    layout IS the interchange format)."""

    def __init__(self, dc_cond: dict, ac_cond: dict) -> None:
        self.qm = _QMEncoder()
        self.dc_stats: dict[int, np.ndarray] = {}
        self.ac_stats: dict[int, np.ndarray] = {}
        self.fixed = np.full(1, FIXED_STATE, np.uint8)
        self.dc_context: dict[int, int] = {}
        self.pred: dict[int, int] = {}
        self.dc_cond = dc_cond
        self.ac_cond = ac_cond

    def _magnitude(self, enc_bin, stats, st, chain_st, v):
        """Shared category-tree + magnitude-bit emission: v = |value|-1,
        category m with m <= v < 2m. Returns m (context classing)."""
        if v == 0:
            self.qm.encode(stats, st, 0)
            return 0
        self.qm.encode(stats, st, 1)
        m = enc_bin  # 1 for DC (category entry), 2 for AC chain entry
        st = chain_st
        while v >= 2 * m:
            self.qm.encode(stats, st, 1)
            m <<= 1
            st += 1
        self.qm.encode(stats, st, 0)
        if m > 1:
            st += 14
            mm = m >> 1
            while mm:
                self.qm.encode(stats, st, 1 if v & mm else 0)
                mm >>= 1
        return m

    def data_unit(self, cid: int, dc_tid: int, ac_tid: int,
                  zz: np.ndarray) -> None:
        dst = self.dc_stats.setdefault(dc_tid, np.zeros(49, np.uint8))
        low, up = self.dc_cond.get(dc_tid, DEFAULT_DC_COND)
        base = self.dc_context.setdefault(cid, 0)
        diff = int(zz[0]) - self.pred.get(cid, 0)
        self.pred[cid] = int(zz[0])
        if diff == 0:
            self.qm.encode(dst, base, 0)
            self.dc_context[cid] = 0
        else:
            self.qm.encode(dst, base, 1)
            sign = 1 if diff < 0 else 0
            self.qm.encode(dst, base + 1, sign)
            m = self._magnitude(1, dst, base + 2 + sign, 20,
                                abs(diff) - 1)
            if m < (1 << low) >> 1:
                self.dc_context[cid] = 0
            elif m > (1 << up) >> 1:
                self.dc_context[cid] = 12 + 4 * sign
            else:
                self.dc_context[cid] = 4 + 4 * sign
        ast = self.ac_stats.setdefault(ac_tid, np.zeros(245, np.uint8))
        kx = self.ac_cond.get(ac_tid, DEFAULT_AC_KX)
        nonzero = [k for k in range(1, 64) if zz[k] != 0]
        eob = nonzero[-1] + 1 if nonzero else 1
        k = 1
        while k < eob:
            st = 3 * (k - 1)
            self.qm.encode(ast, st, 0)  # not EOB here
            while int(zz[k]) == 0:
                self.qm.encode(ast, st + 1, 0)
                st += 3
                k += 1
            self.qm.encode(ast, st + 1, 1)
            val = int(zz[k])
            self.qm.encode(self.fixed, 0, 1 if val < 0 else 0)
            v = abs(val) - 1
            st += 2
            if v == 0:
                self.qm.encode(ast, st, 0)
            else:
                self.qm.encode(ast, st, 1)
                if v == 1:
                    self.qm.encode(ast, st, 0)
                else:
                    self.qm.encode(ast, st, 1)
                    self._ac_chain(ast, 189 if k <= kx else 217, v)
            k += 1
        if eob <= 63:
            self.qm.encode(ast, 3 * (k - 1), 1)  # EOB

    def _ac_chain(self, ast, chain_st, v):
        m = 2
        st = chain_st
        while v >= 2 * m:
            self.qm.encode(ast, st, 1)
            m <<= 1
            st += 1
        self.qm.encode(ast, st, 0)
        st += 14
        mm = m >> 1
        while mm:
            self.qm.encode(ast, st, 1 if v & mm else 0)
            mm >>= 1

    def flush(self) -> bytes:
        return self.qm.flush()


def make_arith_jpeg(pixels: np.ndarray, quant: int = 1, subsample: int = 1,
                    restart: int = 0, dac: bytes | None = None,
                    dc_cond: dict | None = None, ac_cond: dict | None = None,
                    prec: int = 8, app14: int | None = None,
                    space: str = "auto") -> bytes:
    """Encode an [h, w, 1|3|4] array as SOF9 (extended sequential,
    arithmetic). ``dac``: raw DAC segment body to emit (conditioning
    dicts must match what it declares); restart emits RSTn every N MCUs
    with a full encoder/statistics reset."""
    h, w, nc = pixels.shape
    q = np.full(64, quant, np.int32)
    planes, sampling, mcus_x, mcus_y = _prep_planes(
        pixels, subsample, space, prec)
    dc_cond = dc_cond or {}
    ac_cond = ac_cond or {}

    enc = _ArithSeqEncoder(dc_cond, ac_cond)
    data = bytearray()
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart and mcu_count and mcu_count % restart == 0:
                data += enc.flush()
                data += bytes([0xFF, 0xD0 + ((mcu_count // restart - 1) % 8)])
                enc = _ArithSeqEncoder(dc_cond, ac_cond)
            for ci, (plane, (hs, vs)) in enumerate(zip(planes, sampling)):
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        zz = _fdct_quant(
                            plane[y0:y0 + 8, x0:x0 + 8], q
                        ).reshape(64)[_ZIGZAG]
                        enc.data_unit(ci + 1, 0, 0, zz)
            mcu_count += 1
    data += enc.flush()

    out = bytearray(b"\xff\xd8")
    if app14 is not None:
        out += _app14(app14)
    out += _seg(0xDB, bytes([0]) + bytes(q.astype(np.uint8)))
    sof = bytes([prec]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci, (hs, vs) in enumerate(sampling):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += _seg(0xC9, sof)
    if dac is not None:
        out += _seg(0xCC, dac)
    if restart:
        out += _seg(0xDD, struct.pack(">H", restart))
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])  # DC cond table 0, AC cond table 0
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)
    out += data
    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------- tests


def test_qm_table_invariants():
    """Structural pins on the Table D.3 transcription: 114 rows, Qe
    bounded by half-scale, index closure, switch flags only at the
    q~0.5 rows (the only states where the MPS sense may flip), fixed
    sign state self-looping, and LPS estimates never moving to a LOWER
    Qe (an LPS observation must weaken the skew estimate)."""
    assert len(QM_TABLE) == 114
    for i, (qe, nmps, nlps, switch) in enumerate(QM_TABLE):
        assert 0 < qe < 0x8000, i
        assert 0 <= nmps <= 113 and 0 <= nlps <= 113, i
        if switch:
            # switch rows sit at chain heads where Qe ~ 0.35-0.5 scale
            assert qe >= 0x5000, i
        # (switch rows are exempt: the MPS sense flips there, so the
        # successor's Qe measures the OTHER symbol)
        assert QM_TABLE[nlps][0] >= qe or switch or i == FIXED_STATE, i
        # MPS estimates never raise Qe (an MPS observation strengthens
        # the skew) -- true everywhere in D.3
        assert QM_TABLE[nmps][0] <= qe, i
    qe, nmps, nlps, switch = QM_TABLE[FIXED_STATE]
    assert (nmps, nlps, switch) == (FIXED_STATE, FIXED_STATE, 0)


def test_qm_coder_roundtrip_random_contexts():
    """Bit-exact roundtrip of random decision sequences across several
    adapting context bins plus the fixed bin — encoder and decoder
    evolve their statistics in lockstep or this dies immediately."""
    rng = np.random.RandomState(7)
    for trial in range(20):
        n_bins = 5
        bits = rng.randint(0, 2, size=200 + 37 * trial)
        bins = rng.randint(0, n_bins, size=bits.size)
        enc = _QMEncoder()
        est = np.zeros(n_bins, np.uint8)
        efixed = np.full(1, FIXED_STATE, np.uint8)
        for b, i in zip(bits, bins):
            if i == 0:
                enc.encode(efixed, 0, int(b))
            else:
                enc.encode(est, i, int(b))
        stream = enc.flush() + b"\xff\xd9"  # marker terminates feeding
        dec = QMDecoder(stream, 0)
        dst = np.zeros(n_bins, np.uint8)
        dfixed = np.full(1, FIXED_STATE, np.uint8)
        got = [
            dec.decode(dfixed, 0) if i == 0 else dec.decode(dst, int(i))
            for i in bins
        ]
        assert got == list(bits), f"trial {trial}"
        assert list(dst) == list(est)


def test_qm_coder_adapts_toward_entropy():
    """Adaptive compression of a p-biased i.i.d. source must land near
    the binary entropy H(p) — a grossly wrong table (swapped columns,
    wrong jumps) blows these bounds."""
    rng = np.random.RandomState(11)
    n = 20000
    for p, slack in ((0.5, 1.08), (0.9, 1.25), (0.99, 1.7)):
        bits = (rng.rand(n) < p).astype(int)
        enc = _QMEncoder()
        st = np.zeros(1, np.uint8)
        for b in bits:
            enc.encode(st, 0, int(b))
        out_bits = len(enc.flush()) * 8
        h = -(p * np.log2(p) + (1 - p) * np.log2(1 - p)) if 0 < p < 1 else 0
        assert out_bits <= max(h * n * slack, 0.02 * n), (p, out_bits)


def test_arith_grayscale_matches_huffman_exactly():
    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=(24, 17, 1), dtype=np.uint8)
    ref = decode_jpeg_pixels(make_jpeg(px, quant=2))
    got = decode_jpeg_pixels(make_arith_jpeg(px, quant=2))
    assert got[0] == ref[0] and got[1] == ref[1]
    np.testing.assert_array_equal(got[2], ref[2])


def test_arith_color_444_matches_huffman_exactly():
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    ref = decode_jpeg_pixels(make_jpeg(px, quant=3))
    got = decode_jpeg_pixels(make_arith_jpeg(px, quant=3))
    np.testing.assert_array_equal(got[2], ref[2])


def test_arith_420_subsampled_matches_huffman_exactly():
    # smooth image so 4:2:0 box-averaging is the only loss (mirrors the
    # baseline 4:2:0 test's construction)
    yy, xx = np.mgrid[0:32, 0:24]
    px = np.dstack([
        (yy * 3 + xx * 2) % 256, (yy * 5) % 256, (xx * 7) % 256,
    ]).astype(np.uint8)
    ref = decode_jpeg_pixels(make_jpeg(px, quant=4, subsample=2))
    got = decode_jpeg_pixels(make_arith_jpeg(px, quant=4, subsample=2))
    np.testing.assert_array_equal(got[2], ref[2])


def test_arith_restart_markers_reset_everything():
    rng = np.random.RandomState(9)
    px = rng.randint(0, 256, size=(40, 40, 1), dtype=np.uint8)
    ref = decode_jpeg_pixels(make_jpeg(px, quant=2))
    got = decode_jpeg_pixels(make_arith_jpeg(px, quant=2, restart=3))
    np.testing.assert_array_equal(got[2], ref[2])


def test_arith_dac_conditioning_roundtrip():
    """Non-default conditioning (DC L=1/U=3, AC Kx=16) changes the
    context classing and spectral split on BOTH sides; the pixels must
    still match the Huffman encode of the same coefficients."""
    rng = np.random.RandomState(13)
    px = rng.randint(0, 256, size=(24, 24, 1), dtype=np.uint8)
    dc_cond = {0: (1, 3)}
    ac_cond = {0: 16}
    dac = bytes([0x00, (3 << 4) | 1, 0x10, 16])
    ref = decode_jpeg_pixels(make_jpeg(px, quant=2))
    got = decode_jpeg_pixels(make_arith_jpeg(
        px, quant=2, dac=dac, dc_cond=dc_cond, ac_cond=ac_cond))
    np.testing.assert_array_equal(got[2], ref[2])


def test_arith_12bit_matches_huffman_12bit():
    rng = np.random.RandomState(17)
    px = rng.randint(0, 4096, size=(16, 16, 1))
    ref = decode_jpeg_pixels(make_jpeg12(px, quant=8))
    got = decode_jpeg_pixels(make_arith_jpeg(px, quant=8, prec=12))
    np.testing.assert_array_equal(got[2], ref[2])


def test_arith_multiscan_per_component_matches_single_scan():
    """Each component in its own (non-interleaved) arithmetic scan
    accumulates through the shared multi-scan state and finalizes at
    EOI identically to the one-pass interleaved decode."""
    rng = np.random.RandomState(19)
    px = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    single = make_arith_jpeg(px, quant=3)
    ref = decode_jpeg_pixels(single)

    # rebuild as three scans by re-encoding per component
    q = np.full(64, 3, np.int32)
    planes, sampling, mcus_x, mcus_y = _prep_planes(px, 1)
    scans = []
    for ci, (plane, (hs, vs)) in enumerate(zip(planes, sampling)):
        enc = _ArithSeqEncoder({}, {})
        nby, nbx = plane.shape[0] // 8, plane.shape[1] // 8
        for by in range(nby):
            for bx in range(nbx):
                zz = _fdct_quant(
                    plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8], q
                ).reshape(64)[_ZIGZAG]
                enc.data_unit(ci + 1, 0, 0, zz)
        sos = bytes([1, ci + 1, 0x00, 0, 63, 0])
        scans.append(_seg(0xDA, sos) + enc.flush())
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(q.astype(np.uint8)))
    sof = bytes([8]) + struct.pack(">HH", 16, 16) + bytes([3])
    for ci in range(3):
        sof += bytes([ci + 1, 0x11, 0])
    out += _seg(0xC9, sof)
    for s in scans:
        out += s
    out += b"\xff\xd9"
    got = decode_jpeg_pixels(bytes(out))
    np.testing.assert_array_equal(got[2], ref[2])


def test_arith_multiscan_per_component_restarts_match_single_scan():
    """Per-component arithmetic scans under a DRI: each non-interleaved
    scan restarts every N data units of its component's TRUE block grid
    (fresh decoder and statistics per interval, F.2.1.3.1), and the
    restarted multi-scan decode equals the unrestarted single-scan
    one."""
    rng = np.random.RandomState(23)
    px = rng.randint(0, 256, size=(20, 27, 3), dtype=np.uint8)
    ref = decode_jpeg_pixels(make_arith_jpeg(px, quant=3))

    q = np.full(64, 3, np.int32)
    planes, _sampling, _mx, _my = _prep_planes(px, 1)
    for restart in (1, 5):
        out = bytearray(b"\xff\xd8")
        out += _seg(0xDB, bytes([0]) + bytes(q.astype(np.uint8)))
        sof = bytes([8]) + struct.pack(">HH", 20, 27) + bytes([3])
        for ci in range(3):
            sof += bytes([ci + 1, 0x11, 0])
        out += _seg(0xC9, sof)
        out += _seg(0xDD, struct.pack(">H", restart))
        for ci, plane in enumerate(planes):
            nbx = plane.shape[1] // 8
            enc = _ArithSeqEncoder({}, {})
            data = bytearray()
            for u in range((plane.shape[0] // 8) * nbx):
                if u and u % restart == 0:
                    data += enc.flush()
                    data += bytes([0xFF, 0xD0 + ((u // restart - 1) % 8)])
                    enc = _ArithSeqEncoder({}, {})
                by, bx = divmod(u, nbx)
                zz = _fdct_quant(
                    plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8], q
                ).reshape(64)[_ZIGZAG]
                enc.data_unit(ci + 1, 0, 0, zz)
            data += enc.flush()
            out += _seg(0xDA, bytes([1, ci + 1, 0x00, 0, 63, 0])) + data
        out += b"\xff\xd9"
        got = decode_jpeg_pixels(bytes(out))
        assert got[:2] == ref[:2] == (27, 20)
        np.testing.assert_array_equal(got[2], ref[2])


def test_arith_malformed_stays_valueerror():
    rng = np.random.RandomState(23)
    px = rng.randint(0, 256, size=(16, 16, 1), dtype=np.uint8)
    blob = make_arith_jpeg(px, quant=2, restart=2)
    # truncations across the whole file
    for cut in range(2, len(blob), 7):
        try:
            decode_jpeg_pixels(blob[:cut])
        except ValueError:
            pass
    # single-byte corruptions
    for k in range(0, len(blob), 5):
        mutated = bytearray(blob)
        mutated[k] ^= 0x5A
        try:
            decode_jpeg_pixels(bytes(mutated))
        except ValueError:
            pass


def test_arith_differential_still_rejected():
    rng = np.random.RandomState(29)
    px = rng.randint(0, 256, size=(8, 8, 1), dtype=np.uint8)
    blob = bytearray(make_arith_jpeg(px, quant=2))
    i = blob.index(b"\xff\xc9")
    blob[i + 1] = 0xCD  # differential sequential
    # SOF13 is SUPPORTED since r14 -- inside a DHP-led hierarchical
    # stream (tests/test_jpeg_hier.py decodes it for real); a NAKED
    # differential frame with no pyramid remains malformed
    with pytest.raises(ValueError, match="outside a hierarchical"):
        decode_jpeg_pixels(bytes(blob))
    # SOF11 is SUPPORTED since r13: the same mutation now fails on the
    # DCT-shaped scan header (Ss=0 is no lossless predictor), not
    # "unsupported" (tests/test_jpeg_arith_lossless.py has real decode)
    blob[i + 1] = 0xCB
    with pytest.raises(ValueError, match="predictor"):
        decode_jpeg_pixels(bytes(blob))
    # SOF10 is SUPPORTED since r12: the same mutation now fails only
    # because a sequential scan header is illegal in a progressive
    # frame (Se=63 on what SOF10 reads as a DC scan), not "unsupported"
    blob[i + 1] = 0xCA
    with pytest.raises(ValueError, match="nonzero Se"):
        decode_jpeg_pixels(bytes(blob))


def test_arith_through_decode_image_metadata(spark):
    """The multimodal strict path now reports SOF9 files as real
    'jpeg' with true dimensions."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_image,
    )

    rng = np.random.RandomState(31)
    px = rng.randint(0, 256, size=(24, 17, 3), dtype=np.uint8)
    blob = make_arith_jpeg(px, quant=2)
    meta = decode_image(4, blob)
    assert meta == {
        "doc_id": 4, "n_bytes": len(blob), "width": 17, "height": 24,
        "n_frames": 1, "fmt": "jpeg",
    }


def test_arith_dc_magnitude_cap_matches_huffman_contract():
    """A crafted stream whose DC category exceeds the precision's legal
    range (|diff| > 2047 at 8-bit) must ValueError like the Huffman
    path's _dc_ssss_max check, not decode garbage (r12 review)."""
    from aws_cloudfront_realtime_monitoring_spark.operators.jpeg_arith import (
        ArithEntropy,
    )

    enc = _ArithSeqEncoder({}, {})
    zz = np.zeros(64, np.int64)
    zz[0] = 3000  # category 12: legal at 12-bit, illegal at 8-bit
    enc.data_unit(1, 0, 0, zz)
    stream = enc.flush() + b"\xff\xd9"
    with pytest.raises(ValueError, match="DC magnitude"):
        ArithEntropy(stream, 0, {}, {}).data_unit(1, 0, 0, prec=8)
    # the same stream is legal at 12-bit precision
    out = ArithEntropy(stream, 0, {}, {}).data_unit(1, 0, 0, prec=12)
    assert out[0] == 3000


def test_synth_payload_structural_conformance():
    """The media_synth payloads carry the spec-mandatory structures a
    STRICTER reader would require, not just what our parsers read:
    mp4 has mdhd and a nonzero stsz sample_size (entry table legally
    omitted), webm has TrackNumber/TrackUID, and the mp3 Xing frame is
    padded to its header-declared frame length (r12 review)."""
    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        _MP3_SR_TABLE,
        mp3_payload,
        mp4_payload,
        webm_payload,
    )

    blob = mp4_payload(42)
    assert b"mdhd" in blob
    at = blob.index(b"stsz") + 4 + 4  # fourcc + version/flags
    sample_size, count = struct.unpack_from(">II", blob, at)
    assert sample_size == 4096 and count == 42 % 50 + 1

    wb = webm_payload(42)
    assert b"\xd7" in wb and b"\x73\xc5" in wb  # TrackNumber, TrackUID

    for i in (3, 7, 11):
        mp = mp3_payload(i)
        assert len(mp) == 144 * 128_000 // _MP3_SR_TABLE[i % 3]


# ------------------------------------------ progressive (SOF10) encoder
#
# Encode direction of the T.81 Annex G arithmetic progressive models,
# mirroring the scan geometry of test_jpeg.make_progressive_jpeg. Each
# scan (and each restart interval) is its own entropy segment: fresh QM
# encoder, fresh statistics, fresh DC predictions.


class _ArithProgEncoder(_ArithSeqEncoder):
    def dc_first(self, cid: int, dc_tid: int, zz0: int, al: int) -> None:
        dst = self.dc_stats.setdefault(dc_tid, np.zeros(49, np.uint8))
        low, up = self.dc_cond.get(dc_tid, DEFAULT_DC_COND)
        base = self.dc_context.setdefault(cid, 0)
        v_now = int(zz0) >> al  # arithmetic shift = DC point transform
        diff = v_now - self.pred.get(cid, 0)
        self.pred[cid] = v_now
        if diff == 0:
            self.qm.encode(dst, base, 0)
            self.dc_context[cid] = 0
        else:
            self.qm.encode(dst, base, 1)
            sign = 1 if diff < 0 else 0
            self.qm.encode(dst, base + 1, sign)
            m = self._magnitude(1, dst, base + 2 + sign, 20,
                                abs(diff) - 1)
            if m < (1 << low) >> 1:
                self.dc_context[cid] = 0
            elif m > (1 << up) >> 1:
                self.dc_context[cid] = 12 + 4 * sign
            else:
                self.dc_context[cid] = 4 + 4 * sign

    def dc_refine(self, zz0: int, al: int) -> None:
        self.qm.encode(self.fixed, 0, (int(zz0) >> al) & 1)

    def ac_first(self, ac_tid: int, zz, ss: int, se: int, al: int) -> None:
        ast = self.ac_stats.setdefault(ac_tid, np.zeros(245, np.uint8))
        kx = self.ac_cond.get(ac_tid, DEFAULT_AC_KX)
        vals = {}
        for k in range(ss, se + 1):
            c = int(zz[k])
            a = abs(c) >> al
            vals[k] = a if c >= 0 else -a
        nonzero = [k for k in range(ss, se + 1) if vals[k]]
        eob = nonzero[-1] + 1 if nonzero else ss
        k = ss
        while k < eob:
            st = 3 * (k - 1)
            self.qm.encode(ast, st, 0)  # not EOB at this k
            while vals[k] == 0:
                self.qm.encode(ast, st + 1, 0)
                st += 3
                k += 1
            self.qm.encode(ast, st + 1, 1)
            val = vals[k]
            self.qm.encode(self.fixed, 0, 1 if val < 0 else 0)
            v = abs(val) - 1
            st += 2
            if v == 0:
                self.qm.encode(ast, st, 0)
            else:
                self.qm.encode(ast, st, 1)
                if v == 1:
                    self.qm.encode(ast, st, 0)
                else:
                    self.qm.encode(ast, st, 1)
                    self._ac_chain(ast, 189 if k <= kx else 217, v)
            k += 1
        if eob <= se:
            self.qm.encode(ast, 3 * (k - 1), 1)  # EOB

    def ac_refine(self, ac_tid: int, zz, ss: int, se: int, al: int) -> None:
        ast = self.ac_stats.setdefault(ac_tid, np.zeros(245, np.uint8))
        hist = {}
        vnow = {}
        for k in range(1, se + 1):
            c = int(zz[k])
            hist[k] = abs(c) >> (al + 1)
            a = abs(c) >> al
            vnow[k] = a if c >= 0 else -a
        kex = se
        while kex > 0 and hist[kex] == 0:
            kex -= 1
        events = [k for k in range(ss, se + 1) if vnow[k]]
        ke = events[-1] if events else ss - 1
        k = ss
        while k <= se:
            st = 3 * (k - 1)
            if k > kex:
                if k > ke:  # nothing further in the band: EOB
                    self.qm.encode(ast, st, 1)
                    return
                self.qm.encode(ast, st, 0)
            while True:
                if hist[k]:
                    self.qm.encode(ast, st + 2, abs(vnow[k]) & 1)
                    break
                if vnow[k]:  # newly nonzero: magnitude exactly 1
                    self.qm.encode(ast, st + 1, 1)
                    self.qm.encode(self.fixed, 0, 1 if vnow[k] < 0 else 0)
                    break
                self.qm.encode(ast, st + 1, 0)
                st += 3
                k += 1
            k += 1


def make_arith_progressive_jpeg(pixels: np.ndarray, quant: int = 1,
                                subsample: int = 1, restart: int = 0,
                                prec: int = 8) -> bytes:
    """SOF10: the make_progressive_jpeg scan script (spectral selection
    + successive approximation, fully refined to Al=0) with arithmetic
    entropy segments."""
    from test_jpeg import _block_coefs

    h, w, nc = pixels.shape
    q = np.full(64, quant, np.int32)
    planes, sampling, mcus_x, mcus_y = _prep_planes(pixels, subsample,
                                                    prec=prec)
    coefs = _block_coefs(planes, sampling, q)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    true_grids = []
    for hs, vs in sampling:
        cw = -(-(w * hs) // hmax)
        ch = -(-(h * vs) // vmax)
        true_grids.append((-(-ch // 8), -(-cw // 8)))

    if nc == 3:
        script = [
            ([0, 1, 2], 0, 0, 0, 1),
            ([0], 1, 5, 0, 1), ([0], 6, 63, 0, 1),
            ([1], 1, 63, 0, 1), ([2], 1, 63, 0, 1),
            ([0], 1, 5, 1, 0), ([0], 6, 63, 1, 0),
            ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0),
            ([0, 1, 2], 0, 0, 1, 0),
        ]
    else:
        script = [
            ([0], 0, 0, 0, 1),
            ([0], 1, 63, 0, 1),
            ([0], 1, 63, 1, 0),
            ([0], 0, 0, 1, 0),
        ]

    out = bytearray(b"\xff\xd8")
    if prec == 8:
        out += _seg(0xDB, bytes([0]) + bytes(q.astype(np.uint8)))
    else:
        out += _seg(0xDB, bytes([0x10]) + q.astype(">u2").tobytes())
    sof = bytes([prec]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci, (hs, vs) in enumerate(sampling):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += _seg(0xCA, sof)  # SOF10: progressive DCT, arithmetic

    first_dc = True
    for comps_idx, ss, se, ah, al in script:
        dc_restart = restart if (first_dc and ss == 0 and ah == 0) else 0
        if dc_restart:
            out += _seg(0xDD, struct.pack(">H", restart))
        sos = bytes([len(comps_idx)])
        for ci in comps_idx:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xDA, sos)
        enc = _ArithProgEncoder({}, {})
        data = bytearray()
        if ss == 0:
            def dc_unit(ci, by, bx):
                zz0 = int(coefs[ci][by, bx, 0])
                if ah == 0:
                    enc.dc_first(ci + 1, 0, zz0, al)
                else:
                    enc.dc_refine(zz0, al)

            if len(comps_idx) > 1:
                for u in range(mcus_y * mcus_x):
                    if dc_restart and u and u % dc_restart == 0:
                        data += enc.flush()
                        data += bytes([0xFF,
                                       0xD0 + ((u // dc_restart - 1) % 8)])
                        enc = _ArithProgEncoder({}, {})
                    my, mx = divmod(u, mcus_x)
                    for ci in comps_idx:
                        hs, vs = sampling[ci]
                        for by in range(vs):
                            for bx in range(hs):
                                dc_unit(ci, my * vs + by, mx * hs + bx)
            else:
                ci = comps_idx[0]
                nby, nbx = true_grids[ci]
                for u in range(nby * nbx):
                    if dc_restart and u and u % dc_restart == 0:
                        data += enc.flush()
                        data += bytes([0xFF,
                                       0xD0 + ((u // dc_restart - 1) % 8)])
                        enc = _ArithProgEncoder({}, {})
                    by, bx = divmod(u, nbx)
                    dc_unit(ci, by, bx)
            if dc_restart:
                first_dc = False
                data += enc.flush()
                out += data
                out += _seg(0xDD, struct.pack(">H", 0))  # DRI off again
                continue
            first_dc = False
        else:
            ci = comps_idx[0]
            nby, nbx = true_grids[ci]
            for by in range(nby):
                for bx in range(nbx):
                    if ah == 0:
                        enc.ac_first(0, coefs[ci][by, bx], ss, se, al)
                    else:
                        enc.ac_refine(0, coefs[ci][by, bx], ss, se, al)
        data += enc.flush()
        out += data
    out += b"\xff\xd9"
    return bytes(out)


def test_arith_progressive_color_matches_huffman_progressive():
    rng = np.random.RandomState(37)
    px = rng.randint(0, 256, size=(24, 17, 3), dtype=np.uint8)
    from test_jpeg import make_progressive_jpeg

    ref = decode_jpeg_pixels(make_progressive_jpeg(px, quant=2))
    got = decode_jpeg_pixels(make_arith_progressive_jpeg(px, quant=2))
    assert (got[0], got[1]) == (ref[0], ref[1]) == (17, 24)
    np.testing.assert_array_equal(got[2], ref[2])


def test_arith_progressive_grayscale_matches_sequential_arith():
    rng = np.random.RandomState(41)
    px = rng.randint(0, 256, size=(20, 13, 1), dtype=np.uint8)
    ref = decode_jpeg_pixels(make_arith_jpeg(px, quant=2))
    got = decode_jpeg_pixels(make_arith_progressive_jpeg(px, quant=2))
    np.testing.assert_array_equal(got[2], ref[2])


def test_arith_progressive_420_and_12bit():
    yy, xx = np.mgrid[0:32, 0:24]
    px = np.dstack([
        (yy * 3 + xx * 2) % 256, (yy * 5) % 256, (xx * 7) % 256,
    ]).astype(np.uint8)
    from test_jpeg import make_progressive_jpeg

    ref = decode_jpeg_pixels(make_progressive_jpeg(px, quant=4, subsample=2))
    got = decode_jpeg_pixels(
        make_arith_progressive_jpeg(px, quant=4, subsample=2))
    np.testing.assert_array_equal(got[2], ref[2])

    rng = np.random.RandomState(43)
    px12 = rng.randint(0, 4096, size=(16, 16, 1))
    ref12 = decode_jpeg_pixels(make_jpeg12(px12, quant=8))
    got12 = decode_jpeg_pixels(
        make_arith_progressive_jpeg(px12, quant=8, prec=12))
    np.testing.assert_array_equal(got12[2], ref12[2])


def test_arith_progressive_restart_markers():
    rng = np.random.RandomState(47)
    px = rng.randint(0, 256, size=(40, 40, 1), dtype=np.uint8)
    ref = decode_jpeg_pixels(make_arith_jpeg(px, quant=2))
    got = decode_jpeg_pixels(
        make_arith_progressive_jpeg(px, quant=2, restart=3))
    np.testing.assert_array_equal(got[2], ref[2])


def test_arith_progressive_malformed_stays_valueerror():
    rng = np.random.RandomState(53)
    px = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    blob = make_arith_progressive_jpeg(px, quant=2)
    for cut in range(2, len(blob), 11):
        try:
            decode_jpeg_pixels(blob[:cut])
        except ValueError:
            pass
    for k in range(0, len(blob), 7):
        mutated = bytearray(blob)
        mutated[k] ^= 0x5A
        try:
            decode_jpeg_pixels(bytes(mutated))
        except ValueError:
            pass
