"""Baseline-JPEG decoder tests: golden bytes from an INDEPENDENT encoder
written from ITU-T T.81 (forward DCT + canonical-Huffman entropy coding +
marker layout built here, not from the decoder under test)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from aws_cloudfront_realtime_monitoring_spark.operators.jpeg import (
    decode_jpeg_pixels,
)


def _spec_zigzag() -> np.ndarray:
    """Zigzag scan order derived HERE from T.81's geometric rule (walk
    the anti-diagonals y+x = d, alternating direction, starting up-right
    from (0,0)) -- NOT imported from the decoder.  A transcription typo
    in the decoder's hardcoded table would break the roundtrip against
    this independent derivation instead of self-cancelling."""
    order = []
    for d in range(15):
        ys = list(range(max(0, d - 7), min(7, d) + 1))
        if d % 2 == 0:  # even diagonals run up-right: y descending
            ys.reverse()
        order.extend(y * 8 + (d - y) for y in ys)
    return np.array(order)


_ZIGZAG = _spec_zigzag()

#: forward-DCT basis from T.81 A.3.3's own formula (C(u)/2 *
#: cos((2x+1)u pi/16), C(0)=1/sqrt(2)), spelled independently of the
#: decoder's IDCT matrix: coef = _FDCT @ block @ _FDCT.T
_FDCT = np.array([
    [
        (np.sqrt(0.125) if u == 0 else 0.5)
        * np.cos((2 * x + 1) * u * np.pi / 16)
        for x in range(8)
    ]
    for u in range(8)
])

# encoder Huffman design: uniform-length canonical tables (valid per
# T.81, just inefficient). DC: 12 symbols at length 4 (8-bit) or 16 at
# length 5 (12-bit); AC: all (run, size) symbols at length 8 -- size
# runs to 14 so the same table serves 8- and 12-bit frames (T.81 F.6).
_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)
]


def _dc_code12(sym: int) -> tuple[int, int]:
    return sym, 5  # 16 DC categories need 5-bit uniform codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        while self.n:
            self.write(1, 1)  # pad with 1s
        return bytes(self.out)


def _dc_code(sym: int) -> tuple[int, int]:
    return sym, 4  # canonical code == symbol index at uniform length 4


def _ac_code(sym: int) -> tuple[int, int]:
    return _AC_SYMBOLS.index(sym), 8


def _magnitude(v: int) -> tuple[int, int]:
    """(size s, s-bit magnitude code) per T.81 F.1.2.1."""
    s = int(v != 0 and int(np.floor(np.log2(abs(v)))) + 1)
    if v < 0:
        v = v + (1 << s) - 1
    return s, v


def _fdct_quant(block: np.ndarray, q: np.ndarray) -> np.ndarray:
    coef = _FDCT @ block @ _FDCT.T
    return np.round(coef / q.reshape(8, 8)).astype(np.int32)


def _encode_blocks(bw, blocks, q, pred_holder, dc_code=_dc_code):
    for block in blocks:
        # zz[i] = block position _ZIGZAG[i]: the scan-order coefficient list
        zz = _fdct_quant(block, q).reshape(64)[_ZIGZAG]
        diff = int(zz[0]) - pred_holder[0]
        pred_holder[0] = int(zz[0])
        s, mag = _magnitude(diff)
        code, n = dc_code(s)
        bw.write(code, n)
        bw.write(mag, s)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, n = _ac_code(0xF0)
                bw.write(code, n)
                run -= 16
            s, mag = _magnitude(v)
            code, n = _ac_code((run << 4) | s)
            bw.write(code, n)
            bw.write(mag, s)
            run = 0
        if run:
            code, n = _ac_code(0x00)
            bw.write(code, n)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _dht(tc: int, th: int, lengths: list[int], symbols: list[int]) -> bytes:
    counts = [0] * 16
    for ln in lengths:
        counts[ln - 1] += 1
    return _seg(0xC4, bytes([tc << 4 | th] + counts + symbols))


def _prep_planes(pixels: np.ndarray, subsample: int, space: str = "auto",
                 prec: int = 8):
    """Color-convert, chroma-downsample, and pad the component planes to
    the MCU grid (shared by the baseline and progressive encoders).
    ``space`` "auto": 3 channels go through the forward JFIF matrix
    (YCbCr), 1 and 4 channels encode raw; "raw": every channel encodes
    as its stored sample minus the level shift (how CMYK planes and
    Adobe transform-0 RGB land in a file). ``prec``: sample precision --
    the level shift is 2^(P-1) (T.81 A.3.1).
    Returns (planes, sampling, mcus_x, mcus_y)."""
    h, w, nc = pixels.shape
    half = float(1 << (prec - 1))
    px = pixels.astype(np.float64)
    if nc == 3 and space == "auto":
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        comps_full = [
            0.299 * r + 0.587 * g + 0.114 * b - half,
            -0.168736 * r - 0.331264 * g + 0.5 * b,
            0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
        sampling = [(subsample, subsample), (1, 1), (1, 1)]
    else:
        comps_full = [px[:, :, ci] - half for ci in range(nc)]
        sampling = [(1, 1)] * nc
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    planes = []
    for plane, (hs, vs) in zip(comps_full, sampling):
        if (hs, vs) != (hmax, vmax):  # downsample chroma by box average
            fy, fx = vmax // vs, hmax // hs
            ph = -(-plane.shape[0] // fy) * fy
            pw = -(-plane.shape[1] // fx) * fx
            padded = np.pad(plane, ((0, ph - plane.shape[0]),
                                    (0, pw - plane.shape[1])), mode="edge")
            plane = padded.reshape(ph // fy, fy, pw // fx, fx).mean((1, 3))
        th, tw = mcus_y * vs * 8, mcus_x * hs * 8
        plane = np.pad(plane, ((0, th - plane.shape[0]),
                               (0, tw - plane.shape[1])), mode="edge")
        planes.append(plane)
    return planes, sampling, mcus_x, mcus_y


def _app14(transform: int) -> bytes:
    """Adobe APP14 segment: 'Adobe' + version + flags0/1 + transform."""
    return _seg(0xEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, transform))


def make_jpeg(pixels: np.ndarray, quant: int = 1, subsample: int = 1,
              restart: int = 0, app14: int | None = None,
              space: str = "auto", comp_ids: list[int] | None = None) -> bytes:
    """Encode an [h, w, 1|3|4] uint8 array as baseline JFIF. ``quant``:
    uniform quantization step; ``subsample`` 2 = 4:2:0 chroma;
    ``restart``: insert RSTn every N MCUs (0 = none); ``app14``: write
    an Adobe APP14 segment with that transform byte; ``space``: see
    ``_prep_planes``; ``comp_ids``: SOF/SOS component ids (default
    1..nc)."""
    h, w, nc = pixels.shape
    q = np.full(64, quant, np.int32)
    planes, sampling, mcus_x, mcus_y = _prep_planes(pixels, subsample, space)

    bw = _BitWriter()
    preds = [[0] for _ in planes]
    data = bytearray()
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart and mcu_count and mcu_count % restart == 0:
                data += bw.flush()
                bw = _BitWriter()
                data += bytes([0xFF, 0xD0 + ((mcu_count // restart - 1) % 8)])
                preds = [[0] for _ in planes]
            for ci, (plane, (hs, vs)) in enumerate(zip(planes, sampling)):
                blocks = []
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        blocks.append(plane[y0 : y0 + 8, x0 : x0 + 8])
                _encode_blocks(bw, blocks, q, preds[ci])
            mcu_count += 1
    data += bw.flush()

    ids = comp_ids if comp_ids is not None else [ci + 1 for ci in range(nc)]
    out = bytearray(b"\xff\xd8")
    if app14 is not None:
        out += _app14(app14)
    out += _seg(0xDB, bytes([0]) + bytes(q.astype(np.uint8)))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci, (hs, vs) in enumerate(sampling):
        out_q = 0
        sof += bytes([ids[ci], (hs << 4) | vs, out_q])
    out += _seg(0xC0, sof)
    out += _dht(0, 0, [4] * 12, list(range(12)))
    out += _dht(1, 0, [8] * len(_AC_SYMBOLS), list(_AC_SYMBOLS))
    if restart:
        out += _seg(0xDD, struct.pack(">H", restart))
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ids[ci], 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)
    out += data
    out += b"\xff\xd9"
    return bytes(out)


def make_jpeg12(pixels: np.ndarray, quant: int = 1,
                subsample: int = 1) -> bytes:
    """Encode an [h, w, 1|3] integer array (values < 4096) as 12-bit
    EXTENDED SEQUENTIAL JFIF (SOF1), written from T.81 independently of
    the decoder: level shift 2048, Pq=1 (16-bit) quantization entries,
    DC categories to 15 at uniform length 5, AC sizes to 14."""
    h, w, nc = pixels.shape
    q = np.full(64, quant, np.int32)
    planes, sampling, mcus_x, mcus_y = _prep_planes(
        pixels, subsample, prec=12)

    bw = _BitWriter()
    preds = [[0] for _ in planes]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (plane, (hs, vs)) in enumerate(zip(planes, sampling)):
                blocks = []
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        blocks.append(plane[y0 : y0 + 8, x0 : x0 + 8])
                _encode_blocks(bw, blocks, q, preds[ci], _dc_code12)

    out = bytearray(b"\xff\xd8")
    # Pq=1: 16-bit big-endian table entries (B.2.4.1)
    out += _seg(0xDB, bytes([0x10]) + q.astype(">u2").tobytes())
    sof = bytes([12]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci, (hs, vs) in enumerate(sampling):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += _seg(0xC1, sof)  # SOF1: extended sequential
    out += _dht(0, 0, [5] * 16, list(range(16)))
    out += _dht(1, 0, [8] * len(_AC_SYMBOLS), list(_AC_SYMBOLS))
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_grayscale_near_lossless_roundtrip():
    """quant=1 grayscale: the only loss is integer rounding of DCT
    coefficients, bounded at a few gray levels per pixel."""
    rng = np.random.RandomState(31)
    px = rng.randint(96, 160, size=(24, 17, 1), dtype=np.uint8)
    w, h, got = decode_jpeg_pixels(make_jpeg(px))
    assert (w, h) == (17, 24)
    assert got.shape == (24, 17, 1)
    err = np.abs(got.astype(int) - px.astype(int))
    assert err.max() <= 4 and err.mean() <= 1.0


def test_jpeg_color_444_roundtrip():
    rng = np.random.RandomState(37)
    px = rng.randint(80, 176, size=(16, 16, 3), dtype=np.uint8)
    w, h, got = decode_jpeg_pixels(make_jpeg(px))
    assert (w, h, got.shape[2]) == (16, 16, 3)
    err = np.abs(got.astype(int) - px.astype(int))
    assert err.max() <= 6 and err.mean() <= 1.5  # + color-convert rounding


def test_jpeg_420_subsampled_smooth_image():
    """4:2:0: chroma is box-downsampled at encode and replicated at
    decode, so use a smooth gradient where that round trip is tight."""
    yy, xx = np.mgrid[0:32, 0:24]
    px = np.dstack([
        (96 + xx * 2).astype(np.uint8),
        (96 + yy).astype(np.uint8),
        (128 + (xx + yy) // 2).astype(np.uint8),
    ])
    w, h, got = decode_jpeg_pixels(make_jpeg(px, subsample=2))
    assert (w, h) == (24, 32)
    err = np.abs(got.astype(int) - px.astype(int))
    assert err.mean() <= 3.0 and err.max() <= 24  # chroma edges


def test_jpeg_restart_markers_and_quant():
    rng = np.random.RandomState(41)
    px = rng.randint(90, 166, size=(24, 40, 1), dtype=np.uint8)
    blob = make_jpeg(px, quant=2, restart=2)
    assert b"\xff\xd0" in blob or b"\xff\xd1" in blob  # RSTn really present
    w, h, got = decode_jpeg_pixels(blob)
    assert (w, h) == (40, 24)
    err = np.abs(got.astype(int) - px.astype(int))
    assert err.max() <= 8 and err.mean() <= 2.0


def test_jpeg_rejects_malformed_and_nonbaseline():
    px = np.full((8, 8, 1), 128, np.uint8)
    good = make_jpeg(px)
    with pytest.raises(ValueError):
        decode_jpeg_pixels(b"\xff\xd8\xff\xd9")          # no scan
    with pytest.raises(ValueError):
        decode_jpeg_pixels(good[:30])                     # truncated segment
    progressive = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError):
        decode_jpeg_pixels(progressive)                   # SOF2 declined
    with pytest.raises(ValueError):
        decode_jpeg_pixels(b"not a jpeg")
    # an SOF whose component count claims more than the segment carries
    short = bytearray(good)
    short[bytes(short).find(b"\xff\xc0") + 9] = 3
    with pytest.raises(ValueError, match="truncated JPEG frame header"):
        decode_jpeg_pixels(bytes(short))


def test_jpeg_sof_repeated_component_id_rejected():
    """Scans name components by id, so an SOF repeating one leaves a
    plane no scan can reach: ids (1, 1, 3) with an SOS over (1, 3) would
    otherwise decode to garbage."""
    px = np.random.RandomState(7).randint(0, 256, (16, 16, 3)).astype(
        np.uint8)
    blob = bytearray(make_jpeg(px))
    sof_at = bytes(blob).find(b"\xff\xc0")
    assert blob[sof_at + 10 : sof_at + 17 : 3] == b"\x01\x02\x03"
    blob[sof_at + 13] = 1  # component ids (1, 1, 3)
    sos_at = bytes(blob).find(b"\xff\xda")
    sos_end = sos_at + 2 + struct.unpack_from(">H", blob, sos_at + 2)[0]
    blob[sos_at:sos_end] = _seg(0xDA, bytes([2, 1, 0x00, 3, 0x00, 0, 63, 0]))
    with pytest.raises(ValueError, match="JPEG frame repeats a component id"):
        decode_jpeg_pixels(bytes(blob))


def test_jpeg_through_decode_image_and_mapinpandas(spark):
    """The multimodal contract carries real JPEG bytes end-to-end:
    metadata (fmt/width/height) comes from actual marker parsing."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_batches,
        decode_image,
    )

    rng = np.random.RandomState(43)
    px = rng.randint(100, 156, size=(10, 14, 3), dtype=np.uint8)
    blob = make_jpeg(px)
    meta = decode_image(7, blob)
    assert meta == {
        "doc_id": 7, "n_bytes": len(blob), "width": 14, "height": 10,
        "n_frames": 1, "fmt": "jpeg",
    }
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "doc_id BIGINT, payload BINARY"
    )
    [row] = decode_batches(df).collect()
    assert (row.fmt, row.width, row.height) == ("jpeg", 14, 10)


def test_jpeg_grayscale_ignores_declared_sampling_factors():
    """T.81 A.2: a scan with ONE component is non-interleaved -- the MCU
    is a single 8x8 data unit and the grid is ceil(w/8) x ceil(h/8)
    regardless of the SOF sampling factors. Color-to-gray encoders
    commonly keep a 2x2 declaration; interleaved geometry would
    misdecode such files."""
    rng = np.random.RandomState(7)
    px = rng.randint(50, 200, size=(20, 13, 1), dtype=np.uint8)
    blob = bytearray(make_jpeg(px))
    i = blob.find(b"\xff\xc0")
    # SOF0: marker(2) len(2) prec(1) h(2) w(2) nc(1) [id samp tq]...
    assert blob[i + 9] == 1 and blob[i + 11] == 0x11
    blob[i + 11] = 0x22  # declare 2x2 sampling factors
    w, h, got = decode_jpeg_pixels(bytes(blob))
    w0, h0, ref = decode_jpeg_pixels(make_jpeg(px))
    assert (w, h) == (w0, h0) == (13, 20)
    np.testing.assert_array_equal(got, ref)


# --------------------------------------------------- progressive (SOF2)

#: progressive AC table: the baseline symbols plus the EOBn codes
#: (r<<4, r = 0..14) used by spectral-selection / successive-
#: approximation scans; uniform length 8 (176 < 255 codes, valid)
_PROG_AC_SYMBOLS = [r << 4 for r in range(15)] + [0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)  # sizes to 14
]


def _pac_code(sym: int) -> tuple[int, int]:
    return _PROG_AC_SYMBOLS.index(sym), 8


def _block_coefs(planes, sampling, q):
    """Quantized ZIGZAG-order coefficient blocks per component on the
    MCU-padded grid: int32[(nby, nbx, 64)]."""
    out = []
    for plane, (_hs, _vs) in zip(planes, sampling):
        nby, nbx = plane.shape[0] // 8, plane.shape[1] // 8
        arr = np.zeros((nby, nbx, 64), np.int32)
        for by in range(nby):
            for bx in range(nbx):
                arr[by, bx] = _fdct_quant(
                    plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], q
                ).reshape(64)[_ZIGZAG]
        out.append(arr)
    return out


def _enc_dc_scan(coefs, comps_idx, sampling, mcus_x, mcus_y, true_grids,
                 ah, al, restart=0, dc_code=_dc_code) -> bytes:
    """DC scan (T.81 G.1.2.1): first pass (Ah=0) diff-codes the
    point-transformed DC; refinement emits bit Al of the two's-complement
    value. Interleaved MCU order for multi-component scans, true
    component grid otherwise."""
    data = bytearray()
    bw = _BitWriter()
    preds = {ci: 0 for ci in comps_idx}

    def emit_unit(ci, by, bx):
        zz0 = int(coefs[ci][by, bx, 0])
        if ah == 0:
            v = zz0 >> al  # arithmetic shift = the DC point transform
            diff = v - preds[ci]
            preds[ci] = v
            s, mag = _magnitude(diff)
            c, n = dc_code(s)
            bw.write(c, n)
            bw.write(mag, s)
        else:
            bw.write((zz0 >> al) & 1, 1)

    if len(comps_idx) > 1:
        for u in range(mcus_y * mcus_x):
            if restart and u and u % restart == 0:
                data += bw.flush()
                bw = _BitWriter()
                data += bytes([0xFF, 0xD0 + ((u // restart - 1) % 8)])
                preds = {ci: 0 for ci in preds}
            my, mx = divmod(u, mcus_x)
            for ci in comps_idx:
                hs, vs = sampling[ci]
                for by in range(vs):
                    for bx in range(hs):
                        emit_unit(ci, my * vs + by, mx * hs + bx)
    else:
        ci = comps_idx[0]
        nby, nbx = true_grids[ci]
        for u in range(nby * nbx):
            if restart and u and u % restart == 0:
                data += bw.flush()
                bw = _BitWriter()
                data += bytes([0xFF, 0xD0 + ((u // restart - 1) % 8)])
                preds = {ci: 0 for ci in preds}
            by, bx = divmod(u, nbx)
            emit_unit(ci, by, bx)
    data += bw.flush()
    return bytes(data)


def _enc_ac_first(arr, true_grid, ss, se, al) -> bytes:
    """First AC scan (T.81 G.1.2.2): in-band run-length coding with EOBn
    run codes across all-zero-band blocks."""
    bw = _BitWriter()
    eob_run = 0

    def flush_eob():
        nonlocal eob_run
        if eob_run:
            r = eob_run.bit_length() - 1
            c, n = _pac_code(r << 4)
            bw.write(c, n)
            if r:
                bw.write(eob_run - (1 << r), r)
            eob_run = 0

    nby, nbx = true_grid
    for by in range(nby):
        for bx in range(nbx):
            zz = arr[by, bx]
            vals = []
            for k in range(ss, se + 1):
                c = int(zz[k])
                a = abs(c) >> al  # magnitude point transform
                vals.append(a if c >= 0 else -a)
            if not any(vals):
                eob_run += 1
                if eob_run == 32767:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            for v in vals:
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, n = _pac_code(0xF0)
                    bw.write(c, n)
                    run -= 16
                s, mag = _magnitude(v)
                c, n = _pac_code((run << 4) | s)
                bw.write(c, n)
                bw.write(mag, s)
                run = 0
            if run:
                eob_run += 1  # trailing zeros: this block ends in EOB
    flush_eob()
    return bw.flush()


def _enc_ac_refine(arr, true_grid, ss, se, al) -> bytes:
    """AC refinement scan (T.81 G.1.2.3, the libjpeg-documented
    algorithm): newly-nonzero coefficients emit (r<<4)|1 + sign;
    already-nonzero coefficients passed over contribute buffered
    correction bits; all-zero tails merge into EOB runs whose buffered
    bits follow the EOBn symbol."""
    bw = _BitWriter()
    eob_run = 0
    be_bits: list[int] = []  # correction bits deferred across the run

    def flush_eob():
        nonlocal eob_run, be_bits
        if eob_run:
            r = eob_run.bit_length() - 1
            c, n = _pac_code(r << 4)
            bw.write(c, n)
            if r:
                bw.write(eob_run - (1 << r), r)
            for b in be_bits:
                bw.write(b, 1)
            be_bits = []
            eob_run = 0

    nby, nbx = true_grid
    for by in range(nby):
        for bx in range(nbx):
            zz = arr[by, bx]
            absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
            eob = -1  # index of the LAST newly-nonzero coefficient
            for i, a in enumerate(absv):
                if a == 1:
                    eob = i
            r = 0
            br_bits: list[int] = []
            for i, a in enumerate(absv):
                if a == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob:
                    flush_eob()
                    c, n = _pac_code(0xF0)
                    bw.write(c, n)
                    r -= 16
                    for b in br_bits:
                        bw.write(b, 1)
                    br_bits = []
                if a > 1:  # history coefficient: next lower bit
                    br_bits.append(a & 1)
                    continue
                flush_eob()
                c, n = _pac_code((r << 4) | 1)
                bw.write(c, n)
                bw.write(1 if int(zz[ss + i]) >= 0 else 0, 1)
                for b in br_bits:
                    bw.write(b, 1)
                br_bits = []
                r = 0
            if r > 0 or br_bits:
                eob_run += 1
                be_bits.extend(br_bits)
                if eob_run == 32767:
                    flush_eob()
    flush_eob()
    return bw.flush()


def make_progressive_jpeg(pixels: np.ndarray, quant: int = 1,
                          subsample: int = 1, restart: int = 0,
                          prec: int = 8) -> bytes:
    """Encode an [h, w, 1|3] uint8 array as PROGRESSIVE JFIF (SOF2) with
    both spectral selection and successive approximation, written from
    T.81 Annex G independently of the decoder under test. The scan
    script refines every coefficient to Al=0, so the decoded image must
    EXACTLY equal the baseline encoding of the same pixels. ``restart``
    inserts RSTn every N MCUs in the first DC scan (DRI is reset to 0
    before the AC scans). ``prec`` 12 writes a 12-bit frame (level
    shift 2048, 16-bit DQT, DC categories to 15)."""
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
            ([0, 1, 2], 0, 0, 0, 1),            # DC first, Al=1
            ([0], 1, 5, 0, 1), ([0], 6, 63, 0, 1),   # luma AC bands
            ([1], 1, 63, 0, 1), ([2], 1, 63, 0, 1),  # chroma AC
            ([0], 1, 5, 1, 0), ([0], 6, 63, 1, 0),   # luma AC refine
            ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0),  # chroma AC refine
            ([0, 1, 2], 0, 0, 1, 0),            # DC refine to Al=0
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
    out += _seg(0xC2, sof)  # SOF2: progressive DCT
    if prec == 8:
        out += _dht(0, 0, [4] * 12, list(range(12)))
    else:
        out += _dht(0, 0, [5] * 16, list(range(16)))
    out += _dht(1, 0, [8] * len(_PROG_AC_SYMBOLS), list(_PROG_AC_SYMBOLS))

    first_dc = True
    for comps_idx, ss, se, ah, al in script:
        if restart and first_dc and ss == 0 and ah == 0:
            out += _seg(0xDD, struct.pack(">H", restart))
        sos = bytes([len(comps_idx)])
        for ci in comps_idx:
            sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xDA, sos)
        if ss == 0:
            out += _enc_dc_scan(coefs, comps_idx, sampling, mcus_x,
                                mcus_y, true_grids, ah, al,
                                restart if (first_dc and ah == 0) else 0,
                                _dc_code if prec == 8 else _dc_code12)
            if restart and first_dc and ah == 0:
                out += _seg(0xDD, struct.pack(">H", 0))  # DRI off again
            first_dc = False
        else:
            ci = comps_idx[0]
            if ah == 0:
                out += _enc_ac_first(coefs[ci], true_grids[ci], ss, se, al)
            else:
                out += _enc_ac_refine(coefs[ci], true_grids[ci], ss, se, al)
    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_jpeg_color_444_matches_baseline_exactly():
    """The fully-refined progressive stream carries the same quantized
    coefficients as the baseline stream of the same pixels, so the two
    decodes must be bit-identical."""
    rng = np.random.RandomState(41)
    px = rng.randint(0, 256, size=(24, 17, 3), dtype=np.uint8)
    wp, hp, prog = decode_jpeg_pixels(make_progressive_jpeg(px))
    wb, hb, base = decode_jpeg_pixels(make_jpeg(px))
    assert (wp, hp) == (wb, hb) == (17, 24)
    np.testing.assert_array_equal(prog, base)


def test_progressive_jpeg_grayscale_matches_baseline_exactly():
    rng = np.random.RandomState(43)
    px = rng.randint(0, 256, size=(20, 13, 1), dtype=np.uint8)
    _w, _h, prog = decode_jpeg_pixels(make_progressive_jpeg(px))
    _w, _h, base = decode_jpeg_pixels(make_jpeg(px))
    np.testing.assert_array_equal(prog, base)


def test_progressive_jpeg_420_subsampled_matches_baseline():
    """4:2:0: the DC scan is interleaved on the MCU grid while the AC
    scans are non-interleaved on each component's TRUE grid (ceil of the
    scaled dims) -- the geometry split that distinguishes progressive
    from sequential decoding."""
    rng = np.random.RandomState(47)
    px = rng.randint(0, 256, size=(21, 18, 3), dtype=np.uint8)
    _w, _h, prog = decode_jpeg_pixels(
        make_progressive_jpeg(px, quant=2, subsample=2)
    )
    _w, _h, base = decode_jpeg_pixels(make_jpeg(px, quant=2, subsample=2))
    np.testing.assert_array_equal(prog, base)


def test_jpeg12_grayscale_roundtrip():
    """12-bit extended sequential (SOF1): quant=1 coefficient rounding
    costs a few 12-bit levels, which is under one uint8 level after the
    255/4095 output scaling -- the decode must match the ideal mapping
    within 1."""
    rng = np.random.RandomState(131)
    px = rng.randint(0, 4096, size=(16, 11, 1)).astype(np.int64)
    w, h, got = decode_jpeg_pixels(make_jpeg12(px))
    assert (w, h) == (11, 16)
    want = np.round(px * 255.0 / 4095.0)
    assert np.abs(got.astype(np.float64) - want).max() <= 1


def test_jpeg12_color_444_roundtrip():
    rng = np.random.RandomState(137)
    px = rng.randint(512, 3584, size=(16, 16, 3)).astype(np.int64)
    w, h, got = decode_jpeg_pixels(make_jpeg12(px))
    assert (w, h, got.shape[2]) == (16, 16, 3)
    want = px * 255.0 / 4095.0
    # color-convert rounding adds a little on top of DCT rounding
    assert np.abs(got.astype(np.float64) - want).max() <= 2


def test_jpeg12_progressive_matches_sequential_exactly():
    """A fully-refined 12-bit progressive stream carries the same
    quantized coefficients as the 12-bit sequential stream of the same
    pixels, so the decodes must be bit-identical -- pinning the 12-bit
    paths of BOTH DCT modes against each other."""
    rng = np.random.RandomState(139)
    px = rng.randint(0, 4096, size=(20, 13, 3)).astype(np.int64)
    _w, _h, seq = decode_jpeg_pixels(make_jpeg12(px))
    _w, _h, prog = decode_jpeg_pixels(make_progressive_jpeg(px, prec=12))
    np.testing.assert_array_equal(seq, prog)


def test_jpeg12_16bit_quant_entries():
    """quant=300 only fits Pq=1 (16-bit) DQT entries; sequential and
    progressive must still agree exactly, proving the 16-bit table
    parse feeds both dequantizers identically."""
    rng = np.random.RandomState(149)
    px = rng.randint(0, 4096, size=(16, 16, 1)).astype(np.int64)
    _w, _h, seq = decode_jpeg_pixels(make_jpeg12(px, quant=300))
    _w, _h, prog = decode_jpeg_pixels(
        make_progressive_jpeg(px, quant=300, prec=12))
    np.testing.assert_array_equal(seq, prog)


def test_jpeg_sos_duplicate_component_rejected():
    """An SOS header repeating a component id would pass the set-based
    full-scan gate while the stream interleaves MORE blocks per MCU
    than the decode loop reads -- silent bitstream desync. Rejected at
    the header (r11 review)."""
    px = np.full((8, 8, 3), 128, np.uint8)
    good = bytearray(make_jpeg(px))
    sos_at = bytes(good).find(b"\xff\xda")
    assert good[sos_at + 5] == 1 and good[sos_at + 7] == 2  # ids 1, 2
    good[sos_at + 7] = 1  # declare component 1 twice
    with pytest.raises(ValueError, match="repeats"):
        decode_jpeg_pixels(bytes(good))


def test_jpeg_multiscan_truncated_tail_message():
    """A multi-scan file that ends (no EOI) with a component undelivered
    must say 'truncated', not the misleading 'no SOS segment' (r11
    review)."""
    rng = np.random.RandomState(151)
    px = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    blob = make_multiscan_jpeg(px)
    second_sos = blob.find(b"\xff\xda", blob.find(b"\xff\xda") + 2)
    assert second_sos > 0
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg_pixels(blob[:second_sos])


def test_lossless_uses_slow_path_pixel_cap():
    """Lossless decode is a per-sample Python loop (the progressive
    work profile), so it takes the stricter SLOW_PATH cap, not the
    shared 2^26 one -- an oversized legal payload declines to the
    documented fallback instead of pinning a core for minutes (r11
    review)."""
    from aws_cloudfront_realtime_monitoring_spark.operators import SLOW_PATH_MAX_PIXELS

    h = SLOW_PATH_MAX_PIXELS // 4096 + 1
    sof = bytes([8]) + struct.pack(">HH", h, 4096) + bytes([1, 1, 0x11, 0])
    blob = (b"\xff\xd8" + _seg(0xC3, sof)
            + _dht(0, 0, [5] * 17, list(range(17)))
            + _seg(0xDA, bytes([1, 1, 0x00, 1, 0, 0])) + b"\xff\xd9")
    with pytest.raises(ValueError, match="decode cap"):
        decode_jpeg_pixels(blob)


def test_jpeg_dequant_product_does_not_wrap_int32():
    """Two max-category DC diffs (32767 each) against a 16-bit quant
    entry of 65535 put the second block's dequantized DC at ~4.3e9 --
    past int32. An int32 product wraps NEGATIVE (black tile); the int64
    product clips both tiles to pure white (r11 review)."""
    q16 = np.full(64, 65535, np.int64)
    bw = _BitWriter()
    for _ in range(2):  # two 8x8 blocks: 16x8 grayscale
        c, n = _dc_code12(15)
        bw.write(c, n)
        bw.write(32767, 15)
        c, n = _ac_code(0x00)  # EOB
        bw.write(c, n)
    sof = bytes([12]) + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    blob = (b"\xff\xd8"
            + _seg(0xDB, bytes([0x10]) + q16.astype(">u2").tobytes())
            + _seg(0xC1, sof)
            + _dht(0, 0, [5] * 16, list(range(16)))
            + _dht(1, 0, [8] * len(_AC_SYMBOLS), list(_AC_SYMBOLS))
            + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + bw.flush() + b"\xff\xd9")
    w, h, got = decode_jpeg_pixels(blob)
    assert (w, h) == (16, 8)
    assert (got == 255).all()


def test_jpeg12_baseline_marker_rejected():
    """T.81 B.2.2: baseline (SOF0) is 8-bit by definition; a 12-bit
    frame behind an SOF0 marker must be declined (to the documented
    fallback), not decoded."""
    px = np.full((8, 8, 1), 2048, np.int64)
    blob = make_jpeg12(px).replace(b"\xff\xc1", b"\xff\xc0", 1)
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg_pixels(blob)


def test_progressive_jpeg_restart_markers():
    """RSTn inside a progressive DC scan resets the predictors; the DRI
    toggle between scans must be honored."""
    rng = np.random.RandomState(53)
    px = rng.randint(0, 256, size=(24, 24, 3), dtype=np.uint8)
    _w, _h, with_rst = decode_jpeg_pixels(
        make_progressive_jpeg(px, restart=2)
    )
    _w, _h, without = decode_jpeg_pixels(make_progressive_jpeg(px))
    np.testing.assert_array_equal(with_rst, without)


def test_progressive_jpeg_rejects_malformed_and_fuzz():
    """Mutations of a valid progressive stream either decode or raise
    ValueError -- never anything else (the executor-task contract)."""
    rng = np.random.RandomState(59)
    px = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    good = make_progressive_jpeg(px)
    # AC scan with more than one component is illegal
    with pytest.raises(ValueError):
        # hand-build: reuse the good headers, splice a 2-component AC SOS
        bad = bytearray(good)
        i = bad.find(b"\xff\xda")
        bad[i:] = _seg(0xDA, bytes([2, 1, 0, 2, 0, 1, 63, 0])) + b"\x00" * 8
        decode_jpeg_pixels(bytes(bad))
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


def test_progressive_dc_predictor_overflow_is_valueerror():
    """A crafted DC-first scan (Al=13, run of maximal +2047 diffs) walks
    the predictor past the guard (1<<30 since r11 -- legal 12-bit
    values reach 2^28); the decoder must reject it with ValueError, not
    let numpy's OverflowError (2.x) escape the executor-task contract.
    144 blocks x 2047 << 13 ~ 2.4e9 crosses the guard around block 65."""
    bw = _BitWriter()
    for _ in range(144):  # 96x96 grayscale = 144 blocks
        c, n = _dc_code(11)
        bw.write(c, n)
        bw.write((1 << 11) - 1, 11)  # +2047 every block
    data = bw.flush()
    q = np.full(64, 1, np.int32)
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(q.astype(np.uint8)))
    out += _seg(0xC2, bytes([8]) + struct.pack(">HH", 96, 96)
                + bytes([1, 1, 0x11, 0]))
    out += _dht(0, 0, [4] * 12, list(range(12)))
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x0D]))  # Ss=Se=0, Al=13
    out += data + b"\xff\xd9"
    with pytest.raises(ValueError):
        decode_jpeg_pixels(bytes(out))


def test_progressive_work_bounds():
    """Hostile-input work bounds: the scan cap (64) and the stricter
    progressive pixel cap both reject with ValueError -- EOB-run codes
    decouple per-scan work from payload bytes, so without these a
    few-KB payload could drive ~1e8 block visits."""
    rng = np.random.RandomState(61)
    px = rng.randint(0, 256, size=(16, 16, 1), dtype=np.uint8)
    good = make_progressive_jpeg(px)
    # splice the AC-first scan (2nd SOS) 70 extra times before EOI
    first = good.find(b"\xff\xda")
    second = good.find(b"\xff\xda", first + 2)
    third = good.find(b"\xff\xda", second + 2)
    scan = good[second:third]
    bombed = good[:third] + scan * 70 + good[third:]
    with pytest.raises(ValueError, match="too many JPEG scans"):
        decode_jpeg_pixels(bombed)
    # progressive pixel cap is stricter than the shared MAX_PIXELS
    q = np.full(64, 1, np.int32)
    big = bytearray(b"\xff\xd8")
    big += _seg(0xDB, bytes([0]) + bytes(q.astype(np.uint8)))
    big += _seg(0xC2, bytes([8]) + struct.pack(">HH", 8192, 8192)
                + bytes([1, 1, 0x11, 0]))
    big += _dht(0, 0, [4] * 12, list(range(12)))
    big += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
    big += b"\x00" * 64 + b"\xff\xd9"
    with pytest.raises(ValueError, match="progressive decode cap"):
        decode_jpeg_pixels(bytes(big))


# ------------------------------------------- multi-scan SEQUENTIAL (r10)


def make_multiscan_jpeg(pixels: np.ndarray, quant: int = 1,
                        subsample: int = 1, restart: int = 0,
                        split=None, app14: int | None = None,
                        space: str = "auto") -> bytes:
    """Encode an [h, w, 3|4] uint8 array as baseline-SEQUENTIAL JFIF with
    MULTIPLE scans. ``split``: component-id groups per scan (default one
    scan per component, the common transcoder shape); a group with >1
    ids is interleaved over the frame MCU grid, a single-id group is
    non-interleaved over that component's TRUE block grid (T.81 A.2).
    ``app14``/``space``: as in ``make_jpeg``."""
    h, w, nc = pixels.shape
    q = np.full(64, quant, np.int32)
    planes, sampling, mcus_x, mcus_y = _prep_planes(pixels, subsample, space)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    split = split if split is not None else [[ci + 1] for ci in range(nc)]

    out = bytearray(b"\xff\xd8")
    if app14 is not None:
        out += _app14(app14)
    out += _seg(0xDB, bytes([0]) + bytes(q.astype(np.uint8)))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci, (hs, vs) in enumerate(sampling):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += _seg(0xC0, sof)
    out += _dht(0, 0, [4] * 12, list(range(12)))
    out += _dht(1, 0, [8] * len(_AC_SYMBOLS), list(_AC_SYMBOLS))
    if restart:
        out += _seg(0xDD, struct.pack(">H", restart))

    for group in split:
        sos = bytes([len(group)])
        for cid in group:
            sos += bytes([cid, 0x00])
        sos += bytes([0, 63, 0])
        out += _seg(0xDA, sos)
        bw = _BitWriter()
        data = bytearray()
        preds = {cid: [0] for cid in group}
        rst_i = 0
        unit = 0

        def maybe_restart():
            nonlocal bw, preds, rst_i
            if restart and unit and unit % restart == 0:
                data.extend(bw.flush())
                bw = _BitWriter()
                data.extend(bytes([0xFF, 0xD0 + (rst_i % 8)]))
                rst_i += 1
                preds = {cid: [0] for cid in group}

        if len(group) > 1:  # interleaved subset: frame MCU order
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    maybe_restart()
                    for cid in group:
                        ci = cid - 1
                        hs, vs = sampling[ci]
                        blocks = [
                            planes[ci][(my * vs + by) * 8:(my * vs + by) * 8 + 8,
                                       (mx * hs + bx) * 8:(mx * hs + bx) * 8 + 8]
                            for by in range(vs) for bx in range(hs)
                        ]
                        _encode_blocks(bw, blocks, q, preds[cid])
                    unit += 1
        else:  # non-interleaved: the component's true block grid
            cid = group[0]
            ci = cid - 1
            hs, vs = sampling[ci]
            cw = -(-(w * hs) // hmax)  # true component dims (T.81 A.1.1)
            ch = -(-(h * vs) // vmax)
            nbx = -(-cw // 8)
            nby = -(-ch // 8)
            for by in range(nby):
                for bx in range(nbx):
                    maybe_restart()
                    _encode_blocks(
                        bw,
                        [planes[ci][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]],
                        q, preds[cid],
                    )
                    unit += 1
        data.extend(bw.flush())
        out += data
    out += b"\xff\xd9"
    return bytes(out)


def test_multiscan_per_component_matches_single_scan_exactly():
    """One scan per component (the common multi-scan transcoder shape),
    4:4:4: identical coefficients flow through the accumulate+finalize
    path, so the decode must equal the single-scan baseline EXACTLY."""
    rng = np.random.RandomState(43)
    px = rng.randint(60, 200, size=(24, 17, 3), dtype=np.uint8)
    base = decode_jpeg_pixels(make_jpeg(px))
    multi = decode_jpeg_pixels(make_multiscan_jpeg(px))
    assert base[0:2] == multi[0:2]
    assert np.array_equal(base[2], multi[2])


def test_multiscan_interleaved_subset_matches_single_scan():
    """A scan interleaving components 1+2 followed by a component-3
    scan: the subset MCU geometry must agree with the baseline."""
    rng = np.random.RandomState(47)
    px = rng.randint(60, 200, size=(16, 16, 3), dtype=np.uint8)
    base = decode_jpeg_pixels(make_jpeg(px))
    multi = decode_jpeg_pixels(make_multiscan_jpeg(px, split=[[1, 2], [3]]))
    assert np.array_equal(base[2], multi[2])


def test_multiscan_420_subsampled_matches_single_scan():
    """4:2:0 per-component scans: the luma scan is NON-INTERLEAVED over
    its true (non-MCU-padded) block grid while carrying 2x2 sampling
    factors -- the exact geometry the single-scan fast path never
    exercises."""
    yy, xx = np.mgrid[0:32, 0:24]
    px = np.dstack([
        (96 + xx * 2).astype(np.uint8),
        (96 + yy).astype(np.uint8),
        (128 + (xx + yy) // 2).astype(np.uint8),
    ])
    base = decode_jpeg_pixels(make_jpeg(px, subsample=2))
    multi = decode_jpeg_pixels(make_multiscan_jpeg(px, subsample=2))
    assert np.array_equal(base[2], multi[2])


def test_multiscan_restart_markers():
    rng = np.random.RandomState(53)
    px = rng.randint(60, 200, size=(24, 24, 3), dtype=np.uint8)
    base = decode_jpeg_pixels(make_jpeg(px, quant=2))
    multi = decode_jpeg_pixels(
        make_multiscan_jpeg(px, quant=2, restart=2)
    )
    assert np.array_equal(base[2], multi[2])


def test_multiscan_malformed_rejected():
    """The sequential multi-scan contract: a component delivered twice,
    or EOI before every component arrived, is malformed (T.81: each
    component appears in exactly one sequential scan)."""
    rng = np.random.RandomState(59)
    px = rng.randint(60, 200, size=(16, 16, 3), dtype=np.uint8)
    ok = make_multiscan_jpeg(px)
    # duplicate: replay the first scan twice via split
    dup = make_multiscan_jpeg(px, split=[[1], [1], [2], [3]])
    with pytest.raises(ValueError, match="two sequential scans"):
        decode_jpeg_pixels(dup)
    # truncate: drop everything after the second scan's data, add EOI
    # (cheap structural truncation: cut at the last SOS marker)
    last_sos = ok.rfind(b"\xff\xda")
    trunc = ok[:last_sos] + b"\xff\xd9"
    with pytest.raises(ValueError, match="undelivered"):
        decode_jpeg_pixels(trunc)


# ------------------------------------------------ color spaces (r10):
# Adobe APP14 CMYK / YCCK / transform-0 RGB + the R,G,B component-id
# sniff -- golden bytes still come from the independent encoder above;
# every expected image is computed HERE from the original planes by the
# documented conversion, never from the decoder.


def test_jpeg_adobe_cmyk_roundtrip():
    """4-component + APP14 transform 0: stored samples are INVERTED ink
    (the Adobe convention), so RGB = stored_cmy * stored_k / 255."""
    rng = np.random.RandomState(61)
    px = rng.randint(80, 176, size=(16, 16, 4), dtype=np.uint8)
    w, h, got = decode_jpeg_pixels(make_jpeg(px, app14=0))
    assert (w, h, got.shape[2]) == (16, 16, 3)
    s = px.astype(np.float64)
    want = np.clip(np.round(s[:, :, :3] * s[:, :, 3:4] / 255.0), 0, 255)
    err = np.abs(got.astype(int) - want.astype(int))
    assert err.max() <= 8 and err.mean() <= 2.0


def test_jpeg_cmyk_without_adobe_is_direct_ink():
    """4-component with NO Adobe marker: samples are ink coverage
    directly (libjpeg's no-marker default), so the SAME stored bytes
    must decode to the complementary image of the Adobe-marked file:
    RGB = (255-C)(255-K)/255."""
    rng = np.random.RandomState(67)
    px = rng.randint(80, 176, size=(16, 16, 4), dtype=np.uint8)
    w, h, got = decode_jpeg_pixels(make_jpeg(px))
    assert (w, h, got.shape[2]) == (16, 16, 3)
    s = 255.0 - px.astype(np.float64)
    want = np.clip(np.round(s[:, :, :3] * s[:, :, 3:4] / 255.0), 0, 255)
    err = np.abs(got.astype(int) - want.astype(int))
    assert err.max() <= 8 and err.mean() <= 2.0


def test_jpeg_adobe_ycck_roundtrip():
    """APP14 transform 2 (YCCK): the inverted C,M,Y went through the
    forward JFIF matrix at encode time; the decoder must invert the
    matrix, then combine with K exactly like Adobe CMYK. The YCC planes
    are computed HERE with the forward matrix, stored as (Y, Cb+128,
    Cr+128, K) raw planes, and the expected RGB comes from the ORIGINAL
    c,m,y,k -- pinning the decoder's full inverse path."""
    rng = np.random.RandomState(71)
    cmyk = rng.randint(80, 176, size=(16, 16, 4), dtype=np.uint8)
    c, m, y = (cmyk[:, :, i].astype(np.float64) for i in range(3))
    stored = np.dstack([
        0.299 * c + 0.587 * m + 0.114 * y,
        128.0 - 0.168736 * c - 0.331264 * m + 0.5 * y,
        128.0 + 0.5 * c - 0.418688 * m - 0.081312 * y,
        cmyk[:, :, 3].astype(np.float64),
    ])
    stored = np.clip(np.round(stored), 0, 255).astype(np.uint8)
    w, h, got = decode_jpeg_pixels(make_jpeg(stored, app14=2))
    assert (w, h, got.shape[2]) == (16, 16, 3)
    s = cmyk.astype(np.float64)
    want = np.clip(np.round(s[:, :, :3] * s[:, :, 3:4] / 255.0), 0, 255)
    err = np.abs(got.astype(int) - want.astype(int))
    # codec rounding + two matrix round-trips of rounding
    assert err.max() <= 10 and err.mean() <= 2.5


def test_jpeg_adobe_rgb_transform0():
    """3 components + APP14 transform 0: samples ARE R,G,B -- no matrix
    may be applied."""
    rng = np.random.RandomState(73)
    px = rng.randint(60, 200, size=(16, 16, 3), dtype=np.uint8)
    w, h, got = decode_jpeg_pixels(make_jpeg(px, app14=0, space="raw"))
    err = np.abs(got.astype(int) - px.astype(int))
    assert err.max() <= 4 and err.mean() <= 1.0


def test_jpeg_rgb_component_id_sniff():
    """Without APP14, literal 'R','G','B' component ids mean RGB (the
    libjpeg sniff); the SAME entropy data under default ids 1,2,3 must
    instead take the JFIF YCbCr default and decode DIFFERENTLY -- the
    control that proves the sniff gates the conversion."""
    rng = np.random.RandomState(79)
    px = rng.randint(60, 200, size=(16, 16, 3), dtype=np.uint8)
    rgb_ids = make_jpeg(px, space="raw", comp_ids=[0x52, 0x47, 0x42])
    w, h, got = decode_jpeg_pixels(rgb_ids)
    err = np.abs(got.astype(int) - px.astype(int))
    assert err.max() <= 4 and err.mean() <= 1.0
    default_ids = make_jpeg(px, space="raw")
    _, _, ycc = decode_jpeg_pixels(default_ids)
    assert not np.array_equal(got, ycc)


def test_multiscan_cmyk_matches_single_scan_exactly():
    """4-component Adobe CMYK through the multi-scan ACCUMULATE+FINALIZE
    path must equal the single-scan decode bit for bit (identical
    coefficients, same color tail)."""
    rng = np.random.RandomState(83)
    px = rng.randint(80, 176, size=(16, 16, 4), dtype=np.uint8)
    base = decode_jpeg_pixels(make_jpeg(px, app14=0))
    multi = decode_jpeg_pixels(make_multiscan_jpeg(px, app14=0))
    assert np.array_equal(base[2], multi[2])
    # interleaved-subset split: (C,M) together then (Y), (K)
    mixed = decode_jpeg_pixels(
        make_multiscan_jpeg(px, app14=0, split=[[1, 2], [3], [4]])
    )
    assert np.array_equal(base[2], mixed[2])


# ------------------------------------------------ lossless (SOF3, r10):
# golden bytes from an independent predictive encoder written from T.81
# Annex H (prediction rules, SSSS categories, mod-2^16 differences --
# spelled here from the spec text, not from the decoder under test).


def _dc_code5(sym: int) -> tuple[int, int]:
    return sym, 5  # canonical code == symbol index at uniform length 5


def _lossless_predict(plane, y, x, predictor, default, fresh,
                      first_line=0):
    """Prediction per H.1.2.1, written independently of the decoder:
    ``fresh`` marks the first sample after scan start / restart;
    ``first_line`` is the row on which the current restart interval
    began (Ra is used for the remainder of that row -- the 'first line
    of samples at the start of the scan and at the beginning of each
    restart interval')."""
    if fresh:
        return default
    if y == first_line:
        return int(plane[y, x - 1])
    if x == 0:
        return int(plane[y - 1, 0])
    ra, rb, rc = (int(plane[y, x - 1]), int(plane[y - 1, x]),
                  int(plane[y - 1, x - 1]))
    return {
        1: ra, 2: rb, 3: rc, 4: ra + rb - rc,
        5: ra + ((rb - rc) >> 1), 6: rb + ((ra - rc) >> 1),
        7: (ra + rb) >> 1,
    }[predictor]


def make_lossless_jpeg(pixels: np.ndarray, predictor: int = 4,
                       pt: int = 0, prec: int = 8, restart: int = 0,
                       split=None, app14: int | None = None) -> bytes:
    """Encode an [h, w, nc] integer array (values < 2^prec) as lossless
    JFIF (SOF3). ``split``: component-id groups per scan (default ONE
    interleaved scan over all components); ``pt``: point transform
    (samples are shifted right pt bits before prediction/coding)."""
    h, w, nc = pixels.shape
    planes = [(pixels[:, :, ci].astype(np.int64) >> pt) for ci in range(nc)]
    default = 1 << (prec - pt - 1)
    split = split if split is not None else [list(range(1, nc + 1))]

    out = bytearray(b"\xff\xd8")
    if app14 is not None:
        out += _app14(app14)
    sof = bytes([prec]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])
    out += _seg(0xC3, sof)
    out += _dht(0, 0, [5] * 17, list(range(17)))
    if restart:
        out += _seg(0xDD, struct.pack(">H", restart))

    for group in split:
        sos = bytes([len(group)])
        for cid in group:
            sos += bytes([cid, 0x00])
        sos += bytes([predictor, 0, pt])  # Ss=predictor, Se=0, Ah=0,Al=pt
        out += _seg(0xDA, sos)
        bw = _BitWriter()
        data = bytearray()
        fresh = {cid: True for cid in group}
        first_line = 0
        rst_i = 0
        mcu = 0
        for y in range(h):
            for x in range(w):
                if restart and mcu and mcu % restart == 0:
                    data += bw.flush()
                    bw = _BitWriter()
                    data += bytes([0xFF, 0xD0 + (rst_i % 8)])
                    rst_i += 1
                    fresh = {cid: True for cid in group}
                    first_line = y
                for cid in group:
                    plane = planes[cid - 1]
                    px = _lossless_predict(plane, y, x, predictor,
                                           default, fresh[cid],
                                           first_line)
                    fresh[cid] = False
                    v = (int(plane[y, x]) - px) & 0xFFFF
                    if v > 32768:
                        v -= 65536
                    if v == 32768:  # H.2: category 16, no extra bits
                        code, n = _dc_code5(16)
                        bw.write(code, n)
                    else:
                        s, mag = _magnitude(v)
                        code, n = _dc_code5(s)
                        bw.write(code, n)
                        bw.write(mag, s)
                mcu += 1
        data += bw.flush()
        out += data
    out += b"\xff\xd9"
    return bytes(out)


@pytest.mark.parametrize("predictor", [1, 2, 3, 4, 5, 6, 7])
def test_lossless_gray_exact_roundtrip(predictor):
    """Lossless means LOSSLESS: every predictor must reproduce the
    original samples bit for bit."""
    rng = np.random.RandomState(89 + predictor)
    px = rng.randint(0, 256, size=(13, 17, 1), dtype=np.uint8)
    w, h, got = decode_jpeg_pixels(
        make_lossless_jpeg(px, predictor=predictor))
    assert (w, h) == (17, 13)
    assert np.array_equal(got, px)


def test_lossless_rgb_interleaved_and_per_component_scans():
    """3-component lossless: literal RGB channels (no JFIF matrix), in
    one interleaved scan AND split across per-component scans through
    the accumulate state -- all exact."""
    rng = np.random.RandomState(97)
    px = rng.randint(0, 256, size=(11, 9, 3), dtype=np.uint8)
    w, h, inter = decode_jpeg_pixels(make_lossless_jpeg(px))
    assert (w, h) == (9, 11) and np.array_equal(inter, px)
    _, _, multi = decode_jpeg_pixels(
        make_lossless_jpeg(px, split=[[1], [2], [3]]))
    assert np.array_equal(multi, px)


def test_lossless_point_transform():
    """Point transform Pt: the decoder reconstructs (sample >> pt) and
    shifts back, so the output is the original with the low pt bits
    cleared -- still exact at the coded precision."""
    rng = np.random.RandomState(101)
    px = rng.randint(0, 256, size=(8, 8, 1), dtype=np.uint8)
    _, _, got = decode_jpeg_pixels(make_lossless_jpeg(px, pt=2))
    assert np.array_equal(got, (px >> 2) << 2)


def test_lossless_16bit_and_4bit_precision_scaling():
    """2-16 bit samples scale full-range to the uint8 contract:
    expected = round(v * 255 / (2^P - 1)), computed here."""
    rng = np.random.RandomState(103)
    px16 = rng.randint(0, 1 << 16, size=(9, 7, 1), dtype=np.int64)
    arr = px16[:, :, :]
    _, _, got = decode_jpeg_pixels(make_lossless_jpeg(arr, prec=16))
    want = np.round(arr * 255.0 / 65535.0).astype(np.uint8)
    assert np.array_equal(got, want)
    px4 = rng.randint(0, 16, size=(9, 7, 1), dtype=np.int64)
    _, _, got4 = decode_jpeg_pixels(make_lossless_jpeg(px4, prec=4))
    want4 = np.round(px4 * 255.0 / 15.0).astype(np.uint8)
    assert np.array_equal(got4, want4)


def test_lossless_restart_markers_match_no_restart():
    rng = np.random.RandomState(107)
    px = rng.randint(0, 256, size=(10, 12, 3), dtype=np.uint8)
    base = decode_jpeg_pixels(make_lossless_jpeg(px, predictor=5))
    rst = decode_jpeg_pixels(
        make_lossless_jpeg(px, predictor=5, restart=7))
    assert np.array_equal(base[2], rst[2])


def test_lossless_restart_first_line_uses_ra_hand_golden():
    """T.81 H.1.2.1: 'one-dimensional horizontal prediction (Ra) is
    used for the first line of samples at the start of the scan and at
    the beginning of each restart interval'. This golden is derived BY
    HAND from the spec -- both the entropy bytes and the expected
    pixels are written out below independently of make_lossless_jpeg
    (which shares prediction code with nothing, but replicates the
    same rule), so an encoder/decoder twin bug cannot hide here.

    Grayscale 3x2, prec 8 (default pred 128), predictor 4 (Ra+Rb-Rc),
    DRI = 2 samples, DHT: 17 codes of uniform length 5 (code == SSSS).
    Per-sample derivation (pred -> diff -> value / SSSS code + bits):
      (0,0) fresh          pred 128, diff +10 -> 138 | 00100 1010
      (0,1) first line: Ra pred 138, diff  -3 -> 135 | 00010 00
      ---- RST0 (interval 2 begins at row 0) ----
      (0,2) fresh          pred 128, diff  +5 -> 133 | 00011 101
      (1,0) new line: Rb   pred s(0,0)=138, +2 -> 140 | 00010 10
      ---- RST1 (interval 3 begins at row 1) ----
      (1,1) fresh          pred 128, diff  -8 -> 120 | 00100 0111
      (1,2) interval first line: Ra pred s(1,1)=120, +3 -> 123
                                                     | 00010 11
    (Under the wrong 'selected predictor resumes by position' rule,
    (1,2) would predict Ra+Rb-Rc = 120+133-135 = 118 -> 121.)
    Packed entropy bytes (1-padding to byte boundaries before RSTs):
      00100101 00001000            = 25 08
      00011101 00010101(pad 1)     = 1D 15
      00100011 10001011            = 23 8B
    """
    sof = bytes([8]) + struct.pack(">HH", 2, 3) + bytes([1, 1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 4, 0, 0])  # pred 4, Se=0, Ah/Al=0
    blob = (b"\xff\xd8" + _seg(0xC3, sof)
            + _dht(0, 0, [5] * 17, list(range(17)))
            + _seg(0xDD, struct.pack(">H", 2)) + _seg(0xDA, sos)
            + bytes([0x25, 0x08, 0xFF, 0xD0, 0x1D, 0x15, 0xFF, 0xD1,
                     0x23, 0x8B])
            + b"\xff\xd9")
    w, h, got = decode_jpeg_pixels(blob)
    assert (w, h) == (3, 2)
    want = np.array([[138, 135, 133], [140, 120, 123]],
                    np.uint8).reshape(2, 3, 1)
    assert np.array_equal(got, want)


def test_lossless_adobe_ycbcr_transform():
    """An APP14 transform byte of 1 opts a 3-component lossless file
    into YCbCr; expected RGB computed here from the stored planes by
    the same inverse matrix definition (chroma centered at 2^(P-1))."""
    rng = np.random.RandomState(109)
    stored = rng.randint(64, 192, size=(8, 8, 3), dtype=np.uint8)
    _, _, got = decode_jpeg_pixels(make_lossless_jpeg(stored, app14=1))
    y = stored[:, :, 0].astype(np.float64)
    cb = stored[:, :, 1].astype(np.float64) - 128.0
    cr = stored[:, :, 2].astype(np.float64) - 128.0
    want = np.clip(np.round(np.dstack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ])), 0, 255).astype(np.uint8)
    assert np.array_equal(got, want)


def test_lossless_malformed_rejected():
    rng = np.random.RandomState(113)
    px = rng.randint(0, 256, size=(8, 8, 1), dtype=np.uint8)
    # predictor 0 (valid only in differential frames): patch the SOS Ss
    # byte of a good file -- the encoder itself refuses to emit it
    bad = bytearray(make_lossless_jpeg(px, predictor=1))
    sos_at = bytes(bad).find(b"\xff\xda")
    assert bad[sos_at + 7] == 1  # Ss: ns(1) + 2 table bytes in
    bad[sos_at + 7] = 0
    with pytest.raises(ValueError, match="predictor"):
        decode_jpeg_pixels(bytes(bad))
    # duplicate component delivery across scans
    px3 = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    dup = make_lossless_jpeg(px3, split=[[1], [1], [2], [3]])
    with pytest.raises(ValueError, match="delivered twice"):
        decode_jpeg_pixels(dup)
    # EOI with an undelivered component
    ok = make_lossless_jpeg(px3, split=[[1], [2], [3]])
    last_sos = ok.rfind(b"\xff\xda")
    with pytest.raises(ValueError, match="undelivered"):
        decode_jpeg_pixels(ok[:last_sos] + b"\xff\xd9")
    # subsampled lossless: hand-patch the SOF sampling byte
    one = bytearray(make_lossless_jpeg(px))
    sof_at = bytes(one).find(b"\xff\xc3")
    one[sof_at + 11] = 0x22  # comp 1 sampling 2x2
    with pytest.raises(ValueError, match="subsampled lossless"):
        decode_jpeg_pixels(bytes(one))


def test_lossless_fuzz_valueerror_only():
    """Mutations of a valid lossless stream either decode or raise
    ValueError -- never anything else (the executor-task contract)."""
    rng = np.random.RandomState(127)
    px = rng.randint(0, 256, size=(12, 12, 3), dtype=np.uint8)
    good = make_lossless_jpeg(px, predictor=4)
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
