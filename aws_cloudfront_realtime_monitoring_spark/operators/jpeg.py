"""JPEG (JFIF) decoder in pure numpy + stdlib — no codec library.

Completes the real-decode set of the multimodal contract
(``operators/multimodal.py``: BMP, PNG) with the most common payload
format a media pipeline actually ingests. Scope: baseline/extended
sequential DCT (SOF0/1) and PROGRESSIVE DCT (SOF2, spectral selection +
successive approximation per T.81 Annex G) at 8-bit AND 12-bit sample
precision (r11: 2^(P-1) level shift, Pq=1 16-bit quant tables, DC
categories to 15, P-bit channels scaled to the uint8 contract), Huffman
entropy coding, grayscale / YCbCr / RGB (Adobe transform 0 or R,G,B
component ids) with 4:4:4 / 4:2:2 / 4:2:0 sampling, 4-component CMYK
and YCCK (Adobe APP14 transform resolved by the same heuristics
libjpeg's jdmaster documents: Adobe present -> its transform byte and
inverted ink convention; absent -> component-id sniff for 3 channels,
direct ink CMYK for 4), restart markers, and LOSSLESS predictive coding
(SOF3, T.81 Annex H: all 7 predictors, point transform, 2-16 bit
precision scaled to the 8-bit output, exact roundtrip), plus
ARITHMETIC-coded sequential, progressive AND lossless frames
(SOF9/SOF10 r12, SOF11 r13: the T.81 Annex D QM coder + the Annex F
sequential, Annex G progressive, and Annex H.1.2.2 lossless
statistical models in ``jpeg_arith.py``, DAC conditioning, restarts
with full statistics reset), plus HIERARCHICAL (DHP-led) pyramids of
any of those frames with their differential corrections (T.81 Annex J;
the reconstruction math lives in ``jpeg_hier.py``). All color spaces
convert to RGB (or stay single-channel grayscale) on output.

Structure (ITU-T T.81):
- markers: SOI, DQT (quant tables), SOFn (dims, components, sampling
  factors), DHT (Huffman tables), DAC (arithmetic conditioning), DRI
  (restart interval), SOS, EOI, and in pyramids DHP and EXP; ONE marker
  walk (``_decode_jpeg``) reads them all -- a plain file is a stream of
  one frame, a pyramid a sequence of frames each closed into the
  reference planes the next differential frame corrects;
- the entropy-coded segment is a bitstream with 0xFF00 byte stuffing and
  optional RSTn markers that reset DC predictors on MCU boundaries;
- entropy coding is kept apart from the coding process, as in T.81: each
  SOS builds one entropy decoder (``HuffmanEntropy`` here,
  ``ArithEntropy`` / ``ArithLossless`` in ``jpeg_arith.py``) and hands
  it to the one scan driver for its process -- single-scan sequential,
  multi-scan sequential, progressive or lossless;
- sequential: each MCU interleaves one 8x8 block per component per
  sampling factor; blocks decode as (Huffman DC diff, run-length AC),
  de-zigzag, dequantize, IDCT (an 8x8 cosine-basis matrix product),
  +128 level shift;
- progressive: many scans, each delivering one spectral band
  (``Ss..Se``) of one bit-plane slice (``Ah/Al``) of the coefficients —
  DC first/refinement scans (interleaved or single-component), AC
  first scans with EOB-run codes, AC refinement scans with buffered
  correction bits (the G.1.2.3 skip algorithm); coefficients accumulate
  in per-component arrays and dequantize + IDCT once at EOI;
- chroma upsamples by sample replication; YCbCr -> RGB by the JFIF
  equations.

Like the PNG/BMP siblings this is per-payload Python executed inside
Arrow-batched ``mapInPandas`` workers — a narrow map; nothing here
touches the driver or shuffles.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg_arith import ArithEntropy, ArithLossless, parse_dac

#: zigzag order: index i of the scan -> position in the 8x8 block
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
])

#: 8x8 IDCT basis: pixel[x] = sum_u C[u] cos((2x+1)u pi/16) coef[u] / 2
_IDCT_M = np.array([
    [
        (np.sqrt(0.125) if u == 0 else 0.5)
        * np.cos((2 * x + 1) * u * np.pi / 16)
        for u in range(8)
    ]
    for x in range(8)
])


def _idct2(block: np.ndarray) -> np.ndarray:
    return _IDCT_M @ block @ _IDCT_M.T


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment, honoring
    0xFF00 byte stuffing; stops at any other 0xFF-marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy data truncated")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("JPEG entropy data truncated at marker")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                # a real marker (RSTn / EOI) inside a data unit
                raise ValueError(
                    f"JPEG scan data ended early (marker {0xFF00 | nxt:#x})")
        else:
            self.pos += 1
        self.bits = (self.bits << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.bits >> self.nbits) & ((1 << n) - 1)
        self.bits &= (1 << self.nbits) - 1
        return v

    def align(self) -> None:
        self.bits = 0
        self.nbits = 0


class _Huff:
    """Canonical Huffman table from a DHT segment: (length, code) -> symbol."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.lut: dict[tuple[int, int], int] = {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lut[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read(1)
            sym = self.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.12: map an s-bit magnitude to its signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _dc_ssss_max(prec: int) -> int:
    """Largest legal DC difference category for a DCT frame: 11 for
    8-bit samples, 15 for 12-bit (T.81 tables F.1 / F.6)."""
    return 11 if prec == 8 else 15


def _parse_dqt(seg: bytes, qt: dict) -> None:
    """One DQT segment into the table dict (tables persist across
    pyramid frames, T.81 B.2.4)."""
    s = 0
    while s < len(seg):
        pq, tq = seg[s] >> 4, seg[s] & 15
        if pq == 0:
            qt[tq] = np.frombuffer(
                seg[s + 1 : s + 65], np.uint8
            ).astype(np.int32)
            s += 65
        elif pq == 1:
            # 16-bit table entries (T.81 B.2.4.1; the normal
            # companion of 12-bit sample precision). B.2.4.1
            # scopes Pq=1 to the extended modes; accepted here
            # regardless of the frame marker -- leniency only
            # widens the inputs we decode, never the outputs.
            if len(seg) < s + 129:
                raise ValueError("truncated JPEG quant table")
            qt[tq] = np.frombuffer(
                seg[s + 1 : s + 129], ">u2"
            ).astype(np.int32)
            s += 129
        else:
            raise ValueError("invalid JPEG quant precision")


def _parse_dht(seg: bytes, huff_dc: dict, huff_ac: dict) -> None:
    """One DHT segment into the table dicts."""
    s = 0
    while s < len(seg):
        tc, th = seg[s] >> 4, seg[s] & 15
        counts = list(seg[s + 1 : s + 17])
        n = sum(counts)
        table = _Huff(counts, seg[s + 17 : s + 17 + n])
        (huff_dc if tc == 0 else huff_ac)[th] = table
        s += 17 + n


def _table(tables: dict, tid: int) -> _Huff:
    t = tables.get(tid)
    if t is None:
        raise ValueError("JPEG references missing table")
    return t


class HuffmanEntropy:
    """Huffman entropy decoder for one scan (T.81 F.2.2, G.1.2, H.2):
    the bit reader over the entropy-coded segment, the DHT tables in
    force at the SOS, the DC predictions and the progressive EOB run.

    It has the interface of ``jpeg_arith.ArithEntropy`` (DCT processes)
    and ``jpeg_arith.ArithLossless`` (lossless), so each coding
    process has ONE scan driver taking the entropy decoder as a
    parameter -- the split libjpeg draws between jdhuff.c and
    jdarith.c. Table ids resolve at use: a progressive DC scan names
    an AC table the stream need not define, and vice versa."""

    def __init__(self, data: bytes, pos: int, huff_dc: dict,
                 huff_ac: dict) -> None:
        self.data = data
        self.br = _BitReader(data, pos)
        self.huff_dc = huff_dc
        self.huff_ac = huff_ac
        self.pred: dict[int, int] = {}
        self.eob_run = 0

    @property
    def end_pos(self) -> int:
        """Byte position where this scan's entropy data stopped."""
        return self.br.pos

    def restart(self) -> None:
        """Byte-align, consume the RSTn marker, and zero the DC
        predictions and the EOB run (T.81 F.2.1.3.1 / G.1.2.2)."""
        br, data = self.br, self.data
        br.align()
        if (br.pos + 1 >= len(data) or data[br.pos] != 0xFF
                or not (0xD0 <= data[br.pos + 1] <= 0xD7)):
            raise ValueError("expected JPEG restart marker")
        br.pos += 2
        self.pred = {}
        self.eob_run = 0

    def dc_diff(self, cid: int, dc_tid: int, prec: int = 8,
                differential: bool = False) -> int:
        """One DC difference folded into ``cid``'s prediction; returns
        the prediction. ``differential`` (hierarchical frames): PRED
        stays 0 -- the value is coded directly (T.81 F.1.1.5.1) -- and
        the magnitude category may run one past the non-differential
        cap (tables F.1/F.6: diffs of differences span twice the
        range)."""
        br = self.br
        s = _table(self.huff_dc, dc_tid).decode(br)
        if s > _dc_ssss_max(prec) + (1 if differential else 0):
            raise ValueError("invalid JPEG DC magnitude")
        d = _extend(br.read(s), s)
        if differential:
            return d
        v = self.pred[cid] = self.pred.get(cid, 0) + d
        if not -(1 << 26) <= v <= (1 << 26):
            # legal |DC| <= 2^15; a crafted max-diff run would overflow
            # the int32 store (OverflowError on numpy 2.x, escaping
            # ValueError)
            raise ValueError("JPEG DC predictor out of range")
        return v

    def data_unit(self, cid: int, dc_tid: int, ac_tid: int,
                  prec: int = 8, differential: bool = False) -> np.ndarray:
        """One full sequential data unit (T.81 F.2.2.1-F.2.2.2): the 64
        coefficients in ZIGZAG order as int64, DC prediction-resolved
        (in differential frames, the raw differential DC)."""
        ac_t = _table(self.huff_ac, ac_tid)
        zz = np.zeros(64, np.int64)
        zz[0] = self.dc_diff(cid, dc_tid, prec, differential)
        br = self.br
        k = 1
        while k <= 63:
            rs = ac_t.decode(br)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r != 15:
                    break  # EOB
                k += 16  # ZRL
                continue
            k += r
            if k > 63:
                raise ValueError("JPEG AC run past block end")
            zz[k] = _extend(br.read(s), s)
            k += 1
        return zz

    def dc_refine(self) -> int:
        """Progressive DC refinement: one raw bit (G.1.2.1)."""
        return self.br.read(1)

    def ac_band(self, ac_tid: int, block, ss: int, se: int,
                al: int = 0) -> None:
        """First AC scan for one block (T.81 G.1.2.2): run-length coding
        within the band [ss, se], point-transformed << al; EOBn codes
        carry a run of all-zero-band blocks."""
        if self.eob_run > 0:
            self.eob_run -= 1
            return
        tbl = _table(self.huff_ac, ac_tid)
        br = self.br
        k = ss
        while k <= se:
            rs = tbl.decode(br)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:  # EOBn: run of 2^r + extra blocks ends here
                    self.eob_run = (1 << r) - 1
                    if r:
                        self.eob_run += br.read(r)
                    return
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("JPEG AC run past band end")
            block[k] = _extend(br.read(s), s) << al
            k += 1

    def ac_refine_band(self, ac_tid: int, block, ss: int, se: int,
                       al: int) -> None:
        """AC refinement scan for one block (T.81 G.1.2.3): newly-nonzero
        coefficients arrive as +-1<<Al; every already-nonzero coefficient
        passed over consumes one correction bit; zero-history
        coefficients count toward the run."""
        br = self.br
        p1 = 1 << al
        m1 = -1 << al
        k = ss
        if self.eob_run == 0:
            tbl = _table(self.huff_ac, ac_tid)
            while k <= se:
                rs = tbl.decode(br)
                r, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if r < 15:
                        self.eob_run = 1 << r
                        if r:
                            self.eob_run += br.read(r)
                        break
                    # r == 15: ZRL -- skip 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError("invalid JPEG refinement magnitude")
                    val = p1 if br.read(1) else m1
                while k <= se:
                    c = int(block[k])
                    if c != 0:
                        # correction bit for a nonzero-history coefficient
                        if br.read(1) and (c & p1) == 0:
                            block[k] = c + (p1 if c >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    block[k] = val
                k += 1
        if self.eob_run > 0:
            # inside an EOB run: only correction bits for nonzero history
            while k <= se:
                c = int(block[k])
                if c != 0 and br.read(1) and (c & p1) == 0:
                    block[k] = c + (p1 if c >= 0 else m1)
                k += 1
            self.eob_run -= 1

    def diff(self, cid: int, tid: int, x: int) -> int:
        """One lossless prediction difference (T.81 H.2): an SSSS
        category from DC table ``tid`` plus that many raw bits;
        category 16 means +32768 with no bits. (``cid`` and ``x`` are
        the arithmetic model's conditioning context; Huffman coding
        has none.)"""
        s = _table(self.huff_dc, tid).decode(self.br)
        if s > 16:
            raise ValueError("invalid lossless JPEG magnitude")
        return 32768 if s == 16 else _extend(self.br.read(s), s)


def _scan_entropy(arith: bool, lossless: bool, data: bytes, pos: int,
                  scan_tables: dict, huff_dc: dict, huff_ac: dict,
                  dc_cond: dict, ac_cond: dict):
    """The entropy decoder for one scan starting at ``pos``: the only
    place the Huffman/arithmetic choice is made."""
    if not arith:
        return HuffmanEntropy(data, pos, huff_dc, huff_ac)
    if lossless:
        return ArithLossless(data, pos, dc_cond, scan_tables)
    return ArithEntropy(data, pos, dc_cond, ac_cond, scan_tables)


def decode_jpeg_pixels(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL decoder for sequential AND progressive (8/12-bit, Huffman
    or arithmetic) AND lossless (Huffman or arithmetic) JPEG, and for
    hierarchical (DHP-led) pyramids of those frames with their
    differential corrections: returns (width, height, pixels[h, w, 1
    or 3] uint8 — grayscale or RGB; CMYK/YCCK inputs convert to RGB).
    Raises ``ValueError`` on malformed input — ONLY ValueError,
    whatever the corruption (struct/index errors from fuzzed bytes are
    remapped), so a malformed payload can never kill an executor task
    instead of taking the documented fallback."""
    try:
        return _decode_jpeg(payload)
    except (struct.error, IndexError, TypeError, OverflowError) as exc:
        # OverflowError: numpy >= 2.0 raises it on out-of-range int32
        # assignment (1.x wraps with a deprecation warning); a crafted
        # DC-predictor stream must stay inside the ValueError contract
        raise ValueError(f"malformed JPEG: {exc}") from exc


#: SOFn markers (T.81 B.1.1.3) and the coding process each names:
#: SOF5-7 / SOF13-15 are the DIFFERENTIAL frames of a pyramid, and
#: SOF9-15 code their process with the QM coder instead of Huffman
#: tables -- only the entropy decoder built at each SOS differs
_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
_DIFF = frozenset({0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF})
_LOSSLESS = frozenset({0xC3, 0xC7, 0xCB, 0xCF})
_PROGRESSIVE = frozenset({0xC2, 0xC6, 0xCA, 0xCE})
_ARITH = frozenset({0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF})

#: a legal pyramid is <= ~8 stages (each EXP doubles a dimension toward
#: the DHP bound); the cap stops a crafted stream from stacking frames
_PYRAMID_MAX_FRAMES = 16


def _parse_frame_header(seg: bytes, marker: int) -> tuple:
    """(prec, h, w, comps) of an SOFn segment, every per-marker rule
    applied (T.81 B.2.2). The DHP segment (``marker`` 0xDE) shares the
    syntax but describes the WHOLE pyramid -- any legal precision (a
    lossless pyramid may be 2-16 bit) and component count, with the
    per-frame rules applied as the frames themselves arrive."""
    if len(seg) < 6:
        raise ValueError("truncated JPEG frame header")
    prec, h, w, ncomp = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
    lossless = marker in _LOSSLESS
    if marker == 0xDE:
        if not (2 <= prec <= 16):
            raise ValueError(f"{prec}-bit JPEG DHP invalid")
        if not (1 <= ncomp <= 4):
            raise ValueError(f"{ncomp}-component JPEG DHP unsupported")
    elif lossless:
        if not (2 <= prec <= 16):
            raise ValueError(f"{prec}-bit lossless JPEG invalid")
        if ncomp not in (1, 3):
            raise ValueError(f"{ncomp}-component lossless JPEG unsupported")
    elif marker == 0xC0 and prec != 8:
        # baseline is 8-bit by definition
        raise ValueError(f"{prec}-bit baseline JPEG invalid")
    elif prec not in (8, 12):
        # every other DCT process allows exactly 8 or 12 (12-bit r11)
        raise ValueError(f"{prec}-bit JPEG unsupported")
    elif ncomp not in (1, 3, 4):
        raise ValueError(f"{ncomp}-component JPEG unsupported")
    if len(seg) < 6 + 3 * ncomp:
        raise ValueError("truncated JPEG frame header")
    comps = []
    for c in range(ncomp):
        cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
        hs, vs = samp >> 4, samp & 15
        if not (1 <= hs <= 4 and 1 <= vs <= 4):
            # a fuzzed 0 factor would divide-by-zero in the MCU
            # arithmetic -- outside the ValueError-only contract
            raise ValueError(f"invalid JPEG sampling factors {hs}x{vs}")
        if lossless and (hs, vs) != (1, 1):
            # subsampling is meaningless for predictive lossless and
            # essentially unseen in real files
            raise ValueError("subsampled lossless JPEG unsupported")
        comps.append((cid, hs, vs, tq))
    if len({c[0] for c in comps}) != ncomp:
        # scans name components by id: a repeated id would leave one
        # plane undelivered yet pass every per-id check downstream
        raise ValueError("JPEG frame repeats a component id")
    return prec, h, w, comps


def _parse_sos(seg: bytes) -> tuple:
    """(component ids, {id: (DC, AC) table ids}, Ss, Se, Ah, Al) of an
    SOS segment. Lossless scans carry the predictor selector in Ss and
    the point transform in Al."""
    ns = seg[0]
    if len(seg) < 1 + 2 * ns + 3:
        raise ValueError("truncated JPEG SOS header")
    scan_tables = {}
    scan_comps = []
    for c in range(ns):
        cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
        scan_tables[cid] = (tabs >> 4, tabs & 15)
        scan_comps.append(cid)
    if len(scan_comps) != len(set(scan_comps)):
        # a duplicated id would pass the set-based full-scan gate while
        # the stream interleaves MORE blocks per MCU than the decode
        # loop reads -- bitstream desync into silent garbage (r11 review)
        raise ValueError("JPEG SOS repeats a component id")
    ss, se, a = seg[1 + 2 * ns : 4 + 2 * ns]
    return scan_comps, scan_tables, ss, se, a >> 4, a & 15


class _Frame:
    """One frame mid-decode: its header, its coding process, the
    coefficient or sample state its scans accumulate into, and the
    components those scans delivered. A plain file is one frame; a
    pyramid is a sequence of them, each closed into the reference
    planes by ``jpeg_hier.to_reference``."""

    def __init__(self, marker: int, seg: bytes,
                 exp: tuple[int, int] = (0, 0), pyramid: bool = False):
        self.differential = marker in _DIFF
        self.lossless = marker in _LOSSLESS
        self.progressive = marker in _PROGRESSIVE
        self.arith = marker in _ARITH
        self.exp = exp  # EXP flags (horizontal, vertical) before it
        self.pyramid = pyramid
        self.prec, self.h, self.w, self.comps = _parse_frame_header(
            seg, marker)
        self.state: _ProgState | _LosslessState | None = None
        if self.lossless:
            self.state = _LosslessState(self.h, self.w, self.comps,
                                        self.prec)
        elif self.progressive or pyramid:
            # a plain sequential frame allocates at its first scan: the
            # common single-scan file decodes straight to planes
            self.state = _ProgState(self.h, self.w, self.comps, self.prec)
        self.n_scans = 0
        #: component ids delivered by a scan; sequential and lossless
        #: frames deliver each exactly once (progressive frames revisit
        #: components across spectral/approximation scans)
        self.done: set[int] = set()

    @property
    def complete(self) -> bool:
        return self.done == {c[0] for c in self.comps}

    def decode_scan(self, ent, scan_comps, scan_tables, restart_interval,
                    ss, se, ah, al) -> int:
        """Decode one scan into the frame state through the entropy
        decoder ``ent``; returns the byte position of the next marker."""
        if not self.progressive:
            for cid in scan_comps:
                if cid in self.done:
                    raise ValueError(
                        "JPEG pyramid frame component delivered twice"
                        if self.pyramid else
                        "lossless JPEG component delivered twice"
                        if self.lossless else
                        "JPEG component delivered by two sequential scans")
                self.done.add(cid)
        self.n_scans += 1
        args = (ent, self.state, scan_comps, scan_tables, restart_interval)
        if self.lossless:
            return _decode_lossless_scan(*args, ss, al, self.differential)
        if self.progressive:
            return _decode_progressive_scan(*args, ss, se, ah, al,
                                            self.differential)
        return _decode_sequential_scan(*args, self.differential)


def _decode_jpeg(payload: bytes) -> tuple[int, int, np.ndarray]:
    from . import jpeg_hier  # Annex J reconstruction (imports this module)

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huff] = {}
    huff_ac: dict[int, _Huff] = {}
    # arithmetic conditioning from DAC segments (defaults applied per
    # table in jpeg_arith)
    dc_cond: dict[int, tuple[int, int]] = {}
    ac_cond: dict[int, int] = {}
    restart_interval = 0
    adobe: int | None = None  # APP14 color-transform byte, if present
    frame: _Frame | None = None
    # a pyramid (T.81 Annex J): the DHP header, the reference plane of
    # each component, and the EXP flags waiting for the next frame
    dhp: tuple | None = None
    refs: dict[int, np.ndarray] = {}
    exp = (0, 0)
    n_frames = 0
    first_lossless = False
    # an EXP or a frame met before a DHP: the stream is no well-formed
    # pyramid, and a later DHP reports the first of them
    stray: str | None = None
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker sync at byte {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            if dhp is None:
                return _finish_frame(frame, qt, adobe, eoi=True)
            if frame is not None:
                jpeg_hier.to_reference(frame, qt, refs)
            return jpeg_hier.final_assemble(dhp, refs, adobe,
                                            first_lossless)
        if marker == 0x01 or 0xD0 <= marker <= 0xD7 or marker == 0xFF:
            # TEM / stray RSTn / fill byte: no length field
            pos += 1 if marker == 0xFF else 2
            continue
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos + 4 : pos + 2 + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            _parse_dqt(seg, qt)
        elif marker == 0xC4:  # DHT
            _parse_dht(seg, huff_dc, huff_ac)
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            parse_dac(seg, dc_cond, ac_cond)
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
            # APP14 Adobe: version(2) flags0(2) flags1(2) transform(1)
            adobe = seg[11]
        elif marker == 0xDE:  # DHP: the stream is a pyramid
            if stray is not None:
                raise ValueError(stray)
            if dhp is not None:
                raise ValueError("multiple JPEG DHP segments")
            dhp = _parse_frame_header(seg, marker)
        elif marker == 0xDF:  # EXP: expand the reference for the next frame
            if dhp is None:
                stray = stray or "JPEG EXP outside a hierarchical stream"
            else:
                if len(seg) != 1:
                    raise ValueError("malformed JPEG EXP segment")
                if frame is not None:
                    jpeg_hier.to_reference(frame, qt, refs)
                    frame = None
                exp = (seg[0] >> 4, seg[0] & 15)
                if exp[0] > 1 or exp[1] > 1:
                    raise ValueError("invalid JPEG EXP expansion flags")
        elif marker in _SOF and dhp is None:
            if marker in _DIFF:
                raise ValueError(
                    "differential JPEG frame outside a hierarchical "
                    "(DHP) stream")
            if frame is not None:
                raise ValueError("multiple JPEG frame headers")
            stray = stray or "JPEG frame before DHP in a hierarchical stream"
            frame = _Frame(marker, seg)
        elif marker in _SOF:  # the next frame of the pyramid
            if frame is not None:
                jpeg_hier.to_reference(frame, qt, refs)
            n_frames += 1
            if n_frames > _PYRAMID_MAX_FRAMES:
                raise ValueError("too many JPEG pyramid frames")
            frame = _Frame(marker, seg, exp, pyramid=True)
            exp = (0, 0)
            if n_frames == 1:
                first_lossless = frame.lossless
            jpeg_hier.check_frame(frame, dhp, refs)
        elif marker == 0xDA:  # SOS: entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            scan_comps, scan_tables, ss, se, ah, al = _parse_sos(seg)
            ent = _scan_entropy(frame.arith, frame.lossless, payload,
                                pos + 2 + seg_len, scan_tables, huff_dc,
                                huff_ac, dc_cond, ac_cond)
            if frame.state is None:
                if set(scan_comps) == {c[0] for c in frame.comps}:
                    # single-scan file (the common case): one-pass decode
                    return _decode_scan(
                        ent, frame, scan_tables, qt, restart_interval,
                        _resolve_color(frame.comps, adobe))
                # MULTI-SCAN sequential (r10): each scan delivers the
                # full 64 coefficients for a SUBSET of components --
                # accumulate and finalize at EOI, exactly like progressive
                frame.state = _ProgState(frame.h, frame.w, frame.comps,
                                         frame.prec)
            pos = frame.decode_scan(ent, scan_comps, scan_tables,
                                    restart_interval, ss, se, ah, al)
            continue
        pos += 2 + seg_len
    if dhp is not None:
        raise ValueError("hierarchical JPEG ended without EOI")
    return _finish_frame(frame, qt, adobe, eoi=False)


def _finish_frame(frame: _Frame | None, qt, adobe: int | None,
                  eoi: bool) -> tuple[int, int, np.ndarray]:
    """The image of a plain (one-frame) file at its EOI, or where the
    payload ends without one: a truncated tail is tolerated once every
    component's scan arrived."""
    if frame is None or frame.state is None or (
            frame.progressive and not frame.n_scans):
        raise ValueError("JPEG ended before scan data" if eoi
                         else "JPEG has no SOS segment")
    if not frame.progressive and not frame.complete:
        # scans WERE decoded but some component never arrived -- say so,
        # instead of the misleading "no SOS" (r11 review)
        kind = "lossless" if frame.lossless else "sequential"
        raise ValueError(f"{kind} JPEG ended with undelivered components"
                         if eoi else
                         "JPEG truncated with undelivered components")
    if frame.lossless:
        return _finalize_lossless(frame.state, adobe)
    return _finalize_progressive(frame.state, qt,
                                 _resolve_color(frame.comps, adobe))


def _resolve_color(comps, adobe: int | None) -> str:
    """Resolve the output color interpretation from the component set
    and the Adobe APP14 transform byte — the same precedence libjpeg's
    jdmaster logic documents (re-derived, not copied): an Adobe marker
    is authoritative (transform 0 = no transform, 1 = YCbCr, 2 = YCCK;
    Adobe files also store CMYK/YCCK ink INVERTED); without one, three
    components sniff the literal 'R','G','B' component ids some
    encoders write, and four components are direct-ink CMYK."""
    n = len(comps)
    if n == 1:
        return "gray"
    if n == 3:
        if adobe is not None:
            return "rgb" if adobe == 0 else "ycbcr"
        if [c[0] for c in comps] == [0x52, 0x47, 0x42]:  # 'R','G','B'
            return "rgb"
        return "ycbcr"
    if adobe is not None:
        # transform 0 = no transform (CMYK); anything else defaults to
        # YCCK, the documented libjpeg fallback for 4 channels
        return "cmyk-inv" if adobe == 0 else "ycck"
    return "cmyk"


def _decode_scan(ent, frame, scan_tables, qt, restart_interval, color):
    """Single-scan sequential frame (every component in one scan): each
    data unit dequantizes and IDCTs straight into its plane, under the
    shared MAX_PIXELS cap rather than the multi-scan path's stricter
    coefficient-store cap. ``ent``: the scan's entropy decoder."""
    h, w, comps, prec = frame.h, frame.w, frame.comps, frame.prec
    if h <= 0 or w <= 0:
        raise ValueError("degenerate JPEG dimensions")
    from . import MAX_PIXELS

    if h * w > MAX_PIXELS:
        raise ValueError("JPEG dimensions exceed the decode cap")
    if len(comps) == 1:
        # T.81 A.2 / B.2.3: a scan with ONE component is non-interleaved
        # -- the MCU is a single 8x8 data unit and the grid is
        # ceil(w/8) x ceil(h/8) REGARDLESS of the SOF sampling factors
        # (grayscale files from color-to-gray encoders commonly keep a
        # 2x2 declaration; interleaved geometry would misdecode them).
        # (Scans covering a strict SUBSET of a multi-component frame
        # never reach here: _decode_jpeg routes them to the multi-scan
        # sequential path.)
        cid0, _hs0, _vs0, tq0 = comps[0]
        comps = [(cid0, 1, 1, tq0)]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # per-worker pooled plane buffers (r16, verdict #5): the MCU loop
    # writes EVERY 8x8 block of every plane (plane dims are exactly the
    # MCU grid by construction), so the old np.zeros init was never
    # read and a pooled undefined-content buffer is bit-identical;
    # consumed by _assemble (np.repeat copies) within this call.
    from .scratch import scratch

    planes = {}
    for cid, hs, vs, _tq in comps:
        planes[cid] = scratch(
            f"jpeg.seq_plane.{cid}",
            (mcus_y * vs * 8, mcus_x * hs * 8), np.float64)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                ent.restart()
            for cid, hs, vs, tq in comps:
                q = qt.get(tq)
                if q is None:
                    raise ValueError("JPEG references missing table")
                dc_tid, ac_tid = scan_tables[cid]
                for by in range(vs):
                    for bx in range(hs):
                        zz = ent.data_unit(cid, dc_tid, ac_tid, prec)
                        # int64 product: a crafted stream can hold DC at
                        # the 2^26 guard limit with a 16-bit quant entry
                        # (2^42 product), which an int32 store would
                        # silently wrap into corrupt pixels
                        block = np.zeros(64, np.int64)
                        block[_ZIGZAG] = zz * q
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = _idct2(
                            block.reshape(8, 8))
            mcu_count += 1
    return _assemble(planes, comps, h, w, hmax, vmax, color, prec)


def _assemble(planes, comps, h, w, hmax, vmax, color, prec=8):
    """Upsample component planes to full resolution by sample
    replication, crop, level-shift and color-convert (shared by the
    sequential and progressive paths). ``color`` is the resolved
    interpretation from ``_resolve_color``; every multi-channel space
    lands in RGB. ``prec``: DCT sample precision -- the level shift is
    ``2^(P-1)`` and the P-bit channels scale to the uint8 contract by
    ``255/(2^P-1)`` (for P=8 that factor is exactly 1.0, so the 8-bit
    arithmetic is bit-identical to the pre-r11 spelling)."""
    half = float(1 << (prec - 1))
    maxv = float((1 << prec) - 1)
    scale = 255.0 / maxv
    full = []
    for cid, hs, vs, _tq in comps:
        p = planes[cid]
        p = np.repeat(np.repeat(p, vmax // vs, 0), hmax // hs, 1)
        full.append(p[:h, :w])
    if color == "gray":
        # round like the RGB path: truncation would drift 1 LSB low on
        # coefficients landing epsilon under the true integer
        gray = np.clip(np.round((full[0] + half) * scale), 0, 255)
        return w, h, gray.astype(np.uint8)[:, :, None]
    if color == "rgb":
        # Adobe transform 0 / R,G,B component ids: samples ARE R,G,B
        rgb = np.clip(np.round((np.dstack(full) + half) * scale), 0, 255)
        return w, h, rgb.astype(np.uint8)
    if color in ("cmyk", "cmyk-inv", "ycck"):
        if color == "ycck":
            # Adobe YCCK: the inverted C,M,Y went through the forward
            # JFIF matrix at encode; invert it to recover the STORED
            # (inverted) ink channels, K passes through untouched
            yl, cb, cr = full[0] + half, full[1], full[2]
            c = yl + 1.402 * cr
            m = yl - 0.344136 * cb - 0.714136 * cr
            ye = yl + 1.772 * cb
        else:
            c, m, ye = full[0] + half, full[1] + half, full[2] + half
        k = full[3] + half
        c, m, ye, k = (np.clip(ch, 0, maxv) for ch in (c, m, ye, k))
        if color == "cmyk":
            # no Adobe marker: samples are ink coverage directly; the
            # Adobe spaces ("cmyk-inv"/"ycck") store maxv-ink, which the
            # multiply below already expects
            c, m, ye, k = maxv - c, maxv - m, maxv - ye, maxv - k
        # R = (maxv-C_ink)(maxv-K_ink)/maxv on ink values == stored*k/maxv
        # on Adobe-inverted values; * scale maps to the uint8 contract
        rgb = np.dstack([c * k, m * k, ye * k]) / maxv * scale
        return w, h, np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    y, cb, cr = full[0] + half, full[1], full[2]
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.clip((np.dstack([r, g, b]) * scale).round(), 0, 255)
    return w, h, rgb.astype(np.uint8)


# ------------------------------------------------- progressive (SOF2)

#: scan-count cap: a legal progression needs ~10 scans (1-2 DC + a few
#: AC bands + refinements per component); 64 is generous headroom
_PROG_MAX_SCANS = 64

#: progressive pixel cap, stricter than the shared MAX_PIXELS: decode
#: work is scans x blocks (EOB runs decouple it from payload bytes) and
#: finalize holds all coefficients at once, so the hostile-input work
#: and memory ceilings are (cap/64) x _PROG_MAX_SCANS block visits and
#: ~(cap x 8 B x ncomp) -- ~16.7M px keeps both in the tens-of-seconds
#: / hundreds-of-MB range; larger progressive payloads decline to the
#: documented PIL/fake fallback
def _prog_max_pixels() -> int:
    from . import SLOW_PATH_MAX_PIXELS

    return SLOW_PATH_MAX_PIXELS


class _ProgState:
    """Coefficient state accumulated across progressive scans: one
    int32[(blocks_y, blocks_x, 64)] array per component, indexed in
    ZIGZAG order (the natural index for spectral-band operations);
    de-zigzag happens once at finalize."""

    def __init__(self, h: int, w: int, comps, prec: int = 8):
        if h <= 0 or w <= 0:
            raise ValueError("degenerate JPEG dimensions")
        if h * w > _prog_max_pixels():
            raise ValueError(
                "JPEG dimensions exceed the progressive decode cap"
            )
        self.h, self.w, self.comps, self.prec = h, w, comps, prec
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        self.mcus_x = -(-w // (8 * self.hmax))
        self.mcus_y = -(-h // (8 * self.vmax))
        self.coefs: dict[int, np.ndarray] = {}
        #: per-component TRUE block grid (T.81 A.1.1 component dims);
        #: non-interleaved scans cover exactly this, not the MCU-padded
        #: grid
        self.nblocks: dict[int, tuple[int, int]] = {}
        from .scratch import scratch

        for cid, hs, vs, _tq in comps:
            # pooled + EXPLICIT zero fill: progressive scans
            # read-modify-write these across scans, so the zero initial
            # state is semantic (unlike the sequential planes); filling
            # warm pages is a memset, faulting fresh ones is the tax
            self.coefs[cid] = scratch(
                f"jpeg.prog_coefs.{cid}",
                (self.mcus_y * vs, self.mcus_x * hs, 64), np.int32)
            self.coefs[cid].fill(0)
            cw = -(-(w * hs) // self.hmax)
            ch = -(-(h * vs) // self.vmax)
            self.nblocks[cid] = (-(-ch // 8), -(-cw // 8))
        self.n_scans = 0


def _decode_progressive_scan(ent, prog, scan_comps, scan_tables,
                             restart_interval, ss, se, ah, al,
                             differential=False) -> int:
    """Decode one progressive scan into ``prog`` through the entropy
    decoder ``ent`` (T.81 G.1.2 Huffman or G.2 arithmetic: same scan
    geometry, same point transform); returns the byte position of the
    next marker after the entropy-coded data."""
    prog.n_scans += 1
    if prog.n_scans > _PROG_MAX_SCANS:
        # a legal encoder emits ~10 scans; the cap bounds total decode
        # work at scans x blocks (EOB-run codes cost O(1) bits per
        # covered block, so per-scan work is NOT bounded by payload
        # size -- without this cap a few-KB payload could drive
        # hundreds of millions of block visits)
        raise ValueError("too many JPEG scans")
    if not (0 <= ss <= se <= 63) or ah > 13 or al > 13:
        raise ValueError("invalid JPEG progressive scan parameters")
    _check_scan_comps(prog, scan_comps)
    if ss == 0:
        if se != 0:
            raise ValueError("JPEG DC scan with nonzero Se")

        def unit(cid, by, bx):
            arr = prog.coefs[cid]
            if ah == 0:  # first DC scan: diff coding, point transform <<Al
                v = ent.dc_diff(cid, scan_tables[cid][0], prog.prec,
                                differential) << al
                if not -(1 << 30) <= v <= (1 << 30):
                    # a legal 8-bit DC is |coef| <= 2047 and Al <= 13, so
                    # |v| < 2^24 (12-bit: |diff| <= 32767 -> |v| < 2^28)
                    raise ValueError("JPEG DC predictor out of range")
                arr[by, bx, 0] = v
            elif ent.dc_refine():  # refinement: one bit, ORed at Al
                # two's-complement OR appends the magnitude bit for
                # either sign
                arr[by, bx, 0] |= np.int32(1 << al)

        _walk_units(ent, prog, scan_comps, restart_interval, unit)
    else:
        if len(scan_comps) != 1:
            raise ValueError("JPEG AC scan must be single-component")
        ac_tid = scan_tables[scan_comps[0]][1]
        band = ent.ac_band if ah == 0 else ent.ac_refine_band

        def unit(cid, by, bx):
            band(ac_tid, prog.coefs[cid][by, bx], ss, se, al)

        _walk_units(ent, prog, scan_comps, restart_interval, unit)
    return _skip_to_marker(ent)


def _check_scan_comps(state, scan_comps) -> None:
    known = {c[0] for c in state.comps}
    for cid in scan_comps:
        if cid not in known:
            raise ValueError("JPEG scan references unknown component")


def _walk_units(ent, state, scan_comps, restart_interval, unit) -> None:
    """Visit one scan's data units in T.81 A.2 order, calling
    ``unit(cid, block_row, block_col)`` and restarting ``ent`` every
    ``restart_interval`` MCUs: an interleaved scan walks the frame MCU
    grid with hs x vs blocks per component; a single-component scan is
    non-interleaved over that component's TRUE block grid."""
    comps = [c for c in state.comps if c[0] in scan_comps]
    if len(comps) > 1:  # interleaved: MCU order, hs x vs blocks each
        for u in range(state.mcus_y * state.mcus_x):
            if restart_interval and u and u % restart_interval == 0:
                ent.restart()
            my, mx = divmod(u, state.mcus_x)
            for cid, hs, vs, _tq in comps:
                for by in range(vs):
                    for bx in range(hs):
                        unit(cid, my * vs + by, mx * hs + bx)
    else:  # single component: non-interleaved, true component grid
        cid = comps[0][0]
        nby, nbx = state.nblocks[cid]
        for u in range(nby * nbx):
            if restart_interval and u and u % restart_interval == 0:
                ent.restart()
            by, bx = divmod(u, nbx)
            unit(cid, by, bx)


def _skip_to_marker(ent) -> int:
    """Skip pad bits / fill bytes / stray trailing restart markers from
    where ``ent`` stopped to the next real marker after a scan's
    entropy-coded data (shared by the multi-scan drivers)."""
    data, p = ent.data, ent.end_pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] not in (0x00, 0xFF):
            if 0xD0 <= data[p + 1] <= 0xD7:
                p += 2  # stray trailing restart marker
                continue
            return p
        p += 1
    return len(data)


def _decode_sequential_scan(ent, seq, scan_comps, scan_tables,
                            restart_interval, differential=False) -> int:
    """One scan of a MULTI-SCAN sequential file: each block of the
    scan's components delivers its full 64 coefficients through the
    entropy decoder ``ent`` (T.81 F.2.2 Huffman or F.2.4 arithmetic),
    stored at zigzag indices in the shared coefficient state for the
    common finalize. Geometry follows the progressive DC rules
    (``_walk_units``). ``differential`` (hierarchical frames): the DC
    is coded directly, without prediction. Returns the byte position
    of the next marker."""
    seq.n_scans += 1
    if seq.n_scans > _PROG_MAX_SCANS:
        raise ValueError("too many JPEG scans")
    _check_scan_comps(seq, scan_comps)

    def unit(cid, by, bx):
        seq.coefs[cid][by, bx] = ent.data_unit(
            cid, *scan_tables[cid], seq.prec, differential)

    _walk_units(ent, seq, scan_comps, restart_interval, unit)
    return _skip_to_marker(ent)


def _idct_planes(prog: _ProgState, qt) -> dict[int, np.ndarray]:
    """Dequantize + de-zigzag + batched IDCT of the accumulated
    coefficients: one float plane per component over its MCU-padded
    block grid, not yet level-shifted."""
    planes = {}
    for cid, hs, vs, tq in prog.comps:
        q = qt.get(tq)
        if q is None:
            raise ValueError("JPEG references missing quant table")
        arr = prog.coefs[cid]  # (by, bx, 64) zigzag order
        deq = arr.astype(np.int64) * q[None, None, :]
        nat = np.zeros_like(deq)
        nat[:, :, _ZIGZAG] = deq
        nby, nbx = arr.shape[0], arr.shape[1]
        blocks = nat.reshape(nby * nbx, 8, 8).astype(np.float64)
        pix = np.einsum("xu,nuv,yv->nxy", _IDCT_M, blocks, _IDCT_M)
        planes[cid] = (
            pix.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
    return planes


def _finalize_progressive(prog: _ProgState, qt,
                          color) -> tuple[int, int, np.ndarray]:
    """The accumulated coefficients through the IDCT and the shared
    assemble tail."""
    return _assemble(_idct_planes(prog, qt), prog.comps, prog.h, prog.w,
                     prog.hmax, prog.vmax, color, prog.prec)


# ------------------------------------------------- lossless (SOF3)


class _LosslessState:
    """Accumulated sample planes of a lossless (SOF3) frame -- the
    analog of ``_ProgState`` for predictive coding (T.81 Annex H)."""

    def __init__(self, h: int, w: int, comps, prec: int):
        if h <= 0 or w <= 0:
            raise ValueError("degenerate JPEG dimensions")
        if h * w > _prog_max_pixels():
            # lossless decode is a PER-SAMPLE pure-Python loop -- the
            # same work profile as progressive, so the same stricter
            # slow-path cap applies (r11 review: the shared 2^26 cap
            # would let one legal 8k x 8k payload pin a core for
            # minutes; oversized payloads decline to the PIL/fake
            # fallback per the operators/__init__ policy)
            raise ValueError("JPEG dimensions exceed the decode cap")
        self.h, self.w, self.comps, self.prec = h, w, comps, prec
        # pooled + zero fill (conservative: prediction only ever reads
        # already-decoded positions, but fill(0) makes pooled contents
        # literally equal to the old np.zeros for any malformed stream)
        from .scratch import scratch

        self.planes = {}
        for c in comps:
            self.planes[c[0]] = scratch(
                f"jpeg.lossless_plane.{c[0]}", (h, w), np.int32)
            self.planes[c[0]].fill(0)
        self.pt: dict[int, int] = {}  # point transform, per scan


def _predict_lossless(plane, x: int, y: int, first_line: int,
                      pred_sel: int) -> int:
    """The H.1.2.1 prediction for a NON-initial sample (the caller
    handles the scan-start/post-restart default): first line of the
    current restart interval predicts from Ra, the first column from
    Rb, interior samples by the scan's selected predictor 1-7.
    Prediction is entropy-independent in T.81: Huffman (SOF3) and
    arithmetic (SOF11) scans share it."""
    if y == first_line:
        return int(plane[y, x - 1])
    if x == 0:
        return int(plane[y - 1, 0])
    ra = int(plane[y, x - 1])
    rb = int(plane[y - 1, x])
    rc = int(plane[y - 1, x - 1])
    if pred_sel == 1:
        return ra
    if pred_sel == 2:
        return rb
    if pred_sel == 3:
        return rc
    if pred_sel == 4:
        return ra + rb - rc
    if pred_sel == 5:
        return ra + ((rb - rc) >> 1)
    if pred_sel == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1


def _decode_lossless_scan(ent, loss, scan_comps, scan_tables,
                          restart_interval, pred_sel, pt,
                          differential=False) -> int:
    """One lossless scan per T.81 Annex H: samples raster-scan in MCU
    order (one sample per scan component per MCU -- sampling factors
    are all 1x1 by the SOF gate), each difference decoded by the
    entropy decoder ``ent`` (H.2 Huffman SSSS categories, or the
    H.1.2.2 arithmetic model conditioned on the neighbours'
    differences) and reconstructed as ``(prediction + diff) mod 2^16``.
    Prediction (H.1.2.1): the very first sample -- and the first after
    every restart -- predicts from the default ``2^(P-Pt-1)``; the rest
    of the first line *of the scan and of every restart interval* uses
    Ra (left, the one-dimensional horizontal predictor); on later lines
    the first column uses Rb (above) and interior samples use the
    scan's selected predictor 1-7. Returns the byte position of the
    next marker.

    ``differential`` (hierarchical SOF7/SOF15 frames, r14): no
    prediction at all -- T.81 H.2 disables the predictor in
    differential frames (the SOS Ss field shall be 0), the coded values
    ARE the mod-2^16 differences against the (expanded) reference, and
    the point transform must be 0 (this decoder's documented
    hierarchical restriction -- a nonzero Pt would scale diffs and
    references differently)."""
    if differential:
        if pred_sel != 0:
            raise ValueError(
                "differential lossless JPEG scan must carry predictor 0")
        if pt != 0:
            raise ValueError(
                "nonzero point transform unsupported in differential "
                "lossless JPEG")
    elif not (1 <= pred_sel <= 7):
        raise ValueError("invalid lossless JPEG predictor")
    if pt >= loss.prec:
        raise ValueError("lossless JPEG point transform >= precision")
    known = {c[0] for c in loss.comps}
    for cid in scan_comps:
        if cid not in known:
            raise ValueError("JPEG scan references unknown component")
        loss.pt[cid] = pt
    units = [(cid, scan_tables[cid][0], loss.planes[cid])
             for cid in scan_comps]
    default = 1 << (loss.prec - pt - 1)
    fresh = dict.fromkeys(scan_comps, True)  # scan start / post-RST
    first_line = 0  # row where the current restart interval began
    mcu = 0
    for y in range(loss.h):
        for x in range(loss.w):
            if restart_interval and mcu and mcu % restart_interval == 0:
                ent.restart()
                fresh = dict.fromkeys(scan_comps, True)
                first_line = y
            for cid, tid, plane in units:
                if differential:
                    px = 0  # no prediction in differential frames
                elif fresh[cid]:
                    px = default
                    fresh[cid] = False
                else:
                    px = _predict_lossless(plane, x, y, first_line,
                                           pred_sel)
                plane[y, x] = (px + ent.diff(cid, tid, x)) & 0xFFFF
            mcu += 1
    return _skip_to_marker(ent)


def _finalize_lossless(loss: _LosslessState,
                       adobe: int | None) -> tuple[int, int, np.ndarray]:
    """Undo the point transform and scale to the 8-bit output contract.
    Lossless color: samples are ABSOLUTE (no -128 level shift), and
    3-component files default to literal RGB channels -- the JFIF
    YCbCr convention belongs to the DCT modes, and real lossless
    payloads (DNG, medical) store channels directly -- unless an Adobe
    APP14 transform byte of 1 explicitly says YCbCr."""
    chans = [
        (loss.planes[cid].astype(np.int64)
         << loss.pt.get(cid, 0)).astype(np.float64)
        for cid, *_ in loss.comps
    ]
    return loss.w, loss.h, _lossless_pixels(chans, loss.prec, adobe)


def _lossless_pixels(chans, prec: int, adobe: int | None) -> np.ndarray:
    """Absolute P-bit channels (lossless frames and lossless-led
    pyramids) to the uint8 output: literal channels unless Adobe
    transform 1 says YCbCr, full scale 2^P - 1 mapped to 255."""
    if len(chans) == 3 and adobe == 1:
        half = float(1 << (prec - 1))  # chroma centers at 2^(P-1)
        y, cb, cr = chans[0], chans[1] - half, chans[2] - half
        chans = [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ]
    out = np.dstack(chans)
    if prec != 8:  # map full-scale 2^P - 1 to 255
        out = out * (255.0 / float((1 << prec) - 1))
    return np.clip(np.round(out), 0, 255).astype(np.uint8)
