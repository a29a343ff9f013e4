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
with full statistics reset). All color spaces convert to RGB (or stay
single-channel grayscale) on output. Only the near-extinct
differential and hierarchical pyramid variants raise ``ValueError``
(the multimodal layer falls back to Pillow-if-present or the
documented fake, exactly like the other decoders' unsupported
profiles).

Structure (ITU-T T.81):
- markers: SOI, DQT (quant tables), SOF0/SOF2 (dims, components,
  sampling factors), DHT (Huffman tables), DRI (restart interval), SOS,
  EOI;
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
    """One DQT segment into the table dict (shared with the
    hierarchical driver -- tables persist across pyramid frames)."""
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
    """One DHT segment into the table dicts (shared with the
    hierarchical driver)."""
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
    place the Huffman/arithmetic choice is made (shared with the
    hierarchical driver)."""
    if not arith:
        return HuffmanEntropy(data, pos, huff_dc, huff_ac)
    if lossless:
        return ArithLossless(data, pos, dc_cond, scan_tables)
    return ArithEntropy(data, pos, dc_cond, ac_cond, scan_tables)


def decode_jpeg_pixels(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL decoder for sequential AND progressive (8/12-bit, Huffman
    or arithmetic) AND lossless (Huffman or arithmetic) JPEG:
    returns (width, height, pixels[h, w, 1 or 3] uint8 — grayscale or
    RGB; CMYK/YCCK inputs convert to RGB). Raises ``ValueError`` on
    malformed input or unsupported variants (differential,
    hierarchical) — ONLY ValueError, whatever
    the corruption (struct/index errors from fuzzed bytes are
    remapped), so a malformed payload can never kill an executor task
    instead of taking the documented fallback."""
    try:
        return _decode_jpeg(payload)
    except (struct.error, IndexError, TypeError, OverflowError) as exc:
        # OverflowError: numpy >= 2.0 raises it on out-of-range int32
        # assignment (1.x wraps with a deprecation warning); a crafted
        # DC-predictor stream must stay inside the ValueError contract
        raise ValueError(f"malformed JPEG: {exc}") from exc


def _decode_jpeg(payload: bytes) -> tuple[int, int, np.ndarray]:
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huff] = {}
    huff_ac: dict[int, _Huff] = {}
    restart_interval = 0
    frame = None  # (height, width, [(comp_id, h_samp, v_samp, qt_id)])
    dct_prec = 8  # DCT-mode sample precision (8 or 12, T.81 B.2.2)
    progressive = False
    # arithmetic (SOF9, r12): QM-coded extended sequential; conditioning
    # from DAC segments (defaults applied per table in jpeg_arith)
    arith = False
    dc_cond: dict[int, tuple[int, int]] = {}
    ac_cond: dict[int, int] = {}
    prog: _ProgState | None = None
    # multi-scan SEQUENTIAL state (scans covering component subsets of a
    # SOF0/1 frame): reuses the progressive coefficient-accumulator and
    # finalize; seq_done tracks delivered components (each exactly once)
    seq: _ProgState | None = None
    seq_done: set[int] = set()
    # LOSSLESS (SOF3, r10): predictive sample planes accumulate across
    # scans exactly like the sequential coefficient state
    lossless = False
    loss: _LosslessState | None = None
    loss_done: set[int] = set()
    adobe: int | None = None  # APP14 color-transform byte, if present
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker sync at byte {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            if prog is not None and prog.n_scans > 0:
                return _finalize_progressive(
                    prog, qt, _resolve_color(frame[2], adobe))
            if seq is not None:
                if seq_done != {c[0] for c in frame[2]}:
                    raise ValueError(
                        "sequential JPEG ended with undelivered components"
                    )
                return _finalize_progressive(
                    seq, qt, _resolve_color(frame[2], adobe))
            if loss is not None:
                if loss_done != {c[0] for c in frame[2]}:
                    raise ValueError(
                        "lossless JPEG ended with undelivered components"
                    )
                return _finalize_lossless(loss, adobe)
            raise ValueError("JPEG ended before scan data")
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
        elif marker == 0xDE:
            # DHP: a hierarchical (pyramid) stream -- frame sequencing,
            # EXP expansion, and differential reconstruction live in
            # their own driver (T.81 Annex J, r14)
            from .jpeg_hier import decode_hierarchical

            return decode_hierarchical(payload)
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xCB):
            # SOF0/1/2/3 (Huffman) / SOF9/10/11 (arithmetic)
            if frame is not None:
                raise ValueError("multiple JPEG frame headers")
            progressive = marker in (0xC2, 0xCA)
            lossless = marker in (0xC3, 0xCB)
            # SOF9 = extended sequential, SOF10 = progressive, SOF11 =
            # lossless (r13): the SOF1/2/3 processes with QM coding --
            # only the entropy decoder built at each SOS differs
            arith = marker in (0xC9, 0xCA, 0xCB)
            prec, h, w, ncomp = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if lossless:
                # T.81 B.2.2: lossless precision is 2-16 bits
                if not (2 <= prec <= 16):
                    raise ValueError(f"{prec}-bit lossless JPEG invalid")
                if ncomp not in (1, 3):
                    raise ValueError(
                        f"{ncomp}-component lossless JPEG unsupported")
            elif marker == 0xC0 and prec != 8:
                # baseline is 8-bit by definition (T.81 B.2.2)
                raise ValueError(f"{prec}-bit baseline JPEG invalid")
            elif prec not in (8, 12):
                # extended sequential (SOF1) / progressive (SOF2)
                # allow exactly 8 or 12 (T.81 B.2.2); 12-bit decode r11
                raise ValueError(f"{prec}-bit JPEG unsupported")
            elif ncomp not in (1, 3, 4):
                raise ValueError(f"{ncomp}-component JPEG unsupported")
            dct_prec = prec
            comps = []
            for c in range(ncomp):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                hs, vs = samp >> 4, samp & 15
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    # a fuzzed 0 factor would divide-by-zero in the MCU
                    # arithmetic -- outside the ValueError-only contract
                    raise ValueError(
                        f"invalid JPEG sampling factors {hs}x{vs}"
                    )
                if lossless and (hs, vs) != (1, 1):
                    # subsampling is meaningless for predictive lossless
                    # and essentially unseen in real files
                    raise ValueError("subsampled lossless JPEG unsupported")
                comps.append((cid, hs, vs, tq))
            frame = (h, w, comps)
            if progressive:
                prog = _ProgState(h, w, comps, dct_prec)
            if lossless:
                loss = _LosslessState(h, w, comps, prec)
        elif marker in (0xC5, 0xC6, 0xC7,
                        0xCD, 0xCE, 0xCF):
            # differential frames are ONLY legal inside a hierarchical
            # (DHP-led) stream, which the 0xDE branch above dispatches
            # to jpeg_hier before any frame arrives -- reaching one
            # here means the stream never declared a pyramid
            raise ValueError(
                "differential JPEG frame outside a hierarchical "
                "(DHP) stream")
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            parse_dac(seg, dc_cond, ac_cond)
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
            # APP14 Adobe: version(2) flags0(2) flags1(2) transform(1)
            adobe = seg[11]
        elif marker == 0xDA:  # SOS: entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
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
                # a duplicated id would pass the set-based full-scan
                # gate below while the stream interleaves MORE blocks
                # per MCU than the decode loop reads -- bitstream
                # desync into silent garbage (r11 review)
                raise ValueError("JPEG SOS repeats a component id")
            ent = _scan_entropy(arith, lossless, payload, pos + 2 + seg_len,
                                scan_tables, huff_dc, huff_ac,
                                dc_cond, ac_cond)
            if lossless:
                # T.81 H: Ss carries the predictor selector, Al the
                # point transform; Se/Ah are zero
                pred_sel = seg[1 + 2 * ns]
                pt = seg[3 + 2 * ns] & 15
                for cid in scan_comps:
                    if cid in loss_done:
                        raise ValueError(
                            "lossless JPEG component delivered twice")
                    loss_done.add(cid)
                pos = _decode_lossless_scan(
                    ent, loss, scan_comps, scan_tables, restart_interval,
                    pred_sel, pt,
                )
                continue
            if progressive:
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
                pos = _decode_progressive_scan(
                    ent, prog, scan_comps, scan_tables, restart_interval,
                    ss, se, ah, al,
                )
                continue
            if seq is None and set(scan_comps) == {c[0] for c in frame[2]}:
                # single-scan file (the common case): one-pass decode
                return _decode_scan(
                    ent, frame, scan_tables, qt, restart_interval,
                    _resolve_color(frame[2], adobe), dct_prec,
                )
            # MULTI-SCAN sequential (r10): each scan delivers the full 64
            # coefficients for a SUBSET of components -- accumulate into
            # the shared coefficient state and finalize at EOI, exactly
            # like progressive
            if seq is None:
                seq = _ProgState(*frame, dct_prec)
            for cid in scan_comps:
                if cid in seq_done:
                    raise ValueError(
                        "JPEG component delivered by two sequential scans"
                    )
                seq_done.add(cid)
            pos = _decode_sequential_scan(
                ent, seq, scan_comps, scan_tables, restart_interval,
            )
            continue
        pos += 2 + seg_len
    if prog is not None and prog.n_scans > 0:
        # missing EOI but scans decoded: tolerate truncated-tail files
        return _finalize_progressive(
            prog, qt, _resolve_color(frame[2], adobe))
    if seq is not None and seq_done == {c[0] for c in frame[2]}:
        # every component's scan arrived; only the EOI byte is missing
        return _finalize_progressive(
            seq, qt, _resolve_color(frame[2], adobe))
    if loss is not None and loss_done == {c[0] for c in frame[2]}:
        return _finalize_lossless(loss, adobe)
    if seq is not None or loss is not None:
        # scans WERE decoded but some component never arrived before the
        # payload ended -- say so, instead of the misleading "no SOS"
        # (r11 review: an operator debugging strict mode was told no
        # scan existed when the real problem was a truncated tail)
        raise ValueError("JPEG truncated with undelivered components")
    raise ValueError("JPEG has no SOS segment")


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


def _decode_scan(ent, frame, scan_tables, qt, restart_interval, color,
                 prec=8):
    """Single-scan sequential frame (every component in one scan): each
    data unit dequantizes and IDCTs straight into its plane, under the
    shared MAX_PIXELS cap rather than the multi-scan path's stricter
    coefficient-store cap. ``ent``: the scan's entropy decoder."""
    h, w, comps = frame
    if h <= 0 or w <= 0:
        raise ValueError("degenerate JPEG dimensions")
    from .gif import MAX_PIXELS

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


def _finalize_progressive(prog: _ProgState, qt,
                          color) -> tuple[int, int, np.ndarray]:
    """Dequantize + de-zigzag + batched IDCT of the accumulated
    coefficients, then the shared assemble tail."""
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
    return _assemble(planes, prog.comps, prog.h, prog.w, prog.hmax,
                     prog.vmax, color, prog.prec)


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
    prec = loss.prec
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
    return (loss.w, loss.h,
            np.clip(np.round(out), 0, 255).astype(np.uint8))
