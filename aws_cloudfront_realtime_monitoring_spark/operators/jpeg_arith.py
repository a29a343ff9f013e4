"""QM arithmetic entropy decoding for JPEG (ITU-T T.81 Annex D + the
Annex F sequential-DCT, Annex G progressive, and Annex H.1.2.2
lossless statistical models).

The reference pipeline treats media payloads as opaque binary columns
(SURVEY.md multimodal scope); this module supplies the last real-world
JPEG entropy variants the strict decoder lacked — SOF9 extended
sequential and SOF10 progressive (r12) and SOF11 lossless (r13)
arithmetic frames — so only the near-extinct differential/hierarchical
pyramid modes remain on the documented fake fallback.

Everything here is written from the public spec:

- the probability-estimation state machine is ITU-T T.81 Table D.3
  (Qe value, Next_Index_MPS, Next_Index_LPS, Switch_MPS), transcribed
  below as data. Encoder-side tests share this table by necessity (it
  is spec DATA, not logic — there is exactly one correct table), so a
  transcription error would not break the roundtrip goldens; the table
  is therefore additionally pinned by structural-invariant tests
  (monotone Qe along estimation chains, switch flags only at the
  q≈0.5 chain heads, index closure) and by entropy-convergence tests
  (adaptive compression of a p-biased source must approach H(p)),
  which catch gross transcription damage.
- the decoder register discipline follows T.81 D.2/F.2.2: interval
  register A renormalized into [0x8000, 0x10000), code window compared
  against the MPS (lower) sub-interval, conditional MPS/LPS exchange
  when the MPS sub-interval falls below Qe, statistics adapted only on
  renormalization, 0xFF byte-stuffing (0xFF 0x00 in the entropy
  stream) and the marker convention (a 0xFF followed by a non-zero
  byte ends the entropy segment; the decoder supplies zero bits from
  then on — T.81 D.2.7).
- the statistical model is T.81 F.2.4 (the decode mirror of F.1.4):
  DC difference conditioning on the previous diff's sign/magnitude
  class (5 classes x 4 decision bins, thresholds from the DAC L/U
  conditioning), log2 magnitude-category trees with per-category
  magnitude-bit bins, AC end-of-block/run decisions in 3-bin groups
  per coefficient index k, the low/high spectral split at Kx, and the
  fixed non-adaptive sign bin.

Nothing in this module touches Spark: it is pure-numpy entropy-level
machinery. ``ArithEntropy`` and ``ArithLossless`` have the interface of
the Huffman decoder ``jpeg.HuffmanEntropy`` (per-unit decode calls,
``restart()``, ``end_pos``), so jpeg.py's one scan driver per coding
process takes either as a parameter. Reference parity: the reference
(lambda_function.py) never decodes media — this belongs to the
LLM-pipeline multimodal family, same contract as operators/jpeg.py.
"""

from __future__ import annotations

import numpy as np

#: T.81 Table D.3 — (Qe, Next_Index_MPS, Next_Index_LPS, Switch_MPS).
#: Index 113 is the non-adaptive state used for AC sign decisions
#: (Qe ~ 0.5, both transitions self-loop, no switch): F.1.4.3.1's
#: "fixed estimate" convention.
QM_TABLE = (
    (0x5A1D, 1, 1, 1),
    (0x2586, 2, 14, 0),
    (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0),
    (0x03D8, 5, 20, 0),
    (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0),
    (0x006F, 8, 28, 0),
    (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0),
    (0x000D, 11, 35, 0),
    (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0),
    (0x0001, 13, 12, 0),
    (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0),
    (0x2CF2, 17, 38, 0),
    (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0),
    (0x1182, 20, 42, 0),
    (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0),
    (0x072F, 23, 46, 0),
    (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0),
    (0x0303, 26, 51, 0),
    (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0),
    (0x0144, 29, 56, 0),
    (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0),
    (0x008A, 32, 60, 0),
    (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0),
    (0x003B, 35, 32, 0),
    (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1),
    (0x484C, 38, 64, 0),
    (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0),
    (0x261F, 41, 68, 0),
    (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0),
    (0x1518, 44, 72, 0),
    (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0),
    (0x0BFB, 47, 75, 0),
    (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0),
    (0x0706, 50, 79, 0),
    (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0),
    (0x040F, 53, 50, 0),
    (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0),
    (0x025C, 56, 53, 0),
    (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0),
    (0x0160, 59, 56, 0),
    (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0),
    (0x00CB, 62, 59, 0),
    (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0),
    (0x5B12, 65, 65, 1),
    (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0),
    (0x37D8, 68, 82, 0),
    (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0),
    (0x2379, 71, 86, 0),
    (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0),
    (0x174E, 74, 72, 0),
    (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0),
    (0x0F6B, 77, 74, 0),
    (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0),
    (0x0A40, 48, 77, 0),
    (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0),
    (0x438E, 83, 89, 0),
    (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0),
    (0x2EAE, 86, 92, 0),
    (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0),
    (0x5570, 89, 88, 1),
    (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0),
    (0x3E22, 92, 97, 0),
    (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0),
    (0x2E17, 86, 93, 0),
    (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0),
    (0x47E5, 98, 102, 0),
    (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0),
    (0x375E, 93, 99, 0),
    (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0),
    (0x4639, 104, 107, 0),
    (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1),
    (0x50E7, 107, 108, 0),
    (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0),
    (0x504F, 107, 111, 0),
    (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0),
    (0x59EB, 111, 112, 1),
    (0x5A1D, 113, 113, 0),  # fixed (non-adaptive) sign bin
)

#: index of the fixed sign state above
FIXED_STATE = 113

#: spec defaults when no DAC segment overrides them (T.81 F.1.4.4.1.4 /
#: F.1.4.4.2: DC conditioning bounds L=0, U=1; AC spectral split Kx=5)
DEFAULT_DC_COND = (0, 1)
DEFAULT_AC_KX = 5


class QMDecoder:
    """T.81 Annex D arithmetic decoder over one entropy-coded segment.

    Statistics areas are uint8 numpy arrays whose bytes pack
    ``(mps << 7) | state_index``; ``decode(stats, i)`` returns the next
    binary decision under that context bin, adapting the bin in place.
    Byte-level conventions per D.2.7: a 0x00 after 0xFF is a stuffed
    byte (the 0xFF is data); any other byte after 0xFF is a marker —
    the decoder supplies zero bits from then on and remembers where the
    marker starts (``marker_pos``) so the scan driver can resume
    marker parsing.
    """

    __slots__ = ("data", "pos", "marker_pos", "_bits", "_nbits", "a", "c")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.marker_pos: int | None = None
        self._bits = 0
        self._nbits = 0
        # code window: the first 16 entropy bits; interval starts at
        # full scale (the T.81 registers keep A in [0x8000, 0x10000)
        # between renormalizations — plain ints here, no 16-bit tricks)
        self.a = 0x10000
        self.c = (self._next_byte() << 8) | self._next_byte()

    def _next_byte(self) -> int:
        """Next entropy byte, honoring stuffing and the marker stop."""
        if self.marker_pos is not None:
            return 0
        data, p = self.data, self.pos
        if p >= len(data):
            self.marker_pos = len(data)  # truncated segment: zero-fill
            return 0
        b = data[p]
        if b != 0xFF:
            self.pos = p + 1
            return b
        if p + 1 < len(data) and data[p + 1] == 0x00:
            self.pos = p + 2  # stuffed zero: 0xFF is data
            return 0xFF
        # marker (or trailing 0xFF at EOF): entropy data ends HERE
        self.marker_pos = p
        return 0

    def decode(self, stats: np.ndarray, i: int) -> int:
        """One binary decision under context bin ``stats[i]`` (F.2.2)."""
        sv = int(stats[i])
        mps = sv >> 7
        qe, nmps, nlps, switch = QM_TABLE[sv & 0x7F]
        self.a -= qe
        if self.c < self.a:
            # lower sub-interval (nominally MPS)
            if self.a >= 0x8000:
                return mps  # fast path: no renorm, no adaptation
            if self.a < qe:  # conditional exchange: lower is the LPS
                bit = 1 - mps
                if switch:
                    mps = 1 - mps
                stats[i] = (mps << 7) | nlps
            else:
                bit = mps
                stats[i] = (mps << 7) | nmps
        else:
            # upper sub-interval of size Qe (nominally LPS)
            self.c -= self.a
            if self.a < qe:  # conditional exchange: upper is the MPS
                bit = mps
                stats[i] = (mps << 7) | nmps
            else:
                bit = 1 - mps
                if switch:
                    mps = 1 - mps
                stats[i] = (mps << 7) | nlps
            self.a = qe
        # renormalize (adaptation above happens exactly when we get here)
        a, c, bits, nbits = self.a, self.c, self._bits, self._nbits
        while a < 0x8000:
            if nbits == 0:
                bits = self._next_byte()
                nbits = 8
            nbits -= 1
            c = (c << 1) | ((bits >> nbits) & 1)
            a <<= 1
        self.a, self.c, self._bits, self._nbits = a, c, bits, nbits
        return bit


def parse_dac(seg: bytes, dc_cond: dict, ac_cond: dict) -> None:
    """Parse a DAC (0xFFCC) segment body into the conditioning dicts
    (T.81 B.2.4.3): pairs of (Tc<<4 | Tb, Cs) where Tc=0 updates DC
    table Tb with L = Cs & 15, U = Cs >> 4 and Tc=1 updates AC table
    Tb with Kx = Cs."""
    if len(seg) % 2:
        raise ValueError("odd-length JPEG DAC segment")
    for s in range(0, len(seg), 2):
        tc, tb, cs = seg[s] >> 4, seg[s] & 15, seg[s + 1]
        if tb > 3:
            raise ValueError("JPEG DAC table id out of range")
        if tc == 0:
            low, up = cs & 15, cs >> 4
            if low > up:
                raise ValueError("JPEG DAC DC conditioning L > U")
            dc_cond[tb] = (low, up)
        elif tc == 1:
            if not 1 <= cs <= 63:
                raise ValueError("JPEG DAC AC Kx out of range")
            ac_cond[tb] = cs
        else:
            raise ValueError("invalid JPEG DAC table class")


class _QMScan:
    """Entropy-segment plumbing shared by the two arithmetic decoders:
    the QM decoder over the current segment, where it stopped, and the
    restart that starts the next one. Subclasses keep their model state
    in ``_reset``, which a restart re-runs."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self._reset(pos)

    def _reset(self, pos: int) -> None:
        self.dec = QMDecoder(self.data, pos)

    @property
    def end_pos(self) -> int:
        """Byte position where this segment's entropy data stopped: the
        marker the decoder hit, else its read position (the encoder's
        flush padding may end short of the marker)."""
        p = self.dec.marker_pos
        return self.dec.pos if p is None else p

    def restart(self) -> None:
        """Consume the restart marker ending this segment and start the
        next with a fresh decoder and statistics (T.81 F.2.1.3.1: RSTn
        resets the arithmetic decoder, every statistics area, and the
        DC predictions). There is no bit buffer to align: scan forward
        past stuffed and fill bytes to the next true marker."""
        data, p = self.data, self.end_pos
        while p + 1 < len(data) and not (
            data[p] == 0xFF and data[p + 1] not in (0x00, 0xFF)
        ):
            p += 1
        if p + 1 >= len(data) or not (0xD0 <= data[p + 1] <= 0xD7):
            raise ValueError("expected JPEG restart marker")
        self._reset(p + 2)


def _check_cond_ids(tids) -> None:
    """Arithmetic conditioning tables are numbered 0-3 (T.81 B.2.4.3)."""
    if any(t > 3 for t in tids):
        raise ValueError("JPEG arithmetic conditioning table id > 3")


class ArithEntropy(_QMScan):
    """Per-scan state for the Annex F sequential and Annex G
    progressive statistical models: the QM decoder plus DC/AC
    statistics areas, DC predictions and DC conditioning contexts.
    ``scan_tables`` (component id -> (DC, AC) table ids from the SOS)
    is checked against the four conditioning tables. Same interface as
    the Huffman decoder ``jpeg.HuffmanEntropy``.
    """

    #: DC statistics layout (per conditioning table): 5 context classes
    #: x 4 decision bins (0..19), magnitude-category tree X1..X15 at
    #: 20..34, per-category magnitude-bit bins at 34+... (chain bin +
    #: 14), max index 48
    DC_BINS = 49
    #: AC layout: 3 bins per k (EOB / run / first-magnitude) = 0..188,
    #: low-spectrum magnitude chain at 189, high at 217, each chain of
    #: 14 with its magnitude bits another +14 — max index 244
    AC_BINS = 245

    def __init__(self, data: bytes, pos: int, dc_cond: dict,
                 ac_cond: dict, scan_tables: dict | None = None) -> None:
        _check_cond_ids(t for pair in (scan_tables or {}).values()
                        for t in pair)
        self.dc_cond = dc_cond
        self.ac_cond = ac_cond
        super().__init__(data, pos)

    def _reset(self, pos: int) -> None:
        super()._reset(pos)
        self.dc_stats: dict[int, np.ndarray] = {}
        self.ac_stats: dict[int, np.ndarray] = {}
        self.fixed = np.full(1, FIXED_STATE, np.uint8)
        self.dc_context: dict[int, int] = {}
        self.pred: dict[int, int] = {}

    def dc_diff(self, cid: int, dc_tid: int, prec: int = 8,
                differential: bool = False) -> int:
        """Decode one DC difference (T.81 F.2.4.1 mirroring F.1.4.1) and
        fold it into this component's prediction; returns the updated
        prediction. Shared by the sequential data unit and the
        progressive first-DC scan (G.2 uses the identical model).

        ``differential`` (hierarchical SOF13/14 frames, r14): PRED
        stays 0 -- the decoded value IS the block's differential DC,
        returned directly with no accumulation; the conditioning
        context update is untouched (F.1.4.4.1.2 classifies the coded
        value, prediction plays no part), and the magnitude cap gains
        one bit like the Huffman path's differential SSSS."""
        dst = self.dc_stats.setdefault(
            dc_tid, np.zeros(self.DC_BINS, np.uint8))
        low, up = self.dc_cond.get(dc_tid, DEFAULT_DC_COND)
        dec = self.dec
        base = self.dc_context.setdefault(cid, 0)
        if dec.decode(dst, base) == 0:
            self.dc_context[cid] = 0  # zero-diff class
            if differential:
                return 0
        else:
            sign = dec.decode(dst, base + 1)
            st = base + 2 + sign
            m = dec.decode(dst, st)
            if m:
                st = 20  # magnitude-category tree X1
                while dec.decode(dst, st):
                    m <<= 1
                    if m >= 0x8000:
                        raise ValueError(
                            "JPEG arithmetic DC magnitude overflow")
                    st += 1
            # conditioning class for this component's NEXT data unit
            # (F.1.4.4.1.2: thresholds from the L/U conditioning)
            if m < (1 << low) >> 1:
                self.dc_context[cid] = 0
            elif m > (1 << up) >> 1:
                self.dc_context[cid] = 12 + 4 * sign
            else:
                self.dc_context[cid] = 4 + 4 * sign
            v = m
            if m > 1:
                st += 14  # magnitude bits of this category
                mm = m >> 1
                while mm:
                    if dec.decode(dst, st):
                        v |= mm
                    mm >>= 1
            v += 1
            # precision-dependent magnitude cap: the same limit as
            # HuffmanEntropy's `s > _dc_ssss_max(prec)` check (T.81
            # tables F.1/F.6: |diff| < 2^11 at 8-bit, 2^15 at 12-bit).
            # Without it a crafted stream decodes out-of-spec
            # coefficients into garbage pixels that strict mode would
            # report as a valid decode (r12 review).
            if v >= 1 << ((11 if prec == 8 else 15)
                          + (1 if differential else 0)):
                raise ValueError("invalid JPEG arithmetic DC magnitude")
            if differential:
                return -v if sign else v
            self.pred[cid] = self.pred.get(cid, 0) + (-v if sign else v)
        dc = self.pred.setdefault(cid, 0)
        if not -(1 << 26) <= dc <= (1 << 26):
            # same guard as the Huffman path: a crafted max-diff run
            # must not overflow the int64 dequant product downstream
            raise ValueError("JPEG DC predictor out of range")
        return dc

    def dc_refine(self) -> int:
        """Progressive DC refinement bit (G.2 / F.1.4.1's successive
        approximation tail): a single fixed-estimate decision."""
        return self.dec.decode(self.fixed, 0)

    def ac_band(self, ac_tid: int, block, ss: int, se: int,
                al: int = 0) -> None:
        """Decode one block's AC coefficients over the spectral band
        [ss, se] into ``block`` (zigzag-indexed), point-transformed
        << al (T.81 F.2.4.2; the progressive first-AC scan of G.2 is
        the same model restricted to the band). The sequential data
        unit is the ss=1, se=63, al=0 case."""
        dec = self.dec
        ast = self.ac_stats.setdefault(
            ac_tid, np.zeros(self.AC_BINS, np.uint8))
        kx = self.ac_cond.get(ac_tid, DEFAULT_AC_KX)
        k = ss
        while k <= se:
            st = 3 * (k - 1)
            if dec.decode(ast, st):
                break  # end-of-block
            while dec.decode(ast, st + 1) == 0:
                st += 3
                k += 1
                if k > se:
                    raise ValueError("JPEG arithmetic AC run past band end")
            sign = dec.decode(self.fixed, 0)
            st += 2
            m = dec.decode(ast, st)
            if m and dec.decode(ast, st):
                m = 2
                st = 189 if k <= kx else 217  # spectral-split chains
                while dec.decode(ast, st):
                    m <<= 1
                    if m >= 0x8000:
                        raise ValueError(
                            "JPEG arithmetic AC magnitude overflow")
                    st += 1
            v = m
            if m > 1:
                st += 14
                mm = m >> 1
                while mm:
                    if dec.decode(ast, st):
                        v |= mm
                    mm >>= 1
            v += 1
            block[k] = (-v if sign else v) << al
            k += 1

    def ac_refine_band(self, ac_tid: int, block, ss: int, se: int,
                       al: int) -> None:
        """Progressive AC refinement over [ss, se] (T.81 G.2's mirror
        of G.1.2.3): already-nonzero coefficients consume one
        correction decision at their run bin + 2; newly-nonzero ones
        arrive as +-1<<al with a fixed-estimate sign; the EOB decision
        is only coded at indices past the PREVIOUS stage's last nonzero
        coefficient (kex)."""
        dec = self.dec
        ast = self.ac_stats.setdefault(
            ac_tid, np.zeros(self.AC_BINS, np.uint8))
        p1 = 1 << al
        m1 = -1 << al
        kex = se
        while kex > 0 and block[kex] == 0:
            kex -= 1
        k = ss
        while k <= se:
            st = 3 * (k - 1)
            if k > kex and dec.decode(ast, st):
                break  # end-of-block (only coded past kex)
            while True:
                c = int(block[k])
                if c:
                    if dec.decode(ast, st + 2):
                        block[k] = c + (p1 if c >= 0 else m1)
                    break
                if dec.decode(ast, st + 1):
                    block[k] = m1 if dec.decode(self.fixed, 0) else p1
                    break
                st += 3
                k += 1
                if k > se:
                    raise ValueError(
                        "JPEG arithmetic AC refinement past band end")
            k += 1

    def data_unit(self, cid: int, dc_tid: int, ac_tid: int,
                  prec: int = 8, differential: bool = False) -> np.ndarray:
        """Decode one full sequential 8x8 data unit; returns the 64
        coefficients in ZIGZAG (scan) order as int64, DC already
        prediction-resolved (or, in differential frames, the raw
        differential DC)."""
        zz = np.zeros(64, np.int64)
        zz[0] = self.dc_diff(cid, dc_tid, prec, differential)
        self.ac_band(ac_tid, zz, 1, 63)
        return zz


class ArithLossless(_QMScan):
    """Per-scan state for the Annex H LOSSLESS statistical
    model (T.81 H.1.2.2): the DC-difference procedure of F.2.4.1
    extended to TWO-dimensional conditioning. The zero/sign/first-
    magnitude decisions are conditioned on the 5-way classes of the
    differences coded at neighbour positions a (left) and b (above) --
    25 contexts x 4 decision bins -- and the magnitude-category tree +
    magnitude bits come in TWO sets selected by whether the b
    difference is in a LARGE class: 100 + 2 x (15 + 14) = 158
    statistics bins per conditioning table, T.81's documented lossless
    statistics-area size. Classification thresholds come from the DAC
    DC (Tc=0) conditioning L/U exactly as in F.1.4.4.1.2.

    Bin layout (internal -- bins are identified by ROLE; the spec fixes
    the decision sequence and role->bin identity, not integer indices):
    S0/SS/SP/SN for context (ca, cb) at ``4*(5*ca + cb)``..+3 with
    class codes 0=zero 1=small+ 2=small- 3=large+ 4=large-; tree 0
    (b not large) X1..X15 at 100..114 with magnitude bits at X_c+14
    (X1 codes magnitude 1 and has no bits, so 115..128 never collide);
    tree 1 (b large) X at 129..143, bits at 144..157.

    Neighbour classes, per component: ``up_cls`` maps column x to the
    class coded at (x, y-1) within the CURRENT restart interval,
    ``left_cls`` holds the class at (x-1, y); both read 0 at the scan
    start and after every restart, and ``left`` also at each row start.
    A restart resets the decoder registers, every statistics area AND
    the neighbour classes (F.2.1.3.1 extended per H.1.1). Same
    interface as the Huffman decoder ``jpeg.HuffmanEntropy``; only DC
    (Tc=0) table ids in ``scan_tables`` are checked.
    """

    LL_BINS = 158

    def __init__(self, data: bytes, pos: int, dc_cond: dict,
                 scan_tables: dict | None = None) -> None:
        _check_cond_ids(dc for dc, _ac in (scan_tables or {}).values())
        self.dc_cond = dc_cond
        super().__init__(data, pos)

    def _reset(self, pos: int) -> None:
        super()._reset(pos)
        self.stats: dict[int, np.ndarray] = {}
        self.up_cls: dict[int, dict[int, int]] = {}
        self.left_cls: dict[int, int] = {}

    def diff(self, cid: int, tid: int, x: int) -> int:
        """Decode component ``cid``'s prediction difference at column
        ``x`` under the classes of its left and above neighbours, and
        record this difference's class for the samples decoded next."""
        up = self.up_cls.setdefault(cid, {})
        d, cls = self._diff(tid, self.left_cls.get(cid, 0) if x else 0,
                            up.get(x, 0))
        up[x] = cls
        self.left_cls[cid] = cls
        return d

    def _diff(self, tid: int, ca: int, cb: int) -> tuple[int, int]:
        """Decode one prediction difference under neighbour classes
        ``(ca, cb)``; returns ``(diff, class_code)`` where the class
        code is what a FUTURE sample conditions on for this position.
        Magnitudes are capped at the 15-category tree (|diff| <= 32768,
        the same ceiling as the Huffman path's SSSS=16)."""
        dst = self.stats.setdefault(
            tid, np.zeros(self.LL_BINS, np.uint8))
        low, up = self.dc_cond.get(tid, DEFAULT_DC_COND)
        dec = self.dec
        base = 4 * (5 * ca + cb)
        if dec.decode(dst, base) == 0:
            return 0, 0
        sign = dec.decode(dst, base + 1)
        m = dec.decode(dst, base + 2 + sign)
        st = 129 if cb >= 3 else 100  # b-large selects the second tree
        if m:
            while dec.decode(dst, st):
                m <<= 1
                if m >= 0x8000:
                    raise ValueError(
                        "JPEG arithmetic lossless magnitude overflow")
                st += 1
        # 5-way class of THIS difference (F.1.4.4.1.2 thresholds), used
        # by the neighbours decoded next -- classified on the category
        # base m exactly like the DC model
        if m < (1 << low) >> 1:
            cls = 0
        elif m > (1 << up) >> 1:
            cls = 3 + sign
        else:
            cls = 1 + sign
        v = m
        if m > 1:
            st += 14
            mm = m >> 1
            while mm:
                if dec.decode(dst, st):
                    v |= mm
                mm >>= 1
        v += 1
        return (-v if sign else v), cls
