"""Hierarchical (pyramid) JPEG decoding: T.81 Annex J, the final frame
family of the T.81 matrix (r14).

A hierarchical stream is a DHP segment (same syntax as a frame header;
declares the FINAL image dimensions and components) followed by a
sequence of frames: the first frame per component is non-differential
(any of SOF0/1/2/3/9/10/11, usually at reduced resolution), later
frames are DIFFERENTIAL (SOF5/6/7 Huffman, SOF13/14/15 arithmetic) and
code corrections against the current REFERENCE — the previous stage's
reconstruction, optionally upsampled 2× per axis by an EXP marker
(J.1.1.3: ``Pout(2x)=Pin(x)``, ``Pout(2x+1)=(Pin(x)+Pin(x+1)+1)>>1``,
edge replicated). Differential frames reuse this repo's existing scan
machinery verbatim with prediction pinned to zero (T.81 F.1.1.5.1 /
H.2: PRED=0 in differential frames — the ``differential`` flag threaded
through operators.jpeg / operators.jpeg_arith):

- differential DCT: dequantize + IDCT with NO level shift gives the
  spatial correction; reference + correction clamps to [0, 2^P-1]
  (J.1.1.6).
- differential lossless: the coded values are the mod-2^16 differences;
  reference + difference wraps mod 2^16 (J.1.1.5). Point transform 0
  only (documented restriction).

Tables (DQT/DHT/DAC) and DRI persist ACROSS frames per B.2.4; each
scan/restart still resets entropy state exactly as in single-frame
decoding. Output color follows the FIRST frame's family: DCT pyramids
resolve like DCT files (YCbCr default, Adobe override), all-lossless
pyramids like lossless files (literal channels).

Reference parity note: the reference (aws-cloudfront-realtime-monitoring,
lambda_function.py) performs no media decoding at all; this module
completes the T.81 frame matrix for the multimodal decode family.
Goldens come from an independent spec-written hierarchical encoder
(tests/test_jpeg_hier.py) — bit-exact for lossless pyramids, bounded
rounding for DCT ones.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import (
    _IDCT_M,
    _LosslessState,
    _ProgState,
    _ZIGZAG,
    _assemble,
    _decode_lossless_scan,
    _decode_progressive_scan,
    _decode_sequential_scan,
    _parse_dht,
    _parse_dqt,
    _resolve_color,
    _scan_entropy,
)
from .jpeg_arith import parse_dac

#: a legal pyramid is <= ~8 stages (each EXP doubles a dimension toward
#: the DHP bound); the cap stops a crafted stream from stacking frames
MAX_FRAMES = 16

_DCT_NONDIFF = {0xC0, 0xC1, 0xC2, 0xC9, 0xCA}
_DCT_DIFF = {0xC5, 0xC6, 0xCD, 0xCE}
_LOSSLESS = {0xC3, 0xC7, 0xCB, 0xCF}
_PROGRESSIVE = {0xC2, 0xC6, 0xCA, 0xCE}
_ARITH = {0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
_DIFF = {0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF}
_ALL_SOF = _DCT_NONDIFF | _DCT_DIFF | _LOSSLESS


def _parse_frame_header(seg: bytes, lossless: bool,
                        dhp: bool = False) -> tuple:
    """(prec, h, w, comps) with the same validation jpeg.py applies.
    ``dhp``: the DHP segment shares this syntax but describes the WHOLE
    pyramid -- any legal precision (a lossless pyramid may be 2-16 bit)
    and any component count, with the per-frame strictness applied when
    the frames themselves arrive."""
    if len(seg) < 6:
        raise ValueError("truncated JPEG frame header")
    prec, h, w, ncomp = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
    if dhp:
        if not (2 <= prec <= 16):
            raise ValueError(f"{prec}-bit JPEG DHP invalid")
        if not (1 <= ncomp <= 4):
            raise ValueError(f"{ncomp}-component JPEG DHP unsupported")
    elif lossless:
        if not (2 <= prec <= 16):
            raise ValueError(f"{prec}-bit lossless JPEG invalid")
        if ncomp not in (1, 3):
            raise ValueError(
                f"{ncomp}-component lossless JPEG unsupported")
    elif prec not in (8, 12):
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
            raise ValueError(f"invalid JPEG sampling factors {hs}x{vs}")
        if lossless and not dhp and (hs, vs) != (1, 1):
            raise ValueError("subsampled lossless JPEG unsupported")
        comps.append((cid, hs, vs, tq))
    if len({c[0] for c in comps}) != ncomp:
        raise ValueError("JPEG frame repeats a component id")
    return prec, h, w, comps


def _expand(plane: np.ndarray, eh: int, ev: int,
            out_h: int, out_w: int) -> np.ndarray:
    """EXP reference upsampling (T.81 J.1.1.3), per axis: even outputs
    copy, odd outputs average the two neighbours rounding up, the last
    odd column/row replicates the edge. The frame's component dims pick
    2W or 2W-1 (validated); without the flag dims must already match.

    Documented residue (r14 review): when BOTH axes expand, this applies
    vertical then horizontal. The two orders differ by at most 1 at
    odd/odd samples (integer rounding does not commute across axes), and
    the spec text pinning the order was not verifiable offline -- the
    independent test encoder re-spells the per-axis filter but shares
    this axis ORDER, so goldens are internally consistent either way. An
    external encoder using the opposite order would reconstruct two-axis
    EXP lossless pyramids off-by-one at odd/odd positions."""
    if ev:
        h = plane.shape[0]
        if out_h not in (2 * h, 2 * h - 1):
            raise ValueError("EXP vertical expansion does not reach the "
                             "differential frame's height")
        up = np.empty((2 * h, plane.shape[1]), plane.dtype)
        up[0::2] = plane
        up[1:-1:2] = (plane[:-1] + plane[1:] + 1) >> 1
        up[-1] = plane[-1]
        plane = up[:out_h]
    elif plane.shape[0] != out_h:
        raise ValueError("differential frame height mismatch")
    if eh:
        w = plane.shape[1]
        if out_w not in (2 * w, 2 * w - 1):
            raise ValueError("EXP horizontal expansion does not reach the "
                             "differential frame's width")
        up = np.empty((plane.shape[0], 2 * w), plane.dtype)
        up[:, 0::2] = plane
        up[:, 1:-1:2] = (plane[:, :-1] + plane[:, 1:] + 1) >> 1
        up[:, -1] = plane[:, -1]
        plane = up[:, :out_w]
    elif plane.shape[1] != out_w:
        raise ValueError("differential frame width mismatch")
    return plane


class _HFrame:
    """One pyramid frame mid-decode."""

    def __init__(self, marker: int, seg: bytes, exp: tuple[int, int]):
        self.marker = marker
        self.differential = marker in _DIFF
        self.lossless = marker in _LOSSLESS
        self.progressive = marker in _PROGRESSIVE
        self.arith = marker in _ARITH
        self.exp = exp
        self.prec, self.h, self.w, self.comps = _parse_frame_header(
            seg, self.lossless)
        if self.lossless:
            self.state: _LosslessState | _ProgState = _LosslessState(
                self.h, self.w, self.comps, self.prec)
        else:
            self.state = _ProgState(self.h, self.w, self.comps, self.prec)
        self.n_scans = 0
        #: component ids delivered by a scan; sequential/lossless frames
        #: deliver each exactly once (progressive frames revisit
        #: components across spectral/approximation scans, same posture
        #: as jpeg._decode_jpeg's seq_done/loss_done sets)
        self.done: set[int] = set()

    def comp_dims(self, cid: int) -> tuple[int, int]:
        """TRUE component dims (T.81 A.1.1)."""
        hmax = max(c[1] for c in self.comps)
        vmax = max(c[2] for c in self.comps)
        for c, hs, vs, _tq in self.comps:
            if c == cid:
                return (-(-self.h * vs // vmax), -(-self.w * hs // hmax))
        raise ValueError("unknown component")


def _dct_planes(frame: _HFrame, qt: dict) -> dict[int, np.ndarray]:
    """Dequantize + de-zigzag + batched IDCT the frame's accumulated
    coefficients into per-component float arrays CROPPED to the true
    component dims (no level shift, no clamp -- the caller applies the
    non-differential or differential reconstruction rule)."""
    out = {}
    for cid, hs, vs, tq in frame.comps:
        q = qt.get(tq)
        if q is None:
            raise ValueError("JPEG references missing quant table")
        arr = frame.state.coefs[cid]
        deq = arr.astype(np.int64) * q[None, None, :]
        nat = np.zeros_like(deq)
        nat[:, :, _ZIGZAG] = deq
        nby, nbx = arr.shape[0], arr.shape[1]
        blocks = nat.reshape(nby * nbx, 8, 8).astype(np.float64)
        pix = np.einsum("xu,nuv,yv->nxy", _IDCT_M, blocks, _IDCT_M)
        full = (pix.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3)
                .reshape(nby * 8, nbx * 8))
        ch, cw = frame.comp_dims(cid)
        out[cid] = full[:ch, :cw]
    return out


def decode_hierarchical(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a DHP-led hierarchical JPEG stream to (width, height,
    pixels) under the same uint8/ValueError contract as
    ``decode_jpeg_pixels`` (which dispatches here on DHP)."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict = {}
    huff_ac: dict = {}
    dc_cond: dict = {}
    ac_cond: dict = {}
    restart_interval = 0
    adobe: int | None = None
    dhp: tuple | None = None
    refs: dict[int, np.ndarray] = {}
    pending_exp = (0, 0)
    frame: _HFrame | None = None
    first_kind: str | None = None
    n_frames = 0

    def finish_frame() -> None:
        nonlocal frame
        if frame is None:
            return
        if frame.n_scans == 0:
            raise ValueError("hierarchical JPEG frame has no scan")
        if not frame.progressive and frame.done != {
            c[0] for c in frame.comps
        }:
            # the same completeness check as jpeg._decode_jpeg's
            # seq_done/loss_done: without it a malformed pyramid frame
            # with undelivered components would reconstruct them from
            # all-zero state as fabricated flat channels (r14 review)
            raise ValueError(
                "hierarchical JPEG frame ended with undelivered "
                "components")
        eh, ev = frame.exp
        maxv = (1 << frame.prec) - 1
        half = 1 << (frame.prec - 1)
        if frame.lossless:
            planes = {
                cid: (frame.state.planes[cid].astype(np.int64)
                      << frame.state.pt.get(cid, 0))
                for cid, *_ in frame.comps
            }
        else:
            planes = _dct_planes(frame, qt)
        for cid, _hs, _vs, _tq in frame.comps:
            ch, cw = frame.comp_dims(cid)
            if frame.differential:
                ref = refs.get(cid)
                if ref is None:
                    raise ValueError(
                        "differential JPEG frame precedes its component's "
                        "reference frame")
                ref = _expand(ref, eh, ev, ch, cw)
                if frame.lossless:
                    new = (ref + planes[cid]) & 0xFFFF
                else:
                    diff = np.floor(planes[cid] + 0.5).astype(np.int64)
                    new = np.clip(ref + diff, 0, maxv)
            else:
                if eh or ev:
                    raise ValueError(
                        "EXP before a non-differential JPEG frame")
                if frame.lossless:
                    new = planes[cid] & 0xFFFF
                else:
                    new = np.clip(
                        np.floor(planes[cid] + half + 0.5), 0, maxv
                    ).astype(np.int64)
            refs[cid] = new.astype(np.int64)
        frame = None

    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker sync at byte {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            finish_frame()
            return _final_assemble(dhp, refs, adobe, first_kind)
        if marker == 0x01 or 0xD0 <= marker <= 0xD7 or marker == 0xFF:
            pos += 1 if marker == 0xFF else 2
            continue
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos + 4 : pos + 2 + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:
            _parse_dqt(seg, qt)
        elif marker == 0xC4:
            _parse_dht(seg, huff_dc, huff_ac)
        elif marker == 0xCC:
            parse_dac(seg, dc_cond, ac_cond)
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
            adobe = seg[11]
        elif marker == 0xDE:  # DHP
            if dhp is not None:
                raise ValueError("multiple JPEG DHP segments")
            if frame is not None or refs:
                raise ValueError("JPEG DHP after a frame")
            dhp = _parse_frame_header(seg, lossless=False, dhp=True)
        elif marker == 0xDF:  # EXP
            if dhp is None:
                raise ValueError("JPEG EXP outside a hierarchical stream")
            if len(seg) != 1:
                raise ValueError("malformed JPEG EXP segment")
            finish_frame()
            eh, ev = seg[0] >> 4, seg[0] & 15
            if eh > 1 or ev > 1:
                raise ValueError("invalid JPEG EXP expansion flags")
            pending_exp = (eh, ev)
        elif marker in _ALL_SOF:
            if dhp is None:
                raise ValueError(
                    "JPEG frame before DHP in a hierarchical stream")
            finish_frame()
            n_frames += 1
            if n_frames > MAX_FRAMES:
                raise ValueError("too many JPEG pyramid frames")
            frame = _HFrame(marker, seg, pending_exp)
            pending_exp = (0, 0)
            if first_kind is None:
                first_kind = "lossless" if frame.lossless else "dct"
            if frame.differential:
                for cid, *_ in frame.comps:
                    if cid not in refs:
                        raise ValueError(
                            "differential JPEG frame precedes its "
                            "component's reference frame")
            dhp_ids = {c[0] for c in dhp[3]}
            for cid, *_ in frame.comps:
                if cid not in dhp_ids:
                    raise ValueError(
                        "JPEG frame component absent from DHP")
            if frame.prec != dhp[0] and not frame.lossless:
                raise ValueError("JPEG frame precision differs from DHP")
        elif marker == 0xDA:  # SOS
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
                raise ValueError("JPEG SOS repeats a component id")
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
            if not frame.progressive:
                for cid in scan_comps:
                    if cid in frame.done:
                        raise ValueError(
                            "JPEG pyramid frame component delivered "
                            "twice")
                    frame.done.add(cid)
            frame.n_scans += 1
            ent = _scan_entropy(frame.arith, frame.lossless, payload,
                                pos + 2 + seg_len, scan_tables, huff_dc,
                                huff_ac, dc_cond, ac_cond)
            diff = frame.differential
            if frame.lossless:
                pos = _decode_lossless_scan(
                    ent, frame.state, scan_comps, scan_tables,
                    restart_interval, ss, al, differential=diff)
            elif frame.progressive:
                pos = _decode_progressive_scan(
                    ent, frame.state, scan_comps, scan_tables,
                    restart_interval, ss, se, ah, al, differential=diff)
            else:
                pos = _decode_sequential_scan(
                    ent, frame.state, scan_comps, scan_tables,
                    restart_interval, differential=diff)
            continue
        pos += 2 + seg_len
    raise ValueError("hierarchical JPEG ended without EOI")


def _final_assemble(dhp, refs, adobe, first_kind):
    """Upsample the completed reference components to the DHP canvas and
    color-convert under the first frame family's conventions."""
    if dhp is None:
        raise ValueError("hierarchical JPEG carries no DHP")
    if not refs:
        raise ValueError("hierarchical JPEG carries no frames")
    prec, h, w, comps = dhp
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for cid, hs, vs, _tq in comps:
        ch, cw = -(-h * vs // vmax), -(-w * hs // hmax)
        ref = refs.get(cid)
        if ref is None:
            raise ValueError(
                f"hierarchical JPEG never delivered component {cid}")
        if ref.shape != (ch, cw):
            raise ValueError(
                "hierarchical JPEG pyramid ended before the component "
                f"reached DHP resolution ({ref.shape} != {(ch, cw)})")
    maxv = float((1 << prec) - 1)
    if first_kind == "lossless":
        chans = [refs[cid].astype(np.float64) for cid, *_ in comps]
        if len(chans) == 3 and adobe == 1:
            half = float(1 << (prec - 1))
            y, cb, cr = chans[0], chans[1] - half, chans[2] - half
            chans = [
                y + 1.402 * cr,
                y - 0.344136 * cb - 0.714136 * cr,
                y + 1.772 * cb,
            ]
        out = np.dstack(chans)
        if prec != 8:
            out = out * (255.0 / maxv)
        return w, h, np.clip(np.round(out), 0, 255).astype(np.uint8)
    half = float(1 << (prec - 1))
    planes = {cid: refs[cid].astype(np.float64) - half
              for cid, *_ in comps}
    return _assemble(planes, comps, h, w, hmax, vmax,
                     _resolve_color(comps, adobe), prec)
