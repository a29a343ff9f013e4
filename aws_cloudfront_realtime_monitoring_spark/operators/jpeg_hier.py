"""Hierarchical (pyramid) JPEG reconstruction: the T.81 Annex J math
of the final frame family of the T.81 matrix (r14).

A hierarchical stream is a DHP segment (same syntax as a frame header;
declares the FINAL image dimensions and components) followed by a
sequence of frames: the first frame per component is non-differential
(any of SOF0/1/2/3/9/10/11, usually at reduced resolution), later
frames are DIFFERENTIAL (SOF5/6/7 Huffman, SOF13/14/15 arithmetic) and
code corrections against the current REFERENCE — the previous stage's
reconstruction, optionally upsampled 2× per axis by an EXP marker
(J.1.1.3: ``Pout(2x)=Pin(x)``, ``Pout(2x+1)=(Pin(x)+Pin(x+1)+1)>>1``,
edge replicated).

The stream is read by the ONE marker walk in ``operators/jpeg.py``,
which parses every frame and scan header and decodes every scan
(differential frames run the same scan drivers with prediction pinned
to zero, T.81 F.1.1.5.1 / H.2). This module holds only what a pyramid
adds at the frame boundaries:

- ``check_frame``: a new frame against the DHP and the references;
- ``to_reference``: a finished frame into the reference planes --
  non-differential frames replace them; differential DCT frames add the
  dequantized, IDCT'd correction with NO level shift and clamp to
  [0, 2^P-1] (J.1.1.6); differential lossless frames add the coded
  mod-2^16 differences (J.1.1.5; point transform 0 only, a documented
  restriction);
- ``final_assemble``: the full-resolution references to pixels. Output
  color follows the FIRST frame's family: DCT pyramids resolve like DCT
  files (YCbCr default, Adobe override), lossless-led pyramids like
  lossless files (literal channels).

Reference parity note: the reference (aws-cloudfront-realtime-monitoring,
lambda_function.py) performs no media decoding at all; this module
completes the T.81 frame matrix for the multimodal decode family.
Goldens come from an independent spec-written hierarchical encoder
(tests/test_jpeg_hier.py) — bit-exact for lossless pyramids, bounded
rounding for DCT ones.
"""

from __future__ import annotations

import numpy as np

from .jpeg import _assemble, _idct_planes, _lossless_pixels, _resolve_color


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


def check_frame(frame, dhp: tuple, refs: dict) -> None:
    """A new pyramid frame against the DHP and the references so far:
    a differential frame needs every component's reference, every
    component must be declared by the DHP, and DCT frames keep the DHP
    precision."""
    dhp_ids = {c[0] for c in dhp[3]}
    for cid, *_ in frame.comps:
        if frame.differential and cid not in refs:
            raise ValueError("differential JPEG frame precedes its "
                             "component's reference frame")
        if cid not in dhp_ids:
            raise ValueError("JPEG frame component absent from DHP")
    if frame.prec != dhp[0] and not frame.lossless:
        raise ValueError("JPEG frame precision differs from DHP")


def to_reference(frame, qt: dict, refs: dict) -> None:
    """Close a finished pyramid frame into ``refs`` (component id ->
    int64 samples at the frame's TRUE component dims, T.81 A.1.1)."""
    if frame.n_scans == 0:
        raise ValueError("hierarchical JPEG frame has no scan")
    if not frame.progressive and not frame.complete:
        # without it a malformed frame with undelivered components would
        # reconstruct them from all-zero state as fabricated flat
        # channels (r14 review)
        raise ValueError(
            "hierarchical JPEG frame ended with undelivered components")
    if frame.lossless:
        planes = {
            cid: (frame.state.planes[cid].astype(np.int64)
                  << frame.state.pt.get(cid, 0))
            for cid, *_ in frame.comps
        }
    else:
        planes = _idct_planes(frame.state, qt)
    eh, ev = frame.exp
    if (eh or ev) and not frame.differential:
        raise ValueError("EXP before a non-differential JPEG frame")
    maxv = (1 << frame.prec) - 1
    half = 1 << (frame.prec - 1)
    hmax = max(c[1] for c in frame.comps)
    vmax = max(c[2] for c in frame.comps)
    for cid, hs, vs, _tq in frame.comps:
        ch, cw = -(-frame.h * vs // vmax), -(-frame.w * hs // hmax)
        plane = planes[cid][:ch, :cw]
        if frame.differential:
            ref = _expand(refs[cid], eh, ev, ch, cw)
            if frame.lossless:
                new = (ref + plane) & 0xFFFF
            else:
                diff = np.floor(plane + 0.5).astype(np.int64)
                new = np.clip(ref + diff, 0, maxv)
        elif frame.lossless:
            new = plane & 0xFFFF
        else:
            new = np.clip(np.floor(plane + half + 0.5), 0, maxv)
        refs[cid] = new.astype(np.int64)


def final_assemble(dhp: tuple, refs: dict, adobe: int | None,
                   first_lossless: bool) -> tuple[int, int, np.ndarray]:
    """Upsample the completed reference components to the DHP canvas and
    color-convert under the first frame family's conventions."""
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
    if first_lossless:
        chans = [refs[cid].astype(np.float64) for cid, *_ in comps]
        return w, h, _lossless_pixels(chans, prec, adobe)
    half = float(1 << (prec - 1))
    planes = {cid: refs[cid].astype(np.float64) - half
              for cid, *_ in comps}
    return _assemble(planes, comps, h, w, hmax, vmax,
                     _resolve_color(comps, adobe), prec)
