"""APNG (animated PNG) frame decoding: acTL/fcTL/fdAT over the static
PNG machinery.

The APNG extension (PNG specification third edition, chapter
"Animation information"; originally the Mozilla APNG spec) stores an
animation as ancillary chunks an APNG-unaware reader ignores: one
``acTL`` (frame/play counts, before the first IDAT), one ``fcTL`` per
frame (sequence number, region geometry, delay, dispose/blend ops), and
``fdAT`` chunks carrying each non-first frame's pixel stream. A frame
region is encoded EXACTLY like a standalone PNG image of its own
dimensions under the IHDR depth/color/interlace. The chunk walk and its
animation validation are SHARED with the static decoder
(:class:`multimodal._PNGChunks`: one pass collects the IDAT stream and
the frames), and so is each frame's scanline decode
(:meth:`multimodal._PNGChunks.samples`); only the frame records are new
here. They feed the one compositor, :func:`multimodal.composite_frames`,
which GIF and WebP frames go through too. The output canvas is always RGBA (gray/palette sources
expand) at the source depth and starts fully-transparent black; each
frame draws into its region with ``blend_op`` SOURCE (replace) or OVER
(Porter-Duff over, non-premultiplied), and after it is shown,
``dispose_op`` NONE keeps the region, BACKGROUND clears it to
transparent black, PREVIOUS reverts it to its pre-draw content. The
spec's two first-frame rules are set on the frame records here: frame 0
always draws SOURCE, and a PREVIOUS dispose on frame 0 becomes
BACKGROUND.

Memory and work follow the compositor's contract: a frame's pixel
stream is inflated only when it is at or before the last kept index,
and only kept canvases are copied; with no ``keep_indices``,
animations past ``DEFAULT_MAX_FRAMES`` are REFUSED, never silently
trimmed. Malformed ANIMATION data raises ``ValueError`` here; the walk
only records it, so ``decode_image`` reports the payload as the static
image an APNG-unaware viewer would show (the spec's own fallback
posture).

Reference parity: the reference (aws-cloudfront-realtime-monitoring)
delegates media handling entirely; APNG is one of the three formats the
frame sampler reads.
"""

from __future__ import annotations

from functools import partial

import numpy as np

from .multimodal import (
    DISPOSE_BACKGROUND,
    DISPOSE_NONE,
    DISPOSE_PREVIOUS,
    Animation,
    AnimationFrame,
    _expand_png_samples,
    _PNGChunks,
    overwrite,
)

#: APNG fcTL dispose_op -> dispose kind, and blend_op values
_DISPOSE = (DISPOSE_NONE, DISPOSE_BACKGROUND, DISPOSE_PREVIOUS)
_BLEND_SOURCE = 0


def apng_frames(payload: bytes) -> Animation:
    """The APNG frame source of :func:`multimodal.composite_frames`: the
    shared chunk walk (raising the animation defect it recorded, "not an
    APNG (no acTL)" for a static PNG, as ``ValueError``) and one record
    per fcTL, whose pixels inflate on demand."""
    png = _PNGChunks(payload)
    if png.anim_error is not None:
        raise ValueError(png.anim_error)
    amax = 65535 if png.depth == 16 else 255
    frames = []
    for i, f in enumerate(png.frames):
        dispose = _DISPOSE[f.dispose]
        if i == 0 and dispose == DISPOSE_PREVIOUS:
            dispose = DISPOSE_BACKGROUND  # spec: first-frame degrade
        frames.append(AnimationFrame(
            f.x, f.y, f.w, f.h,
            partial(_frame_rgba, png, f),
            overwrite if f.blend == _BLEND_SOURCE or i == 0
            else partial(_blend_over, amax=amax),
            dispose,
        ))
    background = np.zeros(4, np.uint16 if png.depth == 16 else np.uint8)
    return Animation(png.width, png.height, background, frames)


def _frame_rgba(png: _PNGChunks, f) -> np.ndarray:
    """One frame's pixel stream -> RGBA samples at its fcTL size and the
    source depth's dtype: the static decoder's expansion rules
    (:func:`multimodal._expand_png_samples` -- ONE copy, r14 review) plus
    the forced-RGBA presentation compositing needs (gray replicates to 3
    channels, missing alpha fills opaque)."""
    color, depth = png.color, png.depth
    px, alpha = _expand_png_samples(png.samples(f.data, f.w, f.h), color,
                                    depth, png.plte, png.trns)
    if color == 3:
        if alpha is None:
            alpha = np.full(px.shape[:2], 255, np.uint8)
        return np.dstack([px, alpha])
    if color in (0, 2):
        rgb = np.repeat(px, 3, axis=2) if color == 0 else px
        if alpha is None:
            amax = 65535 if depth == 16 else 255
            alpha = np.full(px.shape[:2], amax, px.dtype)
        return np.dstack([rgb, alpha])
    if color == 4:  # gray + alpha
        return np.dstack([np.repeat(px[:, :, :1], 3, axis=2), px[:, :, 1]])
    return px  # color 6: already RGBA


def _blend_over(dst: np.ndarray, src: np.ndarray, amax: int) -> None:
    """The OVER draw rule: Porter-Duff OVER of ``src`` onto ``dst`` in
    place, non-premultiplied alpha (APNG spec's blend formula), integer
    samples in/out. Rounding is floor(x + 0.5) -- half-AWAY-from-zero on
    these nonnegative values -- spelled out because np.round is
    half-to-even (r11 review class)."""
    sa = src[:, :, 3].astype(np.float64) / amax
    da = dst[:, :, 3].astype(np.float64) / amax
    oa = sa + da * (1.0 - sa)
    sc = src[:, :, :3].astype(np.float64)
    dc = dst[:, :, :3].astype(np.float64)
    num = sc * sa[..., None] + dc * (da * (1.0 - sa))[..., None]
    with np.errstate(invalid="ignore"):
        oc = np.where(oa[..., None] > 0, num / np.where(
            oa[..., None] > 0, oa[..., None], 1.0), 0.0)
    dst[:, :, :3] = np.floor(oc + 0.5).astype(dst.dtype)
    dst[:, :, 3] = np.floor(oa * amax + 0.5).astype(dst.dtype)
