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
(:meth:`multimodal._PNGChunks.samples`); only compositing is new here.

Compositing follows the spec's state machine: the output buffer (always
RGBA; gray/palette sources expand) starts fully-transparent black, each
frame draws into its region with ``blend_op`` SOURCE (replace) or OVER
(Porter-Duff over, non-premultiplied), and before the NEXT frame draws,
``dispose_op`` NONE keeps the region, BACKGROUND clears it to
transparent black, PREVIOUS reverts it to its pre-draw content (first
frame: PREVIOUS degrades to BACKGROUND, per spec).

Memory contract matches :func:`operators.gif.decode_gif_frames`: only
requested frames are retained while every frame composites through one
reused canvas; with no bound, files past ``DEFAULT_MAX_FRAMES`` are
REFUSED, never silently trimmed. Malformed ANIMATION data raises
``ValueError`` here; the walk only records it, so ``decode_image``
reports the payload as the static image an APNG-unaware viewer would
show (the spec's own fallback posture).

Reference parity: the reference (aws-cloudfront-realtime-monitoring)
delegates media handling entirely; this mirrors the GIF animation path's
role as the repo's real frame-sampling substrate.
"""

from __future__ import annotations

import numpy as np

from .multimodal import _PNGChunks, _expand_png_samples

#: same retention contract as the GIF decoder
DEFAULT_MAX_FRAMES = 256

_DISPOSE_NONE, _DISPOSE_BACKGROUND, _DISPOSE_PREVIOUS = 0, 1, 2
_BLEND_SOURCE, _BLEND_OVER = 0, 1


def _animation(payload: bytes) -> _PNGChunks:
    """The shared chunk walk, raising the animation defect it recorded
    ("not an APNG (no acTL)" for a static PNG) as ``ValueError``."""
    png = _PNGChunks(payload)
    if png.anim_error is not None:
        raise ValueError(png.anim_error)
    return png


def _to_rgba(png: _PNGChunks, px: np.ndarray) -> np.ndarray:
    """Native-channel samples -> RGBA at the source depth's dtype: the
    static decoder's expansion rules (:func:`multimodal.
    _expand_png_samples` -- ONE copy, r14 review) plus the forced-RGBA
    presentation compositing needs (gray replicates to 3 channels,
    missing alpha fills opaque)."""
    color, depth = png.color, png.depth
    px, alpha = _expand_png_samples(px, color, depth, png.plte, png.trns)
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


def _blend_over(dst: np.ndarray, src: np.ndarray, amax: int) -> np.ndarray:
    """Porter-Duff OVER with non-premultiplied alpha (APNG spec's blend
    formula), integer samples in/out. Rounding is floor(x + 0.5) --
    half-AWAY-from-zero on these nonnegative values -- spelled out
    because np.round is half-to-even (r11 review class)."""
    sa = src[:, :, 3].astype(np.float64) / amax
    da = dst[:, :, 3].astype(np.float64) / amax
    oa = sa + da * (1.0 - sa)
    sc = src[:, :, :3].astype(np.float64)
    dc = dst[:, :, :3].astype(np.float64)
    num = sc * sa[..., None] + dc * (da * (1.0 - sa))[..., None]
    with np.errstate(invalid="ignore"):
        oc = np.where(oa[..., None] > 0, num / np.where(
            oa[..., None] > 0, oa[..., None], 1.0), 0.0)
    out = np.empty_like(dst)
    out[:, :, :3] = np.floor(oc + 0.5).astype(dst.dtype)
    out[:, :, 3] = np.floor(oa * amax + 0.5).astype(dst.dtype)
    return out


def count_apng_frames(payload: bytes) -> tuple[int, int, int]:
    """(width, height, n_frames) from the chunk walk alone -- the
    sampling pre-pass twin of :func:`gif.count_gif_frames`."""
    png = _animation(payload)
    return png.width, png.height, len(png.frames)


def decode_apng_frames(
    payload: bytes, max_frames: int | None = None,
    keep_indices: set | None = None,
) -> tuple[int, int, list[np.ndarray]]:
    """Decode COMPOSITED animation frames: returns (width, height,
    [canvas[h, w, 4] RGBA, ...]) -- frame k is what a viewer sees at
    step k. Same retention contract as ``decode_gif_frames``:
    ``max_frames`` keeps the first k, ``keep_indices`` an explicit set;
    with neither, files past ``DEFAULT_MAX_FRAMES`` frames are REFUSED
    (never silently trimmed). Peak memory is one canvas (plus one
    PREVIOUS-dispose snapshot) plus the kept copies."""
    png = _animation(payload)
    frames = png.frames
    if keep_indices is not None:
        def keep(i: int) -> bool:
            return i in keep_indices
    elif max_frames is None:
        if len(frames) > DEFAULT_MAX_FRAMES:
            raise ValueError(
                f"APNG has {len(frames)} frames, over the default "
                f"retention cap of {DEFAULT_MAX_FRAMES}; pass max_frames "
                "or keep_indices explicitly to decode it")

        def keep(i: int) -> bool:
            return True
    else:
        def keep(i: int) -> bool:
            return i < max_frames
    dt = np.uint16 if png.depth == 16 else np.uint8
    amax = 65535 if png.depth == 16 else 255
    canvas = np.zeros((png.height, png.width, 4), dt)  # transparent black
    screens: list[np.ndarray] = []
    for i, f in enumerate(frames):
        region = (slice(f.y, f.y + f.h), slice(f.x, f.x + f.w))
        dispose = f.dispose
        if i == 0 and dispose == _DISPOSE_PREVIOUS:
            dispose = _DISPOSE_BACKGROUND  # spec: first-frame degrade
        snapshot = canvas[region].copy() if dispose == _DISPOSE_PREVIOUS \
            else None
        src = _to_rgba(png, png.samples(f.data, f.w, f.h))
        if f.blend == _BLEND_SOURCE or i == 0:
            canvas[region] = src
        else:
            canvas[region] = _blend_over(canvas[region], src, amax)
        if keep(i):
            screens.append(canvas.copy())
        if dispose == _DISPOSE_BACKGROUND:
            canvas[region] = 0
        elif dispose == _DISPOSE_PREVIOUS:
            canvas[region] = snapshot
    return png.width, png.height, screens
