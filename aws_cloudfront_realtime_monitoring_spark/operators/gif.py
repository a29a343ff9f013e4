"""GIF (87a/89a) decoder in pure Python + numpy — completes the
real-decode set (BMP/PNG/JPEG: images, WAV: audio) with the one common
format that carries MULTIPLE frames, so the multimodal contract's
``n_frames`` column is real data for it, not metadata guesswork.

Scope (the full baseline format): logical screen + global/local color
tables, variable-width LSB-first LZW with CLEAR/EOI and the 12-bit cap,
Adam-style 4-pass interlacing, 0x21 extension blocks (skipped via their
sub-block chains), any number of image descriptors (animation frames).
Malformed data raises ``ValueError`` — same contract as the sibling
decoders.

Per-payload Python executed inside Arrow-batched ``mapInPandas`` workers;
a narrow map, nothing driver-side.
"""

from __future__ import annotations

import struct
from functools import partial

import numpy as np

from . import MAX_PIXELS
from .multimodal import (
    DISPOSE_BACKGROUND,
    DISPOSE_NONE,
    DISPOSE_PREVIOUS,
    Animation,
    AnimationFrame,
    composite_frames,
)

#: GIF interlace passes: (start row, step)
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _lzw_decode(data: bytes, min_code_size: int, expect: int) -> bytes:
    """GIF-variant LZW: variable code width from ``min_code_size + 1`` up
    to 12 bits, LSB-first packing, CLEAR resets the table, EOI ends the
    stream. Decodes at most ``expect`` pixels (trailing junk ignored)."""
    if not 2 <= min_code_size <= 8:
        # 8 is the real GIF ceiling (pixel indices are one byte); 9-11
        # used to pass the guard and crash reset() with a misleading
        # bytes-range ValueError instead of this diagnostic (r11 review)
        raise ValueError(f"bad GIF LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = pos = 0
    width = min_code_size + 1
    table: list[bytes] = []
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    while len(out) < expect:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream ended before EOI")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table) or code >= clear:
                raise ValueError("GIF LZW first code not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("GIF LZW code beyond table")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return bytes(out[:expect])


def _sub_blocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a GIF sub-block chain starting at ``pos``; returns
    (data, position after the 0x00 terminator)."""
    chunks = []
    while True:
        if pos >= len(payload):
            raise ValueError("GIF sub-block chain ran off the end")
        n = payload[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        chunks.append(payload[pos : pos + n])
        if len(chunks[-1]) < n:
            raise ValueError("truncated GIF sub-block")
        pos += n


def decode_gif(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """REAL decoder for GIF87a/89a: returns (width, height, n_frames,
    first_frame[h, w, 3] uint8 RGB on the logical screen). Raises
    ``ValueError`` on malformed data."""
    width, height, n_frames, screens = composite_frames(
        gif_frames(payload), {0})
    return width, height, n_frames, screens[0]


def gif_frames(payload: bytes) -> Animation:
    """The GIF frame source of :func:`multimodal.composite_frames`: a
    walk of the block structure (no LZW, no pixel buffers) listing each
    image descriptor with the Graphic Control Extension before it --
    transparent pixels (GCE transparency flag + index) leave the
    underlying screen untouched (the common GIF89a transparency-delta
    encoding), and disposal methods 2 (restore to background) and 3
    (restore to previous) apply to the frame's rectangle after it is
    shown (GIF89a spec section 23). A frame's LZW decode runs only when
    the compositor asks for its pixels."""
    try:
        return _gif_frames(payload)
    except (struct.error, IndexError, TypeError) as exc:
        # fuzzed/corrupt bytes must surface as ValueError only (the
        # mapInPandas fallback contract), never crash an executor task
        raise ValueError(f"malformed GIF: {exc}") from exc


def _gif_frames(payload: bytes) -> Animation:
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    width, height = struct.unpack_from("<HH", payload, 6)
    if width <= 0 or height <= 0:
        raise ValueError("degenerate GIF dimensions")
    if width * height > MAX_PIXELS:
        raise ValueError("GIF dimensions exceed the decode cap")
    packed, bg = payload[10], payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1)
        gct = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    bg_fill = gct[bg] if gct is not None and bg < len(gct) else None
    frames: list[AnimationFrame] = []
    gce: tuple[int, int | None] | None = None  # (disposal, transparent idx)
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label byte + sub-block chain
            if pos >= len(payload):
                raise ValueError("truncated GIF extension")
            label = payload[pos]
            data, pos = _sub_blocks(payload, pos + 1)
            if label == 0xF9 and len(data) >= 4:
                # Graphic Control Extension: packed byte carries the
                # disposal method (bits 2-4) and transparency flag
                # (bit 0); byte 3 is the transparent color index.
                # Applies to the NEXT image descriptor only.
                disposal = (data[0] >> 2) & 0x07
                t_idx = data[3] if data[0] & 0x01 else None
                gce = (disposal, t_idx)
        elif block == 0x2C:  # image descriptor
            if pos + 9 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            left, top, iw, ih = struct.unpack_from("<HHHH", payload, pos)
            ipacked = payload[pos + 8]
            pos += 9
            ct = gct
            if ipacked & 0x80:  # local color table
                n = 2 ** ((ipacked & 0x07) + 1)
                ct = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF frame has no color table")
            if pos >= len(payload):
                raise ValueError("truncated GIF frame")
            min_code = payload[pos]
            lzw, pos = _sub_blocks(payload, pos + 1)
            if iw <= 0 or ih <= 0 or left + iw > width or top + ih > height:
                raise ValueError("GIF frame exceeds logical screen")
            disposal, t_idx = gce if gce is not None else (0, None)
            gce = None  # a GCE governs exactly one image descriptor
            frames.append(AnimationFrame(
                left, top, iw, ih,
                partial(_frame_indices, lzw, min_code, iw, ih,
                        bool(ipacked & 0x40), len(ct)),
                partial(_draw, ct, t_idx),
                _DISPOSE.get(disposal, DISPOSE_NONE),
            ))
        else:
            raise ValueError(f"unknown GIF block {block:#x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    background = bg_fill if bg_fill is not None else np.zeros(3, np.uint8)
    return Animation(width, height, background, frames)


#: GIF disposal method -> dispose kind (0, 1 and 4-7 leave the frame)
_DISPOSE = {2: DISPOSE_BACKGROUND, 3: DISPOSE_PREVIOUS}


def _frame_indices(lzw: bytes, min_code: int, iw: int, ih: int,
                   interlaced: bool, n_colors: int) -> np.ndarray:
    """One frame's color indices[ih, iw] in row order: LZW decode, the
    4-pass interlace reorder, and the color-table bound check."""
    idx = np.frombuffer(
        _lzw_decode(lzw, min_code, iw * ih), np.uint8
    ).reshape(ih, iw)
    if interlaced:
        ordered = np.empty_like(idx)
        src = 0
        for start, step in _INTERLACE_PASSES:
            rows = range(start, ih, step)
            ordered[list(rows)] = idx[src : src + len(rows)]
            src += len(rows)
        idx = ordered
    if idx.max(initial=0) >= n_colors:
        raise ValueError("GIF pixel index beyond color table")
    return idx


def _draw(ct: np.ndarray, t_idx: int | None, region: np.ndarray,
          idx: np.ndarray) -> None:
    """GIF's draw rule: palette lookup, pixels at the GCE transparent
    index leave the underlying screen."""
    if t_idx is None:
        region[...] = ct[idx]
        return
    opaque = idx != t_idx
    # palette-lookup only the opaque pixels: ct[idx][opaque] materialized
    # the full rectangle's RGB first and threw the transparent majority
    # away (delta frames are mostly transparent)
    region[opaque] = ct[idx[opaque]]
