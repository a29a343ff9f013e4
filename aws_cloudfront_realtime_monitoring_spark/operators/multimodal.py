"""Multimodal column plumbing: opaque ``binary`` payloads with typed
metadata, processed by Arrow-batched pandas iterators (``mapInPandas``).

The decode step is REAL for uncompressed BMP payloads (pure-numpy header
parse + pixel extraction -- no media library needed), for EVERY valid
static-PNG profile (stdlib zlib inflate + the five standard scanline
predictors at depths 1/2/4/8/16, Adam7 interlace, palette/tRNS
expansion, CRC-verified chunks -- r13), for the COMPLETE T.81 JPEG
frame matrix -- baseline, progressive, lossless, their arithmetic (QM)
twins, AND the hierarchical pyramid modes with differential
SOF5/6/7/13/14/15 frames and EXP expansion (operators/jpeg.py +
jpeg_arith.py + jpeg_hier.py, pure numpy -- r14 closed the matrix),
for GIF87a/89a incl. animation (operators/gif.py) and APNG animation
(operators/apng.py, r14), for lossless WebP/VP8L (operators/webp.py: prefix
codes, color cache, LZ77, all four transforms), and for lossy WebP/VP8 key
frames (operators/vp8.py: boolean arithmetic decoder, intra
prediction, IDCT, in-loop deblocking -- bit-exact vs libwebp in YUV,
r9); MP4 and Matroska/WebM containers report real header metadata.
Every payload is sniffed once against ONE format table (``_FORMATS``),
which the metadata tier (:func:`decode_image`) and the pixel tier
(:func:`decode_pixel_stats`, the resize operator) both read; a PNG's
chunks are walked once (:class:`_PNGChunks`) for the static image and
its APNG animation alike. Payloads in any other format fall back to
``fake_decode`` -- a deterministic metadata fake derived from payload
bytes. Every payload map runs through ONE Arrow row loop
(:func:`map_payloads`). The Spark-side design is what matters at 100 TB
of media: binary column handling, Arrow batch transfer, a declared
output schema, per-partition batching -- a narrow map with no shuffle,
payload bytes never leaving the executor.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: output schema of the decode step
DECODE_SCHEMA = (
    "doc_id BIGINT, n_bytes BIGINT, width BIGINT, height BIGINT, "
    "n_frames BIGINT, fmt STRING"
)


def fake_decode(doc_id: int, payload: bytes) -> dict:
    """Deterministic fake decode (documented stub): metadata derived purely
    from payload length and id, so an external oracle can verify the
    plumbing end-to-end."""
    n = len(payload)
    return {
        "doc_id": doc_id,
        "n_bytes": n,
        "width": (n * 7919) % 624 + 16,
        "height": (n * 104729) % 464 + 16,
        "n_frames": n % 24 + 1,
        # NULL doc_id rows (ingest gaps) still get a deterministic fmt
        # 'fake-' prefixed so fabricated rows can never be confused
        # with the real decoders' fmt values (all of jpeg/png/webp are
        # REAL decode paths now)
        "fmt": ("fake-jpeg", "fake-png", "fake-webp")[(doc_id or 0) % 3],
    }


def decode_bmp_pixels(payload: bytes) -> tuple[int, int, np.ndarray]:
    try:
        return _decode_bmp(payload)
    except (struct.error, IndexError, TypeError) as exc:
        # corrupt bytes surface as ValueError only (fallback contract)
        raise ValueError(f"malformed BMP: {exc}") from exc


def _decode_bmp(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL decoder for uncompressed 24-bit BMP: returns (width, height,
    pixels[h, w, 3] uint8 in RGB, top-down row order). Raises ``ValueError``
    on anything that is not a well-formed BI_RGB 24bpp BMP.

    BMP is simple enough to decode exactly with numpy alone: a 14-byte file
    header (magic ``BM``, pixel-array offset at byte 10), a BITMAPINFOHEADER
    (width/height int32 LE at 18/22, bpp uint16 at 28, compression uint32 at
    30), then bottom-up (or top-down if height < 0) pixel rows of BGR
    triples, each row zero-padded to a 4-byte boundary."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={compression})")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0:
        raise ValueError("degenerate BMP dimensions")
    from . import MAX_PIXELS  # the cap's real home (not gif's re-export)

    if width * height > MAX_PIXELS:
        raise ValueError("BMP dimensions exceed the decode cap")
    stride = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    need = pix_off + stride * height
    if len(payload) < need:
        raise ValueError(f"truncated BMP: {len(payload)} < {need} bytes")
    rows = np.frombuffer(payload, np.uint8, stride * height, pix_off)
    bgr = rows.reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    rgb = bgr[:, :, ::-1]
    return width, height, (rgb if top_down else rgb[::-1])


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: color type -> SCANLINE channel count (palette type 3 carries one index
#: sample per pixel and expands through PLTE after defiltering)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: the spec's valid bit depths per color type (PNG spec section 11.2.2,
#: table "Allowed combinations"): every combination below decodes for
#: REAL as of r13 -- sub-byte grayscale/palette, 16-bit, and Adam7
#: interlace included
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
#: Adam7 pass grid (PNG spec section 8.2): (x_start, y_start, x_step,
#: y_step) for passes 1..7. Each pass is an independent sub-image with
#: its own filter byte per sub-row; empty passes (zero width or height)
#: contribute NO scanlines at all.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _defilter(lines: np.ndarray, rowbytes: int, bpp: int) -> np.ndarray:
    """Undo the five standard scanline predictors over one (sub-)image:
    ``lines`` is ``(rows, 1 + rowbytes)`` uint8 (filter byte + packed
    scanline); returns ``(rows, rowbytes)`` uint8. Filtering is BYTE-wise
    per the spec -- the "left" neighbour sits ``bpp = max(1,
    channels*depth//8)`` bytes back regardless of sample packing."""
    height = lines.shape[0]
    from .scratch import scratch

    # per-worker pooled buffers (r16, verdict #5): one worker defilters
    # MANY payloads and the first-touch-fault regime (SCALE.md) taxes
    # every fresh allocation (the r16 A/B measured no throughput change
    # either way, SCALE.md "Measured ANN/similarity decade"); `out` is
    # fully written row by row before any read, `prev` needs its zero
    # semantics restored per call (the spec's "row above the first row
    # is zero"). Bit-identical to the fresh np.zeros spelling -- the
    # pixel oracle hashes pin it.
    out = scratch("png.defilter.u16", (height, rowbytes), np.uint16)
    prev = scratch("png.defilter.prev", (rowbytes,), np.uint16)
    prev.fill(0)
    for y in range(height):
        f, row = lines[y, 0], lines[y, 1:].astype(np.uint16)
        if f == 0:  # None
            cur = row
        elif f == 2:  # Up
            cur = (row + prev) & 0xFF
        elif f == 1:  # Sub: per-bpp-group prefix sum mod 256, vectorized
            # cur[x] = (row[x] + cur[x-bpp]) mod 256 == cumsum along the
            # pixel axis mod 256 (int64 headroom: 8k rows x 255 < 2^21)
            cur = (
                row.reshape(-1, bpp).astype(np.int64).cumsum(0) & 0xFF
            ).reshape(rowbytes).astype(np.uint16)
        elif f in (3, 4):  # Average / Paeth: inherently left-sequential;
            # pure-int list loop (numpy scalar indexing is ~10x slower
            # per element than Python-int arithmetic -- r8 review)
            rl = row.tolist()
            pl = prev.tolist()
            cl = [0] * rowbytes
            for x in range(rowbytes):
                a = cl[x - bpp] if x >= bpp else 0  # left
                b = pl[x]  # up
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    c = pl[x - bpp] if x >= bpp else 0  # up-left
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    pred = (
                        a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    )
                cl[x] = (rl[x] + pred) & 0xFF
            cur = np.array(cl, np.uint16)
        else:
            raise ValueError(f"invalid PNG filter type {f} on row {y}")
        out[y] = cur
        prev = cur
    # pooled u8 result (consumed into the px canvas before the next
    # _defilter call -- _unpack_samples' depth==8 path returns a VIEW of
    # this buffer, and every caller copies it into its own array within
    # the same pass iteration); np.copyto casts u16->u8, identical to
    # astype for the already-masked (& 0xFF) values
    res = scratch("png.defilter.u8", (height, rowbytes), np.uint8)
    np.copyto(res, out, casting="unsafe")
    return res


def _unpack_samples(
    rows: np.ndarray, pw: int, ch: int, depth: int
) -> np.ndarray:
    """Defiltered packed scanline bytes ``(rows, rowbytes)`` -> sample
    array ``(rows, pw, ch)``: uint16 for 16-bit depth (big-endian byte
    pairs per the spec), uint8 otherwise. Sub-byte samples are packed
    MSB-first within each byte, rows padded to a byte boundary."""
    ph = rows.shape[0]
    if depth == 8:
        return rows.reshape(ph, pw, ch)
    if depth == 16:
        hi = rows[:, 0::2].astype(np.uint16)
        return ((hi << 8) | rows[:, 1::2]).reshape(ph, pw, ch)
    bits = np.unpackbits(rows, axis=1)  # MSB-first == PNG packing order
    nsamp = rows.shape[1] * 8 // depth
    groups = bits[:, : nsamp * depth].reshape(ph, nsamp, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    samples = (groups * weights).sum(axis=2).astype(np.uint8)
    return samples[:, :pw].reshape(ph, pw, 1)  # depth<8 => ch == 1


def _expand_png_samples(
    px: np.ndarray, color: int, depth: int,
    plte: bytes | None, trns: bytes | None,
) -> tuple[np.ndarray, np.ndarray | None]:
    """Shared PNG sample expansion for the static decoder AND the APNG
    frame path (r14 review: these rules lived in two lockstep copies).

    Input is native-channel samples from :meth:`_PNGChunks.samples`;
    returns ``(px, alpha)`` where ``alpha`` is an (h, w) plane or None
    (fully opaque / channels already carry alpha):

    - tRNS COLOR-KEY on gray/RGB (r13 verdict #5): the 2-byte (gray) /
      6-byte (RGB) big-endian key names the ONE sample value rendered
      fully transparent; matching is at the SOURCE depth, before any
      sub-byte expansion. A wrong-length key -- or one on a color type
      that already has alpha -- is a malformed ANCILLARY chunk: skipped
      per the spec's recovery guidance, like a bad CRC.
    - sub-byte grayscale presents at full 8-bit range; exact because
      (2^d - 1) divides 255 for d in (1, 2, 4).
    - palette expansion: PLTE is RGB triples; optional tRNS supplies
      per-entry alpha (entries past its length are opaque; no tRNS
      means alpha is None).
    """
    if color in (0, 2):
        key_mask = None
        nch = 1 if color == 0 else 3
        if trns is not None and len(trns) == 2 * nch:
            key = struct.unpack(f">{nch}H", trns)
            if color == 0:
                key_mask = px[:, :, 0] == key[0]
            else:
                key_mask = np.all(px == np.array(key, px.dtype), axis=2)
        if color == 0 and depth < 8:
            px = px * np.uint8(255 // ((1 << depth) - 1))
        alpha = None
        if key_mask is not None:
            full = np.uint16(65535) if depth == 16 else np.uint8(255)
            alpha = np.where(key_mask, 0, full).astype(px.dtype)
        return px, alpha
    if color == 3:
        if plte is None or len(plte) % 3 != 0 or not plte:
            raise ValueError("palette PNG missing or malformed PLTE")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if idx.max() >= len(pal):
            raise ValueError(
                f"palette index {int(idx.max())} out of range "
                f"({len(pal)} entries)"
            )
        rgb = pal[idx]
        if trns is None:
            return rgb, None
        alpha = np.full(len(pal), 255, np.uint8)
        alpha[: min(len(trns), len(pal))] = np.frombuffer(
            trns[: len(pal)], np.uint8
        )
        return rgb, alpha[idx]
    return px, None  # color 4/6: alpha is already a channel


#: the APNG animation chunks: ancillary to a static reader, which skips
#: them, but a CRC or shape error in one spoils the ANIMATION -- recorded
#: as the walk's ``anim_error``, never raised by the walk itself
_ANIM_CHUNKS = (b"acTL", b"fcTL", b"fdAT")


class _AnimFrame:
    """One APNG frame: its fcTL fields plus its compressed pixel stream
    (the IDAT chunks when its fcTL precedes the first IDAT, else its fdAT
    payloads)."""

    __slots__ = ("w", "h", "x", "y", "delay_num", "delay_den",
                 "dispose", "blend", "data", "from_idat")

    def __init__(self, fctl: bytes, from_idat: bool) -> None:
        (_seq, self.w, self.h, self.x, self.y, self.delay_num,
         self.delay_den, self.dispose, self.blend) = struct.unpack(
            ">IIIIIHHBB", fctl)
        self.data: list[bytes] = []
        self.from_idat = from_idat


class _PNGChunks:
    """THE PNG chunk walk, shared by the static decoder and the APNG frame
    path (operators.apng): an 8-byte signature, then chunks of (length
    BE32, type, data, CRC32 over type+data), up to IEND.

    One pass collects the validated IHDR fields (``width``, ``height``,
    ``depth``, ``color``, ``interlace``), PLTE/tRNS, the static image's
    IDAT stream (``idat``) and the APNG animation (``frames``). Static
    defects raise ``ValueError``: a truncated chunk, a CRC mismatch in a
    CRITICAL chunk (a corrupt ANCILLARY chunk is skipped per the spec's
    recovery guidance -- aborting used to hand a fully decodable image to
    the fake fallback, r11 review), missing IHDR/IDAT/IEND, or an invalid
    IHDR. Animation defects (a corrupt acTL/fcTL/fdAT, out-of-order
    sequence numbers, geometry outside the canvas, an fcTL count that is
    not acTL's) are RECORDED: ``anim_error`` holds the first one, or "not
    an APNG (no acTL)" for a static PNG, and is None only for a valid
    animation. The static image stays decodable either way -- the spec's
    fallback for an APNG-unaware reader -- and only the animation
    consumers raise the recorded message."""

    def __init__(self, payload: bytes) -> None:
        if (len(payload) < len(_PNG_SIG) + 12
                or payload[: len(_PNG_SIG)] != _PNG_SIG):
            raise ValueError("not a PNG payload")
        self.plte = self.trns = self.anim_error = None
        self.idat: list[bytes] = []
        self.frames: list[_AnimFrame] = []
        self._actl = self._fctl = None  # acTL frame count, pending fcTL
        self._next_seq = 0
        pos, ihdr, ended = len(_PNG_SIG), None, False
        while pos + 8 <= len(payload):
            (length,) = struct.unpack_from(">I", payload, pos)
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            if len(data) < length or pos + 12 + length > len(payload):
                raise ValueError("truncated PNG chunk")
            (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
            pos += 12 + length
            if crc != zlib.crc32(ctype + data) & 0xFFFFFFFF:
                if ctype[:1].isupper():  # CRITICAL: uppercase first letter
                    raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
                if ctype in _ANIM_CHUNKS:
                    self.anim_error = (self.anim_error
                                       or f"PNG chunk {ctype!r} CRC mismatch")
                continue
            if ctype == b"IHDR":
                ihdr = data
            elif ctype == b"PLTE":
                self.plte = data
            elif ctype == b"tRNS":
                self.trns = data
            elif ctype == b"IEND":
                ended = True
                break
            elif ctype == b"IDAT":
                self.idat.append(data)
            if self.anim_error is None and (
                    ctype == b"IDAT" or ctype in _ANIM_CHUNKS):
                self.anim_error = self._animate(ctype, data)
        if ihdr is None or len(ihdr) != 13 or not self.idat or not ended:
            raise ValueError("PNG missing IHDR/IDAT/IEND")
        (self.width, self.height, self.depth, self.color, comp, filt,
         self.interlace) = struct.unpack(">IIBBBBB", ihdr)
        if self.width <= 0 or self.height <= 0:
            raise ValueError("degenerate PNG dimensions")
        from . import SLOW_PATH_MAX_PIXELS

        # the stricter slow-path cap (not the shared MAX_PIXELS): Average /
        # Paeth defiltering is per-pixel Python, so the hostile-input CPU
        # ceiling must stay at tens of seconds per payload, the same
        # rationale as the progressive-JPEG scan cap
        if self.width * self.height > SLOW_PATH_MAX_PIXELS:
            raise ValueError("PNG dimensions exceed the decode cap")
        if (self.color not in _PNG_CHANNELS
                or self.depth not in _PNG_DEPTHS[self.color]
                or comp != 0 or filt != 0):
            raise ValueError(
                f"invalid PNG IHDR combination (depth={self.depth}, "
                f"color={self.color})"
            )
        if self.interlace not in (0, 1):
            raise ValueError(f"invalid PNG interlace method {self.interlace}")
        self.anim_error = self.anim_error or self._check_animation()

    def _animate(self, ctype: bytes, data: bytes) -> str | None:
        """Advance the APNG state machine by one CRC-valid acTL, fcTL,
        fdAT or IDAT chunk; returns the animation defect it finds."""
        if ctype == b"acTL":
            if self.idat or self._actl is not None or len(data) != 8:
                return "misplaced or malformed acTL"
            self._actl = struct.unpack_from(">I", data)[0]
            return None
        if ctype == b"IDAT":
            if self._fctl is not None and not self.frames:
                self.frames.append(_AnimFrame(self._fctl, from_idat=True))
                self._fctl = None
            if self.frames and self.frames[0].from_idat:
                self.frames[0].data.append(data)
            return None
        # fcTL and fdAT share one sequence-number counter
        if ctype == b"fcTL" and (len(data) != 26 or self._fctl is not None):
            return "malformed or doubled fcTL"
        if len(data) < 4:
            return "malformed fdAT"
        (seq,) = struct.unpack_from(">I", data)
        if seq != self._next_seq:
            return f"APNG sequence number {seq}, expected {self._next_seq}"
        self._next_seq += 1
        if ctype == b"fcTL":
            self._fctl = data
            return None
        if self._fctl is not None:
            self.frames.append(_AnimFrame(self._fctl, from_idat=False))
            self._fctl = None
        if not self.frames or self.frames[-1].from_idat:
            return "fdAT with no owning fcTL"
        self.frames[-1].data.append(data[4:])
        return None

    def _check_animation(self) -> str | None:
        """The whole-stream APNG rules, checked once the IHDR is valid."""
        if self._actl is None:
            return "not an APNG (no acTL)"
        if self._fctl is not None:
            return "fcTL with no frame data"
        if self._actl != len(self.frames) or self._actl < 1:
            return (f"acTL declares {self._actl} frames, stream has "
                    f"{len(self.frames)}")
        for i, f in enumerate(self.frames):
            if (f.w <= 0 or f.h <= 0 or f.x + f.w > self.width
                    or f.y + f.h > self.height or f.dispose > 2
                    or f.blend > 1):
                return f"APNG frame {i} geometry/ops invalid"
            if not f.data:
                return f"APNG frame {i} has no pixel data"
        first = self.frames[0]
        if first.from_idat and (first.w != self.width
                                or first.h != self.height
                                or first.x or first.y):
            return "APNG first (IDAT) frame must cover the canvas"
        return None

    def samples(self, stream: list[bytes], width: int,
                height: int) -> np.ndarray:
        """One compressed scanline stream -> ``(height, width, ch)``
        native-channel samples (uint16 at depth 16, uint8 otherwise):
        bounded inflate, per-(sub-)image defilter, sample unpack, Adam7
        reassembly. The static image is the IDAT stream at the IHDR size;
        an APNG frame is its own stream at its fcTL size -- per the APNG
        spec a frame region is encoded exactly like a standalone image of
        its own dimensions under the IHDR depth/color/interlace."""
        ch, depth = _PNG_CHANNELS[self.color], self.depth
        bpp = max(1, ch * depth // 8)  # filter "left" offset, bytes

        def rowbytes(pw: int) -> int:
            return (pw * ch * depth + 7) // 8

        if self.interlace == 0:
            passes = [(0, 0, 1, 1, width, height)]
        else:
            passes = [
                (x0, y0, dx, dy,
                 (width - x0 + dx - 1) // dx, (height - y0 + dy - 1) // dy)
                for x0, y0, dx, dy in _ADAM7
            ]
        expected = sum(
            ph * (rowbytes(pw) + 1) for *_xy, pw, ph in passes if pw and ph
        )
        try:
            # BOUNDED inflate (r11 review): a plain zlib.decompress
            # materializes the full output first, so a crafted tiny-IHDR
            # payload with a ~1000:1 IDAT could allocate gigabytes before
            # the length check ran -- cap at expected+1 and reject leftovers
            dec = zlib.decompressobj()
            raw = dec.decompress(b"".join(stream), expected + 1)
        except zlib.error as exc:
            raise ValueError(f"corrupt PNG pixel-data stream: {exc}") from exc
        if len(raw) != expected or not dec.eof and dec.unconsumed_tail:
            raise ValueError(
                f"PNG scanline data is {len(raw)}+ bytes, expected {expected}"
            )
        buf = np.frombuffer(raw, np.uint8)
        px = np.zeros((height, width, ch),
                      np.uint16 if depth == 16 else np.uint8)
        pos = 0
        for x0, y0, dx, dy, pw, ph in passes:
            if not pw or not ph:
                continue  # empty passes carry no scanlines at all
            rb = rowbytes(pw)
            span = ph * (rb + 1)
            lines = buf[pos : pos + span].reshape(ph, rb + 1)
            pos += span
            # ALIASING GUARD (r16 verdict): _defilter returns a POOLED
            # buffer and _unpack_samples' depth==8 path is a view of it --
            # the view must be consumed (copied into px by this strided
            # assignment) before the next loop iteration's _defilter call
            # reuses the pool. Never hold it across iterations.
            px[y0::dy, x0::dx] = _unpack_samples(
                _defilter(lines, rb, bpp), pw, ch, depth
            )
        return px


def decode_png_pixels(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL decoder for every valid static-PNG profile (PNG spec table
    11.2.2): grayscale at depths 1/2/4/8/16, RGB / gray+alpha / RGBA at
    8/16, palette at 1/2/4/8 with optional tRNS alpha, each in both
    sequential and Adam7-interlaced form. Returns (width, height,
    pixels[h, w, channels]) -- uint16 samples for 16-bit depth, uint8
    otherwise; sub-byte grayscale scales to full 8-bit range (the exact
    255/(2^d-1) expansion); palette expands to RGB, or RGBA when tRNS is
    present; a tRNS COLOR-KEY on gray/RGB synthesizes an alpha channel
    (r14 -- gray becomes GA, RGB becomes RGBA, key matched at source
    depth). Raises ``ValueError`` on anything malformed. APNG payloads
    return the static image here -- animation frames live in
    :mod:`operators.apng`.

    Needs only stdlib ``zlib`` + numpy: the concatenated IDAT data is one
    zlib stream of scanlines, each ``1 filter byte +
    ceil(width*channels*depth/8)`` bytes, defiltered per the five standard
    predictors (None/Sub/Up/Average/Paeth) against the row above and the
    ``bpp`` bytes to the left; Adam7 splits the image into the seven
    fixed sub-grids of :data:`_ADAM7`, each defiltered independently."""
    _fmt, width, height, _n, px = _png(payload)
    return width, height, px


def _png(payload: bytes) -> tuple[str, int, int, int, np.ndarray]:
    """The PNG entry of :data:`_FORMATS`: one chunk walk, the static
    image, and the frame count of a valid animation (an APNG-unaware
    viewer's static image when the animation is malformed)."""
    try:
        png = _PNGChunks(payload)
        # expansion rules (color-key, sub-byte gray, palette) are shared
        # with the APNG frame path -- see _expand_png_samples
        px, alpha = _expand_png_samples(
            png.samples(png.idat, png.width, png.height),
            png.color, png.depth, png.plte, png.trns,
        )
    except (struct.error, IndexError, TypeError) as exc:
        # corrupt bytes surface as ValueError only (fallback contract)
        raise ValueError(f"malformed PNG: {exc}") from exc
    if alpha is not None:
        px = np.dstack([px, alpha])
    if png.anim_error is None:
        return "apng", png.width, png.height, len(png.frames), px
    return "png", png.width, png.height, 1, px


def _bmp(payload: bytes) -> tuple[str, int, int, int, np.ndarray]:
    width, height, px = decode_bmp_pixels(payload)
    return "bmp", width, height, 1, px


def _gif(payload: bytes) -> tuple[str, int, int, int, np.ndarray]:
    from .gif import decode_gif

    # the first frame's pixels; the frame count is real DATA (animation)
    width, height, n_frames, px = decode_gif(payload)
    return "gif", width, height, n_frames, px


def _jpeg(payload: bytes) -> tuple[str, int, int, int, np.ndarray]:
    from .jpeg import decode_jpeg_pixels

    width, height, px = decode_jpeg_pixels(payload)
    return "jpeg", width, height, 1, px


def _webp(payload: bytes) -> tuple[str, int, int, int, np.ndarray | None]:
    from .webp import decode_webp

    # VP8L and VP8 stills: real pixels; animated VP8X: real header
    # metadata, no single canvas (composited frames via
    # composite_frames)
    width, height, n_frames, px, _codec = decode_webp(payload)
    return "webp", width, height, n_frames, px


def _mp4(payload: bytes) -> tuple[str, int, int, int, None]:
    from .mp4 import is_mp4, parse_mp4_meta

    # ISO-BMFF container METADATA (r11: box walk -- dims from tkhd/stsd,
    # frame count from the video track's stsz); the codec payload stays
    # behind the ffmpeg flag
    if not is_mp4(payload):
        raise ValueError("ftyp box without a known MP4 brand")
    meta = parse_mp4_meta(payload)
    return "mp4", meta["width"], meta["height"], meta["n_frames"], None


def _matroska(payload: bytes) -> tuple[str, int, int, int, None]:
    from .mkv import parse_webm_meta

    # Matroska/WebM container metadata (r11: EBML walk -- dims from
    # TrackEntry/Video); n_frames is 0, the honest unknown without a
    # cluster walk
    meta = parse_webm_meta(payload)
    fmt = "webm" if meta["doctype"] == "webm" else "mkv"
    return fmt, meta["width"], meta["height"], meta["n_frames"], None


#: THE format dispatch, read in order by both tiers: (signature test,
#: fmt, decoder). A decoder returns (fmt, width, height, n_frames,
#: pixels) or raises ``ValueError``. The fmt it returns names the
#: payload in the metadata row (an animated PNG says "apng", a Matroska
#: file its doctype); the table's fmt is the family the pixel tier
#: reports. ``pixels`` is None only for the animated-WebP canvas.
_IMAGE_FORMATS = (
    (lambda p: p[:2] == b"BM", "bmp", _bmp),
    (lambda p: p[: len(_PNG_SIG)] == _PNG_SIG, "png", _png),
    (lambda p: p[:6] in (b"GIF87a", b"GIF89a"), "gif", _gif),
    (lambda p: p[:2] == b"\xff\xd8", "jpeg", _jpeg),
    (lambda p: p[:4] == b"RIFF" and p[8:12] == b"WEBP", "webp", _webp),
)
#: the image formats plus the containers: the metadata tier's table (the
#: pixel tier decodes no container)
_FORMATS = _IMAGE_FORMATS + (
    (lambda p: p[4:8] == b"ftyp", "mp4", _mp4),
    (lambda p: p[:4] == b"\x1a\x45\xdf\xa3", "mkv", _matroska),
)


def _family(payload: bytes) -> str | None:
    """The table fmt of the first :data:`_FORMATS` entry whose signature
    the payload carries."""
    return next((fmt for sniff, fmt, _dec in _FORMATS if sniff(payload)),
                None)


def decode_image(doc_id: int, payload: bytes) -> dict:
    """Decode a media payload into the :data:`DECODE_SCHEMA` metadata row.

    Every :data:`_FORMATS` entry decodes for real: uncompressed BMP
    (:func:`decode_bmp_pixels`), every valid static-PNG profile and APNG
    (:func:`decode_png_pixels`, stdlib zlib + numpy), the full T.81 JPEG
    frame matrix -- sequential, progressive, lossless and hierarchical,
    Huffman and arithmetic (:func:`operators.jpeg.decode_jpeg_pixels`),
    GIF87a/89a (:func:`operators.gif.decode_gif`), WebP -- lossless VP8L,
    lossy VP8 key frames and animated VP8X
    (:func:`operators.webp.decode_webp`) -- and the MP4 and Matroska/WebM
    container headers. A payload that matches no signature, or whose
    decoders all reject it, falls back to :func:`fake_decode`; this
    function never raises ``ValueError``."""
    for sniff, _, decode in _FORMATS:
        if sniff(payload):
            try:
                fmt, width, height, n_frames, _px = decode(payload)
            except ValueError:
                # signature-prefixed but malformed (e.g. "BM"-prefixed
                # text) is an unrecognized format, not an error
                continue
            return {
                "doc_id": doc_id,
                "n_bytes": len(payload),
                "width": width,
                "height": height,
                "n_frames": n_frames,
                "fmt": fmt,
            }
    return fake_decode(doc_id, payload)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Materialize an opaque binary column (here: utf-8 bytes of ``text``
    standing in for image bytes) -- the multimodal storage model: payloads
    are ``binary``, metadata is typed columns."""
    return docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))


def map_payloads(
    docs_with_payload: DataFrame, schema: str,
    rows: Callable[[int | None, bytes], list[dict]],
    skip_invalid: bool = True, keep_null_ids: bool = False,
) -> DataFrame:
    """THE Arrow row loop of every payload map (``mapInPandas`` over
    ``(doc_id BIGINT, payload BINARY)``): per-batch pandas processing,
    bounded memory, no driver involvement, output schema declared up
    front; batch sizing is Spark's ``arrow.maxRecordsPerBatch``.

    ``rows(doc_id, payload)`` returns the payload's 0..n output rows as
    dicts. NULL payloads (ingest gaps) arrive as ``b""``. A NULL doc_id
    arrives in pandas as NaN, where int() raises; ``keep_null_ids``
    passes it on as None, otherwise it counts as an invalid record (an
    output row cannot be attributed to it). ``skip_invalid`` is the
    corrupt-record contract: invalid records and payloads whose ``rows``
    raise ``ValueError`` are DROPPED instead of failing the task (count
    them via an input-vs-output row diff); ``skip_invalid=False``
    propagates the ValueError. The column names come from ``schema``, so
    an all-dropped batch still matches it."""
    cols = [c.split()[0] for c in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for r in pdf.itertuples(index=False):
                doc_id = None if pd.isna(r.doc_id) else int(r.doc_id)
                if doc_id is None and not keep_null_ids:
                    if skip_invalid:
                        continue
                    raise ValueError("NULL doc_id in payload batch")
                payload = b"" if r.payload is None else bytes(r.payload)
                try:
                    out += rows(doc_id, payload)
                except ValueError:
                    if not skip_invalid:
                        raise
            yield pd.DataFrame(out, columns=cols)

    return docs_with_payload.mapInPandas(run, schema)


def decode_batches(docs_with_payload: DataFrame) -> DataFrame:
    """:func:`decode_image` over Arrow batches: one metadata row per
    input row. A NULL doc_id stays NULL and a NULL payload takes the
    fake-fallback path, so every row survives."""
    return map_payloads(
        docs_with_payload, DECODE_SCHEMA,
        lambda doc_id, payload: [decode_image(doc_id, payload)],
        skip_invalid=False, keep_null_ids=True,
    )


def frame_offset_expr(n_samples: int = 4):
    """THE evenly-spaced byte-offset expression over ``n_bytes`` --
    shared by frame_sample_offsets and the registry pipeline row so the
    sampling arithmetic has one spelling (r8 review)."""
    step = F.greatest(F.expr("n_bytes div %d" % n_samples), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_samples - 1)),
        # outer greatest(..., 0): a ZERO-byte payload made
        # least(i*step, n_bytes-1) underflow to -1, an invalid byte
        # position (r11 review; the oracle mirrors the same clamp)
        lambda i: F.greatest(
            F.least(i * step, F.col("n_bytes") - 1), F.lit(0)
        ),
    )


def frame_sample_offsets(decoded: DataFrame, n_samples: int = 4) -> DataFrame:
    """Deterministic frame-sampling plan: evenly spaced byte offsets per
    payload (stand-in for video frame sampling). Pure Catalyst arithmetic --
    the sampling plan is computable without touching payload bytes."""
    return decoded.select(
        "doc_id", "n_bytes",
        frame_offset_expr(n_samples).alias("frame_offsets"),
    )


#: output schema of REAL pixel statistics: one row per payload with the
#: full-image integer sample sum — the strongest decode check an
#: ANSI-SQL oracle can recompute (sum over every decoded sample,
#: including synthesized tRNS alpha), r15
PIXEL_STATS_SCHEMA = (
    "doc_id BIGINT, fmt STRING, width BIGINT, height BIGINT, "
    "n_ch BIGINT, sum_px BIGINT, wsum_px BIGINT, n_px BIGINT"
)


def _pixel_sums(px: np.ndarray) -> dict:
    """(n_ch, sum_px, wsum_px, n_px) of an (h, w[, ch]) sample array:
    ``sum_px`` is the int64 sum of EVERY sample, ``wsum_px`` the
    POSITION-WEIGHTED sum Σ (y*w + x + 1) * channel_sum(y, x)."""
    h, w = px.shape[:2]
    p64 = px.astype(np.int64)
    csum = p64.sum(axis=2) if p64.ndim == 3 else p64  # per-pixel channels
    weights = np.arange(1, w * h + 1, dtype=np.int64).reshape(h, w)
    return {
        "n_ch": px.shape[2] if px.ndim == 3 else 1,
        "sum_px": int(p64.sum()),
        "wsum_px": int((weights * csum).sum()),
        "n_px": w * h,
    }


def decode_pixel_stats(payload: bytes) -> dict:
    """Full REAL pixel decode reduced to oracle-checkable integers:
    (fmt, width, height, n_ch, sum_px, wsum_px, n_px) where ``sum_px``
    is the int64 sum of EVERY decoded sample (all channels,
    tRNS-synthesized alpha included) and ``wsum_px`` the
    POSITION-WEIGHTED sum — Σ (y*width + x + 1) * channel_sum(y, x).
    The plain sum is position-invariant, so a decoder that reassembles
    pixels into the wrong places (the exact failure mode of Adam7
    pass reassembly or pyramid expansion) could still match it; the
    weighted sum cannot be matched by any permutation of a non-constant
    image (r15). Unlike :func:`decode_image` — whose metadata a header
    walk could fake — matching both requires the entire pixel pipeline
    (defilter/predict/expand/composite/placement) to be correct. BMP,
    every static-PNG profile (an APNG's static image, fmt "png"), the
    full T.81 JPEG frame matrix (incl. hierarchical pyramids), GIF first
    frames, and static WebP (VP8 / VP8L, r17) qualify — the
    :data:`_IMAGE_FORMATS` entries, shared with the resize tier; other
    formats raise ``ValueError`` (callers use the usual skip/propagate
    contract)."""
    fmt, w, h, px = _decode_any_pixels(payload)
    return {"fmt": fmt, "width": w, "height": h, **_pixel_sums(px)}


def image_pixel_stats_batches(
    docs_with_payload: DataFrame, skip_invalid: bool = True,
) -> DataFrame:
    """REAL pixel statistics over Arrow batches: the narrow zero-shuffle
    :func:`map_payloads` shape of :func:`decode_batches`, but emitting
    :func:`decode_pixel_stats`'s sample sums so a SQL oracle can
    hash-check decode OUTPUT, not just header metadata."""
    return map_payloads(
        docs_with_payload, PIXEL_STATS_SCHEMA,
        lambda doc_id, payload: [
            {"doc_id": doc_id, **decode_pixel_stats(payload)}],
        skip_invalid,
    )


# ------------------------------------------- animation compositing
#
# GIF, APNG and animated WebP share one viewer state machine: a canvas
# starts at the background, each frame draws into its rectangle under
# its format's rule, the canvas is what a viewer sees at that step, and
# the frame's dispose then restores its rectangle before the next frame
# draws. Each format module keeps only its parser (which lists frames
# without decoding pixels) and its spec blend; the loop lives here.

#: frames retained when no ``keep_indices`` is given; a longer animation
#: is refused, never silently trimmed
DEFAULT_MAX_FRAMES = 256

#: what a frame's rectangle becomes after the frame is shown
DISPOSE_NONE, DISPOSE_BACKGROUND, DISPOSE_PREVIOUS = 0, 1, 2


class AnimationFrame(NamedTuple):
    """One frame as its format's parser lists it: the rectangle on the
    canvas, ``pixels()`` (the lazy decode, called only for frames up to
    the last kept index), ``draw(region, pixels)`` (the format's rule for
    writing them into the canvas view in place: GIF's transparent-index
    mask, APNG's SOURCE/OVER, WebP's overwrite/OVER) and the dispose
    kind."""

    x: int
    y: int
    w: int
    h: int
    pixels: Callable[[], np.ndarray]
    draw: Callable[[np.ndarray, np.ndarray], None]
    dispose: int


class Animation(NamedTuple):
    """A parsed animation: canvas size, the ``background`` sample (one
    value per channel, in the canvas dtype) that fills the first canvas
    and every BACKGROUND dispose, and the frame list, whose length is
    the frame count."""

    width: int
    height: int
    background: np.ndarray
    frames: list[AnimationFrame]


def overwrite(region: np.ndarray, px: np.ndarray) -> None:
    """The replace draw rule (APNG SOURCE, WebP no-blend, a still)."""
    region[...] = px


def composite_frames(
    anim: Animation, keep_indices: set | None = None,
) -> tuple[int, int, int, list[np.ndarray]]:
    """Composite ``anim`` and return (width, height, n_frames, [canvas
    copy for each kept index, in index order]): frame k is what a viewer
    sees at step k.

    With ``keep_indices`` only those frames are retained; with none, all
    of them, and an animation of more than ``DEFAULT_MAX_FRAMES`` frames
    raises ``ValueError``. Frames after the last kept index cannot change
    a retained canvas (compositing only looks backward), so their pixels
    are never decoded. Peak memory is one canvas, one PREVIOUS snapshot
    and the kept copies."""
    n = len(anim.frames)
    if keep_indices is None:
        if n > DEFAULT_MAX_FRAMES:
            raise ValueError(
                f"animation has {n} frames, over the default retention "
                f"cap of {DEFAULT_MAX_FRAMES}; pass keep_indices "
                "explicitly to decode it")
        keep_indices = range(n)
    last = max(keep_indices, default=-1)
    bg = anim.background
    canvas = np.full((anim.height, anim.width, len(bg)), bg, bg.dtype)
    screens: list[np.ndarray] = []
    for i, f in enumerate(anim.frames):
        if i > last:
            break
        region = canvas[f.y : f.y + f.h, f.x : f.x + f.w]
        saved = region.copy() if f.dispose == DISPOSE_PREVIOUS else None
        f.draw(region, f.pixels())
        if i in keep_indices:
            screens.append(canvas.copy())
        if f.dispose == DISPOSE_BACKGROUND:
            region[...] = bg
        elif f.dispose == DISPOSE_PREVIOUS:
            region[...] = saved
    return anim.width, anim.height, n, screens


def animation_frames(payload: bytes) -> Animation:
    """Parse a GIF, APNG or WebP payload (a still counts as one frame)
    with its format's frame source, picked by :func:`_family`. Raises
    ``ValueError`` on anything else."""
    from .apng import apng_frames
    from .gif import gif_frames
    from .webp import webp_frames

    source = {"gif": gif_frames, "png": apng_frames,
              "webp": webp_frames}.get(_family(payload))
    if source is None:
        raise ValueError("not a GIF, APNG or WebP payload")
    return source(payload)


#: output schema of REAL animation frame sampling: one row per sampled
#: frame with exact integer mean channels
FRAME_SAMPLE_SCHEMA = (
    "doc_id BIGINT, frame_idx BIGINT, n_frames BIGINT, width BIGINT, "
    "height BIGINT, mean_r BIGINT, mean_g BIGINT, mean_b BIGINT"
)


def sample_animation_frames(
    docs_with_payload: DataFrame, n_samples: int = 4,
    skip_invalid: bool = True,
) -> DataFrame:
    """REAL video-style frame sampling: decode up to ``n_samples``
    evenly-spaced COMPOSITED frames from each GIF, APNG or WebP payload
    and emit one feature row per frame (frame_sample_offsets is the
    byte-offset stand-in for containers this sandbox cannot decode; this
    is the genuine article for the formats it can). One input row fans
    out to <= n_samples output rows -- a generator-shaped narrow map
    through :func:`map_payloads`, dropping undecodable payloads under
    ``skip_invalid``.

    Each payload is parsed once (:func:`animation_frames`: the frame
    list, no pixel decode); only the evenly-spaced picks are retained
    while compositing (:func:`composite_frames`), so memory stays at one
    canvas plus the picked copies. RGBA canvases (APNG, WebP) report the
    RGB channel means, 16-bit samples scaled onto the 8-bit range (the
    exact /257) so every format's means are comparable."""

    def frames(doc_id: int, payload: bytes) -> list[dict]:
        anim = animation_frames(payload)
        n = len(anim.frames)
        k = min(n_samples, n)
        picks = sorted(
            {round(i * (n - 1) / (k - 1)) for i in range(k)}
            if k > 1 else ({0} if k == 1 else set())
        )
        w, h, _n, screens = composite_frames(anim, set(picks))
        out = []
        for fi, screen in zip(picks, screens):
            rgb = screen[:, :, :3]
            means = rgb.reshape(-1, 3).mean(axis=0)
            if rgb.dtype == np.uint16:
                means = means / 257.0  # exact 16->8-bit range
            mr, mg, mb = means.round()
            out.append({
                "doc_id": doc_id, "frame_idx": fi, "n_frames": n,
                "width": w, "height": h,
                "mean_r": int(mr), "mean_g": int(mg), "mean_b": int(mb),
            })
        return out

    return map_payloads(docs_with_payload, FRAME_SAMPLE_SCHEMA, frames,
                        skip_invalid)


# ------------------------------------------------- image resize (r17)
#
# The brief's multimodal operator list names decode / feature-extract /
# RESIZE / frame-sample; resize was the one without an implementation.
# Nearest-neighbor with the PURE-INTEGER index rule
# src = (dst * in_size) // out_size — deterministic, engine-portable
# (a SQL oracle recomputes the same indices with integer division), and
# the standard thumbnail/pre-embedding downsample of a training-data
# pipeline. Same narrow Arrow-batched map shape as decode_batches:
# payloads decode and resize inside the task, nothing shuffles, nothing
# reaches the driver.

RESIZE_STATS_SCHEMA = (
    "doc_id BIGINT, fmt STRING, width BIGINT, height BIGINT, "
    "out_w BIGINT, out_h BIGINT, n_ch BIGINT, sum_px BIGINT, "
    "wsum_px BIGINT, n_px BIGINT"
)


def resize_nearest(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resample of an (h, w[, ch]) sample array:
    out[y, x] = px[(y * h) // out_h, (x * w) // out_w] — floor-integer
    source indices, no float rounding anywhere, so Spark, numpy, and
    the SQL oracle can never disagree on which source pixel a
    destination cell reads."""
    if out_h < 1 or out_w < 1:
        raise ValueError(f"resize_nearest: bad target {out_h}x{out_w}")
    h, w = px.shape[:2]
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return px[ys][:, xs]


def resize_pixel_stats_batches(
    docs_with_payload: DataFrame, out_h: int, out_w: int,
    skip_invalid: bool = True,
) -> DataFrame:
    """decode → nearest-neighbor resize → oracle-checkable integer
    stats, per Arrow batch: the image_pixel_stats_batches discipline
    over the RESIZED raster (sum_px / position-weighted wsum_px in
    DESTINATION coordinates, so a resize that samples the wrong source
    pixels or places them wrong cannot hash-match). A bad target raises
    here, before any payload is read: it is no payload's fault, so
    ``skip_invalid`` must not drop it."""
    if out_h < 1 or out_w < 1:
        raise ValueError(f"resize_nearest: bad target {out_h}x{out_w}")

    def stats(doc_id: int, payload: bytes) -> list[dict]:
        fmt, w, h, px = _decode_any_pixels(payload)
        return [{"doc_id": doc_id, "fmt": fmt, "width": w, "height": h,
                 "out_w": out_w, "out_h": out_h,
                 **_pixel_sums(resize_nearest(px, out_h, out_w))}]

    return map_payloads(docs_with_payload, RESIZE_STATS_SCHEMA, stats,
                        skip_invalid)


def _decode_any_pixels(payload: bytes) -> tuple[str, int, int, np.ndarray]:
    """(fmt, width, height, sample array) through the
    :data:`_IMAGE_FORMATS` entries -- the pixel tier's dispatch, shared
    by the stats and resize operators. The first entry whose signature
    matches decides; its ``ValueError`` propagates."""
    for sniff, fmt, decode in _IMAGE_FORMATS:
        if sniff(payload):
            _variant, w, h, _n, px = decode(payload)
            if px is None:
                raise ValueError("pixel decode: animated WebP canvas")
            return fmt, w, h, px
    raise ValueError("pixel decode: unrecognized image signature")
