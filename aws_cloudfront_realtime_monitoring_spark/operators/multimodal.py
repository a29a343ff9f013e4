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
codes, color cache, LZ77, all four transforms), for lossy WebP/VP8 key
frames (operators/vp8.py: boolean arithmetic decoder, intra
prediction, IDCT, in-loop deblocking -- bit-exact vs libwebp in YUV,
r9), and, when Pillow is present in the environment, for every format
PIL opens (feature-flagged import; this build has no PIL). Payloads in
any other format fall back to ``fake_decode`` -- a
deterministic metadata fake derived from payload bytes -- unless
``strict=True``, which raises instead. The Spark-side design is
identical in all cases and is what matters at 100 TB of media: binary
column handling, Arrow batch transfer, a declared output schema,
per-partition batching -- a narrow map with no shuffle, payload bytes
never leaving the executor.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # feature flag: real general-format decode iff Pillow exists
    from PIL import Image as _PILImage  # pragma: no cover (absent here)
except ImportError:
    _PILImage = None

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


def _decode_subimage(
    zdata: bytes, width: int, height: int, ch: int, depth: int,
    interlace: int, bpp: int,
) -> np.ndarray:
    """One compressed PNG scanline stream -> ``(height, width, ch)``
    sample array (uint16 at depth 16, uint8 otherwise): bounded inflate,
    per-(sub-)image defilter, sample unpack, Adam7 reassembly. Shared by
    the static decoder (the IDAT stream) and the APNG frame decoder
    (each frame's concatenated fdAT stream -- per the APNG spec a frame
    region is encoded exactly like a standalone image of its own
    dimensions under the IHDR depth/color/interlace)."""

    def rowbytes(pw: int) -> int:
        return (pw * ch * depth + 7) // 8

    if interlace == 0:
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
        raw = dec.decompress(zdata, expected + 1)
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG pixel-data stream: {exc}") from exc
    if len(raw) != expected or not dec.eof and dec.unconsumed_tail:
        raise ValueError(
            f"PNG scanline data is {len(raw)}+ bytes, expected {expected}"
        )
    buf = np.frombuffer(raw, np.uint8)
    px = np.zeros((height, width, ch), np.uint16 if depth == 16 else np.uint8)
    pos = 0
    for x0, y0, dx, dy, pw, ph in passes:
        if not pw or not ph:
            continue  # empty passes carry no scanlines at all
        rb = rowbytes(pw)
        span = ph * (rb + 1)
        lines = buf[pos : pos + span].reshape(ph, rb + 1)
        pos += span
        # ALIASING GUARD (r16 verdict): _defilter returns a POOLED buffer
        # and _unpack_samples' depth==8 path is a view of it -- the view
        # must be consumed (copied into px by this strided assignment)
        # before the next loop iteration's _defilter call reuses the
        # pool. Never hold it across iterations.
        px[y0::dy, x0::dx] = _unpack_samples(
            _defilter(lines, rb, bpp), pw, ch, depth
        )
    return px


def _expand_png_samples(
    px: np.ndarray, color: int, depth: int,
    plte: bytes | None, trns: bytes | None,
) -> tuple[np.ndarray, np.ndarray | None]:
    """Shared PNG sample expansion for the static decoder AND the APNG
    frame path (r14 review: these rules lived in two lockstep copies).

    Input is native-channel samples from :func:`_decode_subimage`;
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


def decode_png_pixels(payload: bytes) -> tuple[int, int, np.ndarray]:
    try:
        return _decode_png(payload)
    except (struct.error, IndexError, TypeError) as exc:
        # corrupt bytes surface as ValueError only (fallback contract)
        raise ValueError(f"malformed PNG: {exc}") from exc


def _decode_png(payload: bytes) -> tuple[int, int, np.ndarray]:
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
    return the static first frame here -- animation frames and frame
    counts live in :mod:`operators.apng` (decode_image reports their
    real n_frames).

    Needs only stdlib ``zlib`` + numpy: an 8-byte signature, then chunks of
    (length BE32, type, data, CRC32 over type+data); IHDR carries
    width/height/bit-depth/color-type/interlace, the concatenated IDAT
    data is one zlib stream of scanlines, each ``1 filter byte +
    ceil(width*channels*depth/8)`` bytes, defiltered per the five standard
    predictors (None/Sub/Up/Average/Paeth) against the row above and the
    ``bpp`` bytes to the left; Adam7 splits the image into the seven
    fixed sub-grids of :data:`_ADAM7`, each defiltered independently."""
    if len(payload) < len(_PNG_SIG) + 12 or payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, ended = len(_PNG_SIG), None, [], False
    plte, trns = None, None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length or pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != zlib.crc32(ctype + data) & 0xFFFFFFFF:
            # CRITICAL chunks (uppercase first letter) hard-fail; a
            # corrupt ANCILLARY chunk (tEXt, pHYs, ...) is skipped per
            # the PNG spec's recovery guidance -- aborting used to hand
            # a fully decodable image to the fake fallback (r11 review)
            if ctype[:1].isupper():
                raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
            pos += 12 + length  # skip BEFORE the data is consumed
            continue
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            ended = True
            break
        pos += 12 + length
    if ihdr is None or len(ihdr) != 13 or not idat or not ended:
        raise ValueError("PNG missing IHDR/IDAT/IEND")
    width, height, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if width <= 0 or height <= 0:
        raise ValueError("degenerate PNG dimensions")
    from . import SLOW_PATH_MAX_PIXELS

    # the stricter slow-path cap (not the shared MAX_PIXELS): Average /
    # Paeth defiltering is per-pixel Python, so the hostile-input CPU
    # ceiling must stay at tens of seconds per payload, the same
    # rationale as the progressive-JPEG scan cap
    if width * height > SLOW_PATH_MAX_PIXELS:
        raise ValueError("PNG dimensions exceed the decode cap")
    if (color not in _PNG_CHANNELS or depth not in _PNG_DEPTHS[color]
            or comp != 0 or filt != 0):
        raise ValueError(
            f"invalid PNG IHDR combination (depth={depth}, color={color})"
        )
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    ch = _PNG_CHANNELS[color]
    bpp = max(1, ch * depth // 8)  # filter "left" offset, bytes
    px = _decode_subimage(
        b"".join(idat), width, height, ch, depth, interlace, bpp
    )
    # expansion rules (color-key, sub-byte gray, palette) are shared
    # with the APNG frame path -- see _expand_png_samples
    px, alpha = _expand_png_samples(px, color, depth, plte, trns)
    if alpha is not None:
        return width, height, np.dstack([px, alpha])
    return width, height, px


def decode_image(doc_id: int, payload: bytes, strict: bool = False) -> dict:
    """Decode an image payload into the :data:`DECODE_SCHEMA` metadata row.

    Uncompressed BMP (:func:`decode_bmp_pixels`), every valid static-PNG
    profile (:func:`decode_png_pixels`, stdlib zlib + numpy), baseline and
    progressive JPEG (:func:`operators.jpeg.decode_jpeg_pixels`),
    GIF87a/89a (:func:`operators.gif.decode_gif`) and WebP -- lossless
    VP8L and lossy VP8 key frames alike
    (:func:`operators.webp.decode_webp`) -- decode for real.
    Other formats decode via Pillow when the environment has it, else
    fall back to :func:`fake_decode` -- or raise
    ``NotImplementedError`` under ``strict=True``."""
    if payload[:2] == b"BM":
        try:
            width, height, _px = decode_bmp_pixels(payload)
            return {
                "doc_id": doc_id,
                "n_bytes": len(payload),
                "width": width,
                "height": height,
                "n_frames": 1,
                "fmt": "bmp",
            }
        except ValueError:
            # a "BM"-prefixed payload that is NOT a well-formed BMP (e.g.
            # text bytes) is an unrecognized format, not an error: fall
            # through to PIL/fake like any other payload; strict re-raises
            if strict:
                raise
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        try:
            width, height, _px = decode_png_pixels(payload)
            from .apng import apng_frame_count

            # animation frame count is real DATA, like GIF's: a valid
            # acTL/fcTL/fdAT chain reports its frame count and the
            # payload identifies as APNG. MALFORMED animation chunks on
            # a decodable static image take the spec's own fallback (an
            # APNG-unaware viewer shows the static image) -- never the
            # fake path.
            try:
                n_frames = apng_frame_count(payload)
            except ValueError:
                n_frames = None
            return {
                "doc_id": doc_id,
                "n_bytes": len(payload),
                "width": width,
                "height": height,
                "n_frames": n_frames if n_frames is not None else 1,
                "fmt": "png" if n_frames is None else "apng",
            }
        except ValueError:
            # signature-prefixed but malformed: same contract as BMP
            if strict:
                raise
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        try:
            width, height, n_frames, _px = decode_gif(payload)
            return {
                "doc_id": doc_id,
                "n_bytes": len(payload),
                "width": width,
                "height": height,
                # the one format whose frame count is real DATA (animation)
                "n_frames": n_frames,
                "fmt": "gif",
            }
        except ValueError:
            if strict:
                raise
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_pixels

        try:
            width, height, _px = decode_jpeg_pixels(payload)
            return {
                "doc_id": doc_id,
                "n_bytes": len(payload),
                "width": width,
                "height": height,
                "n_frames": 1,
                "fmt": "jpeg",
            }
        except ValueError:
            # SOI-prefixed but malformed (the full T.81 frame matrix --
            # sequential/progressive/lossless/hierarchical, Huffman and
            # arithmetic -- decodes for real as of r14): fall through
            # to PIL/fake, strict raises
            if strict:
                raise
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from .webp import decode_webp

        try:
            width, height, n_frames, _px, _codec = decode_webp(payload)
            return {
                "doc_id": doc_id,
                "n_bytes": len(payload),
                # VP8L and VP8 stills: real pixels (VP8 key-frame
                # decoder added r9, bit-exact vs libwebp in YUV);
                # animated VP8X: real header metadata + composited
                # frames via webp.decode_webp_frames
                "width": width,
                "height": height,
                "n_frames": n_frames,
                "fmt": "webp",
            }
        except ValueError:
            # RIFF-prefixed but malformed: same contract as the others
            if strict:
                raise
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        from .mp4 import is_mp4, parse_mp4_meta

        if is_mp4(payload):
            try:
                # ISO-BMFF container METADATA is real (r11: box walk,
                # pure stdlib -- dims from tkhd/stsd, frame count from
                # the video track's stsz, like GIF's n_frames); the
                # CODEC payload itself stays behind the ffmpeg flag
                meta = parse_mp4_meta(payload)
                return {
                    "doc_id": doc_id,
                    "n_bytes": len(payload),
                    "width": meta["width"],
                    "height": meta["height"],
                    "n_frames": meta["n_frames"],
                    "fmt": "mp4",
                }
            except ValueError:
                if strict:
                    raise
    if payload[:4] == b"\x1a\x45\xdf\xa3":
        from .mkv import parse_webm_meta

        try:
            # Matroska/WebM container metadata is real (r11: EBML walk,
            # pure stdlib -- dims from TrackEntry/Video, codec id, mvhd-
            # analog duration); codec payloads stay behind the ffmpeg
            # flag, and n_frames is 0 (honest unknown without a cluster
            # walk -- NOT fabricated)
            meta = parse_webm_meta(payload)
            return {
                "doc_id": doc_id,
                "n_bytes": len(payload),
                "width": meta["width"],
                "height": meta["height"],
                "n_frames": meta["n_frames"],
                "fmt": "webm" if meta["doctype"] == "webm" else "mkv",
            }
        except ValueError:
            if strict:
                raise
    if _PILImage is not None:  # pragma: no cover (PIL absent in this build)
        import io

        try:
            with _PILImage.open(io.BytesIO(payload)) as im:
                return {
                    "doc_id": doc_id,
                    "n_bytes": len(payload),
                    "width": im.width,
                    "height": im.height,
                    "n_frames": getattr(im, "n_frames", 1),
                    "fmt": (im.format or "unknown").lower(),
                }
        except Exception:
            # PIL raises UnidentifiedImageError (an OSError) on any
            # non-image payload; the module contract says unknown
            # formats FALL BACK, not crash the task (r11 review) --
            # strict mode takes the NotImplementedError below
            pass
    if strict:
        raise NotImplementedError(
            "real decode of non-BMP formats requires Pillow/ffmpeg, not "
            "present in this build"
        )
    return fake_decode(doc_id, payload)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Materialize an opaque binary column (here: utf-8 bytes of ``text``
    standing in for image bytes) -- the multimodal storage model: payloads
    are ``binary``, metadata is typed columns."""
    return docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))


def decode_batches(docs_with_payload: DataFrame) -> DataFrame:
    """Run the media decoder over Arrow batches via ``mapInPandas``
    (REAL decode for BMP/PNG/JPEG/GIF/WebP, deterministic fake for the
    rest;
    batch sizing is Spark's ``arrow.maxRecordsPerBatch``, not a
    parameter here).

    The iterator shape is the real pattern for media pipelines: per-batch
    pandas processing, bounded memory, no driver involvement, output schema
    declared up front.
    """

    def decode_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                # NULL payloads/doc_ids (ingest gaps) stay inside the
                # row contract -- empty bytes take the fake-fallback
                # path, a NULL id propagates as NULL -- instead of
                # TypeError/ValueError-killing the task (NULL int64
                # arrives as pandas NaN, where int() raises)
                decode_image(
                    None if pd.isna(r.doc_id) else int(r.doc_id),
                    bytes(r.payload) if r.payload is not None else b"",
                )
                for r in pdf.itertuples(index=False)
            ]
            yield pd.DataFrame(out)

    return docs_with_payload.mapInPandas(decode_iter, DECODE_SCHEMA)


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

_PIXEL_STATS_COLS = [
    "doc_id", "fmt", "width", "height", "n_ch", "sum_px", "wsum_px",
    "n_px",
]


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
    every static-PNG profile, the full T.81 JPEG frame matrix (incl.
    hierarchical pyramids), GIF first frames, and static WebP (VP8 /
    VP8L, r17) qualify — exactly the ``_decode_any_pixels`` dispatch
    set, shared with the resize tier; other formats raise
    ``ValueError`` (callers use the usual skip/propagate contract)."""
    # one dispatch shared with the resize operator (_decode_any_pixels,
    # r17): the two tiers can never recognize different format sets
    fmt, w, h, px = _decode_any_pixels(payload)
    p64 = px.astype(np.int64)
    csum = p64.sum(axis=2) if p64.ndim == 3 else p64  # per-pixel channels
    weights = np.arange(1, w * h + 1, dtype=np.int64).reshape(h, w)
    return {
        "fmt": fmt, "width": w, "height": h,
        "n_ch": px.shape[2] if px.ndim == 3 else 1,
        "sum_px": int(p64.sum()),
        "wsum_px": int((weights * csum).sum()),
        "n_px": w * h,
    }


def image_pixel_stats_batches(
    docs_with_payload: DataFrame, skip_invalid: bool = True,
) -> DataFrame:
    """REAL pixel statistics over Arrow batches (``mapInPandas``): the
    same narrow zero-shuffle map shape as :func:`decode_batches`, but
    emitting :func:`decode_pixel_stats`'s sample sums so a SQL oracle
    can hash-check decode OUTPUT, not just header metadata.
    ``skip_invalid`` follows the audio_feature_batches corrupt-record
    contract (drop vs propagate)."""

    def stats_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if pd.isna(r.doc_id):
                    if skip_invalid:
                        continue
                    raise ValueError("NULL doc_id in pixel-stats batch")
                payload = bytes(r.payload) if r.payload is not None else b""
                try:
                    st = decode_pixel_stats(payload)
                except ValueError:
                    if skip_invalid:
                        continue
                    raise
                rows.append({"doc_id": int(r.doc_id), **st})
            yield pd.DataFrame(rows, columns=_PIXEL_STATS_COLS)

    return docs_with_payload.mapInPandas(stats_iter, PIXEL_STATS_SCHEMA)


#: output schema of REAL animation frame sampling (GIF): one row per
#: sampled frame with exact integer mean channels
FRAME_SAMPLE_SCHEMA = (
    "doc_id BIGINT, frame_idx BIGINT, n_frames BIGINT, width BIGINT, "
    "height BIGINT, mean_r BIGINT, mean_g BIGINT, mean_b BIGINT"
)


_FRAME_SAMPLE_COLS = [
    "doc_id", "frame_idx", "n_frames", "width", "height",
    "mean_r", "mean_g", "mean_b",
]


def sample_animation_frames(
    docs_with_payload: DataFrame, n_samples: int = 4,
    skip_invalid: bool = True,
) -> DataFrame:
    """REAL video-style frame sampling: decode up to ``n_samples``
    evenly-spaced COMPOSITED frames from each animated GIF payload and
    emit one feature row per frame (frame_sample_offsets is the
    byte-offset stand-in for containers this sandbox cannot decode; this
    is the genuine article for the format it can). One input row fans
    out to <= n_samples output rows -- a generator-shaped narrow map,
    same Arrow contract as decode_batches.

    Two passes per payload keep memory bounded at one screen plus the
    picked copies: a block-walk counts frames (no LZW, no buffers), then
    only the evenly-spaced picks are retained while compositing.
    ``skip_invalid`` (default) drops undecodable payloads instead of
    failing the task -- the audio_feature_batches corrupt-record
    contract; ``skip_invalid=False`` propagates the ValueError.

    r14: APNG payloads sample through the same two-pass contract
    (operators.apng count + keep_indices decode); their RGBA screens
    report the RGB channel means, 16-bit samples scaled onto the 8-bit
    range (the exact /257) so GIF and APNG means are comparable."""
    from .apng import count_apng_frames, decode_apng_frames
    from .gif import count_gif_frames, decode_gif_frames

    def frames_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                # NULL payloads/doc_ids (ingest gaps) take the
                # skip_invalid path -- bytes(None)/int(NaN) would raise
                # TypeError/ValueError OUTSIDE the handler and kill the
                # whole task (an output row cannot be attributed to a
                # NULL id, so dropping is the only coherent shape here)
                if pd.isna(r.doc_id):
                    if skip_invalid:
                        continue
                    raise ValueError("NULL doc_id in animation batch")
                payload = bytes(r.payload) if r.payload is not None else b""
                is_png = payload[: len(_PNG_SIG)] == _PNG_SIG
                count, fetch = (
                    (count_apng_frames, decode_apng_frames) if is_png
                    else (count_gif_frames, decode_gif_frames)
                )
                try:
                    w, h, n = count(payload)
                    k = min(n_samples, n)
                    picks = sorted(
                        {round(i * (n - 1) / (k - 1)) for i in range(k)}
                        if k > 1 else ({0} if k == 1 else set())
                    )
                    _w, _h, screens = fetch(payload, keep_indices=set(picks))
                except ValueError:
                    if skip_invalid:
                        continue
                    raise
                for fi, screen in zip(picks, screens):
                    rgb = screen[:, :, :3]
                    means = rgb.reshape(-1, 3).mean(axis=0)
                    if rgb.dtype == np.uint16:
                        means = means / 257.0  # exact 16->8-bit range
                    mr, mg, mb = means.round()
                    rows.append({
                        "doc_id": int(r.doc_id), "frame_idx": fi,
                        "n_frames": n, "width": w, "height": h,
                        "mean_r": int(mr), "mean_g": int(mg),
                        "mean_b": int(mb),
                    })
            # explicit columns: an all-skipped batch must still match
            # FRAME_SAMPLE_SCHEMA
            yield pd.DataFrame(rows, columns=_FRAME_SAMPLE_COLS)

    return docs_with_payload.mapInPandas(frames_iter, FRAME_SAMPLE_SCHEMA)


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

_RESIZE_STATS_COLS = [
    "doc_id", "fmt", "width", "height", "out_w", "out_h", "n_ch",
    "sum_px", "wsum_px", "n_px",
]


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
    pixels or places them wrong cannot hash-match)."""

    def stats_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = np.arange(1, out_h * out_w + 1, dtype=np.int64).reshape(
            out_h, out_w)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if pd.isna(r.doc_id):
                    if skip_invalid:
                        continue
                    raise ValueError("NULL doc_id in resize batch")
                payload = bytes(r.payload) if r.payload is not None else b""
                try:
                    fmt, w, h, px = _decode_any_pixels(payload)
                except ValueError:
                    if skip_invalid:
                        continue
                    raise
                small = resize_nearest(px, out_h, out_w).astype(np.int64)
                csum = small.sum(axis=2) if small.ndim == 3 else small
                rows.append({
                    "doc_id": int(r.doc_id), "fmt": fmt,
                    "width": w, "height": h,
                    "out_w": out_w, "out_h": out_h,
                    "n_ch": px.shape[2] if px.ndim == 3 else 1,
                    "sum_px": int(small.sum()),
                    "wsum_px": int((weights * csum).sum()),
                    "n_px": out_h * out_w,
                })
            yield pd.DataFrame(rows, columns=_RESIZE_STATS_COLS)

    return docs_with_payload.mapInPandas(stats_iter, RESIZE_STATS_SCHEMA)


def _decode_any_pixels(payload: bytes) -> tuple[str, int, int, np.ndarray]:
    """(fmt, width, height, sample array) for every static format the
    pixel-stats tier decodes — the decode_pixel_stats dispatch, shared
    so resize and stats can never recognize different formats."""
    if payload[:2] == b"BM":
        fmt, (w, h, px) = "bmp", decode_bmp_pixels(payload)
    elif payload[: len(_PNG_SIG)] == _PNG_SIG:
        fmt, (w, h, px) = "png", decode_png_pixels(payload)
    elif payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_pixels

        fmt, (w, h, px) = "jpeg", decode_jpeg_pixels(payload)
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        fmt, (w, h, _n, px) = "gif", decode_gif(payload)
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from .webp import decode_webp

        w, h, _n, px, _codec = decode_webp(payload)
        if px is None:
            raise ValueError("pixel decode: animated WebP canvas")
        fmt = "webp"
    else:
        raise ValueError("pixel decode: unrecognized image signature")
    return fmt, w, h, px
