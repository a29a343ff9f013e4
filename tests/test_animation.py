"""The one animation compositor (operators.multimodal.composite_frames)
under hostile input: mutated GIF, APNG and animated-WebP payloads, built
with the golden suites' independent encoders, go through the shared
parse + composite path. Only ``ValueError`` may escape, parsing decodes
no animation pixels, and no frame after the last kept index has its
pixels decoded."""

from __future__ import annotations

import random
import struct
import sys
import zlib
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from test_apng import make_apng
from test_gif import _frame, _gce, _make_gif
from test_webp import _anim_webp, _anmf, _riff_chunk, _vp8l_anmf

from aws_cloudfront_realtime_monitoring_spark.operators import gif, webp
from aws_cloudfront_realtime_monitoring_spark.operators import multimodal as mm


def _gif_base() -> bytes:
    rng = np.random.RandomState(3)
    pal = rng.randint(0, 256, (8, 3)).astype(np.uint8)
    idx = [rng.randint(0, 8, (h, w)).astype(np.uint8)
           for h, w in ((6, 7), (3, 4), (5, 2), (2, 2), (4, 4))]
    return _make_gif([
        _frame(idx[0], interlace=True),
        _gce(disposal=2, t_idx=5) + _frame(idx[1], left=1, top=2),
        _gce(disposal=3) + _frame(idx[2], left=4, top=1, interlace=True),
        _gce(t_idx=0) + _frame(idx[3], left=5, top=4),
        _frame(idx[4], left=0, top=0),
    ], pal, 7, 6)


def _apng_base() -> bytes:
    rng = np.random.RandomState(5)
    frames = [(rng.randint(0, 65536, (h, w, 4)).astype(np.uint16), x, y, d, b)
              for h, w, x, y, d, b in ((5, 6, 0, 0, 2, 0), (2, 3, 1, 1, 2, 1),
                                       (3, 2, 4, 2, 1, 1), (5, 6, 0, 0, 0, 1),
                                       (1, 1, 5, 4, 0, 0))]
    return make_apng((6, 5), frames, depth=16)


def _apng_palette_base() -> bytes:
    rng = np.random.RandomState(6)
    pal = rng.randint(0, 256, (6, 3))
    frames = [(rng.randint(0, 6, (h, w, 1)).astype(np.uint8), x, y, d, b)
              for h, w, x, y, d, b in ((4, 4, 0, 0, 0, 0), (2, 2, 1, 1, 2, 1),
                                       (3, 3, 1, 0, 1, 1), (1, 4, 0, 3, 0, 0))]
    return make_apng((4, 4), frames, color_type=3, palette=pal,
                     trns=bytes([0, 128, 255]), interlace=1)


def _webp_base() -> bytes:
    from tests.test_vp8 import build_frame

    rng = np.random.RandomState(7)

    def rgba(h, w):
        return rng.randint(0, 256, (h, w, 4)).astype(np.uint8)

    plane = rng.randint(0, 256, 16 * 16).astype(np.uint8)
    vp8 = _riff_chunk(b"VP8 ", build_frame(1, 1, [[0] * 16]))
    return _anim_webp(16, 16, [
        _vp8l_anmf(rgba(16, 16), flags=0x02),
        _vp8l_anmf(rgba(4, 6), x=2, y=4, flags=0x01),
        _anmf(_riff_chunk(b"ALPH", bytes([0]) + plane.tobytes()) + vp8,
              16, 16),
        _vp8l_anmf(rgba(3, 3), x=10, y=12, flags=0x03),
        _vp8l_anmf(rgba(2, 5), x=8, y=0),
    ], bgra=bytes([10, 20, 30, 200]))


def _mutate(rng: random.Random, p: bytes) -> bytes:
    b = bytearray(p)
    kind = rng.randrange(5)
    if kind == 0:
        return bytes(b[: rng.randrange(len(b))])
    if kind == 1 and b[:4] == b"\x89PNG":
        # flip a byte inside one chunk and re-CRC it, so the checks
        # behind the CRC run
        starts, pos = [], 8
        while pos + 12 <= len(b):
            (n,) = struct.unpack_from(">I", b, pos)
            if n:
                starts.append((pos, n))
            pos += 12 + n
        pos, n = rng.choice(starts)
        b[pos + 8 + rng.randrange(n)] ^= 1 << rng.randrange(8)
        crc = zlib.crc32(bytes(b[pos + 4 : pos + 8 + n])) & 0xFFFFFFFF
        b[pos + 8 + n : pos + 12 + n] = struct.pack(">I", crc)
        return bytes(b)
    for _ in range(rng.randint(1, 3)):
        b[rng.randrange(len(b))] = rng.randrange(256)
    return bytes(b)


@pytest.mark.parametrize("build", [_gif_base, _apng_base,
                                   _apng_palette_base, _webp_base])
def test_mutated_animations_decode_only_up_to_last_kept(build, monkeypatch):
    base = build()
    decoded = []  # pixel decodes of the underlying decoders, in order
    for mod, name in ((gif, "_lzw_decode"), (webp, "_decode_embedded_image")):
        real = getattr(mod, name)
        monkeypatch.setattr(mod, name, lambda *a, _r=real: (
            decoded.append(1), _r(*a))[1])
    real_samples = mm._PNGChunks.samples
    monkeypatch.setattr(mm._PNGChunks, "samples", lambda *a: (
        decoded.append(1), real_samples(*a))[1])

    rng = random.Random(len(base))
    n_checked = 0
    for trial in range(150):
        payload = base if trial == 0 else _mutate(rng, base)
        decoded.clear()
        try:
            anim = mm.animation_frames(payload)
        except ValueError:
            continue
        assert not decoded, "parsing decoded animation pixels"
        n = len(anim.frames)
        for keep in (None, {0}, {n - 1}, {0, n // 2, n - 1}, set()):
            called = []
            spied = anim._replace(frames=[
                f._replace(pixels=lambda _i=i, _f=f: (
                    called.append(_i), _f.pixels())[1])
                for i, f in enumerate(anim.frames)])
            decoded.clear()
            try:
                w, h, n_out, screens = mm.composite_frames(spied, keep)
            except ValueError:
                ok = False
            else:
                ok = True
                assert n_out == n
                assert len(screens) == len(range(n) if keep is None
                                           else keep & set(range(n)))
            last = n - 1 if keep is None else max(keep, default=-1)
            assert all(i <= last for i in called), (keep, called)
            # every pixel decode happens inside a called thunk (a still
            # WebP decodes while parsing, so its thunk decodes nothing)
            assert len(decoded) <= len(called)
            if ok:
                assert called == list(range(min(last, n - 1) + 1))
            n_checked += 1
    assert n_checked >= 20  # the mutants leave enough parseable files
