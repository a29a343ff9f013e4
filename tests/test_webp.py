"""WebP decoder tests: golden bytes from an independent spec-written
VP8L encoder (LSB-first bit packing, package-merge length-limited
prefix codes, the normal code-length-code path with 17/18 zero runs,
LZ77 runs, color cache, meta groups, and all four transforms --
written from the lossless bitstream spec, NOT from the decoder), plus
spec-literal pins for the close-neighbor distance table so a wrong
generation rule cannot self-cancel."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from aws_cloudfront_realtime_monitoring_spark.operators.webp import (
    _PLANE_MAP,
    decode_vp8l_pixels,
    decode_webp,
)

# ---------------------------------------------------------------- writer


class _BW:
    """LSB-first bit writer (the VP8L stream convention); prefix-code
    bits are pushed MSB-of-code first (DEFLATE convention)."""

    def __init__(self) -> None:
        self.bits: list[int] = []

    def put(self, v: int, n: int) -> None:
        assert 0 <= v < (1 << n) or n == 0
        for i in range(n):
            self.bits.append((v >> i) & 1)

    def put_code(self, code: int, length: int) -> None:
        for i in reversed(range(length)):
            self.bits.append((code >> i) & 1)

    def getvalue(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            if b:
                out[i >> 3] |= 1 << (i & 7)
        return bytes(out)


# ------------------------------------------------- prefix-code encoding

_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _limited_huffman(freqs: dict, limit: int) -> dict:
    """Package-merge length-limited prefix code: optimal, and the Kraft
    sum is exactly 1 (the decoder requires complete codes)."""
    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 1}
    assert len(syms) <= (1 << limit)
    items = sorted((freqs[s], (s,)) for s in syms)
    merged = list(items)
    for _ in range(limit - 1):
        packaged = [
            (merged[i][0] + merged[i + 1][0], merged[i][1] + merged[i + 1][1])
            for i in range(0, len(merged) - 1, 2)
        ]
        merged = sorted(items + packaged)
    depth = {s: 0 for s in syms}
    for _w, group in merged[: 2 * len(syms) - 2]:
        for s in group:
            depth[s] += 1
    return depth


def _canon(depths: dict) -> dict:
    """Canonical code assignment: codes count up from 0 at the shortest
    length, left-shifted at each length increase, symbols in ascending
    order within a length."""
    pairs = sorted((ln, s) for s, ln in depths.items())
    code = 0
    prev_len = pairs[0][0]
    out = {}
    for ln, s in pairs:
        code <<= ln - prev_len
        prev_len = ln
        out[s] = (code, ln)
        code += 1
    return out


def _write_prefix_code(bw: _BW, freqs: dict, alphabet_size: int) -> dict:
    """Write one prefix code; returns {symbol: (code, length)} with
    (0, 0) meaning the zero-bit single-symbol code."""
    syms = sorted(freqs)
    if len(syms) == 1 and syms[0] <= 255:
        s = syms[0]
        bw.put(1, 1)  # simple
        bw.put(0, 1)  # one symbol
        if s <= 1:
            bw.put(0, 1)
            bw.put(s, 1)
        else:
            bw.put(1, 1)
            bw.put(s, 8)
        return {s: (0, 0)}
    if len(syms) == 2 and syms[1] <= 255:
        s0, s1 = syms
        bw.put(1, 1)
        bw.put(1, 1)  # two symbols
        if s0 <= 1:
            bw.put(0, 1)
            bw.put(s0, 1)
        else:
            bw.put(1, 1)
            bw.put(s0, 8)
        bw.put(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}
    depths = _limited_huffman(freqs, 15)
    if len(depths) == 1:  # a lone symbol > 255 cannot use the simple form
        s = syms[0]
        pad = 0 if s != 0 else 1
        depths = {s: 1, pad: 1}
    lens = [depths.get(s, 0) for s in range(alphabet_size)]
    tokens: list[tuple[int, int, int]] = []  # (cl symbol, extra, extra bits)
    i = 0
    while i < alphabet_size:
        if lens[i] == 0:
            j = i
            while j < alphabet_size and lens[j] == 0:
                j += 1
            run = j - i
            while run:
                if run >= 11:
                    n = min(run, 138)
                    tokens.append((18, n - 11, 7))
                    run -= n
                elif run >= 3:
                    tokens.append((17, run - 3, 3))
                    run = 0
                else:
                    tokens.append((0, 0, 0))
                    run -= 1
            i = j
        else:
            tokens.append((lens[i], 0, 0))
            i += 1
    cl_freqs: dict[int, int] = {}
    for t, _e, _b in tokens:
        cl_freqs[t] = cl_freqs.get(t, 0) + 1
    cl_depths = _limited_huffman(cl_freqs, 7)
    if len(cl_depths) == 1:  # decoder treats 1-symbol codes as 0-bit
        only = next(iter(cl_depths))
        cl_depths = {only: 1, (0 if only else 1): 1}
    cl_codes = _canon(cl_depths)
    bw.put(0, 1)  # normal code
    used_pos = [i for i, s in enumerate(_CL_ORDER) if cl_depths.get(s, 0)]
    num_cl = max(4, max(used_pos) + 1)
    bw.put(num_cl - 4, 4)
    for i in range(num_cl):
        bw.put(cl_depths.get(_CL_ORDER[i], 0), 3)
    bw.put(0, 1)  # no max_symbol early stop
    for t, extra, ebits in tokens:
        c, ln = cl_codes[t]
        bw.put_code(c, ln)
        if ebits:
            bw.put(extra, ebits)
    return _canon(depths)


def _to_prefix(v: int) -> tuple[int, int, int]:
    """LZ77 value -> (prefix symbol, extra value, extra bits)."""
    for p in range(40):
        eb = 0 if p < 4 else (p - 2) >> 1
        lo = p + 1 if p < 4 else ((2 + (p & 1)) << eb) + 1
        if lo <= v <= lo + (1 << eb) - 1:
            return p, v - lo, eb
    raise AssertionError(v)


def _ckey(px: int, cache_bits: int) -> int:
    return ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)


def _dist_code(d: int, w: int) -> int:
    """Map a pixel distance to its wire code: distance 1 goes through
    the spec's close-neighbor plane code, everything else through the
    direct (distance + 120) form -- so every LZ77 roundtrip exercises
    BOTH decoder branches.  The plane code is resolved against the
    SPEC-TRANSCRIBED table literals (not the decoder's generated map)
    so the decoder's plane-code usage -- index base, dy*xsize+dx
    arithmetic -- cannot self-cancel."""
    if d == 1:
        return _SPEC_PLANE_40.index((1, 0)) + 1
    return d + 120


# -------------------------------------------------- spatial image body


def _encode_spatial(
    bw: _BW,
    arr2d: list[list[int]],
    is_level0: bool,
    cache_bits: int = 0,
    lz77: bool = False,
    meta: tuple | None = None,
) -> list:
    """Entropy-code one spatially-coded image; returns the op list so
    tests can assert which code paths were actually exercised."""
    h, w = len(arr2d), len(arr2d[0])
    flat = [p for row in arr2d for p in row]
    if cache_bits:
        bw.put(1, 1)
        bw.put(cache_bits, 4)
    else:
        bw.put(0, 1)
    meta2d = None
    meta_bits = 0
    n_groups = 1
    if is_level0:
        if meta is not None:
            meta_bits, meta2d = meta
            bw.put(1, 1)
            bw.put(meta_bits - 2, 3)
            _encode_spatial(
                bw,
                [[0xFF000000 | (i << 8) for i in row] for row in meta2d],
                False,
            )
            n_groups = max(max(row) for row in meta2d) + 1
        else:
            bw.put(0, 1)
    # tokenize the pixel stream
    cache: list | None = [None] * (1 << cache_bits) if cache_bits else None
    ops: list[tuple] = []  # (group, kind, ...)
    pos = 0
    total = len(flat)
    while pos < total:
        if meta2d is None:
            grp = 0
        else:
            y, x = divmod(pos, w)
            grp = meta2d[y >> meta_bits][x >> meta_bits]
        if lz77 and pos:
            best, best_d = 0, 0
            for d in (1, w):
                if d > pos:
                    continue
                ln = 0
                while (
                    pos + ln < total
                    and flat[pos + ln] == flat[pos + ln - d]
                    and ln < 4096
                ):
                    ln += 1
                if ln > best:
                    best, best_d = ln, d
            if best >= 3:
                ops.append((grp, "copy", best, best_d))
                if cache is not None:
                    for k in range(best):
                        cache[_ckey(flat[pos + k], cache_bits)] = flat[pos + k]
                pos += best
                continue
        px = flat[pos]
        if cache is not None and cache[_ckey(px, cache_bits)] == px:
            ops.append((grp, "cache", _ckey(px, cache_bits)))
        else:
            ops.append((grp, "lit", px))
            if cache is not None:
                cache[_ckey(px, cache_bits)] = px
        pos += 1
    # per-group symbol frequencies for the five codes
    cache_size = (1 << cache_bits) if cache_bits else 0
    green_f = [dict() for _ in range(n_groups)]
    chan_f = [[dict() for _ in range(3)] for _ in range(n_groups)]  # r, b, a
    dist_f = [dict() for _ in range(n_groups)]
    for op in ops:
        grp = op[0]
        if op[1] == "lit":
            px = op[2]
            g = (px >> 8) & 0xFF
            green_f[grp][g] = green_f[grp].get(g, 0) + 1
            for k, s in enumerate((16, 0, 24)):
                v = (px >> s) & 0xFF
                chan_f[grp][k][v] = chan_f[grp][k].get(v, 0) + 1
        elif op[1] == "copy":
            p, _e, _b = _to_prefix(op[2])
            green_f[grp][256 + p] = green_f[grp].get(256 + p, 0) + 1
            dp, _e2, _b2 = _to_prefix(_dist_code(op[3], w))
            dist_f[grp][dp] = dist_f[grp].get(dp, 0) + 1
        else:
            s = 280 + op[2]
            green_f[grp][s] = green_f[grp].get(s, 0) + 1
    codes = []
    for grp in range(n_groups):
        green = _write_prefix_code(
            bw, green_f[grp] or {0: 1}, 256 + 24 + cache_size
        )
        red = _write_prefix_code(bw, chan_f[grp][0] or {0: 1}, 256)
        blue = _write_prefix_code(bw, chan_f[grp][1] or {0: 1}, 256)
        alpha = _write_prefix_code(bw, chan_f[grp][2] or {0: 1}, 256)
        dist = _write_prefix_code(bw, dist_f[grp] or {0: 1}, 40)
        codes.append((green, red, blue, alpha, dist))
    for op in ops:
        green, red, blue, alpha, dist = codes[op[0]]
        if op[1] == "lit":
            px = op[2]
            bw.put_code(*green[(px >> 8) & 0xFF])
            bw.put_code(*red[(px >> 16) & 0xFF])
            bw.put_code(*blue[px & 0xFF])
            bw.put_code(*alpha[(px >> 24) & 0xFF])
        elif op[1] == "copy":
            p, extra, ebits = _to_prefix(op[2])
            bw.put_code(*green[256 + p])
            bw.put(extra, ebits)
            dp, extra2, ebits2 = _to_prefix(_dist_code(op[3], w))
            bw.put_code(*dist[dp])
            bw.put(extra2, ebits2)
        else:
            bw.put_code(*green[280 + op[2]])
    return ops


# --------------------------------------------------- forward transforms
# spec-written, channel-tuple style (deliberately NOT the decoder's
# packed-int formulations, so shared arithmetic bugs cannot self-cancel)


def _unpack(px: int) -> tuple[int, int, int, int]:  # (a, r, g, b)
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF


def _pack(a: int, r: int, g: int, b: int) -> int:
    return (a << 24) | (r << 16) | (g << 8) | b


def _sub4(x: int, y: int) -> int:
    xa, xr, xg, xb = _unpack(x)
    ya, yr, yg, yb = _unpack(y)
    return _pack(
        (xa - ya) & 0xFF, (xr - yr) & 0xFF, (xg - yg) & 0xFF, (xb - yb) & 0xFF
    )


def _fwd_subtract_green(arr: list[list[int]]) -> list[list[int]]:
    out = []
    for row in arr:
        new = []
        for px in row:
            a, r, g, b = _unpack(px)
            new.append(_pack(a, (r - g) & 0xFF, g, (b - g) & 0xFF))
        out.append(new)
    return out


def _avg2_t(x: tuple, y: tuple) -> tuple:
    return tuple((x[i] + y[i]) >> 1 for i in range(4))


def _predict(mode: int, left: tuple, top: tuple, tl: tuple, tr: tuple) -> tuple:
    if mode == 0:
        return (0xFF, 0, 0, 0)
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2_t(_avg2_t(left, tr), top)
    if mode == 6:
        return _avg2_t(left, tl)
    if mode == 7:
        return _avg2_t(left, top)
    if mode == 8:
        return _avg2_t(tl, top)
    if mode == 9:
        return _avg2_t(top, tr)
    if mode == 10:
        return _avg2_t(_avg2_t(left, tl), _avg2_t(top, tr))
    if mode == 11:
        p_l = sum(abs(top[i] - tl[i]) for i in range(4))
        p_t = sum(abs(left[i] - tl[i]) for i in range(4))
        return left if p_l < p_t else top
    if mode == 12:
        return tuple(
            min(255, max(0, left[i] + top[i] - tl[i])) for i in range(4)
        )
    assert mode == 13
    av = _avg2_t(left, top)
    out = []
    for i in range(4):
        d = av[i] - tl[i]
        half = d // 2 if d >= 0 else -((-d) // 2)  # C truncation
        out.append(min(255, max(0, av[i] + half)))
    return tuple(out)


def _fwd_predictor(
    arr: list[list[int]], size_bits: int
) -> tuple[list[list[int]], list[list[int]]]:
    h, w = len(arr), len(arr[0])
    tiles_h = (h + (1 << size_bits) - 1) >> size_bits
    tiles_w = (w + (1 << size_bits) - 1) >> size_bits
    modes = [
        [(ty * tiles_w + tx) % 14 for tx in range(tiles_w)]
        for ty in range(tiles_h)
    ]
    out = []
    for y in range(h):
        row = []
        for x in range(w):
            if y == 0 and x == 0:
                pred = (0xFF, 0, 0, 0)
            elif y == 0:
                pred = _unpack(arr[0][x - 1])
            elif x == 0:
                pred = _unpack(arr[y - 1][0])
            else:
                left = _unpack(arr[y][x - 1])
                top = _unpack(arr[y - 1][x])
                tl = _unpack(arr[y - 1][x - 1])
                tr = _unpack(arr[y - 1][x + 1] if x + 1 < w else arr[y][0])
                pred = _predict(
                    modes[y >> size_bits][x >> size_bits], left, top, tl, tr
                )
            row.append(_sub4(arr[y][x], _pack(*pred)))
        out.append(row)
    return out, modes


def _s8(v: int) -> int:
    return ((v + 128) & 0xFF) - 128


def _fwd_color_transform(
    arr: list[list[int]], size_bits: int
) -> tuple[list[list[int]], list[list[int]]]:
    h, w = len(arr), len(arr[0])
    tiles_h = (h + (1 << size_bits) - 1) >> size_bits
    tiles_w = (w + (1 << size_bits) - 1) >> size_bits
    ctes = []
    for ty in range(tiles_h):
        row = []
        for tx in range(tiles_w):
            tidx = ty * tiles_w + tx
            g2r = (3 * tidx + 17) & 0xFF
            g2b = (5 * tidx + 101) & 0xFF
            r2b = (7 * tidx + 200) & 0xFF
            row.append(0xFF000000 | (r2b << 16) | (g2b << 8) | g2r)
        ctes.append(row)
    out = []
    for y in range(h):
        row = []
        for x in range(w):
            a, r, g, b = _unpack(arr[y][x])
            cte = _unpack(ctes[y >> size_bits][x >> size_bits])
            g2r, g2b, r2b = _s8(cte[3]), _s8(cte[2]), _s8(cte[1])
            sg = _s8(g)
            r_c = (r - ((g2r * sg) >> 5)) & 0xFF
            # the decoder's red_to_blue delta uses the FINAL red byte
            b_c = (b - ((g2b * sg) >> 5) - ((r2b * _s8(r)) >> 5)) & 0xFF
            row.append(_pack(a, r_c, g, b_c))
        out.append(row)
    return out, ctes


def _fwd_palette(
    arr: list[list[int]],
) -> tuple[list[list[int]], list[int], int]:
    h, w = len(arr), len(arr[0])
    palette: list[int] = []
    index: dict[int, int] = {}
    for row in arr:
        for px in row:
            if px not in index:
                index[px] = len(palette)
                palette.append(px)
    n = len(palette)
    assert n <= 256
    if n <= 2:
        width_bits = 3
    elif n <= 4:
        width_bits = 2
    elif n <= 16:
        width_bits = 1
    else:
        width_bits = 0
    per = 1 << width_bits
    bits = 8 >> width_bits
    out = []
    for y in range(h):
        row = []
        for x0 in range(0, w, per):
            bundle = 0
            for k in range(per):
                if x0 + k < w:
                    bundle |= index[arr[y][x0 + k]] << (bits * k)
            row.append(0xFF000000 | (bundle << 8))
        out.append(row)
    return out, palette, width_bits


def _encode_vp8l(
    rgba: np.ndarray,
    transforms: tuple = (),
    cache_bits: int = 0,
    lz77: bool = False,
    meta: tuple | None = None,
) -> tuple[bytes, list]:
    h, w = rgba.shape[:2]
    arr = [
        [
            _pack(
                int(rgba[y, x, 3]),
                int(rgba[y, x, 0]),
                int(rgba[y, x, 1]),
                int(rgba[y, x, 2]),
            )
            for x in range(w)
        ]
        for y in range(h)
    ]
    bw = _BW()
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(1, 1)  # alpha hint
    bw.put(0, 3)  # version
    for t in transforms:
        bw.put(1, 1)
        if t == "subgreen":
            bw.put(2, 2)
            arr = _fwd_subtract_green(arr)
        elif t[0] == "pred":
            bw.put(0, 2)
            bw.put(t[1] - 2, 3)
            arr, modes = _fwd_predictor(arr, t[1])
            _encode_spatial(
                bw, [[0xFF000000 | (m << 8) for m in row] for row in modes],
                False,
            )
        elif t[0] == "color":
            bw.put(1, 2)
            bw.put(t[1] - 2, 3)
            arr, ctes = _fwd_color_transform(arr, t[1])
            _encode_spatial(bw, ctes, False)
        else:
            assert t == "palette"
            arr, palette, _wb = _fwd_palette(arr)
            bw.put(3, 2)
            bw.put(len(palette) - 1, 8)
            deltas = [palette[0]] + [
                _sub4(palette[i], palette[i - 1])
                for i in range(1, len(palette))
            ]
            _encode_spatial(bw, [deltas], False)
    bw.put(0, 1)  # no more transforms
    ops = _encode_spatial(bw, arr, True, cache_bits, lz77, meta)
    return b"\x2f" + bw.getvalue(), ops


def _wrap_riff(vp8l: bytes, tag: bytes = b"VP8L") -> bytes:
    chunk = tag + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _roundtrip(rgba: np.ndarray, **kw) -> list:
    data, ops = _encode_vp8l(rgba, **kw)
    w, h, got = decode_vp8l_pixels(data)
    assert (w, h) == (rgba.shape[1], rgba.shape[0])
    np.testing.assert_array_equal(got, rgba)
    return ops


# ---------------------------------------------------------------- tests

#: the first 40 entries of the spec's distance-code plane table,
#: transcribed from the WebP lossless bitstream specification
_SPEC_PLANE_40 = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
]


def test_plane_map_matches_spec_prefix():
    assert len(_PLANE_MAP) == 120
    assert _PLANE_MAP[:40] == _SPEC_PLANE_40
    # structural invariants of the full table: unique offsets inside
    # the documented window, non-decreasing squared distance
    assert len(set(_PLANE_MAP)) == 120
    d2 = [dx * dx + dy * dy for dx, dy in _PLANE_MAP]
    assert d2 == sorted(d2)
    for dx, dy in _PLANE_MAP:
        assert 0 <= dy <= 7 and -7 <= dx <= 8
        assert dy > 0 or dx > 0


def test_vp8l_literal_roundtrip_exact():
    rng = np.random.RandomState(41)
    rgba = rng.randint(0, 256, size=(11, 13, 4), dtype=np.uint8)
    ops = _roundtrip(rgba)
    assert all(op[1] == "lit" for op in ops)


def test_vp8l_simple_codes_and_one_pixel():
    # two colors -> every channel has <= 2 distinct values: all five
    # prefix codes take the simple form
    rgba = np.zeros((5, 7, 4), np.uint8)
    rgba[..., 3] = 255
    rgba[1::2, ::2] = (200, 10, 77, 255)
    _roundtrip(rgba)
    # a single pixel exercises the one-symbol zero-bit codes
    _roundtrip(np.array([[[9, 200, 3, 128]]], np.uint8))


def test_vp8l_lz77_runs_roundtrip():
    rng = np.random.RandomState(43)
    rgba = np.zeros((16, 24, 4), np.uint8)
    rgba[..., 3] = 255
    rgba[:, :, 0] = 50  # long horizontal runs (distance 1)
    rgba[5] = rng.randint(0, 256, size=(24, 4), dtype=np.uint8)
    rgba[6] = rgba[5]  # a full row copy (distance = xsize)
    ops = _roundtrip(rgba, lz77=True)
    kinds = {op[1] for op in ops}
    assert "copy" in kinds
    dists = {op[3] for op in ops if op[1] == "copy"}
    # distance 1 rides the close-neighbor plane code (see _dist_code),
    # distance 24 the direct distance+120 form: both decoder branches ran
    assert 1 in dists and 24 in dists


def test_plane_to_dist_spec_arithmetic():
    """Direct pins of the plane-code mapping against the transcribed
    spec table: dist = dy * xsize + dx, clamped to 1, with codes above
    120 meaning distance - 120."""
    from aws_cloudfront_realtime_monitoring_spark.operators.webp import (
        _plane_to_dist,
    )

    assert _plane_to_dist(1, 100) == 100  # (0, 1): one row up
    assert _plane_to_dist(2, 100) == 1  # (1, 0): previous pixel
    assert _plane_to_dist(3, 100) == 101  # (1, 1)
    assert _plane_to_dist(4, 100) == 99  # (-1, 1)
    assert _plane_to_dist(4, 1) == 1  # (-1, 1) on a 1-wide image: clamp
    assert _plane_to_dist(40, 7) == 5  # (5, 0), table entry 40
    assert _plane_to_dist(121, 7) == 1  # first direct code
    assert _plane_to_dist(320, 7) == 200
    with pytest.raises(ValueError):
        _plane_to_dist(0, 7)


def test_vp8l_color_cache_roundtrip():
    # recurring colors separated by others: cache hits, not runs
    pal = np.array(
        [[250, 1, 2, 255], [3, 144, 9, 255], [77, 77, 77, 128],
         [0, 0, 0, 255]],
        np.uint8,
    )
    rng = np.random.RandomState(47)
    idx = rng.randint(0, 4, size=(9, 14))
    rgba = pal[idx]
    ops = _roundtrip(rgba, cache_bits=6)
    assert any(op[1] == "cache" for op in ops)


def test_vp8l_subtract_green_roundtrip():
    rng = np.random.RandomState(53)
    rgba = rng.randint(0, 256, size=(8, 9, 4), dtype=np.uint8)
    _roundtrip(rgba, transforms=("subgreen",))


def test_vp8l_predictor_all_modes_roundtrip():
    # 4x4 tiles over a 17x15 image: 20 tiles cycle through all 14
    # predictor modes, including the rightmost-column TR edge rule
    rng = np.random.RandomState(59)
    rgba = rng.randint(0, 256, size=(15, 17, 4), dtype=np.uint8)
    _roundtrip(rgba, transforms=(("pred", 2),))
    # smooth gradients hit the clamp/select branches differently
    y, x = np.mgrid[0:15, 0:17]
    smooth = np.dstack(
        [(x * 7) & 0xFF, (y * 11) & 0xFF, (x * 3 + y * 5) & 0xFF,
         np.full_like(x, 255)]
    ).astype(np.uint8)
    _roundtrip(smooth, transforms=(("pred", 2),))


def test_vp8l_color_transform_roundtrip():
    rng = np.random.RandomState(61)
    rgba = rng.randint(0, 256, size=(10, 11, 4), dtype=np.uint8)
    _roundtrip(rgba, transforms=(("color", 2),))


def test_vp8l_stacked_transforms_roundtrip():
    rng = np.random.RandomState(67)
    rgba = rng.randint(0, 256, size=(9, 10, 4), dtype=np.uint8)
    _roundtrip(rgba, transforms=("subgreen", ("pred", 3)))


@pytest.mark.parametrize("ncolors,width_bits", [(2, 3), (4, 2), (13, 1), (40, 0)])
def test_vp8l_palette_bundling_roundtrip(ncolors, width_bits):
    rng = np.random.RandomState(ncolors)
    pal = rng.randint(0, 256, size=(ncolors, 4), dtype=np.uint8)
    # width 13 is not a multiple of any bundle size: exercises the
    # partial trailing bundle crop
    idx = rng.randint(0, ncolors, size=(6, 13))
    idx[0, :ncolors] = np.arange(ncolors)[: min(13, ncolors)]  # all colors used
    rgba = pal[idx]
    arr, _palette, wb = _fwd_palette(
        [[_pack(int(p[3]), int(p[0]), int(p[1]), int(p[2])) for p in row]
         for row in rgba]
    )
    assert wb == width_bits
    _roundtrip(rgba, transforms=("palette",))


def test_vp8l_meta_prefix_groups_roundtrip():
    rng = np.random.RandomState(71)
    rgba = rng.randint(0, 256, size=(8, 12, 4), dtype=np.uint8)
    # 4x4 tiles -> 2x3 meta image with two groups split diagonally
    meta2d = [[0, 0, 1], [0, 1, 1]]
    ops = _roundtrip(rgba, meta=(2, meta2d))
    assert {op[0] for op in ops} == {0, 1}


def test_vp8l_repeat16_and_max_symbol_handcrafted():
    """The two normal-code features the golden encoder does not emit:
    repeat-previous (16) and the max_symbol early stop, fed to the
    decoder as a hand-built stream per the spec."""
    from aws_cloudfront_realtime_monitoring_spark.operators.webp import (
        _Bits,
        _read_prefix_code,
    )

    bw = _BW()
    bw.put(0, 1)  # normal code
    # CL code: symbols {2, 16} at length 1; order positions 4 and 8
    bw.put(9 - 4, 4)
    for i in range(9):
        bw.put(1 if _CL_ORDER[i] in (2, 16) else 0, 3)
    bw.put(1, 1)  # use max_symbol
    bw.put(0, 3)  # length_nbits = 2
    bw.put(0, 2)  # max_symbol = 2 tokens
    bw.put_code(0, 1)  # literal length 2 (symbol 0 of the CL code)
    bw.put_code(1, 1)  # repeat previous (16)
    bw.put(0, 2)  # repeat count 3
    # expected lengths: [2, 2, 2, 2, 0, ...] -- a complete 2-bit code
    code = _read_prefix_code(_Bits(bw.getvalue()), 256)
    probe = _BW()
    for sym in (3, 0, 2, 1):
        probe.put_code(sym, 2)
    br = _Bits(probe.getvalue())
    assert [code.read(br) for _ in range(4)] == [3, 0, 2, 1]


def test_vp8l_rejects_malformed():
    rng = np.random.RandomState(73)
    rgba = rng.randint(0, 256, size=(6, 6, 4), dtype=np.uint8)
    good, _ops = _encode_vp8l(rgba)
    with pytest.raises(ValueError):
        decode_vp8l_pixels(b"")  # empty
    with pytest.raises(ValueError):
        decode_vp8l_pixels(b"\x30" + good[1:])  # bad signature
    with pytest.raises(ValueError):
        decode_vp8l_pixels(good[:5])  # truncated stream
    bad_version = bytearray(good)
    # width=6,height=6: bits 0..27 dims, bit 28 alpha, bits 29-31 version
    bad_version[4] |= 0xE0
    with pytest.raises(ValueError):
        decode_vp8l_pixels(bytes(bad_version))
    # 16384x16384 header exceeds the slow-path pixel cap
    bomb = _BW()
    bomb.put(16383, 14)
    bomb.put(16383, 14)
    bomb.put(0, 1)
    bomb.put(0, 3)
    with pytest.raises(ValueError):
        decode_vp8l_pixels(b"\x2f" + bomb.getvalue() + b"\x00" * 8)
    # a backward reference at pixel 0 (before any output) must reject:
    # green code = simple 2-symbol {0, 256}? 256 > 255 -> use literal 0
    # and length symbol via handcrafted normal code is overkill; instead
    # corrupt a known-good lz77 stream's first op bytes and rely on the
    # fuzz test below for broad coverage.


def test_vp8l_mutation_fuzz_valueerror_only():
    rng = np.random.RandomState(79)
    rgba = rng.randint(0, 256, size=(9, 9, 4), dtype=np.uint8)
    base, _ = _encode_vp8l(
        rgba, transforms=("subgreen", ("pred", 2)), cache_bits=4, lz77=True
    )
    for _ in range(300):
        blob = bytearray(base)
        for _f in range(rng.randint(1, 6)):
            blob[rng.randint(0, len(blob))] = rng.randint(0, 256)
        if rng.rand() < 0.5:
            blob = blob[: rng.randint(1, len(blob))]
        try:
            _w, _h, px = decode_vp8l_pixels(bytes(blob))
            assert px.dtype == np.uint8
        except ValueError:
            pass


def test_vp8l_property_roundtrip():
    """Property: ANY small RGBA image round-trips bit-exactly through
    the golden encoder at every cache/lz77 setting."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.tuples(
            st.integers(1, 9),
            st.integers(1, 10),
            st.integers(0, 2**32 - 1),
            st.sampled_from([(0, False), (0, True), (5, False), (5, True)]),
        )
    )
    def check(args):
        h, w, seed, (cache_bits, lz77) = args
        rng = np.random.RandomState(seed)
        # low-entropy palette-ish images produce runs and cache hits
        pal = rng.randint(0, 256, size=(3, 4), dtype=np.uint8)
        rgba = pal[rng.randint(0, 3, size=(h, w))]
        _roundtrip(rgba, cache_bits=cache_bits, lz77=lz77)

    check()


# ------------------------------------------------------ container level


def _vp8_lossy_chunk(width: int, height: int) -> bytes:
    # 3-byte frame tag (keyframe: bit0 = 0), start code, 14-bit dims
    return (
        b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + struct.pack("<HH", width, height) + b"\x00" * 6
    )


def test_webp_container_vp8l_and_lossy_and_vp8x():
    rng = np.random.RandomState(83)
    rgba = rng.randint(0, 256, size=(7, 5, 4), dtype=np.uint8)
    data, _ = _encode_vp8l(rgba)
    w, h, n, px, codec = decode_webp(_wrap_riff(data))
    assert (w, h, n, codec) == (5, 7, 1, "vp8l")
    np.testing.assert_array_equal(px, rgba)

    # lossy VP8: REAL pixels as of r9 (key-frame decoder, operators/vp8.py)
    from test_vp8 import build_frame

    body = build_frame(1, 1, [[0] * 16])  # all-B_DC 16x16 key frame
    w, h, n, px, codec = decode_webp(_wrap_riff(body, b"VP8 "))
    assert (w, h, n, codec) == (16, 16, 1, "vp8")
    assert px is not None and px.shape == (16, 16, 4)
    # chained B_DC over the 127/129 spec borders -> a near-flat gray
    assert px[..., 0].min() >= 120 and px[..., 0].max() <= 140
    assert len(np.unique(px[..., 0])) <= 3

    # VP8X animation: canvas dims from the header, ANMF chunks counted
    vp8x = bytes([0x02, 0, 0, 0]) + (99).to_bytes(3, "little") + (49).to_bytes(3, "little")
    chunks = b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    for _i in range(3):
        body = b"\x00" * 16
        chunks += b"ANMF" + struct.pack("<I", len(body)) + body
    blob = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks
    w, h, n, px, codec = decode_webp(blob)
    assert (w, h, n, px, codec) == (100, 50, 3, None, "vp8x")


def test_webp_vp8x_still_image_decodes_and_checks_canvas():
    rng = np.random.RandomState(97)
    rgba = rng.randint(0, 256, size=(4, 6, 4), dtype=np.uint8)
    data, _ = _encode_vp8l(rgba)

    def _vp8x_blob(canvas_w: int, canvas_h: int) -> bytes:
        vp8x = bytes([0x02, 0, 0, 0]) + (canvas_w - 1).to_bytes(
            3, "little"
        ) + (canvas_h - 1).to_bytes(3, "little")
        chunks = b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
        chunks += b"VP8L" + struct.pack("<I", len(data)) + data
        if len(data) & 1:
            chunks += b"\x00"
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks

    # a still VP8X (e.g. an EXIF/ICC wrapper) decodes the inner VP8L
    w, h, n, px, codec = decode_webp(_vp8x_blob(6, 4))
    assert (w, h, n, codec) == (6, 4, 1, "vp8x")
    np.testing.assert_array_equal(px, rgba)
    # a frame that disagrees with the declared canvas is malformed --
    # the returned dims must always describe the returned pixels
    with pytest.raises(ValueError):
        decode_webp(_vp8x_blob(100, 50))


def test_webp_chunk_may_not_cross_riff_boundary():
    """A chunk whose declared size runs past the RIFF extent must be
    rejected even when trailing non-container bytes could 'satisfy'
    the slice."""
    rng = np.random.RandomState(101)
    rgba = rng.randint(0, 256, size=(3, 3, 4), dtype=np.uint8)
    data, _ = _encode_vp8l(rgba)
    blob = bytearray(_wrap_riff(data))
    # shrink the declared RIFF size so the VP8L chunk crosses the
    # boundary, then append trailing garbage beyond it
    struct.pack_into("<I", blob, 4, len(blob) - 8 - 4)
    blob += b"\xee" * 8
    with pytest.raises(ValueError):
        decode_webp(bytes(blob))


def test_webp_container_rejects():
    with pytest.raises(ValueError):
        decode_webp(b"RIFF")
    with pytest.raises(ValueError):
        decode_webp(b"RIFF" + b"\x00" * 20)  # no WEBP fourcc
    with pytest.raises(ValueError):
        # valid RIFF/WEBP but a non-image leading chunk
        decode_webp(_wrap_riff(b"\x00" * 8, b"EXIF"))
    with pytest.raises(ValueError):
        # truncated chunk body
        blob = _wrap_riff(b"\x2f" + b"\x00" * 40)
        decode_webp(blob[: len(blob) - 30])
    with pytest.raises(ValueError):
        # lossy stream that does not start with a keyframe
        decode_webp(_wrap_riff(b"\x01" + _vp8_lossy_chunk(8, 8)[1:], b"VP8 "))


def test_webp_through_decode_image_and_mapinpandas(spark):
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_batches,
        decode_image,
    )

    rng = np.random.RandomState(89)
    rgba = rng.randint(0, 256, size=(6, 8, 4), dtype=np.uint8)
    data, _ = _encode_vp8l(rgba, transforms=("subgreen",))
    blob = _wrap_riff(data)
    meta = decode_image(3, blob)
    assert meta == {
        "doc_id": 3, "n_bytes": len(blob), "width": 8, "height": 6,
        "n_frames": 1, "fmt": "webp",
    }
    # a lossy file still yields REAL header metadata through the same path
    lossy = _wrap_riff(_vp8_lossy_chunk(64, 32), b"VP8 ")
    meta = decode_image(4, lossy)
    assert (meta["width"], meta["height"], meta["fmt"]) == (64, 32, "webp")
    # RIFF-prefixed garbage falls back instead of erroring
    fake = decode_image(5, b"RIFF" + b"\x00" * 30)
    assert fake["doc_id"] == 5
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "doc_id BIGINT, payload BINARY"
    )
    [row] = decode_batches(df).collect()
    assert (row.fmt, row.width, row.height, row.n_frames) == ("webp", 8, 6, 1)


# ---------------------------------------------------------------- ALPH
# (r10: real alpha planes for lossy VP8X stills and ANMF frames)


def _forward_alpha_filter(plane: np.ndarray, method: int) -> np.ndarray:
    """Independent FORWARD ALPH filter (container spec 'Alpha' section;
    residual = value - prediction, mod 256) -- written from the spec,
    not from the decoder's inverse, so the pair cannot self-cancel."""
    h, w = plane.shape
    p = plane.astype(np.int32)
    out = np.zeros_like(p)
    for y in range(h):
        for x in range(w):
            if method == 0:
                pred = 0
            elif method == 1:  # horizontal; row start predicts above
                pred = p[y, x - 1] if x else (p[y - 1, 0] if y else 0)
            elif method == 2:  # vertical; first row falls back horizontal
                pred = p[y - 1, x] if y else (p[y, x - 1] if x else 0)
            else:  # gradient
                if y == 0:
                    pred = p[0, x - 1] if x else 0
                elif x == 0:
                    pred = p[y - 1, 0]
                else:
                    g = int(p[y, x - 1]) + int(p[y - 1, x]) - int(p[y - 1, x - 1])
                    pred = 0 if g < 0 else (255 if g > 255 else g)
            out[y, x] = (p[y, x] - pred) & 0xFF
    return out.astype(np.uint8)


def _alpha_test_plane(w: int, h: int) -> np.ndarray:
    ys, xs = np.mgrid[0:h, 0:w]
    plane = ((xs * 7 + ys * 13) % 256).astype(np.uint8)
    plane[: h // 2, : w // 2] = 0  # a fully transparent quadrant
    return plane


def _vp8x_alpha_still(w: int, h: int, alph_body: bytes,
                      image_tag: bytes, image_body: bytes) -> bytes:
    vp8x = bytes([0x10, 0, 0, 0])  # alpha flag
    vp8x += (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    chunks = b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    for tag, body in ((b"ALPH", alph_body), (image_tag, image_body)):
        chunks += tag + struct.pack("<I", len(body)) + body
        if len(body) % 2:
            chunks += b"\x00"
    return (b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks)


@pytest.mark.parametrize("filt", [0, 1, 2, 3])
def test_alph_raw_with_every_filter_roundtrip(filt):
    """Raw (compression 0) ALPH planes under all four pre-compression
    filters decode back to the exact plane, composited onto a REAL
    handcrafted VP8 key frame inside a VP8X still."""
    from tests.test_vp8 import build_frame

    w = h = 16
    plane = _alpha_test_plane(w, h)
    alph = bytes([filt << 2]) + _forward_alpha_filter(plane, filt).tobytes()
    vp8 = build_frame(1, 1, [[0] * 16])
    blob = _vp8x_alpha_still(w, h, alph, b"VP8 ", vp8)
    gw, gh, n, rgba, codec = decode_webp(blob)
    assert (gw, gh, n, codec) == (w, h, 1, "vp8x")
    assert np.array_equal(rgba[..., 3], plane), f"filter {filt}"
    # RGB channels come from the VP8 frame, untouched by ALPH
    ref = decode_webp(_vp8x_alpha_still(w, h, bytes([0]) + b"\xff" * (w * h),
                                        b"VP8 ", vp8))[3]
    assert np.array_equal(rgba[..., :3], ref[..., :3])


def test_alph_headless_vp8l_compression():
    """Compression method 1: the ALPH payload is a HEADLESS VP8L stream
    whose green channel carries alpha -- built with the independent
    spec-written encoder's spatial stage (no signature/dims header)."""
    from tests.test_vp8 import build_frame

    w = h = 16
    plane = _alpha_test_plane(w, h)
    px = [[int(v) << 8 for v in row] for row in plane]  # green channel
    bw = _BW()
    bw.put(0, 1)  # no transforms (a level-0 stream begins with that bit)
    _encode_spatial(bw, px, True)
    alph = bytes([1]) + bw.getvalue()
    vp8 = build_frame(1, 1, [[0] * 16])
    blob = _vp8x_alpha_still(w, h, alph, b"VP8 ", vp8)
    _, _, _, rgba, _ = decode_webp(blob)
    assert np.array_equal(rgba[..., 3], plane)


def test_alph_ignored_for_lossless_still():
    """A lossless (VP8L) still carries its own alpha; an ALPH chunk in
    the same VP8X container must be ignored per the container spec."""
    rng = np.random.RandomState(5)
    rgba = rng.randint(0, 256, size=(8, 8, 4), dtype=np.uint8)
    data, _ = _encode_vp8l(rgba)
    alph = bytes([0]) + b"\x00" * 64  # would zero the alpha if applied
    blob = _vp8x_alpha_still(8, 8, alph, b"VP8L", data)
    _, _, _, got, _ = decode_webp(blob)
    assert np.array_equal(got[..., 3], rgba[..., 3])


def test_alph_malformed_rejected():
    from aws_cloudfront_realtime_monitoring_spark.operators.webp import (
        _decode_alpha_plane,
    )

    with pytest.raises(ValueError, match="empty ALPH"):
        _decode_alpha_plane(b"", 4, 4)
    with pytest.raises(ValueError, match="truncated"):
        _decode_alpha_plane(bytes([0]) + b"\x00" * 7, 4, 4)
    with pytest.raises(ValueError, match="undefined"):
        _decode_alpha_plane(bytes([2]) + b"\x00" * 16, 4, 4)


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    chunk = tag + struct.pack("<I", len(body)) + body
    return chunk + b"\x00" if len(body) % 2 else chunk


def _anmf(sub: bytes, w: int, h: int, x: int = 0, y: int = 0,
          flags: int = 0) -> bytes:
    """One ANMF chunk (container spec 'Animation'): even offset, size,
    100 ms duration, flags (bit 1 = no blend, bit 0 = dispose), then the
    frame's image subchunks ``sub``."""
    head = (x // 2).to_bytes(3, "little") + (y // 2).to_bytes(3, "little")
    head += (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    head += (100).to_bytes(3, "little") + bytes([flags])
    return _riff_chunk(b"ANMF", head + sub)


def _anim_webp(w: int, h: int, anmfs: list, bgra: bytes = bytes(4)) -> bytes:
    """Extended WebP: VP8X (alpha + animation flags), ANIM (background
    color in B, G, R, A byte order, loop count 0), then the frames."""
    vp8x = bytes([0x12, 0, 0, 0])
    vp8x += (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    chunks = (_riff_chunk(b"VP8X", vp8x)
              + _riff_chunk(b"ANIM", bgra + struct.pack("<H", 0))
              + b"".join(anmfs))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def _vp8l_anmf(rgba: np.ndarray, x: int = 0, y: int = 0,
               flags: int = 0) -> bytes:
    h, w = rgba.shape[:2]
    return _anmf(_riff_chunk(b"VP8L", _encode_vp8l(rgba)[0]), w, h, x, y,
                 flags)


def test_alph_animation_frames_composite_real_alpha():
    """An ANMF frame whose subchunks are ALPH + VP8 composites with the
    DECODED alpha: a no-blend frame lands the plane verbatim in the
    canvas, and a source-over second frame with alpha=0 leaves the
    first frame's pixels visible (the pre-r10 behavior blended lossy
    frames at alpha=255, overwriting them)."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        animation_frames,
        composite_frames,
    )
    from tests.test_vp8 import build_frame

    w = h = 16
    plane = _alpha_test_plane(w, h)
    vp8 = _riff_chunk(b"VP8 ", build_frame(1, 1, [[0] * 16]))

    def anmf(alph_body, flags):
        return _anmf(_riff_chunk(b"ALPH", alph_body) + vp8, w, h,
                     flags=flags)

    blob = _anim_webp(w, h, [
        anmf(bytes([0]) + plane.tobytes(), 0x02),  # no-blend
        anmf(bytes([0]) + b"\x00" * (w * h), 0x00),  # alpha-0, blend
    ])
    gw, gh, n, screens = composite_frames(animation_frames(blob))
    assert (gw, gh, n) == (w, h, 2)
    assert np.array_equal(screens[0][..., 3], plane)
    # frame 2 contributes nothing VISIBLE where its alpha is 0: alpha is
    # unchanged and every pixel that remains visible keeps frame 1's RGB
    # (where BOTH alphas are 0 the spec blend forces RGB to 0 -- an
    # invisible, legitimate change)
    assert np.array_equal(screens[1][..., 3], plane)
    vis = plane > 0
    assert np.array_equal(screens[1][vis], screens[0][vis])


def test_sample_animation_frames_reads_animated_webp(spark):
    """The frame sampler reads animated WebP through the same compositor
    as GIF and APNG: five VP8L frames over a non-black ANIM background
    -- a full opaque frame, a blended opaque patch, a no-blend patch
    disposed to the background, a fully transparent blended frame, and
    an offset patch -- sampled at 0, 2 and 4 with exact channel means
    of hand-composited canvases."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        sample_animation_frames,
    )

    W, H = 6, 4
    bg = np.array([40, 30, 20, 255], np.uint8)  # RGBA
    rng = np.random.RandomState(7)

    def solid(h, w, rgb, a=255):
        return np.dstack([np.full((h, w, 3), rgb, np.uint8),
                          np.full((h, w), a, np.uint8)])

    f0 = rng.randint(0, 256, (H, W, 4)).astype(np.uint8)
    f0[..., 3] = 255
    f1, f2 = solid(2, 2, (200, 10, 90)), solid(2, 4, (7, 250, 33))
    f3, f4 = solid(H, W, (99, 99, 99), a=0), solid(2, 2, (1, 2, 3))
    blob = _anim_webp(W, H, [
        _vp8l_anmf(f0),
        _vp8l_anmf(f1, x=2, y=2),
        _vp8l_anmf(f2, x=2, y=0, flags=0x03),  # no blend, then dispose
        _vp8l_anmf(f3),  # blended at alpha 0: changes nothing
        _vp8l_anmf(f4, x=4, y=0),
    ], bgra=bytes([bg[2], bg[1], bg[0], bg[3]]))
    shown1 = f0.copy()
    shown1[2:4, 2:4] = f1
    want = {0: f0, 2: shown1.copy(), 4: shown1.copy()}
    want[2][0:2, 2:6] = f2
    want[4][0:2, 2:6] = bg  # frame 2's dispose
    want[4][0:2, 4:6] = f4
    df = spark.createDataFrame([(1, bytearray(blob))],
                               "doc_id BIGINT, payload BINARY")
    got = sorted(sample_animation_frames(df, n_samples=3,
                                         skip_invalid=False).collect(),
                 key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in got] == [0, 2, 4]
    for r in got:
        means = want[r.frame_idx][..., :3].reshape(-1, 3).mean(axis=0)
        assert (r.mean_r, r.mean_g, r.mean_b) == tuple(
            int(v) for v in means.round())
        assert (r.n_frames, r.width, r.height) == (5, W, H)


def test_lossy_still_count_and_frame_decode_agree():
    """r11 review: a plain lossy (VP8) still is one frame, so the frame
    source must decode it as its own single frame too -- the sampler was
    rejecting the payload."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        animation_frames,
        composite_frames,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.webp import (
        decode_webp,
    )
    from tests.test_vp8 import build_frame

    blob = _wrap_riff(build_frame(1, 1, [[0] * 16]), b"VP8 ")
    fw, fh, fn, screens = composite_frames(animation_frames(blob), {0})
    assert (fw, fh, fn) == (16, 16, 1) and len(screens) == 1
    _w, _h, _n, still, _codec = decode_webp(blob)
    np.testing.assert_array_equal(screens[0], still)


def test_vp8l_max_symbol_over_alphabet_rejected():
    """r11 review: libwebp's ReadHuffmanCodeLengths treats a use-length
    max_symbol larger than the alphabet as a bitstream error; accepting
    it would decode streams the reference decoder refuses."""
    from aws_cloudfront_realtime_monitoring_spark.operators.webp import (
        _Bits,
        _Prefix,
        _read_code_lengths,
    )

    # 1 (use length_nbits) + 111 (nbits=8 -> 2+2*7=16) + 16 bits of
    # all-ones -> max_symbol = 2 + 65535, far past any alphabet
    bits = bytearray()
    val = 1 | (0b111 << 1) | (0xFFFF << 4)
    for i in range(0, 24, 8):
        bits.append((val >> i) & 0xFF)
    cl = _Prefix([1, 1])  # any 2-symbol code-length table
    with pytest.raises(ValueError, match="max_symbol"):
        _read_code_lengths(_Bits(bytes(bits)), cl, 280)


def test_alpha_plane_differential_vs_libwebp():
    """Lossy-with-alpha through the REAL encoder: libwebp wraps VP8 +
    ALPH (lossless-compressed by default) in VP8X; our decoded alpha
    channel must match libwebp's own RGBA decode BIT-EXACTLY (alpha
    passes through no colorspace math, unlike the RGB channels whose
    upsampler differs by documented design)."""
    import ctypes
    import ctypes.util

    name = ctypes.util.find_library("webp")
    if not name:
        pytest.skip("libwebp shared library not present")
    lib = ctypes.CDLL(name)
    lib.WebPEncodeRGBA.restype = ctypes.c_size_t
    lib.WebPEncodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
    ]
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.WebPDecodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]
    lib.WebPFree.argtypes = [ctypes.c_void_p]
    rng = np.random.RandomState(7)
    for w, h in [(16, 16), (33, 29), (7, 3), (50, 50)]:
        img = rng.randint(0, 256, (h, w, 4), dtype=np.uint8)
        ys, xs = np.mgrid[0:h, 0:w]
        img[..., 3] = ((xs * 255) // max(w - 1, 1)).astype(np.uint8)
        img[: h // 2, : w // 2, 3] = 0
        out = ctypes.POINTER(ctypes.c_uint8)()
        n = lib.WebPEncodeRGBA(img.tobytes(), w, h, w * 4, 75.0,
                               ctypes.byref(out))
        assert n > 0
        payload = ctypes.string_at(out, n)
        lib.WebPFree(out)
        assert b"ALPH" in payload, "encoder did not emit an alpha chunk"
        W, H = ctypes.c_int(), ctypes.c_int()
        rp = lib.WebPDecodeRGBA(payload, len(payload),
                                ctypes.byref(W), ctypes.byref(H))
        assert rp
        ref = np.ctypeslib.as_array(rp, shape=(H.value, W.value, 4)).copy()
        lib.WebPFree(rp)
        gw, gh, nf, rgba, codec = decode_webp(payload)
        assert (gw, gh, nf, codec) == (w, h, 1, "vp8x")
        assert np.array_equal(rgba[..., 3], ref[..., 3]), (w, h)


def test_vp8l_synth_encoder_roundtrips_exactly():
    """r17 (r16 verdict #4): media_synth's spec-written VP8L encoder
    (full prefix codes + code-length zero runs for g/r/b, simple codes
    for alpha/distance) must decode to EXACTLY the module formulas'
    pixels through the real decoder — the GIF _gif_lzw discipline
    applied to the last decoder family without a pixel-content oracle.
    Sweeps doc_ids covering every (w, h) residue, base wrap (239/240),
    and zero-run shapes (literal 0s, 17-runs, chained 18-runs)."""
    import numpy as np

    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        vp8l_webp_payload,
        webp_channel_bases,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.webp import (
        decode_webp,
        webp_frames,
    )

    for doc_id in list(range(60)) + [239, 240, 1234, 99999]:
        p = vp8l_webp_payload(doc_id)
        w, h, n, rgba, codec = decode_webp(p)
        assert (codec, n) == ("vp8l", 1)
        anim = webp_frames(p)
        assert (anim.width, anim.height, len(anim.frames)) == (w, h, 1)
        W, H = doc_id % 20 + 4, doc_id % 14 + 4
        assert (w, h) == (W, H)
        gb, rb, bb = webp_channel_bases(doc_id)
        xs = np.arange(W)[None, :]
        ys = np.arange(H)[:, None]
        want = np.stack([
            (rb + (2 * xs + ys) % 16) + 0 * ys,
            (gb + (xs + ys) % 16) + 0 * ys,
            (bb + (xs + 3 * ys) % 16) + 0 * ys,
            np.broadcast_to(np.uint8(255), (H, W)),
        ], axis=2).astype(np.uint8)
        assert np.array_equal(rgba, want), doc_id


def test_vp8l_synth_pixel_stats_contract():
    """decode_pixel_stats' WebP branch: fmt/n_ch/sums match an
    independent integer recomputation (what the SQL oracle does), and
    an animated canvas is a ValueError, not a bogus stats row."""
    import numpy as np

    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        vp8l_webp_payload,
        webp_channel_bases,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_pixel_stats,
    )

    for doc_id in (0, 7, 39, 239):
        st = decode_pixel_stats(vp8l_webp_payload(doc_id))
        W, H = doc_id % 20 + 4, doc_id % 14 + 4
        gb, rb, bb = webp_channel_bases(doc_id)
        s = ws = 0
        for y in range(H):
            for x in range(W):
                c = (gb + (x + y) % 16 + rb + (2 * x + y) % 16
                     + bb + (x + 3 * y) % 16 + 255)
                s += c
                ws += (y * W + x + 1) * c
        assert st == {"fmt": "webp", "width": W, "height": H, "n_ch": 4,
                      "sum_px": s, "wsum_px": ws, "n_px": W * H}


def test_vp8l_synth_container_mutation_fuzz():
    """r17: the media_synth encoder's RIFF containers under the same
    decode-or-ValueError contract as the golden-encoder fuzz — byte
    flips and truncations of a full WebP file must never escape
    decode_webp as anything but a clean ValueError."""
    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        vp8l_webp_payload,
    )
    from aws_cloudfront_realtime_monitoring_spark.operators.webp import (
        decode_webp,
    )

    rng = np.random.RandomState(41)
    base = vp8l_webp_payload(137)
    for _ in range(300):
        blob = bytearray(base)
        for _f in range(rng.randint(1, 6)):
            blob[rng.randint(0, len(blob))] = rng.randint(0, 256)
        if rng.rand() < 0.5:
            blob = blob[: rng.randint(1, len(blob))]
        try:
            _w, _h, _n, px, _codec = decode_webp(bytes(blob))
            assert px is None or px.dtype == np.uint8
        except ValueError:
            pass


def test_prefix_fast_table_matches_bitwalk_decode():
    """r17: _Prefix.read resolves short codes through a primary table
    (one peek + lookup) with a per-bit canonical-walk fallback. Forcing
    the table width to 0 disables the fast path entirely; every synth
    payload must decode to identical pixels either way, so the table
    provably changes nothing about decoded output."""
    from aws_cloudfront_realtime_monitoring_spark.operators import webp as webp_mod
    from aws_cloudfront_realtime_monitoring_spark.operators.media_synth import (
        vp8l_webp_payload,
    )

    payloads = [vp8l_webp_payload(i) for i in range(40)]
    fast = [webp_mod.decode_webp(p) for p in payloads]
    old = webp_mod._Prefix.FAST_BITS_MAX
    webp_mod._Prefix.FAST_BITS_MAX = 0
    try:
        slow = [webp_mod.decode_webp(p) for p in payloads]
    finally:
        webp_mod._Prefix.FAST_BITS_MAX = old
    for (wf, hf, nf, pxf, cf), (ws, hs, ns, pxs, cs) in zip(fast, slow):
        assert (wf, hf, nf, cf) == (ws, hs, ns, cs)
        assert (pxf == pxs).all()


def test_prefix_memo_purity_and_error_paths():
    """r18: _Prefix construction is memoized by (table width, lengths).
    Pin the memo's contract: identical lengths return the identical
    decoder object (pure function), invalid lengths raise EVERY call
    (never cached), the table-off A/B sees width-specific entries, and
    cap overflow clears rather than grows."""
    import pytest

    from aws_cloudfront_realtime_monitoring_spark.operators import webp as W

    W._PREFIX_MEMO.clear()
    lens = [0] * 256
    for s in range(16):
        lens[s] = 4
    p1 = W._prefix_for(lens)
    p2 = W._prefix_for(list(lens))
    assert p1 is p2  # pure-function memo hit
    # invalid (Kraft-incomplete) lengths raise on every call and leave
    # nothing behind
    bad = [0] * 256
    bad[0] = bad[1] = 2  # two len-2 codes: Kraft sum 1/2, incomplete
    for _ in range(2):
        with pytest.raises(ValueError, match="complete"):
            W._prefix_for(bad)
    assert all(k[1] != tuple(bad) for k in W._PREFIX_MEMO)
    # a different table width is a different entry (the table-off
    # parity test flips FAST_BITS_MAX and must not hit stale tables)
    old = W._Prefix.FAST_BITS_MAX
    try:
        W._Prefix.FAST_BITS_MAX = 0
        p0 = W._prefix_for(lens)
        assert p0 is not p1 and p0.fast_bits == 0
    finally:
        W._Prefix.FAST_BITS_MAX = old
    # overflow clears (bounded memory), then refills
    try:
        W._PREFIX_MEMO_CAP_SAVED = W._PREFIX_MEMO_CAP
        W._PREFIX_MEMO_CAP = 2
        W._PREFIX_MEMO.clear()
        W._prefix_for(lens)
        lens2 = [0] * 256
        for s in range(8, 24):
            lens2[s] = 4
        W._prefix_for(lens2)
        lens3 = [0] * 256
        for s in range(32, 48):
            lens3[s] = 4
        W._prefix_for(lens3)
        assert len(W._PREFIX_MEMO) <= 2
    finally:
        W._PREFIX_MEMO_CAP = W._PREFIX_MEMO_CAP_SAVED
        del W._PREFIX_MEMO_CAP_SAVED
        W._PREFIX_MEMO.clear()
