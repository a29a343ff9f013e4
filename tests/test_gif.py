"""GIF decoder tests: golden bytes from an independent spec-written
encoder (real LZW compression with table growth, sub-block framing,
interlace reordering, multi-frame animation)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from aws_cloudfront_realtime_monitoring_spark.operators.gif import (
    decode_gif,
    gif_frames,
)
from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
    composite_frames,
)

#: GIF89a Appendix E interlace passes, spelled HERE from the spec (NOT
#: imported from the decoder): pass 1 every 8th row from row 0, pass 2
#: every 8th from row 4, pass 3 every 4th from row 2, pass 4 every 2nd
#: from row 1.  Importing the decoder's table would self-cancel a wrong
#: table in both encoder and decoder.
_SPEC_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """Real GIF LZW (grows the code table, widens codes, honors the
    12-bit cap with a CLEAR reset) -- written from the spec."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out_codes: list[tuple[int, int]] = []  # (code, width at emit time)
    width = min_code_size + 1
    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    out_codes.append((clear, width))
    buf: tuple = ()
    for k in indices:
        cand = buf + (k,)
        if cand in table:
            buf = cand
            continue
        out_codes.append((table[buf], width))
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            out_codes.append((clear, width))
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        buf = (k,)
    if buf:
        out_codes.append((table[buf], width))
    out_codes.append((eoi, width))
    acc = nbits = 0
    data = bytearray()
    for code, w in out_codes:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    return bytes(data)


def _blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _frame(idx: np.ndarray, left: int = 0, top: int = 0,
           interlace: bool = False, min_code: int | None = None) -> bytes:
    h, w = idx.shape
    if interlace:
        rows = []
        for start, step in _SPEC_INTERLACE:
            rows.extend(range(start, h, step))
        idx = idx[rows]
    mc = min_code if min_code is not None else max(2, int(idx.max()).bit_length())
    packed = 0x40 if interlace else 0x00
    return (
        b"\x2c" + struct.pack("<HHHH", left, top, w, h) + bytes([packed])
        + bytes([mc]) + _blocks(_lzw_encode(list(idx.reshape(-1)), mc))
    )


def _frames(blob: bytes, keep: set | None = None):
    """(width, height, n_frames, kept screens) through the compositor."""
    return composite_frames(gif_frames(blob), keep)


def _make_gif(frames: list[bytes], palette: np.ndarray, w: int, h: int,
              with_ext: bool = False) -> bytes:
    n = len(palette)
    size_field = max(1, (n - 1).bit_length()) - 1
    padded = np.zeros((2 ** (size_field + 1), 3), np.uint8)
    padded[:n] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | size_field, 0, 0])
    out += padded.tobytes()
    for f in frames:
        if with_ext:  # graphic-control extension before each frame
            out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        out += f
    out += b"\x3b"
    return bytes(out)


def test_gif_single_frame_roundtrip_exact():
    rng = np.random.RandomState(61)
    pal = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, size=(11, 13), dtype=np.uint8)
    blob = _make_gif([_frame(idx)], pal, 13, 11)
    w, h, n, px = decode_gif(blob)
    assert (w, h, n) == (13, 11, 1)
    np.testing.assert_array_equal(px, pal[idx])


def test_gif_lzw_table_growth_large_image():
    """A larger noisy image forces the LZW table through several width
    increases (and possibly a 4096 reset) -- the real compression path,
    not the trivial literal-per-pixel one."""
    rng = np.random.RandomState(67)
    pal = rng.randint(0, 256, size=(64, 3), dtype=np.uint8)
    idx = rng.randint(0, 64, size=(60, 80), dtype=np.uint8)
    w, h, n, px = decode_gif(_make_gif([_frame(idx)], pal, 80, 60))
    assert (w, h, n) == (80, 60, 1)
    np.testing.assert_array_equal(px, pal[idx])


def test_gif_interlaced_rows_reorder():
    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
                   np.uint8)
    idx = (np.arange(9)[:, None] % 4 * np.ones((1, 5), int)).astype(np.uint8)
    blob = _make_gif([_frame(idx, interlace=True)], pal, 5, 9)
    w, h, n, px = decode_gif(blob)
    np.testing.assert_array_equal(px, pal[idx])


def test_gif_animation_counts_frames_and_ext_blocks_skip():
    rng = np.random.RandomState(71)
    pal = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
    f1 = rng.randint(0, 8, size=(6, 6), dtype=np.uint8)
    f2 = rng.randint(0, 8, size=(3, 4), dtype=np.uint8)
    f3 = rng.randint(0, 8, size=(2, 2), dtype=np.uint8)
    blob = _make_gif(
        [_frame(f1), _frame(f2, left=1, top=2), _frame(f3, left=4, top=3)],
        pal, 6, 6, with_ext=True,
    )
    w, h, n, px = decode_gif(blob)
    assert (w, h, n) == (6, 6, 3)
    np.testing.assert_array_equal(px, pal[f1])  # first frame rendered


def test_gif_rejects_malformed():
    rng = np.random.RandomState(73)
    pal = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.randint(0, 4, size=(4, 4), dtype=np.uint8)
    good = _make_gif([_frame(idx)], pal, 4, 4)
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a\x00")                 # truncated header
    with pytest.raises(ValueError):
        decode_gif(good[:-6])                      # truncated stream
    with pytest.raises(ValueError):
        decode_gif(b"JIF89a" + good[6:])           # bad magic
    # a frame larger than the logical screen is rejected
    with pytest.raises(ValueError):
        decode_gif(_make_gif([_frame(idx)], pal, 3, 3))


def test_gif_through_decode_image_and_mapinpandas(spark):
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        decode_batches,
        decode_image,
    )

    rng = np.random.RandomState(79)
    pal = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
    frames = [
        _frame(rng.randint(0, 8, size=(7, 9), dtype=np.uint8))
        for _ in range(4)
    ]
    blob = _make_gif(frames, pal, 9, 7, with_ext=True)
    meta = decode_image(2, blob)
    assert meta == {
        "doc_id": 2, "n_bytes": len(blob), "width": 9, "height": 7,
        "n_frames": 4, "fmt": "gif",
    }
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "doc_id BIGINT, payload BINARY"
    )
    [row] = decode_batches(df).collect()
    assert (row.fmt, row.width, row.height, row.n_frames) == ("gif", 9, 7, 4)


def test_gif_frame_compositing_and_sampling(spark):
    """Multi-frame compositing is exact (later frames draw over the
    running screen) and the REAL frame-sampling op emits evenly-spaced
    frames whose mean colors match numpy computed on the composited
    screens."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        sample_animation_frames,
    )

    pal = np.array([[10, 20, 30], [200, 100, 0], [0, 0, 250], [90, 90, 90]],
                   np.uint8)
    # frame 1 fills the 4x4 screen with color 0; later frames paint
    # sub-rects -- compositing must keep the untouched background
    f1 = np.zeros((4, 4), np.uint8)
    f2 = np.full((2, 2), 1, np.uint8)
    f3 = np.full((1, 4), 2, np.uint8)
    f4 = np.full((4, 1), 3, np.uint8)
    blob = _make_gif(
        [_frame(f1), _frame(f2, left=2, top=2), _frame(f3, top=0),
         _frame(f4, left=0)],
        pal, 4, 4, with_ext=True,
    )
    w, h, _n, screens = _frames(blob)
    assert (w, h, len(screens)) == (4, 4, 4)
    expect = np.zeros((4, 4, 3), np.uint8)
    expect[:, :] = pal[0]
    np.testing.assert_array_equal(screens[0], expect)
    expect[2:4, 2:4] = pal[1]
    np.testing.assert_array_equal(screens[1], expect)
    expect[0, :] = pal[2]
    np.testing.assert_array_equal(screens[2], expect)
    expect[:, 0] = pal[3]
    np.testing.assert_array_equal(screens[3], expect)
    # keep_indices trims the composite list but still counts all
    _w, _h, n, two = _frames(blob, {0, 1})
    assert (n, len(two)) == (4, 2)

    df = spark.createDataFrame(
        [(9, bytearray(blob))], "doc_id BIGINT, payload BINARY"
    )
    got = sorted(
        sample_animation_frames(df, n_samples=3).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in got] == [0, 2, 3]  # evenly spaced of 4
    for r in got:
        mr, mg, mb = screens[r.frame_idx].reshape(-1, 3).mean(0).round()
        assert (r.mean_r, r.mean_g, r.mean_b) == (int(mr), int(mg), int(mb))
        assert (r.n_frames, r.width, r.height) == (4, 4, 4)


def test_gif_roundtrip_property():
    """Property: ANY palette image (1x1 up to 9x8, palette of 2-64
    colors, interlaced or not, any min-code-size within spec) encodes
    and decodes back bit-exactly. Catches LZW boundary cases the fixed
    goldens cannot (single-pixel images, palette-sized alphabets, code
    widths straddling sub-block boundaries)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(1, 8).flatmap(lambda h: st.tuples(
            st.just(h),
            st.integers(1, 9),
            st.integers(2, 64),
            st.booleans(),
            st.integers(0, 2**32 - 1),
        ))
    )
    def check(args):
        h, w, ncol, interlace, seed = args
        rng = np.random.RandomState(seed)
        pal = rng.randint(0, 256, size=(ncol, 3), dtype=np.uint8)
        idx = rng.randint(0, ncol, size=(h, w), dtype=np.uint8)
        blob = _make_gif([_frame(idx, interlace=interlace)], pal, w, h)
        gw, gh, n, px = decode_gif(blob)
        assert (gw, gh, n) == (w, h, 1)
        np.testing.assert_array_equal(px, pal[idx])

    check()


def _gce(disposal: int = 0, t_idx: int | None = None) -> bytes:
    """Graphic Control Extension bytes (GIF89a section 23)."""
    packed = ((disposal & 7) << 2) | (1 if t_idx is not None else 0)
    return b"\x21\xf9\x04" + bytes([packed, 0, 0, t_idx or 0]) + b"\x00"


def test_gif_gce_transparency_leaves_underlying_screen():
    """Transparency-delta animation (the common GIF89a encoding): pixels
    equal to the GCE transparent index must NOT overwrite the running
    screen with a palette color."""

    pal = np.array([[10, 20, 30], [200, 100, 0], [0, 0, 250], [90, 90, 90]],
                   np.uint8)
    f1 = np.zeros((4, 4), np.uint8)  # fill with color 0
    f2 = np.array([[1, 3], [3, 1]], np.uint8)  # 3 = transparent index
    blob = _make_gif(
        [_frame(f1), _gce(t_idx=3) + _frame(f2, left=1, top=1)], pal, 4, 4
    )
    w, h, _n, screens = _frames(blob)
    assert (w, h, len(screens)) == (4, 4, 2)
    expect = np.zeros((4, 4, 3), np.uint8)
    expect[:, :] = pal[0]
    np.testing.assert_array_equal(screens[0], expect)
    expect[1, 1] = pal[1]
    expect[2, 2] = pal[1]
    # (1,2) and (2,1) were transparent: underlying pal[0] survives
    np.testing.assert_array_equal(screens[1], expect)


def test_gif_gce_disposal_background_and_previous():
    """Disposal 2 restores the frame's rect to the background color,
    disposal 3 restores it to the pre-frame content, both BEFORE the
    next frame draws."""

    pal = np.array([[10, 20, 30], [200, 100, 0], [0, 0, 250], [90, 90, 90]],
                   np.uint8)
    fill = _frame(np.full((4, 4), 1, np.uint8))
    rect = np.full((2, 2), 2, np.uint8)
    dot = _frame(np.full((1, 1), 3, np.uint8), left=3, top=3)

    # disposal 2: rect area -> background (index 0 in _make_gif)
    blob = _make_gif(
        [fill, _gce(disposal=2) + _frame(rect, left=0, top=0), dot],
        pal, 4, 4,
    )
    _w, _h, _n, screens = _frames(blob)
    expect = np.zeros((4, 4, 3), np.uint8)
    expect[:, :] = pal[1]
    expect[0:2, 0:2] = pal[2]
    np.testing.assert_array_equal(screens[1], expect)  # rect shown at k=2
    expect[0:2, 0:2] = pal[0]  # then restored to background
    expect[3, 3] = pal[3]
    np.testing.assert_array_equal(screens[2], expect)

    # disposal 3: rect area -> previous content (pal[1] from the fill)
    blob = _make_gif(
        [fill, _gce(disposal=3) + _frame(rect, left=1, top=1), dot],
        pal, 4, 4,
    )
    _w, _h, _n, screens = _frames(blob)
    expect = np.zeros((4, 4, 3), np.uint8)
    expect[:, :] = pal[1]
    expect[1:3, 1:3] = pal[2]
    np.testing.assert_array_equal(screens[1], expect)
    expect[1:3, 1:3] = pal[1]  # restored to what was under the frame
    expect[3, 3] = pal[3]
    np.testing.assert_array_equal(screens[2], expect)


def test_animation_frames_null_payload_skipped(spark):
    """A NULL payload (ingest gap) must be dropped by skip_invalid, not
    TypeError-kill the task (bytes(None) is not a ValueError)."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        sample_animation_frames,
    )

    pal = np.array([[10, 20, 30], [200, 100, 0]], np.uint8)
    blob = _make_gif([_frame(np.zeros((2, 2), np.uint8))], pal, 2, 2)
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, None)], "doc_id BIGINT, payload BINARY"
    )
    got = sample_animation_frames(df).collect()
    assert {r.doc_id for r in got} == {1}


def test_gif_frames_beyond_last_kept_are_not_decoded():
    """decode_gif (keep=1) on a multi-frame file must not pay LZW +
    composite for frames after the first: a frame with CORRUPT LZW data
    past the kept index still counts (block walk) without raising,
    while requesting that frame decodes it and fails."""

    pal = np.array([[10, 20, 30], [200, 100, 0]], np.uint8)
    f1 = _frame(np.zeros((2, 2), np.uint8))
    # structurally valid frame whose LZW payload is garbage
    bad = (b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2) + b"\x00"
           + b"\x02" + bytes([3, 0xFF, 0xFF, 0xFF]) + b"\x00")
    blob = _make_gif([f1, bad], pal, 2, 2)
    w, h, n, first = decode_gif(blob)  # frame 2 never decodes
    assert (w, h, n) == (2, 2, 2)
    np.testing.assert_array_equal(first[0, 0], pal[0])
    with pytest.raises(ValueError):  # decoding frame 2 surfaces the rot
        _frames(blob, {1})

def test_gif_default_cap_refuses_rather_than_trims():
    """Compositing with no keep_indices refuses a file longer than
    DEFAULT_MAX_FRAMES (r11 advice: the old behavior silently returned
    256 of N screens); explicit picks still work."""
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import (
        DEFAULT_MAX_FRAMES,
    )

    pal = np.array([[1, 2, 3], [4, 5, 6]], np.uint8)
    one = _frame(np.zeros((1, 1), np.uint8))
    blob = _make_gif([one] * (DEFAULT_MAX_FRAMES + 1), pal, 1, 1)
    with pytest.raises(ValueError, match="default retention cap"):
        _frames(blob)
    # explicit bounds and explicit picks are unaffected
    _w, _h, n, screens = _frames(blob, {0, 1, 2})
    assert (n, len(screens)) == (DEFAULT_MAX_FRAMES + 1, 3)
    _w, _h, _n, screens = _frames(blob, {DEFAULT_MAX_FRAMES})
    assert len(screens) == 1
    # at exactly the cap, the default decodes everything
    blob_ok = _make_gif([one] * DEFAULT_MAX_FRAMES, pal, 1, 1)
    _w, _h, _n, screens = _frames(blob_ok)
    assert len(screens) == DEFAULT_MAX_FRAMES
