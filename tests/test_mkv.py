"""Matroska/WebM metadata parser tests: golden bytes from an
INDEPENDENT EBML builder written from RFC 8794 + the Matroska element
spec (varint encoding, element nesting, float Duration -- spelled here
from the spec text, not from the parser under test)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from aws_cloudfront_realtime_monitoring_spark.operators.mkv import (
    is_webm,
    parse_webm_meta,
)


def _vint_size(value: int, width: int | None = None) -> bytes:
    """Encode a size varint: marker bit at position 7*n, value below."""
    n = width or 1
    while value >= (1 << (7 * n)) - 1:
        n += 1
    return ((1 << (7 * n)) | value).to_bytes(n, "big")


def _el(stored_id: int, body: bytes, size_width: int | None = None) -> bytes:
    eid = stored_id.to_bytes((stored_id.bit_length() + 7) // 8, "big")
    return eid + _vint_size(len(body), size_width) + body


def _uint_el(stored_id: int, v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return _el(stored_id, v.to_bytes(n, "big"))


def _ebml_header(doctype: bytes = b"webm") -> bytes:
    return _el(0x1A45DFA3, _el(0x4282, doctype))


def _video_track(codec: bytes, w: int, h: int) -> bytes:
    video = _uint_el(0xB0, w) + _uint_el(0xBA, h)
    return _el(0xAE, _uint_el(0x83, 1) + _el(0x86, codec)
               + _el(0xE0, video))


def _audio_track(codec: bytes) -> bytes:
    return _el(0xAE, _uint_el(0x83, 2) + _el(0x86, codec))


def make_webm(tracks: list[bytes], tscale: int = 1_000_000,
              duration_ticks: float | None = 4500.0,
              doctype: bytes = b"webm",
              unknown_segment_size: bool = False) -> bytes:
    info = _uint_el(0x2AD7B1, tscale)
    if duration_ticks is not None:
        info += _el(0x4489, struct.pack(">d", duration_ticks))
    body = _el(0x1549A966, info) + _el(0x1654AE6B, b"".join(tracks))
    body += _el(0x1F43B675, b"\x00" * 32)  # a Cluster: skipped bulk
    if unknown_segment_size:
        seg = (0x18538067).to_bytes(4, "big") + b"\x01" + b"\xff" * 7 + body
    else:
        seg = _el(0x18538067, body)
    return _ebml_header(doctype) + seg


def test_webm_video_metadata():
    blob = make_webm([_video_track(b"V_VP9", 1280, 720)])
    assert is_webm(blob)
    meta = parse_webm_meta(blob)
    assert meta == {"width": 1280, "height": 720, "n_frames": 0,
                    "codec": "V_VP9", "duration_ms": 4500,
                    "doctype": "webm"}


def test_webm_unknown_segment_size_and_custom_scale():
    """Streamed files write the Segment with an all-ones 'unknown'
    size; TimestampScale in ns scales the float Duration."""
    blob = make_webm([_video_track(b"V_AV1", 640, 360)],
                     tscale=500_000, duration_ticks=6000.0,
                     unknown_segment_size=True)
    meta = parse_webm_meta(blob)
    assert (meta["width"], meta["height"], meta["codec"]) == (640, 360, "V_AV1")
    assert meta["duration_ms"] == 3000  # 6000 ticks x 0.5 ms


def test_mkv_doctype_and_audio_only():
    blob = make_webm([_audio_track(b"A_OPUS")], doctype=b"matroska")
    meta = parse_webm_meta(blob)
    assert meta["doctype"] == "matroska"
    assert meta["codec"] == "A_OPUS"
    assert meta["width"] == 0 and meta["height"] == 0


def test_webm_video_track_wins_over_audio():
    blob = make_webm([_audio_track(b"A_OPUS"),
                      _video_track(b"V_VP8", 320, 240)])
    meta = parse_webm_meta(blob)
    assert (meta["width"], meta["height"], meta["codec"]) == (320, 240, "V_VP8")


def test_webm_malformed_rejected():
    good = make_webm([_video_track(b"V_VP9", 64, 48)])
    with pytest.raises(ValueError):
        parse_webm_meta(b"not ebml")
    with pytest.raises(ValueError):
        parse_webm_meta(good[: len(good) // 2])  # truncated mid-element
    # element escaping its parent: corrupt an inner size upward
    bad = bytearray(good)
    at = bytes(bad).find(b"\x15\x49\xa9\x66") + 4  # Info's size varint
    bad[at] = 0xFE  # size 126 > remaining parent space (0xFF = unknown)
    with pytest.raises(ValueError, match="escapes|truncated"):
        parse_webm_meta(bytes(bad))
    # depth bomb
    bomb = b"x"
    for _ in range(40):
        bomb = _el(0x18538067, bomb)
    with pytest.raises(ValueError, match="depth|escapes|truncated"):
        parse_webm_meta(_ebml_header() + bomb)


def test_webm_through_decode_image_surface():
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import decode_image

    blob = make_webm([_video_track(b"V_VP9", 1280, 720)])
    meta = decode_image(11, blob)
    assert meta == {"doc_id": 11, "n_bytes": len(blob), "width": 1280,
                    "height": 720, "n_frames": 0, "fmt": "webm"}
    mkv = make_webm([_video_track(b"V_MPEG4/ISO/AVC", 320, 240)],
                    doctype=b"matroska")
    assert decode_image(12, mkv)["fmt"] == "mkv"


def test_webm_mutation_fuzz_valueerror_only():
    rng = np.random.RandomState(163)
    good = bytearray(make_webm([_video_track(b"V_VP9", 64, 48)]))
    for _ in range(400):
        blob = bytearray(good)
        for _ in range(rng.randint(1, 6)):
            blob[rng.randint(4, len(blob))] = rng.randint(0, 256)
        try:
            parse_webm_meta(bytes(blob))
        except ValueError:
            pass


def test_webm_long_cluster_tail_parses():
    """r11 review: the element cap counted every skipped Cluster, so a
    legal long recording (thousands of clusters) was rejected; the walk
    now stops once Info + Tracks are committed."""
    blob = make_webm([_video_track(b"V_VP9", 64, 48)])
    tail = _el(0x1F43B675, b"\x00" * 16) * 5000
    # splice the clusters inside the Segment: rebuild with a raw append
    # (the Segment in make_webm is sized, so append AFTER it at the top
    # level -- stray top-level clusters, which real streamed files have)
    meta = parse_webm_meta(blob + tail)
    assert (meta["width"], meta["height"]) == (64, 48)
