"""MP4/ISO-BMFF metadata parser tests: golden bytes from an INDEPENDENT
box builder written from ISO/IEC 14496-12 (box layout, full-box
version/flags, tkhd 16.16 fixed-point dims, VisualSampleEntry offsets --
spelled here from the spec text, not from the parser under test)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from aws_cloudfront_realtime_monitoring_spark.operators.mp4 import (
    is_mp4,
    parse_mp4_meta,
)


def _box(btype: bytes, body: bytes, large: bool = False) -> bytes:
    if large:
        return struct.pack(">I", 1) + btype + struct.pack(">Q", 16 + len(body)) + body
    return struct.pack(">I", 8 + len(body)) + btype + body


def _full(btype: bytes, version: int, body: bytes, **kw) -> bytes:
    return _box(btype, bytes([version, 0, 0, 0]) + body, **kw)


def _ftyp(brand: bytes = b"isom") -> bytes:
    return _box(b"ftyp", brand + struct.pack(">I", 0) + b"isomiso2")


def _mvhd(timescale: int, duration: int, version: int = 0) -> bytes:
    if version == 1:
        body = struct.pack(">QQIQ", 0, 0, timescale, duration)
    else:
        body = struct.pack(">IIII", 0, 0, timescale, duration)
    # rate, volume + reserved, matrix, pre_defined, next_track_ID
    body += struct.pack(">IHH", 0x00010000, 0x0100, 0) + b"\x00" * 8
    body += b"\x00" * 36 + b"\x00" * 24 + struct.pack(">I", 2)
    return _full(b"mvhd", version, body)


def _tkhd(w: int, h: int, version: int = 0) -> bytes:
    if version == 1:
        body = struct.pack(">QQI", 0, 0, 1) + b"\x00" * 4 + struct.pack(">Q", 0)
    else:
        body = struct.pack(">III", 0, 0, 1) + b"\x00" * 4 + struct.pack(">I", 0)
    body += b"\x00" * 8  # reserved
    body += struct.pack(">HHHH", 0, 0, 0, 0)  # layer, group, volume, rsv
    body += b"\x00" * 36  # matrix
    body += struct.pack(">II", w << 16, h << 16)  # 16.16 fixed point
    return _full(b"tkhd", version, body)


def _hdlr(handler: bytes) -> bytes:
    return _full(b"hdlr", 0, struct.pack(">I", 0) + handler
                 + b"\x00" * 12 + b"x\x00")


def _visual_entry(fourcc: bytes, w: int, h: int) -> bytes:
    # SampleEntry: 6 reserved + u16 data_reference_index
    body = b"\x00" * 6 + struct.pack(">H", 1)
    # VisualSampleEntry: pre_defined, reserved, pre_defined[3]
    body += struct.pack(">HH", 0, 0) + b"\x00" * 12
    body += struct.pack(">HH", w, h)  # width, height
    body += struct.pack(">II", 0x00480000, 0x00480000)  # dpi 72.0
    body += struct.pack(">I", 0)  # reserved
    body += struct.pack(">H", 1)  # frame_count
    body += b"\x00" * 32  # compressorname
    body += struct.pack(">Hh", 24, -1)  # depth, pre_defined
    return _box(fourcc, body)


def _audio_entry(fourcc: bytes) -> bytes:
    body = b"\x00" * 6 + struct.pack(">H", 1)
    body += b"\x00" * 8 + struct.pack(">HHHH", 2, 16, 0, 0)
    body += struct.pack(">I", 44100 << 16)
    return _box(fourcc, body)


def _stsd(entry: bytes) -> bytes:
    return _full(b"stsd", 0, struct.pack(">I", 1) + entry)


def _stsz(n_samples: int) -> bytes:
    return _full(b"stsz", 0, struct.pack(">II", 0, n_samples)
                 + b"".join(struct.pack(">I", 100) for _ in range(n_samples)))


def _trak(handler: bytes, entry: bytes, n_samples: int, w: int = 0,
          h: int = 0, tkhd_version: int = 0) -> bytes:
    stbl = _box(b"stbl", _stsd(entry) + _stsz(n_samples))
    mdia = _box(b"mdia", _hdlr(handler) + _box(b"minf", stbl))
    return _box(b"trak", _tkhd(w, h, tkhd_version) + mdia)


def make_mp4(tracks: list[bytes], timescale: int = 1000,
             duration: int = 5000, mvhd_version: int = 0,
             brand: bytes = b"isom", large_moov: bool = False,
             mdat: bytes = b"\x00" * 64) -> bytes:
    moov = _box(b"moov", _mvhd(timescale, duration, mvhd_version)
                + b"".join(tracks), large=large_moov)
    return _ftyp(brand) + moov + _box(b"mdat", mdat)


def test_mp4_video_metadata():
    blob = make_mp4(
        [_trak(b"vide", _visual_entry(b"avc1", 640, 360), 123, 640, 360)]
    )
    assert is_mp4(blob)
    meta = parse_mp4_meta(blob)
    assert meta == {"width": 640, "height": 360, "n_frames": 123,
                    "codec": "avc1", "duration_ms": 5000}


def test_mp4_version1_boxes_and_largesize():
    blob = make_mp4(
        [_trak(b"vide", _visual_entry(b"av01", 1920, 1080), 7, 1920, 1080,
               tkhd_version=1)],
        timescale=90000, duration=90000 * 3, mvhd_version=1,
        large_moov=True,
    )
    meta = parse_mp4_meta(blob)
    assert meta == {"width": 1920, "height": 1080, "n_frames": 7,
                    "codec": "av01", "duration_ms": 3000}


def test_mp4_audio_only():
    blob = make_mp4([_trak(b"soun", _audio_entry(b"mp4a"), 430)])
    meta = parse_mp4_meta(blob)
    assert meta["width"] == 0 and meta["height"] == 0
    assert meta["codec"] == "mp4a" and meta["n_frames"] == 430


def test_mp4_video_track_wins_over_audio():
    blob = make_mp4([
        _trak(b"soun", _audio_entry(b"mp4a"), 430),
        _trak(b"vide", _visual_entry(b"hvc1", 320, 240), 50, 320, 240),
    ])
    meta = parse_mp4_meta(blob)
    assert (meta["width"], meta["height"]) == (320, 240)
    assert meta["codec"] == "hvc1" and meta["n_frames"] == 50


def test_mp4_zero_tkhd_falls_back_to_sample_entry_dims():
    """Some writers zero the tkhd presentation size; the coded dims in
    the VisualSampleEntry are the fallback."""
    blob = make_mp4(
        [_trak(b"vide", _visual_entry(b"avc1", 640, 360), 9, 0, 0)]
    )
    meta = parse_mp4_meta(blob)
    assert (meta["width"], meta["height"]) == (640, 360)


def test_mp4_size_zero_final_box():
    """size==0 means 'to end of file' -- legal for the last top-level
    box; the video trak inside still parses."""
    blob = make_mp4(
        [_trak(b"vide", _visual_entry(b"avc1", 64, 48), 3, 64, 48)]
    )
    # rewrite the trailing mdat header with size=0
    mdat_at = blob.rfind(b"mdat") - 4
    blob = blob[:mdat_at] + struct.pack(">I", 0) + blob[mdat_at + 4:]
    meta = parse_mp4_meta(blob)
    assert meta["n_frames"] == 3


def test_mp4_malformed_rejected():
    good = make_mp4(
        [_trak(b"vide", _visual_entry(b"avc1", 64, 48), 3, 64, 48)]
    )
    with pytest.raises(ValueError):
        parse_mp4_meta(b"\x00\x00\x00\x08ftyp")  # not a brand we know
    # box size escaping its container
    bad = bytearray(good)
    moov_at = bytes(bad).find(b"moov") - 4
    bad[moov_at:moov_at + 4] = struct.pack(">I", len(good) * 2)
    with pytest.raises(ValueError, match="escapes|truncated"):
        parse_mp4_meta(bytes(bad))
    # truncated mid-box
    with pytest.raises(ValueError):
        parse_mp4_meta(good[: len(good) // 2])
    # depth bomb: deeply nested moov boxes
    bomb = b"x"
    for _ in range(40):
        bomb = _box(b"moov", bomb)
    with pytest.raises(ValueError, match="depth|escapes|truncated"):
        parse_mp4_meta(_ftyp() + bomb)
    # box-count bomb: the cap is generous (1M, so legal fragmented
    # files pass -- r11) but still bounds crafted payloads
    many = _box(b"moov", _box(b"free", b"") * 1_000_001)
    with pytest.raises(ValueError, match="count"):
        parse_mp4_meta(_ftyp() + many)


def test_mp4_through_decode_image_surface():
    from aws_cloudfront_realtime_monitoring_spark.operators.multimodal import decode_image

    blob = make_mp4(
        [_trak(b"vide", _visual_entry(b"avc1", 640, 360), 123, 640, 360)]
    )
    meta = decode_image(7, blob)
    assert meta == {"doc_id": 7, "n_bytes": len(blob), "width": 640,
                    "height": 360, "n_frames": 123, "fmt": "mp4"}


def test_mp4_mutation_fuzz_valueerror_only():
    """The executor-task contract: mutated container bytes may only
    ever raise ValueError from the parser."""
    rng = np.random.RandomState(157)
    good = bytearray(make_mp4(
        [_trak(b"vide", _visual_entry(b"avc1", 64, 48), 3, 64, 48)]
    ))
    for _ in range(400):
        blob = bytearray(good)
        for _ in range(rng.randint(1, 6)):
            blob[rng.randint(0, len(blob))] = rng.randint(0, 256)
        try:
            parse_mp4_meta(bytes(blob))
        except ValueError:
            pass


def test_mp4_compatible_brand_sniff_and_fragmented_tail():
    """r11 review: a 'dash' major brand with 'isom' in the compatible
    list was rejected; thousands of moof/mdat fragment boxes after the
    moov tripped the old 4096-box cap."""
    import struct as _s

    blob = make_mp4(
        [_trak(b"vide", _visual_entry(b"avc1", 64, 48), 5, 64, 48)],
        brand=b"dash",
    )
    # make_mp4's ftyp carries 'isomiso2' compatibles -> still sniffed
    assert is_mp4(blob)
    # a fragmented tail: 3000 tiny moof/mdat pairs after the moov
    tail = (_box(b"moof", b"\x00" * 8) + _box(b"mdat", b"\x00" * 8)) * 3000
    meta = parse_mp4_meta(blob + tail)
    assert meta["n_frames"] == 5  # moov parsed, tail never walked


def test_mp4_unknown_duration_sentinel():
    """All-ones mvhd duration means 'unknown' (live/fragmented
    recordings) and must report 0, not an 83-day movie."""
    blob = make_mp4(
        [_trak(b"vide", _visual_entry(b"avc1", 64, 48), 3, 64, 48)],
        duration=(1 << 32) - 1,
    )
    assert parse_mp4_meta(blob)["duration_ms"] == 0
