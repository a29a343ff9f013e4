"""Audio-payload plumbing: REAL WAV (RIFF/PCM) decode + feature
extraction over Arrow-batched ``mapInPandas`` — the audio leg of the
multimodal contract (images: ``operators/multimodal.py``; the Spark-side
shape is identical: binary column in, declared typed schema out, a
narrow map with no shuffle, payload bytes never leaving the executor).

WAV is decodable with stdlib ``struct`` + numpy alone: a RIFF container
(``RIFF <size> WAVE``), a ``fmt `` chunk (PCM tag 1, channel count,
sample rate, bits per sample — 8-bit unsigned or 16-bit signed LE
supported), and a ``data`` chunk of interleaved frames. Compressed
formats inside RIFF (IEEE float, ADPCM, mp3-in-RIFF) raise
``ValueError`` and take the caller's fallback, the same contract as the
image decoders' unsupported profiles. FLAC and MP3 payloads (r11)
parse REAL container metadata — STREAMINFO / first frame header +
Xing VBR tag — with the sample-derived features NULL, since their
samples stay encoded (the video-pixel scope line applied to audio).

The features are the standard cheap audio-curation signals (the audio
analog of text_profile's one-pass stats): duration, RMS energy and
zero-crossing rate — enough to drop silent/clipped/garbage clips before
an expensive model ever sees them.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from .multimodal import map_payloads

#: output schema of the audio feature step (integer-quantized features so
#: cross-engine comparisons stay exact: rms/zcr scaled by 1e6)
AUDIO_SCHEMA = (
    "doc_id BIGINT, n_bytes BIGINT, sample_rate BIGINT, n_channels BIGINT, "
    "n_samples BIGINT, duration_ms BIGINT, rms_micro BIGINT, "
    "zcr_micro BIGINT, fmt STRING"
)


def decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    try:
        return _decode_wav(payload)
    except (struct.error, IndexError, TypeError) as exc:
        # corrupt bytes surface as ValueError only (fallback contract)
        raise ValueError(f"malformed WAV: {exc}") from exc


def _decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL decoder for PCM WAV: returns (sample_rate, n_channels,
    samples[n_frames, n_channels] float64 in [-1, 1]). Raises
    ``ValueError`` on malformed RIFF or non-PCM encodings."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt_chunk, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + size > len(payload):
            raise ValueError("truncated WAV chunk")
        # FIRST fmt/data win (r13 review): stdlib wave and libsndfile
        # read the first of each, and a spurious trailing 'data' chunk
        # (appended junk, broken editors) used to silently replace the
        # real samples; unneeded chunks are skipped without slicing
        if cid == b"fmt " and fmt_chunk is None:
            fmt_chunk = payload[pos + 8 : pos + 8 + size]
        elif cid == b"data" and data is None:
            data = payload[pos + 8 : pos + 8 + size]
        if fmt_chunk is not None and data is not None:
            break
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt_chunk is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt_chunk) < 16:
        raise ValueError("malformed WAV fmt chunk")
    audio_fmt, channels, rate, _brate, _align, bits = struct.unpack_from(
        "<HHIIHH", fmt_chunk, 0
    )
    if audio_fmt != 1:
        raise ValueError(f"non-PCM WAV (format tag {audio_fmt}) unsupported")
    if channels < 1 or rate < 1:
        raise ValueError("degenerate WAV channel count / sample rate")
    if bits == 16:
        raw = np.frombuffer(data, "<i2", len(data) // 2)
        samples = raw.astype(np.float64) / 32768.0
    elif bits == 8:  # 8-bit WAV is UNSIGNED per the spec
        raw = np.frombuffer(data, np.uint8)
        samples = (raw.astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"{bits}-bit WAV unsupported")
    n_frames = len(samples) // channels
    return rate, channels, samples[: n_frames * channels].reshape(
        n_frames, channels
    )


def wav_features(doc_id: int, payload: bytes) -> dict:
    """One payload -> the :data:`AUDIO_SCHEMA` feature row."""
    rate, channels, samples = decode_wav(payload)
    mono = samples.mean(axis=1)
    n = len(mono)
    rms = float(np.sqrt(np.mean(mono**2))) if n else 0.0
    # zero-crossing rate: fraction of adjacent sample pairs changing sign
    zcr = (
        float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
        if n > 1
        else 0.0
    )
    return {
        "doc_id": doc_id,
        "n_bytes": len(payload),
        "sample_rate": rate,
        "n_channels": channels,
        "n_samples": n,
        "duration_ms": int(n * 1000 // rate),
        "rms_micro": int(round(rms * 1_000_000)),
        "zcr_micro": int(round(zcr * 1_000_000)),
        "fmt": "wav",
    }


# ---------------------------------------------- encoded-audio metadata
# (r11) FLAC and MP3 carry their stream parameters in plain headers; the
# SAMPLES stay encoded (decoding needs a codec lib, out of scope like
# video pixels), so these return AUDIO_SCHEMA rows with rms/zcr NULL --
# the honest "not computed", never a fabricated number.


def flac_meta(payload: bytes) -> dict:
    """STREAMINFO of a FLAC container (the mandatory first metadata
    block, format spec 'METADATA_BLOCK_STREAMINFO'): sample rate
    (20 bits), channels-1 (3), bits-per-sample-1 (5) and total samples
    (36) packed big-endian after the block/frame size fields."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    if len(payload) < 8:
        raise ValueError("truncated FLAC header")
    btype = payload[4] & 0x7F
    blen = int.from_bytes(payload[5:8], "big")
    if btype != 0 or blen < 34:
        # the spec REQUIRES STREAMINFO as the first block
        raise ValueError("FLAC missing leading STREAMINFO block")
    if len(payload) < 8 + 18:
        raise ValueError("truncated FLAC STREAMINFO")
    packed = int.from_bytes(payload[18:26], "big")
    rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    n_samples = packed & ((1 << 36) - 1)
    if rate == 0:
        raise ValueError("FLAC sample rate 0")
    return {
        "sample_rate": rate,
        "n_channels": channels,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000 // rate,
        "fmt": "flac",
    }


#: MPEG Layer III bitrate (kbps) and sample-rate tables (ISO 11172-3 /
#: 13818-3); index 0 is "free", 15 invalid
_MP3_BITRATE_V1 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                   160, 192, 224, 256, 320]
_MP3_BITRATE_V2 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
                   96, 112, 128, 144, 160]
_MP3_RATES = {3: (44100, 48000, 32000),   # MPEG1
              2: (22050, 24000, 16000),   # MPEG2
              0: (11025, 12000, 8000)}    # MPEG2.5


def _skip_id3v2(payload: bytes, pos: int = 0) -> int:
    """Byte offset past ALL leading ID3v2 tags (retagging tools stack a
    second one -- r11 review: only the first was skipped, and a >4KB
    second tag pushed the frame sync out of the resync window)."""
    while payload[pos : pos + 3] == b"ID3":
        if len(payload) < pos + 10:
            raise ValueError("truncated ID3v2 tag")
        size = 0
        for b in payload[pos + 6 : pos + 10]:
            size = (size << 7) | (b & 0x7F)
        pos += 10 + size
        if payload[pos - 10 - size + 5] & 0x10:
            # ID3v2.4 footer flag: the tag is 10+size+10 bytes -- without
            # this the scan lands ON the 10-byte '3DI' footer and a
            # tagged FLAC falls through to the MP3 resync (r13 review)
            pos += 10
    return pos


def mp3_meta(payload: bytes) -> dict:
    """First-frame header (+ optional Xing/Info VBR tag) of an MPEG
    Layer III stream, after any leading ID3v2 tags (synchsafe sizes).
    With a Xing frame count the duration is exact; without one it is
    the standard CBR estimate from the first frame's bitrate
    (documented in the caller-facing docstring -- an estimate, like
    every mp3 tool's)."""
    pos = _skip_id3v2(payload)
    # resync: the first 0xFFEx pattern within a bounded window (64 KB
    # tolerates junk/padding between the tags and the first frame)
    end = min(len(payload) - 3, pos + 65536)
    while pos < end and not (
        payload[pos] == 0xFF and (payload[pos + 1] & 0xE0) == 0xE0
    ):
        pos += 1
    if pos >= end:
        raise ValueError("no MP3 frame sync found")
    h1, h2, h3 = payload[pos + 1], payload[pos + 2], payload[pos + 3]
    version = (h1 >> 3) & 0x3   # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    layer = (h1 >> 1) & 0x3     # 1 = Layer III
    if version == 1 or layer != 1:
        raise ValueError("not an MPEG Layer III frame")
    br_idx = (h2 >> 4) & 0xF
    sr_idx = (h2 >> 2) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        raise ValueError("invalid MP3 bitrate/samplerate index")
    rate = _MP3_RATES[version][sr_idx]
    kbps = (_MP3_BITRATE_V1 if version == 3 else _MP3_BITRATE_V2)[br_idx]
    mono = ((h3 >> 6) & 0x3) == 3
    spf = 1152 if version == 3 else 576
    # Xing/Info VBR tag: after the side info (MPEG1: 32B stereo / 17B
    # mono; MPEG2/2.5: 17 / 9), plus the 16-bit CRC that PRECEDES the
    # side info when the protection bit is 0 (r11 review: ignoring it
    # missed the Xing magic on CRC'd VBR files and fell back to a
    # first-frame CBR estimate that can be 2-3x off)
    side = (17 if mono else 32) if version == 3 else (9 if mono else 17)
    crc = 2 if (h1 & 0x1) == 0 else 0
    tag_at = pos + 4 + crc + side
    n_frames = 0
    if payload[tag_at : tag_at + 4] in (b"Xing", b"Info"):
        flags = int.from_bytes(payload[tag_at + 4 : tag_at + 8], "big")
        if flags & 0x1 and len(payload) >= tag_at + 12:
            n_frames = int.from_bytes(
                payload[tag_at + 8 : tag_at + 12], "big"
            )
    if n_frames:
        n_samples = n_frames * spf
        duration_ms = n_samples * 1000 // rate
    else:
        # CBR estimate from the audio bytes after the ID3 tag
        audio_bytes = len(payload) - pos
        duration_ms = audio_bytes * 8 // kbps if kbps else 0
        n_samples = duration_ms * rate // 1000
    return {
        "sample_rate": rate,
        "n_channels": 1 if mono else 2,
        "n_samples": n_samples,
        "duration_ms": duration_ms,
        "fmt": "mp3",
    }


def audio_meta_or_features(doc_id: int, payload: bytes) -> dict:
    """Dispatch one payload to the right audio handler: WAV decodes
    fully (features included); FLAC/MP3 parse REAL container metadata
    with rms/zcr NULL (their samples stay encoded -- the video-pixel
    scope line applied to audio). Anything else raises ValueError for
    the caller's skip/strict contract."""
    if payload[:4] == b"fLaC":
        meta = flac_meta(payload)
    elif payload[:3] == b"ID3" or (
        len(payload) > 1 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        # ID3v2-tagged FLAC (nonstandard but written by common tagging
        # tools): check what actually FOLLOWS the tags before assuming
        # MP3 (r11 review -- flac(1) itself skips the tag the same way)
        meta = None
        if payload[:3] == b"ID3":
            try:
                at = _skip_id3v2(payload)
            except ValueError:
                at = 0
            if payload[at : at + 4] == b"fLaC":
                # shared return below (r13 review: this branch carried a
                # verbatim copy of the meta-row dict)
                meta = flac_meta(payload[at:])
        if meta is None:
            meta = mp3_meta(payload)
    else:
        return wav_features(doc_id, payload)
    return {
        "doc_id": doc_id,
        "n_bytes": len(payload),
        **{k: meta[k] for k in
           ("sample_rate", "n_channels", "n_samples", "duration_ms")},
        "rms_micro": None,
        "zcr_micro": None,
        "fmt": meta["fmt"],
    }


def audio_feature_batches(
    docs_with_payload: DataFrame, skip_invalid: bool = True
) -> DataFrame:
    """Arrow-batched feature extraction through the image tier's row loop
    (:func:`multimodal.map_payloads`): per-batch pandas processing,
    bounded memory, declared schema, no driver involvement. Input:
    (doc_id BIGINT, payload BINARY).

    ``skip_invalid`` (default): undecodable payloads are DROPPED instead
    of failing the task -- the production curation behavior for corrupt
    records at 100 TB (count them via an input-vs-output row diff);
    ``skip_invalid=False`` propagates the ValueError for strict runs."""
    return map_payloads(
        docs_with_payload, AUDIO_SCHEMA,
        lambda doc_id, payload: [audio_meta_or_features(doc_id, payload)],
        skip_invalid,
    )
