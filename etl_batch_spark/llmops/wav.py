"""Pure-stdlib+numpy WAV (RIFF/WAVE) PCM codec.

The image modality got real pure-stdlib codecs (png.py, jpeg.py); this
module does the same for audio's interchange baseline: RIFF/WAVE
containers carrying integer PCM (8/16/24/32-bit) or IEEE float
(32/64-bit) samples, including the WAVE_FORMAT_EXTENSIBLE wrapper that
pro-audio tools emit.  Everything here is from the public RIFF/WAVE
specification (Microsoft/IBM 1991 multimedia programming interface,
ksmedia.h subformat GUIDs).

Scope (deliberate): uncompressed PCM and IEEE-float WAVE files — the
format that dominates speech/audio training corpora at the ingest
stage.  Compressed codecs (MP3/AAC/Opus/FLAC, and legacy ADPCM/mu-law
format tags) raise ``WavError`` — at training-pipeline scale those
route to a quarantine sink (the header-only triage of
``mediainfo.probe_media_df`` runs before any decode) rather than a
slower universal decoder, and a
real cluster swaps this module for ffmpeg behind the same interface.

Like the image codecs: every malformed-input path raises ``WavError``
(never a raw struct/numpy error), and declared sizes are bounded
BEFORE allocation (a crafted header cannot provoke a multi-GB
allocation).  ``encode_wav`` exists so tests can generate real WAV
payloads without external tools and round-trip them bit-exactly —
PCM is lossless, so the round-trip must reproduce the samples
EXACTLY at every bit depth.
"""

from __future__ import annotations

import struct

import numpy as np

# Bound the decoded sample matrix (frames x channels), checked against
# the declared data-chunk size before any allocation.  1 << 26 samples
# = 64M, ~256 MB as float32 — same ceiling philosophy as png/jpeg.
MAX_SAMPLES = 1 << 26

SIGNATURE = b"RIFF"

_TAG_PCM = 0x0001
_TAG_IEEE_FLOAT = 0x0003
_TAG_EXTENSIBLE = 0xFFFE

# The ksmedia.h subformat GUIDs are {tag:08x}-0000-0010-8000-00AA00389B71
# with the format tag in Data1's low 16 bits; after the tag's two bytes
# come Data1's zero high half and this fixed 12-byte Data2..Data4 base.
_EXT_GUID_TAIL = bytes.fromhex("00001000800000AA00389B71")


class WavError(ValueError):
    """Malformed, corrupt, or out-of-scope WAV payload."""


def decode_wav(
    data: bytes, *, max_samples: int = MAX_SAMPLES
) -> tuple[int, int, int, np.ndarray]:
    """Decode a RIFF/WAVE payload to ``(sample_rate, channels, bits,
    samples)`` with ``samples`` a (frames, channels) numpy array —
    int8/int16/int32 for integer PCM (24-bit widens to int32),
    float32/float64 for IEEE-float files.  Trailing bytes that do not
    fill a whole frame are a loud error, not silence."""
    try:
        return _decode_impl(data, max_samples=max_samples)
    except (struct.error, IndexError) as exc:
        raise WavError(f"malformed WAV structure: {exc}") from exc


def _decode_impl(
    data: bytes, *, max_samples: int
) -> tuple[int, int, int, np.ndarray]:
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise WavError("payload is not bytes")
    data = bytes(data)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise WavError("not a WAV (bad RIFF/WAVE header)")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    # tolerate the pervasive off-by-stream-tail writers, but never trust
    # riff_size to EXTEND the payload
    end = min(len(data), 8 + riff_size)

    fmt = None
    pcm = None
    pos = 12
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (csize,) = struct.unpack_from("<I", data, pos + 4)
        body_start = pos + 8
        if body_start + csize > end:
            raise WavError(f"chunk {cid!r} declares {csize} bytes past payload end")
        body = data[body_start : body_start + csize]
        if cid == b"fmt ":
            fmt = _parse_fmt(body)
        elif cid == b"data":
            if fmt is None:
                raise WavError("data chunk before fmt chunk")
            if pcm is not None:
                raise WavError("multiple data chunks")
            pcm = body
        # LIST/fact/cue/bext/anything else: skip
        pos = body_start + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None:
        raise WavError("missing fmt chunk")
    if pcm is None:
        raise WavError("missing data chunk")

    tag, channels, rate, bits = fmt
    bytes_per = bits // 8
    frame_bytes = bytes_per * channels
    if len(pcm) % frame_bytes:
        raise WavError(
            f"data chunk {len(pcm)} bytes is not a whole number of "
            f"{frame_bytes}-byte frames"
        )
    n_frames = len(pcm) // frame_bytes
    if n_frames * channels > max_samples:
        raise WavError(
            f"declared {n_frames} frames x {channels} channels exceeds "
            f"max_samples={max_samples}"
        )

    if tag == _TAG_PCM:
        if bits == 8:  # 8-bit WAV is UNSIGNED, midpoint 128
            arr = np.frombuffer(pcm, np.uint8).astype(np.int16) - 128
            arr = arr.astype(np.int8)
        elif bits == 16:
            arr = np.frombuffer(pcm, np.dtype("<i2"))
        elif bits == 24:  # pack 3-byte LE into int32 with sign extension
            b = np.frombuffer(pcm, np.uint8).reshape(-1, 3).astype(np.int32)
            arr = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            arr = (arr ^ 0x800000) - 0x800000
        elif bits == 32:
            arr = np.frombuffer(pcm, np.dtype("<i4"))
        else:
            raise WavError(f"unsupported PCM bit depth {bits}")
    else:  # IEEE float
        if bits == 32:
            arr = np.frombuffer(pcm, np.dtype("<f4"))
        elif bits == 64:
            arr = np.frombuffer(pcm, np.dtype("<f8"))
        else:
            raise WavError(f"unsupported float bit depth {bits}")
    return rate, channels, bits, arr.reshape(n_frames, channels)


def _parse_fmt(body: bytes) -> tuple[int, int, int, int]:
    """Returns (effective_tag, channels, sample_rate, bits)."""
    if len(body) < 16:
        raise WavError("truncated fmt chunk")
    tag, channels, rate, _byterate, _align, bits = struct.unpack_from(
        "<HHIIHH", body, 0
    )
    if tag == _TAG_EXTENSIBLE:
        # 16-byte subformat GUID at offset 24; its first two bytes are
        # the real format tag
        if len(body) < 40:
            raise WavError("truncated WAVE_FORMAT_EXTENSIBLE fmt chunk")
        guid = body[24:40]
        if guid[2:] != b"\x00\x00" + _EXT_GUID_TAIL:
            raise WavError("unknown extensible subformat GUID")
        (tag,) = struct.unpack_from("<H", guid, 0)
    if tag not in (_TAG_PCM, _TAG_IEEE_FLOAT):
        raise WavError(
            f"unsupported format tag 0x{tag:04X} (compressed/ADPCM/mu-law "
            "need ffmpeg); integer PCM and IEEE float only"
        )
    if channels == 0 or channels > 64:
        raise WavError(f"bad channel count {channels}")
    if rate == 0:
        raise WavError("zero sample rate")
    if bits == 0 or bits % 8:
        raise WavError(f"bad bit depth {bits}")
    return tag, channels, rate, bits


def to_float(samples: np.ndarray, bits: int) -> np.ndarray:
    """Normalize decoded samples to float64 in [-1, 1) using the
    conventional 2^(bits-1) divisor for integer PCM; float input passes
    through (clipping is the caller's policy decision)."""
    if samples.dtype.kind == "f":
        return samples.astype(np.float64)
    return samples.astype(np.float64) / float(1 << (bits - 1))


def encode_wav(
    sample_rate: int,
    samples: np.ndarray,
    *,
    bits: int = 16,
    float_format: bool = False,
    extensible: bool = False,
) -> bytes:
    """Minimal WAV writer (tests + fixture generation).  ``samples`` is
    (frames, channels); integer input must already fit the target bit
    depth.  ``extensible=True`` wraps the format in
    WAVE_FORMAT_EXTENSIBLE (exercises the GUID path)."""
    samples = np.asarray(samples)
    if samples.ndim != 2:
        raise WavError("samples must be (frames, channels)")
    frames, channels = samples.shape
    if channels == 0 or channels > 64:
        raise WavError(f"bad channel count {channels}")
    if float_format:
        if bits not in (32, 64):
            raise WavError("float WAV must be 32- or 64-bit")
        pcm = samples.astype("<f4" if bits == 32 else "<f8").tobytes()
        tag = _TAG_IEEE_FLOAT
    else:
        if bits == 8:
            pcm = (samples.astype(np.int16) + 128).astype(np.uint8).tobytes()
        elif bits == 16:
            pcm = samples.astype("<i2").tobytes()
        elif bits == 24:
            s = samples.astype(np.int32)
            b = np.empty((frames * channels, 3), np.uint8)
            flat = s.reshape(-1)
            b[:, 0] = flat & 0xFF
            b[:, 1] = (flat >> 8) & 0xFF
            b[:, 2] = (flat >> 16) & 0xFF
            pcm = b.tobytes()
        elif bits == 32:
            pcm = samples.astype("<i4").tobytes()
        else:
            raise WavError(f"unsupported PCM bit depth {bits}")
        tag = _TAG_PCM

    align = channels * bits // 8
    if extensible:
        sub = struct.pack("<H", tag) + b"\x00\x00" + _EXT_GUID_TAIL
        fmt = struct.pack(
            "<HHIIHHHHI", _TAG_EXTENSIBLE, channels, sample_rate,
            sample_rate * align, align, bits, 22, bits, 0,
        ) + sub
    else:
        fmt = struct.pack(
            "<HHIIHH", tag, channels, sample_rate,
            sample_rate * align, align, bits,
        )

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    payload = b"WAVE" + chunk(b"fmt ", fmt) + chunk(b"data", pcm)
    return b"RIFF" + struct.pack("<I", len(payload)) + payload
