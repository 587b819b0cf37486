"""MJPEG AVI container: bit-exact frame payload round-trips and loud
failure on corrupt/out-of-scope payloads."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_batch_spark.llmops.avi import (
    AviError,
    decode_avi_mjpeg,
    encode_avi_mjpeg,
)
from etl_batch_spark.llmops.jpeg import decode_jpeg, encode_jpeg


def _jpeg_frames(n, w=16, h=12, seed=0):
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
        out.append(encode_jpeg(w, h, 3, px, quality=92, progressive=(i % 2 == 0)))
    return out


class TestContainer:
    def test_roundtrip_frames_bit_exact(self):
        frames = _jpeg_frames(7, seed=1)
        data = encode_avi_mjpeg(16, 12, 25.0, frames)
        w, h, fps, got = decode_avi_mjpeg(data)
        assert (w, h, fps) == (16, 12, 25.0)
        assert got == frames
        # every recovered payload is a decodable JPEG
        fw, fh, ch, _ = decode_jpeg(got[3])
        assert (fw, fh, ch) == (16, 12, 3)

    def test_odd_sized_frames_stay_word_aligned(self):
        """JPEG payloads are routinely odd-length; RIFF pads chunks to
        even offsets and the pad byte must not leak into the payload.
        Container-level test: payload lengths alternate odd/even by
        construction (frame 0 carries a JPEG SOI for the codec sniff)."""
        odd = [
            b"\xff\xd8\xd9",            # 3 bytes
            b"abcd",                     # 4
            b"\x00" * 7,                 # 7
            b"x",                        # 1
            bytes(range(10)),            # 10
        ]
        data = encode_avi_mjpeg(16, 12, 10.0, odd)
        assert decode_avi_mjpeg(data)[3] == odd

    def test_rejects_out_of_scope_codec(self):
        frames = _jpeg_frames(2, seed=3)
        data = encode_avi_mjpeg(16, 12, 30.0, frames, handler=b"H264")
        with pytest.raises(AviError, match="unsupported video codec"):
            decode_avi_mjpeg(data)

    def test_blank_handler_accepts_jpeg_frames(self):
        frames = _jpeg_frames(2, seed=4)
        data = encode_avi_mjpeg(16, 12, 30.0, frames, handler=b"\x00" * 4)
        assert decode_avi_mjpeg(data)[3] == frames

    def test_rejects_corruption_loudly(self):
        frames = _jpeg_frames(3, seed=5)
        data = encode_avi_mjpeg(16, 12, 15.0, frames)
        with pytest.raises(AviError, match="RIFF"):
            decode_avi_mjpeg(b"MKV" + data)
        with pytest.raises(AviError):
            decode_avi_mjpeg(data[:40])
        # a movi chunk size pointing past the payload end
        t = bytearray(data)
        di = data.index(b"00dc") + 4
        struct.pack_into("<I", t, di, 1 << 30)
        with pytest.raises(AviError, match="past payload end"):
            decode_avi_mjpeg(bytes(t))

    def test_missing_headers_rejected(self):
        frames = _jpeg_frames(1, seed=6)
        data = encode_avi_mjpeg(8, 8, 30.0, frames)
        hi = data.index(b"avih")
        stripped = data[:hi] + b"JUNK" + data[hi + 4 :]
        with pytest.raises(AviError, match="avih"):
            decode_avi_mjpeg(stripped)

    def test_frame_cap_enforced(self):
        frames = _jpeg_frames(4, seed=7)
        data = encode_avi_mjpeg(16, 12, 30.0, frames)
        with pytest.raises(AviError, match="max_frames"):
            decode_avi_mjpeg(data, max_frames=2)


class TestContainerProperty:
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=15, deadline=None)
    @given(st.integers(1, 12), st.integers(0, 2**32 - 1))
    def test_roundtrip_arbitrary(self, n, seed):
        frames = _jpeg_frames(n, seed=seed % 10_000)
        data = encode_avi_mjpeg(16, 12, 24.0, frames)
        assert decode_avi_mjpeg(data)[3] == frames

    @settings(max_examples=20, deadline=None)
    @given(st.binary(min_size=0, max_size=200))
    def test_garbage_never_decodes_silently(self, blob):
        with pytest.raises(AviError):
            decode_avi_mjpeg(blob)


