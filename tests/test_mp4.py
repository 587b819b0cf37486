"""MP4/ISO-BMFF container codec: an independently hand-assembled box
tree, encode/parse round trips, sample-table cross-checks, and loud
failure on every malformed-input path."""

from __future__ import annotations

import struct

import pytest

from etl_batch_spark.llmops.mp4 import (
    Mp4Error,
    encode_mp4,
    parse_mp4,
)


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


class TestCodec:
    def test_parses_independently_built_tree(self):
        """moov/trak assembled byte-by-byte from ISO 14496-12 (not via
        encode_mp4), so a shared encoder/decoder bug cannot cancel out.
        One audio track: 100 samples x 441 units at 44100 Hz."""
        mdhd = _box(b"mdhd", bytes([0, 0, 0, 0])
                    + struct.pack(">IIII", 0, 0, 44100, 44100)
                    + struct.pack(">HH", 0x55C4, 0))
        hdlr = _box(b"hdlr", bytes(4) + bytes(4) + b"soun" + bytes(13))
        entry = (struct.pack(">I", 36) + b"mp4a" + bytes(6)
                 + struct.pack(">H", 1) + bytes(8)
                 + struct.pack(">HHHH", 1, 16, 0, 0)
                 + struct.pack(">I", 44100 << 16))
        stsd = _box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
        stts = _box(b"stts", bytes(4) + struct.pack(">III", 1, 100, 441))
        stsz = _box(b"stsz", bytes(4) + struct.pack(">III", 64, 100, 0))
        stco = _box(b"stco", bytes(4) + struct.pack(">II", 1, 4096))
        stbl = _box(b"stbl", stsd + stts + stsz + stco)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        tkhd = _box(b"tkhd", bytes([0, 0, 0, 0]) + struct.pack(">III", 0, 0, 7)
                    + bytes(4) + struct.pack(">I", 44100) + bytes(60))
        trak = _box(b"trak", tkhd + mdia)
        mvhd = _box(b"mvhd", bytes([0, 0, 0, 0])
                    + struct.pack(">IIII", 0, 0, 1000, 1000) + bytes(80))
        data = (_box(b"ftyp", b"isom" + bytes(4))
                + _box(b"moov", mvhd + trak))
        info = parse_mp4(data)
        assert info.major_brand == "isom"
        assert info.movie_duration_s == 1.0
        (t,) = info.tracks
        assert t.track_id == 7 and t.handler == "soun" and t.codec == "mp4a"
        assert t.duration_s == 100 * 441 / 44100
        assert t.n_samples == 100
        assert t.total_sample_bytes == 64 * 100  # uniform stsz
        assert (t.channels, t.sample_rate) == (1, 44100)
        assert not info.has_mdat

    def test_round_trip_video_and_audio(self):
        d = encode_mp4(
            video=dict(n_samples=48, timescale=24000, sample_delta=1001,
                       width=1280, height=720),
            audio=dict(n_samples=94, timescale=48000, sample_delta=1024,
                       channels=2, sample_rate=48000),
        )
        info = parse_mp4(d, keep_chunks=True)
        assert info.n_tracks == 2 and info.has_mdat
        v, a = info.tracks
        assert v.handler == "vide" and v.codec == "avc1"
        assert (v.width, v.height) == (1280, 720)
        assert v.duration_s == 48 * 1001 / 24000
        assert a.handler == "soun" and a.codec == "mp4a"
        assert a.duration_s == 94 * 1024 / 48000
        assert a.n_chunks == len(a.chunk_offsets) > 0

    def test_movie_duration_is_max_track(self):
        d = encode_mp4(
            video=dict(n_samples=30, timescale=30, sample_delta=1,
                       width=64, height=48),
            audio=dict(n_samples=10, timescale=10, sample_delta=3,
                       channels=1, sample_rate=8000),
        )
        info = parse_mp4(d)
        assert info.movie_duration_s == 3.0  # audio track is 3 s, video 1 s

    def test_per_sample_stsz_totals(self):
        d = encode_mp4(video=dict(n_samples=9, timescale=30, sample_delta=1,
                                  width=32, height=32))
        (t,) = parse_mp4(d).tracks
        assert t.total_sample_bytes == sum(20 + (i % 7) for i in range(9))

    def test_chunk_index_enables_range_reads(self):
        d = encode_mp4(video=dict(n_samples=8, timescale=30, sample_delta=1,
                                  width=32, height=32))
        (t,) = parse_mp4(d, keep_chunks=True).tracks
        assert t.chunk_offsets == sorted(t.chunk_offsets)
        # off by default: census keeps O(1) state
        assert parse_mp4(d).tracks[0].chunk_offsets == []


class TestErrors:
    def test_garbage_is_loud(self):
        for payload in [b"", b"\x00" * 32, b"ftypisom", b"A" * 100]:
            with pytest.raises(Mp4Error):
                parse_mp4(payload)

    def test_truncation_is_loud(self):
        d = encode_mp4(video=dict(n_samples=8, timescale=30, sample_delta=1,
                                  width=32, height=32))
        for cut in (24, len(d) // 3, len(d) // 2):
            with pytest.raises(Mp4Error):
                parse_mp4(d[:cut])

    def test_stts_stsz_disagreement_is_loud(self):
        d = bytearray(encode_mp4(video=dict(n_samples=8, timescale=30,
                                            sample_delta=1, width=32,
                                            height=32)))
        at = bytes(d).find(b"stts")
        # corrupt the stts sample count (entry count stays 1)
        struct.pack_into(">I", d, at + 4 + 4 + 4, 9)
        with pytest.raises(Mp4Error, match="stts"):
            parse_mp4(bytes(d))

    def test_mdhd_declaration_must_match_stts(self):
        d = bytearray(encode_mp4(video=dict(n_samples=8, timescale=30,
                                            sample_delta=1, width=32,
                                            height=32)))
        at = bytes(d).find(b"mdhd")
        struct.pack_into(">I", d, at + 4 + 4 + 12, 999)  # declared duration
        with pytest.raises(Mp4Error, match="mdhd"):
            parse_mp4(bytes(d))

    def test_zero_timescale_is_loud(self):
        d = bytearray(encode_mp4(video=dict(n_samples=8, timescale=30,
                                            sample_delta=1, width=32,
                                            height=32)))
        at = bytes(d).find(b"mdhd")
        struct.pack_into(">I", d, at + 4 + 4 + 8, 0)
        with pytest.raises(Mp4Error, match="timescale"):
            parse_mp4(bytes(d))

    def test_missing_moov_is_loud(self):
        d = encode_mp4(video=dict(n_samples=4, timescale=30, sample_delta=1,
                                  width=32, height=32))
        at = d.find(b"moov")
        ftyp_only = d[:at - 4]
        with pytest.raises(Mp4Error, match="moov"):
            parse_mp4(ftyp_only)

    def test_box_overrun_is_loud(self):
        d = bytearray(encode_mp4(video=dict(n_samples=4, timescale=30,
                                            sample_delta=1, width=32,
                                            height=32)))
        struct.pack_into(">I", d, 0, 1 << 30)  # absurd ftyp size
        with pytest.raises(Mp4Error, match="out of bounds"):
            parse_mp4(bytes(d))


    def test_encoder_rejects_empty(self):
        with pytest.raises(ValueError):
            encode_mp4()
