"""FLAC container/frame codec: an independently hand-assembled stream,
encode/parse round trips across rates/depths/block sizes, coded-number
UTF-8 edges, frame-walk consistency gates, and loud failure on every
malformed-input path."""

from __future__ import annotations

import struct

import pytest

from etl_batch_spark.llmops.flac import (
    FlacError,
    _crc8,
    _decode_coded_number,
    _encode_coded_number,
    encode_flac,
    parse_flac,
)


class TestCodec:
    def test_parses_independently_built_stream(self):
        """STREAMINFO + one frame assembled byte-by-byte from the spec
        (RFC 9639), not via encode_flac, so a shared encoder/decoder
        bug cannot cancel out.  44.1 kHz stereo 16-bit, one 4096-sample
        frame using the COMMON block-size code 0b1100."""
        si = bytearray(34)
        struct.pack_into(">HH", si, 0, 4096, 4096)
        rate, channels, bits, total = 44100, 2, 16, 4096
        si[10] = (rate >> 12) & 0xFF
        si[11] = (rate >> 4) & 0xFF
        si[12] = ((rate & 0xF) << 4) | ((channels - 1) << 1) | ((bits - 1) >> 4)
        si[13] = (((bits - 1) & 0xF) << 4) | ((total >> 32) & 0xF)
        si[14:18] = total.to_bytes(4, "big")
        meta = b"\x80\x00\x00\x22" + bytes(si)  # last block, type 0, len 34
        hdr = bytearray([0xFF, 0xF8, (0b1100 << 4) | 0b1001, (1 << 4) | (0b100 << 1)])
        hdr += b"\x00"  # coded number 0
        hdr.append(_crc8(bytes(hdr)))
        data = b"fLaC" + meta + bytes(hdr) + b"\xa5" * 32
        info = parse_flac(data, keep_frames=True)
        assert info.sample_rate == 44100
        assert info.channels == 2
        assert info.bits_per_sample == 16
        assert info.n_frames == 1
        assert info.walked_samples == 4096 == info.total_samples
        assert info.duration_s == 4096 / 44100
        assert info.frames[0].block_size == 4096

    @pytest.mark.parametrize("rate", [44100, 48000, 32000, 22050, 96000,
                                      192000, 11025, 8000])
    @pytest.mark.parametrize("bits", [8, 16, 24])
    def test_round_trip_rates_and_depths(self, rate, bits):
        data = encode_flac(n_frames=4, block_size=1024, sample_rate=rate,
                           channels=1, bits=bits, payload_bytes=16)
        info = parse_flac(data)
        assert (info.sample_rate, info.bits_per_sample) == (rate, bits)
        assert info.n_frames == 4
        assert info.walked_samples == 4 * 1024

    def test_short_last_frame_exact_duration(self):
        data = encode_flac(n_frames=7, block_size=2048, last_block=123,
                           sample_rate=48000, channels=2, bits=16)
        info = parse_flac(data, keep_frames=True)
        assert info.total_samples == 6 * 2048 + 123
        assert info.duration_s == (6 * 2048 + 123) / 48000
        assert [f.block_size for f in info.frames] == [2048] * 6 + [123]
        assert [f.coded_number for f in info.frames] == list(range(7))

    def test_comments_round_trip_and_absent_artist(self):
        data = encode_flac(n_frames=2, block_size=256,
                           comments={"ARTIST": "a", "TITLE": "t"})
        info = parse_flac(data)
        assert info.comments == {"ARTIST": "a", "TITLE": "t"}
        assert info.vendor.startswith("etl-batch-spark")
        bare = encode_flac(n_frames=2, block_size=256, comments={})
        assert parse_flac(bare).comments == {}

    def test_frame_index_enables_range_reads(self):
        data = encode_flac(n_frames=3, block_size=512, payload_bytes=40)
        frames = parse_flac(data, keep_frames=True).frames
        assert [f.offset for f in frames] == sorted(f.offset for f in frames)
        assert sum(f.size for f in frames) == len(data) - frames[0].offset

    def test_payload_ff_bytes_do_not_fool_the_walk(self):
        """0xFF runs inside payloads are candidate syncs; the CRC-8 +
        coded-number gates must reject them.  Splice a fake sync whose
        header bytes are plausible but whose CRC is wrong."""
        data = bytearray(encode_flac(n_frames=4, block_size=1024,
                                     payload_bytes=48))
        frames = parse_flac(bytes(data), keep_frames=True).frames
        # plant a wrong-CRC pseudo-header inside frame 1's payload
        at = frames[1].offset + 20
        data[at:at + 6] = bytes([0xFF, 0xF8, 0xC9, 0x14, 0x02, 0x00])
        info = parse_flac(bytes(data), keep_frames=True)
        assert info.n_frames == 4
        assert [f.coded_number for f in info.frames] == [0, 1, 2, 3]

    def test_multibyte_coded_numbers(self):
        for v in [0, 1, 0x7F, 0x80, 0x7FF, 0x800, 0xFFFF, (1 << 36) - 1]:
            enc = _encode_coded_number(v)
            got, nxt = _decode_coded_number(enc, 0)
            assert got == v and nxt == len(enc)
        data = encode_flac(n_frames=300, block_size=192, payload_bytes=8)
        assert parse_flac(data).n_frames == 300


class TestErrors:
    def test_garbage_is_loud(self):
        for payload in [b"", b"fLaC", b"\x00" * 64, b"fLaC" + b"\x00" * 64]:
            with pytest.raises(FlacError):
                parse_flac(payload)

    def test_first_block_must_be_streaminfo(self):
        data = bytearray(encode_flac(n_frames=1, block_size=256))
        data[4] = (data[4] & 0x80) | 0x04  # retype block 0 as VorbisComment
        with pytest.raises(FlacError, match="STREAMINFO"):
            parse_flac(bytes(data))

    def test_metadata_overrun_is_loud(self):
        data = bytearray(encode_flac(n_frames=1, block_size=256))
        data[5:8] = (1 << 20).to_bytes(3, "big")  # absurd block length
        with pytest.raises(FlacError, match="exceeds payload"):
            parse_flac(bytes(data))

    def test_bad_header_crc_is_loud(self):
        data = bytearray(encode_flac(n_frames=2, block_size=256,
                                     comments={}))
        info = parse_flac(bytes(data), keep_frames=True)
        # corrupt the FIRST frame's CRC byte: strict position, must raise
        first = info.frames[0].offset
        # header: 4 fixed + 1 coded number + 2 block size + CRC
        data[first + 7] ^= 0xFF
        with pytest.raises(FlacError, match="CRC-8|sync|coded"):
            parse_flac(bytes(data))

    def test_walked_samples_must_match_streaminfo(self):
        data = bytearray(encode_flac(n_frames=3, block_size=256))
        # inflate the declared total: walk disagrees -> loud
        data[8 + 14:8 + 18] = (10_000_000).to_bytes(4, "big")
        with pytest.raises(FlacError, match="STREAMINFO total"):
            parse_flac(bytes(data))

    def test_zero_rate_streaminfo_is_loud(self):
        data = bytearray(encode_flac(n_frames=1, block_size=256))
        data[8 + 10:8 + 13] = b"\x00\x00\x00"  # rate=0 (and low bits)
        with pytest.raises(FlacError):
            parse_flac(bytes(data))


    def test_encoder_rejects_bad_params(self):
        with pytest.raises(ValueError):
            encode_flac(n_frames=0, block_size=256)
        with pytest.raises(ValueError):
            encode_flac(n_frames=1, block_size=256, last_block=0)
        with pytest.raises(ValueError):
            encode_flac(n_frames=1, block_size=256, fill=0xFF)
        with pytest.raises(ValueError):
            encode_flac(n_frames=1, block_size=256, channels=9)


class TestProbeIntegration:
    def test_probe_media_agrees_with_codec(self):
        from etl_batch_spark.llmops.mediainfo import probe_media

        data = encode_flac(n_frames=5, block_size=4096, last_block=100,
                           sample_rate=22050, channels=2, bits=16)
        r = probe_media(data)
        assert r["container"] == "flac" and r["error"] is None
        assert (r["sample_rate"], r["channels"]) == (22050, 2)
        info = parse_flac(data)
        assert r["duration_s"] == round(info.duration_s, 3)
