"""MP3 frame-level codec: an independently hand-assembled frame, full
version/layer table coverage via encode/parse round trips, exact
duration arithmetic, Xing/VBRI/ID3 handling, and loud failure on every
malformed-input path."""

from __future__ import annotations

import struct

import pytest

from etl_batch_spark.llmops.mp3 import (
    Mp3Error,
    encode_frames,
    parse_frames,
)


class TestCodec:
    def test_parses_independently_built_frame(self):
        """One MPEG1 Layer III 128 kbps 44.1 kHz stereo frame assembled
        byte-by-byte from ISO 11172-3 (not via encode_frames), so a
        shared encoder/decoder bug cannot cancel out.  Frame length =
        144 * 128000 / 44100 = 417 bytes (no padding)."""
        hdr = bytes([0xFF, 0xFB, 0x90, 0x00])  # sync|MPEG1|L3|noCRC, 128k|44.1k
        data = hdr + bytes(417 - 4)
        info = parse_frames(data, keep_frames=True)
        assert info.n_frames == 1
        assert info.sample_rate == 44100
        assert info.channels == 2
        assert info.bitrate_kbps_mode == 128
        assert info.duration_s == 1152 / 44100
        assert info.frames[0].size == 417

    @pytest.mark.parametrize("rate", [44100, 48000, 32000, 22050, 24000,
                                      16000, 11025, 12000, 8000])
    @pytest.mark.parametrize("layer", [1, 2, 3])
    def test_round_trip_all_versions_and_layers(self, rate, layer):
        data = encode_frames(
            n_frames=5, bitrate_kbps=64, sample_rate=rate, channels=1, layer=layer
        )
        info = parse_frames(data, keep_frames=True)
        assert info.n_frames == 5
        assert info.sample_rate == rate
        assert info.channels == 1
        assert not info.is_vbr
        # exact duration: 5 frames x samples-per-frame / rate
        spf = info.frames[0].samples
        assert info.duration_s == 5 * spf / rate
        # layer-correct samples per frame
        mpeg1 = rate in (44100, 48000, 32000)
        expect_spf = {1: 384, 2: 1152, 3: 1152 if mpeg1 else 576}[layer]
        assert spf == expect_spf

    def test_vbr_stream_bitrate_census(self):
        data = encode_frames(
            n_frames=9, bitrate_kbps=[64, 128, 96], sample_rate=44100,
            channels=2, layer=3,
        )
        info = parse_frames(data)
        assert info.is_vbr
        assert (info.bitrate_kbps_min, info.bitrate_kbps_max) == (64, 128)
        # 3 frames each: tie broken to the lowest
        assert info.bitrate_kbps_mode == 64

    def test_xing_header_and_id3v2_skip(self):
        data = encode_frames(
            n_frames=12, bitrate_kbps=128, sample_rate=44100, channels=2,
            layer=3, id3v2_bytes=64, xing=True,
        )
        info = parse_frames(data)
        assert info.id3v2_bytes == 64
        assert info.vbr_tag == "Xing"
        assert info.vbr_tag_frames == 12
        assert info.n_frames == 12  # the walk agrees with the tag

    def test_vbri_header_parsed(self):
        """VBRI (the Fraunhofer VBR tag) sits at a FIXED offset 32 after
        the header regardless of channel mode; hand-assembled since
        encode_frames only emits Xing."""
        data = bytearray(encode_frames(n_frames=4, bitrate_kbps=128,
                                       sample_rate=44100, channels=2, layer=3))
        at = 4 + 32
        tag = b"VBRI" + struct.pack(">HHH", 1, 0, 0) + struct.pack(">I", 9999)
        tag += struct.pack(">I", 4)  # frame count at offset +14
        data[at:at + len(tag)] = tag
        info = parse_frames(bytes(data))
        assert info.vbr_tag == "VBRI"
        assert info.vbr_tag_frames == 4

    def test_id3v1_trailer_tolerated(self):
        data = encode_frames(n_frames=3, sample_rate=44100) + b"TAG" + bytes(125)
        assert parse_frames(data).n_frames == 3

    def test_crc_protected_xing_found(self):
        """A CRC-protected frame (protection bit clear) carries a 2-byte
        CRC before the side info, shifting the Xing tag by 2 — common in
        real crawls and previously missed (round-6 ADVICE)."""
        data = encode_frames(
            n_frames=7, bitrate_kbps=128, sample_rate=44100, channels=2,
            layer=3, xing=True, crc=True,
        )
        info = parse_frames(data)
        assert info.vbr_tag == "Xing"
        assert info.vbr_tag_frames == 7
        assert info.n_frames == 7

    def test_crc_protected_round_trip_all_channel_modes(self):
        for channels in (1, 2):
            data = encode_frames(
                n_frames=4, bitrate_kbps=64, sample_rate=22050,
                channels=channels, layer=3, xing=True, crc=True,
            )
            info = parse_frames(data)
            assert info.vbr_tag == "Xing" and info.n_frames == 4

    def test_vbri_found_after_crc_slot(self):
        """Writers that count the VBRI offset from after the CRC are
        tolerated: both candidate positions are probed."""
        data = bytearray(encode_frames(n_frames=4, bitrate_kbps=128,
                                       sample_rate=44100, channels=2,
                                       layer=3, crc=True))
        at = 4 + 2 + 32  # header + CRC slot + fixed 32
        tag = b"VBRI" + struct.pack(">HHH", 1, 0, 0) + struct.pack(">I", 9999)
        tag += struct.pack(">I", 4)
        data[at:at + len(tag)] = tag
        info = parse_frames(bytes(data))
        assert info.vbr_tag == "VBRI"
        assert info.vbr_tag_frames == 4


class TestId3v2Frames:
    def test_v24_utf8_round_trip(self):
        from etl_batch_spark.llmops.mp3 import parse_id3v2_frames

        d = encode_frames(n_frames=3, sample_rate=44100,
                          id3_tags={"TIT2": "Hello", "TPE1": "Wörld ñ"})
        assert parse_id3v2_frames(d) == {"TIT2": "Hello", "TPE1": "Wörld ñ"}
        # the frame walk still sees the tag as an opaque skip region
        info = parse_frames(d)
        assert info.n_frames == 3 and info.id3v2_bytes > 10

    def test_v23_latin1_and_utf16(self):
        """v2.3 frames carry PLAIN big-endian sizes (not syncsafe) and
        the Latin-1/UTF-16 encodings — hand-assembled per the spec."""
        from etl_batch_spark.llmops.mp3 import parse_id3v2_frames

        def frame(fid, body):
            return fid + struct.pack(">I", len(body)) + b"\x00\x00" + body

        frames = frame(b"TIT2", b"\x00Latin") + frame(
            b"TPE1", b"\x01" + "ütf16".encode("utf-16")
        )
        n = len(frames)
        tag = b"ID3\x03\x00\x00" + bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
        ) + frames
        assert parse_id3v2_frames(tag) == {"TIT2": "Latin", "TPE1": "ütf16"}

    def test_padding_only_tag_and_absent_tag(self):
        from etl_batch_spark.llmops.mp3 import parse_id3v2_frames

        assert parse_id3v2_frames(
            encode_frames(n_frames=1, sample_rate=44100, id3v2_bytes=64)
        ) == {}
        assert parse_id3v2_frames(b"no tag here") == {}

    def test_frame_overrun_is_loud(self):
        from etl_batch_spark.llmops.mp3 import parse_id3v2_frames

        d = bytearray(encode_frames(n_frames=1, sample_rate=44100,
                                    id3_tags={"TIT2": "x"}))
        at = d.find(b"TIT2")
        d[at + 4:at + 8] = bytes([0x7F] * 4)  # absurd syncsafe size
        with pytest.raises(Mp3Error, match="overruns"):
            parse_id3v2_frames(bytes(d))

    def test_non_text_frames_skipped_structurally(self):
        from etl_batch_spark.llmops.mp3 import parse_id3v2_frames

        def frame(fid, body):
            n = len(body)
            size = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                          (n >> 7) & 0x7F, n & 0x7F])
            return fid + size + b"\x00\x00" + body

        frames = frame(b"APIC", b"\x00image/png\x00\x03\x00binary...") + frame(
            b"TIT2", b"\x03after"
        )
        n = len(frames)
        tag = b"ID3\x04\x00\x00" + bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
        ) + frames
        assert parse_id3v2_frames(tag) == {"TIT2": "after"}


class TestTolerantTrailing:
    def test_trailing_junk_keeps_walked_prefix(self):
        data = encode_frames(n_frames=5, sample_rate=44100)
        info = parse_frames(data + b"\x00" * 9, tolerate_trailing=True)
        assert info.n_frames == 5
        assert info.trailing_bytes == 9
        assert info.duration_s == 5 * 1152 / 44100

    def test_truncated_final_frame_keeps_prefix(self):
        data = encode_frames(n_frames=5, sample_rate=44100)
        info = parse_frames(data[:-10], tolerate_trailing=True)
        assert info.n_frames == 4
        frame_size = 144 * 128000 // 44100
        assert info.trailing_bytes == frame_size - 10

    def test_parameter_change_treated_as_trailing(self):
        a = encode_frames(n_frames=2, sample_rate=44100, channels=2)
        b = encode_frames(n_frames=1, sample_rate=48000, channels=2)
        info = parse_frames(a + b, tolerate_trailing=True)
        assert info.n_frames == 2
        assert info.trailing_bytes == len(b)

    def test_clean_stream_reports_zero_trailing(self):
        data = encode_frames(n_frames=3, sample_rate=44100)
        assert parse_frames(data, tolerate_trailing=True).trailing_bytes == 0

    def test_first_frame_failure_still_loud(self):
        with pytest.raises(Mp3Error):
            parse_frames(b"\x00" * 64, tolerate_trailing=True)

    def test_strict_is_the_default(self):
        data = encode_frames(n_frames=3, sample_rate=44100)
        with pytest.raises(Mp3Error, match="sync"):
            parse_frames(data + b"junk")

    def test_frame_index_enables_range_reads(self):
        data = encode_frames(n_frames=4, bitrate_kbps=96, sample_rate=32000)
        frames = parse_frames(data, keep_frames=True).frames
        assert [f.offset for f in frames] == [0, 432, 864, 1296]
        # each indexed slice re-parses as a 1-frame stream
        one = data[frames[2].offset:frames[2].offset + frames[2].size]
        assert parse_frames(one).n_frames == 1

    def test_keep_frames_off_by_default(self):
        data = encode_frames(n_frames=4, sample_rate=44100)
        assert parse_frames(data).frames == []


class TestErrors:
    @pytest.mark.parametrize(
        "payload",
        [
            b"",
            b"\x00" * 64,                                # no sync
            b"\xff\xe0\x00\x00" + bytes(64),             # reserved version+layer
        ],
    )
    def test_garbage_is_loud(self, payload):
        with pytest.raises(Mp3Error):
            parse_frames(payload)

    def test_truncated_final_frame_is_loud(self):
        data = encode_frames(n_frames=3, sample_rate=44100)
        with pytest.raises(Mp3Error, match="truncated final frame"):
            parse_frames(data[:-10])

    def test_trailing_garbage_is_loud(self):
        data = encode_frames(n_frames=3, sample_rate=44100)
        with pytest.raises(Mp3Error, match="sync"):
            parse_frames(data + b"junk")

    def test_mid_file_parameter_change_is_loud(self):
        a = encode_frames(n_frames=2, sample_rate=44100, channels=2)
        b = encode_frames(n_frames=1, sample_rate=48000, channels=2)
        with pytest.raises(Mp3Error, match="parameters change"):
            parse_frames(a + b)

    def test_free_format_is_out_of_scope(self):
        hdr = bytes([0xFF, 0xFB, 0x00, 0x00])  # bitrate index 0
        with pytest.raises(Mp3Error, match="free-format"):
            parse_frames(hdr + bytes(100))

    def test_id3_overrun_is_loud(self):
        bad = b"ID3\x04\x00\x00" + bytes([0, 0, 7, 0x7F]) + bytes(10)
        with pytest.raises(Mp3Error, match="exceeds payload"):
            parse_frames(bad)

    def test_non_syncsafe_id3_size_is_loud(self):
        bad = b"ID3\x04\x00\x00" + bytes([0x80, 0, 0, 0]) + bytes(200)
        with pytest.raises(Mp3Error, match="syncsafe"):
            parse_frames(bad)


    def test_xing_declared_vs_walked_divergence_visible(self):
        """A tag lying about the frame count is the caller's signal to
        distrust seek tables: both numbers are exposed."""
        data = bytearray(
            encode_frames(n_frames=6, sample_rate=44100, channels=2, xing=True)
        )
        at = 4 + 32 + 8  # header + MPEG1-stereo side info + 'Xing'+flags
        data[at:at + 4] = struct.pack(">I", 999)
        info = parse_frames(bytes(data))
        assert info.n_frames == 6
        assert info.vbr_tag_frames == 999
