"""Ogg container codec: an independently hand-assembled page, CRC
verification against a known vector, Vorbis/Opus header round trips,
comment metadata, multi-page packet reassembly, exact duration, and
loud failure on corruption."""

from __future__ import annotations

import struct

import pytest

from etl_batch_spark.llmops.oggv import (
    OggError,
    _crc,
    encode_ogg,
    parse_ogg,
)


class TestCrc:
    def test_known_vector(self):
        """The Ogg CRC (poly 0x04C11DB7, init 0, no reflection, xorout
        0) over '123456789' is 0x89A1897F — cross-checked here against
        an independent bit-at-a-time implementation so a table-build
        bug cannot self-confirm."""

        def crc_bitwise(data: bytes) -> int:
            reg = 0
            for byte in data:
                for i in range(7, -1, -1):
                    top = (reg >> 31) & 1
                    reg = (reg << 1) & 0xFFFFFFFF
                    if top ^ ((byte >> i) & 1):
                        reg ^= 0x04C11DB7
            return reg

        assert _crc(b"123456789") == 0x89A1897F
        assert crc_bitwise(b"123456789") == 0x89A1897F
        msg = b"OggS\x00\x02" + bytes(range(40))
        assert _crc(msg) == crc_bitwise(msg)

    def test_body_flip_detected(self):
        data = encode_ogg(codec="vorbis")
        bad = bytearray(data)
        bad[-1] ^= 0x01
        with pytest.raises(OggError, match="CRC"):
            parse_ogg(bytes(bad))

    def test_header_flip_detected(self):
        data = bytearray(encode_ogg(codec="vorbis"))
        data[6] ^= 0x40  # granule byte of the first page
        with pytest.raises(OggError, match="CRC"):
            parse_ogg(bytes(data))


class TestVorbis:
    def test_round_trip(self):
        data = encode_ogg(
            codec="vorbis", sample_rate=22050, channels=1, n_samples=66150,
            comments={"ARTIST": "a", "TITLE": "t"},
        )
        info = parse_ogg(data)
        assert info.codec == "vorbis"
        assert (info.sample_rate, info.channels) == (22050, 1)
        assert info.duration_s == 3.0  # exact: granule / rate
        assert info.comments == {"ARTIST": "a", "TITLE": "t"}

    def test_comment_keys_case_folded_last_wins(self):
        data = encode_ogg(codec="vorbis", comments={"artist": "x"})
        assert parse_ogg(data).comments["ARTIST"] == "x"

    def test_parses_independently_built_page(self):
        """Identification-only stream built byte-by-byte from RFC 3533
        + the Vorbis I spec (not via encode_ogg)."""
        ident = b"\x01vorbis" + struct.pack("<IBI", 0, 2, 8000)
        ident += struct.pack("<iii", 0, 0, 0) + b"\x58\x01"
        comment = b"\x03vorbis" + struct.pack("<I", 0) + struct.pack("<I", 0) + b"\x01"

        def page(seq, granule, htype, body):
            h = bytearray(b"OggS\x00")
            h.append(htype)
            h += struct.pack("<qIII", granule, 7, seq, 0)
            h += bytes([1, len(body)])
            raw = bytes(h) + body
            return raw[:22] + struct.pack("<I", _crc(raw)) + raw[26:]

        data = page(0, 0, 0x2, ident) + page(1, 0, 0x0, comment) + page(2, 16000, 0x4, b"\xAA" * 10)
        info = parse_ogg(data)
        assert (info.codec, info.sample_rate, info.channels) == ("vorbis", 8000, 2)
        assert info.duration_s == 2.0


class TestOpus:
    def test_round_trip_pre_skip_subtracted(self):
        data = encode_ogg(
            codec="opus", sample_rate=16000, channels=2,
            n_samples=144000, pre_skip=312,
        )
        info = parse_ogg(data)
        assert info.codec == "opus"
        assert info.sample_rate == 16000   # original input rate, reported as-is
        assert info.pre_skip == 312
        assert info.duration_s == 3.0      # granules are 48 kHz ALWAYS

    def test_opus_header_pages_have_no_granule(self):
        # encode_ogg stamps -1 on Opus header pages; duration must come
        # from the audio pages alone
        data = encode_ogg(codec="opus", n_samples=48000, n_audio_pages=1)
        assert parse_ogg(data).duration_s == 1.0


class TestFraming:
    def test_packet_spanning_pages_reassembles(self):
        """A comment packet longer than 255 bytes forces lacing values
        of 255 + remainder; the reassembled packet must parse whole."""
        big = {"DESCRIPTION": "x" * 600}
        info = parse_ogg(encode_ogg(codec="vorbis", comments=big))
        assert info.comments["DESCRIPTION"] == "x" * 600

    def test_multiplexed_second_stream_ignored_but_crc_checked(self):
        a = encode_ogg(codec="vorbis", serial=1, n_samples=8000, sample_rate=8000)
        b = encode_ogg(codec="opus", serial=2)
        info = parse_ogg(a + b)
        assert info.codec == "vorbis" and info.serial == 1
        assert info.duration_s == 1.0
        bad = bytearray(a + b)
        bad[-1] ^= 0x01  # corrupt the OTHER stream's last page
        with pytest.raises(OggError, match="CRC"):
            parse_ogg(bytes(bad))

    @pytest.mark.parametrize("payload", [b"", b"OggS" + bytes(10), b"\x00" * 64])
    def test_garbage_is_loud(self, payload):
        with pytest.raises(OggError):
            parse_ogg(payload)

    def test_truncation_is_loud(self):
        data = encode_ogg(codec="vorbis")
        with pytest.raises(OggError):
            parse_ogg(data[:-5])

    def test_missing_bos_is_loud(self):
        data = encode_ogg(codec="vorbis")
        # second page onward (skip the BOS page): must refuse
        second = data.index(b"OggS", 4)
        with pytest.raises(OggError, match="BOS"):
            parse_ogg(data[second:])

