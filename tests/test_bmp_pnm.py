"""BMP and PGM/PPM codecs: lossless round-trips (both are uncompressed),
hand-assembled known-answer files, loud failure on corrupt payloads,
and the shared decode_image dispatch."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_batch_spark.llmops.bmp import BmpError, decode_bmp, encode_bmp
from etl_batch_spark.llmops.pnm import PnmError, decode_pnm, encode_pnm


def _rand(w, h, ch, seed=0):
    return np.random.default_rng(seed).integers(0, 256, (h, w, ch), dtype=np.uint8)


class TestBmp:
    def test_decodes_independently_built_bmp(self):
        """2x2 24-bit BMP assembled by hand: bottom-up rows, BGR order,
        2-byte row padding (2 px * 3 B = 6 -> stride 8)."""
        rows = (
            bytes([255, 0, 0, 0, 255, 0, 0, 0])    # bottom row: blue, green
            + bytes([0, 0, 255, 255, 255, 255, 0, 0])  # top row: red, white
        )
        info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
        data = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54) + info + rows
        w, h, ch, px = decode_bmp(data)
        assert (w, h, ch) == (2, 2, 3)
        got = np.frombuffer(px, np.uint8).reshape(2, 2, 3)
        want = np.array(
            [[[255, 0, 0], [255, 255, 255]], [[0, 0, 255], [0, 255, 0]]], np.uint8
        )
        assert np.array_equal(got, want)

    @pytest.mark.parametrize("channels", [3, 4])
    @pytest.mark.parametrize("top_down", [False, True])
    def test_roundtrip_bit_exact(self, channels, top_down):
        want = _rand(13, 7, channels, seed=channels)
        data = encode_bmp(13, 7, channels, want.tobytes(), top_down=top_down)
        w, h, ch, px = decode_bmp(data)
        assert (w, h, ch) == (13, 7, channels)
        assert np.array_equal(np.frombuffer(px, np.uint8).reshape(7, 13, ch), want)

    def test_8bit_paletted(self):
        """Hand-built 8-bit BMP: 2 palette entries (BGRA), 3x1 indices."""
        pal = bytes([0, 0, 255, 0]) + bytes([0, 255, 0, 0])  # red, green
        row = bytes([0, 1, 0]) + b"\x00"  # stride pads 3 -> 4
        info = struct.pack("<IiiHHIIiiII", 40, 3, 1, 1, 8, 0, len(row), 0, 0, 2, 0)
        off = 54 + len(pal)
        data = struct.pack("<2sIHHI", b"BM", off + len(row), 0, 0, off) + info + pal + row
        w, h, ch, px = decode_bmp(data)
        assert (w, h, ch) == (3, 1, 3)
        assert px == bytes([255, 0, 0, 0, 255, 0, 255, 0, 0])

    def test_rejects_out_of_scope_and_corrupt(self):
        data = encode_bmp(4, 4, 3, _rand(4, 4, 3, 1).tobytes())
        rle = bytearray(data)
        struct.pack_into("<I", rle, 30, 1)  # BI_RLE8
        with pytest.raises(BmpError, match="compression"):
            decode_bmp(bytes(rle))
        with pytest.raises(BmpError, match="signature|truncated"):
            decode_bmp(data[:30])
        big = bytearray(data)
        struct.pack_into("<ii", big, 18, 60000, 60000)
        with pytest.raises(BmpError, match="max_pixels"):
            decode_bmp(bytes(big))
        short = bytearray(data)
        struct.pack_into("<I", short, 10, len(data) - 8)  # pixels past end
        with pytest.raises(BmpError, match="pixel array"):
            decode_bmp(bytes(short))


class TestPnm:
    def test_decodes_independently_built_ppm(self):
        """ASCII P3 with comments; maxval 100 scales to 8-bit."""
        data = b"P3\n# a comment\n2 1\n# another\n100\n100 0 0  50 50 50\n"
        w, h, ch, px = decode_pnm(data)
        assert (w, h, ch) == (2, 1, 3)
        assert px == bytes([255, 0, 0, 128, 128, 128])

    @pytest.mark.parametrize("channels", [1, 3])
    @pytest.mark.parametrize("binary", [True, False])
    def test_roundtrip_bit_exact(self, channels, binary):
        want = _rand(11, 6, channels, seed=channels + (2 if binary else 0))
        data = encode_pnm(11, 6, channels, want.tobytes(), binary=binary,
                          comment="fixture")
        w, h, ch, px = decode_pnm(data)
        assert (w, h, ch) == (11, 6, channels)
        assert np.array_equal(np.frombuffer(px, np.uint8).reshape(6, 11, ch), want)

    def test_binary_raster_may_start_with_whitespace_byte(self):
        """The single header/raster separator is consumed exactly once —
        a raster whose FIRST SAMPLE is 0x0A (newline) must survive."""
        want = np.full((2, 2, 1), 0x0A, np.uint8)
        data = encode_pnm(2, 2, 1, want.tobytes())
        _, _, _, px = decode_pnm(data)
        assert px == want.tobytes()

    def test_rejects_out_of_scope_and_corrupt(self):
        with pytest.raises(PnmError, match="PBM"):
            decode_pnm(b"P4\n2 2\n\x00")
        with pytest.raises(PnmError, match="maxval"):
            decode_pnm(b"P5\n2 2\n65535\n" + b"\x00" * 8)
        with pytest.raises(PnmError, match="raster"):
            decode_pnm(b"P6\n4 4\n255\n" + b"\x00" * 10)  # short raster
        with pytest.raises(PnmError, match="max_pixels"):
            decode_pnm(b"P5\n60000 60000\n255\n")
        with pytest.raises(PnmError, match="exceeds declared maxval"):
            decode_pnm(b"P2\n1 1\n10\n200\n")


class TestDispatch:
    def test_bmp_and_pnm_through_decode_image(self, spark):
        from etl_batch_spark.llmops.multimodal import decode_image

        img = _rand(6, 4, 3, seed=9)
        rows = [
            (1, bytearray(encode_bmp(6, 4, 3, img.tobytes()))),
            (2, bytearray(encode_pnm(6, 4, 3, img.tobytes()))),
            (3, bytearray(encode_pnm(6, 4, 1, img[:, :, 0].tobytes()))),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {r["doc_id"]: r for r in decode_image(df, fake=False).collect()}
        assert all((got[i]["width"], got[i]["height"]) == (6, 4) for i in (1, 2, 3))
        # BMP and PPM carry identical pixels -> identical features
        assert list(got[1]["feature"]) == list(got[2]["feature"])


class TestCodecProperty:
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=20, deadline=None)
    @given(st.binary(min_size=0, max_size=120))
    def test_bmp_garbage_never_leaks_foreign_errors(self, blob):
        """Arbitrary bytes either decode (hypothesis CAN assemble a
        legal file) or raise BmpError — never a raw struct/numpy
        error."""
        try:
            decode_bmp(blob)
        except BmpError:
            pass

    @settings(max_examples=20, deadline=None)
    @given(st.binary(min_size=0, max_size=120))
    def test_pnm_garbage_never_leaks_foreign_errors(self, blob):
        try:
            decode_pnm(b"P5" + blob)
        except PnmError:
            pass
