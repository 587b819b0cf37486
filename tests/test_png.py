"""Pure-stdlib PNG codec: exact decode, every filter path, loud failure
on corrupt/out-of-scope payloads, and the real decode_image path."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from etl_batch_spark.llmops.png import PngError, decode_png, encode_png


def _chunk(ctype, payload):
    """PNG chunk framing: length + type + payload + CRC32."""
    return (
        struct.pack(">I", len(payload)) + ctype + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def _gradient(width, height, channels, seed=0):
    """Deterministic non-trivial pixel buffer (no two equal rows, per-
    channel phase shift) so filter predictors actually predict."""
    rng = np.arange(width * height * channels, dtype=np.int64)
    px = ((rng * 37 + (rng // channels) * 11 + seed) % 256).astype(np.uint8)
    return px.tobytes()


def _hand_built_png_2x2_rgb():
    """A 2x2 RGB PNG assembled chunk-by-chunk WITHOUT encode_png, so the
    decoder is checked against an independent construction (a shared
    encoder/decoder bug can't cancel out here)."""
    pixels = bytes(
        [255, 0, 0,  0, 255, 0,   # row 0: red, green
         0, 0, 255,  255, 255, 0]  # row 1: blue, yellow
    )
    raw = b"\x00" + pixels[:6] + b"\x00" + pixels[6:]  # filter 0 per row

    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    ), pixels


class TestCodec:
    def test_decodes_independently_built_png(self):
        data, pixels = _hand_built_png_2x2_rgb()
        w, h, ch, px = decode_png(data)
        assert (w, h, ch) == (2, 2, 3)
        assert px == pixels

    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    def test_roundtrip_every_filter_and_color_type(self, filter_type, channels):
        w, h = 13, 7  # odd dims: stride not a multiple of anything handy
        pixels = _gradient(w, h, channels, seed=filter_type)
        data = encode_png(w, h, channels, pixels, filter_type=filter_type)
        got = decode_png(data)
        assert got == (w, h, channels, pixels)

    def test_roundtrip_single_pixel_and_single_row(self):
        # degenerate shapes exercise the no-left / no-up predictor edges
        for w, h in [(1, 1), (5, 1), (1, 5)]:
            pixels = _gradient(w, h, 3, seed=9)
            for ft in (1, 2, 3, 4):
                assert decode_png(encode_png(w, h, 3, pixels, filter_type=ft)) == (
                    w, h, 3, pixels,
                )

    def test_ancillary_chunks_skipped(self):
        data, pixels = _hand_built_png_2x2_rgb()
        # splice a tEXt chunk between IHDR and IDAT
        text = b"Comment\x00hello"
        extra = (
            struct.pack(">I", len(text)) + b"tEXt" + text
            + struct.pack(">I", zlib.crc32(b"tEXt" + text) & 0xFFFFFFFF)
        )
        ihdr_end = 8 + 8 + 13 + 4
        spliced = data[:ihdr_end] + extra + data[ihdr_end:]
        assert decode_png(spliced)[3] == pixels

    def test_multiple_idat_chunks_concatenate(self):
        data, pixels = _hand_built_png_2x2_rgb()
        raw = b"\x00" + pixels[:6] + b"\x00" + pixels[6:]
        z = zlib.compress(raw)

        split = (
            data[: 8 + 8 + 13 + 4]
            + _chunk(b"IDAT", z[:5])
            + _chunk(b"IDAT", z[5:])
            + _chunk(b"IEND", b"")
        )
        assert decode_png(split)[3] == pixels

    def test_rejects_corruption_loudly(self):
        data, _ = _hand_built_png_2x2_rgb()
        with pytest.raises(PngError, match="signature"):
            decode_png(b"GIF89a" + data)
        # flip one byte inside IDAT payload -> CRC failure
        idat_pos = data.index(b"IDAT") + 4
        broken = bytearray(data)
        broken[idat_pos] ^= 0xFF
        with pytest.raises(PngError, match="CRC"):
            decode_png(bytes(broken))
        with pytest.raises(PngError, match="truncated"):
            decode_png(data[:-6])

    def test_rejects_out_of_scope_variants(self):
        def ihdr_png(depth, color, interlace):
            return (
                b"\x89PNG\r\n\x1a\n"
                + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace))
                + _chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
                + _chunk(b"IEND", b"")
            )

        with pytest.raises(PngError, match="bit depth"):
            decode_png(ihdr_png(16, 2, 0))
        with pytest.raises(PngError, match="color type"):
            decode_png(ihdr_png(8, 3, 0))  # palette
        with pytest.raises(PngError, match="interlace"):
            decode_png(ihdr_png(8, 2, 1))  # Adam7

    def test_rejects_size_mismatch(self):
        # valid container, wrong decompressed length
        data = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
            + _chunk(b"IDAT", zlib.compress(b"\x00" * 5))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(PngError, match="decompressed size"):
            decode_png(data)


class TestDecodeImageReal:
    def test_real_png_payloads_decode_exactly(self, spark):
        """decode_image(fake=False) on real generated PNGs: exact dims,
        n_pixels, and the per-channel mean/std feature recomputed
        independently with numpy."""
        from etl_batch_spark.llmops.multimodal import decode_image

        imgs = {}
        rows = []
        for doc_id, (w, h, ch, ft) in enumerate(
            [(16, 9, 3, 4), (7, 7, 1, 1), (5, 12, 4, 2)]
        ):
            px = _gradient(w, h, ch, seed=doc_id)
            rows.append((doc_id, bytearray(encode_png(w, h, ch, px, filter_type=ft))))
            imgs[doc_id] = (w, h, ch, px)
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {r["doc_id"]: r for r in decode_image(df, fake=False).collect()}
        assert len(got) == 3
        for doc_id, (w, h, ch, px) in imgs.items():
            r = got[doc_id]
            assert (r["width"], r["height"]) == (w, h)
            assert r["n_pixels"] == w * h
            arr = np.frombuffer(px, np.uint8).reshape(h * w, ch).astype(np.float64) / 255.0
            want = list(arr.mean(axis=0)) + list(arr.std(axis=0))
            want = [round(float(v), 6) for v in (want + [0.0] * 8)[:8]]
            assert [round(float(v), 6) for v in r["feature"]] == want

    def test_unsupported_format_payload_still_raises(self, spark):
        from etl_batch_spark.llmops.multimodal import decode_image

        df = spark.createDataFrame(
            [(1, bytearray(b"RIFF\x00\x00\x00\x00WEBPVP8 "))],
            "doc_id long, payload binary",
        )
        with pytest.raises(Exception, match="NotImplementedError|PNG"):
            decode_image(df, fake=False).collect()


class TestCodecProperty:
    """Round-trip holds for ARBITRARY pixel content, dims and filter
    choices — not just the gradient fixtures (no Spark; pure codec)."""

    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 24),           # width
        st.integers(1, 24),           # height
        st.sampled_from([1, 2, 3, 4]),  # channels
        st.sampled_from([0, 1, 2, 3, 4]),  # filter type
        st.integers(0, 2**32 - 1),    # pixel seed
    )
    def test_roundtrip_arbitrary(self, w, h, ch, ft, seed):
        import random

        rng = random.Random(seed)
        pixels = bytes(rng.randrange(256) for _ in range(w * h * ch))
        assert decode_png(encode_png(w, h, ch, pixels, filter_type=ft)) == (
            w, h, ch, pixels,
        )

    @settings(max_examples=20, deadline=None)
    @given(st.binary(min_size=0, max_size=200))
    def test_garbage_never_decodes_silently(self, blob):
        """Arbitrary bytes raise PngError specifically (every malformed
        path is wrapped) — never fabricated pixels, never a raw
        struct/zlib error leaking through."""
        with pytest.raises(PngError):
            decode_png(blob)


def test_zlib_bomb_rejected_without_inflating(monkeypatch):
    """A corrupt stream claiming tiny dims but inflating huge must be
    rejected at the expected-size bound, not after a full (possibly
    multi-GB) decompression."""
    bomb = zlib.compress(b"\x00" * 10_000_000, 9)  # ~10 MB -> ~10 KB
    data = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", bomb)
        + _chunk(b"IEND", b"")
    )
    # the bounded decompressobj must never materialize more than
    # expected+1 bytes; forbid the unbounded one-shot API outright
    def banned(*a, **k):
        raise AssertionError("unbounded zlib.decompress called")

    monkeypatch.setattr(zlib, "decompress", banned)
    with pytest.raises(PngError, match="exceeds expected"):
        decode_png(data)


def test_decode_image_quarantine_mode(spark):
    """errors='quarantine': bad payloads survive as NULL-dim rows with
    the error message; good rows decode exactly as in raise mode."""
    from etl_batch_spark.llmops.multimodal import decode_image

    good_px = _gradient(4, 3, 3, seed=1)
    rows = [
        (1, bytearray(encode_png(4, 3, 3, good_px))),
        (2, bytearray(b"RIFF\x00\x00\x00\x00WEBPVP8 ")),    # unsupported format
        (3, bytearray(encode_png(4, 3, 3, good_px)[:-7])),  # truncated
        (4, bytearray(b"\xff\xd8\xff\xe0 jpeg-ish")),       # corrupt JPEG
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in
           decode_image(df, fake=False, errors="quarantine").collect()}
    assert got[1]["error"] is None and (got[1]["width"], got[1]["height"]) == (4, 3)
    assert got[2]["width"] is None and "NotImplementedError" in got[2]["error"]
    assert got[3]["width"] is None and "PngError" in got[3]["error"]
    assert got[4]["width"] is None and "JpegError" in got[4]["error"]
    # clean/quarantine split is one filter each
    out = decode_image(df, fake=False, errors="quarantine")
    assert out.filter("error IS NULL").count() == 1
    assert out.filter("error IS NOT NULL").count() == 3
    with pytest.raises(ValueError, match="errors must be"):
        decode_image(df, errors="bogus")


def test_hostile_ihdr_dimensions_rejected_before_allocation():
    """The inflate bound derives from the payload's own IHDR, so a
    crafted header claiming huge dims must be rejected BEFORE any
    decompression budget is allocated."""
    bomb = zlib.compress(b"\x00" * 500_000, 9)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 60000, 60000, 8, 6, 0, 0, 0))
        + _chunk(b"IDAT", bomb)
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(PngError, match="exceed max_pixels"):
        decode_png(data)
    # the cap is a dial: a caller that really wants huge images can
    # raise it explicitly (here it then fails on size, not dims)
    with pytest.raises(PngError, match="decompressed size"):
        decode_png(data, max_pixels=60000 * 60000)


class TestResizeImageReal:
    """Codec-side resize: decode -> bilinear -> PNG re-encode, with
    dims that must agree bit-for-bit with resize_plan's SQL."""

    def _payloads(self):
        rng = np.random.default_rng(17)
        from etl_batch_spark.llmops.jpeg import encode_jpeg

        rows = []
        for doc_id, (w, h, kind) in enumerate(
            [(300, 200, "png"), (64, 48, "png"), (257, 119, "jpeg"),
             (224, 224, "png"), (10, 500, "jpeg")]
        ):
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
            data = (encode_png(w, h, 3, px) if kind == "png"
                    else encode_jpeg(w, h, 3, px, quality=92))
            rows.append((doc_id, bytearray(data), w, h))
        return rows

    def test_dims_match_resize_plan_exactly(self, spark):
        from etl_batch_spark.llmops import multimodal

        rows = self._payloads()
        df = spark.createDataFrame(
            [(i, p) for i, p, _, _ in rows], "doc_id long, payload binary"
        )
        got = {r["doc_id"]: r for r in
               multimodal.resize_image(df, max_side=224).collect()}
        dims = spark.createDataFrame(
            [(i, w, h) for i, _, w, h in rows], "doc_id long, width int, height int"
        )
        plan = {r["doc_id"]: r for r in
                multimodal.resize_plan(dims, max_side=224).collect()}
        for i, _, _, _ in rows:
            assert (got[i]["target_width"], got[i]["target_height"]) == (
                plan[i]["target_width"], plan[i]["target_height"],
            ), i

    def test_output_is_decodable_png_with_target_dims(self, spark):
        from etl_batch_spark.llmops import multimodal

        rows = self._payloads()
        df = spark.createDataFrame(
            [(i, p) for i, p, _, _ in rows], "doc_id long, payload binary"
        )
        for r in multimodal.resize_image(df, max_side=224).collect():
            w, h, ch, px = decode_png(bytes(r["payload"]))
            assert (w, h) == (r["target_width"], r["target_height"])
            assert w <= 224 and h <= 224

    def test_within_cap_is_identity_pixels(self, spark):
        """An image already inside max_side re-encodes losslessly."""
        from etl_batch_spark.llmops import multimodal

        rng = np.random.default_rng(5)
        px = rng.integers(0, 256, (48, 64, 3), dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, bytearray(encode_png(64, 48, 3, px.tobytes())))],
            "doc_id long, payload binary",
        )
        r = multimodal.resize_image(df, max_side=224).collect()[0]
        w, h, ch, out = decode_png(bytes(r["payload"]))
        assert (w, h, ch) == (64, 48, 3)
        assert np.array_equal(np.frombuffer(out, np.uint8).reshape(48, 64, 3), px)
        # a NULL payload fails with a clear error naming the operator
        nul = spark.createDataFrame(
            [(1, bytearray(encode_png(64, 48, 3, px.tobytes()))), (2, None)],
            "doc_id long, payload binary",
        )
        with pytest.raises(Exception, match="NULL 'payload' — resize_image"):
            multimodal.resize_image(nul).collect()

    def test_constant_image_stays_constant_after_downscale(self, spark):
        from etl_batch_spark.llmops import multimodal

        px = np.full((300, 400, 3), [17, 200, 99], np.uint8)
        df = spark.createDataFrame(
            [(1, bytearray(encode_png(400, 300, 3, px.tobytes())))],
            "doc_id long, payload binary",
        )
        r = multimodal.resize_image(df, max_side=128).collect()[0]
        w, h, ch, out = decode_png(bytes(r["payload"]))
        arr = np.frombuffer(out, np.uint8).reshape(h, w, 3)
        assert (w, h) == (128, 96)
        assert np.array_equal(arr, np.full((96, 128, 3), [17, 200, 99], np.uint8))
