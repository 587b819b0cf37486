"""Media triage probe: header-only container/dims/duration across every
format the repo can generate, hand-built headers for the formats it
cannot, never-raises semantics, and the Spark narrow-map transform."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_batch_spark.llmops.mediainfo import probe_media, probe_media_df


def _img(w, h, ch=3, seed=0):
    return np.random.default_rng(seed).integers(0, 256, (h, w, ch), dtype=np.uint8)


class TestOwnFormats:
    """Fixtures from the repo's own encoders: probe fields must match
    the encode parameters exactly."""

    def test_png_jpeg_gif_bmp_pnm_dims(self):
        from etl_batch_spark.llmops.bmp import encode_bmp
        from etl_batch_spark.llmops.gif import encode_gif
        from etl_batch_spark.llmops.jpeg import encode_jpeg
        from etl_batch_spark.llmops.png import encode_png
        from etl_batch_spark.llmops.pnm import encode_pnm

        px = _img(37, 23)
        cases = {
            "png": encode_png(37, 23, 3, px.tobytes()),
            "jpeg": encode_jpeg(37, 23, 3, px.tobytes()),
            "gif": encode_gif(37, 23, (px[:, :, 0] % 4).tobytes(),
                              np.arange(12, dtype=np.uint8).reshape(4, 3)),
            "bmp": encode_bmp(37, 23, 3, px.tobytes()),
            "pnm": encode_pnm(37, 23, 3, px.tobytes()),
        }
        for name, payload in cases.items():
            r = probe_media(payload)
            assert r["container"] == name, name
            assert (r["width"], r["height"]) == (37, 23), name
            assert r["modality"] == "image" and r["error"] is None, name

    def test_progressive_jpeg_codec_tag(self):
        from etl_batch_spark.llmops.jpeg import encode_jpeg

        px = _img(8, 8).tobytes()
        assert probe_media(encode_jpeg(8, 8, 3, px))["codec"] == "jpeg-baseline"
        assert (
            probe_media(encode_jpeg(8, 8, 3, px, progressive=True))["codec"]
            == "jpeg-progressive"
        )

    def test_wav_exact_duration(self):
        from etl_batch_spark.llmops.wav import encode_wav

        s = np.zeros((8000, 2), np.int64)  # exactly 0.5 s at 16 kHz
        r = probe_media(encode_wav(16000, s, bits=16))
        assert r["container"] == "wav" and r["modality"] == "audio"
        assert (r["sample_rate"], r["channels"]) == (16000, 2)
        assert r["duration_s"] == pytest.approx(0.5)
        assert r["codec"] == "pcm16"

    def test_avi_dims_and_duration(self):
        # RIFF/AVI with its avih main header: 200000 us per frame (5 fps),
        # 10 frames, 16x12
        avih = struct.pack("<10I4I", 200_000, 0, 0, 0, 10, 0, 1, 0, 16, 12, 0, 0, 0, 0)
        hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
        body = b"AVI " + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        r = probe_media(b"RIFF" + struct.pack("<I", len(body)) + body)
        assert r["container"] == "avi" and r["modality"] == "video"
        assert (r["width"], r["height"]) == (16, 12)
        assert r["duration_s"] == pytest.approx(2.0)  # 10 frames at 5 fps


class TestForeignHeaders:
    """Hand-assembled headers for formats the repo cannot fully decode —
    exactly the payloads triage exists to route."""

    def test_webp_lossless_dims(self):
        # VP8L: 0x2F then (w-1):14 | (h-1):14 LSB-first
        bits = (99) | (49 << 14)
        body = b"VP8L" + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits)
        data = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
        r = probe_media(data)
        assert r["container"] == "webp"
        assert (r["width"], r["height"]) == (100, 50)
        assert r["codec"] == "webp-lossless"

    def test_webp_lossy_dims(self):
        frame = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 320, 240)
        body = b"VP8 " + struct.pack("<I", len(frame)) + frame
        data = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
        r = probe_media(data)
        assert (r["width"], r["height"]) == (320, 240)
        assert r["codec"] == "webp-lossy"

    def test_flac_streaminfo(self):
        # rate 44100, 2 channels, 441000 samples -> 10 s
        packed = bytearray(18)
        rate, ch, total = 44100, 2, 441000
        packed[10] = rate >> 12
        packed[11] = (rate >> 4) & 0xFF
        packed[12] = ((rate & 0x0F) << 4) | ((ch - 1) << 1) | ((15) >> 4)
        packed[13] = ((15 & 0x0F) << 4) | ((total >> 32) & 0x0F)
        packed[14:18] = struct.pack(">I", total & 0xFFFFFFFF)
        streaminfo = bytes(10) + bytes(packed[10:]) + bytes(16)
        data = b"fLaC" + bytes([0x80, 0, 0, 34]) + streaminfo
        r = probe_media(data)
        assert r["container"] == "flac"
        assert (r["sample_rate"], r["channels"]) == (44100, 2)
        assert r["duration_s"] == pytest.approx(10.0)

    def test_mp3_frame_header(self):
        # MPEG1 Layer III, 128 kbps, 44100 Hz, stereo; 16 KB payload
        hdr = bytes([0xFF, 0xFB, 0x90, 0x00])
        data = hdr + b"\x00" * (16384 - 4)
        r = probe_media(data)
        assert r["container"] == "mp3" and r["codec"] == "mp3"
        assert (r["sample_rate"], r["channels"]) == (44100, 2)
        assert r["duration_s"] == pytest.approx(16384 * 8 / 128000, abs=0.01)
        # and behind an ID3v2 tag
        tag = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
        r2 = probe_media(tag + data)
        assert r2["container"] == "mp3" and r2["sample_rate"] == 44100

    def test_mp3_all_versions_and_layers_resolve(self):
        # the probe rides the frame codec's tables now, not just MPEG1 L3
        from etl_batch_spark.llmops.mp3 import encode_frames

        for rate, layer in [(22050, 3), (8000, 3), (44100, 2), (48000, 1)]:
            r = probe_media(encode_frames(n_frames=3, bitrate_kbps=64,
                                          sample_rate=rate, channels=1, layer=layer))
            assert r["container"] == "mp3" and r["error"] is None
            assert (r["sample_rate"], r["channels"]) == (rate, 1)

    def test_mp3_xing_tag_gives_exact_duration(self):
        from etl_batch_spark.llmops.mp3 import encode_frames

        data = encode_frames(n_frames=200, bitrate_kbps=128, sample_rate=44100,
                             channels=2, layer=3, xing=True)
        r = probe_media(data)
        # exact: declared 200 frames x 1152 samples / 44100 Hz
        assert r["duration_s"] == round(200 * 1152 / 44100, 3)

    def test_ogg_duration_from_tail_granule(self):
        from etl_batch_spark.llmops.oggv import encode_ogg

        r = probe_media(encode_ogg(codec="vorbis", sample_rate=22050,
                                   channels=1, n_samples=44100))
        assert r["codec"] == "vorbis" and r["duration_s"] == 2.0
        r2 = probe_media(encode_ogg(codec="opus", sample_rate=16000,
                                    channels=2, n_samples=96000, pre_skip=312))
        # Opus granules are 48 kHz regardless of the 16 kHz input rate
        assert r2["codec"] == "opus" and r2["duration_s"] == 2.0

    def test_ogg_tail_granule_ignores_body_bytes(self):
        """'OggS' occurring INSIDE page-body data (comment text, audio
        payload, trailing junk) must not be trusted as a page header —
        the candidate needs version byte 0, sane header flags, and an
        in-bounds lacing table (round-6 ADVICE)."""
        from etl_batch_spark.llmops.oggv import encode_ogg

        data = encode_ogg(codec="vorbis", sample_rate=22050, channels=1,
                          n_samples=44100)
        # bogus tail: 'OggS' + nonzero version byte + huge positive
        # "granule" bytes — the old scan would have read garbage
        r = probe_media(data + b"OggS\x07" + b"\x01" * 40)
        assert r["codec"] == "vorbis" and r["duration_s"] == 2.0

    def test_ogg_tail_granule_ignores_other_serial(self):
        """A structurally-valid page header of ANOTHER multiplexed
        stream in the tail must not supply the granule."""
        from etl_batch_spark.llmops.oggv import encode_ogg

        data = encode_ogg(codec="vorbis", sample_rate=22050, channels=1,
                          n_samples=44100, serial=0x1234)
        alien = (b"OggS\x00\x04" + struct.pack("<qIII", 999_999_999,
                                               0xDEAD, 99, 0) + b"\x00")
        r = probe_media(data + alien)
        assert r["duration_s"] == 2.0

    def test_opus_identification(self):
        pkt = b"OpusHead" + bytes([1, 2, 0, 0]) + struct.pack("<I", 48000) + b"\x00" * 4
        page = (b"OggS" + bytes([0, 2]) + b"\x00" * 20 + bytes([1, len(pkt)]) + pkt)
        r = probe_media(page)
        assert r["container"] == "ogg" and r["codec"] == "opus"
        assert (r["sample_rate"], r["channels"]) == (48000, 2)

    def test_mp4_mvhd_and_tkhd(self):
        def box(name, body):
            return struct.pack(">I", 8 + len(body)) + name + body

        mvhd = box(b"mvhd", bytes([0, 0, 0, 0]) + bytes(8)
                   + struct.pack(">II", 1000, 12500) + bytes(80))
        tkhd = box(b"tkhd", bytes([0, 0, 0, 0]) + bytes(72)
                   + struct.pack(">II", 640 << 16, 360 << 16))
        moov = box(b"moov", mvhd + box(b"trak", tkhd))
        data = box(b"ftyp", b"isom" + bytes(8)) + moov
        r = probe_media(data)
        assert r["container"] == "mp4" and r["modality"] == "video"
        assert r["duration_s"] == pytest.approx(12.5)
        assert (r["width"], r["height"]) == (640, 360)


class TestRobustness:
    def test_ftyp_in_text_is_not_mp4(self):
        """'ftyp' at offset 4 alone must not classify as mp4: behind a
        short magic like PNM's 'P2', those bytes come from DOCUMENT
        TEXT (the mm07/pipe05 fixture shape), and the leading 4 bytes
        are printable ASCII — an implausibly huge big-endian box size.
        A real ftyp box (plausible size field) still classifies."""
        r = probe_media(b"P2xxftypisomrest of the document text")
        assert r["container"] == "pnm"
        assert probe_media(b"ZZZZftypisom....")["container"] == "unknown"
        real = struct.pack(">I", 16) + b"ftypisom" + bytes(4)
        assert probe_media(real)["container"] == "mp4"

    def test_unknown_and_garbage_never_raise(self):
        assert probe_media(b"")["container"] == "unknown"
        assert probe_media(b"hello world")["container"] == "unknown"
        # recognized container, corrupt header: container kept, error set
        r = probe_media(b"RIFF\x04\x00\x00\x00WAVE")
        assert r["container"] == "wav" and r["error"] is not None

    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(st.binary(min_size=0, max_size=300))
    def test_arbitrary_bytes_never_raise(self, blob):
        r = probe_media(blob)
        assert "container" in r

    @settings(max_examples=15, deadline=None)
    @given(st.binary(min_size=0, max_size=120), st.sampled_from(
        [b"RIFF", b"fLaC", b"OggS", b"ID3", b"\xff\xfb", b"BM", b"P5"]))
    def test_signature_prefixed_garbage_never_raises(self, blob, sig):
        r = probe_media(sig + blob)
        assert "container" in r


class TestSparkTransform:
    def test_probe_media_df_mixed_batch(self, spark):
        from etl_batch_spark.llmops.png import encode_png
        from etl_batch_spark.llmops.wav import encode_wav

        rows = [
            (1, bytearray(encode_png(5, 4, 3, _img(5, 4).tobytes()))),
            (2, bytearray(encode_wav(8000, np.zeros((800, 1), np.int64)))),
            (3, bytearray(b"not media at all")),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {r["doc_id"]: r for r in probe_media_df(df).collect()}
        assert got[1]["container"] == "png" and got[1]["width"] == 5
        assert got[2]["container"] == "wav" and got[2]["duration_s"] == pytest.approx(0.1)
        assert got[3]["container"] == "unknown"
        assert got[4]["container"] == "unknown" and "NullPayload" in got[4]["error"]

    def test_probe_media_df_string_id_and_keep_cols(self, spark):
        """probe→route composition: a string id column (crawl-scale ids
        are URLs/hashes) plus keep_cols carrying source and the payload
        itself through, so routing filters feed the decoder directly."""
        from etl_batch_spark.llmops.png import encode_png

        png = bytearray(encode_png(5, 4, 3, _img(5, 4).tobytes()))
        rows = [("u://a", "web", png), ("u://b", "books", bytearray(b"nope"))]
        df = spark.createDataFrame(rows, "doc_id string, source string, payload binary")
        probed = probe_media_df(df, keep_cols=("source", "payload"))
        assert [f.name for f in probed.schema.fields[:3]] == ["doc_id", "source", "payload"]
        assert probed.schema["doc_id"].dataType.simpleString() == "string"
        got = {r["doc_id"]: r for r in probed.collect()}
        assert got["u://a"]["container"] == "png" and got["u://a"]["source"] == "web"
        assert bytes(got["u://b"]["payload"]) == b"nope"
        # the routed subset decodes without a re-join
        from etl_batch_spark.llmops.multimodal import decode_image

        routed = probed.filter(probed.container == "png")
        out = decode_image(routed).collect()
        assert len(out) == 1 and out[0]["doc_id"] == "u://a" and out[0]["width"] == 5

    def test_probe_media_df_rejects_colliding_keep_cols(self, spark):
        df = spark.createDataFrame(
            [(1, "png", bytearray(b"x"))],
            "doc_id long, container string, payload binary",
        )
        with pytest.raises(ValueError, match="collide"):
            probe_media_df(df, keep_cols=("container",))
        # doc_id repeated in keep_cols (or any duplicate) would emit a
        # duplicate output field and die later as an opaque Arrow
        # schema error — must fail loudly up front instead
        with pytest.raises(ValueError, match="unique"):
            probe_media_df(df, keep_cols=("doc_id",))
        with pytest.raises(ValueError, match="unique"):
            probe_media_df(df, keep_cols=("payload", "payload"))

    def test_decode_audio_string_id(self, spark):
        from etl_batch_spark.llmops.multimodal import decode_audio

        df = spark.createDataFrame(
            [("s1", bytearray(b"payload-bytes"))], "source string, payload binary"
        )
        out = decode_audio(df, id_col="source", fake=True).collect()
        assert out[0]["source"] == "s1" and out[0]["sample_rate"] >= 8000
