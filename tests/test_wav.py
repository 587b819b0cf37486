"""WAV codec: bit-exact PCM round-trips at every depth, an
independently hand-assembled file, the extensible-format wrapper, loud
failure on corrupt/out-of-scope payloads, and the real decode_audio
dispatch."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_batch_spark.llmops.wav import (
    WavError,
    decode_wav,
    encode_wav,
    to_float,
)


def _rand_samples(frames, channels, bits, seed=0):
    rng = np.random.default_rng(seed)
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    return rng.integers(lo, hi + 1, (frames, channels), dtype=np.int64)


class TestCodec:
    def test_decodes_independently_built_wav(self):
        """16-bit mono WAV assembled byte-by-byte from the RIFF spec
        (not via encode_wav), so a shared encoder/decoder bug cannot
        cancel out."""
        pcm = struct.pack("<4h", 0, 1000, -1000, 32767)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm
        )
        data = b"RIFF" + struct.pack("<I", len(body)) + body
        rate, ch, bits, samples = decode_wav(data)
        assert (rate, ch, bits) == (8000, 1, 16)
        assert samples.flatten().tolist() == [0, 1000, -1000, 32767]

    @pytest.mark.parametrize("bits", [8, 16, 24, 32])
    @pytest.mark.parametrize("channels", [1, 2])
    def test_pcm_roundtrip_bit_exact(self, bits, channels):
        want = _rand_samples(777, channels, bits, seed=bits + channels)
        data = encode_wav(44100, want, bits=bits)
        rate, ch, b, got = decode_wav(data)
        assert (rate, ch, b) == (44100, channels, bits)
        assert np.array_equal(got.astype(np.int64), want)

    @pytest.mark.parametrize("bits", [32, 64])
    def test_float_roundtrip_bit_exact(self, bits):
        rng = np.random.default_rng(bits)
        want = (rng.random((200, 2)) * 2 - 1).astype(
            np.float32 if bits == 32 else np.float64
        )
        rate, ch, b, got = decode_wav(
            encode_wav(48000, want, bits=bits, float_format=True)
        )
        assert (rate, ch, b) == (48000, 2, bits)
        assert np.array_equal(got, want)

    def test_extensible_wrapper(self):
        want = _rand_samples(100, 2, 24, seed=9)
        data = encode_wav(96000, want, bits=24, extensible=True)
        rate, ch, bits, got = decode_wav(data)
        assert (rate, ch, bits) == (96000, 2, 24)
        assert np.array_equal(got.astype(np.int64), want)

    def test_skips_foreign_chunks(self):
        """LIST/bext metadata chunks (odd sizes included — chunks are
        word-aligned) must be skipped, not decoded."""
        want = _rand_samples(50, 1, 16, seed=3)
        data = encode_wav(22050, want)
        # splice an odd-sized LIST chunk between fmt and data
        di = data.index(b"data")
        alien = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
        spliced = data[:di] + alien + data[di:]
        spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
        _, _, _, got = decode_wav(spliced)
        assert np.array_equal(got.astype(np.int64), want)

    def test_to_float_normalization(self):
        data = encode_wav(8000, np.array([[-32768], [0], [16384]], np.int64))
        _, _, bits, samples = decode_wav(data)
        f = to_float(samples, bits)
        assert f.flatten().tolist() == [-1.0, 0.0, 0.5]

    def test_rejects_out_of_scope_formats(self):
        want = _rand_samples(10, 1, 16, seed=1)
        data = bytearray(encode_wav(8000, want))
        fi = bytes(data).index(b"fmt ") + 8
        struct.pack_into("<H", data, fi, 0x0055)  # MP3 format tag
        with pytest.raises(WavError, match="format tag"):
            decode_wav(bytes(data))
        with pytest.raises(WavError, match="RIFF"):
            decode_wav(b"OggS" + bytes(data))

    def test_rejects_corruption_loudly(self):
        data = encode_wav(8000, _rand_samples(100, 2, 16, seed=2))
        with pytest.raises(WavError):
            decode_wav(data[:10])  # truncated header
        with pytest.raises(WavError, match="fmt"):
            decode_wav(data[:12])  # no chunks at all
        # data chunk size pointing past payload end
        t = bytearray(data)
        di = data.index(b"data") + 4
        struct.pack_into("<I", t, di, 1 << 30)
        with pytest.raises(WavError, match="past payload end"):
            decode_wav(bytes(t))

    def test_partial_frame_is_loud(self):
        data = encode_wav(8000, _rand_samples(10, 2, 16, seed=4))
        # shave one byte off the data chunk (and fix both size fields)
        t = bytearray(data[:-1])
        struct.pack_into("<I", t, 4, len(t) - 8)
        di = data.index(b"data") + 4
        (dsz,) = struct.unpack_from("<I", data, di)
        struct.pack_into("<I", t, di, dsz - 1)
        with pytest.raises(WavError, match="whole number"):
            decode_wav(bytes(t))

    def test_hostile_frame_count_rejected_before_allocation(self):
        """max_samples is enforced from declared sizes — a small crafted
        payload cannot trigger a giant allocation."""
        data = encode_wav(8000, _rand_samples(100, 1, 16, seed=5))
        with pytest.raises(WavError, match="max_samples"):
            decode_wav(data, max_samples=50)


class TestDecodeAudioReal:
    def test_real_wav_payloads_decode(self, spark):
        from etl_batch_spark.llmops.multimodal import decode_audio

        payloads = {}
        rows = []
        for doc_id, (frames, ch, bits, rate) in enumerate(
            [(800, 1, 16, 8000), (500, 2, 24, 44100), (300, 2, 8, 22050)]
        ):
            s = _rand_samples(frames, ch, bits, seed=doc_id)
            data = encode_wav(rate, s, bits=bits)
            rows.append((doc_id, bytearray(data)))
            payloads[doc_id] = (rate, ch, frames, bits, data)
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {r["doc_id"]: r for r in decode_audio(df, fake=False).collect()}
        assert len(got) == 3
        for doc_id, (rate, ch, frames, bits, data) in payloads.items():
            r = got[doc_id]
            assert (r["sample_rate"], r["channels"], r["n_frames"]) == (
                rate, ch, frames,
            )
            assert r["duration_s"] == pytest.approx(frames / rate)
            # recompute the feature from an independent local decode
            _, _, b, samples = decode_wav(data)
            f = samples.astype(np.float64) / float(1 << (b - 1))
            want = list(np.sqrt((f * f).mean(axis=0))) + list(f.mean(axis=0))
            want = [round(float(v), 6) for v in (want + [0.0] * 8)[:8]]
            assert [round(float(v), 6) for v in r["feature"]] == want

    def test_fake_mode_is_deterministic(self, spark):
        from etl_batch_spark.llmops.multimodal import decode_audio

        rows = [(i, bytearray(b"anything-%d" % i)) for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        a = sorted(map(tuple, decode_audio(df, fake=True).collect()))
        b = sorted(map(tuple, decode_audio(df.repartition(3), fake=True).collect()))
        assert a == b


class TestCodecProperty:
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(1, 400),            # frames
        st.integers(1, 3),              # channels
        st.sampled_from([8, 16, 24, 32]),
        st.integers(0, 2**32 - 1),      # seed
    )
    def test_roundtrip_arbitrary(self, frames, ch, bits, seed):
        want = _rand_samples(frames, ch, bits, seed=seed)
        _, _, _, got = decode_wav(encode_wav(16000, want, bits=bits))
        assert np.array_equal(got.astype(np.int64), want)

    @settings(max_examples=20, deadline=None)
    @given(st.binary(min_size=0, max_size=200))
    def test_garbage_never_decodes_silently(self, blob):
        with pytest.raises(WavError):
            decode_wav(blob)
