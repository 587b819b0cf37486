"""Mutation-fuzz soak for every pure-stdlib codec + the media probe.

Each codec's decoder must satisfy two properties under arbitrary
corruption of valid payloads (byte flips, truncations, splices,
duplicated slices):

1. it either decodes or raises ITS OWN error type — a raw
   struct/IndexError/numpy error leaking through is a bug (the
   quarantine handlers key on the codec error types);
2. ``probe_media`` NEVER raises on the same bytes.

Round-4 baseline: 35,000 mutations across seven codecs, zero leaks.
:func:`soak` is the library entry point (tier-1 runs a short soak in
``tests/test_fuzz_codecs.py``); the CLI runs a long one.

Usage:
    python tools/fuzz_codecs.py [N_PER_CODEC=5000] [SEED=9]
"""

from __future__ import annotations

import random
import sys
from collections import Counter
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_batch_spark.llmops import avi, bmp, flac, gif, jpeg, mp3, mp4, oggv, png, pnm, wav, webp  # noqa: E402
from etl_batch_spark.llmops.mediainfo import probe_media  # noqa: E402


def _img(w, h, c, s):
    return np.random.default_rng(s).integers(0, 256, (h, w, c), dtype=np.uint8)


def _bases():
    jf = [jpeg.encode_jpeg(16, 12, 3, _img(16, 12, 3, i).tobytes()) for i in range(3)]
    pal = _img(8, 1, 3, 4).reshape(8, 3)
    return [
        ("jpeg", jpeg.decode_jpeg, jpeg.JpegError, [
            jpeg.encode_jpeg(17, 24, 3, _img(17, 24, 3, 1).tobytes(),
                             progressive=True),
            jpeg.encode_jpeg(33, 18, 3, _img(33, 18, 3, 2).tobytes(),
                             subsample="420", restart_interval=2),
        ]),
        ("png", png.decode_png, png.PngError,
         [png.encode_png(20, 15, 4, _img(20, 15, 4, 3).tobytes())]),
        ("gif", gif.decode_gif, gif.GifError, [
            gif.encode_gif(21, 13, (_img(21, 13, 1, 5) % 8).tobytes(), pal,
                           interlace=True, transparent=2),
        ]),
        ("wav", wav.decode_wav, wav.WavError, [
            wav.encode_wav(
                22050,
                np.random.default_rng(6).integers(-1 << 22, 1 << 22, (300, 2)),
                bits=24, extensible=True,
            ),
        ]),
        ("avi", avi.decode_avi_mjpeg, avi.AviError,
         [avi.encode_avi_mjpeg(16, 12, 24.0, jf)]),
        ("bmp", bmp.decode_bmp, bmp.BmpError,
         [bmp.encode_bmp(13, 7, 4, _img(13, 7, 4, 7).tobytes())]),
        ("pnm", pnm.decode_pnm, pnm.PnmError,
         [pnm.encode_pnm(11, 6, 3, _img(11, 6, 3, 8).tobytes())]),
        ("mp3", mp3.parse_frames, mp3.Mp3Error, [
            mp3.encode_frames(n_frames=25, bitrate_kbps=[64, 128, 96],
                              sample_rate=44100, channels=2, layer=3,
                              id3v2_bytes=48, xing=True),
            mp3.encode_frames(n_frames=10, bitrate_kbps=32,
                              sample_rate=16000, channels=1, layer=2),
        ]),
        ("mp4", mp4.parse_mp4, mp4.Mp4Error, [
            mp4.encode_mp4(
                video=dict(n_samples=24, timescale=24000, sample_delta=1001,
                           width=320, height=180),
                audio=dict(n_samples=40, timescale=44100, sample_delta=1024,
                           channels=2, sample_rate=44100),
            ),
            mp4.encode_mp4(audio=dict(n_samples=16, timescale=8000,
                                      sample_delta=160, channels=1,
                                      sample_rate=8000)),
        ]),
        ("flac", flac.parse_flac, flac.FlacError, [
            flac.encode_flac(n_frames=12, block_size=1024, last_block=300,
                             sample_rate=44100, channels=2, bits=16,
                             comments={"ARTIST": "fz", "TITLE": "t"},
                             payload_bytes=32),
            flac.encode_flac(n_frames=6, block_size=512, sample_rate=11025,
                             channels=1, bits=24, payload_bytes=16),
        ]),
        ("webp", webp.parse_webp, webp.WebpError, [
            webp.encode_webp(width=320, height=200),
            webp.encode_webp(width=64, height=48, lossless=True, alpha=True),
            webp.encode_webp(width=40, height=30, alpha=True, exif=True,
                             icc=True, frame_durations_ms=[40, 60, 90]),
        ]),
        ("oggv", oggv.parse_ogg, oggv.OggError, [
            oggv.encode_ogg(codec="vorbis", sample_rate=22050, channels=1,
                            n_samples=44100, comments={"ARTIST": "fz"}),
            oggv.encode_ogg(codec="opus", sample_rate=48000, channels=2,
                            n_samples=96000, pre_skip=312, n_audio_pages=3),
        ]),
    ]


def _mutate(data: bytearray, rnd: random.Random) -> bytes:
    m = rnd.random()
    if m < 0.4:  # byte flips
        for _ in range(rnd.randint(1, 8)):
            data[rnd.randrange(len(data))] = rnd.randrange(256)
    elif m < 0.65:  # truncation
        data = data[: rnd.randrange(2, len(data))]
    elif m < 0.8:  # splice random bytes
        p = rnd.randrange(len(data))
        data = (data[:p]
                + bytes(rnd.randrange(256) for _ in range(rnd.randint(1, 50)))
                + data[p:])
    else:  # duplicate a slice
        a = rnd.randrange(len(data))
        b = min(len(data), a + rnd.randint(1, 80))
        data = data[:a] + data[a:b] + data[a:]
    return bytes(data)


def soak(n: int, seed: int) -> list[str]:
    """Run ``n`` seeded mutations per codec through its decoder and
    through ``probe_media``; return one ``"<codec>: <Type>: <msg>"``
    line per leak (a foreign exception from the decoder, or any
    exception from the probe).  An empty list is a clean soak."""
    rnd = random.Random(seed)
    leaks = []
    for name, dec, err, bases in _bases():
        for _ in range(n):
            blob = _mutate(bytearray(rnd.choice(bases)), rnd)
            try:
                dec(blob)
            except err:
                pass
            except Exception as exc:  # noqa: BLE001 — the finding we hunt
                leaks.append(f"{name}: {type(exc).__name__}: {exc}")
            try:
                probe_media(blob)
            except Exception as exc:  # noqa: BLE001 — the probe must never raise
                leaks.append(f"{name}: probe_media {type(exc).__name__}: {exc}")
    return leaks


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 9
    leaks = soak(n, seed)
    per_codec = Counter(line.split(":", 1)[0] for line in leaks)
    names = [name for name, *_ in _bases()]
    for name in names:
        for line in [x for x in leaks if x.startswith(f"{name}:")][:3]:
            print(f"LEAK {line}")
        print(f"{name}: {n} mutations, {per_codec[name]} leaks")
    print(f"{'CLEAN' if not leaks else 'LEAKED'}: "
          f"{n * len(names)} mutations across {len(names)} codecs + probe, "
          f"{len(leaks)} leaks")
    return 1 if leaks else 0


if __name__ == "__main__":
    raise SystemExit(main())
