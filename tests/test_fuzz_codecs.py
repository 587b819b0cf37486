"""Short mutation-fuzz soak over every pure-stdlib codec and the media
probe (tools/fuzz_codecs.py).  The census operators quarantine only
their codec's own error type, so a foreign exception leaking out of a
decoder would kill a whole census job; ``probe_media`` must never
raise at all."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from fuzz_codecs import _bases, soak  # noqa: E402


def test_every_codec_soaks_without_leaks():
    assert sorted(name for name, *_ in _bases()) == [
        "bmp", "flac", "gif", "jpeg", "mp3", "mp4", "oggv", "png",
        "pnm", "wav", "webp",
    ]
    assert soak(200, 9) == []
