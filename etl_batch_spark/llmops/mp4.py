"""Pure-stdlib MP4 / ISO-BMFF container codec (ISO/IEC 14496-12).

MP4 is the dominant video payload in web crawls.  The header probe
(llmops/mediainfo.py::_probe_mp4) reads mvhd duration and tkhd
dimensions; this module decodes the CONTAINER completely — the full
box tree is walked with bounds/nesting checks, and per-track structure
is extracted from the sample tables: handler type (video/audio),
sample-entry codec fourcc (avc1/hev1/mp4a/...), media timescale, EXACT
track duration (mdhd duration / timescale, both integers), sample
count and total sample bytes from stts/stsz, chunk layout from
stsc/stco(co64), and the audio channel/rate or video pixel dimensions
from the sample entry itself.  The stts sample-count/duration
cross-check validates the table against the declared duration the
same way flac.py cross-checks walked samples against STREAMINFO.

What a 100 TB ingest pipeline needs from MP4 is exactly this tier:
exact durations for budgeting, codec identification for routing,
frame/sample counts for sampling plans, and the chunk-offset index
enabling range reads — all O(metadata), never touching mdat.  The
bitstream decode (H.264/H.265/AAC entropy coding) is out of scope,
as for the other long-tail codecs: a real cluster routes it to an
ffmpeg-backed decoder.

Everything here derives from the public ISO/IEC 14496-12 box
structure.  Malformed paths raise :class:`Mp4Error`, never a raw
struct/IndexError; nothing is allocated from untrusted sizes.
``encode_mp4`` fabricates structurally-valid files (real box tree,
real sample tables; mdat is deterministic filler) so tests and
fixtures exercise the walker without external tools.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

_MAX_DEPTH = 8
_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"udta"}


class Mp4Error(ValueError):
    """Malformed, corrupt, or out-of-scope MP4 payload."""


@dataclass(frozen=True)
class Mp4Track:
    track_id: int
    handler: str              # 'vide' | 'soun' | other fourccs
    codec: str                # sample-entry fourcc, e.g. 'avc1', 'mp4a'
    timescale: int
    duration_units: int       # mdhd duration in timescale units
    duration_s: "float | None"  # exact duration_units/timescale
    n_samples: int            # from stsz/stts
    total_sample_bytes: int   # from stsz
    n_chunks: int             # from stco/co64
    width: "int | None"       # video sample entry
    height: "int | None"
    channels: "int | None"    # audio sample entry
    sample_rate: "int | None"
    chunk_offsets: "list[int]" = field(repr=False, default_factory=list)


@dataclass(frozen=True)
class Mp4Info:
    major_brand: str
    movie_timescale: int
    movie_duration_s: "float | None"
    n_tracks: int
    tracks: "list[Mp4Track]"
    has_mdat: bool


def _boxes(d: bytes, pos: int, end: int, depth: int = 0):
    """Yield (type, body_start, body_end) for each box in [pos, end)."""
    if depth > _MAX_DEPTH:
        raise Mp4Error("box nesting exceeds depth limit")
    while pos < end:
        if pos + 8 > end:
            raise Mp4Error(f"truncated box header at offset {pos}")
        (size,) = struct.unpack_from(">I", d, pos)
        btype = d[pos + 4:pos + 8]
        if size == 1:
            if pos + 16 > end:
                raise Mp4Error(f"truncated 64-bit box size at offset {pos}")
            (size,) = struct.unpack_from(">Q", d, pos + 8)
            body = pos + 16
            if size < 16:
                raise Mp4Error(f"64-bit box size {size} too small at {pos}")
        elif size == 0:  # to end of enclosing container
            size = end - pos
            body = pos + 8
        else:
            body = pos + 8
        if size < 8 or pos + size > end:
            raise Mp4Error(f"box {btype!r} size {size} out of bounds at {pos}")
        yield btype, body, pos + size
        pos += size


def _fullbox(d: bytes, body: int, end: int) -> "tuple[int, int]":
    if body + 4 > end:
        raise Mp4Error(f"truncated FullBox header at offset {body}")
    return d[body], body + 4  # (version, payload start)


def _parse_mdhd(d: bytes, body: int, end: int) -> "tuple[int, int]":
    ver, at = _fullbox(d, body, end)
    if ver == 1:
        if at + 28 > end:
            raise Mp4Error("truncated mdhd v1")
        tscale, dur = struct.unpack_from(">IQ", d, at + 16)
    else:
        if at + 20 > end:
            raise Mp4Error("truncated mdhd v0")
        tscale, dur = struct.unpack_from(">II", d, at + 8)
    if tscale == 0:
        raise Mp4Error("mdhd declares a zero timescale")
    return tscale, dur


def _parse_stts(d: bytes, body: int, end: int) -> "tuple[int, int]":
    """(total samples, total duration units) from the time-to-sample
    table — the per-track ground truth the declared duration must
    match."""
    _, at = _fullbox(d, body, end)
    if at + 4 > end:
        raise Mp4Error("truncated stts")
    (n_entries,) = struct.unpack_from(">I", d, at)
    at += 4
    if at + 8 * n_entries > end:
        raise Mp4Error(f"stts entry count {n_entries} exceeds box")
    total_samples = 0
    total_units = 0
    for i in range(n_entries):
        count, delta = struct.unpack_from(">II", d, at + 8 * i)
        total_samples += count
        total_units += count * delta
    return total_samples, total_units


def _parse_stsz(d: bytes, body: int, end: int) -> "tuple[int, int]":
    """(sample count, total sample bytes)."""
    _, at = _fullbox(d, body, end)
    if at + 8 > end:
        raise Mp4Error("truncated stsz")
    uniform, count = struct.unpack_from(">II", d, at)
    if uniform:
        return count, uniform * count
    at += 8
    if at + 4 * count > end:
        raise Mp4Error(f"stsz sample count {count} exceeds box")
    total = sum(struct.unpack_from(f">{count}I", d, at)) if count else 0
    return count, total


def _parse_stco(d: bytes, body: int, end: int, *, wide: bool) -> "list[int]":
    _, at = _fullbox(d, body, end)
    if at + 4 > end:
        raise Mp4Error("truncated stco/co64")
    (count,) = struct.unpack_from(">I", d, at)
    at += 4
    width = 8 if wide else 4
    if at + width * count > end:
        raise Mp4Error(f"chunk-offset count {count} exceeds box")
    fmt = ">" + ("Q" if wide else "I") * count
    return list(struct.unpack_from(fmt, d, at)) if count else []


def _parse_stsd(
    d: bytes, body: int, end: int, handler: str
) -> "tuple[str, int | None, int | None, int | None, int | None]":
    """(codec fourcc, width, height, channels, sample_rate) from the
    first sample entry."""
    _, at = _fullbox(d, body, end)
    if at + 4 > end:
        raise Mp4Error("truncated stsd")
    (n_entries,) = struct.unpack_from(">I", d, at)
    if n_entries == 0:
        raise Mp4Error("stsd declares zero sample entries")
    at += 4
    if at + 16 > end:
        raise Mp4Error("truncated sample entry")
    (esize,) = struct.unpack_from(">I", d, at)
    fourcc = d[at + 4:at + 8]
    if esize < 16 or at + esize > end:
        raise Mp4Error(f"sample entry size {esize} out of bounds")
    codec = fourcc.decode("ascii", errors="replace")
    w = h = ch = rate = None
    if handler == "vide" and esize >= 36 + 16:
        # VisualSampleEntry: 6 reserved + 2 dref idx, then 16 predefined
        # bytes, then width/height (16-bit each)
        w, h = struct.unpack_from(">HH", d, at + 8 + 8 + 16)
    elif handler == "soun" and esize >= 8 + 8 + 20:
        # AudioSampleEntry: 8 reserved, channelcount(2), samplesize(2),
        # predefined(2), reserved(2), samplerate(16.16)
        ch = struct.unpack_from(">H", d, at + 8 + 8 + 8)[0]
        rate = struct.unpack_from(">I", d, at + 8 + 8 + 16)[0] >> 16
    return codec, w, h, ch, rate


def parse_mp4(data: bytes, *, keep_chunks: bool = False) -> Mp4Info:
    """Walk the full box tree and every track's sample tables.

    The stts-derived sample count must equal stsz's, and the
    stts-derived duration must equal mdhd's declaration — disagreement
    means a corrupt or truncated table and raises (a census over a
    crawl wants that loud, then quarantined by the caller).
    ``keep_chunks`` retains per-track chunk offsets for range reads.
    """
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise Mp4Error("payload is not bytes")
    d = bytes(data)
    if len(d) < 16:
        raise Mp4Error("payload shorter than one box")

    major = ""
    movie_tscale = 0
    movie_dur = 0
    tracks: list[Mp4Track] = []
    has_mdat = False
    saw_moov = False

    def walk_trak(body: int, end: int) -> None:
        track_id = 0
        handler = ""
        tscale, dur = 0, 0
        codec, w, h, ch, rate = "", None, None, None, None
        n_samples = total_bytes = 0
        stts_samples = stts_units = None
        chunk_offsets: list[int] = []

        def walk(pos: int, stop: int, depth: int) -> None:
            nonlocal track_id, handler, tscale, dur, codec, w, h, ch, rate
            nonlocal n_samples, total_bytes, stts_samples, stts_units
            nonlocal chunk_offsets
            for btype, b, e in _boxes(d, pos, stop, depth):
                if btype in _CONTAINERS:
                    walk(b, e, depth + 1)
                elif btype == b"tkhd":
                    ver, at = _fullbox(d, b, e)
                    off = at + (8 if ver == 1 else 0)
                    if off + 12 > e:
                        raise Mp4Error("truncated tkhd")
                    (track_id,) = struct.unpack_from(">I", d, off + 8)
                elif btype == b"mdhd":
                    tscale, dur = _parse_mdhd(d, b, e)
                elif btype == b"hdlr":
                    _, at = _fullbox(d, b, e)
                    if at + 8 > e:
                        raise Mp4Error("truncated hdlr")
                    handler = d[at + 4:at + 8].decode("ascii", errors="replace")
                elif btype == b"stsd":
                    codec, w, h, ch, rate = _parse_stsd(d, b, e, handler)
                elif btype == b"stts":
                    stts_samples, stts_units = _parse_stts(d, b, e)
                elif btype == b"stsz":
                    n_samples, total_bytes = _parse_stsz(d, b, e)
                elif btype == b"stco":
                    chunk_offsets = _parse_stco(d, b, e, wide=False)
                elif btype == b"co64":
                    chunk_offsets = _parse_stco(d, b, e, wide=True)

        walk(body, end, 2)
        if tscale == 0:
            raise Mp4Error("trak carries no mdhd")
        if stts_samples is not None:
            if stts_samples != n_samples:
                raise Mp4Error(
                    f"stts sample count {stts_samples} != stsz {n_samples}"
                )
            if stts_units != dur:
                raise Mp4Error(
                    f"stts duration {stts_units} != mdhd declaration {dur}"
                )
        tracks.append(Mp4Track(
            track_id=track_id, handler=handler, codec=codec,
            timescale=tscale, duration_units=dur,
            duration_s=dur / tscale if tscale else None,
            n_samples=n_samples, total_sample_bytes=total_bytes,
            n_chunks=len(chunk_offsets), width=w, height=h,
            channels=ch, sample_rate=rate,
            chunk_offsets=chunk_offsets if keep_chunks else [],
        ))

    for btype, body, end in _boxes(d, 0, len(d)):
        if btype == b"ftyp":
            if body + 4 > end:
                raise Mp4Error("truncated ftyp")
            major = d[body:body + 4].decode("ascii", errors="replace")
        elif btype == b"moov":
            saw_moov = True
            for ib, bb, be in _boxes(d, body, end, 1):
                if ib == b"mvhd":
                    ver, at = _fullbox(d, bb, be)
                    if ver == 1:
                        if at + 28 > be:
                            raise Mp4Error("truncated mvhd v1")
                        movie_tscale, movie_dur = struct.unpack_from(
                            ">IQ", d, at + 16
                        )
                    else:
                        if at + 20 > be:
                            raise Mp4Error("truncated mvhd v0")
                        movie_tscale, movie_dur = struct.unpack_from(
                            ">II", d, at + 8
                        )
                elif ib == b"trak":
                    walk_trak(bb, be)
        elif btype == b"mdat":
            has_mdat = True
    if not saw_moov:
        raise Mp4Error("no moov box (not a complete MP4, or moov-at-end cut off)")
    if movie_tscale == 0:
        raise Mp4Error("moov carries no mvhd (or zero timescale)")
    return Mp4Info(
        major_brand=major,
        movie_timescale=movie_tscale,
        movie_duration_s=movie_dur / movie_tscale,
        n_tracks=len(tracks),
        tracks=tracks,
        has_mdat=has_mdat,
    )


# -- structural encoder (tests/fixtures) -----------------------------------

def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _full(btype: bytes, version: int, body: bytes) -> bytes:
    return _box(btype, bytes([version, 0, 0, 0]) + body)


def encode_mp4(
    *,
    video: "dict | None" = None,
    audio: "dict | None" = None,
    movie_timescale: int = 1000,
    brand: str = "isom",
    mdat_bytes: int = 64,
) -> bytes:
    """A structurally-valid MP4: real box tree, real sample tables,
    filler mdat.  ``video`` keys: n_samples, timescale, sample_delta,
    width, height, codec (default 'avc1').  ``audio`` keys: n_samples,
    timescale, sample_delta, channels, sample_rate, codec (default
    'mp4a').  Movie duration is the max track duration rescaled to
    ``movie_timescale``."""
    def track(track_id: int, spec: dict, kind: str) -> "tuple[bytes, int, int]":
        n = spec["n_samples"]
        tscale = spec["timescale"]
        delta = spec["sample_delta"]
        dur = n * delta
        if kind == "vide":
            codec = spec.get("codec", "avc1").encode("ascii")
            entry = (
                struct.pack(">I", 16 + 70) + codec          # 86: standard avc1
                + bytes(6) + struct.pack(">H", 1)           # reserved + dref
                + bytes(16)                                  # predefined
                + struct.pack(">HH", spec["width"], spec["height"])
                + bytes(70 - 16 - 4)                         # resolutions..depth
            )
            hdlr_type = b"vide"
        else:
            codec = spec.get("codec", "mp4a").encode("ascii")
            entry = (
                struct.pack(">I", 16 + 20) + codec
                + bytes(6) + struct.pack(">H", 1)
                + bytes(8)                                  # reserved
                + struct.pack(">HHHH", spec["channels"], 16, 0, 0)
                + struct.pack(">I", spec["sample_rate"] << 16)
            )
            hdlr_type = b"soun"
        stsd = _full(b"stsd", 0, struct.pack(">I", 1) + entry)
        stts = _full(b"stts", 0, struct.pack(">III", 1, n, delta))
        stsz = _full(b"stsz", 0, struct.pack(">II", 0, n)
                     + b"".join(struct.pack(">I", 20 + (i % 7)) for i in range(n)))
        n_chunks = max(1, min(4, n))
        # stsc must account for exactly n samples across n_chunks chunks:
        # q per chunk, with the remainder folded into the LAST chunk as a
        # second run entry (ISO 14496-12 §8.7.4 run-length encoding)
        q, r = divmod(n, n_chunks)
        stsc_entries = [(1, q, 1)]
        if r:
            stsc_entries.append((n_chunks, q + r, 1))
        stsc = _full(b"stsc", 0, struct.pack(">I", len(stsc_entries))
                     + b"".join(struct.pack(">III", *e) for e in stsc_entries))
        stco = _full(b"stco", 0, struct.pack(">I", n_chunks)
                     + b"".join(struct.pack(">I", 4096 + 512 * i)
                                for i in range(n_chunks)))
        stbl = _box(b"stbl", stsd + stts + stsz + stsc + stco)
        minf = _box(b"minf", stbl)
        hdlr = _full(b"hdlr", 0, bytes(4) + hdlr_type + bytes(12) + b"\x00")
        mdhd = _full(b"mdhd", 0, struct.pack(">IIII", 0, 0, tscale, dur)
                     + struct.pack(">HH", 0x55C4, 0))
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        tkhd = _full(b"tkhd", 0, struct.pack(">III", 0, 0, track_id)
                     + bytes(4) + struct.pack(">I", dur) + bytes(52)
                     + (struct.pack(">II", spec["width"] << 16,
                                    spec["height"] << 16)
                        if kind == "vide" else bytes(8)))
        return _box(b"trak", tkhd + mdia), dur, tscale

    traks = b""
    movie_dur = 0
    tid = 1
    for spec, kind in ((video, "vide"), (audio, "soun")):
        if spec is None:
            continue
        t, dur, tscale = track(tid, spec, kind)
        traks += t
        movie_dur = max(movie_dur, dur * movie_timescale // tscale)
        tid += 1
    if tid == 1:
        raise ValueError("at least one of video/audio must be given")
    mvhd = _full(b"mvhd", 0, struct.pack(">IIII", 0, 0, movie_timescale,
                                         movie_dur) + bytes(80))
    moov = _box(b"moov", mvhd + traks)
    ftyp = _box(b"ftyp", brand.encode("ascii") + struct.pack(">I", 0)
                + b"isomiso2")
    mdat = _box(b"mdat", bytes([0xA5]) * mdat_bytes)
    return ftyp + moov + mdat
