"""Pure-stdlib MP3 (MPEG audio) frame-level codec.

After JPEG/PNG for images and RIFF/WAVE for audio interchange, MP3 is
the most common audio payload in web crawls.  This module decodes the
FRAME STRUCTURE completely — every frame header in the stream is
walked and validated, VBR metadata (Xing/Info/VBRI) is parsed, and
duration is computed EXACTLY as sum(samples-per-frame / sample-rate)
over the walked frames — while the audio sample decode (Huffman main
data, requantization, IMDCT, synthesis filterbank) is out of scope,
as for the other long-tail codecs: a real cluster routes it to an
ffmpeg-backed decoder.

Frame-level decode is what a 100 TB ingest pipeline actually needs
from MP3: exact durations for budgeting/sharding, CBR/VBR and
bitrate-mix census for routing, and a validated frame index enabling
range reads — all O(#frames) with O(1) state, no entropy decode.

Everything here derives from the public ISO/IEC 11172-3 / 13818-3
header layout and the de-facto Xing/VBRI header conventions.  All
MPEG versions (1, 2, 2.5) and layers (I, II, III) are supported.
Like the other codecs: every malformed path raises :class:`Mp3Error`
(never a raw struct/IndexError), and nothing is allocated from
untrusted sizes.

``encode_frames`` fabricates structurally-valid streams (correct
headers, exact frame lengths, optional ID3v2 tag and Xing header;
payload bytes are deterministic filler, NOT a valid Huffman stream) so
tests and fixtures can exercise the walker without external tools —
sufficient because this module never reads main data.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

# bitrate_kbps[version_group][layer][index]; version_group 0 = MPEG1,
# 1 = MPEG2/2.5 (they share tables); layer keyed 1/2/3; index 1..14
# (0 = "free format", 15 = forbidden — both out of scope, loud).
_BITRATE = {
    0: {
        1: [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
        2: [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
        3: [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    },
    1: {
        1: [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
        2: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
        3: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    },
}

# sample_rate[version][index]; version per the 2-bit header field:
# 0 = MPEG2.5, 2 = MPEG2, 3 = MPEG1 (1 is reserved).
_RATE = {
    3: [44100, 48000, 32000],
    2: [22050, 24000, 16000],
    0: [11025, 12000, 8000],
}

# samples per frame [version_group][layer]
_SPF = {
    0: {1: 384, 2: 1152, 3: 1152},
    1: {1: 384, 2: 1152, 3: 576},
}


class Mp3Error(ValueError):
    """Malformed, corrupt, or out-of-scope MP3 payload."""


@dataclass(frozen=True)
class Mp3Frame:
    offset: int
    size: int
    version: int       # 3 = MPEG1, 2 = MPEG2, 0 = MPEG2.5
    layer: int         # 1, 2, 3
    bitrate_kbps: int
    sample_rate: int
    channels: int
    samples: int       # samples per channel in this frame


@dataclass(frozen=True)
class Mp3Info:
    sample_rate: int
    channels: int
    n_frames: int
    duration_s: float          # exact: sum over frames of samples/rate
    is_vbr: bool               # >1 distinct frame bitrate
    bitrate_kbps_min: int
    bitrate_kbps_max: int
    bitrate_kbps_mode: int     # most common frame bitrate (ties: lowest)
    vbr_tag: "str | None"      # 'Xing' | 'Info' | 'VBRI' | None
    vbr_tag_frames: "int | None"   # frame count the tag declares, if any
    id3v2_bytes: int           # leading tag size skipped (0 if none)
    trailing_bytes: int = 0    # unwalkable tail tolerated (tolerate_trailing)
    frames: "list[Mp3Frame]" = field(repr=False, default_factory=list)


def _id3v2_size(d: bytes) -> int:
    """Total bytes of a leading ID3v2 tag (0 if absent)."""
    if len(d) >= 10 and d[:3] == b"ID3":
        if (d[6] | d[7] | d[8] | d[9]) & 0x80:
            raise Mp3Error("ID3v2 size bytes are not syncsafe")
        size = (d[6] << 21) | (d[7] << 14) | (d[8] << 7) | d[9]
        total = 10 + size + (10 if d[5] & 0x10 else 0)  # footer flag
        if total > len(d):
            raise Mp3Error("ID3v2 tag size exceeds payload")
        return total
    return 0


def _id3_text(payload: bytes) -> str:
    """Decode an ID3v2 text frame body: 1 encoding byte + text.
    Encodings per the spec: 0 Latin-1, 1 UTF-16 w/ BOM, 2 UTF-16BE,
    3 UTF-8.  Terminators and padding NULs are stripped."""
    if not payload:
        return ""
    enc = payload[0]
    body = payload[1:]
    try:
        if enc == 0:
            text = body.decode("latin-1")
        elif enc == 1:
            text = body.decode("utf-16")
        elif enc == 2:
            text = body.decode("utf-16-be")
        elif enc == 3:
            text = body.decode("utf-8")
        else:
            raise Mp3Error(f"unknown ID3v2 text encoding {enc}")
    except UnicodeDecodeError as exc:
        raise Mp3Error(f"undecodable ID3v2 text frame: {exc}") from exc
    return text.rstrip("\x00")


def parse_id3v2_frames(d: bytes) -> "dict[str, str]":
    """Text frames of a leading ID3v2.3/2.4 tag as {frame_id: text}
    (TIT2 title, TPE1 artist, TALB album, ...).  Empty dict when no
    tag is present.  v2.4 frame sizes are syncsafe; v2.3 are plain
    big-endian — the version byte selects.  Non-text frames (APIC
    art, COMM comments, ...) are skipped structurally; unsupported
    majors (v2.2's 3-byte ids) return {} rather than misparse."""
    if len(d) < 10 or d[:3] != b"ID3":
        return {}
    major = d[3]
    if major not in (3, 4):
        return {}
    total = _id3v2_size(d)
    at = 10
    if d[5] & 0x40:  # extended header: skip by its declared size
        if at + 4 > total:
            raise Mp3Error("truncated ID3v2 extended header")
        ext = (
            (d[at] << 21) | (d[at + 1] << 14) | (d[at + 2] << 7) | d[at + 3]
            if major == 4
            else int.from_bytes(d[at:at + 4], "big") + 4
        )
        at += ext if major == 4 else ext
    end = total - (10 if d[5] & 0x10 else 0)
    out: "dict[str, str]" = {}
    while at + 10 <= end:
        fid = d[at:at + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        if not all(0x30 <= c <= 0x5A for c in fid):
            raise Mp3Error(f"invalid ID3v2 frame id at offset {at}")
        raw = d[at + 4:at + 8]
        if major == 4:
            if (raw[0] | raw[1] | raw[2] | raw[3]) & 0x80:
                raise Mp3Error("ID3v2.4 frame size is not syncsafe")
            fsize = (raw[0] << 21) | (raw[1] << 14) | (raw[2] << 7) | raw[3]
        else:
            fsize = int.from_bytes(raw, "big")
        body_at = at + 10
        if body_at + fsize > end:
            raise Mp3Error(f"ID3v2 frame {fid!r} overruns the tag")
        if fid[:1] == b"T" and fid != b"TXXX":
            out[fid.decode("ascii")] = _id3_text(d[body_at:body_at + fsize])
        at = body_at + fsize
    return out


def _parse_header(d: bytes, pos: int) -> Mp3Frame:
    if pos + 4 > len(d):
        raise Mp3Error(f"truncated frame header at offset {pos}")
    b0, b1, b2, b3 = d[pos], d[pos + 1], d[pos + 2], d[pos + 3]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        raise Mp3Error(f"lost frame sync at offset {pos}")
    version = (b1 >> 3) & 0x03
    if version == 1:
        raise Mp3Error(f"reserved MPEG version id at offset {pos}")
    layer_bits = (b1 >> 1) & 0x03
    if layer_bits == 0:
        raise Mp3Error(f"reserved layer at offset {pos}")
    layer = 4 - layer_bits  # 3->I, 2->II, 1->III
    vgroup = 0 if version == 3 else 1
    br_idx = (b2 >> 4) & 0x0F
    if br_idx == 0:
        raise Mp3Error(f"free-format bitrate at offset {pos} (out of scope)")
    if br_idx == 15:
        raise Mp3Error(f"forbidden bitrate index at offset {pos}")
    bitrate = _BITRATE[vgroup][layer][br_idx]
    rate_idx = (b2 >> 2) & 0x03
    if rate_idx == 3:
        raise Mp3Error(f"reserved sample-rate index at offset {pos}")
    rate = _RATE[version][rate_idx]
    padding = (b2 >> 1) & 0x01
    channels = 1 if ((b3 >> 6) & 0x03) == 3 else 2
    if layer == 1:
        size = (12 * bitrate * 1000 // rate + padding) * 4
    else:
        spf = _SPF[vgroup][layer]
        size = spf // 8 * bitrate * 1000 // rate + padding
    return Mp3Frame(
        offset=pos, size=size, version=version, layer=layer,
        bitrate_kbps=bitrate, sample_rate=rate, channels=channels,
        samples=_SPF[vgroup][layer],
    )


def _side_info_bytes(version: int, channels: int) -> int:
    if version == 3:  # MPEG1
        return 17 if channels == 1 else 32
    return 9 if channels == 1 else 17


def _vbr_tag(d: bytes, first: Mp3Frame) -> "tuple[str, int | None] | None":
    """(tag_name, declared_frames) if the first frame carries a
    Xing/Info/VBRI header, else None."""
    base = first.offset + 4
    # protection bit CLEAR (header bit0 == 0) means a 16-bit CRC sits
    # between the header and the side info, shifting the Xing tag by 2
    crc = 0 if (d[first.offset + 1] & 0x1) else 2
    xing_at = base + crc + _side_info_bytes(first.version, first.channels)
    if xing_at + 8 <= len(d) and d[xing_at:xing_at + 4] in (b"Xing", b"Info"):
        tag = d[xing_at:xing_at + 4].decode()
        (flags,) = struct.unpack_from(">I", d, xing_at + 4)
        frames = None
        if flags & 0x1:
            if xing_at + 12 > len(d):
                raise Mp3Error("truncated Xing frame-count field")
            (frames,) = struct.unpack_from(">I", d, xing_at + 8)
        return tag, frames
    # the VBRI convention is a fixed 32 bytes past the 4-byte header;
    # some writers count from after the CRC, so probe both positions
    for vbri_at in dict.fromkeys((base + 32, base + crc + 32)):
        if vbri_at + 18 <= len(d) and d[vbri_at:vbri_at + 4] == b"VBRI":
            (frames,) = struct.unpack_from(">I", d, vbri_at + 14)
            return "VBRI", frames
    return None


def parse_frames(
    data: bytes, *, keep_frames: bool = False, tolerate_trailing: bool = False
) -> Mp3Info:
    """Walk every frame of an MPEG audio stream.

    Frames must chain contiguously from the end of any leading ID3v2
    tag to the end of the payload (an ID3v1 128-byte ``TAG`` trailer
    is allowed); anything else — truncated final frame, garbage
    between frames, no sync at the start — raises :class:`Mp3Error`.
    With ``tolerate_trailing=True`` the walk instead STOPS at the
    first unwalkable byte after at least one valid frame and returns
    the walked prefix with ``trailing_bytes`` set to the unconsumed
    tail — the shape a census over a real crawl wants (trailing junk,
    APEv2 tags, or a truncated last frame shouldn't discard the
    already-validated frame index).  A stream whose FIRST frame fails
    still raises, tolerant or not.
    ``keep_frames`` retains the per-frame index (offset/size/header
    fields) for range reads; off by default so a census over millions
    of payloads holds O(1) per payload.
    """
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise Mp3Error("payload is not bytes")
    d = bytes(data)
    pos = _id3v2_size(d)
    id3_bytes = pos
    end = len(d)
    if end - pos >= 128 and d[end - 128:end - 125] == b"TAG":
        end -= 128  # ID3v1 trailer
    if pos >= end:
        raise Mp3Error("no audio data after metadata tags")

    first: "Mp3Frame | None" = None
    frames: list[Mp3Frame] = []
    n = 0
    dur_num = 0  # exact duration as a sum of spf/rate fractions
    rate0 = None
    chan0 = None
    br_counts: dict[int, int] = {}
    br_min = 1 << 30
    br_max = 0
    trailing = 0
    while pos < end:
        try:
            fr = _parse_header(d, pos)
            if pos + fr.size > end:
                raise Mp3Error(
                    f"truncated final frame at offset {pos} "
                    f"(need {fr.size} bytes, have {end - pos})"
                )
            if first is not None and (
                fr.sample_rate != rate0 or fr.channels != chan0
            ):
                raise Mp3Error(
                    f"stream parameters change mid-file at offset {pos} "
                    f"({rate0} Hz/{chan0}ch -> "
                    f"{fr.sample_rate} Hz/{fr.channels}ch)"
                )
        except Mp3Error:
            if tolerate_trailing and n >= 1:
                trailing = end - pos
                break
            raise
        if first is None:
            first = fr
            rate0, chan0 = fr.sample_rate, fr.channels
        n += 1
        dur_num += fr.samples
        br_counts[fr.bitrate_kbps] = br_counts.get(fr.bitrate_kbps, 0) + 1
        br_min = min(br_min, fr.bitrate_kbps)
        br_max = max(br_max, fr.bitrate_kbps)
        if keep_frames:
            frames.append(fr)
        pos += fr.size

    assert first is not None and rate0 is not None
    tag = _vbr_tag(d, first)
    mode = min(b for b, c in br_counts.items() if c == max(br_counts.values()))
    return Mp3Info(
        sample_rate=rate0,
        channels=chan0 or 0,
        n_frames=n,
        duration_s=dur_num / rate0,
        is_vbr=len(br_counts) > 1,
        bitrate_kbps_min=br_min,
        bitrate_kbps_max=br_max,
        bitrate_kbps_mode=mode,
        vbr_tag=tag[0] if tag else None,
        vbr_tag_frames=tag[1] if tag else None,
        id3v2_bytes=id3_bytes,
        trailing_bytes=trailing,
        frames=frames,
    )


# -- structural encoder (tests/fixtures) -----------------------------------

_REV_RATE = {r: (v, i) for v, rates in _RATE.items() for i, r in enumerate(rates)}


def encode_frames(
    *,
    n_frames: int,
    bitrate_kbps: "int | list[int]" = 128,
    sample_rate: int = 44100,
    channels: int = 2,
    layer: int = 3,
    id3v2_bytes: int = 0,
    id3_tags: "dict[str, str] | None" = None,
    xing: bool = False,
    crc: bool = False,
    fill: int = 0xA5,
) -> bytes:
    """A structurally-valid MPEG audio stream: real headers, exact
    frame lengths, optional ID3v2 tag and Xing header.  Main data is
    deterministic filler — NOT decodable audio — which is sufficient
    for everything this module reads.  ``bitrate_kbps`` may be a list
    cycled per-frame to fabricate VBR streams.  ``crc=True`` clears
    the protection bit and inserts the 16-bit CRC slot after each
    header (filler value — the walker never validates the audio CRC),
    shifting side info and any Xing tag by 2 as real encoders do."""
    if n_frames < 1:
        raise ValueError("n_frames must be >= 1")
    if sample_rate not in _REV_RATE:
        raise ValueError(f"unsupported sample rate {sample_rate}")
    version, rate_idx = _REV_RATE[sample_rate]
    vgroup = 0 if version == 3 else 1
    rates = bitrate_kbps if isinstance(bitrate_kbps, list) else [bitrate_kbps]
    out = bytearray()
    if id3_tags:
        # real ID3v2.4 text frames (UTF-8, syncsafe frame sizes)
        frames_body = bytearray()
        for fid, text in id3_tags.items():
            if len(fid) != 4 or not fid.startswith("T"):
                raise ValueError(f"only 4-char T* text frame ids, got {fid!r}")
            fbody = b"\x03" + text.encode("utf-8")
            n = len(fbody)
            frames_body += fid.encode("ascii") + bytes(
                [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
            ) + b"\x00\x00" + fbody
        pad = max(0, id3v2_bytes - 10 - len(frames_body))
        body = len(frames_body) + pad
        out += b"ID3\x04\x00\x00" + bytes(
            [(body >> 21) & 0x7F, (body >> 14) & 0x7F, (body >> 7) & 0x7F, body & 0x7F]
        )
        out += frames_body + bytes(pad)
    elif id3v2_bytes:
        if id3v2_bytes < 10:
            raise ValueError("id3v2_bytes must be 0 or >= 10")
        body = id3v2_bytes - 10
        out += b"ID3\x04\x00\x00" + bytes(
            [(body >> 21) & 0x7F, (body >> 14) & 0x7F, (body >> 7) & 0x7F, body & 0x7F]
        )
        out += bytes(body)
    for i in range(n_frames):
        br = rates[i % len(rates)]
        try:
            br_idx = _BITRATE[vgroup][layer].index(br)
        except ValueError:
            raise ValueError(
                f"bitrate {br} not valid for MPEG{'1' if vgroup == 0 else '2'} "
                f"layer {layer}"
            ) from None
        if br_idx == 0:
            raise ValueError("free-format (bitrate 0) not supported")
        b1 = 0xE0 | (version << 3) | ((4 - layer) << 1) | (0x0 if crc else 0x1)
        b2 = (br_idx << 4) | (rate_idx << 2)  # no padding
        b3 = 0xC0 if channels == 1 else 0x00  # mono / stereo
        hdr = bytes([0xFF, b1, b2, b3])
        if layer == 1:
            size = (12 * br * 1000 // sample_rate) * 4
        else:
            size = _SPF[vgroup][layer] // 8 * br * 1000 // sample_rate
        frame = bytearray(hdr) + bytes([fill]) * (size - 4)
        if crc:
            frame[4:6] = b"\x00\x00"  # CRC slot (unvalidated filler)
        if xing and i == 0:
            at = 4 + (2 if crc else 0) + _side_info_bytes(version, channels)
            tag = b"Xing" + struct.pack(">II", 0x1, n_frames)
            if at + len(tag) > size:
                raise ValueError("first frame too small for a Xing header")
            frame[at:at + len(tag)] = tag
        out += frame
    return bytes(out)
