"""Pure-stdlib Ogg container codec with Vorbis/Opus header decode.

Ogg (RFC 3533) is the page-framing layer under Vorbis and Opus — the
second-most-common audio family in web crawls after MP3.  This module
decodes the CONTAINER completely: every page header is walked, the
page CRC (the spec's CRC-32/BZIP2 variant with zeroed CRC field) is
verified, packets are reassembled across pages from the lacing tables,
and the codec identification + comment headers are parsed — Vorbis
(``\\x01vorbis``: channels/rate/bitrates) and Opus (``OpusHead``:
channels/pre-skip/input rate) identification, plus the VorbisComment /
OpusTags metadata block (vendor string and user key=value comments:
ARTIST/TITLE/...).  Duration is exact from the stream's last page
granule position (Vorbis: PCM samples at the stream rate; Opus:
48 kHz samples minus pre-skip).  The audio packet decode (Vorbis
floor/residue/MDCT, Opus SILK/CELT) is out of scope, matching
mp3.py's split:
the container tier covers what ingest needs — exact duration,
metadata census, stream routing, integrity checks — at O(pages) cost.

``encode_ogg`` fabricates spec-valid streams (real page framing, real
CRCs, real identification/comment headers; audio packets are filler)
so tests can exercise the walker without external tools.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

SIGNATURE = b"OggS"

_CRC_TABLE = []
for _b in range(256):
    _r = _b << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if _r & 0x80000000 else (_r << 1) & 0xFFFFFFFF
    _CRC_TABLE.append(_r)


def _crc(data: bytes) -> int:
    r = 0
    for byte in data:
        r = ((r << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[((r >> 24) & 0xFF) ^ byte]
    return r


class OggError(ValueError):
    """Malformed, corrupt, or out-of-scope Ogg payload."""


@dataclass(frozen=True)
class OggPage:
    offset: int
    serial: int
    seq: int
    granule: int
    header_type: int          # bit0 continued, bit1 BOS, bit2 EOS
    segments: "list[bytes]" = field(repr=False, default_factory=list)


@dataclass(frozen=True)
class OggInfo:
    codec: str                # 'vorbis' | 'opus'
    sample_rate: int          # media rate (Opus: original input rate)
    channels: int
    n_pages: int
    duration_s: "float | None"   # exact from last granule; None if unset
    pre_skip: int             # Opus only (0 for Vorbis)
    vendor: str
    comments: "dict[str, str]"   # uppercased keys; last value wins
    serial: int


def _parse_page(d: bytes, pos: int) -> "tuple[OggPage, int, bytes]":
    if pos + 27 > len(d):
        raise OggError(f"truncated page header at offset {pos}")
    if d[pos:pos + 4] != b"OggS":
        raise OggError(f"lost page capture pattern at offset {pos}")
    if d[pos + 4] != 0:
        raise OggError(f"unknown Ogg stream structure version {d[pos + 4]}")
    header_type = d[pos + 5]
    granule, serial, seq, crc_read = struct.unpack_from("<qIII", d, pos + 6)
    nsegs = d[pos + 26]
    lacing = d[pos + 27:pos + 27 + nsegs]
    if len(lacing) < nsegs:
        raise OggError(f"truncated lacing table at offset {pos}")
    body_len = sum(lacing)
    body_at = pos + 27 + nsegs
    if body_at + body_len > len(d):
        raise OggError(f"truncated page body at offset {pos}")
    page_bytes = bytearray(d[pos:body_at + body_len])
    page_bytes[22:26] = b"\x00\x00\x00\x00"
    if _crc(bytes(page_bytes)) != crc_read:
        raise OggError(f"page CRC mismatch at offset {pos}")
    segs, at = [], body_at
    for ln in lacing:
        segs.append(d[at:at + ln])
        at += ln
    # the lacing bytes travel alongside the segments: a 255 lacing value
    # means "packet continues", which the segment list alone can't encode
    page = OggPage(offset=pos, serial=serial, seq=seq, granule=granule,
                   header_type=header_type, segments=segs)
    return page, body_at + body_len, bytes(lacing)


def _packets(pages: "list[tuple[OggPage, bytes]]") -> "list[bytes]":
    """Reassemble packets from (page, lacing) pairs of ONE stream."""
    out: list[bytes] = []
    cur = bytearray()
    for page, lacing in pages:
        for seg, ln in zip(page.segments, lacing):
            cur += seg
            if ln < 255:
                out.append(bytes(cur))
                cur = bytearray()
    if cur:
        raise OggError("stream ends mid-packet (no terminating lacing value)")
    return out


def parse_ogg(data: bytes) -> OggInfo:
    """Walk every page of the FIRST logical stream (multiplexed files
    carry several serials; crawls overwhelmingly carry one), verify
    CRCs, parse the identification + comment headers, and compute the
    exact duration from the last page's granule position."""
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise OggError("payload is not bytes")
    d = bytes(data)
    if len(d) < 27:
        raise OggError("payload shorter than one page header")
    pos = 0
    stream_pages: list[tuple[OggPage, bytes]] = []
    serial = None
    n_pages = 0
    last_granule = None
    while pos < len(d):
        page, pos, lacing = _parse_page(d, pos)
        if serial is None:
            if not page.header_type & 0x2:
                raise OggError("first page is not a stream begin (BOS) page")
            serial = page.serial
        if page.serial != serial:
            continue  # another multiplexed stream: ignored, CRC still checked
        n_pages += 1
        stream_pages.append((page, lacing))
        if page.granule != -1:
            last_granule = page.granule

    packets = _packets(stream_pages)
    if len(packets) < 2:
        raise OggError("stream carries no comment header packet")
    ident, comment = packets[0], packets[1]

    if ident.startswith(b"\x01vorbis"):
        if len(ident) < 30:
            raise OggError("truncated Vorbis identification header")
        (version,) = struct.unpack_from("<I", ident, 7)
        if version != 0:
            raise OggError(f"unknown Vorbis version {version}")
        channels = ident[11]
        (rate,) = struct.unpack_from("<I", ident, 12)
        codec, pre_skip = "vorbis", 0
        if not comment.startswith(b"\x03vorbis"):
            raise OggError("second Vorbis packet is not the comment header")
        vendor, comments = _vorbis_comments(comment[7:])
        granule_rate = rate
    elif ident.startswith(b"OpusHead"):
        if len(ident) < 19:
            raise OggError("truncated OpusHead")
        if ident[8] >> 4 != 0:
            raise OggError(f"unknown Opus major version {ident[8] >> 4}")
        channels = ident[9]
        (pre_skip,) = struct.unpack_from("<H", ident, 10)
        (rate,) = struct.unpack_from("<I", ident, 12)
        codec = "opus"
        if not comment.startswith(b"OpusTags"):
            raise OggError("second Opus packet is not OpusTags")
        vendor, comments = _vorbis_comments(comment[8:])
        granule_rate = 48000  # Opus granules are ALWAYS 48 kHz samples
    else:
        raise OggError("unrecognized codec identification packet")

    if rate == 0 or channels == 0:
        raise OggError("identification header declares zero rate/channels")
    duration = None
    if last_granule is not None:
        samples = max(0, last_granule - pre_skip)
        duration = samples / granule_rate
    return OggInfo(
        codec=codec, sample_rate=rate, channels=channels, n_pages=n_pages,
        duration_s=duration, pre_skip=pre_skip, vendor=vendor,
        comments=comments, serial=serial or 0,
    )


def _vorbis_comments(d: bytes) -> "tuple[str, dict[str, str]]":
    try:
        (vlen,) = struct.unpack_from("<I", d, 0)
        if 4 + vlen > len(d):
            raise OggError("vendor string length exceeds packet")
        vendor = d[4:4 + vlen].decode("utf-8", errors="replace")
        at = 4 + vlen
        (n,) = struct.unpack_from("<I", d, at)
        if n > 1 << 16:
            raise OggError(f"implausible comment count {n}")
        at += 4
        out: dict[str, str] = {}
        for _ in range(n):
            (ln,) = struct.unpack_from("<I", d, at)
            at += 4
            if at + ln > len(d):
                raise OggError("comment length exceeds packet")
            entry = d[at:at + ln].decode("utf-8", errors="replace")
            at += ln
            key, _, val = entry.partition("=")
            out[key.upper()] = val
        return vendor, out
    except struct.error as exc:
        raise OggError(f"malformed comment header: {exc}") from exc


# -- structural encoder (tests/fixtures) -----------------------------------

def _page(serial: int, seq: int, granule: int, header_type: int,
          packets: "list[bytes]", *, continued_tail: bool = False) -> bytes:
    lacing = bytearray()
    body = bytearray()
    for i, p in enumerate(packets):
        body += p
        full, rem = divmod(len(p), 255)
        lacing += b"\xff" * full
        if not (continued_tail and i == len(packets) - 1 and rem == 0):
            lacing.append(rem)
    if len(lacing) > 255:
        raise ValueError("too many lacing values for one page")
    hdr = bytearray(b"OggS\x00")
    hdr.append(header_type)
    hdr += struct.pack("<qIII", granule, serial, seq, 0)
    hdr.append(len(lacing))
    hdr += lacing
    page = bytes(hdr) + bytes(body)
    crc = _crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def encode_ogg(
    *,
    codec: str = "vorbis",
    sample_rate: int = 44100,
    channels: int = 2,
    n_samples: int = 44100,
    pre_skip: int = 312,
    comments: "dict[str, str] | None" = None,
    vendor: str = "etl-batch-spark structural encoder",
    n_audio_pages: int = 2,
    serial: int = 0x1234,
) -> bytes:
    """A spec-valid Ogg stream (framing + CRC + headers are real; audio
    packets are deterministic filler).  ``n_samples`` sets the final
    granule position — for Opus it is in 48 kHz units and pre_skip is
    ADDED so the decoded duration comes back to n_samples/48000."""
    if codec == "vorbis":
        ident = b"\x01vorbis" + struct.pack("<IBI", 0, channels, sample_rate)
        ident += struct.pack("<iii", 0, 128000, 0) + b"\x58\x01"
        ctag = b"\x03vorbis"
        pre = 0
        final_granule = n_samples
    elif codec == "opus":
        ident = b"OpusHead" + bytes([1, channels]) + struct.pack(
            "<HIhB", pre_skip, sample_rate, 0, 0)
        ctag = b"OpusTags"
        pre = pre_skip
        final_granule = n_samples + pre
    else:
        raise ValueError(f"codec must be 'vorbis' or 'opus', got {codec!r}")
    body = struct.pack("<I", len(vendor.encode())) + vendor.encode()
    items = list((comments or {}).items())
    body += struct.pack("<I", len(items))
    for k, v in items:
        entry = f"{k}={v}".encode()
        body += struct.pack("<I", len(entry)) + entry
    comment = ctag + body + (b"\x01" if codec == "vorbis" else b"")

    out = _page(serial, 0, 0 if codec == "vorbis" else -1, 0x2, [ident])
    out += _page(serial, 1, 0 if codec == "vorbis" else -1, 0x0, [comment])
    for i in range(n_audio_pages):
        granule = final_granule * (i + 1) // n_audio_pages
        htype = 0x4 if i == n_audio_pages - 1 else 0x0
        filler = bytes([(i * 37 + j) & 0xFF for j in range(100)])
        out += _page(serial, 2 + i, granule, htype, [filler])
    return out
