"""Pure-stdlib FLAC container/frame codec.

FLAC is the remaining common audio payload in web crawls after MP3
(llmops/mp3.py) and Ogg Vorbis/Opus (llmops/oggv.py).  This module
decodes the CONTAINER and FRAME STRUCTURE completely — every metadata
block is walked (STREAMINFO, VorbisComment metadata, seek table,
padding, pictures), and every audio frame HEADER is located and
validated (14-bit sync + full field parse + the spec CRC-8 + a
monotonic coded-number consistency check), yielding a frame index and
the walked sample count, which is cross-checkable against STREAMINFO's
declared total.  Duration is exact: ``total_samples / sample_rate``,
both plain integers.  The audio subframe decode (LPC/fixed predictors,
Rice residuals) is out of scope, as for the other long-tail codecs,
because frame-level structure is what
a 100 TB ingest pipeline needs from FLAC: exact durations, sample-rate
/ bit-depth census for routing, tag metadata, and a validated frame
index enabling range reads.

Frame boundary note (inherent to the format, unlike MP3): FLAC frame
headers carry NO length field — a frame ends where the next one
begins, and only a full subframe decode knows that exactly.  The
standard indexing approach (what this module does, and what seek-table
builders do) is a forward scan for the next candidate sync whose
header parses, passes CRC-8, matches the stream's blocking strategy
and STREAMINFO-consistent fields, AND carries the expected next coded
number.  A false accept therefore needs a payload byte run that passes
all five gates at once (< 2^-40 per candidate); a miss cannot happen
because real headers always satisfy them.  A corollary: junk AFTER the
final frame is absorbed into that frame's reported size (nothing short
of subframe decode can know where the last frame truly ends) — the
walked-samples-vs-STREAMINFO cross-check still validates the stream's
sample accounting either way.

Everything here derives from the public FLAC specification (RFC 9639 /
xiph.org format docs).  Malformed paths raise :class:`FlacError`,
never a raw struct/IndexError; nothing is allocated from untrusted
sizes.  ``encode_flac`` fabricates structurally-valid streams (real
metadata blocks, real frame headers with correct CRC-8, filler
payloads free of 0xFF bytes) so tests and fixtures exercise the walker
without external tools.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

SIGNATURE = b"fLaC"

# frame-header block-size codes (RFC 9639 §9.1.1); None = from the
# end-of-header "uncommon" field (0b0110 8-bit, 0b0111 16-bit)
_BLOCK_SIZES = {
    0b0001: 192, 0b0010: 576, 0b0011: 1152, 0b0100: 2304, 0b0101: 4608,
    0b1000: 256, 0b1001: 512, 0b1010: 1024, 0b1011: 2048, 0b1100: 4096,
    0b1101: 8192, 0b1110: 16384, 0b1111: 32768,
}

# frame-header sample-rate codes (§9.1.2); 0b0000 = from STREAMINFO,
# 0b1100..0b1110 = uncommon end-of-header field, 0b1111 forbidden
_RATES = {
    0b0001: 88200, 0b0010: 176400, 0b0011: 192000, 0b0100: 8000,
    0b0101: 16000, 0b0110: 22050, 0b0111: 24000, 0b1000: 32000,
    0b1001: 44100, 0b1010: 48000, 0b1011: 96000,
}

# frame-header sample-size codes (§9.1.4); 0b000 = from STREAMINFO
_BITS = {0b001: 8, 0b010: 12, 0b100: 16, 0b101: 20, 0b110: 24, 0b111: 32}

_CRC8_TABLE = []
for _b in range(256):
    _r = _b
    for _ in range(8):
        _r = ((_r << 1) ^ 0x07) & 0xFF if _r & 0x80 else (_r << 1) & 0xFF
    _CRC8_TABLE.append(_r)


def _crc8(data: bytes) -> int:
    r = 0
    for byte in data:
        r = _CRC8_TABLE[r ^ byte]
    return r


class FlacError(ValueError):
    """Malformed, corrupt, or out-of-scope FLAC payload."""


@dataclass(frozen=True)
class FlacFrame:
    offset: int
    size: int            # to the next frame start (or end of payload)
    block_size: int      # samples per channel in this frame
    coded_number: int    # frame number (fixed) / first sample (variable)


@dataclass(frozen=True)
class FlacInfo:
    sample_rate: int
    channels: int
    bits_per_sample: int
    total_samples: int         # STREAMINFO declaration (0 = unknown)
    duration_s: "float | None"  # exact total_samples/rate; None if unknown
    n_frames: int              # frames actually walked
    walked_samples: int        # sum of walked frames' block sizes
    variable_blocksize: bool
    min_block_size: int
    max_block_size: int
    vendor: str
    comments: "dict[str, str]"  # uppercased keys; last value wins
    n_metadata_blocks: int
    frames: "list[FlacFrame]" = field(repr=False, default_factory=list)


def _parse_streaminfo(body: bytes) -> "tuple[int, int, int, int, int, int]":
    if len(body) < 34:
        raise FlacError("truncated STREAMINFO block")
    min_bs, max_bs = struct.unpack_from(">HH", body, 0)
    rate = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
    channels = ((body[12] >> 1) & 0x07) + 1
    bits = (((body[12] & 0x01) << 4) | (body[13] >> 4)) + 1
    total = ((body[13] & 0x0F) << 32) | int.from_bytes(body[14:18], "big")
    if rate == 0:
        raise FlacError("STREAMINFO declares a zero sample rate")
    return min_bs, max_bs, rate, channels, bits, total


def _decode_coded_number(d: bytes, pos: int) -> "tuple[int, int]":
    """FLAC's extended-UTF-8 frame/sample number (1–7 bytes, ≤ 36
    bits).  Returns (value, next_pos)."""
    if pos >= len(d):
        raise FlacError(f"truncated coded number at offset {pos}")
    b0 = d[pos]
    if b0 < 0x80:
        return b0, pos + 1
    n = 0
    mask = 0x80
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 2 or n > 7:
        raise FlacError(f"invalid coded-number lead byte at offset {pos}")
    val = b0 & (mask - 1)
    if pos + n > len(d):
        raise FlacError(f"truncated coded number at offset {pos}")
    for i in range(1, n):
        c = d[pos + i]
        if (c & 0xC0) != 0x80:
            raise FlacError(f"invalid coded-number continuation at offset {pos + i}")
        val = (val << 6) | (c & 0x3F)
    return val, pos + n


def _encode_coded_number(v: int) -> bytes:
    if v < 0x80:
        return bytes([v])
    # payload capacity for n bytes: (7 - n) + 6 * (n - 1) = 5n + 1 bits
    for n in range(2, 8):
        if v.bit_length() <= (7 - n) + 6 * (n - 1):
            lead_prefix = (0xFF << (8 - n)) & 0xFF if n < 8 else 0xFE
            shift = 6 * (n - 1)
            out = [lead_prefix | (v >> shift)]
            for i in range(n - 2, -1, -1):
                out.append(0x80 | ((v >> (6 * i)) & 0x3F))
            return bytes(out)
    raise ValueError(f"coded number {v} exceeds 36 bits")


def _parse_frame_header(
    d: bytes, pos: int, *, rate: int, bits: int
) -> "tuple[int, int, int, int]":
    """Parse one frame header at ``pos``.  Returns (block_size,
    coded_number, blocking_strategy, next_pos) — next_pos is the first
    byte after the CRC-8.  Raises :class:`FlacError` on any structural
    problem, which the scanner treats as 'not a frame here'."""
    if pos + 5 > len(d):
        raise FlacError(f"truncated frame header at offset {pos}")
    if d[pos] != 0xFF or (d[pos + 1] & 0xFC) != 0xF8:
        raise FlacError(f"lost frame sync at offset {pos}")
    if d[pos + 1] & 0x02:
        raise FlacError(f"reserved header bit set at offset {pos}")
    strategy = d[pos + 1] & 0x01
    bs_code = d[pos + 2] >> 4
    rate_code = d[pos + 2] & 0x0F
    ch_code = d[pos + 3] >> 4
    size_code = (d[pos + 3] >> 1) & 0x07
    if bs_code == 0:
        raise FlacError(f"reserved block-size code at offset {pos}")
    if rate_code == 0b1111:
        raise FlacError(f"forbidden sample-rate code at offset {pos}")
    if ch_code > 10:
        raise FlacError(f"reserved channel assignment at offset {pos}")
    if size_code == 0b011:
        raise FlacError(f"reserved sample-size code at offset {pos}")
    if d[pos + 3] & 0x01:
        raise FlacError(f"reserved bit set at offset {pos}")
    at = pos + 4
    number, at = _decode_coded_number(d, at)
    if bs_code == 0b0110:
        if at + 1 > len(d):
            raise FlacError(f"truncated 8-bit block size at offset {at}")
        block = d[at] + 1
        at += 1
    elif bs_code == 0b0111:
        if at + 2 > len(d):
            raise FlacError(f"truncated 16-bit block size at offset {at}")
        block = struct.unpack_from(">H", d, at)[0] + 1
        at += 2
    else:
        block = _BLOCK_SIZES[bs_code]
    hdr_rate = _RATES.get(rate_code)
    if rate_code == 0b1100:
        if at + 1 > len(d):
            raise FlacError(f"truncated sample-rate field at offset {at}")
        hdr_rate = d[at] * 1000
        at += 1
    elif rate_code in (0b1101, 0b1110):
        if at + 2 > len(d):
            raise FlacError(f"truncated sample-rate field at offset {at}")
        hdr_rate = struct.unpack_from(">H", d, at)[0]
        if rate_code == 0b1110:
            hdr_rate *= 10
        at += 2
    # STREAMINFO consistency gates (they also kill false syncs)
    if hdr_rate is not None and hdr_rate != rate:
        raise FlacError(f"frame sample rate {hdr_rate} != STREAMINFO {rate}")
    hdr_bits = _BITS.get(size_code)
    if hdr_bits is not None and hdr_bits != bits:
        raise FlacError(f"frame sample size {hdr_bits} != STREAMINFO {bits}")
    if at + 1 > len(d):
        raise FlacError(f"truncated frame-header CRC at offset {at}")
    if _crc8(d[pos:at]) != d[at]:
        raise FlacError(f"frame-header CRC-8 mismatch at offset {pos}")
    return block, number, strategy, at + 1


def parse_flac(data: bytes, *, keep_frames: bool = False) -> FlacInfo:
    """Walk every metadata block and locate every audio frame header.

    The first frame must start immediately after the last metadata
    block; each subsequent frame is found by scanning for the next
    candidate that parses, passes CRC-8, matches the stream's blocking
    strategy and STREAMINFO fields, and carries the expected coded
    number (see the module docstring on why that is sound without
    subframe decode).  ``keep_frames`` retains the per-frame index;
    off by default so a census holds O(1) state per payload.
    """
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise FlacError("payload is not bytes")
    d = bytes(data)
    if len(d) < 42 or d[:4] != SIGNATURE:
        raise FlacError("missing fLaC stream marker")

    pos = 4
    streaminfo = None
    vendor, comments = "", {}
    n_blocks = 0
    while True:
        if pos + 4 > len(d):
            raise FlacError(f"truncated metadata block header at offset {pos}")
        is_last = bool(d[pos] & 0x80)
        btype = d[pos] & 0x7F
        length = int.from_bytes(d[pos + 1:pos + 4], "big")
        body_at = pos + 4
        if body_at + length > len(d):
            raise FlacError(f"metadata block length {length} exceeds payload")
        body = d[body_at:body_at + length]
        if n_blocks == 0:
            if btype != 0:
                raise FlacError("first metadata block is not STREAMINFO")
            streaminfo = _parse_streaminfo(body)
        elif btype == 0:
            raise FlacError("duplicate STREAMINFO block")
        elif btype == 4:
            # VorbisComment: identical layout to Ogg's (little-endian)
            from etl_batch_spark.llmops.oggv import OggError, _vorbis_comments

            try:
                vendor, comments = _vorbis_comments(body)
            except OggError as exc:
                raise FlacError(f"malformed VorbisComment block: {exc}") from exc
        elif btype == 127:
            raise FlacError("forbidden metadata block type 127")
        n_blocks += 1
        pos = body_at + length
        if is_last:
            break

    assert streaminfo is not None
    min_bs, max_bs, rate, channels, bits, total = streaminfo
    if pos >= len(d):
        raise FlacError("no audio frames after metadata")

    # -- frame walk ---------------------------------------------------------
    frames: list[FlacFrame] = []
    n = 0
    walked_samples = 0
    strategy0: "int | None" = None
    expect_number = 0
    starts: list[int] = []
    blocks: list[int] = []
    numbers: list[int] = []
    scan = pos
    first = True
    while scan < len(d):
        if first:
            # the first frame must start exactly here
            block, number, strategy, _ = _parse_frame_header(
                d, scan, rate=rate, bits=bits
            )
            if number != 0:
                raise FlacError(
                    f"first frame's coded number is {number}, expected 0"
                )
            strategy0 = strategy
            first = False
        else:
            # scan forward for the next self-consistent frame header
            found = None
            at = scan
            while True:
                at = d.find(b"\xff", at)
                if at < 0 or at + 1 >= len(d):
                    break
                if (d[at + 1] & 0xFC) == 0xF8:
                    try:
                        cand = _parse_frame_header(d, at, rate=rate, bits=bits)
                    except FlacError:
                        at += 1
                        continue
                    block_c, number_c, strategy_c, _ = cand
                    if strategy_c == strategy0 and number_c == expect_number:
                        found = (at, block_c, number_c)
                        break
                at += 1
            if found is None:
                break  # no further frame: the last one runs to EOF
            scan = found[0]
            block, number = found[1], found[2]
        starts.append(scan)
        blocks.append(block)
        numbers.append(number)
        n += 1
        walked_samples += block
        expect_number = (number + 1) if strategy0 == 0 else (number + block)
        scan += 1  # resume scanning past this header's sync byte

    if n == 0:
        raise FlacError("no valid frame header after metadata")
    if total and walked_samples != total:
        raise FlacError(
            f"walked samples {walked_samples} != STREAMINFO total {total}"
        )
    if keep_frames:
        bounds = starts[1:] + [len(d)]
        frames = [
            FlacFrame(offset=s, size=e - s, block_size=b, coded_number=m)
            for s, e, b, m in zip(starts, bounds, blocks, numbers)
        ]
    return FlacInfo(
        sample_rate=rate,
        channels=channels,
        bits_per_sample=bits,
        total_samples=total,
        duration_s=(total / rate) if total else None,
        n_frames=n,
        walked_samples=walked_samples,
        variable_blocksize=bool(strategy0),
        min_block_size=min_bs,
        max_block_size=max_bs,
        vendor=vendor,
        comments=comments,
        n_metadata_blocks=n_blocks,
        frames=frames,
    )


# -- structural encoder (tests/fixtures) -----------------------------------

def _streaminfo_block(
    *, block_size: int, last_block: int, rate: int, channels: int,
    bits: int, total: int, is_last: bool,
) -> bytes:
    body = bytearray(34)
    struct.pack_into(">HH", body, 0, min(block_size, last_block), block_size)
    # min/max frame size left 0 (unknown) — permitted by the spec
    body[10] = (rate >> 12) & 0xFF
    body[11] = (rate >> 4) & 0xFF
    body[12] = ((rate & 0x0F) << 4) | ((channels - 1) << 1) | ((bits - 1) >> 4)
    body[13] = (((bits - 1) & 0x0F) << 4) | ((total >> 32) & 0x0F)
    body[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
    # md5 of unencoded audio: zeros = unknown, permitted
    return bytes([0x80 if is_last else 0x00, 0, 0, 34]) + bytes(body)


def _comment_block(vendor: str, comments: "dict[str, str]", *, is_last: bool) -> bytes:
    body = struct.pack("<I", len(vendor.encode())) + vendor.encode()
    items = list(comments.items())
    body += struct.pack("<I", len(items))
    for k, v in items:
        entry = f"{k}={v}".encode()
        body += struct.pack("<I", len(entry)) + entry
    if len(body) > 0xFFFFFF:
        raise ValueError("comment block exceeds 24-bit length")
    return bytes([0x84 if is_last else 0x04]) + len(body).to_bytes(3, "big") + body


def encode_flac(
    *,
    n_frames: int,
    block_size: int = 4096,
    last_block: "int | None" = None,
    sample_rate: int = 44100,
    channels: int = 2,
    bits: int = 16,
    comments: "dict[str, str] | None" = None,
    vendor: str = "etl-batch-spark structural encoder",
    payload_bytes: int = 64,
    fill: int = 0xA5,
) -> bytes:
    """A structurally-valid FLAC stream: real STREAMINFO + VorbisComment
    blocks and real frame headers (correct CRC-8, fixed blocking
    strategy, uncommon 16-bit block-size coding so the shortened last
    frame is expressible); subframe payloads are deterministic filler
    free of 0xFF — NOT decodable audio — which is sufficient for
    everything this module reads."""
    if n_frames < 1:
        raise ValueError("n_frames must be >= 1")
    if not 1 <= channels <= 8:
        raise ValueError("channels must be 1..8")
    if not 4 <= bits <= 32:
        raise ValueError("bits must be 4..32")
    if fill == 0xFF:
        raise ValueError("fill byte 0xFF would fabricate sync codes")
    last = block_size if last_block is None else last_block
    if not 1 <= last <= block_size:
        raise ValueError("last_block must be in 1..block_size")
    total = (n_frames - 1) * block_size + last

    out = bytearray(SIGNATURE)
    has_comments = comments is not None or vendor
    out += _streaminfo_block(
        block_size=block_size, last_block=last, rate=sample_rate,
        channels=channels, bits=bits, total=total, is_last=not has_comments,
    )
    if has_comments:
        out += _comment_block(vendor, comments or {}, is_last=True)

    rate_code = {v: k for k, v in _RATES.items()}.get(sample_rate)
    rate_tail = b""
    if rate_code is None:
        if sample_rate % 10 == 0 and sample_rate // 10 <= 0xFFFF:
            rate_code, rate_tail = 0b1110, struct.pack(">H", sample_rate // 10)
        elif sample_rate <= 0xFFFF:
            rate_code, rate_tail = 0b1101, struct.pack(">H", sample_rate)
        else:
            raise ValueError(f"sample rate {sample_rate} not encodable")
    size_code = {v: k for k, v in _BITS.items()}.get(bits, 0b000)
    for i in range(n_frames):
        block = last if i == n_frames - 1 else block_size
        hdr = bytearray([0xFF, 0xF8])  # sync, reserved 0, fixed strategy
        hdr.append((0b0111 << 4) | rate_code)  # 16-bit uncommon block size
        hdr.append(((channels - 1) << 4) | (size_code << 1))
        hdr += _encode_coded_number(i)
        hdr += struct.pack(">H", block - 1)
        hdr += rate_tail
        hdr.append(_crc8(bytes(hdr)))
        out += hdr
        out += bytes([fill]) * payload_bytes  # subframes + CRC-16 filler
    return bytes(out)
