"""Pure-stdlib PNG codec (zlib inflate + scanline unfilter).

The multimodal family stubs its codec step because this environment has
no image libraries — but PNG needs none: the container format is chunks
with CRC32s, the compression is zlib, and the per-scanline filters
(None/Sub/Up/Average/Paeth, RFC 2083 §6) are byte arithmetic.  This
module makes ONE real format work end-to-end so
:func:`etl_batch_spark.llmops.multimodal.decode_image` has a genuine
decode path next to its deterministic fake twin.

Scope (deliberate): 8-bit depth, color types 0 (gray), 2 (RGB),
4 (gray+alpha), 6 (RGBA), non-interlaced.  Palette (type 3), 16-bit and
Adam7 interlace raise ``PngError`` — at training-pipeline scale those
long-tail variants route to a quarantine sink (the header-only
triage of ``mediainfo.probe_media_df`` runs before any decode) rather
than a slower universal decoder.  The decoder verifies chunk CRCs and the zlib stream,
so corrupt payloads fail loudly instead of yielding garbage pixels.

``encode_png`` exists so tests can GENERATE real PNGs (any filter type
per scanline) without PIL and round-trip them bit-exactly.

Per-pixel work here is Python-level and runs inside Arrow-batched
``mapInPandas`` workers — fine for the sandbox and for tests; a real
cluster swaps this module for libvips behind the same interface.
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
# Default pixel-count ceiling (8192x8192 == 64M pixels, ~256 MB RGBA).
# The inflate bound below is derived from the payload's OWN IHDR, so
# without this cap a crafted header claiming 60000x60000 would set a
# ~14 GB decompress budget and OOM the worker before any size check —
# quarantine mode can't catch an OOM-killed executor.
MAX_PIXELS = 1 << 26


class PngError(ValueError):
    """Malformed, corrupt, or out-of-scope PNG payload."""


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
    the linear estimate a+b-c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _chunks(data: bytes):
    """Yield (type, payload) for each chunk, verifying length and CRC."""
    pos = len(_SIGNATURE)
    n = len(data)
    while pos < n:
        if pos + 8 > n:
            raise PngError("truncated chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        end = pos + 8 + length
        if end + 4 > n:
            raise PngError(f"truncated {ctype!r} chunk")
        payload = data[pos + 8 : end]
        (crc,) = struct.unpack(">I", data[end : end + 4])
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise PngError(f"bad CRC in {ctype!r} chunk")
        yield ctype, payload
        pos = end + 4


def decode_png(
    data: bytes, *, max_pixels: int = MAX_PIXELS
) -> tuple[int, int, int, bytes]:
    """Decode a PNG to ``(width, height, channels, pixels)`` where
    ``pixels`` is the raw unfiltered sample bytes, row-major,
    ``channels`` interleaved per pixel (exactly what a training
    pipeline's patchifier consumes).  Images whose IHDR declares more
    than ``max_pixels`` pixels are rejected BEFORE any allocation."""
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise PngError("payload is not bytes")
    data = bytes(data)
    if not data.startswith(_SIGNATURE):
        raise PngError("not a PNG (bad signature)")

    width = height = channels = -1
    idat = bytearray()
    seen_ihdr = seen_iend = False
    for ctype, payload in _chunks(data):
        if ctype == b"IHDR":
            if len(payload) != 13:
                raise PngError("IHDR length != 13")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if width == 0 or height == 0:
                raise PngError("zero dimension")
            if width * height > max_pixels:
                raise PngError(
                    f"declared dimensions {width}x{height} exceed "
                    f"max_pixels={max_pixels}"
                )
            if depth != 8:
                raise PngError(f"unsupported bit depth {depth} (only 8)")
            if color not in _CHANNELS:
                raise PngError(f"unsupported color type {color} (palette?)")
            if comp != 0 or filt != 0:
                raise PngError("nonstandard compression/filter method")
            if interlace != 0:
                raise PngError("Adam7 interlace not supported")
            channels = _CHANNELS[color]
            seen_ihdr = True
        elif ctype == b"IDAT":
            if not seen_ihdr:
                raise PngError("IDAT before IHDR")
            idat += payload
        elif ctype == b"IEND":
            seen_iend = True
            break
        # ancillary chunks (tEXt, pHYs, ...) are CRC-checked and skipped
    if not seen_ihdr:
        raise PngError("missing IHDR")
    if not seen_iend:
        raise PngError("missing IEND")
    if not idat:
        raise PngError("missing IDAT")

    stride = width * channels  # bytes per unfiltered scanline (depth 8)
    expected = (stride + 1) * height
    # Bounded inflate: IHDR fixes the exact output size, so never let a
    # high-ratio (~1000:1) corrupt/adversarial stream expand past it —
    # an unbounded zlib.decompress would OOM the executor before the
    # size check ever ran.
    try:
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        raise PngError(f"corrupt IDAT zlib stream: {exc}") from exc
    if len(raw) > expected or d.unconsumed_tail:
        raise PngError(f"decompressed size exceeds expected {expected}")
    if len(raw) < expected:
        raise PngError(f"decompressed size {len(raw)} != expected {expected}")

    bpp = channels  # bytes per pixel at depth 8
    out = bytearray(stride * height)
    prev_start = -1  # start of the previous RECONSTRUCTED row in `out`
    for y in range(height):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = raw[row_start + 1 : row_start + 1 + stride]
        o = y * stride
        if ftype == 0:  # None
            out[o : o + stride] = line
        elif ftype == 1:  # Sub
            for x in range(stride):
                left = out[o + x - bpp] if x >= bpp else 0
                out[o + x] = (line[x] + left) & 0xFF
        elif ftype == 2:  # Up
            if prev_start < 0:
                out[o : o + stride] = line
            else:
                for x in range(stride):
                    out[o + x] = (line[x] + out[prev_start + x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = out[o + x - bpp] if x >= bpp else 0
                up = out[prev_start + x] if prev_start >= 0 else 0
                out[o + x] = (line[x] + ((left + up) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = out[o + x - bpp] if x >= bpp else 0
                up = out[prev_start + x] if prev_start >= 0 else 0
                ul = out[prev_start + x - bpp] if (prev_start >= 0 and x >= bpp) else 0
                out[o + x] = (line[x] + _paeth(left, up, ul)) & 0xFF
        else:
            raise PngError(f"unknown filter type {ftype} in scanline {y}")
        prev_start = o
    return width, height, channels, bytes(out)


def encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    *,
    filter_type: int = 0,
    level: int = 6,
) -> bytes:
    """Minimal PNG writer (tests + fixture generation; exercises every
    decoder filter path via ``filter_type`` 0–4 applied to all rows)."""
    color = {1: 0, 3: 2, 2: 4, 4: 6}.get(channels)
    if color is None:
        raise PngError(f"unsupported channel count {channels}")
    stride = width * channels
    if len(pixels) != stride * height:
        raise PngError(f"pixel buffer {len(pixels)} != {stride}*{height}")
    if filter_type not in (0, 1, 2, 3, 4):
        raise PngError(f"unknown filter type {filter_type}")

    bpp = channels
    raw = bytearray()
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        prev = pixels[(y - 1) * stride : y * stride] if y > 0 else bytes(stride)
        raw.append(filter_type)
        for x in range(stride):
            # prev is all zeros on row 0, so `up`/`ul` need no y guard —
            # the exact inverse of the decoder's unfilter arms
            left = row[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            if filter_type == 0:
                pred = 0
            elif filter_type == 1:
                pred = left
            elif filter_type == 2:
                pred = up
            elif filter_type == 3:
                pred = (left + up) >> 1
            else:
                pred = _paeth(left, up, ul)
            raw.append((row[x] - pred) & 0xFF)

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        _SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), level))
        + chunk(b"IEND", b"")
    )
