"""Pure-stdlib WebP container probe (the RIFF family's image member).

WebP is the last common crawl image payload without a probe→census
tier in the repo (JPEG/PNG/GIF/BMP/PNM decode; WAV walk).  This
module parses the container and frame headers in O(header + chunk
walk): canvas dimensions, lossy/lossless/extended variant, alpha,
animation frame count and total duration, and metadata-chunk presence
(EXIF/ICC/XMP).  Everything comes from public specifications: the
Google WebP Container Specification (developers.google.com/speed/webp/
docs/riff_container), the VP8 keyframe header in RFC 6386 §9.1, and
the public VP8L lossless bitstream spec.

Scope (deliberate): header/structure census only.  SAMPLE decode (VP8
DCT reconstruction, VP8L entropy coding) is out of scope — payloads
needing pixel data route to quarantine exactly like H.264 in mp4.py,
and a real cluster swaps in libwebp behind the same interface.  That
boundary is the point: a 100 TB crawl census needs dims/animation/
metadata at scan bandwidth, not pixels.

Same hostile-input discipline as the sibling codecs: declared counts
and sizes are bounded before use, every malformed path raises
``WebpError``, chunk walks never trust a size field past the payload
end.  ``encode_webp`` exists so tests and the mm12 oracle query can
fabricate spec-valid fixtures deterministically.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

SIGNATURE = b"RIFF"
MAX_FRAMES = 1 << 20

# VP8X flag byte (container spec: Rsv2 | ICC | Alpha | EXIF | XMP |
# Animation | Rsv1)
_F_ICC = 0x20
_F_ALPHA = 0x10
_F_EXIF = 0x08
_F_XMP = 0x04
_F_ANIM = 0x02


class WebpError(ValueError):
    """Malformed, corrupt, or out-of-scope WebP payload."""


@dataclass(frozen=True)
class WebpInfo:
    variant: str  # 'lossy' | 'lossless' | 'extended'
    width: int  # canvas width in pixels
    height: int
    has_alpha: bool
    is_animated: bool
    n_frames: int  # 1 for stills
    duration_ms: int  # 0 for stills; sum of ANMF durations otherwise
    has_exif: bool
    has_icc: bool
    has_xmp: bool


def _walk_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_size) over a RIFF chunk run,
    validating every size field against ``end`` (word-aligned steps)."""
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (csize,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + csize > end:
            raise WebpError(
                f"chunk {cid!r} declares {csize} bytes past payload end"
            )
        yield cid, body, csize
        pos = body + csize + (csize & 1)


def _u24(data: bytes, pos: int) -> int:
    return data[pos] | data[pos + 1] << 8 | data[pos + 2] << 16


def _parse_vp8_header(data: bytes, body: int, csize: int) -> "tuple[int, int]":
    """Keyframe dims from a 'VP8 ' chunk (RFC 6386 §9.1: 3-byte frame
    tag, 3-byte start code, two 14-bit LE dimension fields)."""
    if csize < 10:
        raise WebpError(f"VP8 chunk too short for a keyframe header ({csize})")
    tag = _u24(data, body)
    if tag & 0x1:
        raise WebpError("VP8 chunk holds an interframe, not a keyframe")
    first_part = tag >> 5
    if 10 + first_part > csize:
        raise WebpError(
            f"VP8 first partition ({first_part}) overruns chunk ({csize})"
        )
    if data[body + 3 : body + 6] != b"\x9d\x01\x2a":
        raise WebpError("VP8 keyframe start code missing")
    (w16,) = struct.unpack_from("<H", data, body + 6)
    (h16,) = struct.unpack_from("<H", data, body + 8)
    return w16 & 0x3FFF, h16 & 0x3FFF


def _parse_vp8l_header(
    data: bytes, body: int, csize: int
) -> "tuple[int, int, bool]":
    """(width, height, alpha) from a VP8L chunk (lossless spec: 0x2F
    signature, then 14+14+1+3 bits little-endian)."""
    if csize < 5:
        raise WebpError(f"VP8L chunk too short for its header ({csize})")
    if data[body] != 0x2F:
        raise WebpError(f"VP8L signature byte is {data[body]:#x}, not 0x2f")
    (bits,) = struct.unpack_from("<I", data, body + 1)
    if bits >> 29:
        raise WebpError(f"VP8L version {bits >> 29} is reserved")
    return (bits & 0x3FFF) + 1, (bits >> 14 & 0x3FFF) + 1, bool(bits >> 28 & 1)


def parse_webp(data: bytes) -> WebpInfo:
    """Walk the container and frame headers; O(chunks), O(1) state."""
    if len(data) < 12 or data[:4] != SIGNATURE:
        raise WebpError("not a RIFF payload")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    if 8 + riff_size > len(data):
        raise WebpError(
            f"RIFF declares {riff_size} bytes, payload has {len(data) - 8}"
        )
    if data[8:12] != b"WEBP":
        raise WebpError(f"RIFF form is {data[8:12]!r}, not WEBP")
    end = 8 + riff_size

    chunks = list(_walk_chunks(data, 12, end))
    if not chunks:
        raise WebpError("WEBP form holds no chunks")
    cid, body, csize = chunks[0]

    if cid == b"VP8 ":
        w, h = _parse_vp8_header(data, body, csize)
        return WebpInfo("lossy", w, h, False, False, 1, 0,
                        False, False, False)
    if cid == b"VP8L":
        w, h, alpha = _parse_vp8l_header(data, body, csize)
        return WebpInfo("lossless", w, h, alpha, False, 1, 0,
                        False, False, False)
    if cid != b"VP8X":
        raise WebpError(f"first chunk {cid!r} is not VP8 /VP8L/VP8X")

    # extended file: VP8X carries flags + 24-bit canvas dims-minus-one
    if csize != 10:
        raise WebpError(f"VP8X payload must be 10 bytes, got {csize}")
    flags = data[body]
    w = _u24(data, body + 4) + 1
    h = _u24(data, body + 7) + 1
    animated = bool(flags & _F_ANIM)

    seen = {c[0] for c in chunks[1:]}
    n_frames, duration = 0, 0
    has_image = False
    for ccid, cbody, ccsize in chunks[1:]:
        if ccid == b"ANMF":
            # frame header: x,y,(w-1),(h-1),duration as 24-bit LE + flags
            if ccsize < 16:
                raise WebpError(f"ANMF frame header truncated ({ccsize})")
            n_frames += 1
            if n_frames > MAX_FRAMES:
                raise WebpError(f"more than {MAX_FRAMES} animation frames")
            duration += _u24(data, cbody + 12)
        elif ccid in (b"VP8 ", b"VP8L"):
            has_image = True
    if animated:
        if b"ANIM" not in seen:
            raise WebpError("animation flag set but no ANIM chunk")
        if n_frames == 0:
            raise WebpError("animation flag set but no ANMF frames")
    else:
        if n_frames:
            raise WebpError("ANMF frames present without the animation flag")
        if not has_image:
            raise WebpError("extended still has no VP8 /VP8L image chunk")
        n_frames = 1

    return WebpInfo(
        "extended", w, h, bool(flags & _F_ALPHA), animated, n_frames,
        duration, bool(flags & _F_EXIF),
        bool(flags & _F_ICC), bool(flags & _F_XMP),
    )


# ---------------------------------------------------------------------------
# fixture encoder
# ---------------------------------------------------------------------------


def _chunk(cid: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) & 1 else b""
    return cid + struct.pack("<I", len(payload)) + payload + pad


def _vp8_chunk(width: int, height: int) -> bytes:
    filler = bytes(8)
    tag = (len(filler) << 5) | (1 << 4)  # keyframe, version 0, shown
    payload = (
        struct.pack("<I", tag)[:3]
        + b"\x9d\x01\x2a"
        + struct.pack("<HH", width & 0x3FFF, height & 0x3FFF)
        + filler
    )
    return _chunk(b"VP8 ", payload)


def _vp8l_chunk(width: int, height: int, alpha: bool) -> bytes:
    bits = (width - 1) | (height - 1) << 14 | int(alpha) << 28
    return _chunk(b"VP8L", b"\x2f" + struct.pack("<I", bits) + bytes(4))


def encode_webp(
    *,
    width: int,
    height: int,
    lossless: bool = False,
    alpha: bool = False,
    frame_durations_ms: "list[int] | None" = None,
    exif: bool = False,
    icc: bool = False,
    xmp: bool = False,
) -> bytes:
    """Fabricate a spec-valid WebP.  A bare still emits the simple
    lossy/lossless form; any of alpha-on-lossy, animation, or metadata
    chunks promotes to the extended (VP8X) form, exactly as libwebp's
    muxer decides."""
    # VP8 stores the dim itself in 14 bits (max 16383); VP8L stores
    # dim-1 (max 16384)
    lim = (1 << 14) if lossless else (1 << 14) - 1
    if not (1 <= width <= lim and 1 <= height <= lim):
        raise ValueError(f"dims must be in [1, {lim}] for this variant")
    animated = bool(frame_durations_ms)
    extended = animated or exif or icc or xmp or (alpha and not lossless)

    if not extended:
        image = (
            _vp8l_chunk(width, height, alpha)
            if lossless
            else _vp8_chunk(width, height)
        )
        body = b"WEBP" + image
        return SIGNATURE + struct.pack("<I", len(body)) + body

    flags = (
        (_F_ICC if icc else 0)
        | (_F_ALPHA if alpha else 0)
        | (_F_EXIF if exif else 0)
        | (_F_XMP if xmp else 0)
        | (_F_ANIM if animated else 0)
    )
    vp8x = _chunk(
        b"VP8X",
        bytes([flags]) + bytes(3)
        + struct.pack("<I", width - 1)[:3]
        + struct.pack("<I", height - 1)[:3],
    )
    parts = [vp8x]
    if icc:
        parts.append(_chunk(b"ICCP", b"\x00" * 11))  # odd size: pad path
    if animated:
        parts.append(_chunk(b"ANIM", struct.pack("<IH", 0xFFFFFFFF, 0)))
        sub = (
            _vp8l_chunk(width, height, alpha)
            if lossless
            else _vp8_chunk(width, height)
        )
        for d in frame_durations_ms:
            if not 0 <= d < 1 << 24:
                raise ValueError(f"frame duration {d} does not fit 24 bits")
            hdr = (
                struct.pack("<I", 0)[:3]  # x
                + struct.pack("<I", 0)[:3]  # y
                + struct.pack("<I", width - 1)[:3]
                + struct.pack("<I", height - 1)[:3]
                + struct.pack("<I", d)[:3]
                + b"\x00"
            )
            parts.append(_chunk(b"ANMF", hdr + sub))
    else:
        parts.append(
            _vp8l_chunk(width, height, alpha)
            if lossless
            else _vp8_chunk(width, height)
        )
    if exif:
        parts.append(_chunk(b"EXIF", b"II*\x00" + bytes(8)))
    if xmp:
        parts.append(_chunk(b"XMP ", b"<x/>"))
    body = b"WEBP" + b"".join(parts)
    return SIGNATURE + struct.pack("<I", len(body)) + body
