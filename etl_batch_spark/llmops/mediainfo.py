"""Metadata-only media triage: container/dims/duration WITHOUT decode.

The stage in front of every decode pipeline at corpus scale: before
paying for a single pixel or sample, each payload is probed for its
container, modality, dimensions, duration and codec from HEADER BYTES
ALONE — a few hundred bytes of parsing per row — so routing (decode /
resize budget / quarantine / drop-by-resolution) happens at full scan
speed.  All formats below are parsed from their public specifications:

- images: PNG (IHDR), JPEG (SOF scan), GIF (logical screen), BMP
  (BITMAPINFOHEADER), PGM/PPM header, WebP (VP8 / VP8L / VP8X frame
  headers — dims parse even though FULL decode needs libwebp)
- audio: RIFF/WAVE fmt+data (exact duration), FLAC STREAMINFO (exact),
  MP3 first frame header (all MPEG versions/layers via llmops/mp3.py's
  tables; EXACT duration when a Xing/Info/VBRI tag is present, CBR
  estimate otherwise), Ogg (Opus/Vorbis identification headers + exact
  duration from the tail page's granule position); the full frame/page
  walks with integrity checking live in llmops/mp3.py and llmops/
  oggv.py — this probe stays O(head)+O(tail)
- video: AVI main header (dims + exact duration), MP4/MOV box walk
  (mvhd timescale/duration, tkhd track dims)

Probing is best-effort by design: an unrecognized signature yields
``container='unknown'``; a recognized container whose header is
corrupt keeps the container tag and reports the parse error in the
``error`` field — triage must NEVER kill the scan (that is what the
downstream decoder's raise/quarantine policy is for).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from etl_batch_spark.llmops.multimodal import _NULL_PAYLOAD, _error_text, _payload_map

PROBE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("container", T.StringType()),
        T.StructField("modality", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

_EMPTY = {
    "container": "unknown", "modality": None, "mime": None,
    "width": None, "height": None, "duration_s": None,
    "sample_rate": None, "channels": None, "codec": None, "error": None,
}


def _probe_png(d: bytes) -> dict:
    w, h = struct.unpack_from(">II", d, 16)
    return {"width": w, "height": h}


def _probe_jpeg(d: bytes) -> dict:
    pos, n = 2, len(d)
    while pos + 4 <= n:
        if d[pos] != 0xFF:
            break
        while pos + 1 < n and d[pos + 1] == 0xFF:
            pos += 1
        marker = d[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", d, pos + 2)
        if marker in (0xC0, 0xC1, 0xC2):
            _prec, h, w = struct.unpack_from(">BHH", d, pos + 4)
            kind = "progressive" if marker == 0xC2 else "baseline"
            return {"width": w, "height": h, "codec": f"jpeg-{kind}"}
        if marker == 0xDA:
            break
        pos += 2 + seglen
    raise ValueError("no SOF before SOS")


def _probe_gif(d: bytes) -> dict:
    w, h = struct.unpack_from("<HH", d, 6)
    return {"width": w, "height": h}


def _probe_bmp(d: bytes) -> dict:
    w, h = struct.unpack_from("<ii", d, 18)
    return {"width": w, "height": abs(h)}


def _probe_pnm(d: bytes) -> dict:
    from etl_batch_spark.llmops.pnm import _tokens

    (w, h), _ = _tokens(d, 2, 2)
    return {"width": w, "height": h}


def _probe_webp(d: bytes) -> dict:
    fourcc = d[12:16]
    if fourcc == b"VP8X":  # extended: 24-bit minus-one dims at offset 24
        w = int.from_bytes(d[24:27], "little") + 1
        h = int.from_bytes(d[27:30], "little") + 1
        return {"width": w, "height": h, "codec": "webp-extended"}
    if fourcc == b"VP8L":  # lossless: 0x2F then 14+14 bits LSB-first
        if d[20] != 0x2F:
            raise ValueError("bad VP8L signature byte")
        bits = int.from_bytes(d[21:25], "little")
        return {
            "width": (bits & 0x3FFF) + 1,
            "height": ((bits >> 14) & 0x3FFF) + 1,
            "codec": "webp-lossless",
        }
    if fourcc == b"VP8 ":  # lossy: key-frame sync 9D 01 2A then dims
        if d[23:26] != b"\x9d\x01\x2a":
            raise ValueError("bad VP8 key-frame sync")
        w, h = struct.unpack_from("<HH", d, 26)
        return {"width": w & 0x3FFF, "height": h & 0x3FFF, "codec": "webp-lossy"}
    raise ValueError(f"unknown WebP variant {fourcc!r}")


def _probe_wav(d: bytes) -> dict:
    from etl_batch_spark.llmops.wav import _parse_fmt

    pos, end = 12, min(len(d), 8 + struct.unpack_from("<I", d, 4)[0])
    fmt = data_size = None
    while pos + 8 <= end:
        cid = d[pos : pos + 4]
        (csize,) = struct.unpack_from("<I", d, pos + 4)
        if cid == b"fmt ":
            fmt = _parse_fmt(d[pos + 8 : pos + 8 + csize])
        elif cid == b"data":
            data_size = min(csize, end - pos - 8)
        pos += 8 + csize + (csize & 1)
    if fmt is None:
        raise ValueError("missing fmt chunk")
    _tag, channels, rate, bits = fmt
    out = {"sample_rate": rate, "channels": channels, "codec": f"pcm{bits}"}
    if data_size is not None:
        out["duration_s"] = data_size / (rate * channels * bits // 8)
    return out


def _probe_avi(d: bytes) -> dict:
    # the avih chunk lives inside LIST hdrl — a bounded scan finds it
    idx = d.find(b"avih", 12, 4096)
    if idx < 0 or idx + 48 > len(d):
        raise ValueError("missing avih header")
    us_per_frame, _mb, _p, _f, total_frames = struct.unpack_from("<5I", d, idx + 8)
    w, h = struct.unpack_from("<II", d, idx + 8 + 32)
    out = {"width": w, "height": h, "codec": "avi"}
    if us_per_frame and total_frames:
        out["duration_s"] = total_frames * us_per_frame / 1e6
    return out


def _probe_mp3(d: bytes) -> dict:
    """First-frame MPEG audio probe, upgraded on the frame codec's
    tables (llmops/mp3.py): every version (1/2/2.5) and layer (I-III)
    resolves, and when the first frame carries a Xing/Info/VBRI tag
    the duration is EXACT (declared frames x samples-per-frame / rate)
    instead of the CBR estimate — still reading only the head."""
    from etl_batch_spark.llmops import mp3 as _mp3

    pos = 0
    if d[:3] == b"ID3":  # syncsafe 28-bit tag size
        size = ((d[6] & 0x7F) << 21) | ((d[7] & 0x7F) << 14) | ((d[8] & 0x7F) << 7) | (d[9] & 0x7F)
        pos = 10 + size
    hdr_at = -1
    for i in range(pos, min(pos + 4096, len(d) - 3)):
        if d[i] == 0xFF and (d[i + 1] & 0xE0) == 0xE0:
            hdr_at = i
            break
    if hdr_at < 0:
        raise ValueError("no MPEG frame sync")
    frame = _mp3._parse_header(d, hdr_at)
    out = {
        "sample_rate": frame.sample_rate,
        "channels": frame.channels,
        "codec": "mp3",
    }
    tag = _mp3._vbr_tag(d, frame)
    if tag is not None and tag[1]:
        out["duration_s"] = round(tag[1] * frame.samples / frame.sample_rate, 3)
    else:
        # CBR estimate from the first frame header — flagged as such
        out["duration_s"] = round(
            (len(d) - hdr_at) * 8 / (frame.bitrate_kbps * 1000), 3
        )
    return out


def _probe_flac(d: bytes) -> dict:
    # STREAMINFO is the mandatory first metadata block (header at 4)
    if (d[4] & 0x7F) != 0:
        raise ValueError("first FLAC block is not STREAMINFO")
    si = d[8:8 + 34]
    if len(si) < 34:
        raise ValueError("truncated STREAMINFO")
    rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
    channels = ((si[12] >> 1) & 0x07) + 1
    total = ((si[13] & 0x0F) << 32) | int.from_bytes(si[14:18], "big")
    out = {"sample_rate": rate, "channels": channels, "codec": "flac"}
    if rate and total:
        out["duration_s"] = round(total / rate, 3)
    return out


def _ogg_last_granule(d: bytes, serial: "int | None" = None) -> "int | None":
    """Granule position of the last plausible page header, by scanning
    the TAIL for 'OggS' — O(tail), no page walk (the full CRC-checked
    walk lives in llmops/oggv.py).  Header pages stamp -1; step back
    past those.  'OggS' can also occur INSIDE page bodies (comment
    text, audio payload) or belong to another multiplexed stream, so a
    candidate must look like a real page header — version byte 0,
    known header-type flags, lacing table in bounds, and (when given)
    the head page's ``serial`` — before its granule is trusted."""
    at = len(d)
    for _ in range(8):
        at = d.rfind(b"OggS", 0, at)
        if at < 0:
            return None
        if at + 27 > len(d) or d[at + 4] != 0 or d[at + 5] >= 8:
            continue
        if at + 27 + d[at + 26] > len(d):
            continue
        if serial is not None and struct.unpack_from("<I", d, at + 14)[0] != serial:
            continue
        (granule,) = struct.unpack_from("<q", d, at + 6)
        if granule >= 0:
            return granule
    return None


def _probe_ogg(d: bytes) -> dict:
    nsegs = d[26]  # packet data starts after the segment lacing table
    page = d[27 + nsegs : 27 + nsegs + 64]
    head_serial = struct.unpack_from("<I", d, 14)[0]
    if page.startswith(b"OpusHead"):
        out = {
            "codec": "opus",
            "channels": page[9],
            "sample_rate": struct.unpack_from("<I", page, 12)[0],
        }
        granule = _ogg_last_granule(d, head_serial)
        if granule is not None:
            pre_skip = struct.unpack_from("<H", page, 10)[0]
            # Opus granules are 48 kHz samples regardless of input rate
            out["duration_s"] = round(max(0, granule - pre_skip) / 48000, 3)
        return out
    if page.startswith(b"\x01vorbis"):
        out = {
            "codec": "vorbis",
            "channels": page[11],
            "sample_rate": struct.unpack_from("<I", page, 12)[0],
        }
        granule = _ogg_last_granule(d, head_serial)
        if granule is not None and out["sample_rate"]:
            out["duration_s"] = round(granule / out["sample_rate"], 3)
        return out
    raise ValueError("unrecognized Ogg stream type")


def _probe_mp4(d: bytes) -> dict:
    out: dict = {"codec": "mp4"}

    def walk(pos: int, end: int, depth: int) -> None:
        if depth > 6:
            raise ValueError("box nesting too deep")
        while pos + 8 <= end:
            (size,) = struct.unpack_from(">I", d, pos)
            box = d[pos + 4 : pos + 8]
            if size == 1:  # 64-bit size
                (size,) = struct.unpack_from(">Q", d, pos + 8)
                body = pos + 16
            elif size == 0:  # to end of enclosing box
                size = end - pos
                body = pos + 8
            else:
                body = pos + 8
            if size < 8 or pos + size > end:
                raise ValueError(f"box {box!r} size {size} out of bounds")
            if box in (b"moov", b"trak"):
                walk(body, pos + size, depth + 1)
            elif box == b"mvhd":
                ver = d[body]
                if ver == 1:
                    tscale, dur = struct.unpack_from(">IQ", d, body + 20)
                else:
                    tscale, dur = struct.unpack_from(">II", d, body + 12)
                if tscale:
                    out["duration_s"] = round(dur / tscale, 3)
            elif box == b"tkhd" and "width" not in out:
                ver = d[body]
                off = body + (88 if ver == 1 else 76)
                w, h = struct.unpack_from(">II", d, off)
                if w and h:  # 16.16 fixed point; audio tracks carry 0x0
                    out["width"] = w >> 16
                    out["height"] = h >> 16
            pos += size

    walk(0, len(d), 0)
    return out


# signature -> (container, modality, mime, parser)
_PROBES: list[tuple] = [
    (b"\x89PNG\r\n\x1a\n", "png", "image", "image/png", _probe_png),
    (b"\xff\xd8\xff", "jpeg", "image", "image/jpeg", _probe_jpeg),
    (b"GIF87a", "gif", "image", "image/gif", _probe_gif),
    (b"GIF89a", "gif", "image", "image/gif", _probe_gif),
    (b"BM", "bmp", "image", "image/bmp", _probe_bmp),
    (b"P2", "pnm", "image", "image/x-portable-graymap", _probe_pnm),
    (b"P3", "pnm", "image", "image/x-portable-pixmap", _probe_pnm),
    (b"P5", "pnm", "image", "image/x-portable-graymap", _probe_pnm),
    (b"P6", "pnm", "image", "image/x-portable-pixmap", _probe_pnm),
    (b"fLaC", "flac", "audio", "audio/flac", _probe_flac),
    (b"OggS", "ogg", "audio", "audio/ogg", _probe_ogg),
    (b"ID3", "mp3", "audio", "audio/mpeg", _probe_mp3),
]


def probe_media(payload: bytes) -> dict:
    """Best-effort header probe of one payload; see module docstring.
    Always returns the full field dict, never raises."""
    out = dict(_EMPTY)
    try:
        d = bytes(payload)
    except Exception as exc:  # noqa: BLE001
        out["error"] = _error_text(exc)
        return out
    container = parser = None
    if d[:4] == b"RIFF" and len(d) >= 12:
        kind = d[8:12]
        if kind == b"WAVE":
            container, parser = "wav", _probe_wav
            out.update(modality="audio", mime="audio/wav")
        elif kind == b"AVI ":
            container, parser = "avi", _probe_avi
            out.update(modality="video", mime="video/x-msvideo")
        elif kind == b"WEBP":
            container, parser = "webp", _probe_webp
            out.update(modality="image", mime="image/webp")
    elif (
        len(d) >= 12
        and d[4:8] == b"ftyp"
        # 'ftyp' at offset 4 alone is not enough: the preceding 4 bytes
        # must be a plausible big-endian box size (the ftyp box is
        # 8-byte header + brand/version/compatible-brands — ≥16, tiny
        # in practice).  Without this, any payload whose TEXT happens
        # to contain 'ftyp' at offset 4 (e.g. behind a 2-byte magic
        # like PNM's 'P2') would be misclassified as mp4.
        and 16 <= struct.unpack(">I", d[:4])[0] <= (1 << 20)
        and struct.unpack(">I", d[:4])[0] % 4 == 0
    ):
        container, parser = "mp4", _probe_mp4
        out.update(modality="video", mime="video/mp4")
    elif len(d) >= 2 and d[0] == 0xFF and (d[1] & 0xE0) == 0xE0 and d[:3] != b"\xff\xd8\xff":
        container, parser = "mp3", _probe_mp3
        out.update(modality="audio", mime="audio/mpeg")
    else:
        for sig, name, modality, mime, fn in _PROBES:
            if d.startswith(sig):
                container, parser = name, fn
                out.update(modality=modality, mime=mime)
                break
    if container is None:
        return out
    out["container"] = container
    try:
        out.update(parser(d))
    except Exception as exc:  # noqa: BLE001 — triage never kills the scan
        out["error"] = _error_text(exc)
    return out


def probe_media_df(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Probe every payload of a column (see :func:`probe_media`) — the
    scan stage in front of decode_image/decode_audio.
    A NULL payload gives a ``container='unknown'`` row with a
    ``NullPayload`` error, like any other unprobeable payload.

    ``keep_cols`` names input columns carried through unchanged (e.g.
    ``("source", "payload")``) so a probe→route→decode pipeline can
    filter on the probe verdict and hand the SAME rows to the decoder —
    no re-scan, no id re-join (which fans out under duplicate ids)."""
    probe_fields = {f.name for f in PROBE_SCHEMA.fields} - {"doc_id"}
    clash = sorted(probe_fields & set(keep_cols) | ({id_col} & probe_fields))
    if clash:
        raise ValueError(
            f"keep_cols/id_col collide with probe output fields: {clash} — "
            "rename the input column(s) before probing"
        )
    # id_col is always carried through; repeating it in keep_cols (or
    # repeating any name) would emit a duplicate output field, which
    # dies later as an opaque Arrow schema error — fail loudly here.
    if id_col in keep_cols or len(set(keep_cols)) != len(keep_cols):
        raise ValueError(
            f"keep_cols must be unique and must not repeat id_col "
            f"({id_col!r}): got {tuple(keep_cols)!r}"
        )
    cols = PROBE_SCHEMA.fieldNames()[1:]
    # probe_media never raises (its own error lands in the ``error``
    # field), so the map runs in raise mode with a fixed NULL row
    null_row = tuple(dict(_EMPTY, error=_NULL_PAYLOAD)[c] for c in cols)
    return _payload_map(
        df, lambda p: [tuple(probe_media(p)[c] for c in cols)], PROBE_SCHEMA,
        op="probe_media_df", id_col=id_col, payload_col=payload_col,
        null_row=null_row, keep_cols=keep_cols,
    )
