"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a typed
metadata struct (modality, mime, width/height/duration, sha256,
n_bytes).  Decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` transforms — the right shape for 100 TB:
payloads never pass through the driver, batches stream per partition,
and the Python stage is a narrow map (no shuffle).

Payload-map contract — every payload operator here and
:func:`..mediainfo.probe_media_df` is one :func:`_payload_map`: a
single ``mapInPandas`` over ``(id, payload)`` that turns each payload
into zero or more output rows.

- The output keys on the caller's ``id_col``, with its name and type
  (ids are often URLs or content hashes at crawl scale).
- ``errors="raise"`` (the default where an operator offers
  ``errors``; the only mode of ``resize_image`` and
  ``window_energy``): a NULL payload raises ``ValueError`` naming the
  operator and the column, and a bad payload aborts the job.
- ``errors="quarantine"`` (always on for the ``*_census`` operators):
  the output gains a trailing ``error`` column, NULL on good rows.  A
  NULL payload becomes ONE row of NULL fields with
  ``"NullPayload: payload is NULL"``; a payload whose decode raises the
  caught type becomes ONE row of NULL fields with
  ``"{Type}: {msg}"``.  The ``decode_*`` operators and
  ``sample_video_frames`` catch ``Exception``; each census catches only
  its codec's error type, so a foreign exception is a codec bug that
  fails loudly (``tools/fuzz_codecs.py`` soaks every codec for them).
  Filter ``error IS NULL`` for the clean side and ``IS NOT NULL`` for
  the quarantine sink.

Codec status — every format here decodes FOR REAL via pure-stdlib
codecs: PNG (:mod:`..png`: zlib inflate + scanline unfilter), JPEG
baseline AND progressive (:mod:`..jpeg`: SOF0/SOF1/SOF2 Huffman DCT),
GIF first frames (:mod:`..gif`: LZW, palettes, interlace), BMP
(:mod:`..bmp`) and PGM/PPM (:mod:`..pnm`) for images; RIFF/WAVE PCM
audio (:mod:`..wav`, ``decode_audio``); MJPEG-AVI video
(:mod:`..avi`, ``sample_video_frames``: container parse -> fps
sampling -> JPEG decode of only the sampled frames).
``decode_image(..., fake=False)`` / ``decode_audio(..., fake=False)``
dispatch on the payload signature and raise ``NotImplementedError``
only for formats that genuinely need external libraries
(WebP / compressed audio / video).
``fake=True`` keeps the deterministic md5-derived stub, which remains
the oracle twin for the mm* registry queries (their fixture payloads
are text, not images).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_batch_spark.llmops.bmp import SIGNATURE as _BMP_SIGNATURE
from etl_batch_spark.llmops.bmp import decode_bmp as _decode_bmp
from etl_batch_spark.llmops.gif import SIGNATURES as _GIF_SIGNATURES
from etl_batch_spark.llmops.gif import decode_gif as _decode_gif
from etl_batch_spark.llmops.jpeg import SIGNATURE as _JPEG_SIGNATURE
from etl_batch_spark.llmops.jpeg import decode_jpeg as _decode_jpeg
from etl_batch_spark.llmops.png import _SIGNATURE as _PNG_SIGNATURE
from etl_batch_spark.llmops.png import decode_png as _decode_png
from etl_batch_spark.llmops.pnm import SIGNATURES as _PNM_SIGNATURES
from etl_batch_spark.llmops.pnm import decode_pnm as _decode_pnm
from etl_batch_spark.llmops.wav import SIGNATURE as _WAV_SIGNATURE
from etl_batch_spark.llmops.wav import decode_wav as _decode_wav
from etl_batch_spark.llmops.wav import to_float as _wav_to_float

MEDIA_META = T.StructType(
    [
        T.StructField("modality", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def attach_payload(
    df: DataFrame, *, text_col: str = "text", modality: str = "image", mime: str = "image/png"
) -> DataFrame:
    """Turn a text column into an opaque binary payload + metadata struct
    (fixture adapter: real pipelines read payloads from object storage).
    Rows with a NULL ``text_col`` are dropped — there is nothing to
    fabricate a payload from, and a NULL payload row entering the decode
    stage is a missing-data condition, not a decodable input."""
    df = df.filter(F.col(text_col).isNotNull())
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(mime).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
            F.sha2(payload, 256).alias("sha256"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ),
    )


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _with_id_field(schema: T.StructType, df: DataFrame, id_col: str) -> T.StructType:
    """Output schema with the id field renamed/retyped to match the
    caller's ``id_col`` — at crawl scale ids are URLs or content hashes
    (strings), not longs, and a grouping key (e.g. ``source``) is a
    legitimate id for aggregate-only consumers.  The default
    ``doc_id``-long schemas above stay bit-identical for long callers."""
    id_field = T.StructField(id_col, df.schema[id_col].dataType)
    return T.StructType([id_field] + list(schema)[1:])


_NULL_PAYLOAD = "NullPayload: payload is NULL"


def _error_text(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}"


def _payload_map(
    df: DataFrame,
    fn: "Callable[[bytes], list[tuple]]",
    schema: T.StructType,
    *,
    op: str,
    id_col: str,
    payload_col: str,
    errors: str = "raise",
    catch: "type[BaseException] | tuple[type[BaseException], ...]" = Exception,
    casts: "dict[str, str] | None" = None,
    null_row: "tuple | None" = None,
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """The payload map behind every payload operator (contract in the
    module docstring).  ``fn`` turns one payload into its rows
    of ``schema``'s fields after the id; ``op`` names the operator in
    the NULL error.  ``casts`` pin dtypes in raise mode only (quarantine
    rows hold NULLs that no numpy int dtype can).  ``null_row`` replaces
    the NULL rule with a fixed row.  ``keep_cols`` are input columns
    carried through unchanged, right after the id."""
    if errors not in ("raise", "quarantine"):
        raise ValueError(f"errors must be 'raise' or 'quarantine', got {errors!r}")
    quarantine = errors == "quarantine"
    fields = list(_with_id_field(schema, df, id_col))
    fields[1:1] = [T.StructField(k, df.schema[k].dataType) for k in keep_cols]
    if quarantine:
        fields.append(T.StructField("error", T.StringType()))
    cols = [f.name for f in fields[1 + len(keep_cols):]]
    failed = (None,) * (len(cols) - 1)
    if null_row is None and quarantine:
        null_row = failed + (_NULL_PAYLOAD,)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            src: list[int] = []
            rows: list[tuple] = []
            for pos, p in enumerate(pdf[payload_col]):
                if p is None:
                    if null_row is None:
                        raise ValueError(
                            f"NULL {payload_col!r} — {op} needs a payload; "
                            "filter or quarantine missing rows"
                        )
                    out = [null_row]
                elif not quarantine:
                    out = fn(bytes(p))
                else:
                    try:
                        out = [r + (None,) for r in fn(bytes(p))]
                    except catch as exc:
                        out = [failed + (_error_text(exc),)]
                src.extend([pos] * len(out))
                rows.extend(out)
            # carried columns are gathered, so they keep their input
            # dtype; computed columns are lists, so pandas infers theirs
            take = np.asarray(src, dtype=np.intp)
            data = {c: pdf[c].values[take] for c in (id_col, *keep_cols)}
            for j, c in enumerate(cols):
                data[c] = [r[j] for r in rows]
            pdf_out = pd.DataFrame(data)
            yield pdf_out.astype(casts) if casts and not quarantine else pdf_out

    in_cols = [id_col, *keep_cols]
    if payload_col not in in_cols:
        in_cols.append(payload_col)
    return df.select(*in_cols).mapInPandas(run, T.StructType(fields))


def _fake_decode(payload: bytes) -> tuple[int, int, list[float]]:
    """Deterministic stand-in for an image codec: md5-derived dimensions
    and an 8-dim 'feature vector'.  Replaces PIL/ffmpeg in this container."""
    digest = hashlib.md5(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    feature = [round(b / 255.0, 6) for b in digest[2:10]]
    return width, height, feature


def _decode_any_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """Signature-dispatched decode across every in-repo image codec:
    PNG, sequential/progressive JPEG, first-frame GIF, uncompressed
    BMP, and binary/ASCII PGM/PPM.  One place to add the next format —
    decode_image and resize_image both consume this."""
    payload = bytes(payload)
    if payload.startswith(_PNG_SIGNATURE):
        return _decode_png(payload)
    if payload.startswith(_JPEG_SIGNATURE):
        return _decode_jpeg(payload)
    if payload.startswith(_GIF_SIGNATURES):
        return _decode_gif(payload)[:4]
    if payload.startswith(_BMP_SIGNATURE):
        return _decode_bmp(payload)
    if payload.startswith(_PNM_SIGNATURES):
        return _decode_pnm(payload)
    raise NotImplementedError(
        "only PNG, JPEG, GIF, BMP and PGM/PPM decode without external "
        "codec libraries (WebP/audio/video need PIL/libvips/ffmpeg); "
        "run with fake=True to exercise the pipeline plumbing on other "
        "payloads"
    )


def _real_decode(payload: bytes) -> tuple[int, int, list[float]]:
    """Real decode via :func:`_decode_any_image`.  The 8-dim
    feature is per-channel mean then per-channel std of the pixel
    array in [0,1], zero-padded — deterministic, resolution-independent,
    and cheap enough to compute inline with the decode pass.  Imports
    live at module level — this function runs once PER ROW in the
    hottest loop of the module."""
    width, height, channels, px = _decode_any_image(payload)
    arr = (
        np.frombuffer(px, np.uint8)
        .reshape(height * width, channels)
        .astype(np.float64)
        / 255.0
    )
    feat = list(arr.mean(axis=0)) + list(arr.std(axis=0))
    feat = (feat + [0.0] * 8)[:8]
    return width, height, [round(float(v), 6) for v in feat]


def decode_image(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fake: bool = False,
    errors: str = "raise",
) -> DataFrame:
    """Decode payloads to (id, width, height, n_pixels, feature).

    ``fake=False`` decodes PNG / JPEG (sequential + progressive) /
    GIF / BMP / PGM+PPM payloads for real (pure-stdlib codecs; see
    :func:`_decode_any_image`) and raises NotImplementedError for
    formats needing external libraries;
    ``fake=True`` runs the deterministic stub so the Spark-side
    plumbing (Arrow batches, schema, partition streaming) is exercised
    on any payload.

    ``errors="raise"`` (default) is right for curated inputs, where
    corruption means a pipeline bug; ``errors="quarantine"`` is the
    100 TB crawl shape, where one corrupt or out-of-scope payload among
    billions must not kill the decode job.
    """
    decode = _fake_decode if fake else _real_decode

    def decode_row(p: bytes) -> list[tuple]:
        width, height, feature = decode(p)
        return [(width, height, width * height, feature)]

    return _payload_map(
        df, decode_row, DECODED_SCHEMA, op="decode_image", id_col=id_col,
        payload_col=payload_col, errors=errors,
    )


DECODED_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _real_decode_audio(payload: bytes) -> tuple[int, int, int, float, list[float]]:
    """Real decode for RIFF/WAVE PCM payloads (pure-stdlib codec,
    :mod:`etl_batch_spark.llmops.wav`).  The 8-dim feature is
    per-channel RMS then per-channel mean of the [-1, 1)-normalized
    samples, zero-padded — the audio twin of _real_decode's pixel
    stats: deterministic, duration-independent, computed inline."""
    payload = bytes(payload)
    if not payload.startswith(_WAV_SIGNATURE):
        raise NotImplementedError(
            "only RIFF/WAVE PCM decodes without external codec libraries "
            "(MP3/AAC/Opus/FLAC need ffmpeg); run with fake=True to "
            "exercise the pipeline plumbing on other payloads"
        )
    rate, channels, bits, samples = _decode_wav(payload)
    f = _wav_to_float(samples, bits)
    if f.shape[0]:
        feat = list(np.sqrt((f * f).mean(axis=0))) + list(f.mean(axis=0))
    else:
        feat = []
    feat = (feat + [0.0] * 8)[:8]
    return (
        rate,
        channels,
        samples.shape[0],
        samples.shape[0] / rate,
        [round(float(v), 6) for v in feat],
    )


def _fake_decode_audio(payload: bytes) -> tuple[int, int, int, float, list[float]]:
    """Deterministic md5 stand-in, mirroring _fake_decode: plumbing
    tests run on arbitrary payloads without a decodable container."""
    digest = hashlib.md5(bytes(payload)).digest()
    rate = 8000 + 100 * (digest[0] % 160)
    channels = 1 + digest[1] % 2
    n_frames = 1 + int.from_bytes(digest[2:5], "big") % 100_000
    feature = [round(b / 255.0, 6) for b in digest[5:13]]
    return rate, channels, n_frames, n_frames / rate, feature


def decode_audio(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fake: bool = False,
    errors: str = "raise",
) -> DataFrame:
    """Decode audio payloads to (id, sample_rate, channels, n_frames,
    duration_s, feature) — the audio twin of :func:`decode_image`.
    ``fake=False`` decodes RIFF/WAVE integer-PCM / IEEE-float payloads
    for real and raises NotImplementedError for compressed codecs;
    ``fake=True`` runs the deterministic stub."""
    decode = _fake_decode_audio if fake else _real_decode_audio
    return _payload_map(
        df, lambda p: [decode(p)], DECODED_AUDIO_SCHEMA, op="decode_audio",
        id_col=id_col, payload_col=payload_col, errors=errors,
    )


def resize_plan(
    df: DataFrame, *, max_side: int = 224
) -> DataFrame:
    """Pure-SQL resize planning over decoded dims: target size + scale
    factor per row (the codec-side resize consumes this plan).

    Targets are computed FROM the emitted (rounded) scale and clamped to
    ``max_side``: ceil over the raw ratio overshoots the cap on float
    noise (e.g. 293·(224/293) = 224.0000000000003 → 225), and a codec
    consuming the emitted scale must land on the same dims as the plan.
    """
    scale = F.round(
        F.least(
            F.lit(1.0), F.lit(max_side) / F.greatest("width", "height").cast("double")
        ),
        6,
    )
    return (
        df.withColumn("scale", scale)
        .withColumn(
            "target_width",
            F.least(F.lit(max_side), F.ceil(F.col("width") * F.col("scale"))).cast("int"),
        )
        .withColumn(
            "target_height",
            F.least(F.lit(max_side), F.ceil(F.col("height") * F.col("scale"))).cast("int"),
        )
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("target_width", T.IntegerType()),
        T.StructField("target_height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _round6_half_up(v: float) -> float:
    """Mirror Spark ``F.round(x, 6)`` exactly: HALF_UP over the double's
    shortest decimal form (``BigDecimal.valueOf`` uses
    ``Double.toString``, which is what Python ``repr`` produces).
    Python's builtin ``round()`` is half-EVEN, so exact 6dp ties — e.g.
    224/28672 = 0.0078125 — would round to a different scale than the
    :func:`resize_plan` SQL and flip a target dimension."""
    return float(Decimal(repr(v)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _bilinear_resize(arr: np.ndarray, tw: int, th: int) -> np.ndarray:
    """Vectorized bilinear resample of an (h, w, c) uint8 array to
    (th, tw, c) — pixel-center aligned, clamped at the edges."""
    h, w = arr.shape[:2]
    if (tw, th) == (w, h):
        return arr
    ys = np.clip((np.arange(th) + 0.5) * (h / th) - 0.5, 0, h - 1)
    xs = np.clip((np.arange(tw) + 0.5) * (w / tw) - 0.5, 0, w - 1)
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = (ys - y0)[:, None, None]
    wx = (xs - x0)[None, :, None]
    a = arr.astype(np.float64)
    top = a[y0][:, x0] * (1 - wx) + a[y0][:, x1] * wx
    bot = a[y1][:, x0] * (1 - wx) + a[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def resize_image(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_side: int = 224,
) -> DataFrame:
    """REAL codec-side resize: decode each payload (PNG/JPEG/GIF via
    the same signature dispatch as :func:`decode_image`), bilinear-
    resample to the EXACT dims :func:`resize_plan` computes for the
    same inputs (scale = round(least(1, max_side/longest), 6), targets
    ceil'd from the rounded scale and clamped), and re-encode as PNG —
    binary in, binary out, the CLIP-preprocessing shape.  Images already
    within ``max_side`` pass through resized-by-identity (re-encoded,
    so downstream sees one uniform container)."""
    from etl_batch_spark.llmops.png import encode_png

    def resize_one(p: bytes) -> list[tuple]:
        w, h, ch, px = _decode_any_image(p)
        # the resize_plan contract, replicated bit-for-bit:
        # round the scale to 6dp FIRST, then ceil, then clamp
        scale = _round6_half_up(min(1.0, max_side / float(max(w, h))))
        tw = min(max_side, int(-(-w * scale // 1)))
        th = min(max_side, int(-(-h * scale // 1)))
        arr = np.frombuffer(px, np.uint8).reshape(h, w, ch)
        resized = _bilinear_resize(arr, tw, th)
        return [(tw, th, bytearray(encode_png(tw, th, ch, resized.tobytes())))]

    return _payload_map(
        df, resize_one, RESIZED_SCHEMA, op="resize_image", id_col=id_col,
        payload_col=payload_col,
        casts={"target_width": "int32", "target_height": "int32"},
    )


def frame_sample_plan(
    df: DataFrame, *, id_col: str = "doc_id", fps: float = 1.0, duration_col: str = "duration_s"
) -> DataFrame:
    """Explode a video row into per-frame sample timestamps at ``fps`` —
    array+explode, no UDF; downstream codec extracts the frames."""
    n_frames = F.greatest(F.lit(1), F.floor(F.col(duration_col) * fps)).cast("int")
    return (
        df.withColumn("frame_idx", F.explode(F.sequence(F.lit(0), n_frames - 1)))
        .withColumn("frame_ts", F.round(F.col("frame_idx") / fps, 3))
        .select(id_col, "frame_idx", "frame_ts")
    )


SAMPLED_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_frame_idx", T.IntegerType()),
        T.StructField("frame_ts", T.DoubleType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def sample_video_frames(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fps: float = 1.0,
    errors: str = "raise",
) -> DataFrame:
    """REAL video frame sampling: parse each payload as an MJPEG AVI
    (:mod:`etl_batch_spark.llmops.avi`), pick frame indices at ``fps``
    using :func:`frame_sample_plan`'s timestamp grid, and JPEG-decode
    ONLY the sampled frames (a 1 fps sample of a 30 fps clip pays for
    1/30th of the decodes — the container hands back raw payloads, the
    sampler chooses what to decode).  A quarantined payload
    (out-of-scope codec, corrupt container, broken frame, NULL payload)
    survives as ONE row with NULL frame fields and the message in
    ``error``.

    Column contract vs :func:`frame_sample_plan`: the plan's
    ``frame_idx`` is the SAMPLE ordinal (0,1,2,...); the codec side
    emits ``src_frame_idx``, the SOURCE frame index actually decoded
    (e.g. 0,4,8 for a 1 fps sample of 4 fps video).  ``frame_ts`` is
    identical on both sides and is the join key between them."""
    if not fps > 0:
        raise ValueError(f"fps must be > 0, got {fps!r}")
    from etl_batch_spark.llmops.avi import decode_avi_mjpeg
    from etl_batch_spark.llmops.jpeg import decode_jpeg

    def sample_one(p: bytes) -> list[tuple]:
        _w, _h, src_fps, frames = decode_avi_mjpeg(p)
        duration = len(frames) / src_fps
        rows = []
        for k in range(max(1, int(duration * fps))):
            ts = k / fps
            idx = min(int(round(ts * src_fps)), len(frames) - 1)
            fw, fh, ch, px = decode_jpeg(frames[idx])
            arr = (
                np.frombuffer(px, np.uint8)
                .reshape(fh * fw, ch)
                .astype(np.float64)
                / 255.0
            )
            feat = list(arr.mean(axis=0)) + list(arr.std(axis=0))
            feat = [round(float(v), 6) for v in (feat + [0.0] * 8)[:8]]
            rows.append((idx, round(ts, 3), fw, fh, feat))
        return rows

    return _payload_map(
        df, sample_one, SAMPLED_FRAMES_SCHEMA, op="sample_video_frames",
        id_col=id_col, payload_col=payload_col, errors=errors,
        casts={"src_frame_idx": "int32", "frame_ts": "float64"},
    )


WINDOW_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("widx", T.IntegerType()),
        T.StructField("energy", T.DoubleType()),
    ]
)


def window_energy(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    win: int = 256,
    hop: int = 128,
) -> DataFrame:
    """Windowed energy over raw payload bytes (the audio-analysis frame
    shape: overlapping windows at a hop, one feature per window); the
    per-window loop is numpy inside the batch, and an empty payload has
    no windows.  Energy here is mean byte value / 255 (a deterministic
    stand-in for RMS over PCM samples; a real codec swaps the formula,
    not the distribution shape).
    """

    def windows(p: bytes) -> list[tuple]:
        b = np.frombuffer(p, dtype=np.uint8)
        # +1e-9 half-boundary nudge, same as the text scores
        return [
            (w, round(float(b[w * hop : w * hop + win].mean()) / 255.0 + 1e-9, 6))
            for w in range((len(b) - 1) // hop + 1)
        ]

    return _payload_map(
        df, windows, WINDOW_ENERGY_SCHEMA, op="window_energy", id_col=id_col,
        payload_col=payload_col, casts={"widx": "int32", "energy": "float64"},
    )


def patch_grid_plan(
    df: DataFrame, *, patch: int = 16
) -> DataFrame:
    """ViT-style patch planning over resized dims: pad the target image
    up to ``patch`` multiples, count the patch grid.  Pure integer
    column arithmetic (no Python) — the per-patch pixel extraction is
    codec-side work that consumes this plan, exactly like
    :func:`resize_plan`'s scale factor.  Patch counts are what the
    training pipeline bills by (sequence length per image)."""
    tw, th = F.col("target_width"), F.col("target_height")
    npx = F.ceil(tw / F.lit(patch)).cast("int")
    npy = F.ceil(th / F.lit(patch)).cast("int")
    return (
        df.withColumn("n_patches_x", npx)
        .withColumn("n_patches_y", npy)
        .withColumn("n_patches", (npx * npy).cast("long"))
        .withColumn("pad_right", (npx * patch - tw).cast("int"))
        .withColumn("pad_bottom", (npy * patch - th).cast("int"))
    )


MP3_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("is_vbr", T.BooleanType()),
        T.StructField("bitrate_kbps_min", T.IntegerType()),
        T.StructField("bitrate_kbps_max", T.IntegerType()),
        T.StructField("bitrate_kbps_mode", T.IntegerType()),
        T.StructField("vbr_tag", T.StringType()),
        T.StructField("trailing_bytes", T.LongType()),
        T.StructField("artist", T.StringType()),
        T.StructField("title", T.StringType()),
    ]
)


def mp3_frame_census(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame-level MPEG audio census (llmops/mp3.py::parse_frames) as
    an Arrow-batched narrow map: every frame header of every payload is
    walked — EXACT duration, CBR/VBR verdict, bitrate min/max/mode, VBR
    tag — with O(1) state per payload and nothing shuffled.  Always
    quarantine-shaped: a census over a crawl must never die on one bad
    payload.  The walk runs trailing-tolerant: trailing junk, an APEv2
    tag, or a truncated last frame keeps the validated prefix stats
    and reports the unconsumed tail in ``trailing_bytes`` instead of
    quarantining the whole payload.  ID3v2.3/2.4 text frames supply
    artist (TPE1) and title (TIT2), completing the tag story across
    the audio census family (Ogg/FLAC carry VorbisComments)."""
    from etl_batch_spark.llmops.mp3 import (
        Mp3Error,
        parse_frames,
        parse_id3v2_frames,
    )

    def census(p: bytes) -> list[tuple]:
        i = parse_frames(p, tolerate_trailing=True)
        # tag parse is best-effort: a malformed ID3v2 frame must not
        # discard validated frame-walk stats (parse_frames only skips
        # the tag wholesale and never validates its frames)
        try:
            tags = parse_id3v2_frames(p)
        except Mp3Error:
            tags = {}
        return [(
            i.sample_rate, i.channels, i.n_frames, i.duration_s,
            i.is_vbr, i.bitrate_kbps_min, i.bitrate_kbps_max,
            i.bitrate_kbps_mode, i.vbr_tag, i.trailing_bytes,
            tags.get("TPE1"), tags.get("TIT2"),
        )]

    return _payload_map(
        df, census, MP3_CENSUS_SCHEMA, op="mp3_frame_census", id_col=id_col,
        payload_col=payload_col, errors="quarantine", catch=Mp3Error,
    )


OGG_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_pages", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("artist", T.StringType()),
        T.StructField("title", T.StringType()),
    ]
)


def ogg_metadata_census(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Ogg container census (llmops/oggv.py::parse_ogg): full
    CRC-verified page walk + Vorbis/Opus identification and comment
    headers per payload — codec routing, exact duration from the final
    granule position, and the ARTIST/TITLE metadata crawls actually
    carry."""
    from etl_batch_spark.llmops.oggv import OggError, parse_ogg

    def census(p: bytes) -> list[tuple]:
        i = parse_ogg(p)
        return [(
            i.codec, i.sample_rate, i.channels, i.n_pages, i.duration_s,
            i.comments.get("ARTIST"), i.comments.get("TITLE"),
        )]

    return _payload_map(
        df, census, OGG_CENSUS_SCHEMA, op="ogg_metadata_census", id_col=id_col,
        payload_col=payload_col, errors="quarantine", catch=OggError,
    )


FLAC_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("total_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("artist", T.StringType()),
        T.StructField("title", T.StringType()),
    ]
)


def flac_metadata_census(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """FLAC container/frame census (llmops/flac.py::parse_flac):
    metadata-block walk (STREAMINFO, VorbisComment) plus the
    CRC-8-validated frame-header walk per payload — sample rate / bit
    depth / channel routing, EXACT duration (total_samples/rate, both
    integers), walked frame count cross-checked against the declared
    sample total, and ARTIST/TITLE tags."""
    from etl_batch_spark.llmops.flac import FlacError, parse_flac

    def census(p: bytes) -> list[tuple]:
        i = parse_flac(p)
        return [(
            i.sample_rate, i.channels, i.bits_per_sample, i.total_samples,
            i.duration_s, i.n_frames,
            i.comments.get("ARTIST"), i.comments.get("TITLE"),
        )]

    return _payload_map(
        df, census, FLAC_CENSUS_SCHEMA, op="flac_metadata_census",
        id_col=id_col, payload_col=payload_col, errors="quarantine",
        catch=FlacError,
    )


MP4_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("major_brand", T.StringType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("movie_duration_s", T.DoubleType()),
        T.StructField("video_codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("video_duration_s", T.DoubleType()),
        T.StructField("video_samples", T.LongType()),
        T.StructField("audio_codec", T.StringType()),
        T.StructField("audio_channels", T.IntegerType()),
        T.StructField("audio_rate", T.IntegerType()),
        T.StructField("audio_duration_s", T.DoubleType()),
    ]
)


def mp4_track_census(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """MP4/ISO-BMFF census (llmops/mp4.py::parse_mp4): full box-tree +
    sample-table walk per payload — brand and codec routing, EXACT
    per-track durations (mdhd units / timescale, cross-checked against
    stts), video dimensions and frame counts, audio channels/rate.
    First video and first audio track reported (crawls overwhelmingly
    carry one of each)."""
    from etl_batch_spark.llmops.mp4 import Mp4Error, parse_mp4

    def census(p: bytes) -> list[tuple]:
        i = parse_mp4(p)
        vid = next((t for t in i.tracks if t.handler == "vide"), None)
        aud = next((t for t in i.tracks if t.handler == "soun"), None)
        return [(
            i.major_brand, i.n_tracks, i.movie_duration_s,
            vid.codec if vid else None,
            vid.width if vid else None,
            vid.height if vid else None,
            vid.duration_s if vid else None,
            vid.n_samples if vid else None,
            aud.codec if aud else None,
            aud.channels if aud else None,
            aud.sample_rate if aud else None,
            aud.duration_s if aud else None,
        )]

    return _payload_map(
        df, census, MP4_CENSUS_SCHEMA, op="mp4_track_census", id_col=id_col,
        payload_col=payload_col, errors="quarantine", catch=Mp4Error,
    )


WEBP_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("variant", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("has_alpha", T.BooleanType()),
        T.StructField("is_animated", T.BooleanType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("has_exif", T.BooleanType()),
        T.StructField("has_icc", T.BooleanType()),
    ]
)


def webp_structure_census(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """WebP container census (llmops/webp.py::parse_webp): RIFF chunk
    walk + VP8/VP8L/VP8X frame headers per payload — variant, canvas
    dimensions, alpha, animation frame count and total duration, and
    EXIF/ICC metadata presence.  Header-only (O(chunks) per payload,
    sample decode quarantined); at 100 TB the bound is scan bandwidth."""
    from etl_batch_spark.llmops.webp import WebpError, parse_webp

    def census(p: bytes) -> list[tuple]:
        i = parse_webp(p)
        return [(
            i.variant, i.width, i.height, i.has_alpha, i.is_animated,
            i.n_frames, i.duration_ms, i.has_exif, i.has_icc,
        )]

    return _payload_map(
        df, census, WEBP_CENSUS_SCHEMA, op="webp_structure_census",
        id_col=id_col, payload_col=payload_col, errors="quarantine",
        catch=WebpError,
    )
