"""Pure-stdlib+numpy baseline JPEG codec (huffman + DCT).

The PNG codec (:mod:`etl_batch_spark.llmops.png`) made one real image
format work end-to-end without external libraries; this module does the
same for baseline JPEG, the other format that dominates web-scale
training corpora.  Everything here is from the public JPEG standard
(ITU-T T.81): marker segments, canonical Huffman entropy coding,
zigzag + dequantization, the 8x8 type-II DCT, YCbCr (BT.601) color, and
2:1 chroma subsampling.

Scope (deliberate): Huffman DCT in all three common arrangements —
baseline/extended-sequential (SOF0/SOF1, interleaved or multi-scan
non-interleaved) and progressive (SOF2: spectral selection +
successive approximation, the T.81 Annex G scan protocol that most
web-exported JPEGs use) — 8-bit precision, 1-component (grayscale) or
3-component (YCbCr) images, sampling factors 1 or 2 per axis, restart
intervals.  Arithmetic coding, lossless/hierarchical, 12-bit and CMYK
raise ``JpegError`` — at training-pipeline scale those long-tail
variants route to a quarantine sink (the header-only triage of
``mediainfo.probe_media_df`` runs before any decode) rather than a
slower universal decoder.

Decoding is scan-driven: every scan (a baseline file has one; a
progressive file has many) accumulates quantized coefficients into
per-component block arrays, and dequantization + the IDCT run once at
EOI over the whole array (vectorized einsum — one matrix sandwich for
every block at once).  That architecture is exactly T.81's model, and
it makes progressive refinement (DC/AC first scans shifted by the
successive-approximation bit position, refinement scans OR-ing /
nudging one bit at a time) a per-scan detail rather than a separate
decoder.

``encode_jpeg`` exists so tests can GENERATE real JPEGs without PIL and
round-trip them: at quality 100 the quantization tables are all ones
and the only loss is DCT rounding (a couple of gray levels), so a
round-trip asserts the whole pipeline — FDCT -> zigzag -> huffman ->
parse -> huffman -> dequant -> IDCT — within a tight tolerance.  With
``progressive=True`` it emits the Annex G scan script (interleaved DC
first + refinement, per-component AC first + refinement), and because
successive approximation reconstructs every coefficient EXACTLY (the
point transform drops bits the refinement scan restores), the
progressive encoding of an image must decode to pixels bit-identical
to its sequential encoding — the strongest cross-check the two scan
protocols admit.  The
encoder's Huffman tables are valid canonical tables chosen for
simplicity, not the Annex K defaults; the decoder is table-driven off
DHT, so it reads both these and standard-table files identically.

Per-block work runs as numpy matrix products inside Arrow-batched
``mapInPandas`` workers — fine for the sandbox and tests; a real
cluster swaps this module for libjpeg-turbo/libvips behind the same
interface.
"""

from __future__ import annotations

import struct

import numpy as np

# Same ceiling as the PNG decoder: dimensions are declared in the SOF
# header, so a crafted 60000x60000 header would otherwise set a
# multi-GB plane allocation before any pixel is decoded.
MAX_PIXELS = 1 << 26

SIGNATURE = b"\xff\xd8\xff"


class JpegError(ValueError):
    """Malformed, corrupt, or out-of-scope JPEG payload."""


# zigzag index -> raster index within an 8x8 block (T.81 Figure 5)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K example quantization tables (raster order), scaled by quality
# with the conventional libjpeg curve in _quant_tables.
_K1_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_K2_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Orthonormal 8-point DCT-II basis: _DCT[k, n] = a(k) cos((2n+1)k pi/16).
# FDCT of a block B is _DCT @ B @ _DCT.T; IDCT is the transpose sandwich.
_DCT = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT[_k, _n] = (np.sqrt(0.125) if _k == 0 else 0.5) * np.cos(
            (2 * _n + 1) * _k * np.pi / 16
        )


def _build_decode_table(bits: list[int], values: bytes) -> dict[tuple[int, int], int]:
    """Canonical Huffman (T.81 Annex C): {(code_length, code): symbol}."""
    if len(bits) != 16 or sum(bits) != len(values):
        raise JpegError("inconsistent DHT counts")
    table: dict[tuple[int, int], int] = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[idx]
            code += 1
            idx += 1
        code <<= 1
    return table


def _build_encode_table(bits: list[int], values: bytes) -> dict[int, tuple[int, int]]:
    """{symbol: (code, code_length)} — inverse of _build_decode_table."""
    return {v: (c, l) for (l, c), v in _build_decode_table(bits, values).items()}


# Encoder Huffman tables: every DC category at 4 bits; AC symbols at
# 8/9 bits (a DHT count field is one byte, so 256 codes must span two
# lengths).  Kraft sums 12/16 and 2/256+254/512 make them valid
# canonical tables whose all-ones code is unused (the T.81
# requirement); they trade ~30% compression for being trivially,
# auditably correct.  The decoder never assumes them — it builds
# whatever DHT declares.
_ENC_DC_BITS = [0, 0, 0, 12] + [0] * 12
_ENC_DC_VALS = bytes(range(12))
_ENC_AC_BITS = [0] * 7 + [2, 254] + [0] * 7
_ENC_AC_VALS = bytes(range(256))


class _BitReader:
    """MSB-first bit reader over de-stuffed entropy bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.data):
                raise JpegError("truncated entropy-coded data")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= nbits
        out = (self.acc >> self.n) & ((1 << nbits) - 1)
        self.acc &= (1 << self.n) - 1
        return out

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise JpegError("invalid huffman code in entropy stream")

    def receive_extend(self, s: int) -> int:
        if s == 0:
            return 0
        v = self.read(s)
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _split_entropy(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """De-stuff the post-SOS entropy stream, splitting at RSTn markers.
    Returns (segments, position of the terminating marker's 0xFF)."""
    segments: list[bytes] = []
    cur = bytearray()
    n = len(data)
    while pos < n:
        b = data[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            raise JpegError("truncated entropy-coded data")
        m = data[pos + 1]
        if m == 0x00:  # stuffed 0xFF data byte
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:  # restart marker
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:  # real marker (EOI or next segment) ends the scan
            segments.append(bytes(cur))
            return segments, pos
    raise JpegError("entropy-coded data ran off the end (missing EOI)")


def decode_jpeg(
    data: bytes, *, max_pixels: int = MAX_PIXELS
) -> tuple[int, int, int, bytes]:
    """Decode a baseline JPEG to ``(width, height, channels, pixels)``
    with ``pixels`` row-major interleaved uint8 — the same contract as
    :func:`etl_batch_spark.llmops.png.decode_png`.  Channels is 1
    (grayscale) or 3 (RGB).  Dimensions are checked against
    ``max_pixels`` at SOF parse, before any plane allocation.  Every
    malformed-input path raises ``JpegError`` — short header fields
    must not leak raw struct/index errors to quarantine handlers."""
    try:
        return _decode_impl(data, max_pixels=max_pixels)
    except (struct.error, IndexError) as exc:
        raise JpegError(f"malformed JPEG structure: {exc}") from exc


def _parse_scan_header(
    seg: bytes, comps: list[dict], progressive: bool
) -> tuple[list[tuple[dict, int, int]], int, int, int, int]:
    """Validate an SOS payload against the frame: returns
    ``([(component, dc_table_id, ac_table_id), ...], Ss, Se, Ah, Al)``.
    Sequential scans must cover the full band at full precision;
    progressive scans must follow the T.81 Annex G shape (DC scans may
    interleave components, AC scans are single-component, refinement
    advances one bit plane at a time)."""
    ns = seg[0] if seg else 0
    if not 1 <= ns <= len(comps) or len(seg) != 4 + 2 * ns:
        raise JpegError("malformed SOS header")
    by_id = {c["id"]: c for c in comps}
    scomps = []
    seen: set[int] = set()
    for i in range(ns):
        cs, t = seg[1 + 2 * i : 3 + 2 * i]
        if cs not in by_id or cs in seen:
            raise JpegError(f"scan references unknown/duplicate component {cs}")
        seen.add(cs)
        scomps.append((by_id[cs], t >> 4, t & 0x0F))
    ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
    ah, al = a >> 4, a & 0x0F
    if progressive:
        if ss == 0:
            if se != 0:
                raise JpegError("progressive DC scan must have Se=0")
        else:
            if ns != 1:
                raise JpegError("progressive AC scan must be single-component")
            if not ss <= se <= 63:
                raise JpegError(f"bad spectral band {ss}..{se}")
        if al > 13 or (ah and ah != al + 1):
            raise JpegError(f"bad successive-approximation bits Ah={ah} Al={al}")
    elif (ss, se, ah, al) != (0, 63, 0, 0):
        raise JpegError("sequential scan must cover the full band")
    return scomps, ss, se, ah, al


def _decode_block(
    reader: _BitReader,
    cf,
    dct: dict | None,
    act: dict | None,
    pred: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    eobrun: int,
) -> tuple[int, int]:
    """Decode one block's contribution from the current scan into
    ``cf`` (the block's quantized coefficients, zigzag order).  Covers
    all four T.81 scan kinds — DC/AC first (Ah=0) and DC/AC refinement
    (Ah>0); a sequential scan is the Ss=0, Se=63, Ah=Al=0 special case
    of the same code path.  Returns the updated (DC predictor, EOB
    run)."""
    if ss == 0:
        if ah == 0:
            s = reader.decode_symbol(dct)
            if s > 11:
                raise JpegError(f"bad DC category {s}")
            pred += reader.receive_extend(s)
            cf[0] = pred << al
        elif reader.read(1):  # DC refinement: one bit, ORed in at Al
            cf[0] |= 1 << al
    k = ss if ss else 1
    if k > se:
        return pred, eobrun
    if ah == 0:  # AC first scan (or the AC part of a sequential scan)
        if eobrun:
            return pred, eobrun - 1
        while k <= se:
            rs = reader.decode_symbol(act)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL: sixteen zeros
                    k += 16
                    continue
                # EOBn: run of (1 << r) + ext blocks ending here,
                # current block included (hence the -1)
                eobrun = (1 << r) - 1 + (reader.read(r) if r else 0)
                break
            k += r
            if k > se:
                raise JpegError("AC coefficient index overflow")
            cf[k] = reader.receive_extend(s) << al
            k += 1
        return pred, eobrun
    # AC refinement (T.81 G.1.2.3): each known-nonzero coefficient the
    # scan passes consumes one correction bit that may nudge it by one
    # bit plane; RS symbols insert new +-(1<<Al) values after a run of
    # zero-HISTORY positions.
    p1 = 1 << al

    def correct(i: int) -> None:
        if reader.read(1) and not (int(cf[i]) & p1):
            cf[i] += p1 if cf[i] > 0 else -p1

    if eobrun:
        for i in range(k, se + 1):
            if cf[i]:
                correct(i)
        return pred, eobrun - 1
    while k <= se:
        rs = reader.decode_symbol(act)
        r, s = rs >> 4, rs & 0x0F
        newval = 0
        if s == 0:
            if r < 15:
                eobrun = (1 << r) + (reader.read(r) if r else 0)
                break  # remaining band refined below, then eobrun -= 1
            # ZRL: skip 16 zero-history positions
        elif s == 1:
            newval = p1 if reader.read(1) else -p1
        else:
            raise JpegError("bad refinement magnitude category")
        while True:
            if k > se:
                raise JpegError("refinement run past band end")
            if cf[k]:
                correct(k)
                k += 1
                continue
            if r == 0:
                break
            r -= 1
            k += 1
        if newval:
            cf[k] = newval
        k += 1
    if eobrun:
        for i in range(k, se + 1):
            if cf[i]:
                correct(i)
        eobrun -= 1
    return pred, eobrun


def _decode_scan(
    segments: list[bytes],
    scan: tuple,
    huff: dict,
    restart_interval: int,
    mcux: int,
    mcuy: int,
) -> None:
    """Run one scan's entropy segments into the components' coefficient
    arrays.  Multi-component scans interleave by MCU; single-component
    scans traverse that component's own block grid (T.81 A.2)."""
    scomps, ss, se, ah, al = scan
    for c, td, ta in scomps:
        if ss == 0 and ah == 0 and (0, td) not in huff:
            raise JpegError("missing huffman table referenced by scan")
        if se >= 1 and (1, ta) not in huff:
            raise JpegError("missing huffman table referenced by scan")
    interleaved = len(scomps) > 1
    if interleaved:
        units = mcux * mcuy
    else:
        c0 = scomps[0][0]
        units = c0["sb_w"] * c0["sb_h"]
    per_seg = restart_interval if restart_interval else units
    expected = -(-units // per_seg)
    if len(segments) < expected:
        raise JpegError(f"expected {expected} restart segments, got {len(segments)}")
    unit = 0
    for seg_bytes in segments[:expected]:
        reader = _BitReader(seg_bytes)
        pred = {c["id"]: 0 for c, _, _ in scomps}
        eobrun = 0  # EOB runs never cross a restart boundary
        for _ in range(min(per_seg, units - unit)):
            if interleaved:
                my, mx = divmod(unit, mcux)
                for c, td, ta in scomps:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            cf = c["coef"][my * c["v"] + by, mx * c["h"] + bx]
                            pred[c["id"]], eobrun = _decode_block(
                                reader, cf, huff.get((0, td)), huff.get((1, ta)),
                                pred[c["id"]], ss, se, ah, al, eobrun,
                            )
            else:
                c, td, ta = scomps[0]
                by, bx = divmod(unit, c["sb_w"])
                pred[c["id"]], eobrun = _decode_block(
                    reader, c["coef"][by, bx], huff.get((0, td)),
                    huff.get((1, ta)), pred[c["id"]], ss, se, ah, al, eobrun,
                )
            unit += 1


def _idct_plane(coef: np.ndarray, qt_zz: np.ndarray) -> np.ndarray:
    """Dequantize a (block_rows, block_cols, 64) zigzag coefficient
    array and inverse-DCT every block at once (einsum over the whole
    array — no per-block Python loop), returning the level-shifted
    pixel plane."""
    deq = coef.astype(np.float64) * qt_zz.astype(np.float64)
    raster = np.empty_like(deq)
    raster[:, :, ZIGZAG] = deq  # zigzag index k lands at raster ZIGZAG[k]
    blocks = raster.reshape(raster.shape[0], raster.shape[1], 8, 8)
    px = np.einsum("ki,yxkl,lj->yxij", _DCT, blocks, _DCT)  # D.T @ B @ D
    return (
        px.transpose(0, 2, 1, 3).reshape(blocks.shape[0] * 8, blocks.shape[1] * 8)
        + 128.0
    )


def _decode_impl(data: bytes, *, max_pixels: int) -> tuple[int, int, int, bytes]:
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise JpegError("payload is not bytes")
    data = bytes(data)
    if not data.startswith(b"\xff\xd8"):
        raise JpegError("not a JPEG (bad SOI)")

    qtables: dict[int, np.ndarray] = {}  # id -> 64 ints, ZIGZAG order
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    restart_interval = 0
    sof = None
    progressive = False
    geom = None  # (hmax, vmax, mcux, mcuy) — fixed at the first SOS
    seq_scanned: list[int] = []  # component ids consumed by sequential scans
    dc_seen: set[int] = set()  # component ids with a progressive DC-first scan
    n_scans = 0
    pos = 2
    n = len(data)
    while True:
        if pos + 2 > n:
            raise JpegError("truncated marker segment (missing EOI)")
        if data[pos] != 0xFF:
            raise JpegError(f"expected marker at offset {pos}")
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1  # legal fill bytes before a marker (T.81 B.1.1.2)
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI — scans complete
            break
        if marker == 0xD8:  # stray SOI
            raise JpegError("unexpected SOI inside stream")
        if pos + 4 > n:
            raise JpegError("truncated marker segment")
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise JpegError("truncated marker segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq == 0:
                    vals, step = seg[p + 1 : p + 65], 65
                elif pq == 1:
                    vals = struct.unpack(">64H", seg[p + 1 : p + 129])
                    step = 129
                else:
                    raise JpegError(f"bad DQT precision {pq}")
                if len(vals) != 64:
                    raise JpegError("truncated DQT table")
                qtables[tq] = np.array(list(vals), dtype=np.int32)
                p += step
        elif marker == 0xC4:  # DHT — tables may be redefined between scans
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                values = seg[p + 17 : p + 17 + nv]
                huff[(tc, th)] = _build_decode_table(bits, values)
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF: sequential / progressive
            if sof is not None:
                raise JpegError("multiple SOF markers")
            progressive = marker == 0xC2
            precision, height, width, ncomp = struct.unpack(">BHHB", seg[:6])
            if precision != 8:
                raise JpegError(f"unsupported precision {precision} (only 8)")
            if width == 0 or height == 0:
                raise JpegError("zero dimension")
            if width * height > max_pixels:
                raise JpegError(
                    f"declared dimensions {width}x{height} exceed "
                    f"max_pixels={max_pixels}"
                )
            if ncomp not in (1, 3):
                raise JpegError(f"unsupported component count {ncomp}")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                h, v = hv >> 4, hv & 0x0F
                if ncomp == 1:
                    h = v = 1  # single-component scans are one block/MCU
                if h not in (1, 2) or v not in (1, 2):
                    raise JpegError(f"unsupported sampling factor {h}x{v}")
                comps.append({"id": cid, "h": h, "v": v, "tq": tq})
            sof = (width, height, comps)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise JpegError(
                f"unsupported SOF marker 0xFF{marker:02X} (arithmetic/"
                "lossless/hierarchical); Huffman SOF0/SOF1/SOF2 only"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — one of possibly many scans
            if sof is None:
                raise JpegError("SOS before SOF")
            width, height, comps = sof
            if geom is None:
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcux = -(-width // (8 * hmax))
                mcuy = -(-height // (8 * vmax))
                for c in comps:
                    # coefficient grid is MCU-padded; a single-component
                    # scan traverses only the component's own (smaller)
                    # ceil(dims/8) grid — trailing padded blocks exist
                    # solely for interleaved-scan geometry
                    c["coef"] = np.zeros(
                        (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32
                    )
                    cw = -(-width * c["h"] // hmax)
                    ch = -(-height * c["v"] // vmax)
                    c["sb_w"] = -(-cw // 8)
                    c["sb_h"] = -(-ch // 8)
                geom = (hmax, vmax, mcux, mcuy)
            scan = _parse_scan_header(seg, comps, progressive)
            if progressive:
                scomps, ss, _se, ah, _al = scan
                for c, _, _ in scomps:
                    if ss == 0 and ah == 0:
                        dc_seen.add(c["id"])
                    elif c["id"] not in dc_seen:
                        raise JpegError(
                            f"scan for component {c['id']} before its DC scan"
                        )
            else:
                for c, _, _ in scan[0]:
                    if c["id"] in seq_scanned:
                        raise JpegError(f"component {c['id']} scanned twice")
                    seq_scanned.append(c["id"])
            segments, pos = _split_entropy(data, pos + 2 + seglen)
            _decode_scan(segments, scan, huff, restart_interval,
                         geom[2], geom[3])
            n_scans += 1
            continue  # pos already sits on the next marker's 0xFF
        # APPn / COM / DNL / anything else: skip
        pos = pos + 2 + seglen

    if sof is None or n_scans == 0:
        raise JpegError("no scan before EOI")
    width, height, comps = sof
    if progressive:
        missing = [c["id"] for c in comps if c["id"] not in dc_seen]
    else:
        missing = [c["id"] for c in comps if c["id"] not in seq_scanned]
    if missing:
        raise JpegError(f"scan missing component {missing[0]}")

    hmax, vmax, _, _ = geom
    planes = []
    for c in comps:
        if c["tq"] not in qtables:
            raise JpegError(f"missing quantization table {c['tq']}")
        plane = _idct_plane(c["coef"], qtables[c["tq"]])
        cw = -(-width * c["h"] // hmax)
        ch = -(-height * c["v"] // vmax)
        p = plane[:ch, :cw]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        planes.append(p[:height, :width])

    if len(planes) == 1:
        out = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return width, height, 1, out.tobytes()
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return width, height, 3, out.tobytes()


class _BitWriter:
    """MSB-first bit writer with 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (code & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s
        return bytes(self.out)


def _quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex K tables scaled by the conventional libjpeg quality curve
    (raster order).  quality=100 yields all-ones tables: near-lossless."""
    if not 1 <= quality <= 100:
        raise JpegError(f"quality {quality} outside 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    luma = np.clip((_K1_LUMA * scale + 50) // 100, 1, 255)
    chroma = np.clip((_K2_CHROMA * scale + 50) // 100, 1, 255)
    return luma.astype(np.int32), chroma.astype(np.int32)


def _mag(v: int) -> int:
    """DC/AC magnitude category (T.81 F.1.2.1)."""
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _ext(v: int, s: int) -> int:
    """Magnitude extension bits for a category-``s`` value."""
    return v if v >= 0 else v + (1 << s) - 1


def _shift_to_zero(v: int, al: int) -> int:
    """AC point transform: divide by 2^Al truncating toward ZERO (the
    T.81 G.1.2.2 rule — DC uses a plain arithmetic shift instead)."""
    return -((-v) >> al) if v < 0 else v >> al


def _fdct_quant(
    padded: list[np.ndarray], qts_zz: list[np.ndarray], qsel: list[int]
) -> list[np.ndarray]:
    """FDCT + quantize every plane into (block_rows, block_cols, 64)
    int32 arrays in zigzag order — one einsum per plane, no per-block
    Python loop."""
    out = []
    for p, qi in zip(padded, qsel):
        bh, bw = p.shape[0] // 8, p.shape[1] // 8
        blocks = (p - 128.0).reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        coef = np.einsum("ik,yxkl,jl->yxij", _DCT, blocks, _DCT)  # D @ B @ D.T
        zz = coef.reshape(bh, bw, 64)[:, :, ZIGZAG]
        out.append(np.round(zz / qts_zz[qi]).astype(np.int32))
    return out


def _write_block_seq(
    writer: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_tab: dict[int, tuple[int, int]],
    ac_tab: dict[int, tuple[int, int]],
) -> int:
    """Entropy-encode one quantized block (sequential full band);
    returns the new DC predictor."""
    dc = int(zz[0])
    diff = dc - pred
    s = _mag(diff)
    code, ln = dc_tab[s]
    writer.write(code, ln)
    writer.write(_ext(diff, s), s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            writer.write(code, ln)
            run -= 16
        s = _mag(v)
        code, ln = ac_tab[(run << 4) | s]
        writer.write(code, ln)
        writer.write(_ext(v, s), s)
        run = 0
    if run:
        code, ln = ac_tab[0x00]  # EOB
        writer.write(code, ln)
    return dc


def _flush_eobrun(
    writer: _BitWriter,
    ac_tab: dict[int, tuple[int, int]],
    eobrun: int,
    bitbuf: list[int] | None = None,
) -> int:
    """Emit a pending EOBn symbol (plus its extension bits), then any
    correction bits the run deferred (refinement scans append the
    correction bits of EOB-covered blocks right after the EOBRUN code
    — T.81 G.1.2.3).  Returns the cleared run count (0)."""
    if eobrun:
        r = eobrun.bit_length() - 1  # eobrun <= 0x7FFF, so r <= 14
        code, ln = ac_tab[r << 4]
        writer.write(code, ln)
        if r:
            writer.write(eobrun - (1 << r), r)
    if bitbuf:
        for b in bitbuf:
            writer.write(b, 1)
        bitbuf.clear()
    return 0


def _write_block_ac_first(
    writer: _BitWriter,
    zz: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
    ac_tab: dict[int, tuple[int, int]],
) -> int:
    """AC first scan (Ah=0): band values at precision Al, zero runs and
    cross-block EOB runs."""
    vals = [_shift_to_zero(int(zz[k]), al) for k in range(ss, se + 1)]
    nz = [i for i, v in enumerate(vals) if v]
    if not nz:
        eobrun += 1
        if eobrun == 0x7FFF:
            eobrun = _flush_eobrun(writer, ac_tab, eobrun)
        return eobrun
    eobrun = _flush_eobrun(writer, ac_tab, eobrun)
    run = 0
    for i in range(nz[-1] + 1):
        v = vals[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            writer.write(code, ln)
            run -= 16
        s = _mag(v)
        code, ln = ac_tab[(run << 4) | s]
        writer.write(code, ln)
        writer.write(_ext(v, s), s)
        run = 0
    return 1 if nz[-1] < len(vals) - 1 else 0  # trailing zeros start an EOB run


def _write_block_ac_refine(
    writer: _BitWriter,
    zz: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
    bitbuf: list[int],
    ac_tab: dict[int, tuple[int, int]],
) -> int:
    """AC refinement scan (Ah=Al+1): newly-significant coefficients are
    inserted as +-1 after runs of zero-HISTORY positions; coefficients
    already nonzero at the previous precision each contribute one
    correction bit, written right after the symbol whose decoder-side
    traversal passes them (or after the EOBRUN flush for the block's
    tail) — the exact mirror of _decode_block's refinement path."""
    cur = [_shift_to_zero(int(zz[k]), al) for k in range(ss, se + 1)]
    prev = [_shift_to_zero(v, 1) for v in cur]  # value at the prior scan
    newnz = [i for i in range(len(cur)) if prev[i] == 0 and cur[i] != 0]
    if not newnz:
        eobrun += 1
        bitbuf.extend(abs(cur[i]) & 1 for i in range(len(cur)) if prev[i])
        if eobrun == 0x7FFF:
            eobrun = _flush_eobrun(writer, ac_tab, eobrun, bitbuf)
        return eobrun
    eobrun = _flush_eobrun(writer, ac_tab, eobrun, bitbuf)
    last_new = newnz[-1]
    i = 0
    while i <= last_new:
        run = 0
        corrections: list[int] = []
        placement = -1
        while True:
            if prev[i]:
                corrections.append(abs(cur[i]) & 1)
                i += 1
                continue
            if cur[i] != 0:
                placement = i
                break
            if run == 15:
                break  # this position is the 16th zero-history skip: ZRL
            run += 1
            i += 1
        if placement >= 0:
            code, ln = ac_tab[(run << 4) | 1]
            writer.write(code, ln)
            writer.write(1 if cur[placement] > 0 else 0, 1)
        else:
            code, ln = ac_tab[0xF0]  # ZRL
            writer.write(code, ln)
        for b in corrections:
            writer.write(b, 1)
        i += 1
    if last_new < len(cur) - 1:
        eobrun += 1
        bitbuf.extend(
            abs(cur[j]) & 1 for j in range(last_new + 1, len(cur)) if prev[j]
        )
        if eobrun == 0x7FFF:
            eobrun = _flush_eobrun(writer, ac_tab, eobrun, bitbuf)
    return eobrun


def encode_jpeg(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    *,
    quality: int = 90,
    subsample: str = "444",
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """Minimal JPEG writer (tests + fixture generation).

    ``subsample``: '444' (no chroma subsampling) or '420' (2x2 luma
    sampling — exercises the decoder's upsampling path).  Grayscale
    input (channels=1) ignores ``subsample``.  ``restart_interval`` > 0
    emits DRI + RSTn markers every that many MCUs (exercises the
    decoder's restart path).  ``progressive=True`` emits SOF2 with the
    standard Annex G scan script — interleaved DC at Al=1 plus a DC
    refinement scan, then per-component AC 1..63 at Al=1 plus an AC
    refinement scan — which reconstructs every coefficient exactly, so
    a progressive encoding decodes bit-identically to the sequential
    encoding of the same pixels."""
    if channels not in (1, 3):
        raise JpegError(f"unsupported channel count {channels}")
    if len(pixels) != width * height * channels:
        raise JpegError(
            f"pixel buffer {len(pixels)} != {width}*{height}*{channels}"
        )
    if subsample not in ("444", "420"):
        raise JpegError(f"unsupported subsampling {subsample!r}")

    arr = np.frombuffer(pixels, np.uint8).reshape(height, width, channels)
    arr = arr.astype(np.float64)
    luma_q, chroma_q = _quant_tables(quality)
    if channels == 1:
        planes = [arr[:, :, 0]]
        samp = [(1, 1)]
        qsel = [0]
    else:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample == "420":
            # box-average 2x2 for chroma; pad odd edges by replication
            def half(p: np.ndarray) -> np.ndarray:
                ph = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)),
                            mode="edge")
                return (ph[0::2, 0::2] + ph[1::2, 0::2]
                        + ph[0::2, 1::2] + ph[1::2, 1::2]) / 4.0

            planes = [y, half(cb), half(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qsel = [0, 1, 1]

    hmax = max(h for h, _ in samp)
    vmax = max(v for _, v in samp)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    padded = []
    for p, (h, v) in zip(planes, samp):
        th, tw = mcuy * v * 8, mcux * h * 8
        padded.append(
            np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge")
        )

    qts = [luma_q, chroma_q] if channels == 3 else [luma_q]
    qts_zz = [np.array([qt[ZIGZAG[k]] for k in range(64)]) for qt in qts]
    dc_tab = _build_encode_table(_ENC_DC_BITS, _ENC_DC_VALS)
    ac_tab = _build_encode_table(_ENC_AC_BITS, _ENC_AC_VALS)
    qcoefs = _fdct_quant(padded, qts_zz, qsel)

    out = bytearray(b"\xff\xd8")  # SOI

    def segment(marker: int, payload: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2))
        out.extend(payload)

    # JFIF APP0 so sniffers classify the payload
    segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for i, qt in enumerate(qts):
        zz = bytes(int(qt[ZIGZAG[k]]) for k in range(64))
        segment(0xDB, bytes([i]) + zz)
    sof = struct.pack(">BHHB", 8, height, width, channels)
    for i, (h, v) in enumerate(samp):
        sof += bytes([i + 1, (h << 4) | v, qsel[i]])
    segment(0xC2 if progressive else 0xC0, sof)
    # one DC + one AC table, shared by every component and scan
    segment(
        0xC4,
        bytes([0x00]) + bytes(_ENC_DC_BITS) + _ENC_DC_VALS
        + bytes([0x10]) + bytes(_ENC_AC_BITS) + _ENC_AC_VALS,
    )
    if restart_interval:
        segment(0xDD, struct.pack(">H", restart_interval))

    def emit_scan(scan_comps: list[int], ss: int, se: int, ah: int, al: int) -> None:
        """SOS header + entropy data for one scan, with restart markers
        every ``restart_interval`` units (MCUs when interleaved, blocks
        when single-component — the same grids the decoder walks)."""
        sos = bytes([len(scan_comps)])
        for ci in scan_comps:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        segment(0xDA, sos)
        if len(scan_comps) > 1:
            units, sb_w = mcux * mcuy, 0
        else:
            h, v = samp[scan_comps[0]]
            cw = -(-width * h // hmax)
            ch = -(-height * v // vmax)
            sb_w = -(-cw // 8)
            units = sb_w * -(-ch // 8)
        writer = _BitWriter()
        pred = [0] * channels
        eobrun = 0
        bitbuf: list[int] = []
        rst = 0
        for u in range(units):
            if restart_interval and u and u % restart_interval == 0:
                eobrun = _flush_eobrun(writer, ac_tab, eobrun, bitbuf)
                out.extend(writer.flush())
                out.extend(bytes([0xFF, 0xD0 + (rst % 8)]))
                rst += 1
                writer = _BitWriter()
                pred = [0] * channels
            if len(scan_comps) > 1:
                my, mx = divmod(u, mcux)
                blocks = []
                for ci in scan_comps:
                    h, v = samp[ci]
                    for by in range(v):
                        for bx in range(h):
                            blocks.append(
                                (ci, qcoefs[ci][my * v + by, mx * h + bx])
                            )
            else:
                ci = scan_comps[0]
                by, bx = divmod(u, sb_w)
                blocks = [(ci, qcoefs[ci][by, bx])]
            for ci, zz in blocks:
                if ss == 0 and se == 63:  # sequential full band
                    pred[ci] = _write_block_seq(writer, zz, pred[ci], dc_tab, ac_tab)
                elif ss == 0 and ah == 0:  # progressive DC first
                    val = int(zz[0]) >> al  # DC: plain arithmetic shift
                    diff = val - pred[ci]
                    pred[ci] = val
                    s = _mag(diff)
                    code, ln = dc_tab[s]
                    writer.write(code, ln)
                    writer.write(_ext(diff, s), s)
                elif ss == 0:  # progressive DC refinement
                    writer.write((int(zz[0]) >> al) & 1, 1)
                elif ah == 0:  # progressive AC first
                    eobrun = _write_block_ac_first(
                        writer, zz, ss, se, al, eobrun, ac_tab
                    )
                else:  # progressive AC refinement
                    eobrun = _write_block_ac_refine(
                        writer, zz, ss, se, al, eobrun, bitbuf, ac_tab
                    )
        _flush_eobrun(writer, ac_tab, eobrun, bitbuf)
        out.extend(writer.flush())

    if progressive:
        emit_scan(list(range(channels)), 0, 0, 0, 1)  # DC first, one bit short
        emit_scan(list(range(channels)), 0, 0, 1, 0)  # DC refinement
        for ci in range(channels):
            emit_scan([ci], 1, 63, 0, 1)  # AC first at Al=1
        for ci in range(channels):
            emit_scan([ci], 1, 63, 1, 0)  # AC refinement to full precision
    else:
        emit_scan(list(range(channels)), 0, 63, 0, 0)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)
