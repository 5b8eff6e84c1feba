"""Pixel codecs: ``raw`` (C-order bytes) and ``png`` (pure numpy+zlib).

Replaces the reference's GDAL GeoTIFF I/O (``read_tif``/``write_tif``,
/root/reference/src/io.py:41-90) — GDAL is unavailable here and the input
contract is an ``images(bytes, fmt, w, h)`` table, so decode/encode happen
inside Arrow UDFs on binary columns.  Both codecs are lossless, so the
per-row pixel invariant (decoded allclose; PSNR>=40 dB only applies to lossy
formats) degenerates to exact equality.

The PNG implementation covers exactly what the engine needs: 8- and 16-bit
greyscale / GA / RGB / RGBA plus 8-bit palettes, straight or Adam7
interlaced; the decoder handles all five filter types, the encoder emits
filter 0 (optionally Adam7).  16-bit greyscale is the DEM/elevation-raster
layout GDAL most often hands the reference's ``read_tif``
(/root/reference/src/io.py:41-63).  Stdlib ``zlib`` only.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ._hardening import malformed_guard

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}      # channels -> PNG color type
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}        # PNG color type -> channels

# Adam7 pass grid: (x0, y0, dx, dy) per pass.  Byte-aligned depths only
# (8/16-bit); sub-byte interlaced palettes stay rejected.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _adam7_dims(w: int, h: int) -> list[tuple[int, int, int, int, int, int]]:
    """Non-empty Adam7 passes as (x0, y0, dx, dy, pw, ph)."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            out.append((x0, y0, dx, dy, pw, ph))
    return out


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _filter0_lines(px: np.ndarray) -> bytes:
    """(h, stride) uint8 scanline bytes -> filter-0-prefixed stream."""
    h, stride = px.shape
    raw = np.empty((h, 1 + stride), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = px
    return raw.tobytes()


def encode_png(arr: np.ndarray, level: int = 6, interlace: bool = False) -> bytes:
    """uint8/uint16 (h, w) or (h, w, c) -> PNG bytes (filter 0, zlib
    `level`; Adam7 when ``interlace``).

    Any level is lossless; intermediate tile hops use level 1 (zlib speed
    scales steeply with level while mask-like payloads compress well even
    at 1), durable sinks keep the default 6.  uint16 emits depth-16
    (network byte order per the PNG spec) — the DEM/elevation layout."""
    if arr.dtype == np.uint8:
        depth = 8
    elif arr.dtype == np.uint16:
        depth = 16
    else:
        raise ValueError(f"png codec is uint8/uint16-only, got {arr.dtype}")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, _COLOR_TYPE[c], 0, 0, 1 if interlace else 0
    )
    # big-endian sample bytes, (h, w, bpp) with bpp = c * depth//8
    if depth == 16:
        px = np.ascontiguousarray(arr.astype(">u2")).view(np.uint8)
    else:
        px = arr
    px = px.reshape(h, w, c * (depth // 8))
    if interlace:
        stream = b"".join(
            _filter0_lines(
                np.ascontiguousarray(px[y0::dy, x0::dx]).reshape(ph, -1)
            )
            for x0, y0, dx, dy, pw, ph in _adam7_dims(w, h)
        )
    else:
        stream = _filter0_lines(px.reshape(h, -1))
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(stream, level))
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG per-scanline filters (types 0-4)."""
    rows = raw.reshape(h, 1 + stride)
    if not rows[:, 0].any():
        # all-filter-0 fast path (what our own encoder always emits): the
        # scanline loop below costs ~5 ms/Mpx; this is one strided copy
        return np.ascontiguousarray(rows[:, 1:])
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = rows[y, 0]
        line = rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left-to-right
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                up = prev[x]
                ul = prev[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + up) >> 1
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur
    return out


@malformed_guard("png")
def decode_png(data: bytes) -> np.ndarray:
    """Decode 8/16-bit gray/GA/RGB/RGBA (straight or Adam7 interlaced)
    plus palette (type 3) PNGs; palettes support depths 1/2/4/8 and tRNS
    transparency — the common web-PNG variants plus the 16-bit DEM
    layout.  16-bit returns uint16.  Interlaced sub-byte palettes are
    rejected loudly."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, w = 8, [], None
    plte = trns = None
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("png: truncated chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) != length:
            raise ValueError("png: truncated chunk payload")
        pos += 12 + length
        if tag == b"IHDR":
            if len(payload) < 13:
                raise ValueError("png: short IHDR")
            w, h, depth, ctype, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload[:13]
            )
            if w == 0 or h == 0:
                raise ValueError("png: zero dimension")
            if ctype == 3:
                if depth not in (1, 2, 4, 8):
                    raise ValueError(f"bad palette depth {depth}")
                if interlace != 0:
                    raise ValueError("unsupported PNG variant")
                c = 1
            elif ctype in _CHANNELS:
                if depth not in (8, 16) or interlace not in (0, 1):
                    raise ValueError("unsupported PNG variant")
                c = _CHANNELS[ctype]
            else:
                raise ValueError(f"unsupported PNG color type {ctype}")
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = np.frombuffer(payload, dtype=np.uint8)
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    bpp = c * (depth // 8) if ctype != 3 else 1
    stride = (w * depth + 7) // 8 if ctype == 3 else w * bpp
    passes = _adam7_dims(w, h) if interlace else []
    # Decompression-bomb guard: the pixel-data size is fully determined
    # by the header (scanlines of 1 filter byte + stride, per pass when
    # Adam7), so cap the inflate at that size — a hostile IDAT can claim
    # a 1032:1 DEFLATE ratio and a 100 MB chunk must not inflate to
    # 100 GB on an executor.
    if interlace:
        expected = sum(ph * (1 + pw * bpp) for *_xy, pw, ph in passes)
    else:
        expected = h * (1 + stride)
    d = zlib.decompressobj()
    buf = d.decompress(b"".join(idat), expected + 1)
    if len(buf) > expected:
        raise ValueError("png: pixel data exceeds declared dimensions")
    if len(buf) < expected:
        raise ValueError(
            f"png: pixel data {len(buf)} bytes < declared {expected}"
        )
    raw = np.frombuffer(buf, dtype=np.uint8)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        packed = _unfilter(raw, h, stride, 1)
        if depth == 8:
            idx = packed[:, :w]
        else:
            bits = np.unpackbits(packed, axis=1)[:, : w * depth]
            idx = bits.reshape(h, w, depth)
            weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
            idx = (idx * weights).sum(axis=2).astype(np.uint8)
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("png: palette index out of range")
        rgb = plte[idx]  # (h, w, 3)
        if trns is not None:
            alpha = np.full(len(plte), 255, dtype=np.uint8)
            alpha[: len(trns)] = trns
            return np.dstack([rgb, alpha[idx]])
        return rgb
    if interlace:
        grid = np.zeros((h, w, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            n = ph * (1 + pw * bpp)
            sub = _unfilter(raw[off : off + n], ph, pw * bpp, bpp)
            grid[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
            off += n
        out = grid.reshape(h, stride)
    else:
        out = _unfilter(raw, h, stride, bpp)
    if depth == 16:
        arr = (
            np.ascontiguousarray(out)
            .view(">u2")
            .astype(np.uint16)
            .reshape(h, w, c)
        )
    else:
        arr = out.reshape(h, w, c)
    return arr[:, :, 0] if c == 1 else arr


def encode_raw(arr: np.ndarray) -> bytes:
    """C-order uint8 bytes; shape carried by the (w, h) columns."""
    if arr.dtype != np.uint8:
        raise ValueError(f"raw codec is uint8-only, got {arr.dtype}")
    return np.ascontiguousarray(arr).tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    if w <= 0 or h <= 0:
        raise ValueError(f"raw: non-positive dims ({w}x{h})")
    n = len(data)
    c = n // (w * h)
    if c * w * h != n or c not in (1, 3, 4):
        raise ValueError(f"raw buffer length {n} not (h={h})x(w={w})x{{1,3,4}}")
    arr = np.frombuffer(data, dtype=np.uint8).reshape(h, w, c)
    return arr[:, :, 0] if c == 1 else arr


def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """Dispatch decode; validates decoded dims against the (w, h) columns
    (schema is explicit, the only inference is the decode itself —
    SURVEY.md §1.3)."""
    if fmt == "png":
        arr = decode_png(bytes(data))
    elif fmt == "raw":
        arr = decode_raw(bytes(data), w, h)
    elif fmt in ("jpeg", "jpg"):
        from . import codec_jpeg

        arr = codec_jpeg.decode_jpeg(bytes(data))
    elif fmt in ("tif", "tiff"):
        from . import codec_tiff

        arr = codec_tiff.decode_tiff(bytes(data))
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    if arr.shape[0] != h or arr.shape[1] != w:
        raise ValueError(f"decoded {arr.shape[:2]} != ({h},{w})")
    return arr


def encode(arr: np.ndarray, fmt: str, level: int = 6) -> bytes:
    if fmt == "png":
        return encode_png(arr, level)
    if fmt == "raw":
        return encode_raw(arr)
    if fmt in ("jpeg", "jpg"):
        from . import codec_jpeg

        # level rides the png signature; jpeg quality pinned at 95 (lossy;
        # PSNR >= 40 dB contract, BASELINE.json input_hint)
        return codec_jpeg.encode_jpeg(arr, quality=95)
    if fmt in ("tif", "tiff"):
        from . import codec_tiff

        # deflate + horizontal predictor; `level` rides through like png
        return codec_tiff.encode_tiff(arr, level=level)
    raise ValueError(f"unknown fmt {fmt!r}")
