"""From-scratch baseline TIFF / GeoTIFF codec (pure numpy + stdlib zlib).

The reference's native input format: every raster it touches goes through
GDAL's GeoTIFF driver (``read_tif``/``write_tif``,
/root/reference/src/io.py:41-90), and ``getGeodata`` reads the affine
geotransform + projection straight from those tags
(/root/reference/src/io.py:55-63).  This module earns that capability
from the public TIFF 6.0 + GeoTIFF 1.1 specs, same posture as the
PNG/VP8L/JPEG codecs here:

decode — classic AND BigTIFF layouts, both byte orders, strip AND tile
organisation, compression 1 (none) / 5 (LZW, early-change) / 7
(new-style JPEG per TechNote 2, shared-JPEGTables or standalone
segments, via this repo's from-scratch baseline JPEG decoder) / 8 &
32946 (DEFLATE) / 32773 (PackBits), horizontal-differencing predictor
(317=2), photometric 0 (WhiteIsZero, inverted) / 1 / 2 (RGB, incl.
alpha via SamplesPerPixel=4) / 6 (YCbCr, JPEG-compressed only), 8- and
16-bit unsigned plus float32/float64 (SampleFormat=3) samples.

encode — little-endian, strip or tile, chunky or planar (r5), compression none/
deflate/packbits/lzw with optional predictor 2 or jpeg (standalone
baseline 4:4:4 segments, photometric 6), plus the GeoTIFF georeference
tags (ModelPixelScale 33550, ModelTiepoint 33922, GeoKeyDirectory
34735, GeoAsciiParams 34737) so ``write_tif`` parity includes the
geotransform, not just pixels.

Out-of-scope variants raise loudly (``NotImplementedError`` for valid-
but-unsupported: palette, planar-with-JPEG, old-style JPEG (6), CCITT,
signed samples, sub-byte depths); planar configuration 2 decodes and
encodes for real (r5) on every non-JPEG path; hostile bytes raise
``ValueError`` via the shared ``malformed_guard`` contract
(tests/test_codec_fuzz.py).  Allocation is bounded BEFORE it happens:
raster size is validated against a hard cap and every inflate is capped
at the segment size the header declares (decompression-bomb posture,
same as decode_png).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..functions.geodesy import parse_epsg
from ._hardening import malformed_guard
from .codec_jpeg import decode_jpeg, encode_jpeg

# hard cap on the decoded raster (bytes) — a 4-byte dim field can claim
# a 16-EiB image; per-row payloads in this engine are far below this
_MAX_RASTER_BYTES = 1 << 31

_TYPE_SIZE = {
    1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4,
    12: 8, 16: 8, 17: 8, 18: 8,  # 16-18: BigTIFF LONG8/SLONG8/IFD8
}
_TYPE_FMT = {
    1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f", 12: "d",
    16: "Q", 17: "q", 18: "Q",
}

_COMP_NONE, _COMP_LZW, _COMP_DEFLATE_ADOBE = 1, 5, 8
_COMP_PACKBITS, _COMP_DEFLATE_OLD = 32773, 32946
_COMP_JPEG_OLD, _COMP_JPEG = 6, 7  # 7 = TIFF TechNote 2 new-style JPEG
_TAG_JPEG_TABLES = 347

# GeoTIFF tags (public GeoTIFF 1.1 spec / OGC 19-008r4)
_TAG_PIXEL_SCALE = 33550
_TAG_TIEPOINT = 33922
_TAG_GEO_KEYS = 34735
_TAG_GEO_ASCII = 34737


# --------------------------------------------------------------------- #
# IFD parsing
# --------------------------------------------------------------------- #


def _read_ifd(data: bytes, index: int = 0) -> tuple[dict, str]:
    """IFD ``index`` (following the next-IFD chain) as
    {tag: (type, [values...])} plus the endian prefix.  The chain walk is
    cycle-guarded: offsets must strictly appear at most once and at most
    64 IFDs are followed (hostile next-pointers must not loop forever)."""
    if len(data) < 8:
        raise ValueError("tiff: truncated header")
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("tiff: bad byte-order mark")
    (magic,) = struct.unpack(bo + "H", data[2:4])
    if magic == 43:
        # BigTIFF: 8-byte offsets / 20-byte entries — the layout any
        # >4 GiB GeoTIFF mosaic actually ships in
        if len(data) < 16:
            raise ValueError("tiff: truncated BigTIFF header")
        osz, rsv = struct.unpack(bo + "HH", data[4:8])
        if osz != 8 or rsv != 0:
            raise ValueError(f"tiff: bad BigTIFF offset size {osz}/{rsv}")
        big = True
        (ifd_off,) = struct.unpack(bo + "Q", data[8:16])
    elif magic == 42:
        big = False
        (ifd_off,) = struct.unpack(bo + "I", data[4:8])
    else:
        raise ValueError(f"tiff: bad magic {magic}")
    # per-layout IFD geometry: (count bytes+fmt, entry size, inline cap)
    cb, cf, esz, icap = (8, "Q", 20, 8) if big else (2, "H", 12, 4)

    def _ifd_count_at(off: int) -> int:
        if off + cb > len(data):
            raise ValueError("tiff: IFD offset beyond file")
        (n,) = struct.unpack(bo + cf, data[off : off + cb])
        return n

    seen = set()
    for _hop in range(index):
        if ifd_off == 0:
            raise ValueError(f"tiff: IFD {index} absent (chain ends)")
        if ifd_off in seen or len(seen) >= 64:
            raise ValueError("tiff: IFD chain cycles")
        seen.add(ifd_off)
        n = _ifd_count_at(ifd_off)
        if n > 4096:
            raise ValueError(f"tiff: implausible IFD entry count {n}")
        nxt = ifd_off + cb + esz * n
        if nxt + icap > len(data):
            raise ValueError("tiff: truncated IFD chain")
        (ifd_off,) = struct.unpack(
            bo + ("Q" if big else "I"), data[nxt : nxt + (8 if big else 4)]
        )
    if ifd_off == 0:
        raise ValueError(f"tiff: IFD {index} absent (chain ends)")
    n = _ifd_count_at(ifd_off)
    if n == 0 or n > 4096:
        raise ValueError(f"tiff: implausible IFD entry count {n}")
    if ifd_off + cb + esz * n > len(data):
        raise ValueError("tiff: truncated IFD")
    tags: dict[int, tuple[int, list]] = {}
    for i in range(n):
        e = data[ifd_off + cb + esz * i : ifd_off + cb + esz * (i + 1)]
        if big:
            tag, typ, cnt = struct.unpack(bo + "HHQ", e[:12])
            vstart = 12
        else:
            tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
            vstart = 8
        size = _TYPE_SIZE.get(typ)
        if size is None:
            continue  # unknown type: spec says readers skip the entry
        total = size * cnt
        if total > len(data):
            # lying 64-bit count: refuse before building a struct format
            # string proportional to it
            raise ValueError(f"tiff: tag {tag} count exceeds file size")
        if total <= icap:
            raw = e[vstart : vstart + total]
        else:
            (off,) = struct.unpack(
                bo + ("Q" if big else "I"), e[vstart : vstart + icap]
            )
            raw = data[off : off + total]
            if len(raw) != total:
                raise ValueError(f"tiff: tag {tag} value beyond file")
        if typ == 2:  # ASCII
            vals = [raw.split(b"\x00", 1)[0].decode("ascii", "replace")]
        elif typ == 7:  # UNDEFINED: opaque bytes (JPEGTables, XMP, ...)
            vals = [raw]
        elif typ in (5, 10):  # RATIONAL
            parts = struct.unpack(bo + ("II" if typ == 5 else "ii") * cnt, raw)
            vals = [
                (parts[2 * j] / parts[2 * j + 1]) if parts[2 * j + 1] else 0.0
                for j in range(cnt)
            ]
        else:
            vals = list(struct.unpack(bo + _TYPE_FMT[typ] * cnt, raw))
        tags[tag] = (typ, vals)
    return tags, bo


def _tag(tags: dict, tag: int, default=None):
    if tag in tags:
        return tags[tag][1]
    return default


def _tag1(tags: dict, tag: int, default=None):
    v = _tag(tags, tag)
    return v[0] if v else default


def _tag_int(tags: dict, tag: int, default=None):
    """``_tag1`` for numeric tags: a hostile byte flip can rewrite a
    SHORT/LONG entry's type field to ASCII/RATIONAL, turning the value
    into bytes or a tuple — arithmetic on it must fail as a clean
    ValueError (the fuzz contract), not a TypeError."""
    v = _tag1(tags, tag, default)
    if v is not None and not isinstance(v, (int, np.integer)):
        raise ValueError(
            f"tiff: tag {tag} has non-integer value type "
            f"{type(v).__name__}"
        )
    return v


def _tag_ints(tags: dict, tag: int, default=None):
    """``_tag`` for ARRAY-valued numeric tags (BitsPerSample, strip/tile
    offsets and byte counts): a type-flipped entry (e.g. RATIONAL 258)
    parses to floats/tuples whose arithmetic or bytes-slicing raises
    TypeError — outside the ROW_ERRORS contract.  Validate every element
    so hostile inputs fail as a clean ValueError."""
    v = _tag(tags, tag)
    if v is None:
        return default
    for x in v:
        if not isinstance(x, (int, np.integer)):
            raise ValueError(
                f"tiff: tag {tag} has non-integer element type "
                f"{type(x).__name__}"
            )
    return v


# --------------------------------------------------------------------- #
# LZW (TIFF variant: MSB-first, early change) — compression 5
# --------------------------------------------------------------------- #

_CLEAR, _EOI = 256, 257


def lzw_decode(data: bytes, max_out: int) -> bytes:
    """TIFF LZW: 9-bit start, ClearCode=256, EOI=257, width bumps one
    code EARLY (when the next free entry reaches (1<<width)-1 — the
    libtiff-compatible convention every TIFF writer uses)."""
    if not data:
        raise ValueError("lzw: empty stream")
    # incremental MSB-first bit reader: a <=20-bit accumulator refilled a
    # byte at a time keeps the decode O(n) — shifting one big int per code
    # would be O(n^2) in strip size, pathological on real 256 KiB+ strips
    acc = nacc = ip = 0
    n_in = len(data)
    width = 9
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None

    while True:
        while nacc < width:
            if ip >= n_in:
                raise ValueError("lzw: stream ended without EOI")
            acc = (acc << 8) | data[ip]
            ip += 1
            nacc += 8
        nacc -= width
        code = (acc >> nacc) & ((1 << width) - 1)
        acc &= (1 << nacc) - 1
        if code == _EOI:
            break
        if code == _CLEAR:
            width = 9
            del table[258:]
            prev = None
            continue
        if prev is None:
            if code > 255:
                raise ValueError(f"lzw: first code after clear is {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
        else:
            raise ValueError(f"lzw: code {code} beyond table {len(table)}")
        out += entry
        if len(out) > max_out:
            raise ValueError("lzw: output exceeds declared segment size")
        if prev is not None:
            table.append(prev + entry[:1])
        prev = entry
        # early change: bump width when the NEXT entry index would no
        # longer fit at (1<<width)-1 — one code sooner than generic LZW
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    return bytes(out)


def lzw_encode(data: bytes) -> bytes:
    """Writer twin of :func:`lzw_decode` (same early-change convention)."""
    out_bits: list[tuple[int, int]] = [(_CLEAR, 9)]
    width = 9
    nxt = 258
    # the current sequence is tracked by its CODE (every table sequence
    # has one; single bytes are their own code), so the hot loop is one
    # int-keyed dict probe per byte instead of a bytes concat + hash
    table: dict[int, int] = {}  # (prev_code << 8) | byte -> code
    w = -1
    for b in data:
        if w < 0:
            w = b
            continue
        key = (w << 8) | b
        c = table.get(key)
        if c is not None:
            w = c
            continue
        out_bits.append((w, width))
        table[key] = nxt
        nxt += 1
        # the decoder's table lags this one by a single entry, so its
        # early-change at next-free == (1<<width)-1 lines up with the
        # writer changing at (1<<width)
        if nxt == (1 << width) and width < 12:
            width += 1
        if nxt >= 4094:  # table nearly full: reset (writer obligation)
            out_bits.append((_CLEAR, width))
            width = 9
            nxt = 258
            table.clear()
        w = b
    if w >= 0:
        out_bits.append((w, width))
        # the decoder appends one entry on receiving this final code
        # (no writer-side add accompanies a flush), so ITS next-free
        # equals nxt here — mirror its early-change before writing EOI
        if nxt == (1 << width) - 1 and width < 12:
            width += 1
    out_bits.append((_EOI, width))
    acc = n = 0
    buf = bytearray()
    for code, wd in out_bits:
        acc = (acc << wd) | code
        n += wd
        while n >= 8:
            buf.append((acc >> (n - 8)) & 0xFF)
            n -= 8
    if n:
        buf.append((acc << (8 - n)) & 0xFF)
    return bytes(buf)


# --------------------------------------------------------------------- #
# PackBits — compression 32773
# --------------------------------------------------------------------- #


def packbits_decode(data: bytes, max_out: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        i += 1
        if c == 128:
            continue
        if c < 128:  # literal run of c+1
            if i + c + 1 > n:
                raise ValueError("packbits: truncated literal run")
            out += data[i : i + c + 1]
            i += c + 1
        else:  # repeat next byte 257-c times
            if i >= n:
                raise ValueError("packbits: truncated repeat run")
            out += bytes([data[i]]) * (257 - c)
            i += 1
        if len(out) > max_out:
            raise ValueError("packbits: output exceeds declared segment size")
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        j = i + 1
        while (
            j < n
            and j - i < 128
            and not (j + 1 < n and data[j] == data[j + 1])
        ):
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


# --------------------------------------------------------------------- #
# decode
# --------------------------------------------------------------------- #


def _inflate_capped(seg: bytes, expected: int, fmt: str) -> bytes:
    d = zlib.decompressobj()
    buf = d.decompress(seg, expected + 1)
    if len(buf) > expected:
        raise ValueError(f"{fmt}: segment inflates past declared size")
    return buf


def _decompress(seg: bytes, comp: int, expected: int) -> bytes:
    if comp == _COMP_NONE:
        buf = seg
    elif comp in (_COMP_DEFLATE_ADOBE, _COMP_DEFLATE_OLD):
        buf = _inflate_capped(seg, expected, "tiff")
    elif comp == _COMP_LZW:
        buf = lzw_decode(seg, expected)
    elif comp == _COMP_PACKBITS:
        buf = packbits_decode(seg, expected)
    else:
        raise NotImplementedError(f"tiff: compression {comp} not supported")
    if len(buf) < expected:
        raise ValueError(
            f"tiff: segment {len(buf)} bytes < declared {expected}"
        )
    return buf[:expected]


def _undo_predictor(seg: np.ndarray, rows: int, width: int, spp: int) -> np.ndarray:
    """Horizontal differencing (predictor 2): cumulative sum along x per
    channel, modulo the sample width."""
    mask = np.iinfo(seg.dtype).max
    a = seg.reshape(rows, width, spp).astype(np.int64)
    return (np.cumsum(a, axis=1) & mask).astype(seg.dtype).reshape(rows, width * spp)


def _undo_predictor_float(
    buf: bytes, rows: int, width: int, spp: int, bsz: int
) -> np.ndarray:
    """Floating-point predictor (317=3, TIFF Technical Note 3): per row,
    the sample bytes are split into MSB-first byte planes (big-endian
    order regardless of the file's byte-order mark), then horizontally
    byte-differenced across the whole row.  Reverse both steps."""
    stride = width * spp * bsz
    b = np.frombuffer(buf, np.uint8).reshape(rows, stride)
    b = (np.cumsum(b.astype(np.int64), axis=1) & 0xFF).astype(np.uint8)
    # plane p holds byte p (MSB first) of every sample in the row
    be = np.ascontiguousarray(
        b.reshape(rows, bsz, width * spp).transpose(0, 2, 1)
    )
    arr = np.frombuffer(be.tobytes(), dtype=f">f{bsz}").reshape(
        rows, width * spp
    )
    return arr.astype(f"=f{bsz}")


def _apply_predictor_float(seg2d: np.ndarray) -> bytes:
    """Inverse of :func:`_undo_predictor_float` for the encoder: byte-
    plane split (MSB first) then horizontal byte differencing, per row."""
    rows = seg2d.shape[0]
    bsz = seg2d.dtype.itemsize
    be = np.ascontiguousarray(seg2d.astype(f">f{bsz}"))
    planes = (
        np.frombuffer(be.tobytes(), np.uint8)
        .reshape(rows, seg2d.shape[1], bsz)
        .transpose(0, 2, 1)
        .reshape(rows, -1)
        .astype(np.int64)
    )
    d = np.diff(planes, axis=1, prepend=np.zeros((rows, 1), np.int64))
    return ((d & 0xFF).astype(np.uint8)).tobytes()


@malformed_guard("tiff")
def decode_tiff(data: bytes, ifd: int = 0) -> np.ndarray:
    """TIFF bytes -> uint8/uint16 array (h, w) or (h, w, c).

    ``ifd`` selects a directory along the chain: 0 is the full-res
    raster, 1.. are reduced-resolution overviews when present
    (:func:`encode_tiff_overviews`)."""
    return _decode_tiff_impl(data, ifd, None)


@malformed_guard("tiff")
def decode_tiff_window(
    data: bytes, x0: int, y0: int, win_w: int, win_h: int, ifd: int = 0
) -> np.ndarray:
    """Cloud-optimized-GeoTIFF access pattern: decode ONLY the strips /
    tiles intersecting the pixel window ``[x0, x0+win_w) x [y0,
    y0+win_h)`` and return that window — a tile slice of a large mosaic
    never pays for the rest of the raster.  This is how the engine's
    createTile (O3) stays O(tile) per task on a tiled GeoTIFF corpus
    instead of O(raster): with 256x256 internal tiling, one 512x512
    slice touches <= 9 segments of a 100 MP scene.

    Window bounds must lie inside the raster (``ValueError`` otherwise);
    compression/predictor handling is identical to :func:`decode_tiff`
    (whole intersecting segments are entropy-decoded — predictors are
    row-relative within a segment — then cropped)."""
    return _decode_tiff_impl(data, ifd, (x0, y0, win_w, win_h))


def _decode_tiff_impl(
    data: bytes, ifd: int, window: tuple[int, int, int, int] | None
) -> np.ndarray:
    tags, bo = _read_ifd(data, index=ifd)
    w = _tag_int(tags, 256)
    h = _tag_int(tags, 257)
    if not w or not h or w < 0 or h < 0:
        raise ValueError("tiff: missing/zero dimensions")
    spp = _tag_int(tags, 277, 1)
    bits = _tag_ints(tags, 258, [8])
    if len(set(bits)) != 1:
        raise NotImplementedError("tiff: mixed per-channel bit depths")
    bps = bits[0]
    if spp not in (1, 3, 4):
        raise NotImplementedError(f"tiff: {spp} samples/px not supported")
    sf = _tag_int(tags, 339, 1)
    if sf == 1:  # unsigned int
        if bps not in (8, 16):
            raise NotImplementedError(f"tiff: {bps}-bit uint samples not supported")
        kind = "u"
    elif sf == 3:  # IEEE float (the reference's read_tif works in float64
        # and GDAL DEM rasters are commonly float32, io.py:41-63)
        if bps not in (32, 64):
            raise NotImplementedError(f"tiff: {bps}-bit float samples not supported")
        kind = "f"
    else:
        raise NotImplementedError(f"tiff: sample format {sf} not supported")
    planar = _tag_int(tags, 284, 1)
    if planar not in (1, 2):
        raise ValueError(f"tiff: invalid planar configuration {planar}")
    # planar=2 stores each component's segments contiguously (all plane-0
    # strips/tiles, then plane 1, ...); each segment carries ONE sample
    nplanes = spp if (planar == 2 and spp > 1) else 1
    spp_seg = 1 if nplanes > 1 else spp
    photo = _tag_int(tags, 262, 1)
    comp = _tag_int(tags, 259, 1)
    pred = _tag_int(tags, 317, 1)
    if comp == _COMP_JPEG and nplanes > 1:
        raise NotImplementedError(
            "tiff: planar configuration 2 with JPEG compression not supported"
        )
    if comp == _COMP_JPEG_OLD:
        raise NotImplementedError(
            "tiff: old-style JPEG (compression 6) not supported"
        )
    if comp == _COMP_JPEG:
        # TechNote 2 new-style JPEG: each strip/tile is a baseline JPEG
        # stream, tables optionally hoisted into JPEGTables (tag 347)
        if bps != 8 or sf != 1:
            raise NotImplementedError(
                "tiff: JPEG compression is 8-bit unsigned only"
            )
        if photo not in (1, 6):
            raise NotImplementedError(
                f"tiff: photometric {photo} with JPEG compression not supported"
            )
        if (photo == 6 and spp != 3) or (photo == 1 and spp != 1):
            raise ValueError("tiff: JPEG photometric/samples mismatch")
        if pred != 1:
            raise ValueError("tiff: predictor with JPEG compression")
    elif photo not in (0, 1, 2):
        raise NotImplementedError(f"tiff: photometric {photo} not supported")
    if photo == 0 and kind == "f":
        raise NotImplementedError("tiff: WhiteIsZero float rasters not supported")
    if photo == 2 and spp < 3:
        raise ValueError("tiff: RGB photometric with <3 samples")
    if pred not in (1, 2, 3):
        raise NotImplementedError(f"tiff: predictor {pred} not supported")
    if pred == 2 and kind == "f":
        # spec: horizontal differencing is integer-only (floats use
        # predictor 3, a different byte-shuffle scheme)
        raise ValueError("tiff: predictor 2 on float samples")
    if pred == 3 and kind != "f":
        raise ValueError("tiff: predictor 3 on integer samples")
    bsz = bps // 8
    if window is not None:
        wx0, wy0, ww, wh = window
        if ww <= 0 or wh <= 0 or wx0 < 0 or wy0 < 0 or wx0 + ww > w or wy0 + wh > h:
            raise ValueError("tiff: window outside raster bounds")
        # the cap guards what we actually materialize: the window plus
        # the tile/strip-aligned halo around it (applied per-branch below)
    elif w * h * spp * bsz > _MAX_RASTER_BYTES:
        raise ValueError("tiff: declared raster exceeds size cap")
    dt = np.dtype(f"{bo}{kind}{bsz}")

    tables_body = b""
    if comp == _COMP_JPEG:
        jt = _tag(tags, _TAG_JPEG_TABLES)
        if jt is not None:
            # type 7 parses to [bytes]; a BYTE-typed writer yields ints
            tb = (
                bytes(jt[0])
                if len(jt) == 1 and isinstance(jt[0], (bytes, bytearray))
                else bytes(jt)
            )
            if len(tb) < 4 or tb[:2] != b"\xff\xd8" or tb[-2:] != b"\xff\xd9":
                raise ValueError("tiff: malformed JPEGTables")
            tables_body = tb[2:-2]

    def _jpeg_seg(seg: bytes, rows: int, cols: int) -> np.ndarray:
        """One JPEG strip/tile -> (rows, cols*spp).  Shared tables are
        spliced after the segment's SOI; segment-local DQT/DHT arriving
        later win, per the spec's last-definition-applies rule."""
        if seg[:2] != b"\xff\xd8":
            raise ValueError("tiff: JPEG segment missing SOI")
        a = decode_jpeg(b"\xff\xd8" + tables_body + seg[2:])
        exp_shape = (rows, cols, 3) if spp == 3 else (rows, cols)
        if a.shape != exp_shape:
            raise ValueError(
                f"tiff: JPEG segment decodes to {a.shape}, expected {exp_shape}"
            )
        return a.reshape(rows, cols * spp).astype(dt)

    tiled = 322 in tags or 324 in tags
    if tiled:
        tw, th = _tag_int(tags, 322), _tag_int(tags, 323)
        offs, cnts = _tag_ints(tags, 324), _tag_ints(tags, 325)
        if not tw or not th or tw % 16 or th % 16:
            raise ValueError("tiff: bad tile dimensions")
        ntx, nty = -(-w // tw), -(-h // th)
        nseg = ntx * nty * nplanes
        if offs is None or cnts is None or len(offs) != nseg or len(cnts) != nseg:
            raise ValueError("tiff: tile offsets/counts mismatch")
        if window is not None:
            ty_lo, ty_hi = wy0 // th, (wy0 + wh - 1) // th
            tx_lo, tx_hi = wx0 // tw, (wx0 + ww - 1) // tw
        else:
            ty_lo, ty_hi, tx_lo, tx_hi = 0, nty - 1, 0, ntx - 1
        ry0, rx0 = ty_lo * th, tx_lo * tw
        rh = min((ty_hi + 1) * th, h) - ry0
        rw = min((tx_hi + 1) * tw, w) - rx0
        if rh * rw * spp * bsz > _MAX_RASTER_BYTES:
            raise ValueError("tiff: decoded region exceeds size cap")
        img = np.zeros((rh, rw, spp), dtype=dt)
        exp = th * tw * spp_seg * bsz
        for p in range(nplanes):
            for ty in range(ty_lo, ty_hi + 1):
                for tx in range(tx_lo, tx_hi + 1):
                    i = p * ntx * nty + ty * ntx + tx
                    seg = data[offs[i] : offs[i] + cnts[i]]
                    if len(seg) != cnts[i]:
                        raise ValueError("tiff: tile beyond file")
                    if comp == _COMP_JPEG:
                        t = _jpeg_seg(seg, th, tw)
                    elif pred == 3:
                        buf = _decompress(seg, comp, exp)
                        t = _undo_predictor_float(buf, th, tw, spp_seg, bsz)
                    else:
                        buf = _decompress(seg, comp, exp)
                        t = np.frombuffer(buf, dtype=dt).reshape(th, tw * spp_seg)
                        if pred == 2:
                            t = _undo_predictor(t, th, tw, spp_seg)
                    ch = min(th, h - ty * th)
                    cw = min(tw, w - tx * tw)
                    oy, ox = ty * th - ry0, tx * tw - rx0
                    if nplanes > 1:
                        img[oy : oy + ch, ox : ox + cw, p] = (
                            t.reshape(th, tw)[:ch, :cw]
                        )
                    else:
                        img[oy : oy + ch, ox : ox + cw, :] = (
                            t.reshape(th, tw, spp)[:ch, :cw]
                        )
        img = img.reshape(rh, rw * spp)
    else:
        offs, cnts = _tag_ints(tags, 273), _tag_ints(tags, 279)
        rps = _tag_int(tags, 278, h)
        if rps <= 0:
            raise ValueError("tiff: non-positive rows-per-strip")
        nstrips = -(-h // rps)
        nseg = nstrips * nplanes
        if offs is None or cnts is None or len(offs) != nseg or len(cnts) != nseg:
            raise ValueError("tiff: strip offsets/counts mismatch")
        if window is not None:
            s_lo, s_hi = wy0 // rps, (wy0 + wh - 1) // rps
        else:
            s_lo, s_hi = 0, nstrips - 1
        ry0, rx0 = s_lo * rps, 0
        rh = min((s_hi + 1) * rps, h) - ry0
        rw = w
        if rh * rw * spp * bsz > _MAX_RASTER_BYTES:
            raise ValueError("tiff: decoded region exceeds size cap")
        plane_imgs = []
        for p in range(nplanes):
            parts = []
            for i in range(s_lo, s_hi + 1):
                rows = min(rps, h - i * rps)
                j = p * nstrips + i
                seg = data[offs[j] : offs[j] + cnts[j]]
                if len(seg) != cnts[j]:
                    raise ValueError("tiff: strip beyond file")
                if comp == _COMP_JPEG:
                    s = _jpeg_seg(seg, rows, w)
                elif pred == 3:
                    buf = _decompress(seg, comp, rows * w * spp_seg * bsz)
                    s = _undo_predictor_float(buf, rows, w, spp_seg, bsz)
                else:
                    buf = _decompress(seg, comp, rows * w * spp_seg * bsz)
                    s = np.frombuffer(buf, dtype=dt).reshape(rows, w * spp_seg)
                    if pred == 2:
                        s = _undo_predictor(s, rows, w, spp_seg)
                parts.append(s)
            plane_imgs.append(np.vstack(parts) if len(parts) > 1 else parts[0])
        if nplanes > 1:
            img = np.stack(plane_imgs, axis=2).reshape(rh, rw * spp)
        else:
            img = plane_imgs[0]

    arr = np.ascontiguousarray(img.astype(dt.newbyteorder("=")))
    arr = arr.reshape(rh, rw, spp)
    if window is not None:
        arr = np.ascontiguousarray(
            arr[wy0 - ry0 : wy0 - ry0 + wh, wx0 - rx0 : wx0 - rx0 + ww]
        )
    if photo == 0:  # WhiteIsZero
        arr = (np.iinfo(arr.dtype).max - arr).astype(arr.dtype)
    return arr[:, :, 0] if spp == 1 else arr


# --------------------------------------------------------------------- #
# georeference (GeoTIFF) — tag-level read, no pixel decode
# --------------------------------------------------------------------- #


@malformed_guard("tiff")
def geotiff_geodata(data: bytes, ifd: int = 0) -> dict:
    """``getGeodata`` parity (/root/reference/src/io.py:55-63): the
    north-up affine geotransform + CRS citation from the GeoTIFF tags.

    Returns ``{ulx, uly, sx, sy, w, h, crs}`` with ``sy`` NEGATIVE
    (GDAL geotransform convention, the shape the reference's gridding
    math consumes, /root/reference/src/bf_gridding.py:43-71).
    """
    tags, _ = _read_ifd(data, index=ifd)
    scale = _tag(tags, _TAG_PIXEL_SCALE)
    tie = _tag(tags, _TAG_TIEPOINT)
    if scale is None or tie is None or len(scale) < 2 or len(tie) < 6:
        raise ValueError("tiff: missing GeoTIFF georeference tags")
    sx, sy_abs = float(scale[0]), float(scale[1])
    i, j, _k, x, y, _z = (float(v) for v in tie[:6])
    # tiepoint maps raster (i, j) -> model (x, y); solve for the UL corner
    ulx = x - i * sx
    uly = y + j * sy_abs
    crs = _tag1(tags, _TAG_GEO_ASCII, "")
    if not crs:
        # no citation: resolve the CRS from the key directory (2048
        # GeographicType / 3072 ProjectedCSType carry a bare EPSG code)
        gk = _tag(tags, _TAG_GEO_KEYS)
        if gk and len(gk) >= 4:
            for k in range(1, min(int(gk[3]), (len(gk) - 4) // 4) + 1):
                kid, loc, cnt, val = gk[4 * k : 4 * k + 4]
                if kid in (2048, 3072) and loc == 0 and 0 < val < 32767:
                    crs = f"EPSG:{val}"
                    break
    return {
        "ulx": ulx,
        "uly": uly,
        "sx": sx,
        "sy": -sy_abs,
        "w": _tag_int(tags, 256),
        "h": _tag_int(tags, 257),
        "crs": crs,
    }


# --------------------------------------------------------------------- #
# encode
# --------------------------------------------------------------------- #


def _apply_predictor(arr2d: np.ndarray, rows: int, width: int, spp: int) -> np.ndarray:
    a = arr2d.reshape(rows, width, spp).astype(np.int64)
    d = np.diff(a, axis=1, prepend=np.zeros((rows, 1, spp), np.int64))
    mask = np.iinfo(arr2d.dtype).max
    return (d & mask).astype(arr2d.dtype).reshape(rows, width * spp)


def _plan_level(
    arr: np.ndarray,
    compression: str,
    rows_per_strip: int | None,
    predictor: bool,
    level: int,
    tiling: tuple[int, int] | None,
    jpeg_quality: int = 95,
    planar: bool = False,
) -> dict:
    """Validate one raster and build its compressed segments + layout
    metadata (no offsets yet — the multi-IFD assembler assigns those)."""
    if arr.dtype == np.uint8:
        pass
    elif arr.dtype in (np.uint16, np.float32, np.float64):
        if arr.ndim != 2:
            raise ValueError(f"tiff: {arr.dtype} encode is single-band only")
    else:
        raise ValueError(
            f"tiff codec encodes uint8/uint16/float32/float64, got {arr.dtype}"
        )
    if arr.ndim == 2:
        h, w = arr.shape
        spp = 1
    elif arr.ndim == 3 and arr.shape[2] in (3, 4):
        h, w, spp = arr.shape
    else:
        raise ValueError(f"tiff: bad array shape {arr.shape}")
    bps = arr.dtype.itemsize * 8
    comp_id = {
        "none": _COMP_NONE,
        "deflate": _COMP_DEFLATE_ADOBE,
        "packbits": _COMP_PACKBITS,
        "lzw": _COMP_LZW,
        "jpeg": _COMP_JPEG,
    }.get(compression)
    if comp_id is None:
        raise ValueError(f"tiff: unknown compression {compression!r}")
    if comp_id == _COMP_JPEG:
        if arr.dtype != np.uint8:
            raise ValueError("tiff: JPEG compression is uint8-only")
        if spp not in (1, 3):
            raise ValueError("tiff: JPEG compression takes 1 or 3 samples/px")
    # predictor 2 (horizontal differencing) for ints, 3 (TechNote 3
    # byte-plane differencing) for floats; both only help under an
    # entropy-coded compression
    use_pred = predictor and comp_id in (_COMP_DEFLATE_ADOBE, _COMP_LZW)
    pred_id = (2 if arr.dtype.kind == "u" else 3) if use_pred else 1

    if planar:
        if spp == 1:
            planar = False  # one band: chunky and planar are identical
        elif comp_id == _COMP_JPEG:
            raise ValueError("tiff: planar layout with JPEG compression")
    spp_seg = 1 if planar else spp  # samples carried by each segment

    def _pack(seg2d: np.ndarray, seg_w: int) -> bytes:
        if comp_id == _COMP_JPEG:
            # each segment is a standalone baseline stream (valid per
            # TechNote 2; no JPEGTables hoisting on encode — readers
            # must accept both, and decode_tiff does)
            px = seg2d.reshape(seg2d.shape[0], seg_w, spp_seg)
            return encode_jpeg(
                np.ascontiguousarray(px[:, :, 0] if spp_seg == 1 else px),
                quality=jpeg_quality,
            )
        if pred_id == 3:
            raw = _apply_predictor_float(seg2d)
        else:
            if pred_id == 2:
                seg2d = _apply_predictor(seg2d, seg2d.shape[0], seg_w, spp_seg)
            raw = seg2d.tobytes()
        if comp_id == _COMP_NONE:
            return raw
        if comp_id == _COMP_DEFLATE_ADOBE:
            return zlib.compress(raw, level)
        if comp_id == _COMP_PACKBITS:
            return packbits_encode(raw)
        return lzw_encode(raw)

    le = np.ascontiguousarray(arr.astype("<" + arr.dtype.str[1:]))
    if planar:
        # planar=2: all of plane 0's segments first, then plane 1, ...
        plane_arrays = [
            np.ascontiguousarray(le.reshape(h, w, spp)[:, :, p])
            for p in range(spp)
        ]
    else:
        plane_arrays = [le.reshape(h, w * spp)]

    segs: list[bytes] = []
    rps = None
    if tiling is not None:
        tw, th = tiling
        if tw % 16 or th % 16 or tw <= 0 or th <= 0:
            raise ValueError("tiff: tile dims must be positive multiples of 16")
        ntx, nty = -(-w // tw), -(-h // th)
        for arr2d in plane_arrays:
            for ty in range(nty):
                for tx in range(ntx):
                    t = np.zeros((th, tw * spp_seg), dtype=arr2d.dtype)
                    ch = min(th, h - ty * th)
                    cw = min(tw, w - tx * tw)
                    t[:ch, : cw * spp_seg] = arr2d[
                        ty * th : ty * th + ch,
                        tx * tw * spp_seg : (tx * tw + cw) * spp_seg,
                    ]
                    segs.append(_pack(t, tw))
    else:
        if rows_per_strip is None:
            # target ~256 KiB strips so huge rasters stream segment-at-a-time
            rows_per_strip = max(1, (256 << 10) // max(1, w * spp_seg * (bps // 8)))
        rps = min(rows_per_strip, h)
        for arr2d in plane_arrays:
            for y0 in range(0, h, rps):
                segs.append(_pack(arr2d[y0 : y0 + rps], w))
    return {
        "segs": segs, "w": w, "h": h, "spp": spp, "bps": bps,
        "comp_id": comp_id, "pred_id": pred_id, "rps": rps,
        "tiling": tiling, "planar": planar,
        "sfmt": 3 if arr.dtype.kind == "f" else 1,
        "photo": (
            6
            if comp_id == _COMP_JPEG and spp == 3
            else (2 if spp >= 3 else 1)
        ),
    }


def _level_entries(
    lv: dict,
    seg_offs: list[int],
    geo: tuple | None,
    reduced: bool,
    big: bool = False,
) -> list[tuple[int, int, int, bytes]]:
    entries: list[tuple[int, int, int, bytes]] = []

    def add(tag: int, typ: int, vals) -> None:
        if typ == 2:
            raw = vals.encode("ascii") + b"\x00"
            cnt = len(raw)
        else:
            fmt = "<" + _TYPE_FMT[typ] * len(vals)
            raw = struct.pack(fmt, *vals)
            cnt = len(vals)
        entries.append((tag, typ, cnt, raw))

    if reduced:
        add(254, 4, [1])  # NewSubfileType: reduced-resolution overview
    add(256, 4, [lv["w"]])
    add(257, 4, [lv["h"]])
    add(258, 3, [lv["bps"]] * lv["spp"])
    add(259, 3, [lv["comp_id"]])
    add(262, 3, [lv["photo"]])
    if lv["photo"] == 6:
        # we encode 4:4:4 — the TIFF default for tag 530 is [2,2], so
        # it must be written explicitly
        add(530, 3, [1, 1])
    add(277, 3, [lv["spp"]])
    add(284, 3, [2 if lv.get("planar") else 1])  # chunky / planar
    otyp = 16 if big else 4  # LONG8 offsets carry >4 GiB placements
    if lv["tiling"] is not None:
        add(322, 4, [lv["tiling"][0]])
        add(323, 4, [lv["tiling"][1]])
        add(324, otyp, seg_offs)
        add(325, otyp, [len(s) for s in lv["segs"]])
    else:
        add(273, otyp, seg_offs)
        add(278, 4, [lv["rps"]])
        add(279, otyp, [len(s) for s in lv["segs"]])
    if lv["spp"] == 4:
        add(338, 3, [2])  # unassociated alpha
    if lv["pred_id"] != 1:
        add(317, 3, [lv["pred_id"]])
    add(339, 3, [lv["sfmt"]] * lv["spp"])
    if geo is not None:
        ulx, uly, sx, sy, crs = geo
        if sy >= 0:
            raise ValueError("tiff: geotransform sy must be negative (north-up)")
        add(_TAG_PIXEL_SCALE, 12, [float(sx), float(-sy), 0.0])
        add(_TAG_TIEPOINT, 12, [0.0, 0.0, 0.0, float(ulx), float(uly), 0.0])
        # key directory: model type, pixel-is-area, citation, and — when
        # the crs string is a literal EPSG code — the real CRS key a
        # GeoTIFF reader resolves (2048 geographic / 3072 projected)
        codes, ok = parse_epsg([crs])
        epsg = int(codes[0]) if ok[0] else None
        geographic = epsg is not None and 4000 <= epsg <= 4999
        keys = [
            (1024, 0, 1, 2 if geographic else 1),
            (1025, 0, 1, 1),
        ]
        if epsg is not None:
            keys.append((2048 if geographic else 3072, 0, 1, epsg))
        keys.append((1026, _TAG_GEO_ASCII, len(crs) + 1, 0))
        add(
            _TAG_GEO_KEYS,
            3,
            [1, 1, 0, len(keys)] + [v for k in keys for v in k],
        )
        add(_TAG_GEO_ASCII, 2, crs)
    entries.sort(key=lambda e: e[0])
    return entries


def _assemble(
    levels: list[dict], geos: list[tuple | None], big: bool = False
) -> bytes:
    """Chain one IFD per level: header | all segment data (word-aligned)
    | per-level (external values + IFD), next-IFD pointers linked.
    ``big`` writes the BigTIFF layout (magic 43, 8-byte offsets/counts,
    20-byte entries) — required once any placement exceeds 4 GiB."""
    icap = 8 if big else 4  # inline-value capacity per entry
    cb = 8 if big else 2  # IFD entry-count field width
    esz = 20 if big else 12
    pos = 16 if big else 8
    all_seg_offs: list[list[int]] = []
    for lv in levels:
        offs = []
        for s in lv["segs"]:
            offs.append(pos)
            pos += len(s) + (len(s) & 1)
        all_seg_offs.append(offs)

    # two passes over the entry lists: sizes first (IFD offsets depend on
    # every earlier level's extern+IFD size), then packing with offsets
    per_level_entries = [
        _level_entries(lv, offs, geo, i > 0, big)
        for i, (lv, offs, geo) in enumerate(zip(levels, all_seg_offs, geos))
    ]
    ifd_offs: list[int] = []
    blocks: list[bytes] = []
    for entries in per_level_entries:
        extern: list[bytes] = []
        ext_pos = pos
        for _tag, _typ, _cnt, raw in entries:
            if len(raw) > icap:
                extern.append(raw + (b"\x00" if len(raw) & 1 else b""))
                ext_pos += len(extern[-1])
        ifd_offs.append(ext_pos)
        pos = ext_pos + cb + esz * len(entries) + icap
        blocks.append(b"".join(extern))

    if big:
        out = bytearray(
            b"II+\x00" + struct.pack("<HHQ", 8, 0, ifd_offs[0])
        )
    else:
        out = bytearray(b"II*\x00" + struct.pack("<I", ifd_offs[0]))
    for lv in levels:
        for s in lv["segs"]:
            out += s
            if len(s) & 1:
                out += b"\x00"
    ofmt = "<Q" if big else "<I"
    hdrfmt = "<HHQ" if big else "<HHI"
    for i, entries in enumerate(per_level_entries):
        ext_pos = ifd_offs[i] - len(blocks[i])
        packed = []
        for tag, typ, cnt, raw in entries:
            if len(raw) <= icap:
                val = raw + b"\x00" * (icap - len(raw))
            else:
                val = struct.pack(ofmt, ext_pos)
                ext_pos += len(raw) + (len(raw) & 1)
            packed.append(struct.pack(hdrfmt, tag, typ, cnt) + val)
        out += blocks[i]
        out += struct.pack(ofmt if big else "<H", len(packed))
        out += b"".join(packed)
        nxt = ifd_offs[i + 1] if i + 1 < len(ifd_offs) else 0
        out += struct.pack(ofmt, nxt)
    return bytes(out)


def encode_tiff(
    arr: np.ndarray,
    compression: str = "deflate",
    geo: tuple | None = None,
    rows_per_strip: int | None = None,
    predictor: bool = True,
    level: int = 1,
    tiling: tuple[int, int] | None = None,
    bigtiff: bool = False,
    jpeg_quality: int = 95,
    planar: bool = False,
) -> bytes:
    """uint8 (h, w[, c]) or uint16/float32/float64 (h, w) ->
    little-endian TIFF.

    ``planar=True`` writes PlanarConfiguration=2 (each component's
    segments stored contiguously) — the layout some multi-band GDAL
    exports use (``INTERLEAVE=BAND``); chunky (1) is the default.

    ``geo=(ulx, uly, sx, sy, crs)`` (sy negative, north-up) adds the
    GeoTIFF tags the reference's ``write_tif`` emits via GDAL
    (/root/reference/src/io.py:66-90).

    ``tiling=(tw, th)`` (multiples of 16) writes tile organisation
    instead of strips — the layout cloud-optimized GeoTIFF corpora use
    so a reader can range-request one tile without streaming whole
    scanline strips.
    """
    lv = _plan_level(
        arr, compression, rows_per_strip, predictor, level, tiling,
        jpeg_quality, planar,
    )
    return _assemble([lv], [geo], bigtiff)


def encode_tiff_overviews(
    arr: np.ndarray,
    n_overviews: int = 3,
    compression: str = "deflate",
    geo: tuple | None = None,
    predictor: bool = True,
    level: int = 1,
    tiling: tuple[int, int] | None = (256, 256),
    bigtiff: bool = False,
    jpeg_quality: int = 95,
) -> bytes:
    """Multi-resolution GeoTIFF: full-res IFD 0 plus ``n_overviews``
    2x-downsampled overview IFDs (NewSubfileType=1), tiled by default —
    the overview structure GDAL's ``BuildOverviews`` attaches to the
    reference's rasters so coarse zooms never read full-res pixels.
    Overviews are nearest-neighbour (mask semantics: a 0/255 label plane
    must stay binary, O7's pyramid convention, operators/pyramid.py).
    Each overview's geotransform doubles the pixel size in the tags, so
    ``geotiff_geodata`` on any IFD reconstructs the same footprint.
    """
    if n_overviews < 1:
        raise ValueError("tiff: n_overviews must be >= 1")
    levels, geos = [], []
    cur = arr
    for i in range(n_overviews + 1):
        use_tiling = tiling
        if use_tiling is not None and (
            cur.shape[0] < use_tiling[1] or cur.shape[1] < use_tiling[0]
        ):
            use_tiling = None  # tinier-than-one-tile levels go stripped
        levels.append(
            _plan_level(
                cur, compression, None, predictor, level, use_tiling, jpeg_quality
            )
        )
        if geo is not None:
            ulx, uly, sx, sy, crs = geo
            geos.append((ulx, uly, sx * (1 << i), sy * (1 << i), crs))
        else:
            geos.append(None)
        if i < n_overviews:
            if min(cur.shape[0], cur.shape[1]) < 2:
                raise ValueError(
                    f"tiff: raster too small for {n_overviews} overviews"
                )
            cur = cur[:: 2, :: 2]  # nearest-neighbour 2x
    return _assemble(levels, geos, bigtiff)


def ifd_count(data: bytes) -> int:
    """Number of IFDs in the chain (1 for a plain file, 1 + overviews
    for a multi-resolution one)."""
    n = 0
    while True:
        try:
            _read_ifd(data, index=n)
        except ValueError:
            return n
        n += 1
        if n > 64:
            return n
