"""Pure-numpy WebP-lossless (VP8L) codec.

Closes the largest remaining decode gap (reference decodes arbitrary
rasters via GDAL, /root/reference/src/io.py:41-63; real web corpora are
full of WebP): a from-scratch implementation of the public "WebP Lossless
Bitstream Specification" — RIFF/VP8L container, LSB-first bit reader,
canonical prefix codes (simple + normal with the 16/17/18 repeat ops and
the max-symbol shortcut), optional meta prefix codes, color cache, LZ77
backward references with the 120-entry 2D distance map, and all four
transforms (predictor 0-13, cross-color, subtract-green, color-indexing
incl. sub-byte pixel bundling) applied in reverse bitstream order.

The encoder is fixture-grade but emits a fully spec-valid stream: no
transforms, no cache, literal-only, fixed 8-bit codes for used channels
and 1-symbol simple codes for constant ones.  Like the GIF/JPEG
codecs, constant tables here (distance map, code-length order) are
mandated by the public spec, not copied code.

Sequential entropy decode is inherent to the format (same posture as
codec_jpeg.py): per-row cost is bounded by tile-sized payloads and the
fleet parallelism comes from Spark partitioning, not from inside the
codec.
"""

from __future__ import annotations

import struct

import numpy as np

from ._hardening import malformed_guard

# code-length symbols are transmitted in this fixed order (spec 5.2.2)
CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# spec 4.2.2: distance codes 1..120 name 2D offsets in an 8-row window above
# the current pixel.  The spec's 8x16 plane-to-code table (row = dy 0..7,
# col = 8 - dx for dx in -7..8; 255 = unused: dy=0 with dx<=0) is the
# compact normative form; DISTANCE_MAP inverts it to (dx, dy) per code.
_PLANE_TO_CODE = [
    96,  73,  55,  39,  23,  13,   5,   1, 255, 255, 255, 255, 255, 255, 255, 255,
    101, 78,  58,  42,  26,  16,   8,   2,   0,   3,   9,  17,  27,  43,  59,  79,
    102, 86,  62,  46,  32,  20,  10,   6,   4,   7,  11,  21,  33,  47,  63,  87,
    105, 90,  70,  52,  37,  28,  18,  14,  12,  15,  19,  29,  38,  53,  71,  91,
    110, 99,  82,  66,  48,  35,  30,  24,  22,  25,  31,  36,  49,  67,  83, 100,
    115, 108, 94,  76,  64,  50,  44,  40,  34,  41,  45,  51,  65,  77,  95, 109,
    118, 113, 103, 92,  80,  68,  60,  56,  54,  57,  61,  69,  81,  93, 104, 114,
    119, 116, 111, 106, 97,  88,  84,  74,  72,  75,  85,  89,  98, 107, 112, 117,
]
DISTANCE_MAP: list[tuple[int, int]] = [(0, 0)] * 120
for _i, _code in enumerate(_PLANE_TO_CODE):
    if _code != 255:
        DISTANCE_MAP[_code] = (8 - (_i % 16), _i // 16)
assert all(d != (0, 0) for d in DISTANCE_MAP)


# --------------------------------------------------------------------------- #
# bit IO (LSB-first, per spec)
# --------------------------------------------------------------------------- #

class _BitReader:
    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        acc, nbits, pos, data = self.acc, self.nbits, self.pos, self.data
        if nbits + 8 * (len(data) - pos) < n:
            # zero-padding instead would let a few bytes that declare
            # 16383x16383 decode a 1 GiB plane out of nothing
            raise ValueError("VP8L bitstream over-read")
        while nbits < n:
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        v = acc & ((1 << n) - 1)
        self.acc = acc >> n
        self.nbits = nbits - n
        self.pos = pos
        return v


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def bytes(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def _bit_reverse(v: int, n: int) -> int:
    r = 0
    for _ in range(n):
        r = (r << 1) | (v & 1)
        v >>= 1
    return r


# --------------------------------------------------------------------------- #
# canonical prefix codes
# --------------------------------------------------------------------------- #

class _Huff:
    """Single-level decode table over bit-reversed canonical codes (codes
    are read MSB-of-canonical-first from the LSB-first stream, exactly the
    DEFLATE convention)."""

    __slots__ = ("table", "max_len", "mask", "single", "lengths")

    def __init__(self, lengths: list[int]) -> None:
        self.lengths = lengths
        max_len = max(lengths) if lengths else 0
        if max_len == 0:
            # degenerate 0/1-symbol code: decodes without consuming bits
            sym = 0
            for i, ln in enumerate(lengths):
                if ln:
                    sym = i
            self.single = sym
            self.table = None
            self.max_len = 0
            self.mask = 0
            return
        used = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if len(used) == 1:
            self.single = used[0][1]
            self.table = None
            self.max_len = 0
            self.mask = 0
            return
        self.single = -1
        self.max_len = max_len
        self.mask = (1 << max_len) - 1
        # canonical code assignment (sorted by length, then symbol)
        counts = [0] * (max_len + 1)
        for ln, _ in used:
            counts[ln] += 1
        next_code = [0] * (max_len + 2)
        code = 0
        for ln in range(1, max_len + 1):
            code = (code + counts[ln - 1]) << 1
            next_code[ln] = code
        table = [(-1, 0)] * (1 << max_len)
        for ln, sym in sorted(used):
            c = next_code[ln]
            next_code[ln] += 1
            rev = _bit_reverse(c, ln)
            step = 1 << ln
            for i in range(rev, 1 << max_len, step):
                table[i] = (sym, ln)
        self.table = table

    def decode(self, br: _BitReader) -> int:
        if self.table is None:
            return self.single
        # peek max_len bits without committing, then consume the code length
        acc, nbits, pos, data = br.acc, br.nbits, br.pos, br.data
        while nbits < self.max_len:
            acc |= (data[pos] if pos < len(data) else 0) << nbits
            pos += 1
            nbits += 8
        sym, ln = self.table[acc & self.mask]
        if sym < 0:
            raise ValueError("invalid prefix code in VP8L stream")
        # the peek may run past the end; the code itself may not
        if pos > len(data) and nbits - ln < 8 * (pos - len(data)):
            raise ValueError("VP8L bitstream over-read")
        br.acc = acc >> ln
        br.nbits = nbits - ln
        br.pos = pos
        return sym


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _Huff:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        if br.read(1):  # first symbol is 8 bits
            s0 = br.read(8)
        else:
            s0 = br.read(1)
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            lengths[s0] = 1  # flagged as single-symbol (0 bits) by _Huff
            return _Huff(lengths)
        s1 = br.read(8)
        # spec: the first-read symbol is coded '0' (read order, NOT the
        # canonical by-symbol order _Huff would assign)
        lengths[s0] = 1
        lengths[s1] = 1
        h = _Huff.__new__(_Huff)
        h.lengths = lengths
        h.single = -1
        h.max_len = 1
        h.mask = 1
        h.table = [(s0, 1), (s1, 1)]
        return h
    # normal code: code-length code first
    num_code_lengths = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_code_lengths):
        cl_lengths[CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_huff = _Huff(cl_lengths)
    if br.read(1):  # use max-symbol shortcut
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = cl_huff.decode(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        elif code_len == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if symbol >= alphabet_size:
                    break
                lengths[symbol] = prev_len
                symbol += 1
        elif code_len == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
    return _Huff(lengths)


# --------------------------------------------------------------------------- #
# entropy-coded image (spec 5)
# --------------------------------------------------------------------------- #

def _prefix_value(code: int, br: _BitReader) -> int:
    """LZ77 length/distance prefix decoding (spec 4.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _read_entropy_image(
    br: _BitReader, w: int, h: int, is_level0: bool
) -> np.ndarray:
    """Decode a w*h ARGB image (uint32 flat array) — transforms NOT applied
    here; subresolution images (is_level0=False) have no meta prefix codes."""
    # order per spec decode flow: color-cache info, then (level-0 only)
    # the meta prefix bit + huffman image, then the prefix-code groups
    cache_bits = br.read(4) if br.read(1) else 0
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    huff_img = None
    huff_bits = 0
    n_meta = 1
    if is_level0 and br.read(1):  # meta prefix codes present
        huff_bits = br.read(3) + 2
        hw = (w + (1 << huff_bits) - 1) >> huff_bits
        hh = (h + (1 << huff_bits) - 1) >> huff_bits
        himg = _read_entropy_image(br, hw, hh, False)
        # meta code index = (red << 8) | green
        huff_img = (((himg >> 16) & 0xFF) << 8) | ((himg >> 8) & 0xFF)
        n_meta = int(huff_img.max()) + 1
        huff_img = huff_img.reshape(hh, hw)

    groups = []
    for _ in range(n_meta):
        g = _read_prefix_code(br, 256 + 24 + cache_size)
        r = _read_prefix_code(br, 256)
        b = _read_prefix_code(br, 256)
        a = _read_prefix_code(br, 256)
        d = _read_prefix_code(br, 40)
        groups.append((g, r, b, a, d))

    if n_meta == 1 and cache_size == 0:
        fast = _literal_fast_path(br, w * h, groups[0])
        if fast is not None:
            return fast

    out = np.zeros(w * h, dtype=np.uint32)
    n = w * h
    i = 0
    gH = rH = bH = aH = dH = None
    cur_meta = -1
    while i < n:
        if huff_img is not None:
            meta = int(huff_img[(i // w) >> huff_bits, (i % w) >> huff_bits])
            if meta != cur_meta:
                gH, rH, bH, aH, dH = groups[meta]
                cur_meta = meta
        elif gH is None:
            gH, rH, bH, aH, dH = groups[0]
        s = gH.decode(br)
        if s < 256:
            red = rH.decode(br)
            blue = bH.decode(br)
            alpha = aH.decode(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[i] = px
            if cache_size:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            i += 1
        elif s < 256 + 24:
            length = _prefix_value(s - 256, br)
            dist_code = _prefix_value(dH.decode(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = DISTANCE_MAP[dist_code - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > i:
                raise ValueError("VP8L backward reference before image start")
            for _ in range(length):
                if i >= n:
                    break
                px = int(out[i - dist])
                out[i] = px
                if cache_size:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
                i += 1
        else:  # color-cache hit
            if s - 256 - 24 >= cache_size:
                raise ValueError("VP8L cache index out of range")
            out[i] = cache[s - 256 - 24]
            i += 1
    return out


def _literal_fast_path(br: _BitReader, n: int, group) -> np.ndarray | None:
    """Vectorized decode when the prefix codes PROVE the stream is
    literal-only with byte-sized codes: the green tree assigns 8 bits to
    every literal and 0 to all length symbols (so no LZ77 is expressible),
    and each of r/b/a is either a uniform 8-bit code or a 0-bit constant.
    Then the payload is exactly the interleaved bit-reversed channel bytes
    at one constant bit offset — a numpy shift-merge instead of a per-pixel
    loop.  Applies to any conforming encoder emitting such codes, not just
    ours; returns None when the shape doesn't hold."""
    gH, rH, bH, aH, dH = group
    gl = gH.lengths
    if len(gl) < 280 or any(v != 8 for v in gl[:256]) or any(gl[256:]):
        return None

    def kind(hf: _Huff) -> int | None:
        if hf.table is None:
            return -1  # constant: 0 bits, value hf.single
        return 8 if all(v == 8 for v in hf.lengths) else None

    kinds = [kind(x) for x in (rH, bH, aH)]
    if any(k is None for k in kinds):
        return None
    bytes_pp = 1 + sum(1 for k in kinds if k == 8)
    total = n * bytes_pp
    data = br.data
    if br.nbits + 8 * (len(data) - br.pos) < 8 * total:
        raise ValueError("truncated VP8L literal stream")
    # after table decodes the reader may hold >= 8 pending bits; whole
    # pending bytes ARE the next raw bytes (LSB-first), drain them first so
    # the vectorized shift-merge below runs with a sub-byte offset
    pre = []
    while br.nbits >= 8 and len(pre) < total:
        pre.append(br.acc & 0xFF)
        br.acc >>= 8
        br.nbits -= 8
    rest = total - len(pre)
    k = br.nbits
    if rest == 0:
        raw = np.array(pre, dtype=np.uint8)
    elif k == 0:
        raw = np.frombuffer(data, np.uint8, rest, br.pos).copy()
    else:
        chunk = np.frombuffer(data, np.uint8, rest, br.pos)
        lo = np.empty(rest, dtype=np.uint8)
        lo[0] = br.acc
        lo[1:] = chunk[: rest - 1] >> np.uint8(8 - k)
        raw = lo | ((chunk << np.uint8(k)) & np.uint8(0xFF))
    if pre and rest:
        raw = np.concatenate([np.array(pre, dtype=np.uint8), raw])
    if rest:
        # advance the reader past the 8*rest consumed bits
        consumed = br.pos * 8 - br.nbits + rest * 8
        br.pos = (consumed + 7) // 8
        br.nbits = br.pos * 8 - consumed
        br.acc = (data[br.pos - 1] >> (8 - br.nbits)) if br.nbits else 0

    syms = _REV8[raw].reshape(n, bytes_pp).astype(np.uint32)
    cols = iter(range(1, bytes_pp))
    g = syms[:, 0]
    chan = []
    for kk, hf in zip(kinds, (rH, bH, aH)):
        if kk == 8:
            chan.append(syms[:, next(cols)])
        else:
            chan.append(np.full(n, hf.single, dtype=np.uint32))
    red, blue, alpha = chan
    return (alpha << np.uint32(24)) | (red << np.uint32(16)) | (g << np.uint32(8)) | blue


# --------------------------------------------------------------------------- #
# inverse transforms (spec 3)
# --------------------------------------------------------------------------- #

def _apply_predictor_inverse(
    argb: np.ndarray, w: int, h: int, size_bits: int, pred_img: np.ndarray
) -> None:
    """In-place inverse predictor transform.  Scanline-sequential by nature
    (each pixel depends on already-reconstructed neighbours).  Right-edge
    top-right aliases the current row's first pixel, matching the flat-array
    semantics the spec's reference decoder exhibits."""
    bw = (w + (1 << size_bits) - 1) >> size_bits
    a8 = argb  # flat uint32

    def chans(px: int) -> tuple[int, int, int, int]:
        return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF

    def avg2(p1: int, p2: int) -> int:
        return (
            ((((p1 >> 24) & 0xFF) + ((p2 >> 24) & 0xFF)) >> 1) << 24
            | ((((p1 >> 16) & 0xFF) + ((p2 >> 16) & 0xFF)) >> 1) << 16
            | ((((p1 >> 8) & 0xFF) + ((p2 >> 8) & 0xFF)) >> 1) << 8
            | (((p1 & 0xFF) + (p2 & 0xFF)) >> 1)
        )

    def clamp(v: int) -> int:
        return 0 if v < 0 else (255 if v > 255 else v)

    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(a8[i - 1])  # left
            elif x == 0:
                pred = int(a8[i - w])  # top
            else:
                mode = int(pred_img[(y >> size_bits) * bw + (x >> size_bits)])
                L = int(a8[i - 1])
                T = int(a8[i - w])
                TL = int(a8[i - w - 1])
                TR = int(a8[i - w + 1])  # x == w-1 aliases row y's first px
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = avg2(avg2(L, TR), T)
                elif mode == 6:
                    pred = avg2(L, TL)
                elif mode == 7:
                    pred = avg2(L, T)
                elif mode == 8:
                    pred = avg2(TL, T)
                elif mode == 9:
                    pred = avg2(T, TR)
                elif mode == 10:
                    pred = avg2(avg2(L, TL), avg2(T, TR))
                elif mode == 11:
                    la, lr, lg, lb = chans(L)
                    ta, tr_, tg, tb = chans(T)
                    ca, cr, cg, cb = chans(TL)
                    pa, pr, pg, pb = la + ta - ca, lr + tr_ - cr, lg + tg - cg, lb + tb - cb
                    p_l = abs(pa - la) + abs(pr - lr) + abs(pg - lg) + abs(pb - lb)
                    p_t = abs(pa - ta) + abs(pr - tr_) + abs(pg - tg) + abs(pb - tb)
                    pred = L if p_l <= p_t else T
                elif mode == 12:
                    la, lr, lg, lb = chans(L)
                    ta, tr_, tg, tb = chans(T)
                    ca, cr, cg, cb = chans(TL)
                    pred = (
                        clamp(la + ta - ca) << 24
                        | clamp(lr + tr_ - cr) << 16
                        | clamp(lg + tg - cg) << 8
                        | clamp(lb + tb - cb)
                    )
                else:  # 13: ClampAddSubtractHalf(Average2(L, T), TL)
                    aa, ar, ag, ab = chans(avg2(L, T))
                    ca, cr, cg, cb = chans(TL)

                    def half(a: int, b: int) -> int:
                        d = a - b  # C-style trunc-toward-zero /2
                        return clamp(a + (d // 2 if d >= 0 else -((-d) // 2)))

                    pred = (
                        half(aa, ca) << 24
                        | half(ar, cr) << 16
                        | half(ag, cg) << 8
                        | half(ab, cb)
                    )
            px = int(a8[i])
            a8[i] = (
                (((px >> 24) + (pred >> 24)) & 0xFF) << 24
                | ((((px >> 16) & 0xFF) + ((pred >> 16) & 0xFF)) & 0xFF) << 16
                | ((((px >> 8) & 0xFF) + ((pred >> 8) & 0xFF)) & 0xFF) << 8
                | (((px & 0xFF) + (pred & 0xFF)) & 0xFF)
            )


def _apply_color_inverse(
    argb: np.ndarray, w: int, h: int, size_bits: int, cti: np.ndarray
) -> None:
    """In-place inverse cross-color transform — vectorized per block row.
    delta(t, c) = (int8(t) * int8(c)) >> 5 with both operands signed."""
    bw = (w + (1 << size_bits) - 1) >> size_bits
    img = argb.reshape(h, w)
    g2r = ((cti & 0xFF).astype(np.uint8)).astype(np.int8).astype(np.int32)
    g2b = (((cti >> 8) & 0xFF).astype(np.uint8)).astype(np.int8).astype(np.int32)
    r2b = (((cti >> 16) & 0xFF).astype(np.uint8)).astype(np.int8).astype(np.int32)
    ys = np.arange(h) >> size_bits
    xs = np.arange(w) >> size_bits
    bidx = ys[:, None] * bw + xs[None, :]
    tg2r, tg2b, tr2b = g2r[bidx], g2b[bidx], r2b[bidx]
    green = ((img >> 8) & 0xFF).astype(np.uint8).astype(np.int8).astype(np.int32)
    red = ((img >> 16) & 0xFF).astype(np.int32)
    red = (red + ((tg2r * green) >> 5)) & 0xFF
    red_s = red.astype(np.uint8).astype(np.int8).astype(np.int32)
    blue = (img & 0xFF).astype(np.int32)
    blue = (blue + ((tg2b * green) >> 5) + ((tr2b * red_s) >> 5)) & 0xFF
    img[:] = (
        (img & np.uint32(0xFF00FF00))
        | (red.astype(np.uint32) << np.uint32(16))
        | blue.astype(np.uint32)
    )


def _apply_subtract_green_inverse(argb: np.ndarray) -> None:
    g = (argb >> np.uint32(8)) & np.uint32(0xFF)
    r = (((argb >> np.uint32(16)) & np.uint32(0xFF)) + g) & np.uint32(0xFF)
    b = ((argb & np.uint32(0xFF)) + g) & np.uint32(0xFF)
    argb[:] = (argb & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b


def _apply_color_indexing_inverse(
    packed: np.ndarray, w: int, h: int, palette: np.ndarray, width_bits: int
) -> np.ndarray:
    """Unbundle sub-byte indices from the green channel and map through the
    palette; out-of-range indices resolve to transparent black (encoder
    contract).  Vectorized."""
    if width_bits == 0:
        idx = ((packed >> np.uint32(8)) & np.uint32(0xFF)).astype(np.int64)
    else:
        pw = (w + (1 << width_bits) - 1) >> width_bits
        green = ((packed.reshape(h, pw) >> np.uint32(8)) & np.uint32(0xFF)).astype(
            np.int64
        )
        bits_pp = 8 >> width_bits
        xs = np.arange(w)
        shifts = (xs & ((1 << width_bits) - 1)) * bits_pp
        idx = (green[:, xs >> width_bits] >> shifts[None, :]) & ((1 << bits_pp) - 1)
        idx = idx.reshape(-1)
    pal = np.zeros(256, dtype=np.uint32)
    pal[: len(palette)] = palette
    idx = np.where(idx < len(palette), idx, 0)
    return pal[idx]


# --------------------------------------------------------------------------- #
# top-level decode
# --------------------------------------------------------------------------- #

@malformed_guard("vp8l")
def decode_vp8l(payload: bytes) -> np.ndarray:
    """Decode a VP8L chunk payload -> (h, w, 3|4) uint8 (4 iff the header's
    alpha-hint bit is set)."""
    if not payload or payload[0] != 0x2F:
        raise ValueError("not a VP8L stream (bad signature byte)")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    has_alpha = br.read(1)
    version = br.read(3)
    if version != 0:
        raise ValueError(f"unsupported VP8L version {version}")

    transforms: list[tuple[int, object]] = []
    xsize = w
    seen = set()
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(ttype)
        if ttype == 0:  # predictor
            size_bits = br.read(3) + 2
            bw = (xsize + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            data = _read_entropy_image(br, bw, bh, False)
            pred = (data >> np.uint32(8)) & np.uint32(0xFF)
            transforms.append((0, (size_bits, pred)))
        elif ttype == 1:  # cross-color
            size_bits = br.read(3) + 2
            bw = (xsize + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            data = _read_entropy_image(br, bw, bh, False)
            transforms.append((1, (size_bits, data)))
        elif ttype == 2:  # subtract green
            transforms.append((2, None))
        else:  # color indexing
            n_colors = br.read(8) + 1
            pal_deltas = _read_entropy_image(br, n_colors, 1, False)
            # palette entries are component-wise delta-coded
            pal = np.zeros(n_colors, dtype=np.uint32)
            prev = 0
            for i in range(n_colors):
                d = int(pal_deltas[i])
                px = (
                    ((((prev >> 24) + (d >> 24)) & 0xFF) << 24)
                    | (((((prev >> 16) & 0xFF) + ((d >> 16) & 0xFF)) & 0xFF) << 16)
                    | (((((prev >> 8) & 0xFF) + ((d >> 8) & 0xFF)) & 0xFF) << 8)
                    | (((prev & 0xFF) + (d & 0xFF)) & 0xFF)
                )
                pal[i] = px
                prev = px
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append((3, (pal, width_bits, xsize)))
            if width_bits:
                xsize = (xsize + (1 << width_bits) - 1) >> width_bits

    argb = _read_entropy_image(br, xsize, h, True)

    for ttype, tdata in reversed(transforms):
        if ttype == 3:
            pal, width_bits, orig_w = tdata
            argb = _apply_color_indexing_inverse(argb, orig_w, h, pal, width_bits)
            xsize = orig_w
        elif ttype == 2:
            _apply_subtract_green_inverse(argb)
        elif ttype == 1:
            size_bits, cti = tdata
            _apply_color_inverse(argb, xsize, h, size_bits, cti)
        else:
            size_bits, pred = tdata
            _apply_predictor_inverse(argb, xsize, h, size_bits, pred)

    a = ((argb >> np.uint32(24)) & np.uint32(0xFF)).astype(np.uint8).reshape(h, w)
    r = ((argb >> np.uint32(16)) & np.uint32(0xFF)).astype(np.uint8).reshape(h, w)
    g = ((argb >> np.uint32(8)) & np.uint32(0xFF)).astype(np.uint8).reshape(h, w)
    b = (argb & np.uint32(0xFF)).astype(np.uint8).reshape(h, w)
    if has_alpha:
        return np.stack([r, g, b, a], axis=-1)
    return np.stack([r, g, b], axis=-1)


@malformed_guard("webp")
def decode_webp(data: bytes) -> np.ndarray:
    """Decode a WebP file (lossless/VP8L only — VP8 lossy is DCT-codec
    territory, documented out of scope)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP file")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 WebP requires a DCT video codec; only lossless "
                "(VP8L) is supported"
            )
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    raise ValueError("no VP8L chunk in WebP container")


# --------------------------------------------------------------------------- #
# encoder (fixture-grade, spec-valid): literal-only, no transforms
# --------------------------------------------------------------------------- #

def _write_fixed8_code(bwr: _BitWriter, alphabet_size: int) -> None:
    """Emit a normal prefix code assigning length 8 to symbols 0..255 and 0
    to the rest — a complete canonical code (Kraft sum exactly 1)."""
    bwr.write(0, 1)  # not simple
    bwr.write(8, 4)  # num_code_lengths = 12 (covers symbols 16 and 8)
    # order [17,18,0,1,2,3,4,5,16,6,7,8] -> lengths {16: 1, 8: 1}
    for sym_len in (0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 1):
        bwr.write(sym_len, 3)
    # ops: one literal "8", then 42 x repeat-6 + 1 x repeat-3 = 255 more
    n_ops = 1 + 42 + 1
    if alphabet_size > 256:
        # stop after 256 lengths via the max-symbol shortcut (remaining
        # lengths stay 0); max_symbol counts decode OPS, stop at n_ops
        bwr.write(1, 1)
        bwr.write(3, 3)  # length_nbits = 8
        bwr.write(n_ops - 2, 8)
    else:
        bwr.write(0, 1)
    # code-length tree: symbol 8 -> code 0, symbol 16 -> code 1 (1 bit each)
    bwr.write(0, 1)  # "8"
    for _ in range(42):
        bwr.write(1, 1)  # "16"
        bwr.write(3, 2)  # repeat 6
    bwr.write(1, 1)
    bwr.write(0, 2)  # repeat 3


def _write_single_symbol_code(bwr: _BitWriter, symbol: int) -> None:
    bwr.write(1, 1)  # simple
    bwr.write(0, 1)  # one symbol
    if symbol <= 1:
        bwr.write(0, 1)
        bwr.write(symbol, 1)
    else:
        bwr.write(1, 1)
        bwr.write(symbol, 8)


_REV8 = np.array([_bit_reverse(i, 8) for i in range(256)], dtype=np.uint8)


def encode_vp8l(arr: np.ndarray) -> bytes:
    """(h, w[, 3|4]) uint8 -> VP8L chunk payload.  Literal-only stream:
    constant channels ship as 0-bit single-symbol codes, varying channels as
    fixed 8-bit codes (pixel bytes appear bit-reversed in the stream)."""
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    h, w, c = arr.shape
    if w > 1 << 14 or h > 1 << 14:
        raise ValueError("VP8L dims exceed 14 bits")
    r = arr[:, :, 0]
    g = arr[:, :, 1]
    b = arr[:, :, 2]
    a = arr[:, :, 3] if c == 4 else np.full((h, w), 255, dtype=np.uint8)
    has_alpha = bool((a != 255).any())

    bwr = _BitWriter()
    bwr.write(w - 1, 14)
    bwr.write(h - 1, 14)
    bwr.write(1 if has_alpha else 0, 1)
    bwr.write(0, 3)  # version
    bwr.write(0, 1)  # no transforms
    bwr.write(0, 1)  # no color cache
    bwr.write(0, 1)  # no meta prefix codes

    const = {}
    for name, ch in (("g", g), ("r", r), ("b", b), ("a", a)):
        mn, mx = int(ch.min()), int(ch.max())
        const[name] = mn if mn == mx else None
    # green tree first (alphabet 256+24), then r, b, a, distance
    if const["g"] is not None:
        _write_single_symbol_code(bwr, const["g"])
    else:
        _write_fixed8_code(bwr, 256 + 24)
    for name in ("r", "b", "a"):
        if const[name] is not None:
            _write_single_symbol_code(bwr, const[name])
        else:
            _write_fixed8_code(bwr, 256)
    _write_single_symbol_code(bwr, 0)  # distance tree (never consulted)

    # literal stream, G R B A per pixel; constant channels consume 0 bits.
    # Fixed-8 canonical code for byte v is v itself, written bit-reversed.
    planes = [
        _REV8[p.reshape(-1)]
        for nm, p in (("g", g), ("r", r), ("b", b), ("a", a))
        if const[nm] is None
    ]
    if planes:
        inter = np.stack(planes, axis=-1).reshape(-1)
        if bwr.nbits == 0:
            bwr.out.extend(inter.tobytes())
        else:
            # vectorized constant-shift merge: every payload byte lands at
            # the same bit offset k, so emitted[i] = (b[i] << k) & 0xFF
            # OR'd with b[i-1] >> (8-k) (and the writer's pending bits
            # into byte 0); the tail carry becomes the new pending bits
            k = bwr.nbits
            shifted = inter.astype(np.uint16) << np.uint16(k)
            merged = (shifted & np.uint16(0xFF)).astype(np.uint8)
            carry = (shifted >> np.uint16(8)).astype(np.uint8)
            merged[1:] |= carry[:-1]
            merged[0] |= np.uint8(bwr.acc)
            bwr.out.extend(merged.tobytes())
            bwr.acc = int(carry[-1])
    return b"\x2f" + bwr.bytes()


def encode_webp(arr: np.ndarray) -> bytes:
    payload = encode_vp8l(arr)
    if len(payload) & 1:
        chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload + b"\x00"
    else:
        chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    riff_size = 4 + len(chunk)
    return b"RIFF" + struct.pack("<I", riff_size) + b"WEBP" + chunk
