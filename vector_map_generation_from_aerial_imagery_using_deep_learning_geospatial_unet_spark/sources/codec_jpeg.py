"""Pure-numpy baseline JPEG (JFIF) codec — no codec libraries.

The reference decodes arbitrary rasters through GDAL
(/root/reference/src/io.py:41-63); this container has no GDAL/PIL/cv2, so
web-data jpeg payloads get a from-scratch ITU T.81 *baseline* implementation:

* encoder — grayscale or RGB uint8, 4:4:4 or 4:2:0, Annex-K quantization
  tables scaled by libjpeg's quality convention, Annex-K Huffman tables,
  interleaved MCUs, byte stuffing.  The per-block DCT/quantize math is
  fully vectorized (one (n_blocks, 8, 8) einsum per component); only the
  entropy bit-packing is a Python loop over coded symbols.
* decoder — any baseline JFIF stream this encoder can emit plus the common
  general cases: multiple DQT/DHT segments, arbitrary sampling factors
  (chroma upsampled nearest), restart markers, grayscale or 3-component
  YCbCr.  Progressive (SOF2), lossless, hierarchical and arithmetic
  coding are rejected with ``NotImplementedError``.

Intended scale of use: tile-sized payloads (the engine's unit of pixel work
is the 200x200 tile, O2/O3) — entropy coding is sequential by nature, so the
per-row cost is bounded by tile size while the fleet-level parallelism comes
from Spark partitioning, exactly like every other pixel kernel here.
"""

from __future__ import annotations

import numpy as np

from ._hardening import malformed_guard

# --------------------------------------------------------------------------- #
# constant tables (ITU T.81 Annex K)
# --------------------------------------------------------------------------- #

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
])
UNZIGZAG = np.argsort(ZIGZAG)

Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Huffman specs: (bits[1..16] counts, symbol values)
DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# orthonormal 8x8 DCT-II matrix
_k = np.arange(8)
_C = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * np.sqrt(0.25)
_C[0, :] *= 1 / np.sqrt(2)


def _build_codes(spec):
    """(counts, symbols) -> dict symbol -> (code, length) (canonical)."""
    counts, symbols = spec
    codes, code, idx = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[idx]] = (code, length)
            code += 1
            idx += 1
        code <<= 1
    return codes


def _build_decode_map(counts, symbols):
    """-> dict (length, code) -> symbol."""
    out, code, idx = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[(length, code)] = symbols[idx]
            code += 1
            idx += 1
        code <<= 1
    return out


def _scale_q(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    return np.stack(
        [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b,
        ],
        axis=-1,
    )


def _ycbcr_to_rgb(y, cb, cr):
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) edge-padded to /8, -> (n, 8, 8) raster-ordered blocks."""
    h, w = plane.shape
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    H, W = plane.shape
    return (
        plane.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _quantized_coeffs(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(H, W) float plane -> (n_blocks, 64) int zigzagged quantized DCT."""
    blocks = _to_blocks(plane) - 128.0
    coef = np.einsum("ij,njk,lk->nil", _C, blocks, _C)
    qc = np.round(coef.reshape(-1, 64) / q.reshape(64).astype(np.float64))
    return qc.astype(np.int32)[:, ZIGZAG]


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + appended bits for value v."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _encode_block(bw, coeffs, pred_dc, dc_codes, ac_codes):
    diff = int(coeffs[0]) - pred_dc
    s, bits = _magnitude(diff)
    code, length = dc_codes[s]
    bw.write(code, length)
    bw.write(bits, s)
    run = 0
    nz = np.nonzero(coeffs[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(coeffs[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        s, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | s]
        bw.write(code, length)
        bw.write(bits, s)
        run = 0
    if last < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return int(coeffs[0])


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _dht_payload(tc, th, spec) -> bytes:
    counts, symbols = spec
    return bytes([tc << 4 | th]) + bytes(counts) + bytes(symbols)


def encode_jpeg(
    arr: np.ndarray, quality: int = 95, subsample: bool = False
) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB -> baseline JFIF bytes.

    ``subsample=True`` uses 4:2:0 (2x2 box-averaged chroma), else 4:4:4.
    """
    if arr.dtype != np.uint8:
        raise ValueError(f"jpeg encoder is uint8-only, got {arr.dtype}")
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    ql = _scale_q(Q_LUMA, quality)
    qc = _scale_q(Q_CHROMA, quality)

    if gray:
        planes = [arr.astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        ycc = _rgb_to_ycbcr(arr)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsample:
            ph, pw = (-h) % 2, (-w) % 2
            if ph or pw:
                cb = np.pad(cb, ((0, ph), (0, pw)), mode="edge")
                cr = np.pad(cr, ((0, ph), (0, pw)), mode="edge")
            cb = cb.reshape(cb.shape[0] // 2, 2, cb.shape[1] // 2, 2).mean((1, 3))
            cr = cr.reshape(cr.shape[0] // 2, 2, cr.shape[1] // 2, 2).mean((1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qsel = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # per-component quantized blocks, padded to the MCU grid
    comp_blocks = []
    for plane, qi, (sh, sv) in zip(planes, qsel, samp):
        bw_, bh_ = mcux * sh * 8, mcuy * sv * 8
        ph, pw = bh_ - plane.shape[0], bw_ - plane.shape[1]
        if ph or pw:
            plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
        q = ql if qi == 0 else qc
        blocks = _quantized_coeffs(plane, q)
        comp_blocks.append((blocks, bw_ // 8, sh, sv))

    dc_l, ac_l = _build_codes(DC_LUMA), _build_codes(AC_LUMA)
    dc_c, ac_c = _build_codes(DC_CHROMA), _build_codes(AC_CHROMA)

    bw = _BitWriter()
    preds = [0] * len(planes)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (blocks, bpr, sh, sv) in enumerate(comp_blocks):
                dcs = dc_l if ci == 0 else dc_c
                acs = ac_l if ci == 0 else ac_c
                for by in range(sv):
                    for bx in range(sh):
                        idx = (my * sv + by) * bpr + (mx * sh + bx)
                        preds[ci] = _encode_block(
                            bw, blocks[idx], preds[ci], dcs, acs
                        )
    bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0x00]) + bytes(ql[ZIGZAG].tolist()))
    if not gray:
        out += _seg(0xDB, bytes([0x01]) + bytes(qc[ZIGZAG].tolist()))
    ncomp = 1 if gray else 3
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci in range(ncomp):
        sh, sv = samp[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, qsel[ci]])
    out += _seg(0xC0, sof)
    out += _seg(0xC4, _dht_payload(0, 0, DC_LUMA))
    out += _seg(0xC4, _dht_payload(1, 0, AC_LUMA))
    if not gray:
        out += _seg(0xC4, _dht_payload(0, 1, DC_CHROMA))
        out += _seg(0xC4, _dht_payload(1, 1, AC_CHROMA))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------- #
# decoder
# --------------------------------------------------------------------------- #

class _BitReader:
    """MSB-first reader over entropy data with 0xFF00 unstuffing; RSTn
    markers are surfaced via ``sync_restart``."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24 and self.pos < len(self.data):
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    break  # restart marker: stop at boundary
                else:
                    break  # EOI or next segment
                self.acc = (self.acc << 8) | b
                self.nbits += 8
                continue
            self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
            if self.nbits == 0:
                return 0  # past-the-end padding (truncated stream tolerance)
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Discard padding bits and consume one RSTn marker."""
        self.acc = 0
        self.nbits = 0
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_symbol(br: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code in jpeg stream")


@malformed_guard("jpeg")
def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes -> uint8 (h, w) or (h, w, 3)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a jpeg (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    scan_data = None
    scan_sel: list[tuple[int, int, int]] = []

    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
        body = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                tbl = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8)
                qtables[tq] = tbl.astype(np.int32)[UNZIGZAG]
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                counts = list(body[i + 1 : i + 17])
                n = sum(counts)
                symbols = list(body[i + 17 : i + 17 + n])
                if tc == 0 and any(s > 11 for s in symbols):
                    # T.81: 8-bit baseline DC differences have categories
                    # 0-11; a larger one would build an unbounded predictor
                    raise ValueError("jpeg DC huffman symbol above 11")
                htables[(tc, th)] = _build_decode_map(counts, symbols)
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            ncomp = body[5]
            comps = []
            for ci in range(ncomp):
                cid, sf, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append(
                    {"id": cid, "sh": sf >> 4, "sv": sf & 0x0F, "tq": tq}
                )
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                f"non-baseline jpeg (SOF marker 0x{marker:02X}) unsupported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_sel = []
            for si in range(ns):
                cs, tt = body[1 + 2 * si], body[2 + 2 * si]
                scan_sel.append((cs, tt >> 4, tt & 0x0F))
            scan_data = data[pos:]
            break
        # other segments (APPn, COM) ignored

    if scan_data is None or not comps:
        raise ValueError("jpeg stream has no scan")

    hmax = max(c["sh"] for c in comps)
    vmax = max(c["sv"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    order = []
    for cs, td, ta in scan_sel:
        ci = next(i for i, c in enumerate(comps) if c["id"] == cs)
        order.append((ci, htables[(0, td)], htables[(1, ta)]))
    for c in comps:
        bw_, bh_ = mcux * c["sh"], mcuy * c["sv"]
        c["coef"] = np.zeros((bh_ * bw_, 64), dtype=np.int32)
        c["bpr"] = bw_

    br = _BitReader(scan_data)
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.sync_restart()
                preds = [0] * len(comps)
            mcu_count += 1
            for ci, dc_tab, ac_tab in order:
                c = comps[ci]
                for by in range(c["sv"]):
                    for bx in range(c["sh"]):
                        blk = np.zeros(64, dtype=np.int32)
                        s = _decode_symbol(br, dc_tab)
                        diff = _extend(br.receive(s), s) if s else 0
                        preds[ci] += diff
                        blk[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _decode_symbol(br, ac_tab)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("jpeg AC index overflow")
                            blk[k] = _extend(br.receive(s), s)
                            k += 1
                        idx = (my * c["sv"] + by) * c["bpr"] + (mx * c["sh"] + bx)
                        c["coef"][idx] = blk

    return _reconstruct(comps, qtables, h, w, hmax, vmax)


def _reconstruct(comps, qtables, h, w, hmax, vmax) -> np.ndarray:
    """Dequant + IDCT + upsample tail over the entropy-decoded ``coef``
    of every component, cropped to (h, w)."""
    planes = []
    for c in comps:
        q = qtables[c["tq"]]
        deq = (c["coef"][:, UNZIGZAG] * q.reshape(64)).reshape(-1, 8, 8)
        spat = np.einsum("ji,njk,kl->nil", _C, deq.astype(np.float64), _C) + 128.0
        bh_, bw_ = c["coef"].shape[0] // c["bpr"], c["bpr"]
        plane = (
            spat.reshape(bh_, bw_, 8, 8).transpose(0, 2, 1, 3).reshape(bh_ * 8, bw_ * 8)
        )
        # nearest upsample to full resolution, crop to (h, w)
        ry, rx = vmax // c["sv"], hmax // c["sh"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
