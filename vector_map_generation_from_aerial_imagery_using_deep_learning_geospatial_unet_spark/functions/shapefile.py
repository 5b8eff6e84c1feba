"""Minimal ESRI Shapefile polygon writer/reader — pure stdlib/numpy.

The reference persists vectors as shapefiles via fiona/ogr with attribute
schema ``{id: int, Area: float}`` (/root/reference/src/postprocess.py:147-155)
and ``id``/``area`` fields (/root/reference/src/postprocess.py:333-342); this
module reproduces that container format from scratch (ESRI Shapefile
Technical Description, July 1998 — a public spec) so a reference user's
downstream GIS tooling can read the engine's output directly.

Scope: shape type 5 (Polygon), 2-D, dBASE III numeric attributes.  One
shapefile is one ordinary file triple (.shp/.shx/.dbf) — inherently a
single-writer format, so the sink in ``operators/sinks.py`` streams rows
through the driver with ``toLocalIterator``; parquet is the documented
scale path.
"""

from __future__ import annotations

import struct
from collections.abc import Iterable, Iterator

import numpy as np

from ..sources._hardening import malformed_guard

SHAPE_POLYGON = 5


def _signed_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]) / 2.0)


def _orient(ring: np.ndarray, clockwise: bool) -> np.ndarray:
    """ESRI: outer rings clockwise (negative shoelace), holes CCW."""
    a = _signed_area(ring)
    if (a < 0) != clockwise:
        return ring[::-1]
    return ring


def _close(ring: np.ndarray) -> np.ndarray:
    if not np.array_equal(ring[0], ring[-1]):
        return np.vstack([ring, ring[:1]])
    return ring


def _polygon_record(rings: list[np.ndarray]) -> bytes:
    """Shape-type-5 record content for [outer, hole, hole, ...]."""
    rings = [_close(np.asarray(r, dtype=np.float64).reshape(-1, 2)) for r in rings]
    rings = [_orient(r, clockwise=(i == 0)) for i, r in enumerate(rings)]
    pts = np.vstack(rings)
    parts = np.cumsum([0] + [len(r) for r in rings[:-1]]).astype(np.int64)
    out = struct.pack("<i", SHAPE_POLYGON)
    out += struct.pack(
        "<4d",
        float(pts[:, 0].min()), float(pts[:, 1].min()),
        float(pts[:, 0].max()), float(pts[:, 1].max()),
    )
    out += struct.pack("<2i", len(rings), len(pts))
    out += struct.pack(f"<{len(parts)}i", *parts.tolist())
    out += pts.astype("<f8").tobytes()
    return out


def _main_header(shape_type: int, file_len_words: int, bbox) -> bytes:
    h = struct.pack(">i", 9994) + b"\x00" * 20 + struct.pack(">i", file_len_words)
    h += struct.pack("<2i", 1000, shape_type)
    h += struct.pack("<4d", *bbox)
    h += struct.pack("<4d", 0, 0, 0, 0)  # z/m ranges unused
    return h


# dBASE field spec: (name, length, decimals) — all numeric ('N')
DBF_FIELDS = [("id", 10, 0), ("value", 10, 0), ("Area", 19, 6)]


def _dbf_header(n_records: int) -> bytes:
    rec_size = 1 + sum(ln for _, ln, _ in DBF_FIELDS)
    hdr_size = 32 + 32 * len(DBF_FIELDS) + 1
    h = struct.pack(
        "<B3BIHH", 0x03, 126, 1, 1, n_records, hdr_size, rec_size
    ) + b"\x00" * 20
    for name, ln, dec in DBF_FIELDS:
        h += name.encode("ascii").ljust(11, b"\x00") + b"N" + b"\x00" * 4
        h += struct.pack("<BB", ln, dec) + b"\x00" * 14
    return h + b"\x0d"


def _dbf_record(attrs: dict) -> bytes:
    out = b" "  # not-deleted flag
    for name, ln, dec in DBF_FIELDS:
        v = attrs.get(name, 0)
        s = f"{float(v):.{dec}f}" if dec else f"{int(v):d}"
        if len(s) > ln:
            # never truncate most-significant digits silently — a chopped
            # number would round-trip as a DIFFERENT value
            raise ValueError(
                f"dBASE field {name!r} width {ln} cannot hold {s!r}"
            )
        out += s.rjust(ln).encode("ascii")
    return out


def write_polygon_shapefile(
    path_base: str,
    records: Iterable[tuple[list, dict]],
) -> int:
    """Stream ``(rings, attrs)`` records to ``path_base``.shp/.shx/.dbf.

    ``rings`` = [outer, hole, ...] each an (n, 2)-able float sequence;
    ``attrs`` keys per DBF_FIELDS.  Returns the record count.  Bodies are
    buffered to temp byte buffers (headers need the totals), so memory is
    O(total output), never O(input DataFrame) — the caller streams rows.
    """
    shp_body = bytearray()
    shx_body = bytearray()
    dbf_body = bytearray()
    bbox = [np.inf, np.inf, -np.inf, -np.inf]
    n = 0
    for rings, attrs in records:
        n += 1
        content = _polygon_record(rings)
        offset_words = (100 + len(shp_body)) // 2
        shp_body += struct.pack(">2i", n, len(content) // 2) + content
        shx_body += struct.pack(">2i", offset_words, len(content) // 2)
        xmin, ymin, xmax, ymax = struct.unpack("<4d", content[4:36])
        bbox = [
            min(bbox[0], xmin), min(bbox[1], ymin),
            max(bbox[2], xmax), max(bbox[3], ymax),
        ]
        dbf_body += _dbf_record(attrs)
    if n == 0:
        bbox = [0.0, 0.0, 0.0, 0.0]
    with open(path_base + ".shp", "wb") as f:
        f.write(_main_header(SHAPE_POLYGON, (100 + len(shp_body)) // 2, bbox))
        f.write(shp_body)
    with open(path_base + ".shx", "wb") as f:
        f.write(_main_header(SHAPE_POLYGON, (100 + len(shx_body)) // 2, bbox))
        f.write(shx_body)
    with open(path_base + ".dbf", "wb") as f:
        f.write(_dbf_header(n))
        f.write(dbf_body)
        f.write(b"\x1a")
    return n


@malformed_guard("shapefile")
def read_polygon_shapefile(path_base: str) -> Iterator[tuple[list, dict]]:
    """Inverse of :func:`write_polygon_shapefile` (round-trip testing +
    reading reference-produced polygon shapefiles).  Hardened like every
    binary parser here (tests/test_codec_fuzz.py): hostile bytes raise
    ValueError/NotImplementedError, never hang — record lengths must
    strictly advance the cursor (a negative/zero length would otherwise
    loop forever) and every count is bounds-checked before use."""
    with open(path_base + ".dbf", "rb") as f:
        dbf = f.read()
    n_records, hdr_size, rec_size = struct.unpack("<IHH", dbf[4:12])
    if rec_size == 0:
        raise ValueError("shapefile: zero dbf record size")
    fields = []
    off = 32
    while dbf[off] != 0x0D:
        name = dbf[off : off + 11].split(b"\x00")[0].decode("ascii")
        ln, dec = dbf[off + 16], dbf[off + 17]
        fields.append((name, ln, dec))
        off += 32
    if n_records * rec_size > len(dbf):
        raise ValueError("shapefile: dbf record count exceeds file size")
    attrs_list = []
    for i in range(n_records):
        rec = dbf[hdr_size + i * rec_size : hdr_size + (i + 1) * rec_size]
        pos, attrs = 1, {}
        for name, ln, dec in fields:
            raw = rec[pos : pos + ln].decode("ascii").strip()
            attrs[name] = (float(raw) if dec else int(raw)) if raw else 0
            pos += ln
        attrs_list.append(attrs)

    with open(path_base + ".shp", "rb") as f:
        shp = f.read()
    pos, i = 100, 0
    while pos < len(shp):
        _, content_words = struct.unpack(">2i", shp[pos : pos + 8])
        if content_words <= 0:
            raise ValueError(
                f"shapefile: non-positive record length {content_words}"
            )
        content = shp[pos + 8 : pos + 8 + content_words * 2]
        if len(content) != content_words * 2:
            raise ValueError("shapefile: truncated record")
        pos += 8 + content_words * 2
        stype = struct.unpack("<i", content[:4])[0]
        if stype != SHAPE_POLYGON:
            raise NotImplementedError(f"shape type {stype} unsupported")
        n_parts, n_points = struct.unpack("<2i", content[36:44])
        if n_parts <= 0 or n_points < 0:
            raise ValueError(
                f"shapefile: bad part/point counts ({n_parts}, {n_points})"
            )
        parts = struct.unpack(f"<{n_parts}i", content[44 : 44 + 4 * n_parts])
        pts = np.frombuffer(
            content[44 + 4 * n_parts :], dtype="<f8", count=n_points * 2
        ).reshape(-1, 2)
        bounds = list(parts) + [n_points]
        rings = [pts[bounds[j] : bounds[j + 1]].copy() for j in range(n_parts)]
        yield rings, attrs_list[i]
        i += 1
