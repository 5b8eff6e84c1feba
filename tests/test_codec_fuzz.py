"""Hostile-byte fuzz for the image codecs.

Every decoder entry point gets truncated, bit-flipped and adversarial
payloads, which any large ingest will meet.  A decoder must fail
CLEANLY: raise ValueError (or a NotImplementedError capability guard),
never hang, never over-allocate, and never leak struct.error /
IndexError / KeyError / zlib.error / ZeroDivisionError out of the parse.
The two documented types are the contract that lets per-row error
policy (on_error='skip'/'quarantine' in the ingest operators) tell
"this row is bad" from "this operator is broken".

A GDAL-based pipeline inherits GDAL's hardened error paths; from-scratch
decoders must earn the same property explicitly.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import (
    codec,
    codec_jpeg,
    codec_tiff,
)

# The decoder contract: these (and only these) may escape on bad bytes.
_ALLOWED = (ValueError, NotImplementedError)


def _probe(fn, data):
    try:
        fn(data)
    except _ALLOWED:
        pass


# Deterministic valid blobs to truncate / corrupt (module-level so the
# encode cost is paid once, not per hypothesis example).
_RNG = np.random.default_rng(7)
_IMG_RGB = _RNG.integers(0, 256, (24, 17, 3), dtype=np.uint8)
_IMG_GRAY = _RNG.integers(0, 256, (16, 21), dtype=np.uint8)

_VALID = {
    "png": (codec.encode_png(_IMG_RGB), codec.decode_png),
    "png_gray": (codec.encode_png(_IMG_GRAY), codec.decode_png),
    "png_adam7": (
        codec.encode_png(_IMG_RGB, interlace=True),
        codec.decode_png,
    ),
    "png_dem16": (
        codec.encode_png(
            (_IMG_GRAY.astype(np.uint16) * 257), interlace=True
        ),
        codec.decode_png,
    ),
    "jpeg": (codec_jpeg.encode_jpeg(_IMG_RGB), codec_jpeg.decode_jpeg),
    "tiff_deflate": (codec_tiff.encode_tiff(_IMG_RGB), codec_tiff.decode_tiff),
    "tiff_lzw": (
        codec_tiff.encode_tiff(_IMG_GRAY, compression="lzw"),
        codec_tiff.decode_tiff,
    ),
    "tiff_packbits": (
        codec_tiff.encode_tiff(_IMG_RGB, compression="packbits"),
        codec_tiff.decode_tiff,
    ),
    "bigtiff": (
        codec_tiff.encode_tiff(_IMG_RGB, bigtiff=True),
        codec_tiff.decode_tiff,
    ),
    # windowed (COG) entry point: same malformed contract; corrupted
    # dims may push the fixed window out of bounds -> ValueError, allowed
    "tiff_tiled_window": (
        codec_tiff.encode_tiff(_IMG_RGB, tiling=(16, 16)),
        lambda b: codec_tiff.decode_tiff_window(b, 2, 3, 10, 12),
    ),
}

# Magic prefixes splice random tails PAST the cheap signature checks so
# the fuzz actually reaches the chunk/segment/entropy parse loops.
_MAGICS = [
    b"\x89PNG\r\n\x1a\n",
    b"\xff\xd8",
    b"II\x2a\x00",
    b"MM\x00\x2a",
    b"II+\x00\x08\x00\x00\x00",
    b"",
]

_DECODERS = [
    codec.decode_png,
    codec_jpeg.decode_jpeg,
    codec_tiff.decode_tiff,
    codec_tiff.geotiff_geodata,
    lambda b: codec_tiff.decode_tiff_window(b, 0, 0, 4, 4),
]


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(_MAGICS),
    st.binary(min_size=0, max_size=2048),
)
def test_fuzz_random_bytes_all_decoders(magic, tail):
    for fn in _DECODERS:
        _probe(fn, magic + tail)


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_fuzz_truncations_of_valid_encodes(data):
    for _name, (blob, fn) in _VALID.items():
        cut = data.draw(st.integers(min_value=0, max_value=len(blob) - 1))
        _probe(fn, blob[:cut])


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_fuzz_byte_flips_of_valid_encodes(data):
    for _name, (blob, fn) in _VALID.items():
        mut = bytearray(blob)
        for _ in range(data.draw(st.integers(min_value=1, max_value=8))):
            i = data.draw(st.integers(min_value=0, max_value=len(mut) - 1))
            mut[i] = data.draw(st.integers(min_value=0, max_value=255))
        _probe(fn, bytes(mut))


# --------------------------------------------------- targeted lies
# Random fuzz rarely forges internally-consistent headers; these pin the
# specific over-allocation / wrong-exception hazards by hand.


def test_png_lying_dims_never_allocates():
    """IHDR declaring a 2^31-pixel image over a 3-byte IDAT must raise,
    not allocate gigabytes in the unfilter stage."""
    blob = bytearray(_VALID["png"][0])
    # IHDR payload starts at offset 16: w at 16, h at 20
    blob[16:20] = (1 << 24).to_bytes(4, "big")
    blob[20:24] = (1 << 24).to_bytes(4, "big")
    with pytest.raises(ValueError):
        codec.decode_png(bytes(blob))


def test_png_truncated_chunk_header_raises_valueerror():
    """A chunk header cut mid-length-field must not leak struct.error."""
    blob = _VALID["png"][0]
    with pytest.raises(ValueError):
        codec.decode_png(blob[: len(blob) - 7])


def _palette_png(indices: np.ndarray, n_pal: int) -> bytes:
    """Hand-build a minimal type-3 depth-8 PNG (indices (h, w) uint8,
    PLTE of n_pal entries) — the repo has no palette encoder, only the
    decode path, so the hostile fixture is constructed directly."""
    import struct as _s
    import zlib as _z

    h, w = indices.shape

    def chunk(tag, payload):
        c = _s.pack(">I", len(payload)) + tag + payload
        return c + _s.pack(">I", _z.crc32(tag + payload) & 0xFFFFFFFF)

    ihdr = _s.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    plte = bytes(range(n_pal)) * 3
    plte = b"".join(bytes([v, v, v]) for v in range(n_pal))
    raw = b"".join(b"\x00" + indices[r].tobytes() for r in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", _z.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_palette_index_out_of_range():
    """Palette image whose indices exceed the PLTE length must raise or
    clamp — not leak numpy IndexError."""
    img = np.array([[3, 200], [250, 9]], dtype=np.uint8)
    blob = _palette_png(img, n_pal=4)  # indices 9/200/250 out of range
    _probe(codec.decode_png, blob)


def test_png_palette_valid_roundtrip_sanity():
    """The hand-built palette fixture itself decodes (guards the
    fixture builder against going stale vs the decoder)."""
    img = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    out = codec.decode_png(_palette_png(img, n_pal=4))
    assert out.shape == (2, 2, 3)
    assert (out[:, :, 0] == img).all()


def test_raw_zero_dims_raise_valueerror():
    with pytest.raises(ValueError):
        codec.decode_raw(b"abc", 0, 0)
    with pytest.raises(ValueError):
        codec.decode_raw(b"", 0, 4)


def test_jpeg_truncated_entropy_segment():
    """Cutting the scan mid-entropy-data must raise, not loop forever
    hunting for a marker."""
    blob = _VALID["jpeg"][0]
    i = blob.find(b"\xff\xda")  # SOS
    assert i > 0
    _probe(codec_jpeg.decode_jpeg, blob[: i + 20])


# ------------------------------------------------ shapefile reader fuzz
# The .shp/.dbf reader is a binary parser like any codec here — and it
# reads files a reference user's GIS tooling produced, i.e. bytes this
# engine does not control.


def _valid_shp(tmp_path) -> str:
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import (
        shapefile as shp,
    )

    ring = np.array(
        [[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0], [0.0, 0.0]]
    )
    base = str(tmp_path / "fz")
    shp.write_polygon_shapefile(
        base,
        [([ring], {"id": 1, "area": 12.0}), ([ring + 10], {"id": 2, "area": 12.0})],
    )
    return base


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_fuzz_shapefile_reader(tmp_path_factory, data):
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import (
        shapefile as shp,
    )

    base = _valid_shp(tmp_path_factory.mktemp("shpfuzz"))
    for ext in (".shp", ".dbf"):
        blob = open(base + ext, "rb").read()
        mode = data.draw(st.sampled_from(["trunc", "flip"]))
        if mode == "trunc":
            mut = blob[: data.draw(st.integers(0, len(blob) - 1))]
        else:
            b = bytearray(blob)
            for _ in range(data.draw(st.integers(1, 8))):
                i = data.draw(st.integers(0, len(b) - 1))
                b[i] = data.draw(st.integers(0, 255))
            mut = bytes(b)
        open(base + ext, "wb").write(mut)
        try:
            list(shp.read_polygon_shapefile(base))
        except _ALLOWED:
            pass
        open(base + ext, "wb").write(blob)  # restore for the other ext


def test_shapefile_negative_record_length_no_hang(tmp_path):
    """A forged non-positive record length must raise, not walk the
    cursor backwards forever."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import (
        shapefile as shp,
    )

    base = _valid_shp(tmp_path)
    blob = bytearray(open(base + ".shp", "rb").read())
    # first record header at offset 100: words 4..8 are the content length
    blob[104:108] = (0x80000000).to_bytes(4, "big")  # -2^31 big-endian
    open(base + ".shp", "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="record length"):
        list(shp.read_polygon_shapefile(base))


def test_shapefile_valid_roundtrip_after_hardening(tmp_path):
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import (
        shapefile as shp,
    )

    base = _valid_shp(tmp_path)
    got = list(shp.read_polygon_shapefile(base))
    assert len(got) == 2 and got[0][1]["id"] == 1
