"""Per-row error policy (on_error='fail'|'skip'|'quarantine') for the
decode-stage operators (operators/multimodal.py).

At 100 TB one hostile payload must not kill the job: Spark's default is
UDF exception -> task failure -> retries -> job death.  The codecs
guarantee bad bytes surface as ValueError/NotImplementedError
(sources/_hardening.py, tests/test_codec_fuzz.py), which is what makes a
precise per-row catch possible — anything else (a TypeError from an
operator bug) still fails the task loudly under every policy.
"""

import numpy as np
import pandas as pd
import pytest

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import (
    multimodal as MM,
)
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import (
    codec,
    codec_tiff,
)

pytestmark = pytest.mark.usefixtures("spark")


def _images_df(spark, n_bad=2, n_good=3):
    rng = np.random.default_rng(3)
    rows = []
    for i in range(n_good):
        arr = rng.integers(0, 256, (10, 8, 3), dtype=np.uint8)
        rows.append((f"good-{i}", codec.encode_png(arr), 8, 10, "png"))
    for i in range(n_bad):
        rows.append((f"bad-{i}", b"\x89PNG\r\n\x1a\ngarbage", 8, 10, "png"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])
    )


def test_pixel_sums_fail_is_default(spark):
    from pyspark.errors.exceptions.base import PySparkException

    df = _images_df(spark)
    with pytest.raises(PySparkException, match="truncated chunk"):
        MM.pixel_sums(df).collect()


def test_pixel_sums_skip(spark):
    out = MM.pixel_sums(_images_df(spark), on_error="skip").collect()
    assert sorted(r.image_id for r in out) == ["good-0", "good-1", "good-2"]


def test_pixel_sums_quarantine(spark):
    out = MM.pixel_sums(_images_df(spark), on_error="quarantine").collect()
    assert len(out) == 5
    by_id = {r.image_id: r for r in out}
    for i in range(3):
        r = by_id[f"good-{i}"]
        assert r.error is None and r.sum_r is not None
    for i in range(2):
        r = by_id[f"bad-{i}"]
        assert r.error is not None and r.error.startswith("ValueError")
        assert r.n_px is None and r.sum_r is None


def test_quarantine_sums_stay_exact_int(spark):
    """int64 feature values must survive the nullable (object-dtype)
    quarantine path bit-exactly — no float64 round trip."""
    df = _images_df(spark, n_bad=1, n_good=3)
    strict = {
        r.image_id: (r.sum_r, r.sum_g, r.sum_b)
        for r in MM.pixel_sums(df.filter("image_id like 'good%'")).collect()
    }
    quar = {
        r.image_id: (r.sum_r, r.sum_g, r.sum_b)
        for r in MM.pixel_sums(df, on_error="quarantine").collect()
        if r.error is None
    }
    assert strict == quar


def test_decode_features_quarantine(spark):
    out = MM.decode_features(
        _images_df(spark), on_error="quarantine"
    ).collect()
    bad = [r for r in out if r.error is not None]
    assert len(bad) == 2 and all(r.mean_r is None for r in bad)


def test_bad_mode_rejected_eagerly(spark):
    with pytest.raises(ValueError, match="on_error"):
        MM.pixel_sums(_images_df(spark), on_error="ignore")


def _palette_tiff() -> bytes:
    """A valid 6x6 TIFF re-tagged as palette (PhotometricInterpretation
    3), a layout the decoder rejects with NotImplementedError."""
    import struct

    blob = bytearray(
        codec_tiff.encode_tiff(np.zeros((6, 6), np.uint8), compression="none")
    )
    ifd_off = struct.unpack("<I", blob[4:8])[0]
    (n,) = struct.unpack("<H", blob[ifd_off : ifd_off + 2])
    for i in range(n):
        e = ifd_off + 2 + 12 * i
        if struct.unpack("<H", blob[e : e + 2])[0] == 262:
            blob[e + 8 : e + 10] = struct.pack("<H", 3)
    return bytes(blob)


def test_quarantine_stats_census(spark):
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, (10, 8, 3), dtype=np.uint8)
    rows = [
        ("ok", codec.encode_png(arr), 8, 10, "png"),
        ("bad-1", b"\x89PNG\r\n\x1a\ngarbage", 8, 10, "png"),
        ("bad-2", b"\x89PNG\r\n\x1a\ngarbage2", 8, 10, "png"),
        ("unsup", _palette_tiff(), 6, 6, "tiff"),  # NotImplementedError path
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])
    )
    quar = MM.pixel_sums(df, on_error="quarantine")
    census = {r.error_type: r.n for r in MM.quarantine_stats(quar).collect()}
    assert census == {"ValueError": 2, "NotImplementedError": 1}


def test_slice_tiles_skip_drops_bad_image(spark):
    """The tiling path (the north-star ingest) honors skip: a corrupt
    image contributes zero tiles, intact images tile normally."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.config import (
        EngineConfig,
    )
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import (
        raster,
    )

    cfg = EngineConfig(tile_size=8, overlap_px=0)
    rng = np.random.default_rng(5)
    arr = rng.integers(0, 2, (16, 16), dtype=np.uint8)
    rows = [
        ("img-ok", codec.encode_png(arr), 16, 16, 0.0, 0.0, "png"),
        ("img-bad", b"\x89PNG\r\n\x1a\nnope", 16, 16, 0.0, 0.0, "png"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["image_id", "bytes", "w", "h", "ulx", "uly", "fmt"]
        )
    )
    out = raster.slice_tiles(df, cfg, on_error="skip").collect()
    assert {r.image_id for r in out} == {"img-ok"}
    assert len(out) == 4  # 16/8 x 16/8
    with pytest.raises(ValueError, match="on_error"):
        raster.slice_tiles(df, cfg, on_error="quarantine")


def _dem_df(spark, interlace_even=True):
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources.images import render_dem16

    rows = []
    for pk in range(4):
        arr = render_dem16(pk, 12, 9)
        rows.append(
            (f"dem-{pk}", codec.encode_png(arr, interlace=pk % 2 == 0), 12, 9, "png")
        )
    rows.append(("dem-bad", b"\x89PNG\r\n\x1a\ngarbage", 12, 9, "png"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])
    )


def test_elev_stats_exact_and_position_sensitive(spark):
    """elev_stats matches a driver-side numpy recompute (both interlaced
    and straight payloads), and the weighted moments distinguish a
    row-permuted plane with the same plain sum."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources.images import render_dem16

    out = {r.image_id: r for r in MM.elev_stats(_dem_df(spark), on_error="skip").collect()}
    assert sorted(out) == [f"dem-{pk}" for pk in range(4)]
    for pk in range(4):
        a = render_dem16(pk, 12, 9).astype(np.int64)
        r = out[f"dem-{pk}"]
        assert r.n_px == a.size
        assert r.sum_elev == int(a.sum())
        assert r.sum_wy == int((a * np.arange(9)[:, None]).sum())
        assert r.sum_wx == int((a * np.arange(12)[None, :]).sum())
    # position sensitivity: flipping rows keeps sum_elev, changes sum_wy
    a = render_dem16(1, 12, 9).astype(np.int64)
    b = a[::-1]
    assert a.sum() == b.sum()
    assert (a * np.arange(9)[:, None]).sum() != (b * np.arange(9)[:, None]).sum()


def test_elev_stats_quarantine_keeps_good_rows_exact(spark):
    out = MM.elev_stats(_dem_df(spark), on_error="quarantine").collect()
    assert len(out) == 5
    by_id = {r.image_id: r for r in out}
    assert by_id["dem-bad"].error is not None
    assert by_id["dem-bad"].sum_elev is None
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources.images import render_dem16

    for pk in range(4):
        a = render_dem16(pk, 12, 9).astype(np.int64)
        assert by_id[f"dem-{pk}"].sum_elev == int(a.sum())


def test_elev_stats_rejects_multiband(spark):
    from pyspark.errors.exceptions.base import PySparkException

    rng = np.random.default_rng(4)
    arr = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame(
            [("rgb-0", codec.encode_png(arr), 5, 6, "png")],
            columns=["image_id", "bytes", "w", "h", "fmt"],
        )
    )
    with pytest.raises(PySparkException, match="single band"):
        MM.elev_stats(df).collect()
