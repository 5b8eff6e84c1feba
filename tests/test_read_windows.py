"""raster.read_windows — training-chip extraction at coordinates.

Contract: chips are pixel-exact against the rendered source, the TIFF
path goes through the windowed (COG) decoder, multiple chips per image
ride one blob crossing, and on_error='skip' drops exactly the failing
unit (one window, or one undecodable image's chips)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import raster
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import images as IMG

SF = "/root/testdata/sf0.001"


def _windows_df(spark, imgs):
    """Two deterministic in-bounds windows per image, one straddling the
    image center (crosses internal 16x16 tile boundaries for tif)."""
    meta = imgs.select("image_id", "w", "h")
    a = meta.select(
        "image_id",
        F.lit(1).alias("wx0"), F.lit(2).alias("wy0"),
        (F.col("w") / 3).cast("int").alias("ww"),
        (F.col("h") / 3).cast("int").alias("wh"),
    )
    b = meta.select(
        "image_id",
        (F.col("w") / 2 - 3).cast("int").alias("wx0"),
        (F.col("h") / 2 - 5).cast("int").alias("wy0"),
        (F.col("w") / 4 + 1).cast("int").alias("ww"),
        (F.col("h") / 4 + 1).cast("int").alias("wh"),
    )
    return a.union(b)


@pytest.mark.parametrize("fmt", ["tif", "png"])
def test_chips_pixel_exact(spark, fmt):
    imgs = IMG.images_table(spark, SF, fmt=fmt, kind="mask", limit=8)
    out = raster.read_windows(imgs, _windows_df(spark, imgs)).collect()
    meta = {r["image_id"]: (r["w"], r["h"]) for r in
            imgs.select("image_id", "w", "h").collect()}
    assert len(out) == 2 * len(meta)
    for r in out:
        w, h = meta[r["image_id"]]
        pk = int(r["image_id"][4:])
        src = IMG.render_mask(pk, w, h)
        chip = codec.decode(bytes(r["bytes"]), r["fmt"], r["ww"], r["wh"])
        np.testing.assert_array_equal(
            chip,
            src[r["wy0"] : r["wy0"] + r["wh"], r["wx0"] : r["wx0"] + r["ww"]],
            err_msg=f"{r['image_id']} {fmt}",
        )


def test_out_of_bounds_window_fail_and_skip(spark):
    imgs = IMG.images_table(spark, SF, fmt="tif", kind="mask", limit=4)
    good = _windows_df(spark, imgs)
    bad = imgs.select(
        "image_id",
        (F.col("w") - 2).alias("wx0"), F.lit(0).alias("wy0"),
        F.lit(10).alias("ww"), F.lit(5).alias("wh"),
    )
    both = good.union(bad)
    with pytest.raises(Exception, match="window outside raster bounds"):
        raster.read_windows(imgs, both).collect()
    kept = raster.read_windows(imgs, both, on_error="skip").collect()
    n_imgs = imgs.count()
    assert len(kept) == 2 * n_imgs  # bad windows dropped, good ones kept


def test_undecodable_image_skip_keeps_others(spark):
    """Both chip readers: read_windows on pixel windows, read_boxes on one
    world box inside each image's footprint."""
    imgs = IMG.images_table(spark, SF, fmt="png", kind="mask", limit=6)
    pk = F.substring("image_id", 5, 18).cast("long")
    corrupted = imgs.withColumn(
        "bytes",
        F.when(pk % 3 == 0, F.lit(b"\x89PNG\r\n\x1a\nhostile")).otherwise(
            F.col("bytes")
        ),
    )
    boxes = imgs.select(
        F.col("image_id").alias("box_id"),
        (F.col("ulx") + 0.15).alias("minx"), (F.col("uly") - 0.35).alias("miny"),
        (F.col("ulx") + 0.35).alias("maxx"), (F.col("uly") - 0.15).alias("maxy"),
    )
    wins = _windows_df(spark, imgs)
    for read in (
        lambda df, on_error="fail": raster.read_windows(df, wins, on_error=on_error),
        lambda df, on_error="fail": raster.read_boxes(df, boxes, on_error=on_error),
    ):
        with pytest.raises(Exception):
            read(corrupted).collect()
        kept = read(corrupted, on_error="skip")
        ids = {r["image_id"] for r in kept.collect()}
        expected = {
            r["image_id"]
            for r in imgs.collect()
            if int(r["image_id"][4:]) % 3 != 0
        }
        assert ids == expected and expected


def test_float_dem_chips_roundtrip_tif(spark):
    """Float rasters (predictor-3 DEM path) chip out exactly when the
    chip sink is also tif."""
    import pandas as pd

    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec_tiff

    rng = np.random.default_rng(3)
    dem = rng.normal(size=(48, 64)).astype(np.float32)
    blob = codec_tiff.encode_tiff(dem, compression="deflate", tiling=(16, 16))
    imgs = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": ["dem_1"], "bytes": [blob], "fmt": ["tif"],
             "w": [64], "h": [48]}
        )
    )
    wins = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": ["dem_1"], "wx0": [7], "wy0": [9],
             "ww": [30], "wh": [20]}
        )
    )
    out = raster.read_windows(imgs, wins, tile_fmt="tif").collect()
    assert len(out) == 1
    chip = codec_tiff.decode_tiff(bytes(out[0]["bytes"]))
    np.testing.assert_array_equal(chip, dem[9:29, 7:37])


# ------------------------------------------- world-coordinate boxes
def _geo_img(spark, pk=7, w=64, h=48, ulx=1000.0, uly=2000.0):
    import pandas as pd

    arr = IMG.render_mask(pk, w, h)
    blob = codec.encode(arr, "tif")
    df = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": [f"img_{pk:08d}"], "bytes": [blob], "fmt": ["tif"],
             "w": [w], "h": [h], "ulx": [ulx], "uly": [uly]}
        )
    )
    return df, arr


def test_box_windows_projwin_arithmetic(spark):
    """World box -> outward-snapped, clamped pixel window (cell 0.1 m,
    north-up): floor on the min edge, ceil on the max, GDAL -projwin."""
    import pandas as pd

    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.config import DEFAULT_CONFIG

    imgs, _ = _geo_img(spark)  # extent x [1000, 1006.4], y [1995.2, 2000]
    boxes = spark.createDataFrame(
        pd.DataFrame(
            {"box_id": ["a", "b", "c"],
             "minx": [1001.23, 990.0, 1006.5],
             "miny": [1996.7, 1990.0, 1996.0],
             "maxx": [1002.0, 1001.0, 1007.0],
             "maxy": [1998.01, 1999.0, 1997.0]}
        )
    )
    out = {r["box_id"]: r for r in raster.box_windows(
        imgs.select("image_id", "w", "h", "ulx", "uly"), boxes,
        DEFAULT_CONFIG,
    ).collect()}
    # box a: fully interior
    a = out["a"]
    assert (a["wx0"], a["wy0"]) == (12, 19)
    assert (a["ww"], a["wh"]) == (20 - 12, 33 - 19)
    # box b: straddles the left/top edges -> clamped to 0
    b = out["b"]
    assert (b["wx0"], b["wy0"]) == (0, 10)
    assert b["ww"] == 10 and b["wh"] == 38
    # box c: entirely off-raster -> no window at all
    assert "c" not in out


def test_read_boxes_chips_pixel_exact(spark):
    import pandas as pd

    imgs, arr = _geo_img(spark)
    boxes = spark.createDataFrame(
        pd.DataFrame(
            {"box_id": ["a"], "minx": [1001.23], "miny": [1996.7],
             "maxx": [1002.0], "maxy": [1998.01]}
        )
    )
    out = raster.read_boxes(imgs, boxes).collect()
    assert len(out) == 1
    r = out[0]
    chip = codec.decode(bytes(r["bytes"]), r["fmt"], r["ww"], r["wh"])
    np.testing.assert_array_equal(chip, arr[19:33, 12:20])


def test_read_boxes_one_box_many_images(spark):
    """A box spanning two adjacent scenes yields one clamped chip per
    scene — the mosaic-serving case."""
    import pandas as pd

    a, arr_a = _geo_img(spark, pk=3, ulx=1000.0, uly=2000.0)   # x [1000,1006.4]
    b, arr_b = _geo_img(spark, pk=4, ulx=1006.4, uly=2000.0)   # x [1006.4,1012.8]
    imgs = a.union(b)
    boxes = spark.createDataFrame(
        pd.DataFrame(
            {"box_id": ["span"], "minx": [1005.0], "miny": [1996.0],
             "maxx": [1008.0], "maxy": [1997.0]}
        )
    )
    rows = {r["image_id"]: r for r in raster.read_boxes(imgs, boxes).collect()}
    assert set(rows) == {"img_00000003", "img_00000004"}
    ra = rows["img_00000003"]
    np.testing.assert_array_equal(
        codec.decode(bytes(ra["bytes"]), ra["fmt"], ra["ww"], ra["wh"]),
        arr_a[30:40, 50:64],
    )
    rb = rows["img_00000004"]
    np.testing.assert_array_equal(
        codec.decode(bytes(rb["bytes"]), rb["fmt"], rb["ww"], rb["wh"]),
        arr_b[30:40, 0:16],
    )
