"""M-ops (tensor prep), resize kernels, pyramid/multires operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import kernels_morph as km
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.kernels_resample import (
    downsample2x_nearest,
    resize_bilinear,
    resize_nearest,
)
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import datagen as DG
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import pyramid as P
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import images as IMG

SF = "/root/testdata/sf0.001"


def test_resize_nearest_identity_and_downscale():
    a = np.arange(48, dtype=np.uint8).reshape(6, 8)
    np.testing.assert_array_equal(resize_nearest(a, 8, 6), a)
    half = resize_nearest(a, 4, 3)
    np.testing.assert_array_equal(half, a[::2, ::2])
    np.testing.assert_array_equal(downsample2x_nearest(a), a[::2, ::2])


def test_resize_bilinear_identity_and_constant():
    a = np.random.RandomState(0).randint(0, 255, (10, 12, 3), dtype=np.uint8)
    np.testing.assert_array_equal(resize_bilinear(a, 12, 10), a)
    c = np.full((7, 7), 42, dtype=np.uint8)
    np.testing.assert_array_equal(resize_bilinear(c, 20, 3), np.full((3, 20), 42))


def test_resize_bilinear_half_pixel_semantics():
    # 1x2 -> 1x4 with half-pixel centers: [0, 100] -> [0, 25, 75, 100]
    a = np.array([[0.0, 100.0]])
    out = resize_bilinear(a, 4, 1)
    np.testing.assert_allclose(out[0], [0.0, 25.0, 75.0, 100.0])


def test_training_tensors_shapes_and_weight_plane(spark):
    imgs = IMG.images_table(spark, SF, fmt="png", kind="rgb", limit=5)
    labels = IMG.images_table(spark, SF, fmt="png", kind="mask", limit=5)
    paired = DG.pair_image_label(imgs, labels)
    rows = DG.training_tensors(paired).collect()
    assert len(rows) == 6  # pk 0..5
    t = rows[0]["tile"]
    for r in rows:
        x = np.array(r["x"], dtype=np.float32).reshape(t, t, 3)
        y = np.array(r["y"], dtype=np.float32).reshape(t, t, 2)
        lab, w = y[:, :, 0], y[:, :, 1]
        assert set(np.unique(np.round(lab, 3))) <= {0.0, 1.0} or lab.max() <= 1.0
        # weight plane: w = 10/EDT + 1; background (EDT->-99) ~ 0.8989...
        bg = w[lab == 0]
        assert np.allclose(bg, 10.0 / -99.0 + 1.0, atol=1e-6)
        inside = w[lab == 1]
        if inside.size:
            assert (inside > 1.0).all()  # 10/d + 1 > 1 for d > 0
        assert x.shape == (t, t, 3)


def test_epoch_shuffle_deterministic(spark):
    df = spark.range(100).withColumnRenamed("id", "v")
    a = [r["v"] for r in DG.epoch_shuffle(df, seed=7).collect()]
    b = [r["v"] for r in DG.epoch_shuffle(df, seed=7).collect()]
    c = [r["v"] for r in DG.epoch_shuffle(df, seed=8).collect()]
    assert a == b and a != c and sorted(a) == list(range(100))


def test_train_val_split_fractions(spark):
    df = spark.range(2000)
    tr, va = DG.train_val_split(df, seed=1)
    assert tr.count() + va.count() == 2000
    assert abs(va.count() / 2000 - 0.15) < 0.05


def test_pyramid_levels_match_meta_and_pixels(spark):
    imgs = IMG.images_table(spark, SF, fmt="png", kind="mask", limit=4)
    pix = {(r["image_id"], r["level"]): r for r in P.build_pyramid(imgs, 3).collect()}
    src = {r["image_id"]: r for r in imgs.collect()}
    for (iid, level), r in pix.items():
        arr = codec.decode(bytes(r["bytes"]), "png", r["lw"], r["lh"])
        base = codec.decode(
            bytes(src[iid]["bytes"]), "png", src[iid]["w"], src[iid]["h"]
        )
        exp = base[:: 2 ** level, :: 2 ** level]
        np.testing.assert_array_equal(arr, exp)
        assert r["lscale"] == pytest.approx(0.1 * 2 ** level)
    meta = P.pyramid_meta(imgs.select("image_id", "w", "h"), 3).collect()
    mm = {(r["image_id"], r["level"]): (r["lw"], r["lh"]) for r in meta}
    for key, r in pix.items():
        assert mm[key] == (r["lw"], r["lh"])


def test_multires_ladder_dims(spark):
    imgs = IMG.images_table(spark, SF, fmt="png", kind="mask", limit=3)
    out = P.multires_resample(imgs).collect()
    assert len(out) == 4 * 10  # pk 0..3, 10 rungs
    for r in out:
        arr = codec.decode(bytes(r["bytes"]), "png", r["rw"], r["rh"])
        assert arr.shape == (r["rh"], r["rw"])
    # rung 1 (0.1 m) is the identity resolution: dims == original
    one = [r for r in out if r["resolution"] == pytest.approx(0.1)]
    src = {r["image_id"]: (r["w"], r["h"]) for r in imgs.collect()}
    for r in one:
        assert (r["rw"], r["rh"]) == src[r["image_id"]]


def test_decode_features_unknown_fmt(spark):
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import multimodal as MM

    # a fmt with no codec is an undecodable row: it fails by default and
    # follows the row's on_error policy otherwise (gif and webp have no
    # codec either)
    df = spark.createDataFrame(
        [
            ("v1", b"\x00\x01", 4, 3, "mp4"),
            ("g1", b"GIF89a\x04\x00\x03\x00", 4, 3, "gif"),
            ("w1", b"RIFF\x0c\x00\x00\x00WEBPVP8L", 4, 3, "webp"),
        ],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    for fmt in ("mp4", "gif", "webp"):
        with pytest.raises(Exception, match="unknown fmt"):
            MM.decode_features(df.filter(df.fmt == fmt), resize_to=2).collect()
    assert MM.decode_features(df, resize_to=2, on_error="skip").collect() == []
    qs = MM.decode_features(df, resize_to=2, on_error="quarantine").collect()
    assert sorted(q["image_id"] for q in qs) == ["g1", "v1", "w1"]
    for q in qs:
        assert q["n_px"] is None and q["error"].startswith("ValueError: unknown fmt")


