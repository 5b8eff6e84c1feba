"""raster.zonal_stats — per-zone pixel aggregates across images.

Contract: stats equal a per-pixel numpy recomputation (cross-image
zones, partial windows, zones that clip image edges), zones that touch
nothing are absent, and on_error='skip' drops exactly the undecodable
image's contribution."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.config import DEFAULT_CONFIG
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import raster
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources.images import render_mask

CELL = DEFAULT_CONFIG.cell_size_m


def _mk_images(spark, specs):
    """specs: (image_id, pk, w, h, ulx, uly). Returns (df, arrays)."""
    arrays, rows = {}, []
    for iid, pk, w, h, ulx, uly in specs:
        a = render_mask(pk, w, h)
        arrays[iid] = (a, ulx, uly)
        rows.append((iid, codec.encode(a, "png"), w, h, "png", float(ulx), float(uly)))
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "ulx double, uly double",
    )
    return df, arrays


def _expected(arrays, zones):
    out = {}
    for zid, minx, miny, maxx, maxy in zones:
        n_img = n_px = fg = sv = 0
        for a, ulx, uly in arrays.values():
            h, w = a.shape[:2]
            # outward snap, as box_windows (eps irrelevant: margins used)
            wx0 = max(int(np.floor((minx - ulx) / CELL + 1e-6)), 0)
            wx1 = min(int(np.ceil((maxx - ulx) / CELL - 1e-6)), w)
            wy0 = max(int(np.floor((uly - maxy) / CELL + 1e-6)), 0)
            wy1 = min(int(np.ceil((uly - miny) / CELL - 1e-6)), h)
            if wx1 <= wx0 or wy1 <= wy0:
                continue
            win = a[wy0:wy1, wx0:wx1]
            n_img += 1
            n_px += win.size
            fg += int((win > 0).sum())
            sv += int(win.sum(dtype=np.int64))
        if n_img:
            out[zid] = (n_img, n_px, fg, sv)
    return out


def _zones_df(spark, zones):
    return spark.createDataFrame(
        [(z, float(a), float(b), float(c), float(d)) for z, a, b, c, d in zones],
        "zone_id string, minx double, miny double, maxx double, maxy double",
    )


def test_zonal_matches_numpy_cross_image(spark):
    # two images side by side in world space + one offset below
    specs = [
        ("imA", 3, 120, 100, 0.0, 100.0),
        ("imB", 7, 80, 90, 12.0, 100.0),   # starts at pixel 120 of imA's frame
        ("imC", 11, 100, 100, 4.0, 80.0),
    ]
    imgs, arrays = _mk_images(spark, specs)
    m = 0.3 * CELL
    zones = [
        # spans imA and imB horizontally, clips both
        ("z_span", 5.0 + m, 92.0 + m, 15.0 - m, 100.0 - m),
        # interior of imC only
        ("z_c", 5.0 + m, 73.0 + m, 9.0 - m, 78.0 - m),
        # empty zone far away -> absent from output
        ("z_void", 9000.0, 9000.0, 9100.0, 9100.0),
        # covers everything
        ("z_all", 0.0, 0.0, 200.0, 200.0),
    ]
    got = {
        r.zone_id: (r.n_images, r.n_px, r.fg_px, r.sum_val)
        for r in raster.zonal_stats(imgs, _zones_df(spark, zones)).collect()
    }
    want = _expected(arrays, zones)
    assert got == want
    assert "z_void" not in got and got["z_span"][0] == 2 and got["z_all"][0] == 3


def test_zonal_on_error_skip_drops_bad_image(spark):
    """Both zone kinds: the rect path, and the rect as a 4-gon through
    zonal_stats_poly (every pixel center lies inside it)."""
    specs = [("good", 3, 60, 50, 0.0, 50.0)]
    imgs, arrays = _mk_images(spark, specs)
    bad = spark.createDataFrame(
        [("bad", b"junk", 60, 50, "png", 0.0, 50.0)], imgs.schema
    )
    zones = [("z", 0.0, 0.0, 100.0, 100.0)]
    rects = _zones_df(spark, zones)
    polys = spark.createDataFrame(
        [(z, [x0, x1, x1, x0], [y0, y0, y1, y1]) for z, x0, y0, x1, y1 in zones],
        "zone_id string, xs array<double>, ys array<double>",
    )
    for zonal in (
        lambda df, on_error="fail": raster.zonal_stats(df, rects, on_error=on_error),
        lambda df, on_error="fail": raster.zonal_stats_poly(df, polys, on_error=on_error),
    ):
        with pytest.raises(Exception):
            zonal(imgs.union(bad)).collect()
        got = {
            r.zone_id: (r.n_images, r.n_px, r.fg_px, r.sum_val)
            for r in zonal(imgs.union(bad), on_error="skip").collect()
        }
        assert got == _expected(arrays, zones)


# ------------------------------------------------------ polygon zones


def test_pip_grid_triangle_vs_halfplane():
    """pip_grid against an independent convex-shape formulation: a
    triangle is the intersection of three half-planes."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.kernels_vector import pip_grid

    xs, ys = [1.2, 9.7, 3.1], [0.8, 2.3, 8.9]
    px = np.arange(12) + 0.5
    py = np.arange(11) + 0.5
    got = pip_grid(xs, ys, px, py)
    P = np.stack(np.meshgrid(px, py), axis=-1)  # (len(py), len(px), 2)
    # orientation-independent half-plane sign
    sgn = np.sign(
        (xs[1] - xs[0]) * (ys[2] - ys[0]) - (ys[1] - ys[0]) * (xs[2] - xs[0])
    )
    want = np.ones(got.shape, dtype=bool)
    for k in range(3):
        ax, ay = xs[k], ys[k]
        bx, by = xs[(k + 1) % 3], ys[(k + 1) % 3]
        cross = (bx - ax) * (P[..., 1] - ay) - (by - ay) * (P[..., 0] - ax)
        want &= sgn * cross > 0
    assert (got == want).all()


def test_zonal_poly_rect_equals_rect_path(spark):
    """A margin-aligned rectangle expressed as a 4-gon must reproduce the
    rect path exactly (center-inside set == snapped window)."""
    specs = [
        ("imA", 3, 120, 100, 0.0, 100.0),
        ("imB", 7, 80, 90, 12.0, 100.0),
    ]
    imgs, _ = _mk_images(spark, specs)
    m = 0.3 * CELL
    rects = [
        ("z1", 2.0 + m, 92.0 + m, 14.0 - m, 99.0 - m),
        ("z2", 0.0 + m, 91.0 + m, 6.0 - m, 96.0 - m),
    ]
    rect_out = {
        r.zone_id: (r.n_images, r.n_px, r.fg_px, r.sum_val)
        for r in raster.zonal_stats(imgs, _zones_df(spark, rects)).collect()
    }
    polys = spark.createDataFrame(
        [
            (z, [x0, x1, x1, x0], [y0, y0, y1, y1])
            for z, x0, y0, x1, y1 in rects
        ],
        "zone_id string, xs array<double>, ys array<double>",
    )
    poly_out = {
        r.zone_id: (r.n_images, r.n_px, r.fg_px, r.sum_val)
        for r in raster.zonal_stats_poly(imgs, polys).collect()
    }
    assert poly_out == rect_out and len(poly_out) == 2


def test_zonal_poly_triangle_matches_numpy(spark):
    """General polygon: per-pixel-center mask recomputed in the test."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.kernels_vector import pip_grid

    specs = [("imC", 11, 100, 100, 4.0, 80.0)]
    imgs, arrays = _mk_images(spark, specs)
    xs = [5.125, 9.625, 6.375]
    ys = [71.125, 72.875, 78.625]
    zdf = spark.createDataFrame(
        [("tri", xs, ys)], "zone_id string, xs array<double>, ys array<double>"
    )
    got = {
        r.zone_id: (r.n_images, r.n_px, r.fg_px, r.sum_val)
        for r in raster.zonal_stats_poly(imgs, zdf).collect()
    }
    a, ulx, uly = arrays["imC"]
    # snap the envelope like box_windows, then mask pixel centers
    wx0 = max(int(np.floor((min(xs) - ulx) / CELL + 1e-6)), 0)
    wx1 = min(int(np.ceil((max(xs) - ulx) / CELL - 1e-6)), a.shape[1])
    wy0 = max(int(np.floor((uly - max(ys)) / CELL + 1e-6)), 0)
    wy1 = min(int(np.ceil((uly - min(ys)) / CELL - 1e-6)), a.shape[0])
    px = ulx + (np.arange(wx0, wx1) + 0.5) * CELL
    py = uly - (np.arange(wy0, wy1) + 0.5) * CELL
    mask = pip_grid(xs, ys, px, py)
    win = a[wy0:wy1, wx0:wx1]
    want = (
        1,
        int(mask.sum()),
        int(((win > 0) & mask).sum()),
        int(win[mask].sum(dtype=np.int64)),
    )
    assert got == {"tri": want}
