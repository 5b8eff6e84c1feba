"""Spatial joins vs independent brute-force NumPy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.cellindex import CellGrid
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import joins

GRID = CellGrid(x0=0.0, y0=0.0, size=100.0, res=4)  # 16x16 cells of 6.25


def scalar_point_in_poly(px, py, ring):
    """Independent even-odd implementation (scalar loop, crossing-number)."""
    inside = False
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if (y1 > py) != (y2 > py):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            if px < xint:
                inside = not inside
    return inside


def make_polys(rng, n):
    """Convex + concave (L-shaped) test polygons with bboxes."""
    polys = []
    for i in range(n):
        cx, cy = rng.uniform(5, 95, 2)
        if i % 3 == 2:  # L-shape (concave)
            s = rng.uniform(2, 8)
            ring = [
                (cx, cy), (cx + s, cy), (cx + s, cy + s / 2),
                (cx + s / 2, cy + s / 2), (cx + s / 2, cy + s), (cx, cy + s),
                (cx, cy),
            ]
        else:  # random convex-ish quad via angle sort
            ang = np.sort(rng.uniform(0, 2 * np.pi, 5))
            rad = rng.uniform(1, 7, 5)
            ring = [(cx + r * np.cos(a), cy + r * np.sin(a)) for a, r in zip(ang, rad)]
            ring.append(ring[0])
        ring = [(float(x), float(y)) for x, y in ring]
        xs, ys = zip(*ring)
        polys.append(
            (f"p{i:03d}", [list(v) for v in ring],
             float(min(xs)), float(min(ys)), float(max(xs)), float(max(ys)))
        )
    return polys


@pytest.fixture(scope="module")
def geo(spark):
    rng = np.random.RandomState(11)
    polys = make_polys(rng, 40)
    pts = [(f"q{i:04d}", float(x), float(y))
           for i, (x, y) in enumerate(rng.uniform(0, 100, size=(400, 2)))]
    pdf = spark.createDataFrame(pts, "pt_id string, px double, py double")
    gdf = spark.createDataFrame(
        polys,
        "fp_id string, ring array<array<double>>, minx double, miny double, "
        "maxx double, maxy double",
    )
    return pts, polys, pdf, gdf


def test_pip_join_vs_bruteforce(spark, geo):
    pts, polys, pdf, gdf = geo
    got = {
        (r["pt_id"], r["fp_id"])
        for r in joins.pip_join(pdf, gdf, GRID).collect()
    }
    exp = {
        (pid, fid)
        for pid, px, py in pts
        for fid, ring, *_ in polys
        if scalar_point_in_poly(px, py, ring)
    }
    assert got == exp and len(exp) > 20


def test_bbox_range_join_vs_bruteforce_and_exactly_once(spark, geo):
    _, polys, _, gdf = geo
    left = gdf.select("fp_id", "minx", "miny", "maxx", "maxy")
    out = joins.bbox_range_join(left, left, GRID).select("l_fp_id", "r_fp_id").collect()
    pairs = [(r["l_fp_id"], r["r_fp_id"]) for r in out]
    assert len(pairs) == len(set(pairs)), "pair emitted more than once"
    exp = set()
    for a in polys:
        for b in polys:
            if a[2] < b[4] and a[4] > b[2] and a[3] < b[5] and a[5] > b[3]:
                exp.add((a[0], b[0]))
    assert set(pairs) == exp


# broadcast_centers=False runs the auto rule's build-side explode (points
# outnumber centers); True forces the probe-side explode.
@pytest.mark.parametrize(
    "k, broadcast_centers",
    [
        pytest.param(k, bc, id=f"{k}-broadcast" if bc else str(k))
        for k in (1, 3, 7)
        for bc in (False, True)
    ],
)
def test_knn_join_vs_bruteforce(spark, geo, k, broadcast_centers):
    pts, polys, pdf, gdf = geo
    centers = spark.createDataFrame(
        [(fid, (mnx + mxx) / 2, (mny + mxy) / 2) for fid, _, mnx, mny, mxx, mxy in polys],
        "fp_id string, cx double, cy double",
    )
    got = joins.knn_join(
        pdf, centers, GRID, k=k, r0=1, broadcast_centers=broadcast_centers
    ).collect()
    by_pt = {}
    for r in got:
        by_pt.setdefault(r["pt_id"], []).append((r["rank"], r["fp_id"], r["dist2"]))
    cent = {fid: ((mnx + mxx) / 2, (mny + mxy) / 2) for fid, _, mnx, mny, mxx, mxy in polys}
    for pid, px, py in pts:
        exp = sorted(
            ((cx - px) * (cx - px) + (cy - py) * (cy - py), fid)
            for fid, (cx, cy) in cent.items()
        )[:k]
        gotk = sorted(by_pt[pid])
        assert len(gotk) == k, pid
        assert [(f, d) for _, f, d in gotk] == [(f, d) for d, f in exp], pid


def test_knn_more_than_available(spark, geo):
    pts, _, pdf, _ = geo
    centers = pdf.sparkSession.createDataFrame(
        [("c1", 10.0, 10.0), ("c2", 90.0, 90.0)], "fp_id string, cx double, cy double"
    )
    got = joins.knn_join(pdf.limit(10), centers, GRID, k=5, r0=1)
    assert got.groupBy("pt_id").count().agg(F.max("count")).first()[0] == 2


def test_cellindex_properties(spark):
    g = CellGrid(0.0, 0.0, 100.0, 4)
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in
         enumerate(np.random.RandomState(5).uniform(0, 100, size=(50, 2)))],
        "i long, x double, y double",
    )
    out = df.select(
        "x", "y",
        g.cell_of(F.col("x"), F.col("y")).alias("cell"),
        g.k_ring(g.cell_of(F.col("x"), F.col("y")), 1).alias("ring"),
        g.polyfill_bbox(F.col("x"), F.col("y"), F.col("x") + 10.0, F.col("y") + 10.0).alias("cover"),
    ).collect()
    for r in out:
        assert r["cell"] in r["ring"]
        assert len(r["ring"]) in (4, 6, 9)  # corner / edge / interior clamp
        assert r["cell"] in r["cover"]
        assert len(set(r["ring"])) == len(r["ring"])


def test_cell_parent_chains_resolutions(spark):
    """parent() derives res from the cell id (h3 cell_to_parent semantics):
    chaining yields genuine coarser ids, not re-stamped res-1 collisions."""
    from pyspark.sql import functions as F

    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.cellindex import (
        CellGrid, _IY_SHIFT, _RES_SHIFT,
    )

    g = CellGrid(x0=0.0, y0=0.0, size=1024.0, res=6)
    df = spark.createDataFrame([(513.0, 257.0)], "x double, y double")
    c = df.select(
        g.cell_of(F.col("x"), F.col("y")).alias("c0")
    ).withColumn("c1", g.parent(F.col("c0"))).withColumn(
        "c2", g.parent(F.col("c1"))
    )
    r = c.first()
    for lvl, cell in enumerate([r["c0"], r["c1"], r["c2"]]):
        assert cell // _RES_SHIFT == 6 - lvl
    # geometry halves each level
    assert (r["c1"] % _IY_SHIFT) == (r["c0"] % _IY_SHIFT) // 2
    assert (r["c2"] % _IY_SHIFT) == (r["c1"] % _IY_SHIFT) // 2

