"""Spatial joins vs independent brute-force NumPy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.cellindex import _IY_SHIFT, _RES_SHIFT, CellGrid, sql_double
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


@pytest.mark.parametrize("k", [1, 3, 7])
def test_knn_join_vs_bruteforce(spark, geo, k):
    pts, polys, pdf, gdf = geo
    centers = spark.createDataFrame(
        [(fid, (mnx + mxx) / 2, (mny + mxy) / 2) for fid, _, mnx, mny, mxx, mxy in polys],
        "fp_id string, cx double, cy double",
    )
    got = joins.knn_join(pdf, centers, GRID, k=k).collect()
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
    got = joins.knn_join(pdf.limit(10), centers, GRID, k=5)
    assert got.groupBy("pt_id").count().agg(F.max("count")).first()[0] == 2


def _knn_layout(name, rng):
    """(points, centers, k) of one layout that stresses the ring bound or
    the refine box; coordinates on GRID's [0, 100) domain, cells of 6.25."""
    pts = rng.uniform(0, 100, size=(150, 2))
    edges = np.array([
        (0.0, 0.0), (0.0, 100.0), (100.0, 0.0), (100.0, 100.0), (50.0, 0.0),
        (6.25, 6.25), (12.5, 43.75), (25.0, 25.0), (93.75, 50.0), (62.5, 100.0),
    ])
    if name == "one_cell":  # every center in cell (8, 8)
        return pts, rng.uniform(50.0, 56.25, size=(30, 2)), 4
    if name == "far_corner":  # points at (0, 0) need a ring over the domain
        return np.vstack([pts, edges]), rng.uniform(95.0, 100.0, size=(8, 2)), 3
    if name == "duplicates":  # 4 centers per spot: rank ties break on id
        spots = np.array([(30.0, 40.0), (36.25, 40.0), (60.0, 12.5)])
        return np.vstack([pts, edges]), np.repeat(spots, 4, axis=0), 5
    if name == "cell_edges":
        # centers on cell corners; points share a center's row or column,
        # so the k-th neighbour often sits exactly on the refine box's edge
        lattice = np.array([(6.25 * i, 6.25 * j) for i in range(0, 17, 4) for j in range(0, 17, 3)])
        rows = np.column_stack([rng.uniform(0, 100, 80), rng.choice(lattice[:, 1], 80)])
        cols = np.column_stack([rng.choice(lattice[:, 0], 40), rng.uniform(0, 100, 40)])
        return np.vstack([edges, rows, cols]), lattice, 2
    if name == "k_over_n":
        return pts, rng.uniform(0, 100, size=(3, 2)), 7
    assert name == "no_centers"
    return pts, np.zeros((0, 2)), 3


@pytest.mark.parametrize(
    "layout",
    ["one_cell", "far_corner", "duplicates", "cell_edges", "k_over_n", "no_centers"],
)
def test_knn_join_adversarial_layouts(spark, layout):
    """Exact against a NumPy brute force: same centers, same dist2 bits, same
    ranks (ties ordered by center id)."""
    pts, cts, k = _knn_layout(layout, np.random.RandomState(17))
    # ids in shuffled order, so the tie-break is not the input order
    cids = [f"c{i:03d}" for i in np.random.RandomState(3).permutation(len(cts))]
    pdf = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "pt_id long, px double, py double",
    )
    cdf = spark.createDataFrame(
        [(c, float(x), float(y)) for c, (x, y) in zip(cids, cts)],
        "fp_id string, cx double, cy double",
    )
    out = joins.knn_join(pdf, cdf, GRID, k=k)
    assert out.columns == ["pt_id", "px", "py", "fp_id", "dist2", "rank"]
    got = sorted((r["pt_id"], r["rank"], r["fp_id"], r["dist2"]) for r in out.collect())

    exp = []
    for i, (px, py) in enumerate(pts):
        d2 = (px - cts[:, 0]) * (px - cts[:, 0]) + (py - cts[:, 1]) * (py - cts[:, 1])
        order = sorted(range(len(cts)), key=lambda j: (d2[j], cids[j]))[:k]
        exp += [(i, r + 1, cids[j], float(d2[j])) for r, j in enumerate(order)]
    assert got == sorted(exp)
    assert len(got) == len(pts) * min(k, len(cts))


def _ring_radii_bruteforce(counts, k):
    n = counts.shape[0]
    out = np.zeros_like(counts)
    for iy in range(n):
        for ix in range(n):
            out[iy, ix] = next(
                r for r in range(n)
                if counts[max(iy - r, 0):iy + r + 1, max(ix - r, 0):ix + r + 1].sum() >= k
            )
    return out


@pytest.mark.parametrize("n", [1, 2, 5, 16])
def test_ring_radii_vs_bruteforce(n):
    """Spark-free: the summed-area search finds, per cell, the smallest
    clamped Chebyshev ring holding k centers."""
    rng = np.random.RandomState(n)
    grids = [
        rng.poisson(0.7, size=(n, n)),
        np.zeros((n, n), np.int64),
        np.pad(np.array([[9]]), ((n - 1, 0), (n - 1, 0))),  # one far corner
    ]
    for counts in grids:
        total = int(counts.sum())
        for k in sorted({0, min(1, total), min(2, total), total // 2, total}):
            got = joins.ring_radii(counts, k)
            assert got.shape == (n, n)
            assert (got == _ring_radii_bruteforce(counts, k)).all(), (counts, k)


def test_cellindex_properties(spark):
    g = CellGrid(0.0, 0.0, 100.0, 4)
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in
         enumerate(np.random.RandomState(5).uniform(0, 100, size=(50, 2)))],
        "i long, x double, y double",
    )
    out = df.selectExpr(
        "x", "y",
        f"{g.cell_of('x', 'y')} AS cell",
        f"{g.k_ring(g.cell_of('x', 'y'), 1)} AS ring",
        f"{g.polyfill_bbox('x', 'y', 'x + 10.0D', 'y + 10.0D')} AS cover",
    ).collect()
    for r in out:
        assert r["cell"] in r["ring"]
        assert len(r["ring"]) in (4, 6, 9)  # corner / edge / interior clamp
        assert r["cell"] in r["cover"]
        assert len(set(r["ring"])) == len(r["ring"])


def test_cell_parent_chains_resolutions(spark):
    """parent() derives res from the cell id (h3 cell_to_parent semantics):
    chaining yields genuine coarser ids, not re-stamped res-1 collisions."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.cellindex import (
        CellGrid, _IY_SHIFT, _RES_SHIFT,
    )

    g = CellGrid(x0=0.0, y0=0.0, size=1024.0, res=6)
    df = spark.createDataFrame([(513.0, 257.0)], "x double, y double")
    c = df.selectExpr(
        f"{g.cell_of('x', 'y')} AS c0"
    ).selectExpr("*", f"{g.parent('c0')} AS c1").selectExpr(
        "*", f"{g.parent('c1')} AS c2"
    )
    r = c.first()
    for lvl, cell in enumerate([r["c0"], r["c1"], r["c2"]]):
        assert cell // _RES_SHIFT == 6 - lvl
    # geometry halves each level
    assert (r["c1"] % _IY_SHIFT) == (r["c0"] % _IY_SHIFT) // 2
    assert (r["c2"] % _IY_SHIFT) == (r["c1"] % _IY_SHIFT) // 2



# --------------------------------------------------------------------------- #
# SQL-text builders: lambda capture and double literals
# --------------------------------------------------------------------------- #

def _index(g, v, v0=0.0):
    """Cell index of coordinate ``v`` on an axis starting at ``v0``."""
    return np.minimum(np.maximum(np.floor((v - v0) / g.side), 0), g.n - 1).astype(np.int64)


def _pack(g, ix, iy):
    return g.res * _RES_SHIFT + iy * _IY_SHIFT + ix


def _cells(g, ix0, iy0, ix1, iy1):
    return [int(_pack(g, ix, iy)) for iy in range(iy0, iy1 + 1) for ix in range(ix0, ix1 + 1)]


@pytest.mark.parametrize("names", [
    ("i", "x", "y", "acc", "_i", "_acc", "_gx", "_gy"),
    ("_gy", "_gx", "_acc", "_i", "x", "y", "i", "acc"),
    ("acc", "_gy", "_gx", "y", "_acc", "x", "_i", "i"),
    ("x", "_acc", "_i", "_gx", "acc", "_gy", "y", "i"),
    # Spark resolves names case-insensitively by default
    ("_GY", "_GX", "_ACC", "_I", "X", "Y", "I", "ACC"),
])
def test_builders_ignore_lambda_capture(spark, geo, names):
    """pip, bbox and kNN joins, k_ring and polyfill_bbox on inputs whose
    coordinate, id and ring columns carry the names a SQL lambda variable
    would shadow (each name once per case): each still equals its NumPy
    brute force."""
    pts, polys, pdf, gdf = geo
    pid, px, py, fid, ring, cid, cx, cy = names
    points = pdf.toDF(pid, px, py)

    polygons = gdf.toDF(fid, ring, "minx", "miny", "maxx", "maxy")
    got = {(r[0], r[1]) for r in joins.pip_join(
        points, polygons, GRID, pt_cols=(pid, px, py), poly_id=fid, ring_col=ring
    ).select(pid, fid).collect()}
    exp = {(p, f) for p, x, y in pts for f, rg, *_ in polys if scalar_point_in_poly(x, y, rg)}
    assert got == exp

    boxes = gdf.select("fp_id", "minx", "miny", "maxx", "maxy")
    out = joins.bbox_range_join(
        boxes.withColumnRenamed("fp_id", pid), boxes.withColumnRenamed("fp_id", fid),
        GRID, lprefix=px, rprefix=py,
    ).select(px + pid, py + fid).collect()
    assert {(r[0], r[1]) for r in out} == {
        (a[0], b[0]) for a in polys for b in polys
        if a[2] < b[4] and a[4] > b[2] and a[3] < b[5] and a[5] > b[3]
    }

    cent = {f: ((mnx + mxx) / 2, (mny + mxy) / 2) for f, _, mnx, mny, mxx, mxy in polys}
    centers = spark.createDataFrame(
        [(f, x, y) for f, (x, y) in cent.items()], f"`{cid}` string, `{cx}` double, `{cy}` double"
    )
    knn = joins.knn_join(
        points.where(f"`{pid}` < 'q0060'"), centers, GRID, k=3,
        pt_cols=(pid, px, py), center_cols=(cid, cx, cy),
    )
    got = sorted(tuple(r) for r in knn.select(pid, "rank", cid).collect())
    exp = []
    for p, x, y in pts[:60]:
        near = sorted(((a - x) * (a - x) + (b - y) * (b - y), f) for f, (a, b) in cent.items())
        exp += [(p, r + 1, f) for r, (_, f) in enumerate(near[:3])]
    assert got == sorted(exp)

    # a point in (pid, px), the far corner of its box in (py, fid), the
    # k_ring radius in ring
    xy = np.random.RandomState(2).uniform(0, 90, size=(40, 2))
    df = spark.createDataFrame(
        [(float(x), float(y), float(x + 9.0), float(y + 9.0), i % 3)
         for i, (x, y) in enumerate(xy)],
        ", ".join(f"`{n}` {t}" for n, t in zip(names, ["double"] * 4 + ["int"])),
    )
    q = [f"`{n}`" for n in names[:5]]
    rows = df.selectExpr(
        *q,
        f"{GRID.k_ring(GRID.cell_of(q[0], q[1]), q[4])} AS _ring",
        f"{GRID.polyfill_bbox(*q[:4])} AS _cover",
    ).collect()
    hi = GRID.n - 1
    for r in rows:
        (ix, iy, jx, jy), k = (_index(GRID, r[i]) for i in range(4)), r[4]
        assert r["_ring"] == _cells(
            GRID, max(ix - k, 0), max(iy - k, 0), min(ix + k, hi), min(iy + k, hi)
        )
        assert r["_cover"] == _cells(GRID, ix, iy, jx, jy)


def test_sql_double_round_trips():
    """Spark-free: every finite double renders as a DOUBLE literal that
    parses back to the same value; inf and nan have no literal."""

    for x in (0.1, -0.1, 1e-09, 1e16, 1.0 + 1e-9, 0.0, -0.0, 164.0625):
        text = sql_double(x)
        assert text.strip("()").endswith("D")
        back = float(text.strip("()")[:-1])
        assert back == x and np.signbit(back) == np.signbit(x)
    assert sql_double(1.0 + 1e-9) != sql_double(1.0)
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError):
            sql_double(bad)


def test_sql_double_literals_stay_double(spark):
    """Spark parses each literal to the same double, and the derived
    tables and the tile grid type their coordinates double, not decimal."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators.grid import gen_tiles
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import derived

    xs = (0.1, -0.1, 1e-09, 1e16, 1.0 + 1e-9, 2.0 - 0.25)
    row = spark.range(1).selectExpr(
        *[f"{sql_double(x)} AS v{i}" for i, x in enumerate(xs)],
        f"1.0D - {sql_double(-0.1)} AS minus_neg",
    )
    assert {t for _, t in row.dtypes} == {"double"}
    got = row.first()
    assert list(got)[:-1] == list(xs) and got["minus_neg"] == 1.0 - -0.1

    from conftest import SF_TINY as sf

    want = {
        derived.points_meta(spark, sf): ("px", "py"),
        derived.footprints_meta(spark, sf): ("cx", "cy", "a", "b", "theta_deg"),
        derived.footprints_with_env(spark, sf): ("minx", "miny", "maxx", "maxy"),
        derived.images_meta(spark, sf): ("ulx", "uly"),
        gen_tiles(derived.images_meta(spark, sf)): ("tminx", "tminy", "tmaxx", "tmaxy"),
    }
    for df, cols in want.items():
        types = dict(df.dtypes)
        assert {c: types[c] for c in cols} == {c: "double" for c in cols}
    assert dict(gen_tiles(derived.images_meta(spark, sf)).dtypes)["gt"] == "array<double>"
    ring_t = dict(derived.footprint_rings(spark, sf).dtypes)["ring"]
    assert ring_t == "array<array<double>>"


def test_cell_of_on_edges_and_border(spark):
    """Points exactly on cell edges and on (and past) the domain border get
    the NumPy closed form min(max(floor((x - x0) / side), 0), n - 1)."""
    g = CellGrid(x0=-50.0, y0=12.5, size=100.0, res=4)  # side 6.25
    edges = g.x0 + g.side * np.arange(-1, g.n + 2)
    vals = np.concatenate([edges, edges + 1e-9, edges - 1e-9, [g.x0 + g.size, -1e9, 1e9]])
    xs = vals
    ys = np.roll(vals, 5) - g.x0 + g.y0
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "i long, x double, y double",
    )
    got = dict(df.selectExpr("i", f"{g.cell_of('x', 'y')} AS cell").collect())
    exp = _pack(g, _index(g, xs, g.x0), _index(g, ys, g.y0))
    assert [got[i] for i in range(len(xs))] == [int(e) for e in exp]
