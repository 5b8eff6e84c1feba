"""Distributed spatial joins (SURVEY.md §2.5 + §4.2).

The reference's only spatial query is the in-memory rect filter
``SetSpatialFilterRect`` + per-feature window intersection
(/root/reference/src/bf_gridding.py:181-276).  At cluster scale that becomes
three operators, all built on the cell equi-join prefilter from
``functions.cellindex`` (the distributed analogue of an STRtree):

* :func:`bbox_range_join` — O5 semantics: bbox-overlap pairs.
* :func:`pip_join`        — point-in-polygon, cell prefilter + ray-casting
  refinement (:func:`ray_cast_inside`: a higher-order SQL function —
  fully JVM-side, whole-stage codegen, zero Python).
* :func:`knn_join`        — exact k-nearest-neighbours in one lazy plan: a
  cell-ring join bounds each point's k-th distance (rings sized from one
  center count per cell), a box join over that bound refines exactly.

Skew policy (densely built-up cells): AQE skew-join splitting, on at the
session level, splits a hot cell's join work.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cellindex import CellGrid, fresh_var, quote, sql_double

__all__ = ["bbox_range_join", "pip_join", "knn_join", "ray_cast_inside"]


# --------------------------------------------------------------------------- #
# bbox range join
# --------------------------------------------------------------------------- #

def bbox_range_join(
    left: DataFrame,
    right: DataFrame,
    grid: CellGrid,
    lprefix: str = "l_",
    rprefix: str = "r_",
    broadcast: str | None = None,
) -> DataFrame:
    """All (left, right) pairs whose bboxes strictly overlap.

    Both inputs need ``minx, miny, maxx, maxy``.  Each side is exploded to
    its covering cells, equi-joined on ``cell_id`` (AQE handles residual
    skew), the bbox predicate refines, and the pair is emitted exactly once
    — in the top-left cell of the bbox intersection (the classic
    partition-based spatial-join dedup, no ``distinct`` shuffle needed).

    ``broadcast='left'|'right'`` hints that side's exploded cover as a
    broadcast build side: the other side then streams with NO shuffle at
    all (single stage).  Use when one side fits executor memory (the small
    dim — mirrors the reference's in-memory tile index, bf_gridding.py:
    576-610); the default shuffle join is the 10^12-row scale path.
    """

    def prep(df: DataFrame, p: str) -> DataFrame:
        minx, miny, maxx, maxy = (quote(p + c) for c in ("minx", "miny", "maxx", "maxy"))
        out = df.selectExpr(*[f"{quote(c)} AS {quote(p + c)}" for c in df.columns])
        out = out.selectExpr(
            "*",
            f"{grid.ix_of(minx)} AS {quote(p + 'ix0')}",
            f"{grid.iy_of(miny)} AS {quote(p + 'iy0')}",
        )
        cover = grid.polyfill_bbox(minx, miny, maxx, maxy)
        return out.selectExpr("*", f"explode({cover}) AS cell_id")

    lc, rc = prep(left, lprefix), prep(right, rprefix)
    if broadcast == "left":
        lc = F.broadcast(lc)
    elif broadcast == "right":
        rc = F.broadcast(rc)
    joined = lc.join(rc, "cell_id")
    names = ("minx", "miny", "maxx", "maxy", "ix0", "iy0")
    lq, rq = ({c: quote(p + c) for c in names} for p in (lprefix, rprefix))
    overlap = (
        f"{lq['minx']} < {rq['maxx']} AND {lq['maxx']} > {rq['minx']}"
        f" AND {lq['miny']} < {rq['maxy']} AND {lq['maxy']} > {rq['miny']}"
    )
    dedup_cell = grid.pack(
        f"greatest({lq['ix0']}, {rq['ix0']})", f"greatest({lq['iy0']}, {rq['iy0']})"
    )
    return joined.filter(f"{overlap} AND cell_id = {dedup_cell}").drop(
        "cell_id", lprefix + "ix0", lprefix + "iy0", rprefix + "ix0", rprefix + "iy0"
    )


# --------------------------------------------------------------------------- #
# point-in-polygon join
# --------------------------------------------------------------------------- #

def ray_cast_inside(px: str, py: str, ring: str) -> str:
    """Even-odd ray-cast as SQL text (a higher-order ``aggregate``).

    PNPOLY crossing test per edge; stays inside whole-stage codegen — no
    Python, no extra shuffle.  Ring is a closed array<array<double>>.
    """
    acc, i = fresh_var("_acc", px, py, ring), fresh_var("_i", px, py, ring)
    x1, y1 = f"({ring})[{i}][0]", f"({ring})[{i}][1]"
    x2, y2 = f"({ring})[{i} + 1][0]", f"({ring})[{i} + 1][1]"
    px, py = f"({px})", f"({py})"
    hit = (
        f"({y1} > {py}) != ({y2} > {py})"
        f" AND {px} < ({x2} - {x1}) * ({py} - {y1}) / ({y2} - {y1}) + {x1}"
    )
    # closed ring: edges = len-1, last idx len-2
    return (
        f"aggregate(sequence(0, size({ring}) - 2), 0,"
        f" ({acc}, {i}) -> {acc} + CASE WHEN {hit} THEN 1 ELSE 0 END) % 2 = 1"
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    grid: CellGrid,
    pt_cols: tuple[str, str, str] = ("pt_id", "px", "py"),
    poly_id: str = "fp_id",
    ring_col: str = "ring",
) -> DataFrame:
    """(point, polygon) containment pairs.

    ``polygons`` needs ``poly_id, ring_col, minx, miny, maxx, maxy``.
    Prefilter: polygon side exploded to covering cells, points hashed to
    their single cell, equi-join (each true pair meets in exactly one cell —
    the point's — so no dedup pass is needed).  Refine: ray-cast.  AQE
    broadcasts the cover when it is small.
    """
    _, pxc, pyc = pt_cols
    px, py = quote(pxc), quote(pyc)
    pts = points.selectExpr("*", f"{grid.cell_of(px, py)} AS cell_id")
    cells = grid.polyfill_bbox(*map(quote, ("minx", "miny", "maxx", "maxy")))
    cover = polygons.selectExpr(
        quote(poly_id), quote(ring_col), f"explode({cells}) AS cell_id"
    )
    cand = pts.join(cover, "cell_id").drop("cell_id")
    return cand.filter(ray_cast_inside(px, py, quote(ring_col))).drop(ring_col)


# --------------------------------------------------------------------------- #
# kNN join
# --------------------------------------------------------------------------- #

def ring_radii(counts: np.ndarray, k: int) -> np.ndarray:
    """Per cell of an (n, n) center-count grid, the smallest Chebyshev ring
    radius whose cells (clamped at the domain border) hold at least ``k``
    centers.  A summed-area table gives each ring's count in O(1), and ring
    counts only grow with the radius, so a binary search over all cells at
    once takes log2(n) passes.  Needs ``k <= counts.sum()``: radius n-1
    covers the whole domain from any cell."""
    n = counts.shape[0]
    sat = np.zeros((n + 1, n + 1), np.int64)
    sat[1:, 1:] = counts.cumsum(0).cumsum(1)
    iy, ix = np.indices((n, n))
    lo, hi = np.zeros((n, n), np.int64), np.full((n, n), n - 1, np.int64)
    while (lo < hi).any():
        mid = (lo + hi) // 2
        y0, y1 = np.maximum(iy - mid, 0), np.minimum(iy + mid + 1, n)
        x0, x1 = np.maximum(ix - mid, 0), np.minimum(ix + mid + 1, n)
        held = sat[y1, x1] - sat[y0, x1] - sat[y1, x0] + sat[y0, x0]
        hi = np.where(held >= k, mid, hi)
        lo = np.where(held >= k, lo, mid + 1)
    return lo


def knn_join(
    points: DataFrame,
    centers: DataFrame,
    grid: CellGrid,
    k: int,
    pt_cols: tuple[str, str, str] = ("pt_id", "px", "py"),
    center_cols: tuple[str, str, str] = ("fp_id", "cx", "cy"),
) -> DataFrame:
    """Exact kNN: for each point the k nearest centers, ranked.

    Output: (pt_id, px, py, fp_id, dist2, rank), ``min(k, #centers)`` rows
    per point, ties broken on center id.  The call runs one job, the
    center count per cell, and returns one lazy plan of two cell
    equi-joins (filter and refine):

    1. *Upper bound.*  :func:`ring_radii` gives every cell the smallest
       ring that holds ``k`` centers; each point joins the centers of its
       cell's ring, and its k-th candidate distance ``d`` bounds its k-th
       neighbour's.
    2. *Exact refine.*  Each point joins the centers of the cells its
       ``(px-d, py-d, px+d, py+d)`` box covers, keeps ``dist2 <= d^2`` and
       ranks them.  Every center that close lies in the box, so the ranking
       sees all of them.
    """
    pid, pxc, pyc = pt_cols
    cid, cxc, cyc = center_cols
    px, py, cx, cy = quote(pxc), quote(pyc), quote(cxc), quote(cyc)
    # one task holds every center, so the count needs no exchange (and AQE
    # no second job); centers are the small side
    hist = (
        centers.coalesce(1)
        .groupBy(F.expr(f"{grid.iy_of(cy)} AS iy"), F.expr(f"{grid.ix_of(cx)} AS ix"))
        .count()
        .toArrow()
    )
    counts = np.zeros((grid.n, grid.n), np.int64)
    counts[hist["iy"].to_numpy(), hist["ix"].to_numpy()] = hist["count"].to_numpy()
    k_eff = min(k, int(counts.sum()))
    iy, ix = np.indices((grid.n, grid.n))
    # an Arrow table plans as a LocalRelation: no Python worker scans it
    radii = points.sparkSession.createDataFrame(
        pa.table({"iy": iy.ravel(), "ix": ix.ravel(),
                  "radius": ring_radii(counts, k_eff).ravel()})
    ).selectExpr(f"{grid.pack('ix', 'iy')} AS p_cell", "radius")

    cts = centers.selectExpr(quote(cid), cx, cy, f"{grid.cell_of(cx, cy)} AS cell_id")
    pts = points.selectExpr(quote(pid), px, py, f"{grid.cell_of(px, py)} AS p_cell")
    dist2 = f"({px} - {cx}) * ({px} - {cx}) + ({py} - {cy}) * ({py} - {cy})"

    ring = pts.join(F.broadcast(radii), "p_cell").selectExpr(
        quote(pid), px, py, f"explode({grid.k_ring('p_cell', 'radius')}) AS cell_id"
    )
    bound = (
        ring.join(cts, "cell_id")
        .groupBy(pid, pxc, pyc)
        .agg(F.expr(f"element_at(sort_array(collect_list({dist2})), {k_eff}) AS d2"))
    )
    # the 1e-9 pad keeps a center on a cell edge inside the box under
    # rounding; the dist2 filter drops what the pad adds
    d = f"sqrt(d2) * {sql_double(1.0 + 1e-9)}"
    cover = grid.polyfill_bbox(f"{px} - {d}", f"{py} - {d}", f"{px} + {d}", f"{py} + {d}")
    box = bound.selectExpr(quote(pid), px, py, "d2", f"explode({cover}) AS cell_id")
    near = (
        box.join(cts, "cell_id")
        .selectExpr(quote(pid), px, py, quote(cid), f"{dist2} AS dist2", "d2")
        .filter("dist2 <= d2")
    )
    rank = f"row_number() OVER (PARTITION BY {quote(pid)} ORDER BY dist2, {quote(cid)})"
    out = near.selectExpr(quote(pid), px, py, quote(cid), "dist2", f"{rank} AS `rank`").filter(
        f"`rank` <= {k_eff}"
    )
    # no centers (or k = 0): the output columns, no rows
    return out if k_eff else out.limit(0)
