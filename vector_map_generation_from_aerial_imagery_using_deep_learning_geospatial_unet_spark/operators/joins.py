"""Distributed spatial joins (SURVEY.md §2.5 + §4.2).

The reference's only spatial query is the in-memory rect filter
``SetSpatialFilterRect`` + per-feature window intersection
(/root/reference/src/bf_gridding.py:181-276).  At cluster scale that becomes
three operators, all built on the cell equi-join prefilter from
``functions.cellindex`` (the distributed analogue of an STRtree):

* :func:`bbox_range_join` — O5 semantics: bbox-overlap pairs.
* :func:`pip_join`        — point-in-polygon, cell prefilter + ray-casting
  refinement (:func:`ray_cast_inside`: higher-order column functions —
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
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.cellindex import CellGrid, explode_cover, with_cell

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
        out = df.select([F.col(c).alias(p + c) for c in df.columns])
        out = out.withColumns(
            {
                p + "ix0": grid.ix_of(F.col(p + "minx")),
                p + "iy0": grid.iy_of(F.col(p + "miny")),
            }
        )
        return out.withColumn(
            "cell_id",
            F.explode(
                grid.polyfill_bbox(
                    F.col(p + "minx"), F.col(p + "miny"),
                    F.col(p + "maxx"), F.col(p + "maxy"),
                )
            ),
        )

    lc, rc = prep(left, lprefix), prep(right, rprefix)
    if broadcast == "left":
        lc = F.broadcast(lc)
    elif broadcast == "right":
        rc = F.broadcast(rc)
    joined = lc.join(rc, "cell_id")
    overlap = (
        (F.col(lprefix + "minx") < F.col(rprefix + "maxx"))
        & (F.col(lprefix + "maxx") > F.col(rprefix + "minx"))
        & (F.col(lprefix + "miny") < F.col(rprefix + "maxy"))
        & (F.col(lprefix + "maxy") > F.col(rprefix + "miny"))
    )
    dedup_cell = grid.pack(
        F.greatest(F.col(lprefix + "ix0"), F.col(rprefix + "ix0")),
        F.greatest(F.col(lprefix + "iy0"), F.col(rprefix + "iy0")),
    )
    return joined.filter(overlap & (F.col("cell_id") == dedup_cell)).drop(
        "cell_id", lprefix + "ix0", lprefix + "iy0", rprefix + "ix0", rprefix + "iy0"
    )


# --------------------------------------------------------------------------- #
# point-in-polygon join
# --------------------------------------------------------------------------- #

def ray_cast_inside(px: Column, py: Column, ring: Column) -> Column:
    """Even-odd ray-cast as a pure column expression (higher-order fns).

    PNPOLY crossing test per edge; stays inside whole-stage codegen — no
    Python, no extra shuffle.  Ring is a closed array<array<double>>.
    """
    def cross(acc: Column, i: Column) -> Column:
        x1, y1 = ring[i][0], ring[i][1]
        x2, y2 = ring[i + 1][0], ring[i + 1][1]
        hit = ((y1 > py) != (y2 > py)) & (
            px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
        )
        return acc + F.when(hit, 1).otherwise(0)

    n_edges = F.size(ring) - 2  # closed ring: edges = len-1, last idx len-2
    crossings = F.aggregate(
        F.sequence(F.lit(0), n_edges), F.lit(0), cross
    )
    return crossings % 2 == 1


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
    pts = with_cell(points, grid, pxc, pyc)
    cover = explode_cover(
        polygons.select(poly_id, ring_col, "minx", "miny", "maxx", "maxy"), grid
    ).drop("minx", "miny", "maxx", "maxy")
    cand = pts.join(cover, "cell_id").drop("cell_id")
    inside = ray_cast_inside(F.col(pxc), F.col(pyc), F.col(ring_col))
    return cand.filter(inside).drop(ring_col)


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
    # one task holds every center, so the count needs no exchange (and AQE
    # no second job); centers are the small side
    hist = (
        centers.coalesce(1)
        .groupBy(grid.iy_of(F.col(cyc)).alias("iy"), grid.ix_of(F.col(cxc)).alias("ix"))
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
    ).select(grid.pack(F.col("ix"), F.col("iy")).alias("p_cell"), "radius")

    cts = with_cell(centers, grid, cxc, cyc).select(cid, cxc, cyc, "cell_id")
    pts = with_cell(points, grid, pxc, pyc, out="p_cell").select(pid, pxc, pyc, "p_cell")
    dx, dy = F.col(pxc) - F.col(cxc), F.col(pyc) - F.col(cyc)
    dist2 = (dx * dx + dy * dy).alias("dist2")

    ring = pts.join(F.broadcast(radii), "p_cell").select(
        pid, pxc, pyc,
        F.explode(grid.k_ring(F.col("p_cell"), F.col("radius"))).alias("cell_id"),
    )
    bound = (
        ring.join(cts, "cell_id")
        .groupBy(pid, pxc, pyc)
        .agg(F.element_at(F.sort_array(F.collect_list(dist2)), k_eff).alias("d2"))
    )
    # the 1e-9 pad keeps a center on a cell edge inside the box under
    # rounding; the dist2 filter drops what the pad adds
    d = F.sqrt(F.col("d2")) * (1.0 + 1e-9)
    px, py = F.col(pxc), F.col(pyc)
    box = bound.select(
        pid, pxc, pyc, "d2",
        F.explode(grid.polyfill_bbox(px - d, py - d, px + d, py + d)).alias("cell_id"),
    )
    near = (
        box.join(cts, "cell_id")
        .select(pid, pxc, pyc, cid, dist2, "d2")
        .filter(F.col("dist2") <= F.col("d2"))
    )
    w = Window.partitionBy(pid).orderBy("dist2", cid)
    out = (
        near.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_eff)
        .select(pid, pxc, pyc, cid, "dist2", "rank")
    )
    # no centers (or k = 0): the output columns, no rows
    return out if k_eff else out.limit(0)
