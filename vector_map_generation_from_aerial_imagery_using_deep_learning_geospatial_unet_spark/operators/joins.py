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
* :func:`knn_join`        — exact k-nearest-neighbours via k-ring expansion
  with doubling radius; the per-round guarantee is the standard grid bound
  (kth-distance < ring_radius * cell_side ⇒ no closer candidate outside).

Skew policy (densely built-up cells): AQE skew-join splitting, on at the
session level, splits a hot cell's join work.
"""

from __future__ import annotations

import numpy as np
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
    broadcast_polygons: bool = False,
) -> DataFrame:
    """(point, polygon) containment pairs.

    ``polygons`` needs ``poly_id, ring_col, minx, miny, maxx, maxy``.
    Prefilter: polygon side exploded to covering cells, points hashed to
    their single cell, equi-join (each true pair meets in exactly one cell —
    the point's — so no dedup pass is needed).  Refine: ray-cast.
    """
    _, pxc, pyc = pt_cols
    pts = with_cell(points, grid, pxc, pyc)
    cover = explode_cover(
        polygons.select(poly_id, ring_col, "minx", "miny", "maxx", "maxy"), grid
    ).drop("minx", "miny", "maxx", "maxy")

    if broadcast_polygons:
        cover = F.broadcast(cover)

    cand = pts.join(cover, "cell_id").drop("cell_id")
    inside = ray_cast_inside(F.col(pxc), F.col(pyc), F.col(ring_col))
    return cand.filter(inside).drop(ring_col)


# --------------------------------------------------------------------------- #
# kNN join
# --------------------------------------------------------------------------- #

def knn_join(
    points: DataFrame,
    centers: DataFrame,
    grid: CellGrid,
    k: int,
    pt_cols: tuple[str, str, str] = ("pt_id", "px", "py"),
    center_cols: tuple[str, str, str] = ("fp_id", "cx", "cy"),
    r0: int | None = None,
    broadcast_centers: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """Exact kNN: for each point the k nearest centers, ranked.

    Output: (pt_id, px, py, fp_id, dist2, rank).  Deterministic tie-break on
    center id.  Distributed k-ring expansion with doubling radius: each round
    is one equi-join; points whose kth candidate is provably inside the ring
    bound retire, the (shrinking) remainder goes another round.  Round count
    is <= log2(grid.n) — a bounded driver loop, never a per-row loop.
    Each round's top-k is persisted so the loop-carried lineage (probe,
    anti-join, final union) never recomputes a candidate join.

    ``broadcast_centers=True``: build-side broadcast of the center table
    (use when centers fit executor memory; the default shuffle join is the
    scale path).  Each round puts the (2r+1)^2 k-ring explode on the
    smaller side of its equi-join (see the loop body); the candidate set
    is the same either way.
    """
    pid, pxc, pyc = pt_cols
    cid, cxc, cyc = center_cols
    n_centers = centers.count()
    k_eff = min(k, n_centers)
    if r0 is None:
        # density-based initial radius: the ring (2r+1)^2 cells should hold
        # ~2k centers in expectation so most points retire in round one
        density = max(n_centers / float(grid.n * grid.n), 1e-9)
        r0 = max(1, int(np.ceil(((2.0 * k_eff / density) ** 0.5 - 1.0) / 2.0)))

    cts = with_cell(centers, grid, cxc, cyc, out="c_cell").select(
        cid, cxc, cyc, "c_cell"
    )
    remaining = with_cell(points, grid, pxc, pyc, out="p_cell").select(
        pid, pxc, pyc, "p_cell"
    )
    results: list[DataFrame] = []
    cached: list[DataFrame] = []
    r = r0
    # One up-front count of the probe side (a single cheap job — at scale
    # it is a parquet-footer sum next to the candidate joins below) lets
    # every round put the (2r+1)^2 ring explode on the genuinely smaller
    # side; a round-number heuristic would invert the optimization for
    # centers-heavy inputs.
    n_remaining = points.count()
    while True:
        full_cover = r >= grid.n  # ring covers the whole domain -> exact
        # The cell k-ring is symmetric (Chebyshev on the lattice), so the
        # explode can go on EITHER side of the equi-join; put it on the
        # smaller one.  Round one in the canonical kNN-join shape: points
        # outnumber centers, so replicate each center over its ring —
        # 15k x ring instead of 10^5..10^9 x ring rows.  Later rounds the
        # un-retired remainder has usually shrunk below the center count
        # and the explode flips to the point side.  Candidate SET is
        # identical either way, and each (point, center) pair still
        # matches exactly once (a point has one cell; the center's ring
        # cells are distinct).
        # broadcast_centers pins the explode to the PROBE side: the
        # broadcast relation must stay n_centers rows — exploding before
        # the broadcast would ship n_centers*(2r+1)^2 rows to every
        # executor, quadratic in r as rounds double the radius.
        if n_remaining > n_centers and not broadcast_centers:
            build = cts.withColumn(
                "cell_id", F.explode(grid.k_ring(F.col("c_cell"), r))
            ).drop("c_cell")
            cand = remaining.join(
                build, F.col("p_cell") == F.col("cell_id")
            ).drop("cell_id")
        else:
            build = cts.withColumnRenamed("c_cell", "cell_id")
            if broadcast_centers:
                build = F.broadcast(build)
            cand = (
                remaining.withColumn(
                    "cell_id", F.explode(grid.k_ring(F.col("p_cell"), r))
                )
                .join(build, "cell_id")
                .drop("cell_id")
            )
        dx, dy = F.col(pxc) - F.col(cxc), F.col(pyc) - F.col(cyc)
        cand = cand.withColumn("dist2", dx * dx + dy * dy).drop(cxc, cyc)
        # candidates meet a point once per shared ring cell is impossible:
        # each center lives in exactly one cell, ring cells are distinct.
        w = Window.partitionBy(pid).orderBy("dist2", cid)
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k_eff)
            .persist()
        )
        cached.append(topk)
        bound = (r * grid.side) ** 2
        per_pt = topk.groupBy(pid).agg(
            F.count("*").alias("_cnt"), F.max("dist2").alias("_kth")
        )
        done_pred = (F.col("_cnt") == k_eff) & (
            F.lit(full_cover) | (F.col("_kth") < bound)
        )
        done_pts = per_pt.filter(done_pred).select(pid)
        results.append(topk.join(done_pts, pid, "semi"))
        remaining = remaining.join(done_pts, pid, "anti")
        if full_cover:
            break
        # the probe also warms topk's cache, so the anti-join and the final
        # union read cached rows instead of re-running the candidate join
        # (the count doubles as next round's explode-side input)
        n_remaining = remaining.count()
        if n_remaining == 0:
            break
        r *= 2
    out = results[0]
    for df in results[1:]:
        out = out.unionByName(df)
    out = out.drop("p_cell")
    if not materialize:
        # PLAN-INSPECTION path: the round caches stay registered (they have
        # never been computed, so nothing is pinned until an action runs).
        # Executing this plan is NOT the intended use — the loop-carried
        # lineage references each round's topk along multiple branches, so
        # an uncached execution re-runs candidate joins up to exponentially
        # in the round count.  Callers who execute it own the caches.
        return out
    # localCheckpoint (eager) materializes the (small) result AND truncates
    # the loop-carried lineage, so caller actions re-read blocks instead of
    # re-running the candidate joins.  Unlike a bare persist() handed to the
    # caller, checkpoint blocks are released when the DataFrame is dropped —
    # no session-lifetime executor-storage pin per knn_join call.
    out = out.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()  # release every round's candidate cache
    return out
