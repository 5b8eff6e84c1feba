"""Hierarchical spatial cell index (H3/S2 *semantics*, square cells).

The reference's spatial acceleration is an in-memory OGR layer queried with
``SetSpatialFilterRect`` (/root/reference/src/bf_gridding.py:181-276); at
cluster scale that becomes a distributed **cell equi-join**.  Real H3
hexagons are unnecessary for output-matching (the reference's spatial
semantics are rectangular) and the h3 lib is absent, so cells are a
power-of-two quadtree grid over a declared domain — a documented deviation
(SURVEY.md §7.3) that preserves the H3 API shape:

* ``cell_of(x, y)``       — point -> cell id        (h3: latlng_to_cell)
* ``parent(cell)``        — res-1 containing cell    (h3: cell_to_parent)
* ``polyfill_bbox(...)``  — covering cells of a bbox (h3: polygon_to_cells)
* ``k_ring(cell, k)``     — Chebyshev ring expansion (h3: grid_disk)

Everything is pure column arithmetic (floor/least/greatest/explode) so the
index is JVM-side, codegen-friendly, and identically expressible in the
DuckDB oracle SQL.  Cell id packing: ``res * 2^52 + iy * 2^26 + ix`` —
single BIGINT, parent = arithmetic shift of (ix, iy).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_IY_SHIFT = 1 << 26
_RES_SHIFT = 1 << 52


@dataclass(frozen=True)
class CellGrid:
    """Cell grid over a square domain [x0, x0+size) x [y0, y0+size)."""

    x0: float
    y0: float
    size: float
    res: int  # 2^res cells per axis

    @property
    def n(self) -> int:
        return 1 << self.res

    @property
    def side(self) -> float:
        return self.size / self.n

    # -- column expressions ------------------------------------------------
    def ix_of(self, x: Column) -> Column:
        return F.least(
            F.greatest(F.floor((x - self.x0) / self.side), F.lit(0)),
            F.lit(self.n - 1),
        ).cast("long")

    def iy_of(self, y: Column) -> Column:
        return F.least(
            F.greatest(F.floor((y - self.y0) / self.side), F.lit(0)),
            F.lit(self.n - 1),
        ).cast("long")

    def pack(self, ix: Column, iy: Column) -> Column:
        return (F.lit(self.res) * _RES_SHIFT + iy * _IY_SHIFT + ix).cast("long")

    def cell_of(self, x: Column, y: Column) -> Column:
        return self.pack(self.ix_of(x), self.iy_of(y))

    def parent(self, cell: Column) -> Column:
        """Containing cell one resolution up.  Like h3's cell_to_parent,
        the resolution comes from the CELL id, not from this grid — so
        ``parent(parent(c))`` yields a genuine res-2 id instead of
        stamping res-1 twice and colliding with unrelated cells."""
        ix = cell % _IY_SHIFT
        iy = F.floor(cell / _IY_SHIFT) % (1 << 26)
        res = F.floor(cell / _RES_SHIFT)
        return (
            (res - 1) * _RES_SHIFT
            + F.floor(iy / 2) * _IY_SHIFT
            + F.floor(ix / 2)
        ).cast("long")

    def polyfill_bbox(
        self, minx: Column, miny: Column, maxx: Column, maxy: Column
    ) -> Column:
        """array<bigint> of all cells intersecting the bbox (the STRtree-style
        prefilter side: explode this, equi-join on cell)."""
        ix0, ix1 = self.ix_of(minx), self.ix_of(maxx)
        iy0, iy1 = self.iy_of(miny), self.iy_of(maxy)
        return F.flatten(
            F.transform(
                F.sequence(iy0, iy1),
                lambda iy: F.transform(
                    F.sequence(ix0, ix1), lambda ix: self.pack(ix, iy)
                ),
            )
        )

    def k_ring(self, cell: Column, k: int | Column) -> Column:
        """array<bigint> of cells within Chebyshev distance k (grid_disk),
        clamped at domain borders; ``k`` may be a per-row column."""
        ix = cell % _IY_SHIFT
        iy = F.floor(cell / _IY_SHIFT) % (1 << 26)
        lo, hi = F.lit(0), F.lit(self.n - 1)
        ix0, ix1 = F.greatest(ix - k, lo), F.least(ix + k, hi)
        iy0, iy1 = F.greatest(iy - k, lo), F.least(iy + k, hi)
        return F.flatten(
            F.transform(
                F.sequence(iy0, iy1),
                lambda y: F.transform(F.sequence(ix0, ix1), lambda x: self.pack(x, y)),
            )
        )

    # -- DuckDB oracle twins -------------------------------------------------
    def cell_sql(self, x: str, y: str) -> str:
        s, n, r = self.side, self.n, self.res
        ix = f"least(greatest(CAST(FLOOR(({x} - {self.x0}) / {s}) AS BIGINT), 0), {n - 1})"
        iy = f"least(greatest(CAST(FLOOR(({y} - {self.y0}) / {s}) AS BIGINT), 0), {n - 1})"
        return f"(CAST({r} AS BIGINT) * {_RES_SHIFT} + {iy} * {_IY_SHIFT} + {ix})"


# default grid for the derived synthetic world (sources/derived.py): 10500 m
# domain, res 6 -> 64x64 cells of ~164 m, sized to the max footprint envelope
WORLD_GRID = CellGrid(x0=0.0, y0=0.0, size=10500.0, res=6)


def with_cell(df: DataFrame, grid: CellGrid, x: str, y: str, out: str = "cell_id") -> DataFrame:
    return df.withColumn(out, grid.cell_of(F.col(x), F.col(y)))


def explode_cover(
    df: DataFrame, grid: CellGrid, out: str = "cell_id"
) -> DataFrame:
    """Explode a bbox'd DataFrame (minx..maxy columns) to one row per
    covering cell — the build side of the cell equi-join."""
    return df.withColumn(
        out,
        F.explode(
            grid.polyfill_bbox(
                F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy")
            )
        ),
    )
