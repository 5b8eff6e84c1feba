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

Every builder takes Spark SQL expression text (a column name is one) and
returns SQL text: floor/least/greatest/sequence arithmetic that the caller
hands to one ``selectExpr``/``F.expr`` per DataFrame step, so the JVM parses
each step once instead of taking one py4j round trip per expression node.
The index stays JVM-side and codegen-friendly.  Two hazards of the text
form are handled here: every Python float goes through :func:`sql_double`
(a bare ``0.25`` is a DECIMAL in Spark SQL), and lambda variables get names
no argument text contains (:func:`fresh_var`), because inside a lambda body a
lambda variable shadows a column of the same name.  The DuckDB oracle keeps
its own text (:meth:`CellGrid.cell_sql`), so it stays an independent check.
Cell id packing: ``res * 2^52 + iy * 2^26 + ix`` — single BIGINT, parent =
arithmetic shift of (ix, iy).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

_IY_SHIFT = 1 << 26
_RES_SHIFT = 1 << 52


def sql_double(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE literal that parses back to the same
    double (``repr`` round-trips exactly; the ``D`` suffix keeps it out of
    DECIMAL).  Negative values are parenthesized, so ``a - {lit}`` never
    reads as a ``--`` comment."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"no SQL literal for {x!r}")
    return f"({x!r}D)" if math.copysign(1.0, x) < 0 else f"{x!r}D"


def quote(name: str) -> str:
    """A column name as SQL text (backtick-quoted)."""
    return "`" + name.replace("`", "``") + "`"


def fresh_var(name: str, *texts: str) -> str:
    """A lambda variable name that none of ``texts`` (the argument text the
    lambda body quotes) contains, so it cannot shadow one of their columns.
    The check ignores case, as Spark resolves names under its default
    ``spark.sql.caseSensitive=false``."""
    while any(name.lower() in t.lower() for t in texts):
        name += "_"
    return name


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

    # -- SQL expression text ---------------------------------------------------
    def _index(self, v: str, v0: float) -> str:
        return (
            f"CAST(least(greatest(floor((({v}) - {sql_double(v0)}) / "
            f"{sql_double(self.side)}), 0), {self.n - 1}) AS BIGINT)"
        )

    def ix_of(self, x: str) -> str:
        return self._index(x, self.x0)

    def iy_of(self, y: str) -> str:
        return self._index(y, self.y0)

    def pack(self, ix: str, iy: str) -> str:
        return f"CAST({self.res} * {_RES_SHIFT} + ({iy}) * {_IY_SHIFT} + ({ix}) AS BIGINT)"

    def cell_of(self, x: str, y: str) -> str:
        return self.pack(self.ix_of(x), self.iy_of(y))

    def parent(self, cell: str) -> str:
        """Containing cell one resolution up.  Like h3's cell_to_parent,
        the resolution comes from the CELL id, not from this grid — so
        ``parent(parent(c))`` yields a genuine res-2 id instead of
        stamping res-1 twice and colliding with unrelated cells."""
        ix = f"({cell}) % {_IY_SHIFT}"
        iy = f"floor(({cell}) / {_IY_SHIFT}) % {1 << 26}"
        res = f"floor(({cell}) / {_RES_SHIFT})"
        return (
            f"CAST(({res} - 1) * {_RES_SHIFT} + floor(({iy}) / 2) * {_IY_SHIFT}"
            f" + floor(({ix}) / 2) AS BIGINT)"
        )

    def _cells(self, ix0: str, iy0: str, ix1: str, iy1: str, *args: str) -> str:
        """array<bigint> of the cells (ix0..ix1) x (iy0..iy1); ``args`` is
        the caller's argument text, which the lambda names must avoid."""
        gx, gy = fresh_var("_gx", *args), fresh_var("_gy", *args)
        return (
            f"flatten(transform(sequence({iy0}, {iy1}), {gy} -> "
            f"transform(sequence({ix0}, {ix1}), {gx} -> {self.pack(gx, gy)})))"
        )

    def polyfill_bbox(self, minx: str, miny: str, maxx: str, maxy: str) -> str:
        """array<bigint> of all cells intersecting the bbox (the STRtree-style
        prefilter side: explode this, equi-join on cell)."""
        return self._cells(
            self.ix_of(minx), self.iy_of(miny), self.ix_of(maxx), self.iy_of(maxy),
            minx, miny, maxx, maxy,
        )

    def k_ring(self, cell: str, k: int | str) -> str:
        """array<bigint> of cells within Chebyshev distance k (grid_disk),
        clamped at domain borders; ``k`` may be per-row SQL text."""
        ix = f"({cell}) % {_IY_SHIFT}"
        iy = f"floor(({cell}) / {_IY_SHIFT}) % {1 << 26}"
        hi = self.n - 1
        return self._cells(
            f"greatest({ix} - ({k}), 0)", f"greatest({iy} - ({k}), 0)",
            f"least({ix} + ({k}), {hi})", f"least({iy} + ({k}), {hi})",
            cell, str(k),
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
