"""Tiling / gridding operators (SURVEY.md §2.2, O1/O2/O3/O8).

Reference semantics pinned exactly:

* tile counts   — ``tile_info``: ``count = 1 + int((size - T + (T-ov) - 1)
  / (T-ov))`` when ``size > T`` else 1 (/root/reference/src/bf_gridding.py:104-120).
* enumeration   — ``tileImage``: 1-based (yIndex, xIndex), y-then-x emission,
  ``offset = (idx-1) * (T-ov)``, border clamp ``width = size - offset``
  (/root/reference/src/bf_gridding.py:341-403 at 363-379).
* tile id       — ``getTileName``: ``{name}_{y:0Nd}_{x:0Nd}`` with
  ``N = len(str(max(countX, countY)))`` (/root/reference/src/bf_gridding.py:689-722).
* per-tile gt   — ``createTile``: ``[ulx + ox*sx, sx, 0, uly + oy*sy, 0, sy]``
  (/root/reference/src/bf_gridding.py:519-529).

Spark-first: the whole operator is ``explode(sequence(...))`` twice plus
column arithmetic, written as SQL text (one ``selectExpr`` per step, parsed
in one JVM call) — zero UDFs, fully inside whole-stage codegen, and Catalyst
can push image-level filters below the explode.  The reference fans out one
*subprocess per file* (/root/reference/src/bf_grid.py:31-36); here fan-out is
ordinary task parallelism over scan partitions, so it scales with executors
instead of local cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.cellindex import sql_double


def tile_counts(size: str, tile: int, overlap: int) -> str:
    """O1 closed form as SQL text over ``size`` (SQL text); int-div ceil
    identical to the reference expression."""
    step = tile - overlap
    return f"CAST(1 + floor((greatest(({size}) - {tile}, 0) + {step - 1}) / {step}) AS INT)"


def with_tile_counts(
    images: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG, overlap: int | None = None
) -> DataFrame:
    """images(+w,h) -> + (nx, ny) tile-grid cardinality columns."""
    ov = cfg.overlap_px if overlap is None else overlap
    return images.selectExpr(
        "*",
        f"{tile_counts('w', cfg.tile_size, ov)} AS nx",
        f"{tile_counts('h', cfg.tile_size, ov)} AS ny",
    )


def gen_tiles(
    images: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    overlap: int | None = None,
    with_geo: bool = True,
) -> DataFrame:
    """O2+O3+O8: enumerate the full tile grid of every image.

    Input needs columns ``image_id, w, h`` (+ ``ulx, uly`` when
    ``with_geo``).  Output: one row per tile with 1-based (tiy, tix), pixel
    window (off_x, off_y, tw, th), reference-format ``tile_id`` and (opt) the
    shifted geotransform + geo bbox.  Each step appends its columns with one
    ``selectExpr`` of SQL text.
    """
    t = cfg.tile_size
    ov = cfg.overlap_px if overlap is None else overlap
    step = t - ov

    df = with_tile_counts(images, cfg, ov)
    # y-then-x emission order is carried by (tiy, tix) columns, not row order:
    # Spark output order is undefined under shuffle; all consumers that need
    # the reference's emission order sort by (tiy, tix) explicitly.
    df = df.selectExpr("*", "explode(sequence(1, ny)) AS tiy")
    df = df.selectExpr("*", "explode(sequence(1, nx)) AS tix")

    off_x, off_y = f"(tix - 1) * {step}", f"(tiy - 1) * {step}"
    digits = "length(CAST(greatest(nx, ny) AS STRING))"
    df = df.selectExpr(
        "*",
        f"CAST({off_x} AS INT) AS off_x",
        f"CAST({off_y} AS INT) AS off_y",
        f"CAST(least({t}, w - {off_x}) AS INT) AS tw",
        f"CAST(least({t}, h - {off_y}) AS INT) AS th",
        f"concat(image_id, '_', lpad(CAST(tiy AS STRING), {digits}, '0'),"
        f" '_', lpad(CAST(tix AS STRING), {digits}, '0')) AS tile_id",
    )
    if with_geo:
        sx, sy = sql_double(cfg.cell_size_m), sql_double(-cfg.cell_size_m)
        gx0, gy0 = f"ulx + off_x * {sx}", f"uly + off_y * {sy}"
        df = df.selectExpr(
            "*",
            f"array({gx0}, {sx}, 0.0D, {gy0}, 0.0D, {sy}) AS gt",
            f"{gx0} AS tminx",
            f"{gx0} + tw * {sx} AS tmaxx",
            f"{gy0} AS tmaxy",
            f"{gy0} + th * {sy} AS tminy",
        )
    return df


def image_extents(images: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """O4/O6: per-image footprint bbox from (ulx, uly, w, h) — pure projection
    (``getTileIndexFromFiles``/``mosaic_info``,
    /root/reference/src/bf_gridding.py:304-332,130-175)."""
    sx, sy = sql_double(cfg.cell_size_m), sql_double(-cfg.cell_size_m)
    return images.selectExpr(
        "*", "ulx AS minx", f"ulx + w * {sx} AS maxx", "uly AS maxy", f"uly + h * {sy} AS miny"
    )


def gen_tiles_sql(tile: int = 200, overlap: int = 10, src: str = "images_meta") -> str:
    """DuckDB CTE mirroring :func:`gen_tiles` over ``src`` (any CTE with
    image_id/w/h — the pyramid oracle feeds per-level dims).  Two-stage
    unnest because DuckDB zips multiple unnests in one SELECT."""
    step = tile - overlap
    return f"""
counts AS (
  SELECT *,
    CAST(1 + FLOOR((greatest(w - {tile}, 0) + {step - 1}) / {step}) AS INT) AS nx,
    CAST(1 + FLOOR((greatest(h - {tile}, 0) + {step - 1}) / {step}) AS INT) AS ny
  FROM {src}
),
rows_y AS (
  SELECT *, unnest(generate_series(1, ny)) AS tiy FROM counts
),
tiles AS (
  SELECT *,
    CAST((tix - 1) * {step} AS INT) AS off_x,
    CAST((tiy - 1) * {step} AS INT) AS off_y,
    CAST(least({tile}, w - (tix - 1) * {step}) AS INT) AS tw,
    CAST(least({tile}, h - (tiy - 1) * {step}) AS INT) AS th,
    concat(
      image_id, '_',
      lpad(CAST(tiy AS VARCHAR), CAST(length(CAST(greatest(nx, ny) AS VARCHAR)) AS INT), '0'),
      '_',
      lpad(CAST(tix AS VARCHAR), CAST(length(CAST(greatest(nx, ny) AS VARCHAR)) AS INT), '0')
    ) AS tile_id
  FROM (SELECT *, unnest(generate_series(1, nx)) AS tix FROM rows_y)
)"""


def tiles_geo_sql() -> str:
    """DuckDB CTE adding the shifted-geotransform bbox to ``tiles``."""
    return """
tiles_geo AS (
  SELECT *,
    ulx + off_x * 1e-1 AS tminx,
    ulx + off_x * 1e-1 + tw * 1e-1 AS tmaxx,
    uly + off_y * (-1e-1) AS tmaxy,
    uly + off_y * (-1e-1) + th * (-1e-1) AS tminy
  FROM tiles
)"""
