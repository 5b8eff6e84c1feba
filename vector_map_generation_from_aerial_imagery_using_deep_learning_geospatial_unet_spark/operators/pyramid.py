"""Pyramid + multi-resolution ladder operators (SURVEY.md O7, O11).

* ``build_pyramid``   — L levels, each downsampled x2 with NEAREST (stride-2
  slice) then re-gridded: ``buildPyramid``/``createPyramidTile``
  (/root/reference/src/bf_gridding.py:639-686, 447-503; NEAREST default
  :1046).  Level geotransform doubles the pixel scale.
* ``multires_ladder`` — resolution ladder 0.1..1.0 step 0.1 as
  ``explode(sequence)`` x resample UDF: ``generateMutilRes``
  (/root/reference/generateMutilRes.py:33-70); the lazy VRT becomes the lazy
  Spark plan — nothing materializes until an action.

Metadata (sizes, geotransforms, tile grids) is pure column arithmetic and
SQL-checkable; pixels are resampled in Arrow UDFs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.kernels_resample import downsample2x_nearest, resize_nearest
from ..sources import codec


def pyramid_meta(images: DataFrame, levels: int) -> DataFrame:
    """Level metadata only: one row per (image, level 0..levels) with halved
    dims per level: size_l = ceil(size_{l-1} / 2) (stride-2 slice length),
    scale_l = scale * 2^l."""
    df = images.withColumn(
        "level", F.explode(F.sequence(F.lit(0), F.lit(levels)))
    )
    pow2 = F.pow(F.lit(2.0), F.col("level"))
    return df.withColumns(
        {
            "lw": F.ceil(F.col("w") / pow2).cast("int"),
            "lh": F.ceil(F.col("h") / pow2).cast("int"),
            "lscale": (F.lit(0.1) * pow2),
        }
    )


def pyramid_meta_sql(levels: int) -> str:
    """DuckDB twin of :func:`pyramid_meta` over images_meta."""
    return f"""
lvl AS (
  SELECT im.*, l.level
  FROM images_meta im,
       (SELECT unnest(generate_series(0, {levels})) AS level) l
),
pyramid AS (
  SELECT image_id, w, h, ulx, uly, level,
    CAST(ceil(w / pow(2e0, level)) AS INT) AS lw,
    CAST(ceil(h / pow(2e0, level)) AS INT) AS lh,
    1e-1 * pow(2e0, level) AS lscale
  FROM lvl
)"""


def build_pyramid(images: DataFrame, levels: int) -> DataFrame:
    """Pixel path: emit (image_id, level, bytes, lw, lh) with level l =
    l-fold stride-2 downsample (NEAREST x2 per level, O7)."""
    schema = (
        "image_id string, level int, bytes binary, lw int, lh int, fmt string, "
        "ulx double, uly double, lscale double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = codec.decode(r.bytes, r.fmt, int(r.w), int(r.h))
                cur = arr
                for level in range(levels + 1):
                    if level > 0:
                        cur = downsample2x_nearest(cur)
                    rows.append(
                        (
                            r.image_id, level,
                            codec.encode(np.ascontiguousarray(cur), "png", level=1),
                            cur.shape[1], cur.shape[0], "png",
                            float(r.ulx), float(r.uly), 0.1 * (2 ** level),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "level", "bytes", "lw", "lh", "fmt",
                    "ulx", "uly", "lscale",
                ],
            )

    return images.mapInPandas(run, schema=schema)


def multires_meta(images: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """O11 ladder metadata: resolutions 0.1..1.0 step 0.1; output dims =
    round(size * cur_res / res) per gdal.Warp xRes semantics."""
    df = images.withColumn(
        "res_idx", F.explode(F.sequence(F.lit(1), F.lit(10)))
    ).withColumn("resolution", F.col("res_idx") * F.lit(0.1))
    ratio = F.lit(cfg.cell_size_m) / F.col("resolution")
    return df.withColumns(
        {
            "rw": F.round(F.col("w") * ratio).cast("int"),
            "rh": F.round(F.col("h") * ratio).cast("int"),
        }
    )


def multires_meta_sql() -> str:
    """DuckDB twin of :func:`multires_meta` at the default cell size."""
    cs = repr(DEFAULT_CONFIG.cell_size_m)
    return f"""
res AS (
  SELECT im.*, r.res_idx, r.res_idx * 1e-1 AS resolution
  FROM images_meta im,
       (SELECT unnest(generate_series(1, 10)) AS res_idx) r
),
multires AS (
  SELECT image_id, w, h, ulx, uly, res_idx, resolution,
    CAST(round(w * ({cs} / (res_idx * 1e-1))) AS INT) AS rw,
    CAST(round(h * ({cs} / (res_idx * 1e-1))) AS INT) AS rh
  FROM res
)"""


def multires_resample(images: DataFrame) -> DataFrame:
    """Pixel path for the ladder: NEAREST warp per resolution (one decode per
    image, resample per rung)."""
    meta = multires_meta(images)
    schema = (
        "image_id string, resolution double, bytes binary, rw int, rh int, fmt string"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for (img_bytes, fmt, w, h), grp in pdf.groupby(
                ["bytes", "fmt", "w", "h"], sort=False
            ):
                arr = codec.decode(img_bytes, fmt, int(w), int(h))
                for r in grp.itertuples(index=False):
                    out = resize_nearest(arr, int(r.rw), int(r.rh))
                    rows.append(
                        (
                            r.image_id, float(r.resolution),
                            codec.encode(np.ascontiguousarray(out), "png", level=1),
                            int(r.rw), int(r.rh), "png",
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "resolution", "bytes", "rw", "rh", "fmt"],
            )

    return meta.mapInPandas(run, schema=schema)
