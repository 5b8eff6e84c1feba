"""Pathological-skew study for the MVT tile-keyed groupBy (BENCH.md §skew).

The vector-tile sink's per-tile assembly is ONE applyInPandas group per
(tx, ty) key.  Unlike the PIP join (where AQE skew-join splitting divides
a hot cell's JOIN work), a hot TILE cannot be split without breaking tile
semantics: every feature of a tile must meet in one task to produce one
blob.  This
tool measures the worst case — N small rects ALL inside one z=3 tile —
against a uniform layout of the same N, and the two real mitigations:

  * zoom discipline: the same hot extent tiled at z=6 spreads the rows
    over 8x8 = 64 subtile groups (a denser pyramid level IS the split);
  * the per-tile feature budget (max_features, tippecanoe-style), which
    bounds the hot task's assembly loop deterministically.

Run: python tools/bench_mvt_skew.py  (local[32], ~2 min, prints a table).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark as vm  # noqa: E402
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import vectortiles as VT  # noqa: E402

WORLD = 10752.0
N = 120_000


def rects(spark, hot: bool):
    """N axis-aligned ~30 m rects; hot=True packs all of them inside the
    z=3 tile (0, 7) (world [0,1344)^2), else uniform over the world."""
    span = 1300.0 if hot else WORLD - 44.0
    pk = F.col("id")
    x0 = (pk * 7919 % 104729).cast("double") / 104729.0 * span
    y0 = (pk * 6007 % 104729).cast("double") / 104729.0 * span
    return spark.range(N).select(
        pk.alias("polygon_id"),
        F.array(
            F.array(x0, y0),
            F.array(x0 + 30.0, y0),
            F.array(x0 + 30.0, y0 + 30.0),
            F.array(x0, y0 + 30.0),
        ).alias("ring"),
        (pk % 13).alias("value"),
    )


def run(spark, polys, zoom: int, cap: int | None):
    t0 = time.time()
    out = (
        VT.polygons_to_mvt(
            polys, (0.0, 0.0, WORLD, WORLD), zoom=zoom, max_features=cap
        )
        .agg(
            F.count("*").alias("tiles"),
            F.sum("n_features").alias("feats"),
            F.sum(F.length("mvt")).alias("bytes"),
        )
        .collect()[0]
    )
    return time.time() - t0, out


def main():
    spark = vm.get_spark(master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    cases = [
        ("uniform z=3, no cap", rects(spark, hot=False), 3, None),
        ("HOT one-tile z=3, no cap", rects(spark, hot=True), 3, None),
        ("HOT z=6 (zoom discipline)", rects(spark, hot=True), 6, None),
        ("HOT z=3, max_features=4096", rects(spark, hot=True), 3, 4096),
    ]
    # warm-up: JIT + Arrow paths (uses the uniform layout, discarded)
    run(spark, rects(spark, hot=False), 3, None)
    print(f"{'case':<30} {'wall':>7} {'tiles':>6} {'features':>9} {'MiB':>7}")
    for name, polys, zoom, cap in cases:
        dt, r = run(spark, polys, zoom, cap)
        print(
            f"{name:<30} {dt:>6.2f}s {r.tiles:>6} {r.feats:>9} "
            f"{r.bytes / 2**20:>6.1f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
