"""spark-submit entry point (north_rule: "ships as spark-submit --py-files
modules and runs at N and 4N executors").

Package the engine (from the repo root) and run the flagship raster->vector
pipeline on any cluster:

    zip -qr /tmp/engine.zip \
        vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark
    spark-submit --master <cluster> --py-files /tmp/engine.zip submit.py \
        --images /data/images_parquet --output /data/out \
        --job polygons --resume

The master / executor count / memory come from spark-submit (the script
never hard-codes them), so the same invocation runs at N and at 4N
executors; `--images` may be a parquet path of the input_hint shape
(image_id, bytes, w, h, fmt, caption, phash, ulx, uly, crs) or
``synth:<sf_dir>[:limit]`` to synthesize the deterministic test corpus.
Every stage is resumable through the checkpoint manifest (`--resume`
anti-joins completed image_ids; lineage rows land in <output>/manifest).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--images", required=True,
                   help="parquet path, rasters:<geotiff_dir>, or "
                        "synth:<sf_dir>[:limit]")
    p.add_argument("--output", required=True, help="output root directory")
    p.add_argument("--job", default="polygons",
                   choices=["tiles", "polygons", "watershed", "pyramid"])
    p.add_argument("--tile-size", type=int, default=200)
    p.add_argument("--overlap", type=int, default=10)
    p.add_argument("--resume", action="store_true",
                   help="skip image_ids already recorded in the manifest")
    p.add_argument("--shuffle-partitions", type=int, default=None,
                   help="default: 2x defaultParallelism")
    return p.parse_args(argv)


def load_images(spark, spec: str):
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import catalog
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import images as IMG

    if spec.startswith("synth:"):
        parts = spec.split(":")
        limit = int(parts[2]) if len(parts) > 2 else None
        return IMG.images_table(spark, parts[1], fmt="png", kind="mask",
                                limit=limit)
    if spec.startswith("rasters:"):
        # a raw directory of GeoTIFFs — the reference's own on-disk layout
        # (io.checkdir walk, /root/reference/src/io.py:10-63)
        return catalog.load_raster_dir(spark, spec.split(":", 1)[1])
    # catalog table name or path; Iceberg when the runtime has the jars,
    # parquet stand-in otherwise; input_hint core columns validated on load
    # (georeference sidecars ulx/uly/crs may ride along — subset check)
    return catalog.load_images(spark, spec)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    import vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark as vm
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.config import EngineConfig
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import pyramid, raster
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.streaming import manifest as MF

    # spark-submit owns master/executors; only engine policy confs are set
    # here (getOrCreate layers them onto the submitted session)
    owns_session = SparkSession.getActiveSession() is None
    spark = vm.get_spark(app_name=f"engine-{args.job}")
    shuffle = args.shuffle_partitions or spark.sparkContext.defaultParallelism * 2
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
    cfg = EngineConfig(tile_size=args.tile_size, overlap_px=args.overlap)

    imgs = load_images(spark, args.images)
    out = args.output.rstrip("/")
    t0 = time.time()

    if args.job == "tiles":
        stage_fn = lambda df: raster.slice_tiles(df, cfg).drop("bytes", "fmt")
        stage = "tiles"
    elif args.job in ("polygons", "watershed"):
        sep = "cc" if args.job == "polygons" else "watershed"
        stage_fn = lambda df: raster.tiles_to_polygons(
            raster.slice_tiles(df, cfg), cfg, separation=sep
        )
        stage = args.job
    else:  # pyramid
        stage_fn = lambda df: pyramid.build_pyramid(df, levels=3)
        stage = "pyramid"

    # both modes flow through the manifest machinery (run_id-stamped
    # output + lineage, exactly-once reads); a fresh run just forgets the
    # stage first so stale 'done' rows can't shadow the new output
    if not args.resume:
        MF.clear_stage(spark, out, stage)
    result = MF.run_resumable(imgs, stage_fn, stage, out)
    n = result.count()

    wall = time.time() - t0
    print(json.dumps({"job": args.job, "rows": n, "sec": round(wall, 2),
                      "rows_per_sec": round(n / wall, 1), "output": out}))
    if owns_session:  # embedded callers (tests) keep their session
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
