"""Sinks (SURVEY.md §2.1 S5-S8): tile index, envelope CSV, vector outputs.

The reference writes shapefiles/CSV per file (copyTileIndexToDisk / ToCSV,
/root/reference/src/bf_gridding.py:406-444; fiona/ogr writers,
/root/reference/src/postprocess.py:147-155,333-342).  Spark-side those become
partitioned parquet tables (+ optional CSV / GeoJSON text for interchange);
:func:`write_shapefile` additionally emits the reference's literal container
format (single-writer export sink — parquet remains the scale path)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import shapefile as shp


def write_tile_index(tiles: DataFrame, path: str) -> None:
    """S7: persist (overwrite) the tile index (one row per tile footprint),
    partitioned by image so per-image lookups prune files."""
    (
        tiles.select(
            "image_id", "tile_id", "tiy", "tix", "off_x", "off_y", "tw", "th",
            "tminx", "tminy", "tmaxx", "tmaxy",
        )
        .write.mode("overwrite")
        .partitionBy("image_id")
        .parquet(path)
    )


def write_tile_index_csv(tiles: DataFrame, path: str) -> None:
    """S7 CSV variant (overwrite): envelopes only (copyTileIndexToCSV)."""
    (
        tiles.select("tile_id", "tminx", "tminy", "tmaxx", "tmaxy")
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )


def polygons_to_geojson(polygons: DataFrame) -> DataFrame:
    """S8: one GeoJSON Feature string per polygon row (value + area attrs,
    matching the reference's attribute schema {id,value,area}).  Coordinates
    carry the exterior ring followed by interior (hole) rings, per the
    GeoJSON Polygon spec — a donut must not cover its courtyard."""
    if "holes" in polygons.columns:
        rings = F.concat(
            F.array(F.col("ring")),
            F.coalesce(
                F.col("holes"), F.array().cast("array<array<array<double>>>")
            ),
        )
    else:  # hole-free producers (e.g. MBR-only paths)
        rings = F.array(F.col("ring"))
    coords = F.to_json(rings)
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("Polygon").alias("type"),
                rings.alias("coordinates"),
            ).alias("geometry"),
            F.struct(
                F.col("poly_id").alias("id"),
                F.col("value").alias("value"),
                F.col("area_m2").alias("area"),
            ).alias("properties"),
        )
    )
    return polygons.select(
        "image_id", "poly_id", feature.alias("geojson"), coords.alias("coordinates_json")
    )


def write_shapefile(polygons: DataFrame, path_base: str) -> int:
    """S8 literal-format sink: the reference's polygon shapefile with
    ``{id, value, Area}`` attributes (fiona schema
    /root/reference/src/postprocess.py:147-155; ogr fields :333-342).

    Shapefile is an inherently single-writer triple (.shp/.shx/.dbf), so
    rows stream through the driver via ``toLocalIterator`` — partition at a
    time, never the whole DataFrame — and this sink is for FINAL small
    vector products (the reference's own use).  The distributed vector sink
    is the parquet output of ``streaming.manifest.run_resumable``.  Returns
    the feature count."""
    has_holes = "holes" in polygons.columns
    cols = ["poly_id", "value", "area_m2", "ring"] + (
        ["holes"] if has_holes else []
    )

    def records():
        for r in polygons.select(*cols).toLocalIterator(prefetchPartitions=True):
            rings = [r["ring"]]
            if has_holes and r["holes"]:
                rings += list(r["holes"])
            yield rings, {
                "id": r["poly_id"], "value": r["value"], "Area": r["area_m2"]
            }

    return shp.write_polygon_shapefile(path_base, records())


def write_bucketed(df: DataFrame, table: str, buckets: int = 64) -> None:
    """Bucketed catalog sink (overwrite): co-locates rows by hash(image_id)
    at WRITE time, so every later equi-join or groupBy between tables
    bucketed on the same (image_id, buckets) runs with ZERO exchanges — the bucketing half of the
    §4.2 partitioning policy (tiles x labels, tiles x predictions, any
    repeated per-image join in a training pipeline).  Plan-tested:
    tests/test_sinks.py asserts the bucket join is shuffle-free."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, "image_id")
        .sortBy("image_id")
        .format("parquet")
        .saveAsTable(table)
    )


def write_geotiff_dir(
    images: DataFrame,
    out_dir: str,
    compression: str = "deflate",
) -> int:
    """S2 output parity: one georeferenced ``.tif`` per image row — the
    reference's prediction/mask raster output (``write_tif``,
    /root/reference/src/io.py:66-90).  Executor-parallel and
    coordination-free: each row becomes exactly one file named by its
    ``image_id``, so no two tasks ever write the same path (contrast the
    single-writer shapefile sink).  Inverse of
    ``catalog.load_raster_dir`` — a written directory loads back as the
    same table.

    Expects ``(image_id, bytes, w, h, fmt)`` plus georeference columns
    ``(ulx, uly, crs)``; pixels are transcoded from whatever ``fmt``
    they arrive in to GeoTIFF at the engine's 0.1 m cell size
    (config.py cell_size_m, reference config.py:13).  ``compression``:
    deflate (default, lossless — mask/label parity) or ``jpeg`` (quality
    95) for orthophoto-sized RGB output.  Returns the
    number of files written.
    """
    import os

    from ..config import DEFAULT_CONFIG
    from ..sources import codec, codec_tiff

    os.makedirs(out_dir, exist_ok=True)
    sx = DEFAULT_CONFIG.cell_size_m

    def _write(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            n = 0
            for r in pdf.itertuples(index=False):
                arr = codec.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
                blob = codec_tiff.encode_tiff(
                    arr,
                    compression=compression,
                    geo=(float(r.ulx), float(r.uly), sx, -sx, str(r.crs)),
                    level=6,  # durable sink keeps the high level (BENCH #10)
                )
                tmp = os.path.join(out_dir, f".{r.image_id}.tif.tmp")
                with open(tmp, "wb") as f:
                    f.write(blob)
                os.replace(tmp, os.path.join(out_dir, f"{r.image_id}.tif"))
                n += 1
            yield pd.DataFrame({"n": [n]})

    counts = images.select(
        "image_id", "bytes", "w", "h", "fmt", "ulx", "uly", "crs"
    ).mapInPandas(_write, schema="n long")
    return int(counts.agg(F.sum("n")).collect()[0][0] or 0)
