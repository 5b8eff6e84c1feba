"""Structured Streaming tile ingestion of the images table (SURVEY.md
§2.5 stretch goal — the reference is batch-only; this gives tiling an
incremental path: new image files land, tiles stream out).

``availableNow`` processes the current backlog then stops — the natural fit
for checkpointed batch-incremental tiling; continuous mode works the same
way minus the trigger."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from ..config import DEFAULT_CONFIG, EngineConfig
from ..operators.grid import gen_tiles

IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("phash", LongType()),
        StructField("ulx", DoubleType()),
        StructField("uly", DoubleType()),
        StructField("crs", StringType()),
    ]
)


def stream_tiles(
    spark: SparkSession,
    images_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    available_now: bool = True,
):
    """readStream(images parquet) -> gen_tiles -> writeStream(parquet).

    Returns the StreamingQuery; caller awaits termination.  Restarting with
    the same checkpoint resumes exactly where the last run stopped — the
    streaming twin of the manifest-based batch resume."""
    src = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(images_dir)
    )
    tiles = gen_tiles(src.drop("bytes"), cfg, with_geo=True).drop("fmt", "crs")
    writer = (
        tiles.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
