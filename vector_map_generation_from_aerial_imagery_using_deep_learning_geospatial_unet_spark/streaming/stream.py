"""Structured Streaming ingestion of the images table (SURVEY.md §2.5
stretch goal — the reference is batch-only; this gives the engine an
incremental path: new image files land, tiles stream out).

``availableNow`` processes the current backlog then stops — the natural fit
for checkpointed batch-incremental tiling; continuous mode works the same
way minus the trigger."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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


def stream_dedup_images(
    spark: SparkSession,
    images_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    available_now: bool = True,
):
    """Streaming exact-dedup on ``phash``: only the first arrival of each
    perceptual hash passes through.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only for the
    watermark horizon, so state is bounded at any ingest rate — the
    requirement for running this against an unbounded 10^12-image feed.
    Event time is the processing-side ingest timestamp: it is monotone
    across microbatches, so no row is ever behind the watermark and only
    true duplicates are dropped (a duplicate arriving more than
    ``watermark`` after its first copy would pass — the documented bounded
    horizon of dropDuplicatesWithinWatermark)."""
    from pyspark.sql import functions as F

    src = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(images_dir)
    )
    stamped = src.withColumn("ingest_ts", F.current_timestamp())
    # null keys compare equal in dropDuplicates* — images whose phash is
    # missing would collapse to one survivor; they bypass dedup instead
    deduped = (
        stamped.filter(F.col("phash").isNotNull())
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["phash"])
        .unionByName(stamped.filter(F.col("phash").isNull()))
        .drop("bytes")
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_image_completion(
    spark: SparkSession,
    tiles_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    timeout_ms: int = 60_000,
    available_now: bool = True,
):
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-image tile accumulator that emits one ``(image_id, n_tiles)`` row
    the moment every tile of that image's grid has arrived — the trigger a
    streaming deployment uses to start the stitch/postprocess stage for an
    image while later images are still uploading.

    State per image: (tiles_seen, tiles_expected).  Expected count comes
    from the tile rows themselves (nx*ny is derivable from (w, h)); state
    is dropped on emission, and — in continuous mode — a processing-time
    timeout emits stragglers as ``complete = false`` so abandoned uploads
    can't pin state forever.

    ``available_now=True`` runs with ``NoTimeout`` instead: a
    drain-the-backlog run has no meaningful processing-time horizon, and
    Spark's FlatMapGroupsWithStateExec.shouldRunAnotherBatch returns true
    UNCONDITIONALLY under ProcessingTimeTimeout, so an availableNow
    trigger would keep scheduling empty microbatches and never terminate
    (observed: 486 empty batches before this was caught by the driver
    gate).  Images still incomplete when the backlog drains simply stay
    out of the output — the batch-mode analogue of "not yet complete".
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.grid import tile_counts

    use_timeout = not available_now

    tile_schema = (
        "image_id string, tile_id string, tiy int, tix int, w int, h int"
    )
    src = (
        spark.readStream.schema(tile_schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(tiles_dir)
    )
    src = src.withColumn(
        "expected",
        F.expr(
            f"{tile_counts('w', cfg.tile_size, cfg.overlap_px)}"
            f" * {tile_counts('h', cfg.tile_size, cfg.overlap_px)}"
        ),
    )

    def track(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            (seen, expected) = state.get
            state.remove()
            yield pd.DataFrame(
                {"image_id": [key[0]], "n_tiles": [seen], "complete": [False]}
            )
            return
        seen, expected = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            seen += len(pdf)
            if len(pdf):
                expected = int(pdf["expected"].iloc[0])
        if expected >= 0 and seen >= expected:
            if state.exists:
                state.remove()
            yield pd.DataFrame(
                {"image_id": [key[0]], "n_tiles": [seen], "complete": [True]}
            )
        else:
            state.update((seen, expected))
            if use_timeout:
                state.setTimeoutDuration(timeout_ms)

    done = src.groupBy("image_id").applyInPandasWithState(
        track,
        outputStructType="image_id string, n_tiles long, complete boolean",
        stateStructType="seen long, expected long",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if use_timeout
            else GroupStateTimeout.NoTimeout
        ),
    )
    writer = (
        done.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_stats(
    spark: SparkSession,
    images_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "5 seconds",
    watermark: str = "0 seconds",
    available_now: bool = True,
    event_time_col: str | None = None,
    schema: StructType | None = None,
):
    """Watermarked windowed aggregation over the ingest stream: per
    event-time window, image count + total pixels + tile-grid size (the
    streaming metrics feed a deployment would watch).

    By default event time is the ingest timestamp (monotone across
    microbatches), so with the zero-delay default watermark no data is
    ever late-dropped: a window closes and emits exactly once (append
    mode) as soon as a later microbatch advances the watermark past its
    end; the tail window's partial flushes on the next trigger/restart.
    A deployment with a real upstream event-time column passes it as
    ``event_time_col`` (with ``schema`` describing the source files) and
    sets the watermark to its actual lateness bound — that path is what
    the driver gate exercises with deterministic event times."""
    from pyspark.sql import functions as F

    from ..operators.grid import tile_counts

    cfg = DEFAULT_CONFIG
    src = (
        spark.readStream.schema(schema or IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(images_dir)
    )
    ts = (
        F.col(event_time_col)
        if event_time_col
        else F.current_timestamp()
    )
    stats = (
        src.withColumn("ingest_ts", ts)
        .withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window))
        .agg(
            F.count("*").alias("images"),
            F.sum(F.col("w").cast("long") * F.col("h")).alias("pixels"),
            F.expr(
                f"sum(CAST({tile_counts('w', cfg.tile_size, cfg.overlap_px)} AS BIGINT)"
                f" * {tile_counts('h', cfg.tile_size, cfg.overlap_px)}) AS tiles"
            ),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "images", "pixels", "tiles",
        )
    )
    writer = (
        stats.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
