"""Raster dataflow operators: tile pixel slicing, overlap-stitch, mask
post-processing, polygonize — the Spark re-expression of the reference's
test.py inference pipeline stages (SURVEY.md §3.1).

Data layout: pixels live in ``bytes`` columns (png/raw via sources.codec);
every kernel crosses into Python as Arrow batches (``mapInPandas`` /
``applyInPandas``), never per-row UDFs.  Grouping key is always ``image_id``
— the reference's unbounded mosaic problem is bounded here because an
"image" is one row of the input table (SURVEY.md §4.3).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import kernels_morph as km
from ..functions import kernels_vector as kv
from ..sources import codec
from . import joins
from ._policy import ROW_ERRORS as _ROW_ERRORS
from ._policy import check_on_error as _check_on_error

TILE_SCHEMA = (
    "image_id string, tile_id string, tiy int, tix int, off_x int, off_y int, "
    "tw int, th int, w int, h int, ulx double, uly double, bytes binary, fmt string"
)


def slice_tiles(
    images: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    on_error: str = "fail",
) -> DataFrame:
    """O2/O3 pixel path: decode each image once, emit one row per tile with
    the window's encoded pixels (createTile's ReadRaster window copy,
    /root/reference/src/bf_gridding.py:545-560).

    The grid is enumerated *inside* the Arrow stage with the exact O1/O2/O8
    formulas (same closed forms as the JVM-side :func:`gen_tiles`; pinned
    equal by tests/test_seam_invariants.py).  Enumerating JVM-side and then
    shipping the exploded rows to Python would copy each image's ``bytes``
    into the Arrow batch once **per tile** (~40x amplification at the default
    grid) — here each image crosses the JVM->Python pipe exactly once and the
    windows are sliced as numpy views.  Tile payloads are re-encoded as png
    at zlib level 1: lossless, and this is an intermediate hop, not a
    durable sink.

    ``on_error='skip'`` drops images whose payload fails to decode
    (ValueError/NotImplementedError per the codec contract,
    operators/_policy.py) instead of failing the task — the tiling twin
    of the multimodal dead-letter policy; quarantine the corpus first
    with ``multimodal.pixel_sums(on_error='quarantine')`` when the bad
    rows themselves must be accounted for.
    """
    _check_on_error(on_error, allowed=("fail", "skip"))
    t = cfg.tile_size
    step = cfg.step_px

    # one image is ~minutes of downstream pixel work: spread rows across
    # 2x parallelism partitions or a narrow input (one parquet file, a
    # .limit(), a cached tiny table) serializes the whole pixel path
    src = _spread(
        images.select("image_id", "w", "h", "ulx", "uly", "bytes", "fmt"),
        "image_id",
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # masks are mostly background: a constant window's payload depends
        # only on its shape, dtype and value, so each one is encoded once
        # per task (no ascontiguousarray: the png encoder's scanline
        # filter already copies the strided view)
        constant: dict[tuple, bytes] = {}

        def encode_tile(win: np.ndarray) -> bytes:
            if not win.size or (win != win[0, 0]).any():
                return codec.encode(win, "png", level=1)
            key = (win.shape, win.dtype.str, win[0, 0].tobytes())
            blob = constant.get(key)
            if blob is None:
                blob = constant[key] = codec.encode(win, "png", level=1)
            return blob

        for pdf in batches:
            # columnar accumulation: building a pandas frame from one list
            # of 14-field tuples costs more than the pixel work itself at
            # ~400 tiles/image — per-column lists + a dict constructor keep
            # the Arrow hand-off allocation-flat
            cols: dict[str, list] = {
                k: []
                for k in (
                    "image_id", "tile_id", "tiy", "tix", "off_x", "off_y",
                    "tw", "th", "w", "h", "ulx", "uly", "bytes", "fmt",
                )
            }
            for r in pdf.itertuples(index=False):
                w, h = int(r.w), int(r.h)
                try:
                    arr = codec.decode(r.bytes, r.fmt, w, h)
                except _ROW_ERRORS:
                    if on_error == "fail":
                        raise
                    continue  # decode precedes every append: no partial image
                # O1 closed form (bf_gridding.py:104-120)
                nx = 1 + (max(w - t, 0) + step - 1) // step
                ny = 1 + (max(h - t, 0) + step - 1) // step
                digits = len(str(max(nx, ny)))
                n_tiles = nx * ny
                for tiy in range(1, ny + 1):      # y-then-x emission order
                    off_y = (tiy - 1) * step
                    th = min(t, h - off_y)
                    for tix in range(1, nx + 1):
                        off_x = (tix - 1) * step
                        tw = min(t, w - off_x)
                        win = arr[off_y : off_y + th, off_x : off_x + tw]
                        cols["tile_id"].append(
                            f"{r.image_id}_{tiy:0{digits}d}_{tix:0{digits}d}"
                        )
                        cols["tiy"].append(tiy)
                        cols["tix"].append(tix)
                        cols["off_x"].append(off_x)
                        cols["off_y"].append(off_y)
                        cols["tw"].append(tw)
                        cols["th"].append(th)
                        cols["bytes"].append(encode_tile(win))
                cols["image_id"].extend([r.image_id] * n_tiles)
                cols["w"].extend([w] * n_tiles)
                cols["h"].extend([h] * n_tiles)
                cols["ulx"].extend([float(r.ulx)] * n_tiles)
                cols["uly"].extend([float(r.uly)] * n_tiles)
                cols["fmt"].extend(["png"] * n_tiles)
            yield pd.DataFrame(cols)

    return src.mapInPandas(run, schema=TILE_SCHEMA)


WINDOW_SCHEMA = (
    "image_id string, wx0 int, wy0 int, ww int, wh int, bytes binary, fmt string"
)


def read_windows(
    images: DataFrame,
    windows: DataFrame,
    tile_fmt: str = "png",
    on_error: str = "fail",
) -> DataFrame:
    """Training-chip extraction at coordinates: decode the requested pixel
    windows ``(image_id, wx0, wy0, ww, wh)`` out of each raster and emit
    one encoded chip per window — the sampling step of a segmentation
    training pipeline (chips at label locations), and the point-lookup
    twin of :func:`slice_tiles`'s full-grid sweep.

    Plan: the window list is grouped per image FIRST (``collect_list``)
    and joined to the raster table on ``image_id``, so each image's
    ``bytes`` crosses the JVM->Python pipe exactly once no matter how
    many chips it serves (joining raw would copy the blob per window).
    TIFF payloads go through :func:`codec_tiff.decode_tiff_window` —
    entropy-decoding only the internal strips/tiles each window touches,
    O(window) per chip on a tiled GeoTIFF (tools/bench_cog_window.py:
    ~70x on a 512px chip of an 8192px scene); other formats decode the
    raster once and slice all chips as numpy views.

    ``on_error``: 'fail' raises on an undecodable payload or an
    out-of-bounds window; 'skip' drops that image's chips / that window.
    """
    _check_on_error(on_error, allowed=("fail", "skip"))
    from ..sources import codec_tiff

    wins = windows.groupBy("image_id").agg(
        F.collect_list(F.struct("wx0", "wy0", "ww", "wh")).alias("wins")
    )
    # spread the BLOB side before the join at exactly the shuffle-partition
    # count: a sort-merge join's distribution requirement is then already
    # satisfied, so the image bytes cross exactly ONE exchange.  The merge
    # hint matters: Catalyst sizes a mapInPandas output from its (tiny)
    # parquet input and would BROADCAST THE BLOB SIDE — every scene's bytes
    # to every executor.  SMJ is safe at every scale, adds zero exchanges
    # here (both sides already hash on image_id), and AQE may still demote
    # it to broadcast at runtime from ACCURATE sizes — which picks the
    # window-list side, the right one.
    n = int(images.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    src = _spread(
        images.select("image_id", "bytes", "fmt", "w", "h"), "image_id", n=n
    ).hint("merge").join(wins, "image_id")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {
                k: [] for k in ("image_id", "wx0", "wy0", "ww", "wh", "bytes")
            }
            for r in pdf.itertuples(index=False):
                blob, fmt = bytes(r.bytes), r.fmt
                full = None
                if fmt not in ("tif", "tiff"):
                    try:
                        full = codec.decode(blob, fmt, int(r.w), int(r.h))
                    except _ROW_ERRORS:
                        if on_error == "fail":
                            raise
                        continue
                for d in r.wins:
                    x0, y0, ww, wh = (
                        int(d["wx0"]), int(d["wy0"]), int(d["ww"]), int(d["wh"])
                    )
                    try:
                        if full is None:
                            chip = codec_tiff.decode_tiff_window(
                                blob, x0, y0, ww, wh
                            )
                        else:
                            if (
                                x0 < 0 or y0 < 0 or ww <= 0 or wh <= 0
                                or y0 + wh > full.shape[0]
                                or x0 + ww > full.shape[1]
                            ):
                                raise ValueError("window outside raster bounds")
                            chip = full[y0 : y0 + wh, x0 : x0 + ww]
                    except _ROW_ERRORS:
                        if on_error == "fail":
                            raise
                        continue
                    cols["image_id"].append(r.image_id)
                    cols["wx0"].append(x0)
                    cols["wy0"].append(y0)
                    cols["ww"].append(ww)
                    cols["wh"].append(wh)
                    cols["bytes"].append(
                        codec.encode(np.ascontiguousarray(chip), tile_fmt, level=1)
                    )
            n = len(cols["image_id"])
            cols["fmt"] = [tile_fmt] * n
            yield pd.DataFrame(cols)

    return src.mapInPandas(run, schema=WINDOW_SCHEMA)


def box_windows(
    images_meta: DataFrame,
    boxes: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """World-coordinate chip requests -> per-image pixel windows.

    ``boxes`` carries ``(box_id, minx, miny, maxx, maxy)`` in model
    coordinates; each box is matched to every image footprint it
    strictly overlaps (cell-index equi-join via
    :func:`joins.bbox_range_join` — no cartesian at any corpus scale,
    on ``WORLD_GRID``) and the world
    intersection is mapped through the north-up geotransform to a
    clamped pixel window: the ``-projwin`` / ReadRaster(geo) access the
    reference performs per scene inside GDAL (createTile's window copy,
    /root/reference/src/bf_gridding.py:545-560).  Output
    ``(image_id, box_id, wx0, wy0, ww, wh)`` feeds :func:`read_windows`.

    Pixel snapping is outward (floor / ceil): the window COVERS the
    requested box, GDAL's default."""
    from ..functions.cellindex import WORLD_GRID

    from .grid import image_extents

    cell = cfg.cell_size_m
    ext = image_extents(
        images_meta.select("image_id", "w", "h", "ulx", "uly"), cfg
    )
    pairs = joins.bbox_range_join(
        ext, boxes, WORLD_GRID, lprefix="i_", rprefix="b_"
    )
    ix0 = F.greatest("i_minx", "b_minx")
    ix1 = F.least("i_maxx", "b_maxx")
    iy0 = F.greatest("i_miny", "b_miny")
    iy1 = F.least("i_maxy", "b_maxy")
    # epsilon before the outward snap (GDAL does the same): a box edge
    # sitting EXACTLY on a pixel boundary must not grab the next pixel
    # when the division lands at 16.0000000000002
    eps = 1e-6
    wx0 = F.greatest(F.floor((ix0 - F.col("i_ulx")) / cell + eps), F.lit(0))
    wx1 = F.least(
        F.ceil((ix1 - F.col("i_ulx")) / cell - eps), F.col("i_w").cast("long")
    )
    wy0 = F.greatest(F.floor((F.col("i_uly") - iy1) / cell + eps), F.lit(0))
    wy1 = F.least(
        F.ceil((F.col("i_uly") - iy0) / cell - eps), F.col("i_h").cast("long")
    )
    return (
        pairs.select(
            F.col("i_image_id").alias("image_id"),
            F.col("b_box_id").alias("box_id"),
            wx0.cast("int").alias("wx0"),
            wy0.cast("int").alias("wy0"),
            (wx1 - wx0).cast("int").alias("ww"),
            (wy1 - wy0).cast("int").alias("wh"),
        )
        # strictly-tangent boxes can snap to an empty pixel range
        .filter((F.col("ww") > 0) & (F.col("wh") > 0))
    )


def read_boxes(
    images: DataFrame,
    boxes: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    on_error: str = "fail",
) -> DataFrame:
    """:func:`box_windows` |> :func:`read_windows`: chips for a table of
    world-coordinate boxes, straight off the raster corpus.  Re-join the
    result to ``box_windows(...)`` on (image_id, wx0, wy0, ww, wh) when
    the box_id mapping is needed downstream."""
    wins = box_windows(
        images.select("image_id", "w", "h", "ulx", "uly"), boxes, cfg
    ).select("image_id", "wx0", "wy0", "ww", "wh")
    return read_windows(images, wins, on_error=on_error)


def zonal_stats(
    images: DataFrame,
    zones: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    on_error: str = "fail",
) -> DataFrame:
    """Zonal statistics: per-zone pixel aggregates over the raster corpus
    — the classic raster x vector analysis (GDAL's gdal_rasterize +
    stats / rasterstats.zonal_stats), which the reference approximates
    scene-by-scene in driver code when it thresholds predictions
    (/root/reference/src/postprocess.py).  ``zones`` carries
    ``(zone_id, minx, miny, maxx, maxy)`` world rectangles; a zone may
    span MANY images and an image many zones.

    Output one row per zone that overlaps any raster:
    ``(zone_id, n_images, n_px, fg_px, sum_val)`` — image count, pixel
    count of all intersected windows, foreground pixels (plane > 0) and
    value sum of channel 0 (the mask/prediction plane).

    Plan: :func:`box_windows` maps zones to per-image pixel windows
    (cell-index spatial join, no cartesian); windows group per image
    (``collect_list``) so each image's bytes cross the JVM->Python pipe
    once; the per-window reduction happens INSIDE the decode pass (only
    5 ints per window leave Python, never chip pixels); the zone rollup
    is a plain map-side-combinable groupBy.  At 10^12 images the shuffle
    is O(zone-image pairs), not pixels.  ``on_error``: 'fail' | 'skip'
    (an undecodable image drops its windows)."""
    envelopes = zones.select(
        F.col("zone_id").alias("box_id"), "minx", "miny", "maxx", "maxy"
    )
    return _zonal(images, envelopes, cfg, on_error, polygons=False)


def zonal_stats_poly(
    images: DataFrame,
    zones: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    on_error: str = "fail",
) -> DataFrame:
    """Polygon-zone twin of :func:`zonal_stats`: zones are simple
    polygons ``(zone_id, xs array<double>, ys array<double>)`` in world
    coordinates (closing edge implicit) — e.g. building footprints —
    and a pixel counts when its CENTER lies inside the polygon
    (``functions/kernels_vector.pip_grid``, the raster-side analogue of
    the join-side ray-cast refinement).

    Plan shape is zonal_stats' with one extra refine step: the
    polygon's envelope drives the cell-index spatial join and the
    outward window snap; inside the decode pass each window additionally
    masks by per-pixel-center PIP before reducing, so still only 4 ints
    per (image, zone) window leave Python.  Same output schema
    (``n_px`` now counts center-inside pixels)."""
    envelopes = zones.select(
        F.col("zone_id").alias("box_id"),
        F.array_min("xs").alias("minx"),
        F.array_min("ys").alias("miny"),
        F.array_max("xs").alias("maxx"),
        F.array_max("ys").alias("maxy"),
        "xs",
        "ys",
    )
    return _zonal(images, envelopes, cfg, on_error, polygons=True)


def _zonal(
    images: DataFrame,
    zones: DataFrame,
    cfg: EngineConfig,
    on_error: str,
    polygons: bool,
) -> DataFrame:
    """Shared body of :func:`zonal_stats` and :func:`zonal_stats_poly`.
    ``zones`` carries ``(box_id, minx, miny, maxx, maxy)``, plus the
    vertex rings ``xs``/``ys`` when ``polygons``: each window is then
    masked to the pixels whose center lies inside its ring, and a
    window with no such pixel emits no row."""
    _check_on_error(on_error, allowed=("fail", "skip"))
    ring = ("xs", "ys") if polygons else ()
    wins = box_windows(
        images.select("image_id", "w", "h", "ulx", "uly"),
        zones.select("box_id", "minx", "miny", "maxx", "maxy"),
        cfg,
    )
    if polygons:
        wins = wins.join(zones.select("box_id", *ring), "box_id")
    grouped = wins.groupBy("image_id").agg(
        F.collect_list(
            F.struct("box_id", "wx0", "wy0", "ww", "wh", *ring)
        ).alias("wins")
    )
    n = int(images.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    geo = ("ulx", "uly") if polygons else ()
    src = _spread(
        images.select("image_id", "bytes", "fmt", "w", "h", *geo),
        "image_id",
        n=n,
    ).hint("merge").join(grouped, "image_id")
    cell = cfg.cell_size_m

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    full = codec.decode(
                        bytes(r.bytes), r.fmt, int(r.w), int(r.h)
                    )
                except _ROW_ERRORS:
                    if on_error == "fail":
                        raise
                    continue
                plane = full[:, :, 0] if full.ndim == 3 else full
                for d in r.wins:
                    x0, y0, ww, wh = (
                        int(d["wx0"]), int(d["wy0"]), int(d["ww"]), int(d["wh"])
                    )
                    if (
                        x0 < 0 or y0 < 0 or ww <= 0 or wh <= 0
                        or y0 + wh > plane.shape[0] or x0 + ww > plane.shape[1]
                    ):
                        if on_error == "fail":
                            raise ValueError("window outside raster bounds")
                        continue
                    vals, n_px = plane[y0 : y0 + wh, x0 : x0 + ww], ww * wh
                    if polygons:
                        px = float(r.ulx) + (x0 + np.arange(ww) + 0.5) * cell
                        py = float(r.uly) - (y0 + np.arange(wh) + 0.5) * cell
                        mask = kv.pip_grid(d["xs"], d["ys"], px, py)
                        if not mask.any():
                            continue
                        vals, n_px = vals[mask], int(mask.sum(dtype=np.int64))
                    rows.append(
                        (
                            d["box_id"],
                            n_px,
                            int((vals > 0).sum(dtype=np.int64)),
                            int(vals.sum(dtype=np.int64)),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["zone_id", "n_px", "fg_px", "sum_val"]
            )

    per_window = src.mapInPandas(
        run, schema="zone_id string, n_px long, fg_px long, sum_val long"
    )
    return per_window.groupBy("zone_id").agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum("n_px").alias("n_px"),
        F.sum("fg_px").alias("fg_px"),
        F.sum("sum_val").alias("sum_val"),
    )


def _spread(df: DataFrame, *cols: str, n: int | None = None) -> DataFrame:
    """Explicit hash repartition ahead of CPU-heavy Python stages.

    AQE coalesces shuffles by *bytes*, which under-parallelizes pixel
    kernels whose payloads compress to near nothing; an explicit N is
    respected by AQE, and a following groupBy on the same keys reuses the
    partitioning (no second exchange)."""
    n = n or df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(n, *[F.col(c) for c in cols])


def _stitch_canvas(
    pdf: pd.DataFrame, nodata: float | None = None
) -> tuple[np.ndarray, int, int]:
    """Assemble one image group's tiles into the full canvas (S5 inverse of
    O2): (tiy, tix) ascending, later tile wins on overlap.  Shared by
    stitch_tiles and the fused tiles_to_polygons so the seam rule lives in
    exactly one place.

    ``nodata`` mirrors gdalbuildvrt's VRTNodata=-9999
    (/root/reference/src/io.py:184-188): pixels equal to ``nodata`` in a
    later tile do NOT overwrite earlier data.  Default None =
    unconditional later-tile-wins — a DOCUMENTED DEVIATION that is
    result-identical for same-image tile grids (every overlapping pixel
    holds the same value, the only stitch this engine performs; pinned by
    test_seam_invariants), and cheaper: no per-tile mask materialized."""
    pdf = pdf.sort_values(["tiy", "tix"])
    w, h = int(pdf["w"].iloc[0]), int(pdf["h"].iloc[0])
    first = codec.decode(
        pdf["bytes"].iloc[0], pdf["fmt"].iloc[0],
        int(pdf["tw"].iloc[0]), int(pdf["th"].iloc[0]),
    )
    shape = (h, w) if first.ndim == 2 else (h, w, first.shape[2])
    canvas = np.zeros(shape, dtype=first.dtype)
    for r in pdf.itertuples(index=False):
        arr = codec.decode(r.bytes, r.fmt, int(r.tw), int(r.th))
        win = canvas[r.off_y : r.off_y + r.th, r.off_x : r.off_x + r.tw]
        if nodata is None:
            win[...] = arr
        else:
            valid = arr != nodata
            win[valid] = arr[valid]
    return canvas, w, h


def stitch_tiles(tiles: DataFrame, nodata: float | None = None) -> DataFrame:
    """S5 mosaic as the exact inverse of O2: place tile (tiy, tix) at
    (off_y, off_x); later tiles in (tiy, tix) order win on overlap — the
    gdal.BuildVRT later-file-wins rule with tileImage's y-then-x emission
    (/root/reference/src/io.py:175-196, src/bf_gridding.py:363-379).
    ``nodata=-9999`` reproduces the reference's VRTNodata skip exactly; the
    default None deviates (unconditional overwrite) and is result-identical
    for same-image grids — see :func:`_stitch_canvas`.

    The canvas is re-encoded as png at zlib level 1 (lossless): the
    stitched plane feeds the next pixel stage, not a durable sink."""

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        canvas, w, h = _stitch_canvas(pdf, nodata=nodata)
        return pd.DataFrame(
            {
                "image_id": [key[0]],
                "bytes": [codec.encode(canvas, "png", level=1)],
                "w": [w], "h": [h], "fmt": ["png"],
                "ulx": [float(pdf["ulx"].iloc[0])],
                "uly": [float(pdf["uly"].iloc[0])],
            }
        )

    return _spread(tiles, "image_id").groupBy("image_id").applyInPandas(
        assemble,
        schema="image_id string, bytes binary, w int, h int, fmt string, "
        "ulx double, uly double",
    )


def threshold_mask(images: DataFrame) -> DataFrame:
    """M7: grey plane -> {0, 255} mask (np.round at 0.5, x255;
    /root/reference/test.py:241-248).  Uint8 inputs are mapped >=128 -> 255."""
    return _map_pixels(images, _binarize)


def _binarize(a: np.ndarray) -> np.ndarray:
    """The M7 threshold: >= 128 -> 255, else 0, as uint8."""
    # compare-then-multiply, not np.where: where() materializes an int64
    # intermediate (~8x the bytes) — measured ~7x slower on large planes
    return (a >= 128).astype(np.uint8) * 255


def erosion_stage(
    images: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """P1: 3x3 open + remove_small_objects (src/postprocess.py:159-189)."""
    return _map_pixels(
        images,
        # output is still a binary mask -> uint8 (4x narrower Arrow rows
        # than an int32 plane; label stages are the ones that need int32)
        lambda a: km.erosion_clean(
            a, cfg.erosion_filter, cfg.min_object_area_px
        ).astype(np.uint8),
    )


def skeletonize_stage(
    images: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """P2 linear-feature path (src/postprocess.py:193-217): binarize,
    dilate skeletonize_filter x skeletonize_filter (=5), thin to the 1-px
    medial line, x255 — behind the reference's ``linearFeature`` flag
    (test.py:357-384)."""

    def kern(a: np.ndarray) -> np.ndarray:
        binary = (a != 0).astype(np.uint8) * 255
        fat = km.dilate(binary, cfg.skeletonize_filter)
        return (km.skeletonize(fat).astype(np.uint8) * 255).astype(np.uint8)

    return _map_pixels(images, kern)


def skeleton_paths(
    skel_images: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Vectorize skeleton planes (P2 output) into world-coordinate
    centerline polylines — the step the reference leaves as raster
    (src/postprocess.py:193-217 writes the skeleton pixels back out):
    8-connected chain tracing (kernels_vector.trace_skeleton_paths),
    exact collinear merge, pixel centers -> geo via the per-image
    origin.  One Arrow hop per image; output rows (image_id, path_id,
    n_px, n_vertices, path) feed simplify (P5) and the vector sinks
    (S8).  Path enumeration is deterministic (nodes visited in sorted
    pixel order)."""
    cell = cfg.cell_size_m
    schema = (
        "image_id string, path_id int, n_px long, n_vertices int, "
        "path array<array<double>>"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                skel = _decode_any(r.bytes, r.fmt, r.w, r.h)
                ulx, uly = float(r.ulx), float(r.uly)
                for pid, chain in enumerate(
                    kv.trace_skeleton_paths(skel, simplify=False), start=1
                ):
                    geom = kv._collinear_merge(chain)
                    world = [
                        [ulx + (c + 0.5) * cell, uly - (rw + 0.5) * cell]
                        for c, rw in geom.tolist()
                    ]
                    # pure cycles (ring roads) repeat the start pixel as
                    # a closing vertex — n_px counts DISTINCT pixels, so
                    # subtract the duplicate
                    n_px = len(chain)
                    if n_px > 1 and (chain[0] == chain[-1]).all():
                        n_px -= 1
                    rows.append(
                        (r.image_id, pid, n_px, len(geom), world)
                    )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "path_id", "n_px", "n_vertices",
                         "path"],
            )

    return skel_images.mapInPandas(run, schema=schema)


def cc_label_stage(images: DataFrame, connectivity: int = 1) -> DataFrame:
    """Connected-component instance labels (ndi.label semantics)."""
    return _map_pixels(images, lambda a: km.label(a, connectivity).astype(np.int32))


def watershed_stage(
    images: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """P3 watershed separation (src/postprocess.py:221-270)."""
    return _map_pixels(
        images,
        lambda a: km.watershed_segmentation(
            a,
            cell_size=cfg.cell_size_m,
            min_distance_m=cfg.min_distance_watershed_m,
            neighbour=cfg.watershed_neighbour,
        ).astype(np.int32),
    )


def postprocess_stage(
    images: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    separation: str = "cc",
) -> DataFrame:
    """Fused M7+P1+(P3|CC): threshold -> 3x3 open+area filter -> instance
    labels, one Arrow crossing per image instead of three.  Semantics are
    byte-identical to chaining threshold_mask | erosion_stage |
    (watershed_stage | cc_label_stage) — tests pin the equivalence; the fused
    form exists because each mapInPandas hop re-serializes the full pixel
    plane over the JVM<->Python pipe."""

    return _map_pixels(images, lambda a: _mask_to_labels(a, cfg, separation))


def _mask_to_labels(
    arr: np.ndarray, cfg: EngineConfig, separation: str
) -> np.ndarray:
    """M7+P1+(P3|CC) kernel chain on one decoded plane."""
    cleaned = km.erosion_clean(
        _binarize(arr), cfg.erosion_filter, cfg.min_object_area_px
    )
    if separation == "watershed":
        return km.watershed_segmentation(
            cleaned,
            cell_size=cfg.cell_size_m,
            min_distance_m=cfg.min_distance_watershed_m,
            neighbour=cfg.watershed_neighbour,
        ).astype(np.int32)
    return km.label(cleaned, connectivity=1).astype(np.int32)


def _map_pixels(images: DataFrame, fn) -> DataFrame:
    """Apply an array->array kernel to every image row (Arrow-batched).

    uint8 outputs (masks) re-encode as png level 1 — mask planes compress
    ~100x, so the Arrow pipe and any downstream shuffle move KBs, not the
    raw plane.  Wider dtypes (int32 label planes) stay raw ``npy:``."""
    cols = images.columns
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in images.schema.fields
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                d = r._asdict()
                arr = _decode_any(d["bytes"], d["fmt"], d["w"], d["h"])
                out = fn(arr)
                if out.dtype == np.uint8:
                    d["bytes"] = codec.encode(out, "png", level=1)
                    d["fmt"] = "png"
                else:
                    d["bytes"] = out.tobytes()
                    d["fmt"] = f"npy:{out.dtype.str}"
                rows.append(d)
            yield pd.DataFrame(rows, columns=cols)

    return images.mapInPandas(run, schema=schema)


def _decode_any(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt.startswith("npy:"):
        return np.frombuffer(bytes(data), dtype=np.dtype(fmt[4:])).reshape(h, w)
    return codec.decode(bytes(data), fmt, w, h)


POLYGON_SCHEMA = (
    "image_id string, poly_id int, value int, ring array<array<double>>, "
    "holes array<array<array<double>>>, n_holes int, area_m2 double, "
    "mbr array<array<double>>, mbr_area_m2 double"
)


def polygonize_stage(
    label_images: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """P4+P5+P6+P7+P8 fused per image: polygonize the label plane, drop
    value==0 (src/postprocess.py:303), simplify (eps=0.7 m), shoelace area
    (round 2dp), minimum rotated rect + its area.

    ``poly_id`` restarts at 1 per image in (value, trace) order — the
    reference's per-file feature index (src/postprocess.py:334-341)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                labels = _decode_any(r.bytes, r.fmt, r.w, r.h)
                rows.extend(
                    _polygon_rows(
                        r.image_id, labels, float(r.ulx), float(r.uly), cfg
                    )
                )
            yield pd.DataFrame(rows, columns=_POLYGON_COLS)

    return label_images.mapInPandas(run, schema=POLYGON_SCHEMA)


_POLYGON_COLS = [
    "image_id", "poly_id", "value", "ring", "holes", "n_holes",
    "area_m2", "mbr", "mbr_area_m2",
]


def _polygon_rows(
    image_id: str, labels: np.ndarray, ulx: float, uly: float, cfg: EngineConfig
) -> list[tuple]:
    """P4-P8 on one label plane -> polygon row tuples (_POLYGON_COLS order)."""
    eps = cfg.simplify_tolerance_m
    gt = (ulx, cfg.cell_size_m, 0.0, uly, 0.0, -cfg.cell_size_m)
    rows = []
    pid = 0
    for poly in kv.polygonize(labels, gt):
        if poly["value"] <= 0:
            continue
        pid += 1
        ring = kv.simplify_ring(poly["ring"], eps)
        holes = [kv.simplify_ring(hh, eps) for hh in poly["holes"]]
        area = kv.polygon_area(ring[:, 0], ring[:, 1])
        mbr = kv.minimum_bounding_rectangle(ring[:-1])
        mbr_area = kv.polygon_area(mbr[:, 0], mbr[:, 1])
        rows.append(
            (
                image_id, pid, int(poly["value"]),
                [list(map(float, v)) for v in ring],
                [[list(map(float, v)) for v in hh] for hh in holes],
                len(poly["holes"]), float(area),
                [list(map(float, v)) for v in mbr], float(mbr_area),
            )
        )
    return rows


def tiles_to_polygons(
    tiles: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    separation: str = "cc",
) -> DataFrame:
    """Fully-fused S5+M7+P1+(P3|CC)+P4-P8: tile group -> stitched canvas ->
    instance labels -> polygon rows, in ONE ``applyInPandas`` hop.

    Result-identical to ``stitch_tiles | postprocess_stage |
    polygonize_stage`` (tests pin it), but the stitched plane and the int32
    label plane never cross the JVM<->Python pipe — at 4 Mpx that saves two
    ~16 MB Arrow round-trips per image, which dominates the unfused plan's
    wall time."""

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        canvas, _, _ = _stitch_canvas(pdf)
        labels = _mask_to_labels(canvas, cfg, separation)
        rows = _polygon_rows(
            key[0], labels, float(pdf["ulx"].iloc[0]),
            float(pdf["uly"].iloc[0]), cfg,
        )
        return pd.DataFrame(rows, columns=_POLYGON_COLS)

    return (
        _spread(tiles, "image_id")
        .groupBy("image_id")
        .applyInPandas(assemble, schema=POLYGON_SCHEMA)
    )


def label_stats(labels: DataFrame) -> DataFrame:
    """Per-image stats of an instance-label plane: region count + foreground
    pixel count (+ area at 0.1 m cells).  The oracle gate for watershed
    separation: counts and total area are analytic even though the seam
    pixels' side is an implementation detail (ties on the flat bridge EDT)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                lab = _decode_any(r.bytes, r.fmt, int(r.w), int(r.h))
                fg = int((lab > 0).sum())
                rows.append(
                    (r.image_id, int(len(np.unique(lab[lab > 0]))), fg)
                )
            yield pd.DataFrame(rows, columns=["image_id", "n_regions", "fg_px"])

    out = labels.mapInPandas(
        run, schema="image_id string, n_regions int, fg_px long"
    )
    return out.withColumn(
        "area_m2", F.round(F.col("fg_px") * F.lit(1e-2), 2)
    )


def dice_jaccard_self(images: DataFrame, kernel) -> DataFrame:
    """M8 global Dice/Jaccard (src/metric.py:31-51) when prediction is a
    pure function of the truth image (the evaluate-my-own-transform case):
    decode each row ONCE, apply ``kernel`` in-process, emit the three
    partial sums — no second table, no join, no caching of the byte
    column — then one global partial+final aggregation in Catalyst."""

    def sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                b = _decode_any(r.bytes, r.fmt, r.w, r.h)
                a = kernel(b)
                rows.append(
                    (
                        float(((a != 0) & (b != 0)).sum()),
                        float((a != 0).sum()),
                        float((b != 0).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=["xy", "x", "y"])

    s = images.mapInPandas(sums, schema="xy double, x double, y double").agg(
        F.sum("xy").alias("sxy"), F.sum("x").alias("sx"), F.sum("y").alias("sy")
    )
    return s.select(
        (2.0 * F.col("sxy") / (F.col("sx") + F.col("sy") + 1.0)).alias("dice"),
        (F.col("sxy") / (F.col("sx") + F.col("sy") - F.col("sxy") + 1.0)).alias(
            "jaccard"
        ),
    )

