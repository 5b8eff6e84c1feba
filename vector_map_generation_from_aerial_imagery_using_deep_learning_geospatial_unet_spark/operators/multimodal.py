"""Multimodal binary-column operators: image payloads as opaque
``binary`` columns with typed metadata; decode / feature-extract / resize
as Arrow UDFs over ``mapInPandas``.

The engine decodes image payloads only, with no image libraries:
png/raw/jpeg/tiff decode through :func:`sources.codec.decode` and our own
pure-numpy codecs (baseline JFIF in ``sources/codec_jpeg.py``, TIFF and
GeoTIFF in ``codec_tiff.py``).  Any other ``fmt`` raises
``ValueError('unknown fmt ...')``; the row's ``on_error`` policy handles
it like any other undecodable payload.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.kernels_resample import resize_bilinear
from ..sources import codec

# Per-row error policy (operators/_policy.py): 'fail' | 'skip' |
# 'quarantine' — see that module's docstring for the full contract.
from ._policy import (
    check_on_error as _check_on_error,
    guarded_rows as _guarded_rows,
    rows_frame as _rows_frame,
)


def quarantine_stats(df: DataFrame) -> DataFrame:
    """Dead-letter observability: (error_type, n) over a quarantined
    output — the per-exception-type census an ingest audit reports
    alongside its good-row counts.  Pure groupBy; the error column's
    "ExcType: message" prefix is split JVM-side."""
    return (
        df.filter(F.col("error").isNotNull())
        .groupBy(
            F.substring_index(F.col("error"), ":", 1).alias("error_type")
        )
        .agg(F.count("*").alias("n"))
    )


def decode_features(
    images: DataFrame,
    resize_to: int = 200,
    on_error: str = "fail",
) -> DataFrame:
    """images -> per-row decoded features: resized thumbnail stats +
    channel means — the feature-extraction plumbing of a training-data
    pipeline (decode -> resize -> embed), with the embed step represented by
    deterministic pixel statistics.  ``on_error``: see module policy."""
    _check_on_error(on_error)
    cols = [
        "image_id", "n_px", "mean_r", "mean_g", "mean_b",
        "thumb_mean", "nonzero_frac",
    ]
    schema = (
        "image_id string, n_px long, mean_r double, mean_g double, "
        "mean_b double, thumb_mean double, nonzero_frac double"
    )
    if on_error == "quarantine":
        schema += ", error string"

    def one(r):
        arr = codec.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
        if arr.ndim == 2:
            arr = np.stack([arr] * 3, axis=-1)
        thumb = resize_bilinear(arr, resize_to, resize_to)
        return (
            r.image_id,
            int(arr.shape[0] * arr.shape[1]),
            float(arr[:, :, 0].mean()),
            float(arr[:, :, 1].mean()),
            float(arr[:, :, 2].mean()),
            float(thumb.mean()),
            float((arr != 0).mean()),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = _guarded_rows(pdf, one, "image_id", 6, on_error)
            yield _rows_frame(rows, cols, on_error)

    return images.mapInPandas(run, schema=schema)


def pixel_sums(images: DataFrame, on_error: str = "fail") -> DataFrame:
    """Exact-decode gate: per-image integer channel sums.

    Every pixel of the decoded payload enters an int64 sum per channel, so
    a single flipped byte anywhere in decode (codec framing, scanline
    unfilter, channel order, blob overwrite) breaks the oracle — and the
    synthetic render_rgb content is closed-form, so the DuckDB twin
    computes the same sums from pure arithmetic (separable gradient +
    rect overwrites).  ``on_error``: see module policy."""
    _check_on_error(on_error)
    cols = ["image_id", "n_px", "sum_r", "sum_g", "sum_b"]
    schema = (
        "image_id string, n_px long, sum_r long, sum_g long, sum_b long"
    )
    if on_error == "quarantine":
        schema += ", error string"

    def one(r):
        arr = codec.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
        if arr.ndim == 2:
            arr = np.stack([arr] * 3, axis=-1)
        s = arr.reshape(-1, arr.shape[2]).sum(axis=0, dtype=np.int64)
        return (
            r.image_id,
            int(arr.shape[0] * arr.shape[1]),
            int(s[0]), int(s[1]), int(s[2]),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = _guarded_rows(pdf, one, "image_id", 4, on_error)
            yield _rows_frame(rows, cols, on_error)

    return images.mapInPandas(run, schema=schema)


def elev_stats(images: DataFrame, on_error: str = "fail") -> DataFrame:
    """16-bit single-band raster gate (DEM/elevation layout): per-image
    int64 elevation sum plus row- and column-weighted sums.

    The weighted moments make the oracle POSITION-sensitive: an Adam7
    pass scattered to the wrong rows/columns preserves the plain sum but
    breaks ``sum_wy``/``sum_wx``, so interlace reassembly bugs cannot
    hide.  Closed-form for the separable render_dem16 plane.  Replaces
    the reference's GDAL DEM read (``read_tif``,
    /root/reference/src/io.py:41-63).  ``on_error``: see module policy."""
    _check_on_error(on_error)
    cols = ["image_id", "n_px", "sum_elev", "sum_wy", "sum_wx"]
    schema = (
        "image_id string, n_px long, sum_elev long, sum_wy long, sum_wx long"
    )
    if on_error == "quarantine":
        schema += ", error string"

    def one(r):
        arr = codec.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
        if arr.ndim != 2:
            raise ValueError(f"elev_stats wants a single band, got {arr.shape}")
        a = arr.astype(np.int64, copy=False)
        h, w = a.shape
        rows_sum = a.sum(axis=1)          # int64 per-row totals
        cols_sum = a.sum(axis=0)
        return (
            r.image_id,
            int(h * w),
            int(rows_sum.sum()),
            int((rows_sum * np.arange(h, dtype=np.int64)).sum()),
            int((cols_sum * np.arange(w, dtype=np.int64)).sum()),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = _guarded_rows(pdf, one, "image_id", 4, on_error)
            yield _rows_frame(rows, cols, on_error)

    return images.mapInPandas(run, schema=schema)
