"""Kernel layers that run inside Python workers, replayed in this process.

The workers' own time shows only as ``pythonTotalTime`` of a whole pandas
stage.  To split it, the public kernel functions are called here on a
fixed sample of the corpus (the first images by ``image_id``), each
repeated until it has run for at least ``MIN_S`` seconds.
"""

from __future__ import annotations

import time

import numpy as np

import vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark as vm
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import kernels_morph as km
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import kernels_vector as kv
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec

CFG = vm.DEFAULT_CONFIG
SAMPLE = 8
MIN_S = 0.3


def _timed(fn, items) -> tuple[float, int]:
    """(seconds, passes over ``items``) of calling ``fn`` on every item."""
    passes, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        passes += 1
        el = time.perf_counter() - t0
        if el >= MIN_S:
            return el, passes


def _windows(arr: np.ndarray) -> list[np.ndarray]:
    t, step = CFG.tile_size, CFG.tile_size - CFG.overlap_px
    h, w = arr.shape[:2]
    return [
        np.ascontiguousarray(arr[y : y + t, x : x + t])
        for y in range(0, max(h - t, 0) + step, step)
        for x in range(0, max(w - t, 0) + step, step)
    ]


def replay(images) -> dict[str, float]:
    """Per-unit costs of the codec and kernel layers on the sample.
    ``images`` is the corpus as a pyarrow table, sorted by ``image_id``."""
    rows = images.slice(0, SAMPLE).to_pylist()
    mpx = sum(r["w"] * r["h"] for r in rows) / 1e6
    el, n = _timed(lambda r: codec.decode(r["bytes"], r["fmt"], r["w"], r["h"]), rows)
    out = {"sources.codec.decode_ms_per_mpx": el * 1e3 / (n * mpx)}

    planes = [codec.decode(r["bytes"], r["fmt"], r["w"], r["h"]) for r in rows]
    tiles = [win for p in planes for win in _windows(p)]
    el, n = _timed(lambda a: codec.encode(a, "png", level=1), tiles)
    out["sources.codec.encode_us_per_tile"] = el * 1e6 / (n * len(tiles))
    kpx = sum(a.size for a in tiles) / 1e3
    nbytes = sum(len(codec.encode(a, "png", level=1)) for a in tiles)
    out["sources.codec.tile_bytes_per_kpx"] = nbytes / kpx

    # the tiles_to_polygons chain: threshold, 3x3 open + area filter, CC
    # label, polygonize (operators/raster.py _mask_to_labels, _polygon_rows)
    masks = [(p >= 128).astype(np.uint8) * 255 for p in planes]
    clean = lambda a: km.erosion_clean(a, CFG.erosion_filter, CFG.min_object_area_px)
    el, n = _timed(clean, masks)
    out["functions.kernels_morph.erosion_clean_ms_per_mpx"] = el * 1e3 / (n * mpx)
    cleaned = [clean(a) for a in masks]
    el, n = _timed(lambda a: km.label(a, connectivity=1), cleaned)
    out["functions.kernels_morph.label_ms_per_mpx"] = el * 1e3 / (n * mpx)
    labels = [km.label(a, connectivity=1).astype(np.int32) for a in cleaned]
    gt = (0.0, CFG.cell_size_m, 0.0, 0.0, 0.0, -CFG.cell_size_m)
    el, n = _timed(lambda a: kv.polygonize(a, gt), labels)
    out["functions.kernels_vector.polygonize_ms_per_image"] = el * 1e3 / (n * len(labels))
    return out
