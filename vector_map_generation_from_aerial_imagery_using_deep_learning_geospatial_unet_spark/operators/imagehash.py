"""Perceptual hash of image pixels: the input table's ``phash`` column.

The north-star input table carries a ``phash:int64`` column per image
(BASELINE.json input_hint).  :func:`phash64` computes it from decoded
pixels — the classic DCT perceptual hash (gray -> 32x32 resize -> 2D
DCT-II -> 8x8 low-frequency block -> median threshold -> 64 bits), the
same construction as the public imagehash library's ``phash``.  A
re-encode (PNG -> JPEG) or mild noise perturbs few bits; unrelated images
differ in ~32.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ._policy import check_on_error, guarded_rows, rows_frame
from ..sources import codec


# ------------------------------------------------------------- pure kernel


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (type-II, 'ortho' norm): D @ x transforms
    a length-n signal; 2-D transform is D @ A @ D.T."""
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    d = np.cos(np.pi / n * (i + 0.5) * k) * np.sqrt(2.0 / n)
    d[0] *= np.sqrt(0.5)
    return d


_D32 = _dct_matrix(32)


def phash_kernel(arr: np.ndarray) -> int:
    """64-bit DCT perceptual hash of a (h, w[, c]) uint8 array.

    gray = integer-weight luma (299/587/114); resize = bilinear to 32x32
    (functions/kernels_resample.py); DCT-II 2-D; top-left 8x8
    coefficients; bit k (row-major, bit 63 = coefficient
    [0,0]) set iff the coefficient exceeds the median of all 64 — the
    imagehash-library convention.  Returns a SIGNED int64 (matches the
    input_hint column type).  Pure numpy: the Spark operator, the
    fixture builder, and the tests all call this one function.
    """
    from ..functions.kernels_resample import resize_bilinear

    if arr.ndim == 3:
        a = arr.astype(np.float64)
        gray = (a[:, :, 0] * 299.0 + a[:, :, 1] * 587.0 + a[:, :, 2] * 114.0) / 1000.0
    else:
        gray = arr.astype(np.float64)
    small = resize_bilinear(gray, 32, 32)
    coef = (_D32 @ small @ _D32.T)[:8, :8]
    flat = coef.reshape(-1)
    med = float(np.median(flat))
    bits = flat > med
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


# --------------------------------------------------------------- operators


def phash64(images: DataFrame, on_error: str = "fail") -> DataFrame:
    """Compute the input_hint ``phash`` column from decoded pixels:
    (image_id, phash long).  Arrow-batched ``mapInPandas`` — one
    decode + one 32x32 DCT per image, no pixel ever reaches the driver.
    ``on_error``: see operators/_policy.py."""
    check_on_error(on_error)
    schema = "image_id string, phash long"
    if on_error == "quarantine":
        schema += ", error string"

    def one(r):
        arr = codec.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
        return (r.image_id, phash_kernel(arr))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = guarded_rows(pdf, one, "image_id", 1, on_error)
            # rows_frame keeps the hash column object-dtyped under
            # quarantine: a single None row would otherwise coerce the
            # whole batch to float64 and round away low bits of good
            # rows' 64-bit hashes.
            yield rows_frame(rows, ["image_id", "phash"], on_error)

    return images.mapInPandas(run, schema=schema)
