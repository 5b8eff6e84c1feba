"""ML-side dataflow operators (SURVEY.md §2.4, M1-M7) — the reference's
DataGenerator tensor preparation re-expressed over DataFrames; the NN itself
is out of scope (non-goal, SURVEY.md §7).

* pair image/label rows       — equi-join on image_id, the Spark version of
  the filename join (/root/reference/src/dataGenerator.py:137-143)
* epoch shuffle (M2)          — orderBy(rand(seed)) / repartition, seeded
* read_image (M3)             — drop alpha, bilinear resize to 200^2
* read_label (M4)             — arr[arr==255]=1 remap
* weight plane (M5)           — w = 10/EDT + 1, EDT==0 -> -99 (verbatim
  /root/reference/src/dataGenerator.py:99-103)
* train/val split (M6)        — randomSplit([0.85, 0.15], seed)
* batch tensors (M1)          — mapInPandas yields (batch, 200, 200, C)
  float32 blocks as flattened array columns, Arrow-batched
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import kernels_morph as km
from ..functions.kernels_resample import resize_bilinear
from ..sources import codec


def pair_image_label(images: DataFrame, labels: DataFrame) -> DataFrame:
    """Filename-identity pairing -> image_id equi-join.  Label dims travel
    with the label payload — the reference resizes image and label
    independently (dataGenerator.py:59-77), so their source sizes may
    differ."""
    return images.join(
        labels.select(
            "image_id",
            F.col("bytes").alias("label_bytes"),
            F.col("fmt").alias("label_fmt"),
            F.col("w").alias("label_w"),
            F.col("h").alias("label_h"),
        ),
        "image_id",
    )


def epoch_shuffle(df: DataFrame, seed: int) -> DataFrame:
    """M2: deterministic epoch shuffle (np.random.shuffle of the index list,
    src/dataGenerator.py:52-56)."""
    return df.orderBy(F.rand(seed))


def train_val_split(df: DataFrame, seed: int = 42):
    """M6: validation_split=0.15 (config.py:21)."""
    v = DEFAULT_CONFIG.validation_split
    return df.randomSplit([1.0 - v, v], seed)


def training_tensors(
    paired: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """M1+M3+M4+M5: per-row training tensors.

    image  -> float32 (T, T, 3) (alpha dropped, bilinear resize, M3)
    label  -> float32 (T, T, 1+1): 255->1 remap (M4) + distance-weight plane
              w = 10/EDT + 1 with EDT==0 -> -99 (M5)

    Tensors travel as flattened array<float> columns; the Arrow batch IS the
    training batch (its size is Spark's
    ``spark.sql.execution.arrow.maxRecordsPerBatch``)."""
    t = cfg.tile_size

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = codec.decode(r.bytes, r.fmt, int(r.w), int(r.h))
                if img.ndim == 2:
                    img = np.stack([img] * 3, axis=-1)
                img = img[:, :, :3]  # drop alpha (dataGenerator.py:66)
                img = resize_bilinear(img, t, t).astype(np.float32)

                lw = int(getattr(r, "label_w", r.w))
                lh = int(getattr(r, "label_h", r.h))
                lab = codec.decode(r.label_bytes, r.label_fmt, lw, lh)
                if lab.ndim == 3:
                    lab = lab[:, :, 0]
                lab = lab.copy()
                lab[lab == 255] = 1  # M4 (dataGenerator.py:76)
                lab = resize_bilinear(lab, t, t).astype(np.float32)

                edt = km.distance_transform_edt(lab)
                edt[edt == 0] = -99  # M5 verbatim (dataGenerator.py:99-103)
                weight = (10.0 / edt + 1.0).astype(np.float32)
                # numpy arrays, not python lists: Arrow serializes an
                # ndarray column element zero-copy-ish; .tolist() would
                # materialize 120k Python floats per row
                rows.append(
                    (
                        r.image_id,
                        img.ravel(),
                        np.stack([lab, weight], axis=-1).ravel(),
                        t,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "x", "y", "tile"]
            )

    return paired.mapInPandas(
        run, schema="image_id string, x array<float>, y array<float>, tile int"
    )


def edt_weight_hist(labels: DataFrame) -> DataFrame:
    """M5 oracle gate: the distance-weight plane as an exact integer
    histogram.

    Runs the REAL kernel chain on the native-resolution label — 255->1 remap
    (M4), exact EDT, EDT==0 -> -99, w = 10/EDT + 1 (M5 verbatim,
    /root/reference/src/dataGenerator.py:99-103) — then histograms the plane
    by integer EDT value.  For the synthetic rect masks every foreground
    EDT is the axis-aligned "onion ring" depth min(u+1, rh-u, v+1, rw-v),
    an integer, so (image_id, d, n_px) is pure int arithmetic the DuckDB
    oracle reproduces in closed form, and ``weight`` is the single IEEE
    expression 10/d + 1 both engines evaluate identically.  This pins every
    pixel's EDT value — strictly stronger than a plane checksum.  (The full
    resized training tensor stays rows-only: bilinear resize makes blob
    supports merge, and EDT of merged fractional supports has no SQL twin.)
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                lab = codec.decode(r.bytes, r.fmt, int(r.w), int(r.h))
                if lab.ndim == 3:
                    lab = lab[:, :, 0]
                lab = lab.astype(np.float64, copy=True)
                lab[lab == 255] = 1  # M4 (dataGenerator.py:76)
                edt = km.distance_transform_edt(lab).astype(np.float64)
                edt[edt == 0] = -99.0  # M5 (dataGenerator.py:99-103)
                wplane = 10.0 / edt + 1.0
                d = np.rint(edt).astype(np.int64).ravel()
                vals, idx, counts = np.unique(
                    d, return_index=True, return_counts=True
                )
                wflat = wplane.ravel()
                for dv, i0, ct in zip(vals, idx, counts):
                    rows.append(
                        (r.image_id, int(dv), int(ct), float(wflat[i0]))
                    )
            yield pd.DataFrame(rows, columns=["image_id", "d", "n_px", "weight"])

    return labels.mapInPandas(
        run, schema="image_id string, d int, n_px long, weight double"
    )


def weighted_bce(scores: DataFrame) -> DataFrame:
    """M9 weighted binary cross-entropy (/root/reference/src/loss.py:7-17):
    mean over pixels of -w * (y*log(p) + (1-y)*log(1-p)), as a relational
    aggregation over per-pixel rows (y, p, weight).  Inference never needs
    it; provided for tensor-prep parity."""
    eps = 1e-7
    p = F.least(F.greatest(F.col("p"), F.lit(eps)), F.lit(1.0 - eps))
    term = -F.col("weight") * (
        F.col("y") * F.log(p) + (1.0 - F.col("y")) * F.log(1.0 - p)
    )
    return scores.agg(F.avg(term).alias("weighted_bce"))
