"""slice_tiles payloads: constant windows are encoded once per task and
reused, so every payload must stay byte-identical to encoding its own
window with ``codec.encode``."""

import numpy as np
import pandas as pd

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.config import EngineConfig
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import raster
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec


def _images():
    rng = np.random.default_rng(11)
    mixed = np.zeros((90, 70), dtype=np.uint8)
    mixed[40:, 30:] = rng.integers(0, 2, (50, 40), dtype=np.uint8) * 255
    rgb = np.zeros((77, 101, 3), dtype=np.uint8)
    rgb[:, :40] = (10, 20, 30)  # constant, non-zero, per-channel distinct
    rgb[50:, 60:] = rng.integers(0, 256, (27, 41, 3), dtype=np.uint8)
    return {
        "zero": np.zeros((65, 83), dtype=np.uint8),
        "full": np.full((65, 83), 255, dtype=np.uint8),
        "mixed": mixed,
        "rgb": rgb,
    }


def test_payloads_match_per_tile_encode(spark):
    cfg = EngineConfig(tile_size=32, overlap_px=4)  # ragged right/bottom
    arrays = _images()
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                (k, codec.encode_png(a), a.shape[1], a.shape[0], 0.0, 0.0, "png")
                for k, a in arrays.items()
            ],
            columns=["image_id", "bytes", "w", "h", "ulx", "uly", "fmt"],
        )
    ).coalesce(1)  # one task: constant tiles of every image share the dict
    rows = raster.slice_tiles(df, cfg).collect()
    ragged = constant = 0
    for r in rows:
        win = arrays[r.image_id][r.off_y : r.off_y + r.th, r.off_x : r.off_x + r.tw]
        assert r.bytes == codec.encode(np.ascontiguousarray(win), "png", level=1)
        ragged += (r.tw, r.th) != (32, 32)
        constant += not (win != win[0, 0]).any()
    assert len(rows) == sum(
        (1 + (max(a.shape[1] - 32, 0) + 27) // 28)
        * (1 + (max(a.shape[0] - 32, 0) + 27) // 28)
        for a in arrays.values()
    )
    assert ragged > 0 and 0 < constant < len(rows)
