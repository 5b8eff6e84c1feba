"""Engine configuration.

Frozen dataclass mirroring the reference's mutable module constants
(/root/reference/config.py:1-73).  Every default is preserved verbatim; the
overlap pixels-vs-percent discrepancy in the reference (grid_file passes
``config.overlap=10`` as *pixels*, /root/reference/src/bf_grid.py:85-88, while
``checkres`` converts 10 *percent* -> 20 px, /root/reference/src/io.py:105) is
surfaced by exposing ``overlap_px`` explicitly and a helper for the percent
path.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # --- tiling (reference config.py:22-26) ---
    tile_size: int = 200          # image_size / grid_size
    overlap_px: int = 10          # inference path (bf_grid.py:85-88)
    overlap_percent: float = 10.0  # training path (io.py:100-106)

    # --- georeference (reference config.py:13-16) ---
    cell_size_m: float = 0.1      # 0.1 m ground cells

    # --- post-processing (reference config.py:29-34) ---
    simplify_tolerance_m: float = 0.7     # SimplifyPreserveTopology param
    min_distance_watershed_m: float = 7.5  # peak_local_max min_distance
    erosion_filter: int = 3               # 3x3 open structuring element
    skeletonize_filter: int = 5
    watershed_neighbour: int = 4          # 4-connected markers
    min_object_area_px: int = 9           # remove_small_objects(min_size=9)

    # --- ML dataflow (reference config.py:19-21,24) ---
    validation_split: float = 0.15

    @property
    def step_px(self) -> int:
        """Tile stride = tileWidth - overlap (bf_gridding.py:365-366)."""
        return self.tile_size - self.overlap_px

    def overlap_px_from_percent(self) -> int:
        """checkres path: int(T * percent / 100) (io.py:105) -> 20 px."""
        return int(self.tile_size * self.overlap_percent / 100)


DEFAULT_CONFIG = EngineConfig()
