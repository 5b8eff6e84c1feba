"""Skeleton vectorization: chain tracing, collinear merge, and the full
roads story (mask -> P2 skeleton -> world-coordinate centerline paths)."""

import numpy as np

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.kernels_vector import (
    _collinear_merge,
    trace_skeleton_paths,
)


def test_straight_run_two_endpoints():
    m = np.zeros((5, 12), np.uint8)
    m[2, 1:11] = 1
    ps = trace_skeleton_paths(m)
    assert [p.tolist() for p in ps] == [[[1, 2], [10, 2]]]
    raw = trace_skeleton_paths(m, simplify=False)
    assert len(raw) == 1 and len(raw[0]) == 10  # every pixel, in order


def test_diagonal_and_bend():
    m = np.zeros((6, 6), np.uint8)
    for i in range(5):
        m[i, i] = 1  # diagonal run
    ps = trace_skeleton_paths(m)
    assert [p.tolist() for p in ps] == [[[0, 0], [4, 4]]]
    # staircase bend (no 8-conn shortcut) keeps its corner vertex
    m = np.zeros((8, 8), np.uint8)
    m[0, 0:4] = 1  # right to (0,3)
    m[1, 4] = 1    # diagonal step
    m[2:6, 5] = 1  # down
    (p,) = trace_skeleton_paths(m)
    assert p.tolist() == [[0, 0], [3, 0], [5, 2], [5, 5]]


def test_every_edge_emitted_exactly_once():
    """Edge conservation on a junction-heavy cross: the union of emitted
    chain edges equals the 8-connected pixel-graph edge set, each once."""
    m = np.zeros((7, 7), np.uint8)
    m[3, :] = 1
    m[:, 3] = 1
    ps = trace_skeleton_paths(m, simplify=False)
    seen = set()
    for p in ps:
        for a, b in zip(p[:-1], p[1:]):
            e = (tuple(a), tuple(b))
            assert e not in seen and (e[1], e[0]) not in seen
            seen.add(e)
    pts = {(c, r) for r, c in zip(*np.nonzero(m))}
    expect = set()
    for (x, y) in pts:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx or dy) and (x + dx, y + dy) in pts:
                    e = ((x, y), (x + dx, y + dy))
                    if (e[1], e[0]) not in expect:
                        expect.add(e)
    norm = {frozenset(e) for e in seen}
    assert norm == {frozenset(e) for e in expect}


def test_cycle_and_isolated_pixel():
    m = np.zeros((8, 8), np.uint8)
    # diamond cycle (pure degree-2 in 8-conn)
    for x, y in [(3, 1), (4, 2), (5, 3), (4, 4), (3, 5), (2, 4), (1, 3),
                 (2, 2)]:
        m[y, x] = 1
    m[7, 7] = 1  # isolated pixel
    ps = trace_skeleton_paths(m, simplify=False)
    n_edges = sum(len(p) - 1 for p in ps)
    assert n_edges == 8  # the full cycle, no edge dropped or doubled
    assert any(len(p) == 1 and p[0].tolist() == [7, 7] for p in ps)


def test_collinear_merge_exact():
    p = np.array([[0, 0], [1, 0], [2, 0], [3, 1], [4, 2], [4, 3]])
    assert _collinear_merge(p).tolist() == [[0, 0], [2, 0], [4, 2], [4, 3]]
    assert _collinear_merge(p[:2]).tolist() == p[:2].tolist()


def test_roads_story_end_to_end(spark):
    """Bar mask -> skeletonize_stage -> skeleton_paths: the bar's medial
    run, pixel (12, 32) to pixel (36, 32), leaves as one 2-vertex path
    whose endpoints are those pixels' centers in world coordinates."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.config import DEFAULT_CONFIG as CFG
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import raster
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec

    h = w = 64
    mask = np.zeros((h, w), np.uint8)
    mask[30:35, 10:40] = 255  # bar: bh=5, bw=30 -> 25-px centerline
    png = codec.encode_png(mask)
    cell = CFG.cell_size_m
    ulx, uly = 0.0, float(h) * cell
    imgs = spark.createDataFrame(
        [("img0", png, "png", w, h, ulx, uly)],
        "image_id string, bytes binary, fmt string, w int, h int, "
        "ulx double, uly double",
    )
    paths = raster.skeleton_paths(raster.skeletonize_stage(imgs, CFG), CFG)
    (row,) = paths.collect()
    assert row.n_px == 25 and row.n_vertices == 2
    # the operator's own pixel-center expression, so equality is exact
    assert row.path == [
        [ulx + (12 + 0.5) * cell, uly - (32 + 0.5) * cell],
        [ulx + (36 + 0.5) * cell, uly - (32 + 0.5) * cell],
    ]


def test_skeleton_paths_cycle_counts_distinct_pixels(spark):
    """Loop-shaped skeletons (ring roads) close their chain by repeating
    the start pixel — n_px must count DISTINCT pixels (8 for a diamond
    cycle), not the chain length including the closing vertex (9)."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.config import DEFAULT_CONFIG as CFG
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import raster
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec

    h = w = 8
    m = np.zeros((h, w), np.uint8)
    for x, y in [(3, 1), (4, 2), (5, 3), (4, 4), (3, 5), (2, 4), (1, 3),
                 (2, 2)]:
        m[y, x] = 255
    png = codec.encode_png(m)
    imgs = spark.createDataFrame(
        [("ring", png, "png", w, h, 0.0, float(h) * CFG.cell_size_m)],
        "image_id string, bytes binary, fmt string, w int, h int, "
        "ulx double, uly double",
    )
    (row,) = raster.skeleton_paths(imgs, CFG).collect()
    assert row.n_px == 8
    # the world path still carries the closing vertex (first == last)
    assert row.path[0] == row.path[-1] and len(row.path) >= 3
