"""Property-based tests (hypothesis) — SURVEY.md §5.4."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import (
    kernels_morph as km,
)
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import (
    kernels_vector as kv,
)


def ref_count(size, t, ov):
    c = 1
    if size > t:
        c += int((size - t + (t - ov) - 1) / (t - ov))
    return c


@given(
    size=st.integers(min_value=1, max_value=5000),
    t=st.integers(min_value=2, max_value=512),
    ov=st.integers(min_value=0, max_value=100),
)
def test_tiling_invariants(size, t, ov):
    """Tiles cover [0, size) exactly; every non-last tile is full width;
    stride is t-ov — for ALL (size, tile, overlap) combos."""
    if ov >= t:
        return
    n = ref_count(size, t, ov)
    offs = [(i - 1) * (t - ov) for i in range(1, n + 1)]
    widths = [min(t, size - o) for o in offs]
    assert offs[0] == 0
    assert offs[-1] + widths[-1] >= size  # covers the end
    assert all(w >= 1 for w in widths)
    # no tile starts at/after the image end
    assert all(o < size for o in offs)
    # one more tile would be redundant (previous tiles already reach the end)
    if n > 1:
        assert offs[-2] + t < size  # last tile is genuinely needed


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_pip_raycast_vs_winding_bruteforce(spark, seed):
    """Random concave polygons + points: the engine's JVM-side ray-cast
    (joins.ray_cast_inside) == scalar even-odd, all 50 points of one
    example evaluated in a single DataFrame."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators.joins import (
        ray_cast_inside,
    )

    rng = np.random.RandomState(seed)
    ang = np.sort(rng.uniform(0, 2 * np.pi, rng.randint(3, 9)))
    rad = rng.uniform(0.5, 3.0, len(ang))
    ring = [
        [float(5 + r * np.cos(a)), float(5 + r * np.sin(a))]
        for a, r in zip(ang, rad)
    ]
    ring.append(ring[0])
    pts = rng.uniform(0, 10, size=(50, 2))

    df = spark.createDataFrame(
        [(i, float(x), float(y), ring) for i, (x, y) in enumerate(pts)],
        "i int, px double, py double, ring array<array<double>>",
    )
    inside = ray_cast_inside("px", "py", "ring")
    rows = df.selectExpr("i", f"{inside} AS inside").collect()
    got = np.array([r["inside"] for r in sorted(rows, key=lambda r: r["i"])])

    def scalar(px, py):
        inside = False
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
                inside = not inside
        return inside

    exp = np.array([scalar(x, y) for x, y in pts])
    np.testing.assert_array_equal(got, exp)


@settings(max_examples=20, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_morphology_duality_and_cc_stability(seed):
    """erode(~m) == ~dilate(m) (duality); CC count invariant under label
    permutation of the input values."""
    rng = np.random.RandomState(seed)
    m = rng.rand(20, 24) < 0.5
    a = km.erode((~m).astype(np.uint8) * 255, 3)
    b = 255 - km.dilate(m.astype(np.uint8) * 255, 3)
    np.testing.assert_array_equal(a, b)
    l1 = km.label(m, connectivity=1)
    l2 = km.label(m[::-1, ::-1], connectivity=1)
    assert l1.max() == l2.max()  # component count is orientation-invariant


@settings(max_examples=15, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_polygonize_total_area_conserved(seed):
    """Sum of (|exterior| - |holes|) pixel areas == foreground pixel count."""
    rng = np.random.RandomState(seed)
    m = (rng.rand(15, 17) < 0.45).astype(np.int32)
    labels = km.label(m, connectivity=1)
    total = 0.0
    for _, ext, holes in kv.trace_regions(labels):
        def area(loop):
            x = np.array([p[0] for p in loop], float)
            y = np.array([p[1] for p in loop], float)
            return abs(0.5 * (np.dot(x[:-1], y[1:]) - np.dot(y[:-1], x[1:])))
        total += area(ext) - sum(area(h) for h in holes)
    assert total == float((m != 0).sum())


@settings(max_examples=15, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_mbr_contains_hull_and_smaller_than_aabb(seed):
    rng = np.random.RandomState(seed)
    pts = rng.normal(size=(20, 2)) * rng.uniform(0.5, 4, 2)
    mbr = kv.minimum_bounding_rectangle(pts)
    e1 = np.hypot(*(mbr[1] - mbr[0]))
    e2 = np.hypot(*(mbr[2] - mbr[1]))
    aabb = pts[:, 0].ptp() * pts[:, 1].ptp()
    assert e1 * e2 <= aabb + 1e-7
