"""pHash kernel and the phash64 operator: determinism, invariance,
kernel/operator agreement, quarantine, and re-encode robustness."""

from __future__ import annotations

import numpy as np

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import imagehash as IH
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources.images import render_rgb


def test_phash_kernel_deterministic_int64():
    a = render_rgb(7, 300, 220)
    h1, h2 = IH.phash_kernel(a), IH.phash_kernel(a)
    assert h1 == h2
    assert -(1 << 63) <= h1 < (1 << 63)


def test_phash_gray_vs_rgb_of_same_luma():
    # a pure-gray RGB image and its single-channel plane hash identically
    g = ((np.arange(200)[:, None] * 3 + np.arange(160)[None, :] * 5) % 251).astype(
        np.uint8
    )
    rgb = np.stack([g, g, g], axis=-1)
    assert IH.phash_kernel(g) == IH.phash_kernel(rgb)


def test_phash_robust_to_resize_sensitive_to_content():
    a = render_rgb(11, 400, 300)
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.kernels_resample import resize_bilinear

    h = IH.phash_kernel(a)
    h_small = IH.phash_kernel(resize_bilinear(a, 200, 150))
    d_resize = bin((h ^ h_small) & ((1 << 64) - 1)).count("1")
    assert d_resize <= 10  # same scene, half resolution
    b = render_rgb(12, 400, 300)
    d_other = bin((h ^ IH.phash_kernel(b)) & ((1 << 64) - 1)).count("1")
    assert d_other > 10  # different scene


def test_phash64_operator_matches_kernel(spark):
    arrs = {f"im{i}": render_rgb(i, 120 + i, 90 + i) for i in range(1, 6)}
    rows = [
        (k, codec.encode(a, "png"), a.shape[1], a.shape[0], "png")
        for k, a in arrs.items()
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r.image_id: r.phash for r in IH.phash64(df).collect()}
    want = {k: IH.phash_kernel(a) for k, a in arrs.items()}
    assert got == want


def test_phash64_quarantine(spark):
    a = render_rgb(3, 64, 48)
    rows = [
        ("good", codec.encode(a, "png"), 64, 48, "png"),
        ("bad", b"not a png", 64, 48, "png"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    out = {r.image_id: (r.phash, r.error) for r in IH.phash64(df, on_error="quarantine").collect()}
    assert out["good"][1] is None and out["good"][0] == IH.phash_kernel(a)
    assert out["bad"][0] is None and out["bad"][1]


def test_phash64_quarantine_same_batch_keeps_exact_hashes(spark):
    """A bad row in the SAME Arrow batch must not disturb good rows'
    hashes: a mixed int/None pandas column silently coerces to float64,
    which rounds away low bits of 64-bit hashes (|x| > 2**53)."""
    arrs = {f"im{i}": render_rgb(i + 30, 200 + i, 150 + i) for i in range(6)}
    rows = [
        (k, codec.encode(a, "png"), a.shape[1], a.shape[0], "png")
        for k, a in arrs.items()
    ]
    rows.append(("bad", b"\x00\x01garbage", 8, 8, "png"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    ).coalesce(1)  # force every row into one mapInPandas batch
    out = {
        r.image_id: r.phash
        for r in IH.phash64(df, on_error="quarantine").collect()
    }
    want = {k: IH.phash_kernel(a) for k, a in arrs.items()}
    # bit-exact, not approximately-equal: float64 coercion loses low bits
    for k, h in want.items():
        assert out[k] == h, f"{k}: {out[k]} != {h}"
    assert out["bad"] is None


def test_lossy_reencode_found_as_near_dup(spark):
    """The SAME scene re-encoded lossily (JPEG q95) hashes within a few
    bits of its PNG original through phash64, and distinct scenes stay
    apart: the pairs within 6 bits are exactly the re-encode pairs."""
    rows = []
    for pk in (21, 22, 23):
        a = render_rgb(pk, 320, 240)
        rows.append((f"png_{pk}", codec.encode(a, "png"), 320, 240, "png"))
        rows.append((f"jpg_{pk}", codec.encode(a, "jpeg"), 320, 240, "jpeg"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    hashes = sorted((r.image_id, r.phash) for r in IH.phash64(df).collect())
    assert len(hashes) == 6
    pairs = {
        (ia, ib)
        for i, (ia, ha) in enumerate(hashes)
        for ib, hb in hashes[i + 1:]
        if bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= 6
    }
    assert pairs == {(f"jpg_{pk}", f"png_{pk}") for pk in (21, 22, 23)}
