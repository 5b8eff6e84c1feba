"""Baseline JPEG codec (sources/codec_jpeg.py): round-trip PSNR bound per
the input_hint contract (decoded-pixel PSNR >= 40 dB for lossy formats),
dispatch wiring, and format-edge behavior."""

import numpy as np
import pytest

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec, codec_jpeg as J


def psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def ortho(h, w):
    """Deterministic pseudo-ortho like sources/images.render_rgb."""
    yy = (np.arange(h, dtype=np.uint32)[:, None] * 7 + 3) % 97
    xx = (np.arange(w, dtype=np.uint32)[None, :] * 13 + 3) % 89
    base = (40 + yy + xx).astype(np.uint8)
    img = np.stack([base, base + 17, base + 31], axis=-1).astype(np.uint8)
    img[50:90, 30:110] = (220, 210, 200)
    return img


@pytest.mark.parametrize(
    "shape,kw",
    [
        ((200, 200), {}),                    # grayscale
        ((200, 200, 3), {}),                 # RGB 4:4:4
        ((200, 200, 3), {"subsample": True}),  # RGB 4:2:0
        ((197, 189, 3), {}),                 # non-multiple-of-8 dims
        ((8, 8), {}),                        # single block
        ((1, 1, 3), {}),                     # degenerate
    ],
)
def test_roundtrip_psnr_bound(shape, kw):
    img = ortho(shape[0], shape[1])
    if len(shape) == 2:
        img = img[:, :, 0]
    enc = J.encode_jpeg(img, quality=95, **kw)
    dec = J.decode_jpeg(enc)
    assert dec.shape == img.shape and dec.dtype == np.uint8
    assert psnr(img, dec) >= 40.0, psnr(img, dec)


def test_noise_roundtrip_exercises_byte_stuffing():
    """High-entropy input at q=100 emits 0xFF bytes in the entropy stream;
    the stuffing/unstuffing pair must survive it losslessly enough."""
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(64, 64, 3), dtype=np.uint8)
    enc = J.encode_jpeg(img, quality=100)
    # stuffed pair must actually appear for the test to mean anything
    assert b"\xff\x00" in enc
    dec = J.decode_jpeg(enc)
    assert dec.shape == img.shape
    assert psnr(img, dec) >= 30.0  # q100 on noise is still lossy-but-close


def test_codec_dispatch_jpeg():
    img = ortho(80, 120)
    enc = codec.encode(img, "jpeg")
    out = codec.decode(enc, "jpeg", 120, 80)
    assert out.shape == (80, 120, 3)
    with pytest.raises(ValueError):
        codec.decode(enc, "jpeg", 64, 64)  # dims validated vs columns


def test_rejects_lossless_and_garbage():
    """Only baseline (SOF0) decodes: progressive and lossless frames are
    capability gaps (NotImplementedError naming the SOF marker), garbage
    and a DC huffman table with a category above 11 are malformed
    (ValueError)."""
    img = ortho(32, 32)
    enc = bytearray(J.encode_jpeg(img))
    sof = enc.find(b"\xff\xc0")
    enc[sof + 1] = 0xC3  # lossless sequential
    with pytest.raises(NotImplementedError):
        J.decode_jpeg(bytes(enc))
    enc[sof + 1] = 0xC2  # progressive
    with pytest.raises(NotImplementedError, match="0xC2"):
        J.decode_jpeg(bytes(enc))
    with pytest.raises(ValueError):
        J.decode_jpeg(b"\x00\x01\x02")
    noise = np.random.RandomState(7).randint(0, 256, size=(64, 64), dtype=np.uint8)
    enc = bytearray(J.encode_jpeg(noise))
    dht = enc.find(b"\xff\xc4")
    assert enc[dht + 4] == 0x00  # class 0 (DC), table 0
    n = sum(enc[dht + 5 : dht + 21])
    enc[dht + 21 : dht + 21 + n] = bytes([40]) * n
    with pytest.raises(ValueError, match="above 11"):
        J.decode_jpeg(bytes(enc))


def test_quant_quality_monotone():
    """Lower quality -> smaller payload, lower fidelity (sanity on the
    libjpeg quality-scaling convention)."""
    img = ortho(96, 96)
    hi = J.encode_jpeg(img, quality=95)
    lo = J.encode_jpeg(img, quality=30)
    assert len(lo) < len(hi)
    assert psnr(img, J.decode_jpeg(lo)) < psnr(img, J.decode_jpeg(hi))


def test_multimodal_features_over_real_jpeg(spark):
    """decode_features runs the REAL jpeg path (no stub) end-to-end."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import multimodal as MM

    rows = []
    for i in range(6):
        img = ortho(100 + i, 90 + i)
        rows.append((f"j{i}", codec.encode(img, "jpeg"), 90 + i, 100 + i, "jpeg"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r["image_id"]: r for r in MM.decode_features(df, resize_to=32).collect()}
    assert len(got) == 6
    for i in range(6):
        r = got[f"j{i}"]
        assert r["n_px"] == (100 + i) * (90 + i)
        # jpeg is lossy but means stay close to the source image's
        src = ortho(100 + i, 90 + i)
        assert abs(r["mean_r"] - src[:, :, 0].mean()) < 1.0
