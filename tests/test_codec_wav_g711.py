"""G.711 mu-law/A-law companding tables (sources/codec_wav.py).

Reference semantics: the classic ITU-T G.711 tables (the Sun g711.c
lattice every telephony stack reproduces).  Known-vector checks pin the
byte<->linear convention; the lattice-idempotence test proves encoder
and decoder are exact inverses on all 256 code points.
"""

import numpy as np

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec_wav as W


def test_mulaw_known_vectors():
    assert W.MULAW_TABLE[0x00] == -32124
    assert W.MULAW_TABLE[0x80] == 32124
    assert W.MULAW_TABLE[0xFF] == 0
    assert W.MULAW_TABLE[0x7F] == 0  # negative zero collapses to 0


def test_alaw_known_vectors():
    assert W.ALAW_TABLE[0x55] == -8
    assert W.ALAW_TABLE[0xD5] == 8
    assert W.ALAW_TABLE[0xAA] == 32256
    assert W.ALAW_TABLE[0x2A] == -32256


def test_mulaw_lattice_idempotent():
    # encode(decode(b)) == b for every code point except negative zero
    bytes_in = np.arange(256, dtype=np.uint8)
    recon = W.MULAW_TABLE[bytes_in].astype(np.int16)
    back = W.linear_to_mulaw(recon)
    keep = bytes_in != 0x7F  # -0 re-encodes as +0 (0xFF)
    assert np.array_equal(back[keep], bytes_in[keep])
    assert back[~keep][0] == 0xFF


def test_alaw_lattice_idempotent():
    bytes_in = np.arange(256, dtype=np.uint8)
    recon = W.ALAW_TABLE[bytes_in].astype(np.int16)
    assert np.array_equal(W.linear_to_alaw(recon), bytes_in)


def test_companding_error_bound_full_range():
    s = np.arange(-32768, 32768, dtype=np.int16)
    mu = W.MULAW_TABLE[W.linear_to_mulaw(s)].astype(np.int32)
    al = W.ALAW_TABLE[W.linear_to_alaw(s)].astype(np.int32)
    s32 = s.astype(np.int32)
    # per-segment step: mu-law step = 8<<e over mag [2^(e+7)..), so the
    # relative error is bounded; the absolute worst case is the top
    # segment step (mu 1024, a 1024) plus the mu clip at 32635
    assert np.abs(mu - s32).max() <= 1024 + (32768 - 32124)
    assert np.abs(al - s32).max() <= 1024
    # sign is never flipped (zero allowed)
    assert np.all(mu * s32 >= 0)
    assert np.all(al * s32 >= 0)


def test_mulaw_monotonic():
    # decode over code points ordered by linear value must be monotonic:
    # sort-by-table equals sort-by-value for each law
    for table in (W.MULAW_TABLE, W.ALAW_TABLE):
        vals = np.sort(table.astype(np.int32))
        assert np.all(np.diff(vals) >= 0)
