"""ITU-T G.711 mu-law/A-law companding tables — the one piece of the
retired WAV codec that is still here.

The engine decodes image payloads only: the WAV/FLAC readers,
``audio_features`` and the audio gates are gone, and nothing in the
package imports this module.  It keeps the closed-form 8-bit<->16-bit
companding maps and their table tests (``tests/test_codec_wav_g711.py``)
until the next change deletes both.
"""

from __future__ import annotations

import numpy as np

# Both laws decode to the conventional 16-bit lattice: mu-law magnitudes
# ((m*8+132)<<e)-132 up to 32124, A-law (m*16+8) / ((m*16+264)<<(seg-1))
# up to 32256.  Encoders are the exact segment-quantizers whose decode
# inverts them — pure integer arithmetic.

# segment thresholds: index i covers magnitudes [2^(i+8) .. 2^(i+9)-1]
_SEG_EDGES = np.array([256 << k for k in range(8)], dtype=np.int32)


def _mulaw_decode_table() -> np.ndarray:
    u = (~np.arange(256, dtype=np.int32)) & 0xFF
    sign = (u & 0x80) != 0
    e = (u >> 4) & 7
    m = u & 0x0F
    mag = (((m << 3) + 0x84) << e) - 0x84
    return np.where(sign, -mag, mag).astype(np.int16)


def _alaw_decode_table() -> np.ndarray:
    a = np.arange(256, dtype=np.int32) ^ 0x55
    pos = (a & 0x80) != 0
    seg = (a >> 4) & 7
    m = a & 0x0F
    mag = np.where(seg == 0, (m << 4) + 8, ((m << 4) + 0x108) << np.maximum(seg - 1, 0))
    return np.where(pos, mag, -mag).astype(np.int16)


MULAW_TABLE = _mulaw_decode_table()
ALAW_TABLE = _alaw_decode_table()


def linear_to_mulaw(samples: np.ndarray) -> np.ndarray:
    """int16 linear -> G.711 mu-law bytes (uint8)."""
    s = samples.astype(np.int32)
    neg = s < 0
    mag = np.minimum(np.abs(s), 32635) + 0x84
    # e = bit_length(mag) - 8 clamped to 0 = number of edges <= mag
    e = np.searchsorted(_SEG_EDGES, mag, side="right")  # 0..7
    m = (mag >> (e + 3)) & 0x0F
    byte = np.where(neg, 0x80, 0) | (e << 4) | m
    return ((~byte) & 0xFF).astype(np.uint8)


def linear_to_alaw(samples: np.ndarray) -> np.ndarray:
    """int16 linear -> G.711 A-law bytes (uint8)."""
    s = samples.astype(np.int32)
    pos = s >= 0
    mag = np.minimum(np.abs(s), 32767)
    seg = np.searchsorted(_SEG_EDGES, mag, side="right")  # 0..7
    m = np.where(seg == 0, mag >> 4, (mag >> (seg + 3)) & 0x0F)
    byte = np.where(pos, 0x80, 0) | (seg << 4) | m
    return (byte ^ 0x55).astype(np.uint8)
