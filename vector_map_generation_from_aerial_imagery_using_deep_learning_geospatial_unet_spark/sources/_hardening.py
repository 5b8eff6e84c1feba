"""Malformed-stream boundary shared by every codec entry point.

At 100 TB ingest, truncated / bit-flipped / adversarial payloads are
certain.  The decoder contract (tests/test_codec_fuzz.py) is that bad
BYTES surface as exactly two exception types:

- ``ValueError``   — the stream is malformed, and
- ``NotImplementedError`` — the stream is valid but uses a capability
  the from-scratch codec does not implement (documented stub territory),

so that per-row error handling (``operators/multimodal.py`` with
``on_error='skip'|'quarantine'``) can distinguish "this row is bad" from
"this operator is broken" without pattern-matching on arbitrary
exceptions.  A from-scratch parser, however, naturally fails with the
MECHANICS of the parse — ``struct.error`` on a short buffer,
``IndexError`` on a lying offset, ``KeyError`` on a forged Huffman code,
``zlib.error`` on corrupt DEFLATE, ``ZeroDivisionError`` on a zeroed
header field — and auditing every slice in a multi-hundred-line entropy
decoder is both invasive and unwinnable against an adversary.  The guard
normalizes that whole class at the public entry point: any mechanical
parse failure over untrusted bytes IS a malformed stream.

``ValueError`` / ``NotImplementedError`` raised inside pass through
untouched, and genuinely unexpected types (``TypeError`` from an API
misuse, ``AttributeError`` from a code bug) stay loud — the guard only
claims exceptions that hostile bytes can mechanically cause.

Reference analogue: the reference delegates decoding to GDAL
(/root/reference/src/io.py:41-63) and inherits its hardened error paths;
these codecs earn the same property explicitly.
"""

from __future__ import annotations

import functools
import inspect
import struct
import zlib

# Exception types that hostile bytes can mechanically trigger inside a
# parse loop.  MemoryError is deliberately absent: allocation must be
# bounded by explicit dimension checks BEFORE it happens (see
# decode_png's declared-size check), never caught after.
_MECHANICAL = (
    struct.error,
    zlib.error,
    IndexError,
    KeyError,
    StopIteration,
    OverflowError,
    ZeroDivisionError,
    UnicodeDecodeError,
)


def malformed_guard(fmt: str):
    """Decorator for a public ``decode_*``/``probe_*`` entry point.

    Generator functions get an iteration-aware wrapper: a plain
    try/except would only cover creating the generator object, not the
    lazy parse that runs per ``next()``."""

    def deco(fn):
        if inspect.isgeneratorfunction(fn):

            @functools.wraps(fn)
            def gen_wrapper(*args, **kwargs):
                try:
                    yield from fn(*args, **kwargs)
                except _MECHANICAL as e:
                    raise ValueError(
                        f"{fmt}: malformed stream "
                        f"({type(e).__name__}: {e})"
                    ) from e

            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except _MECHANICAL as e:
                raise ValueError(
                    f"{fmt}: malformed stream "
                    f"({type(e).__name__}: {e})"
                ) from e

        return wrapper

    return deco
