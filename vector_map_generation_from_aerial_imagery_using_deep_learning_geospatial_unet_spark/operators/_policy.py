"""Per-row error policy shared by the decode-stage operators.

At 100 TB ingest a handful of hostile/corrupt payloads are certain, and
the default Spark behavior (UDF exception -> task failure -> 4 retries
-> job death) lets ONE bad row kill the whole job.  The codecs guarantee
bad bytes surface as exactly ValueError / NotImplementedError
(sources/_hardening.py + tests/test_codec_fuzz.py), so the policy can
catch precisely those and let genuine operator bugs stay loud:

- ``'fail'``        (default) propagate — exact-oracle gates stay strict;
- ``'skip'``        drop the bad row from the output;
- ``'quarantine'``  append an ``error string`` column: bad rows carry
                    NULL features + "ExcType: message", good rows NULL
                    error — filter on it to route rows to a dead-letter
                    sink without a second decode pass.

Single-row-per-input operators support all three; the multi-row extractor
``slice_tiles`` supports fail/skip only — it has no single quarantine row
shape, so dead-letter at the probe stage
(``pixel_sums(on_error='quarantine')``) and skip at the extract stage.
"""

from __future__ import annotations

import pandas as pd

ON_ERROR = ("fail", "skip", "quarantine")
ROW_ERRORS = (ValueError, NotImplementedError)


def check_on_error(on_error: str, allowed: tuple = ON_ERROR) -> None:
    if on_error not in allowed:
        raise ValueError(
            f"on_error must be one of {allowed}, got {on_error!r}"
        )


def guarded_rows(pdf, one_row, id_col: str, n_pad: int, on_error: str):
    """Run ``one_row`` per input row under the error policy.  Returns the
    list of output tuples; in quarantine mode every tuple gains a final
    error field (None for good rows)."""
    rows = []
    for r in pdf.itertuples(index=False):
        try:
            out = one_row(r)
        except ROW_ERRORS as e:
            if on_error == "fail":
                raise
            if on_error == "skip":
                continue
            rows.append(
                (getattr(r, id_col),)
                + (None,) * n_pad
                + (f"{type(e).__name__}: {e}",)
            )
            continue
        rows.append(out + (None,) if on_error == "quarantine" else out)
    return rows


def rows_frame(rows, columns, on_error: str) -> pd.DataFrame:
    """Quarantined frames need object dtype: int columns with interleaved
    None must reach Arrow as nullable ints, not float64 NaN (which loses
    exactness for int64 sums and can refuse the long cast)."""
    if on_error == "quarantine":
        return pd.DataFrame(rows, columns=columns + ["error"], dtype=object)
    return pd.DataFrame(rows, columns=columns)
