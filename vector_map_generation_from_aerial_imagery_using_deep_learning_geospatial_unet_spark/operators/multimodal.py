"""Multimodal binary-column operators (graft addition, first-class per the
build brief): image/audio/video payloads as opaque ``binary`` columns with
typed metadata; decode / feature-extract / resize / frame-sample as Arrow
UDFs over ``mapInPandas``.

The container has no image/audio libs, so: png/raw/jpeg/gif/webp decode is
REAL (our codecs — baseline JFIF in ``sources/codec_jpeg.py``, GIF LZW in
``codec_gif.py``, WebP-lossless VP8L in ``codec_webp.py``, pure numpy).
WAV (PCM, IEEE float, G.711, IMA ADPCM) and FLAC audio decode for real in
``sources/codec_wav.py`` / ``codec_flac.py`` (:func:`audio_features`).
For mp4/webm the CONTAINER layer is real (exact probing + sample
extraction), and tracks whose codec we implement decode all the way to
pixels/PCM: Motion-JPEG video (:func:`video_decode_frames`) and 'sowt'/
'twos' PCM audio (:func:`audio_track_pcm`).  Inter-frame video
(H.264/VP9/AV1) and compressed audio tracks (aac) raise
``NotImplementedError`` — the capability boundary is per-track codec id.
Any other ``fmt`` raises ``ValueError('unknown fmt ...')``; the row's
``on_error`` policy handles both like any other undecodable payload.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.kernels_resample import resize_bilinear
from ..sources import codec

REAL_FORMATS = {"png", "raw", "jpeg", "jpg", "gif", "webp", "tif", "tiff"}  # sources/codec_*.py

# Per-row error policy (operators/_policy.py): 'fail' | 'skip' |
# 'quarantine' — see that module's docstring for the full contract.
from ._policy import (
    ROW_ERRORS as _ROW_ERRORS,
    check_on_error as _check_on_error,
    guarded_rows as _guarded_rows,
    rows_frame as _rows_frame,
)


def quarantine_stats(df: DataFrame) -> DataFrame:
    """Dead-letter observability: (error_type, n) over a quarantined
    output — the per-exception-type census an ingest audit reports
    alongside its good-row counts.  Pure groupBy; the error column's
    "ExcType: message" prefix is split JVM-side."""
    return (
        df.filter(F.col("error").isNotNull())
        .groupBy(
            F.substring_index(F.col("error"), ":", 1).alias("error_type")
        )
        .agg(F.count("*").alias("n"))
    )


def _decode_payload(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt == "gif":  # still image = first frame (sources/codec_gif.py)
        from ..sources import codec_gif

        frames, _ = codec_gif.decode_gif(bytes(data))
        return frames[0][:, :, :3]
    if fmt in REAL_FORMATS:
        return codec.decode(bytes(data), fmt, w, h)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_features(
    images: DataFrame,
    resize_to: int = 200,
    on_error: str = "fail",
) -> DataFrame:
    """images -> per-row decoded features: resized thumbnail stats +
    channel means — the feature-extraction plumbing of a training-data
    pipeline (decode -> resize -> embed), with the embed step represented by
    deterministic pixel statistics.  ``on_error``: see module policy."""
    _check_on_error(on_error)
    cols = [
        "image_id", "n_px", "mean_r", "mean_g", "mean_b",
        "thumb_mean", "nonzero_frac",
    ]
    schema = (
        "image_id string, n_px long, mean_r double, mean_g double, "
        "mean_b double, thumb_mean double, nonzero_frac double"
    )
    if on_error == "quarantine":
        schema += ", error string"

    def one(r):
        arr = _decode_payload(r.bytes, r.fmt, int(r.w), int(r.h))
        if arr.ndim == 2:
            arr = np.stack([arr] * 3, axis=-1)
        thumb = resize_bilinear(arr, resize_to, resize_to)
        return (
            r.image_id,
            int(arr.shape[0] * arr.shape[1]),
            float(arr[:, :, 0].mean()),
            float(arr[:, :, 1].mean()),
            float(arr[:, :, 2].mean()),
            float(thumb.mean()),
            float((arr != 0).mean()),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = _guarded_rows(pdf, one, "image_id", 6, on_error)
            yield _rows_frame(rows, cols, on_error)

    return images.mapInPandas(run, schema=schema)


def pixel_sums(images: DataFrame, on_error: str = "fail") -> DataFrame:
    """Exact-decode gate: per-image integer channel sums.

    Every pixel of the decoded payload enters an int64 sum per channel, so
    a single flipped byte anywhere in decode (codec framing, scanline
    unfilter, channel order, blob overwrite) breaks the oracle — and the
    synthetic render_rgb content is closed-form, so the DuckDB twin
    computes the same sums from pure arithmetic (separable gradient +
    rect overwrites).  ``on_error``: see module policy."""
    _check_on_error(on_error)
    cols = ["image_id", "n_px", "sum_r", "sum_g", "sum_b"]
    schema = (
        "image_id string, n_px long, sum_r long, sum_g long, sum_b long"
    )
    if on_error == "quarantine":
        schema += ", error string"

    def one(r):
        arr = codec.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
        if arr.ndim == 2:
            arr = np.stack([arr] * 3, axis=-1)
        s = arr.reshape(-1, arr.shape[2]).sum(axis=0, dtype=np.int64)
        return (
            r.image_id,
            int(arr.shape[0] * arr.shape[1]),
            int(s[0]), int(s[1]), int(s[2]),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = _guarded_rows(pdf, one, "image_id", 4, on_error)
            yield _rows_frame(rows, cols, on_error)

    return images.mapInPandas(run, schema=schema)


def elev_stats(images: DataFrame, on_error: str = "fail") -> DataFrame:
    """16-bit single-band raster gate (DEM/elevation layout): per-image
    int64 elevation sum plus row- and column-weighted sums.

    The weighted moments make the oracle POSITION-sensitive: an Adam7
    pass scattered to the wrong rows/columns preserves the plain sum but
    breaks ``sum_wy``/``sum_wx``, so interlace reassembly bugs cannot
    hide.  Closed-form for the separable render_dem16 plane.  Replaces
    the reference's GDAL DEM read (``read_tif``,
    /root/reference/src/io.py:41-63).  ``on_error``: see module policy."""
    _check_on_error(on_error)
    cols = ["image_id", "n_px", "sum_elev", "sum_wy", "sum_wx"]
    schema = (
        "image_id string, n_px long, sum_elev long, sum_wy long, sum_wx long"
    )
    if on_error == "quarantine":
        schema += ", error string"

    def one(r):
        arr = codec.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
        if arr.ndim != 2:
            raise ValueError(f"elev_stats wants a single band, got {arr.shape}")
        a = arr.astype(np.int64, copy=False)
        h, w = a.shape
        rows_sum = a.sum(axis=1)          # int64 per-row totals
        cols_sum = a.sum(axis=0)
        return (
            r.image_id,
            int(h * w),
            int(rows_sum.sum()),
            int((rows_sum * np.arange(h, dtype=np.int64)).sum()),
            int((cols_sum * np.arange(w, dtype=np.int64)).sum()),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = _guarded_rows(pdf, one, "image_id", 4, on_error)
            yield _rows_frame(rows, cols, on_error)

    return images.mapInPandas(run, schema=schema)


def audio_features(audio: DataFrame, on_error: str = "fail") -> DataFrame:
    """Real audio path: per-row integer features — sample/channel counts,
    duration, sum|s|, strict zero-crossings of channel 0 — all exact ints
    so deterministic synth audio gets an exact SQL oracle.  An optional
    ``fmt`` column selects the codec: 'flac' (sources/codec_flac.py,
    lossless Rice/fixed-predictor decode) or PCM WAV (default) — both
    REAL from-scratch decoders, so the gate covers the full
    encode -> shuffle -> decode path either way.  ``on_error``: see
    module policy."""
    from ..sources import codec_flac, codec_wav

    _check_on_error(on_error)
    has_fmt = "fmt" in audio.columns
    cols = [
        "audio_id", "n_samples", "n_channels", "sample_rate",
        "duration_ms", "sum_abs", "zero_crossings",
    ]
    schema = (
        "audio_id string, n_samples long, n_channels int, sample_rate int, "
        "duration_ms long, sum_abs long, zero_crossings long"
    )
    if on_error == "quarantine":
        schema += ", error string"

    def one(r):
        fmt = r.fmt if has_fmt else "wav"
        if fmt == "flac":
            s, rate = codec_flac.decode_flac(bytes(r.bytes))
        elif fmt == "wav":
            s, rate = codec_wav.decode_wav(bytes(r.bytes))
        else:
            # explicit capability boundary: an unknown fmt must
            # surface as such, not as a RIFF-magic error from the
            # WAV decoder it silently fell into (round-3 ADVICE)
            raise NotImplementedError(
                f"audio_features: unsupported fmt {fmt!r} "
                "(supported: wav, flac)"
            )
        if s.dtype.kind == "f":
            # IEEE-float WAV: deterministic int16-scale quantization so
            # the integer feature contract (and its SQL twin) holds;
            # decode_wav guarantees finite samples with |x| <= 8
            s = np.rint(s * 32767.0).astype(np.int64)
        c0 = s[:, 0].astype(np.int64)
        zc = int(((c0[:-1] * c0[1:]) < 0).sum())
        return (
            r.audio_id, int(s.shape[0]), int(s.shape[1]), int(rate),
            int(s.shape[0]) * 1000 // int(rate),
            int(np.abs(s.astype(np.int64)).sum()), zc,
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = _guarded_rows(pdf, one, "audio_id", 6, on_error)
            yield _rows_frame(rows, cols, on_error)

    return audio.mapInPandas(run, schema=schema)


def _video_track_mp4(info):
    """The first 'vide' handler track, else the first track at all —
    the single place the video-track preference policy lives (audio-only
    files fall back to their sole track, whose dims are 0 by the
    handler-aware stsd parse, never garbage)."""
    return next((t for t in info.tracks if t.handler == "vide"), info.tracks[0])


def _video_track_webm(info):
    """Matroska twin of :func:`_video_track_mp4` (track_type 1 = video)."""
    return next((t for t in info.tracks if t.track_type == 1), info.tracks[0])


def container_meta(
    media: DataFrame, id_col: str = "media_id", on_error: str = "fail"
) -> DataFrame:
    """REAL container-level metadata for mp4/webm payloads — the probe
    an ingest pipeline runs on every media blob before any decode: exact
    stream/sample counts, encoded byte totals, duration, dimensions or
    sample rate — all from our from-scratch parsers (ISO BMFF box walk,
    EBML element walk).  One unified row per input:

        (id, container, codec, n_streams, w, h, n_samples,
         sum_sample_bytes, duration_ms, sample_rate)

    mp4: first video track supplies codec/w/h/samples; duration from mvhd.
    webm: video TrackEntry + SimpleBlock walk.  Unknown fmt raises — silent
    skips would undercount a corpus audit (use ``on_error='quarantine'``
    to keep the undercount VISIBLE: the probe stage is where a 100-TB
    corpus audit should dead-letter its hostile blobs)."""
    _check_on_error(on_error)
    cols = [
        id_col, "container", "codec", "n_streams", "w", "h",
        "n_samples", "sum_sample_bytes", "duration_ms", "sample_rate",
    ]
    schema = (
        f"{id_col} string, container string, codec string, n_streams int, "
        "w int, h int, n_samples long, sum_sample_bytes long, "
        "duration_ms long, sample_rate int"
    )
    if on_error == "quarantine":
        schema += ", error string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources import container_mp4, container_webm

        def one(r):
            data, fmt = bytes(r.bytes), r.fmt
            mid = getattr(r, id_col)
            if fmt == "mp4":
                info = container_mp4.probe_mp4(data)
                vid = _video_track_mp4(info)
                return (
                    mid, "mp4", vid.codec, len(info.tracks),
                    vid.width, vid.height, vid.n_samples,
                    sum(vid.sample_sizes), info.duration_ms,
                    vid.sample_rate,
                )
            if fmt == "webm":
                info = container_webm.probe_webm(data)
                vid = _video_track_webm(info)
                blocks = [b for b in info.blocks if b.track == vid.number]
                return (
                    mid, "webm", vid.codec, len(info.tracks),
                    vid.width, vid.height, len(blocks),
                    sum(len(b.payload) for b in blocks),
                    info.duration_ms, vid.sample_rate,
                )
            raise ValueError(f"container_meta: unsupported fmt {fmt!r}")

        for pdf in batches:
            rows = _guarded_rows(pdf, one, id_col, 9, on_error)
            yield _rows_frame(rows, cols, on_error)

    return media.mapInPandas(run, schema=schema)


def frame_sample(
    videos: DataFrame,
    every_n: int = 10,
    on_error: str = "fail",
) -> DataFrame:
    """Video/animation rows (``video_id, bytes, fmt``) -> one row per
    sampled frame.

    ``fmt='gif'`` decodes for REAL (sources/codec_gif.py: full LZW +
    disposal compositing; frame_bytes = zlib'd decoded pixels).
    ``fmt='mp4'/'webm'`` extract the REAL encoded sample payloads at the
    container level (sources/container_mp4.py stsz/stsc/stco math,
    container_webm.py SimpleBlock walk; frame_bytes = the encoded codec
    payload, NOT pixels — :func:`video_decode_frames` decodes MJPEG).
    Any other fmt raises ``ValueError('unknown fmt ...')``.

    ``on_error`` supports 'fail'/'skip' only: a multi-row-per-input
    extractor has no single quarantine row shape — dead-letter at the
    probe stage instead (``container_meta(on_error='quarantine')``),
    then frame-sample the surviving rows with 'skip' as a belt."""
    _check_on_error(on_error, allowed=("fail", "skip"))
    schema = "video_id string, frame_idx int, frame_bytes binary, w int, h int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources import codec_gif, container_mp4, container_webm

        def one(r) -> list:
            fmt = r.fmt
            out = []
            if fmt == "gif":
                frames, _ = codec_gif.decode_gif(bytes(r.bytes))
                for fi in range(0, len(frames), every_n):
                    fr = frames[fi][:, :, :3]
                    out.append(
                        (
                            r.video_id, fi,
                            zlib.compress(np.ascontiguousarray(fr).tobytes(), 1),
                            fr.shape[1], fr.shape[0],
                        )
                    )
                return out
            if fmt == "mp4":
                info = container_mp4.probe_mp4(bytes(r.bytes))
                vid = _video_track_mp4(info)
                samples = container_mp4.extract_samples(bytes(r.bytes), vid)
                for fi in range(0, len(samples), every_n):
                    out.append(
                        (r.video_id, fi, samples[fi], vid.width, vid.height)
                    )
                return out
            if fmt == "webm":
                info = container_webm.probe_webm(bytes(r.bytes))
                vid = _video_track_webm(info)
                blocks = [b for b in info.blocks if b.track == vid.number]
                for fi in range(0, len(blocks), every_n):
                    out.append(
                        (
                            r.video_id, fi, blocks[fi].payload,
                            vid.width, vid.height,
                        )
                    )
                return out
            raise ValueError(f"frame_sample: unknown fmt {fmt!r}")

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    rows.extend(one(r))
                except _ROW_ERRORS:
                    if on_error == "fail":
                        raise
            yield pd.DataFrame(
                rows, columns=["video_id", "frame_idx", "frame_bytes", "w", "h"]
            )

    return videos.mapInPandas(run, schema=schema)


# Motion-JPEG track codec ids: 'jpeg'/'mjpa' are the ISO BMFF / QuickTime
# sample-entry fourccs, 'V_MJPEG' the Matroska CodecID — each sample is a
# complete baseline JFIF image, which sources/codec_jpeg.py decodes for
# real.  The reference decodes any GDAL raster the same way
# (/root/reference/src/io.py:41-63); MJPEG is the standard video codec
# whose per-frame payload IS such a raster.
MJPEG_CODECS = {"jpeg", "mjpa", "V_MJPEG"}


def video_decode_frames(
    videos: DataFrame,
    every_n: int = 1,
    id_col: str = "video_id",
    on_error: str = "fail",
) -> DataFrame:
    """REAL video PIXEL decode for Motion-JPEG tracks, mp4 and webm.

    One ``mapInPandas`` hop per row: container probe (ISO BMFF box walk /
    EBML element walk) -> encoded-sample extraction (stsz/stsc/stco math /
    SimpleBlock walk) -> per-sampled-frame baseline-JFIF decode
    (sources/codec_jpeg.py) -> per-frame pixel statistics.  Keeping probe,
    extract, and decode in a single hop means the (much larger) decoded
    planes never cross the JVM<->Python pipe — only the stats row leaves.

    Inter-frame codecs (H.264/VP9/AV1) raise ``NotImplementedError``: their
    entropy decode is genuinely codec-library-bound; the honest capability
    boundary is per-track codec id, not container format.

    Output: (id, frame_idx, fw, fh, n_px, sum_px).

    ``on_error`` supports 'fail'/'skip' (multi-row output — quarantine
    belongs at the probe stage, see :func:`frame_sample`)."""
    _check_on_error(on_error, allowed=("fail", "skip"))
    schema = (
        f"{id_col} string, frame_idx int, fw int, fh int, "
        "n_px long, sum_px long"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources import codec_jpeg, container_mp4, container_webm

        def one(r) -> list:
            data, mid = bytes(r.bytes), getattr(r, id_col)
            if r.fmt == "mp4":
                info = container_mp4.probe_mp4(data)
                vid = _video_track_mp4(info)
                codec_id = vid.codec
                samples = container_mp4.extract_samples(data, vid)
            elif r.fmt == "webm":
                winfo = container_webm.probe_webm(data)
                wvid = _video_track_webm(winfo)
                codec_id = wvid.codec
                samples = [
                    b.payload for b in winfo.blocks if b.track == wvid.number
                ]
            else:
                raise ValueError(
                    f"video_decode_frames: unsupported container {r.fmt!r}"
                )
            if codec_id not in MJPEG_CODECS:
                raise NotImplementedError(
                    f"pixel decode for codec {codec_id!r} is "
                    "codec-library-bound; only Motion-JPEG tracks "
                    f"({sorted(MJPEG_CODECS)}) decode for real"
                )
            out = []
            for fi in range(0, len(samples), every_n):
                arr = codec_jpeg.decode_jpeg(samples[fi])
                out.append(
                    (
                        mid, fi, arr.shape[1], arr.shape[0],
                        int(arr.size), int(arr.sum(dtype=np.int64)),
                    )
                )
            return out

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    rows.extend(one(r))
                except _ROW_ERRORS:
                    if on_error == "fail":
                        raise
            yield pd.DataFrame(
                rows,
                columns=[id_col, "frame_idx", "fw", "fh", "n_px", "sum_px"],
            )

    return videos.mapInPandas(run, schema=schema)


# PCM audio-track sample-entry fourccs that decode for real: 'sowt' is
# 16-bit little-endian PCM (QuickTime/ISO), 'twos' its big-endian twin.
PCM_CODECS = {"sowt": "<i2", "twos": ">i2"}


def audio_track_pcm(
    media: DataFrame, id_col: str = "media_id", on_error: str = "fail"
) -> DataFrame:
    """REAL PCM audio-track decode out of MP4 containers.

    Walks the moov for the first ``soun`` handler track (exercising
    multi-trak files where audio precedes video, as real muxers write),
    extracts its samples via the stsz/stsc/stco tables, decodes the PCM
    payload ('sowt'/'twos' sample entries; compressed codecs like mp4a
    raise — the honest capability boundary), and emits exact integer
    features per file: (id, sample_rate, n_samples, sum_s, min_s, max_s,
    sum_abs).  All-integer outputs make the gate byte-exact end-to-end.
    ``on_error``: see module policy."""
    _check_on_error(on_error)
    cols = [
        id_col, "sample_rate", "n_samples", "sum_s",
        "min_s", "max_s", "sum_abs",
    ]
    schema = (
        f"{id_col} string, sample_rate int, n_samples long, sum_s long, "
        "min_s int, max_s int, sum_abs long"
    )
    if on_error == "quarantine":
        schema += ", error string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources import container_mp4

        def one(r):
            data, mid = bytes(r.bytes), getattr(r, id_col)
            info = container_mp4.probe_mp4(data)
            aud = next(
                (t for t in info.tracks if t.handler == "soun"), None
            )
            if aud is None:
                raise ValueError(f"audio_track_pcm: no soun track in {mid}")
            if aud.codec not in PCM_CODECS:
                raise NotImplementedError(
                    f"audio decode for codec {aud.codec!r} is "
                    "codec-library-bound; only PCM sample entries "
                    f"({sorted(PCM_CODECS)}) decode for real"
                )
            pcm = b"".join(container_mp4.extract_samples(data, aud))
            s = np.frombuffer(pcm, dtype=PCM_CODECS[aud.codec]).astype(
                np.int64
            )
            return (
                mid, aud.sample_rate, int(s.size),
                int(s.sum()), int(s.min()), int(s.max()),
                int(np.abs(s).sum()),
            )

        for pdf in batches:
            rows = _guarded_rows(pdf, one, id_col, 6, on_error)
            yield _rows_frame(rows, cols, on_error)

    return media.mapInPandas(run, schema=schema)
