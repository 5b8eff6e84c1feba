"""CRS normalization operators: mixed-UTM-zone corpora -> one frame.

The reference assumes every raster shares one projection (it copies the
GDAL WKT around verbatim, ``/root/reference/src/io.py:62,80``); at
100 TB that assumption breaks — UTM zones are 6 degrees wide, so any
continental corpus mixes dozens of EPSG:326xx/327xx codes.  These
operators normalize coordinates and extents into WGS84 lon/lat (or a
chosen target zone) so the tiler / spatial joins / mosaic see one
frame.

Scale design: reprojection is a PURE MAP — no shuffle, no groupBy, no
driver collect.  The math (functions/geodesy.py, Karney-series
transverse Mercator) is vectorized numpy over whole Arrow batches with
per-element zone/hemisphere vectors, so a batch of mixed-zone rows is
one numpy pass.  ``points_to_wgs84`` / ``points_to_utm`` are
pandas_udfs (the plan stays a Project inside the surrounding stage);
``extents_to_wgs84`` is a mapInPandas because it reshapes rows ->
densified border samples -> rows.

Extent semantics: a projected bounding box does NOT map to the lon/lat
bounding box of its corners — transverse-Mercator images of straight
edges curve, and the extreme longitude of an extent near the zone edge
sits mid-edge, not at a corner.  ``extents_to_wgs84`` therefore
densifies the border (``densify`` samples per edge, default 16: the
residual sagitta of a 6-degree-wide UTM edge chord at 1/16 spacing is
< 1e-7 deg, far below any tiler cell) and takes min/max over the
sampled ring.

Error policy: per-row ``on_error`` fail/skip/quarantine, same contract
as the decode operators (operators/_policy.py) — one exotic CRS string
in a 100 TB catalog must not kill the job unless you asked it to.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
)

from ..functions import geodesy as GEO
from . import _policy


def _utm_epsg(crs: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """CRS strings -> (epsg, ok) where ok also requires a UTM/WGS84 code
    (EPSG:326xx/327xx); never raises (see ``geodesy.parse_epsg``)."""
    epsg, ok = GEO.parse_epsg(crs)
    return epsg, ok & GEO.is_utm_epsg(epsg)


_LL_STRUCT = StructType([
    StructField("lon", DoubleType()),
    StructField("lat", DoubleType()),
])
_EN_STRUCT = StructType([
    StructField("easting", DoubleType()),
    StructField("northing", DoubleType()),
])


def nanodeg_udf():
    """pandas_udf long: rint(deg * 1e9) — numpy rounding (half-even) on
    both the query and fixture side, so no Spark-vs-numpy half-rule skew
    when degrees are frozen as integer nanodegrees for exact oracles."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def nd(c: pd.Series) -> pd.Series:
        return pd.Series(np.rint(c.values * 1e9).astype(np.int64))

    return nd


def points_to_wgs84(
    df: DataFrame,
    x: str = "x",
    y: str = "y",
    crs: str = "crs",
) -> DataFrame:
    """Add ``lon``/``lat`` WGS84 columns to projected UTM points.

    Pure projection (no shuffle); malformed CRS raises ValueError (use
    extents_to_wgs84's policy modes, or pre-filter, for lenient paths).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(_LL_STRUCT)
    def inv(xs: pd.Series, ys: pd.Series, cs: pd.Series) -> pd.DataFrame:
        epsg, ok = _utm_epsg(cs)
        if not bool(ok.all()):
            bad = cs.astype(object).values[~ok][:4]
            raise ValueError(f"unsupported CRS (want EPSG:326xx/327xx): {bad}")
        zone, south = GEO.epsg_to_zone(epsg)
        lat, lon = GEO.utm_inverse(
            xs.values.astype(np.float64), ys.values.astype(np.float64),
            zone, south,
        )
        return pd.DataFrame({"lon": lon, "lat": lat})

    ll = inv(F.col(x), F.col(y), F.col(crs))
    return df.withColumn("lon", ll["lon"]).withColumn("lat", ll["lat"])


def points_to_utm(df: DataFrame, dst_epsg: int) -> DataFrame:
    """Add ``easting``/``northing`` columns projecting the WGS84
    ``lon``/``lat`` columns into one target UTM zone (EPSG:326xx/327xx
    int; any other code raises ValueError)."""
    from pyspark.sql.functions import pandas_udf

    zone_s, south_s = GEO.epsg_to_zone([int(dst_epsg)])
    zone_i, south_i = int(zone_s[0]), bool(south_s[0])

    @pandas_udf(_EN_STRUCT)
    def fwd(lons: pd.Series, lats: pd.Series) -> pd.DataFrame:
        n = len(lons)
        e, nn = GEO.utm_forward(
            lats.values.astype(np.float64), lons.values.astype(np.float64),
            np.full(n, zone_i, dtype=np.int64),
            np.full(n, south_i, dtype=bool),
        )
        return pd.DataFrame({"easting": e, "northing": nn})

    en = fwd(F.col("lon"), F.col("lat"))
    return (
        df.withColumn("easting", en["easting"])
        .withColumn("northing", en["northing"])
    )


def rezone_points(
    df: DataFrame,
    dst_epsg: int,
    x: str = "x",
    y: str = "y",
    crs: str = "crs",
) -> DataFrame:
    """UTM -> UTM re-zoning (via WGS84), e.g. normalizing a mixed-zone
    catalog into the mosaic's chosen zone.  Adds easting/northing/lon/
    lat; still a pure map."""
    return points_to_utm(points_to_wgs84(df, x=x, y=y, crs=crs), dst_epsg)


def extents_to_wgs84(
    df: DataFrame, densify: int = 16, on_error: str = "fail"
) -> DataFrame:
    """Projected per-image extents ``(image_id, minx, miny, maxx, maxy,
    crs)`` -> WGS84 lon/lat bounds.

    Returns ``(image_id, epsg int, lon_min, lat_min, lon_max, lat_max)``
    (+ ``error string`` under quarantine).  The border ring is densified
    ``densify`` samples per edge before inversion — see module
    docstring for why corners alone are wrong.
    """
    _policy.check_on_error(on_error)
    if densify < 1:
        raise ValueError("densify must be >= 1")
    dens = int(densify)

    schema = (
        "image_id string, epsg int, lon_min double, lat_min double, "
        "lon_max double, lat_max double"
    )
    if on_error == "quarantine":
        schema += ", error string"

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            epsg, ok = _utm_epsg(pdf["crs"])
            if on_error == "fail" and not bool(ok.all()):
                bad = pdf["crs"].astype(object).values[~ok][:4]
                raise ValueError(
                    f"unsupported CRS (want EPSG:326xx/327xx): {bad}"
                )

            x0 = pdf["minx"].values.astype(np.float64)
            y0 = pdf["miny"].values.astype(np.float64)
            x1 = pdf["maxx"].values.astype(np.float64)
            y1 = pdf["maxy"].values.astype(np.float64)

            # densified border ring: (n, 4*(dens+1)) sample points
            t = np.linspace(0.0, 1.0, dens + 1)          # (dens+1,)
            ex = x0[:, None] + (x1 - x0)[:, None] * t    # along x
            ey = y0[:, None] + (y1 - y0)[:, None] * t    # along y
            ones = np.ones_like(t)
            px = np.concatenate(
                [ex, ex, x0[:, None] * ones, x1[:, None] * ones], axis=1
            )
            py = np.concatenate(
                [y0[:, None] * ones, y1[:, None] * ones, ey, ey], axis=1
            )

            zone, south = GEO.epsg_to_zone(np.where(ok, epsg, 32601))
            p = px.shape[1]
            lat, lon = GEO.utm_inverse(
                px.ravel(), py.ravel(),
                np.repeat(zone, p), np.repeat(south, p),
            )
            lat = lat.reshape(n, p)
            lon = lon.reshape(n, p)

            out = pd.DataFrame({
                "image_id": pdf["image_id"].values,
                "epsg": epsg.astype(np.int32),
                "lon_min": lon.min(axis=1),
                "lat_min": lat.min(axis=1),
                "lon_max": lon.max(axis=1),
                "lat_max": lat.max(axis=1),
            })
            if on_error == "skip":
                out = out[ok].reset_index(drop=True)
            elif on_error == "quarantine":
                err = np.where(
                    ok, None,
                    "ValueError: unsupported CRS "
                    + pdf["crs"].astype(str).values,
                )
                out = pd.DataFrame({
                    "image_id": out["image_id"],
                    "epsg": pd.Series(np.where(ok, epsg, None), dtype=object),
                    "lon_min": out["lon_min"].where(ok, None),
                    "lat_min": out["lat_min"].where(ok, None),
                    "lon_max": out["lon_max"].where(ok, None),
                    "lat_max": out["lat_max"].where(ok, None),
                    "error": err,
                })
            yield out

    return df.mapInPandas(run, schema=schema)
