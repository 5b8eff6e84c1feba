"""Transverse-Mercator geodesy + CRS reprojection operators.

The series coefficients are verified four independent ways (no external
geodesy library exists in this container, so the checks are chosen to
fail loudly on ANY wrong coefficient):

1. the rectifying radius reproduces the published WGS84 meridian
   quarter (10 001 965.7293 m) to sub-millimeter;
2. forward/inverse round-trips hit machine precision across the whole
   UTM band — this ties the alpha and beta series to each other;
3. the forward map is inverted NUMERICALLY (2-D Newton with
   finite-difference Jacobian, sharing no series code with
   utm_inverse) and agrees with the series inverse — this ties both
   series to the forward map's ellipsoidal core;
4. the scale factor on the central meridian is k0 = 0.9996 and grid
   north equals true north there (known TM properties).
"""

import numpy as np
import pytest

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import geodesy as G
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import reproject as RP


def test_meridian_quarter_constant():
    # published WGS84 quarter-meridian: 10001965.7293 m
    assert abs(G.RECT_A * np.pi / 2 - 10001965.7293) < 1e-3


def test_central_meridian_equator_is_origin():
    e, n = G.utm_forward(
        np.array([0.0]), np.array([3.0]), np.array([31]), np.array([False])
    )
    assert abs(e[0] - 500000.0) < 1e-9 and abs(n[0]) < 1e-9


def test_round_trip_full_band():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-84, 84, 5000)
    zone = rng.integers(1, 61, 5000)
    lon = 6.0 * zone - 183.0 + rng.uniform(-3.2, 3.2, 5000)  # past zone edge
    south = lat < 0
    e, n = G.utm_forward(lat, lon, zone, south)
    lat2, lon2 = G.utm_inverse(e, n, zone, south)
    assert np.abs(lat2 - lat).max() < 1e-12
    assert np.abs(lon2 - lon).max() < 1e-12


def test_inverse_matches_numerical_newton():
    """Invert the forward map with 2-D Newton (finite-difference
    Jacobian) — an algorithm sharing no code with utm_inverse's beta
    series / tau' iteration — and require agreement ~1e-10 deg."""
    rng = np.random.default_rng(11)
    m = 200
    lat = rng.uniform(-80, 80, m)
    zone = rng.integers(1, 61, m)
    lon = 6.0 * zone - 183.0 + rng.uniform(-2.9, 2.9, m)
    south = lat < 0
    e, n = G.utm_forward(lat, lon, zone, south)

    # Newton from a crude start (central meridian, spherical northing)
    glat = np.where(south, (n - 1e7), n) / 111000.0 * 0.0 + np.where(
        south, (n - 1e7) / 110600.0, n / 110600.0
    )
    glon = 6.0 * zone - 183.0 + (e - 500000.0) / 111320.0
    h = 1e-7
    for _ in range(25):
        fe, fn = G.utm_forward(glat, glon, zone, south)
        re_, rn = e - fe, n - fn
        e_la, n_la = G.utm_forward(glat + h, glon, zone, south)
        e_lo, n_lo = G.utm_forward(glat, glon + h, zone, south)
        j11, j21 = (e_la - fe) / h, (n_la - fn) / h
        j12, j22 = (e_lo - fe) / h, (n_lo - fn) / h
        det = j11 * j22 - j12 * j21
        glat = glat + (j22 * re_ - j12 * rn) / det
        glon = glon + (-j21 * re_ + j11 * rn) / det
    lat_s, lon_s = G.utm_inverse(e, n, zone, south)
    assert np.abs(lat_s - glat).max() < 1e-9
    assert np.abs(lon_s - glon).max() < 1e-9


def test_scale_and_convergence_on_central_meridian():
    lat0 = np.array([45.0])
    z, s = np.array([33]), np.array([False])
    e1, n1 = G.utm_forward(lat0, np.array([15.0]), z, s)
    e2, n2 = G.utm_forward(lat0 + 1e-6, np.array([15.0]), z, s)
    # meridian radius of curvature at 45N
    M = (
        G.A_WGS84 * (1 - G.E2)
        / (1 - G.E2 * np.sin(np.deg2rad(45.0)) ** 2) ** 1.5
    )
    k = (n2[0] - n1[0]) / (M * np.deg2rad(1e-6))
    assert abs(k - 0.9996) < 1e-6
    assert abs(e2[0] - e1[0]) < 1e-6  # grid north == true north on CM


def test_zone_and_epsg_helpers():
    assert list(G.utm_zone_from_lon(np.array([-180.0, -177.0, 0.0, 179.9]))) \
        == [1, 1, 31, 60]
    z, s = G.epsg_to_zone(np.array([32601, 32660, 32701, 32733]))
    assert list(z) == [1, 60, 1, 33]
    assert list(s) == [False, False, True, True]
    assert list(G.zone_to_epsg(np.array([31, 7]), np.array([False, True]))) \
        == [32631, 32707]
    with pytest.raises(ValueError):
        G.epsg_to_zone(np.array([4326]))
    epsg, ok = G.parse_epsg(np.array(["EPSG:32733", "utm-33n"], dtype=object))
    assert list(epsg) == [32733, -1] and list(ok) == [True, False]


# malformed under the one EPSG rule (geodesy.parse_epsg)
_EPSG_REJECTED = [
    "EPSG:32633.0", "EPSG:3.2633e4", "EPSG:+32633", "EPSG: 32633",
    "EPSG:032633",
]


def test_parse_epsg_one_rule():
    good = ["EPSG:32633", "epsg:4326", "  EPSG:32718\t"]
    epsg, ok = G.parse_epsg(good + _EPSG_REJECTED + [None, "utm-33n"])
    assert list(epsg[:3]) == [32633, 4326, 32718] and ok[:3].all()
    assert not ok[3:].any() and (epsg[3:] == -1).all()


def test_geotiff_writer_uses_the_same_epsg_rule():
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec_tiff as T

    img = np.zeros((4, 4), np.uint8)
    for crs in _EPSG_REJECTED:
        gk = T._read_ifd(T.encode_tiff(img, geo=(5e5, 4.1e6, 0.5, -0.5, crs)))[0][34735][1]
        keys = {gk[4 * k] for k in range(1, gk[3] + 1)}
        assert 3072 not in keys and 2048 not in keys, crs


def test_extent_densification_beats_corners():
    """A box straddling the central meridian at high latitude has its
    true lat_max mid-edge (latitude along constant northing peaks at
    the CM), so corner-only reprojection under-reports the bound."""
    zone, south = np.array([33, 33]), np.array([False, False])
    ex = np.array([350000.0, 650000.0])
    ny = np.array([6650000.0, 6650000.0])
    lat_c, _ = G.utm_inverse(ex, ny, zone, south)          # corners
    lat_m, _ = G.utm_inverse(
        np.array([500000.0]), np.array([6650000.0]),
        np.array([33]), np.array([False]),
    )
    assert lat_m[0] > lat_c.max() + 1e-4  # mid-edge beats both corners


def test_points_round_trip_spark(spark):
    import pandas as pd

    pdf = pd.DataFrame({
        "pt_id": [f"p{i}" for i in range(40)],
        "x": 320000.0 + np.arange(40) * 8000.0,
        "y": 4000000.0 + np.arange(40) * 30000.0,
        "crs": [f"EPSG:{32601 + i % 60}" if i % 2 == 0
                else f"EPSG:{32701 + i % 60}" for i in range(40)],
    })
    df = spark.createDataFrame(pdf)
    out = RP.points_to_wgs84(df, x="x", y="y", crs="crs").toPandas()
    zone = np.array([int(c[5:]) % 100 for c in pdf["crs"]])
    south = np.array([c.startswith("EPSG:327") for c in pdf["crs"]])
    lat, lon = G.utm_inverse(pdf["x"].values, pdf["y"].values, zone, south)
    o = out.set_index("pt_id").loc[pdf["pt_id"]]
    assert np.abs(o["lat"].values - lat).max() < 1e-12
    assert np.abs(o["lon"].values - lon).max() < 1e-12

    # forward back into one target zone and compare against numpy forward
    back = RP.points_to_utm(
        spark.createDataFrame(o.reset_index()[["pt_id", "lon", "lat"]]),
        dst_epsg=32633,
    ).toPandas().set_index("pt_id").loc[pdf["pt_id"]]
    e_np, n_np = G.utm_forward(
        lat, lon, np.full(40, 33), np.full(40, False)
    )
    assert np.abs(back["easting"].values - e_np).max() < 1e-9
    assert np.abs(back["northing"].values - n_np).max() < 1e-9


def test_points_bad_crs_raises(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({
        "pt_id": ["a"], "x": [500000.0], "y": [1000.0], "crs": ["EPSG:4326"],
    }))
    with pytest.raises(Exception, match="unsupported CRS"):
        RP.points_to_wgs84(df).collect()


def test_extents_to_wgs84_operator(spark):
    import pandas as pd

    pdf = pd.DataFrame({
        "image_id": ["a", "b"],
        "minx": [350000.0, 400000.0],
        "miny": [6600000.0, 2000000.0],
        "maxx": [650000.0, 430000.0],
        "maxy": [6700000.0, 2030000.0],
        "crs": ["EPSG:32633", "EPSG:32718"],
    })
    out = RP.extents_to_wgs84(spark.createDataFrame(pdf)).toPandas() \
        .set_index("image_id")
    # row a straddles the CM: its lat_max must exceed the corner-only max
    zone = np.array([33, 33, 33, 33])
    south = np.array([False] * 4)
    clat, clon = G.utm_inverse(
        np.array([350000.0, 650000.0, 350000.0, 650000.0]),
        np.array([6600000.0, 6600000.0, 6700000.0, 6700000.0]),
        zone, south,
    )
    a = out.loc["a"]
    assert a["epsg"] == 32633
    assert a["lat_max"] > clat.max()
    assert abs(a["lon_min"] - clon.min()) < 1e-7
    assert abs(a["lon_max"] - clon.max()) < 1e-7
    b = out.loc["b"]
    assert b["epsg"] == 32718 and b["lat_max"] < 0  # southern hemisphere


def test_extents_on_error_policies(spark):
    import pandas as pd

    pdf = pd.DataFrame({
        "image_id": ["good", "bad"],
        "minx": [400000.0, 1.0],
        "miny": [5000000.0, 2.0],
        "maxx": [410000.0, 3.0],
        "maxy": [5010000.0, 4.0],
        "crs": ["EPSG:32610", "SYNTH:METRIC"],
    })
    df = spark.createDataFrame(pdf).repartition(1)
    with pytest.raises(Exception, match="unsupported CRS"):
        RP.extents_to_wgs84(df, on_error="fail").collect()

    skip = RP.extents_to_wgs84(df, on_error="skip").toPandas()
    assert list(skip["image_id"]) == ["good"]

    # malformed EPSG spellings are flagged rows too, never a raise
    lax = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"r{i}" for i in range(len(_EPSG_REJECTED))],
        "minx": 400000.0, "miny": 5000000.0,
        "maxx": 410000.0, "maxy": 5010000.0,
        "crs": _EPSG_REJECTED,
    }))
    assert RP.extents_to_wgs84(lax, on_error="skip").count() == 0

    q = RP.extents_to_wgs84(df, on_error="quarantine").toPandas() \
        .set_index("image_id")
    assert q.loc["good", "error"] is None or pd.isna(q.loc["good", "error"])
    assert "unsupported CRS" in q.loc["bad", "error"]
    assert pd.isna(q.loc["bad", "lon_min"])
    # the good row's values are NOT disturbed by sharing a batch with a
    # bad one (the float64-coercion trap _policy.rows_frame guards)
    zone = np.full(4, 10)
    lat_g, lon_g = G.utm_inverse(
        np.array([400000.0, 410000.0, 400000.0, 410000.0]),
        np.array([5000000.0, 5000000.0, 5010000.0, 5010000.0]),
        zone, np.zeros(4, dtype=bool),
    )
    assert abs(q.loc["good", "lon_min"] - lon_g.min()) < 1e-7


def test_rezone_points(spark):
    import pandas as pd

    pdf = pd.DataFrame({
        "pt_id": ["p0"],
        "x": [650000.0],           # east edge of zone 32 ...
        "y": [5200000.0],
        "crs": ["EPSG:32632"],
    })
    out = RP.rezone_points(
        spark.createDataFrame(pdf), dst_epsg=32633, x="x", y="y", crs="crs"
    ).toPandas()
    lat, lon = G.utm_inverse(
        np.array([650000.0]), np.array([5200000.0]),
        np.array([32]), np.array([False]),
    )
    e33, n33 = G.utm_forward(lat, lon, np.array([33]), np.array([False]))
    assert abs(out["easting"][0] - e33[0]) < 1e-9
    assert abs(out["northing"][0] - n33[0]) < 1e-9
    assert out["easting"][0] < 500000.0  # ... lands west of zone 33's CM


def test_scale_convergence_analytic_vs_finite_difference():
    """k and gamma from the complex derivative must agree with finite
    differences of utm_forward (FD noise floor ~1e-6), reproduce
    k0 = 0.9996 / gamma = 0 on the central meridian, and follow the
    spherical approximation gamma ~ dlon * sin(lat)."""
    rng = np.random.default_rng(5)
    m = 500
    lat = rng.uniform(-80, 80, m)
    zone = rng.integers(1, 61, m)
    lon = 6.0 * zone - 183.0 + rng.uniform(-3, 3, m)
    south = lat < 0

    k, gamma = G.utm_scale_convergence(lat, lon, zone)

    h = 1e-7
    e0, n0 = G.utm_forward(lat, lon, zone, south)
    e1, n1 = G.utm_forward(lat + h, lon, zone, south)
    M = G.A_WGS84 * (1 - G.E2) / (1 - G.E2 * np.sin(np.deg2rad(lat)) ** 2) ** 1.5
    dn = M * np.deg2rad(h)
    assert np.abs(k - np.hypot(e1 - e0, n1 - n0) / dn).max() < 1e-5
    # FD bearing of true-north's image (east-positive) = -gamma
    assert np.abs(
        gamma + np.rad2deg(np.arctan2(e1 - e0, n1 - n0))
    ).max() < 1e-4

    k_cm, g_cm = G.utm_scale_convergence(
        np.array([37.0]), np.array([15.0]), np.array([33])
    )
    assert abs(k_cm[0] - 0.9996) < 1e-12 and abs(g_cm[0]) < 1e-12

    approx = (lon - (6.0 * zone - 183.0)) * np.sin(np.deg2rad(lat))
    assert np.abs(gamma - approx).max() < 0.05  # spherical first-order law
