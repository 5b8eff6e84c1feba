"""WGS84 <-> UTM transverse-Mercator reprojection, from scratch.

The reference carries CRS as an opaque WKT string and never reprojects
(``/root/reference/src/io.py:62,80`` — every input is assumed to share
one projection).  That deviation was documented through round 4; this
module closes it for the one projection family an aerial corpus
actually mixes: UTM zones.  A 100 TB orthophoto lake spans many UTM
zones (each is only 6 degrees of longitude wide), so "mosaic the
corpus" requires normalizing extents into one frame (WGS84 lon/lat)
before any spatial join or tiler runs.

Implementation: the exact transverse-Mercator series of Krueger (1912)
in the form given by Karney 2011, "Transverse Mercator with an
accuracy of a few nanometers" (public paper; also the algorithm inside
GeographicLib/PROJ).  Sixth-order series in the third flattening n —
round-trip error is sub-nanometer over the UTM band (|lat| <= 84, the
standard UTM validity range), verified by tests/test_geodesy.py
against (a) forward/inverse round-trips, (b) an independent 2-D
Newton inversion of the forward map, (c) the known WGS84 meridian
quarter length, and (d) the k0 = 0.9996 scale factor on the central
meridian.

Everything is vectorized numpy over flat float64 arrays — zone and
hemisphere are per-element vectors (lon0 = 6*zone - 183), so ONE call
handles a batch of mixed-zone rows with no Python loop.  That is the
scale contract: reprojection is a pure map (zero shuffle), Arrow-batch
friendly, and the per-row cost is a handful of transcendental ops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# WGS84 ellipsoid
A_WGS84 = 6378137.0
F_WGS84 = 1.0 / 298.257223563
E2 = F_WGS84 * (2.0 - F_WGS84)          # first eccentricity squared
E1 = float(np.sqrt(E2))
N3 = F_WGS84 / (2.0 - F_WGS84)          # third flattening n

# Rectifying radius A = a/(1+n) * (1 + n^2/4 + n^4/64 + n^6/256)
RECT_A = (
    A_WGS84
    / (1.0 + N3)
    * (1.0 + N3**2 / 4.0 + N3**4 / 64.0 + N3**6 / 256.0)
)

K0 = 0.9996            # UTM central-meridian scale
FALSE_E = 500000.0     # false easting
FALSE_N_S = 10000000.0  # false northing, southern hemisphere

# Krueger alpha series (forward), Karney 2011 eq. 35, order n^6
_ALPHA = np.array([
    N3 / 2.0 - 2.0 / 3.0 * N3**2 + 5.0 / 16.0 * N3**3
    + 41.0 / 180.0 * N3**4 - 127.0 / 288.0 * N3**5
    + 7891.0 / 37800.0 * N3**6,
    13.0 / 48.0 * N3**2 - 3.0 / 5.0 * N3**3 + 557.0 / 1440.0 * N3**4
    + 281.0 / 630.0 * N3**5 - 1983433.0 / 1935360.0 * N3**6,
    61.0 / 240.0 * N3**3 - 103.0 / 140.0 * N3**4
    + 15061.0 / 26880.0 * N3**5 + 167603.0 / 181440.0 * N3**6,
    49561.0 / 161280.0 * N3**4 - 179.0 / 168.0 * N3**5
    + 6601661.0 / 7257600.0 * N3**6,
    34729.0 / 80640.0 * N3**5 - 3418889.0 / 1995840.0 * N3**6,
    212378941.0 / 319334400.0 * N3**6,
])

# Krueger beta series (inverse), Karney 2011 eq. 36, order n^6
_BETA = np.array([
    N3 / 2.0 - 2.0 / 3.0 * N3**2 + 37.0 / 96.0 * N3**3
    - 1.0 / 360.0 * N3**4 - 81.0 / 512.0 * N3**5
    + 96199.0 / 604800.0 * N3**6,
    1.0 / 48.0 * N3**2 + 1.0 / 15.0 * N3**3 - 437.0 / 1440.0 * N3**4
    + 46.0 / 105.0 * N3**5 - 1118711.0 / 3870720.0 * N3**6,
    17.0 / 480.0 * N3**3 - 37.0 / 840.0 * N3**4
    - 209.0 / 4480.0 * N3**5 + 5569.0 / 90720.0 * N3**6,
    4397.0 / 161280.0 * N3**4 - 11.0 / 504.0 * N3**5
    - 830251.0 / 7257600.0 * N3**6,
    4583.0 / 161280.0 * N3**5 - 108847.0 / 3991680.0 * N3**6,
    20648693.0 / 638668800.0 * N3**6,
])

_J = np.arange(1, 7, dtype=np.float64)  # series index 1..6


def _taup_of_tau(tau: np.ndarray) -> np.ndarray:
    """tau' = tan(conformal latitude) as a function of tau = tan(phi).

    Karney 2011 eq. 7-8: sigma = sinh(e atanh(e tau / sqrt(1+tau^2)));
    tau' = tau sqrt(1+sigma^2) - sigma sqrt(1+tau^2).
    """
    s = np.sinh(E1 * np.arctanh(E1 * tau / np.hypot(1.0, tau)))
    return tau * np.hypot(1.0, s) - s * np.hypot(1.0, tau)


def _tau_of_taup(taup: np.ndarray) -> np.ndarray:
    """Invert _taup_of_tau by Newton (Karney 2011 eq. 19-21).

    Quadratic convergence; 5 iterations reach machine precision over
    the full UTM band from the tau' / (1 - e^2) starting point.
    """
    tau = taup / (1.0 - E2)
    for _ in range(5):
        taup_i = _taup_of_tau(tau)
        dtau = (
            (taup - taup_i)
            * (1.0 + (1.0 - E2) * tau * tau)
            / ((1.0 - E2) * np.hypot(1.0, taup_i) * np.hypot(1.0, tau))
        )
        tau = tau + dtau
    return tau


def utm_forward(
    lat_deg: np.ndarray,
    lon_deg: np.ndarray,
    zone: np.ndarray,
    south: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Geodetic WGS84 -> UTM (easting, northing), all inputs vectors.

    ``zone`` 1..60 and boolean ``south`` are per-element, so one call
    projects a mixed-zone batch.  Valid for |lat| <= 84 (UTM band).
    """
    lat = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    zone = np.asarray(zone, dtype=np.float64)
    lon0 = 6.0 * zone - 183.0
    dlon = np.deg2rad(
        np.asarray(lon_deg, dtype=np.float64) - lon0
    )

    taup = _taup_of_tau(np.tan(lat))
    cosl, sinl = np.cos(dlon), np.sin(dlon)
    xi_p = np.arctan2(taup, cosl)
    eta_p = np.arcsinh(sinl / np.hypot(taup, cosl))

    two_j_xi = 2.0 * np.multiply.outer(_J, xi_p)    # (6, n)
    two_j_eta = 2.0 * np.multiply.outer(_J, eta_p)  # (6, n)
    al = _ALPHA.reshape(6, *([1] * xi_p.ndim))
    xi = xi_p + np.sum(al * np.sin(two_j_xi) * np.cosh(two_j_eta), axis=0)
    eta = eta_p + np.sum(al * np.cos(two_j_xi) * np.sinh(two_j_eta), axis=0)

    easting = FALSE_E + K0 * RECT_A * eta
    northing = K0 * RECT_A * xi
    northing = np.where(np.asarray(south, dtype=bool),
                        northing + FALSE_N_S, northing)
    return easting, northing


def utm_inverse(
    easting: np.ndarray,
    northing: np.ndarray,
    zone: np.ndarray,
    south: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """UTM (easting, northing) -> geodetic WGS84 (lat, lon) degrees."""
    e = np.asarray(easting, dtype=np.float64)
    nn = np.asarray(northing, dtype=np.float64)
    nn = np.where(np.asarray(south, dtype=bool), nn - FALSE_N_S, nn)
    xi = nn / (K0 * RECT_A)
    eta = (e - FALSE_E) / (K0 * RECT_A)

    two_j_xi = 2.0 * np.multiply.outer(_J, xi)
    two_j_eta = 2.0 * np.multiply.outer(_J, eta)
    be = _BETA.reshape(6, *([1] * np.ndim(xi)))
    xi_p = xi - np.sum(be * np.sin(two_j_xi) * np.cosh(two_j_eta), axis=0)
    eta_p = eta - np.sum(be * np.cos(two_j_xi) * np.sinh(two_j_eta), axis=0)

    sinh_eta, cos_xi = np.sinh(eta_p), np.cos(xi_p)
    taup = np.sin(xi_p) / np.hypot(sinh_eta, cos_xi)
    lat = np.rad2deg(np.arctan(_tau_of_taup(taup)))

    zone = np.asarray(zone, dtype=np.float64)
    lon0 = 6.0 * zone - 183.0
    lon = lon0 + np.rad2deg(np.arctan2(sinh_eta, cos_xi))
    return lat, lon


def utm_scale_convergence(
    lat_deg: np.ndarray,
    lon_deg: np.ndarray,
    zone: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Point scale factor k and grid convergence gamma (degrees, east of
    grid north) — the mosaic-QA quantities of a projection: k bounds the
    resampling distortion of a warped orthophoto, gamma the rotation
    between grid north and true north.

    Computed from the complex derivative of the conformal map (the map
    ``psi + i*lambda -> zeta`` is analytic, so one derivative carries
    both quantities):

        zeta' = arctan(sinh(psi + i*lam))      (spherical TM, exact)
        dzeta/dw = (1 + sum 2j alpha_j cos 2j zeta') * sech(psi + i*lam)
        k = k0 * A * |dzeta/dw| / (nu * cos(phi));  gamma = arg(dzeta/dw)

    with psi the ellipsoidal isometric latitude and nu the prime
    vertical radius.  Verified against finite differences of
    utm_forward in tests/test_geodesy.py (agreement at the FD noise
    floor ~5e-7; the analytic values are the accurate ones).
    """
    phi = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    zone = np.asarray(zone, dtype=np.float64)
    lam = np.deg2rad(np.asarray(lon_deg, dtype=np.float64)
                     - (6.0 * zone - 183.0))
    psi = np.arctanh(np.sin(phi)) - E1 * np.arctanh(E1 * np.sin(phi))
    w = psi + 1j * lam
    zeta_p = np.arctan(np.sinh(w))
    al = _ALPHA.reshape(6, *([1] * np.ndim(w)))
    jj = _J.reshape(6, *([1] * np.ndim(w)))
    d = (1.0 + np.sum(2.0 * jj * al * np.cos(2.0 * jj * zeta_p), axis=0)) \
        / np.cosh(w)
    nu = A_WGS84 / np.sqrt(1.0 - E2 * np.sin(phi) ** 2)
    k = K0 * RECT_A * np.abs(d) / (nu * np.cos(phi))
    # arg(d) is the east-positive bearing of true north's image w.r.t.
    # grid north; the conventional convergence (Snyder: gamma ~ +dlon
    # sin(lat), grid north east of true north east of the CM) is its
    # negation
    gamma = -np.rad2deg(np.arctan2(d.imag, d.real))
    return k, gamma


def utm_zone_from_lon(lon_deg: np.ndarray) -> np.ndarray:
    """Standard 6-degree UTM zone for a longitude (1..60).

    The Norway/Svalbard grid exceptions apply to MGRS lettered cells,
    not to the EPSG zone codes this engine carries; the plain formula
    is what EPSG 326xx/327xx encode.
    """
    lon = np.asarray(lon_deg, dtype=np.float64)
    # normalize to [-180, 180)
    lon = ((lon + 180.0) % 360.0) - 180.0
    z = np.floor((lon + 180.0) / 6.0).astype(np.int64) + 1
    return np.clip(z, 1, 60)


def is_utm_epsg(epsg: np.ndarray) -> np.ndarray:
    """Mask of the EPSG codes in the two UTM/WGS84 ranges, 32601-32660
    (north) and 32701-32760 (south)."""
    e = np.asarray(epsg, dtype=np.int64)
    return ((e >= 32601) & (e <= 32660)) | ((e >= 32701) & (e <= 32760))


def epsg_to_zone(epsg: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """EPSG 326xx/327xx integer codes -> (zone, south).  Raises
    ValueError on anything outside the two UTM/WGS84 ranges — the
    caller's on_error policy decides whether that kills the job or
    quarantines the row."""
    e = np.asarray(epsg, dtype=np.int64)
    ok = is_utm_epsg(e)
    if not bool(ok.all()):
        raise ValueError(f"unsupported CRS (want EPSG:326xx/327xx): {e[~ok][:4]}")
    south = e >= 32700
    return np.where(south, e - 32700, e - 32600), south


def zone_to_epsg(zone: np.ndarray, south: np.ndarray) -> np.ndarray:
    """(zone 1..60, south) -> EPSG 326xx/327xx integer codes."""
    z = np.asarray(zone, dtype=np.int64)
    if not bool(np.all((z >= 1) & (z <= 60))):
        raise ValueError("UTM zone out of range 1..60")
    return np.where(np.asarray(south, dtype=bool), 32700 + z, 32600 + z)


# The engine's one EPSG rule: "EPSG:" + 4-5 ASCII digits, case-insensitive,
# outer whitespace stripped.  Signs, decimals, exponents, inner spaces and
# 6-digit zero-padded codes are malformed.
_EPSG_RE = r"(?i)^\s*EPSG:([0-9]{4,5})\s*$"


def parse_epsg(crs) -> tuple[np.ndarray, np.ndarray]:
    """Sequence of 'EPSG:32633'-style strings -> (epsg int64, ok bool).

    Never raises: malformed or non-string entries get epsg=-1 / ok=False
    so the caller's ``on_error`` policy decides.  Vectorized pandas
    string ops — no per-row Python."""
    s = pd.Series(np.asarray(crs, dtype=object)).astype("string")
    digits = s.str.extract(_EPSG_RE, expand=False)
    ok = digits.notna().to_numpy(dtype=bool)
    epsg = np.full(len(s), -1, dtype=np.int64)
    epsg[ok] = digits[ok].astype(np.int64).to_numpy()
    return epsg, ok
