"""WGS84 <-> UTM transverse-mercator projection, pure NumPy.

The reference projects everything to a local UTM zone in meters before
measuring distances / interpolating along roads (reference:
modules/osmnx_road_network.py:40-45, 92-95, 127-129 via
osmnx/pyproj). No pyproj exists in this environment, so the engine
carries its own vectorized implementation of the standard Krüger /
Karney series (6th order in the third flattening n — the same published
series pyproj's ``tmerc`` uses; accuracy well below 1 mm inside a UTM
zone), suitable for Arrow-batched pandas UDFs.

Fixture CRS is EPSG:32631 (UTM zone 31N): lon0 = 3°, k0 = 0.9996,
false easting 500 000 m, false northing 0.
"""

from __future__ import annotations

import numpy as np

# WGS84
_A = 6378137.0
_F = 1.0 / 298.257223563
_K0 = 0.9996
_FE = 500000.0

_N = _F / (2.0 - _F)  # third flattening
_E = np.sqrt(_F * (2.0 - _F))  # eccentricity

# Rectifying radius A = a/(1+n) (1 + n^2/4 + n^4/64 + n^6/256)
_RECT_A = _A / (1.0 + _N) * (1.0 + _N**2 / 4.0 + _N**4 / 64.0 + _N**6 / 256.0)

# Krüger forward coefficients alpha_j (Karney 2011, eq. 35)
_ALPHA = np.array(
    [
        _N / 2.0 - 2.0 * _N**2 / 3.0 + 5.0 * _N**3 / 16.0 + 41.0 * _N**4 / 180.0
        - 127.0 * _N**5 / 288.0 + 7891.0 * _N**6 / 37800.0,
        13.0 * _N**2 / 48.0 - 3.0 * _N**3 / 5.0 + 557.0 * _N**4 / 1440.0
        + 281.0 * _N**5 / 630.0 - 1983433.0 * _N**6 / 1935360.0,
        61.0 * _N**3 / 240.0 - 103.0 * _N**4 / 140.0 + 15061.0 * _N**5 / 26880.0
        + 167603.0 * _N**6 / 181440.0,
        49561.0 * _N**4 / 161280.0 - 179.0 * _N**5 / 168.0 + 6601661.0 * _N**6 / 7257600.0,
        34729.0 * _N**5 / 80640.0 - 3418889.0 * _N**6 / 1995840.0,
        212378941.0 * _N**6 / 319334400.0,
    ]
)

# Krüger inverse coefficients beta_j (Karney 2011, eq. 36)
_BETA = np.array(
    [
        _N / 2.0 - 2.0 * _N**2 / 3.0 + 37.0 * _N**3 / 96.0 - _N**4 / 360.0
        - 81.0 * _N**5 / 512.0 + 96199.0 * _N**6 / 604800.0,
        _N**2 / 48.0 + _N**3 / 15.0 - 437.0 * _N**4 / 1440.0 + 46.0 * _N**5 / 105.0
        - 1118711.0 * _N**6 / 3870720.0,
        17.0 * _N**3 / 480.0 - 37.0 * _N**4 / 840.0 - 209.0 * _N**5 / 4480.0
        + 5569.0 * _N**6 / 90720.0,
        4397.0 * _N**4 / 161280.0 - 11.0 * _N**5 / 504.0 - 830251.0 * _N**6 / 7257600.0,
        4583.0 * _N**5 / 161280.0 - 108847.0 * _N**6 / 3991680.0,
        20648693.0 * _N**6 / 638668800.0,
    ]
)

# Conformal -> geodetic latitude series: phi = chi + sum d_j sin(2j chi)
_DELTA = np.array(
    [
        2.0 * _N - 2.0 * _N**2 / 3.0 - 2.0 * _N**3 + 116.0 * _N**4 / 45.0,
        7.0 * _N**2 / 3.0 - 8.0 * _N**3 / 5.0 - 227.0 * _N**4 / 45.0,
        56.0 * _N**3 / 15.0 - 136.0 * _N**4 / 35.0,
        4279.0 * _N**4 / 630.0,
    ]
)


def zone_central_lon(zone: int) -> float:
    return -183.0 + 6.0 * zone


def lonlat_to_utm(
    lon: np.ndarray, lat: np.ndarray, zone: int = 31
) -> tuple[np.ndarray, np.ndarray]:
    """Forward projection (vectorized). Returns (easting, northing) in m."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lam = np.radians(lon - zone_central_lon(zone))
    phi = np.radians(lat)

    sphi = np.sin(phi)
    # Conformal latitude via Karney: tau' from tau
    tau = np.tan(phi)
    sigma = np.sinh(_E * np.arctanh(_E * sphi))
    taup = tau * np.sqrt(1.0 + sigma**2) - sigma * np.sqrt(1.0 + tau**2)

    xi_p = np.arctan2(taup, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(taup**2 + np.cos(lam) ** 2))

    xi = xi_p.copy()
    eta = eta_p.copy()
    for j in range(6):
        k = 2.0 * (j + 1)
        xi += _ALPHA[j] * np.sin(k * xi_p) * np.cosh(k * eta_p)
        eta += _ALPHA[j] * np.cos(k * xi_p) * np.sinh(k * eta_p)

    easting = _FE + _K0 * _RECT_A * eta
    northing = _K0 * _RECT_A * xi
    return easting, northing


def utm_to_lonlat(
    easting: np.ndarray, northing: np.ndarray, zone: int = 31
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse projection (vectorized). Returns (lon, lat) in degrees."""
    easting = np.asarray(easting, dtype=np.float64)
    northing = np.asarray(northing, dtype=np.float64)
    xi = northing / (_K0 * _RECT_A)
    eta = (easting - _FE) / (_K0 * _RECT_A)

    xi_p = xi.copy()
    eta_p = eta.copy()
    for j in range(6):
        k = 2.0 * (j + 1)
        xi_p -= _BETA[j] * np.sin(k * xi) * np.cosh(k * eta)
        eta_p -= _BETA[j] * np.cos(k * xi) * np.sinh(k * eta)

    # Gauss-Schreiber sphere -> conformal latitude chi and longitude
    chi = np.arctan2(np.sin(xi_p), np.sqrt(np.sinh(eta_p) ** 2 + np.cos(xi_p) ** 2))
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))

    phi = chi.copy()
    for j in range(4):
        phi += _DELTA[j] * np.sin(2.0 * (j + 1) * chi)

    lon = np.degrees(lam) + zone_central_lon(zone)
    lat = np.degrees(phi)
    return lon, lat


def meridian_arc_numeric(lat_deg: float, steps: int = 200000) -> float:
    """Independent oracle: meridian distance from equator by numeric
    integration of M(phi) = a(1-e^2)/(1-e^2 sin^2 phi)^{3/2}. Used only
    by tests to validate the series implementation."""
    phi = np.linspace(0.0, np.radians(lat_deg), steps)
    integrand = _A * (1.0 - _E**2) / (1.0 - (_E * np.sin(phi)) ** 2) ** 1.5
    return float(np.trapz(integrand, phi))


def with_utm(df, lon: str = "lon", lat: str = "lat", zone: int = 31,
             x_col: str = "x", y_col: str = "y"):
    """DataFrame-level forward Krüger: the series STAGED through
    intermediate columns (_tau, _sigma, _taup, _xip, _etap). Each
    intermediate is non-cheap and referenced more than once, so
    CollapseProject keeps the projections stacked and whole-stage
    codegen computes each stage once per row in a small JIT-friendly
    local — a single-expression form would textually expand
    xi'/eta' 13x and generate a method past HotSpot's huge-method
    JIT limit."""
    from pyspark.sql import functions as F

    one = F.lit(1.0)
    phi = F.radians(F.col(lat))
    df = (
        df.withColumn("_lam", F.radians(F.col(lon) - F.lit(zone_central_lon(zone))))
        .withColumn("_tau", F.tan(phi))
        .withColumn(
            "_sigma",
            F.sinh(F.lit(float(_E)) * F.atanh(F.lit(float(_E)) * F.sin(phi))),
        )
    )
    df = df.withColumn(
        "_taup",
        F.col("_tau") * F.sqrt(F.col("_sigma") * F.col("_sigma") + one)
        - F.col("_sigma") * F.sqrt(F.col("_tau") * F.col("_tau") + one),
    ).withColumn("_coslam", F.cos(F.col("_lam")))
    df = df.withColumn(
        "_xip", F.atan2(F.col("_taup"), F.col("_coslam"))
    ).withColumn(
        "_etap",
        F.asinh(
            F.sin(F.col("_lam"))
            / F.sqrt(
                F.col("_taup") * F.col("_taup") + F.col("_coslam") * F.col("_coslam")
            )
        ),
    )
    xi, eta = F.col("_xip"), F.col("_etap")
    for j in range(6):
        k = F.lit(2.0 * (j + 1))
        a = F.lit(float(_ALPHA[j]))
        xi = xi + a * F.sin(k * F.col("_xip")) * F.cosh(k * F.col("_etap"))
        eta = eta + a * F.cos(k * F.col("_xip")) * F.sinh(k * F.col("_etap"))
    df = df.withColumn(x_col, F.lit(_FE) + F.lit(_K0) * F.lit(_RECT_A) * eta)
    df = df.withColumn(y_col, F.lit(_K0) * F.lit(_RECT_A) * xi)
    return df.drop("_lam", "_tau", "_sigma", "_taup", "_coslam", "_xip", "_etap")
