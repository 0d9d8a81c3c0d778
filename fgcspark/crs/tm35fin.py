"""EPSG:3067 (ETRS-TM35FIN) <-> EPSG:4326 transform, pure numpy.

Re-expresses the reference's whole-table ``sf::st_transform`` calls
(reference R/finbif_geo_convert.R:326-336,350-362,405-411) without PROJ:
Karney's extended Krueger series to n^6 ("Transverse Mercator with an
accuracy of a few nanometers", Karney 2011, public algorithm), which
agrees with PROJ's etmerc to sub-nanometer over the Finnish bbox. The
reference's GC kernel rounds to integer meters in this frame
(R/finbif_geo_convert.R:462), so sub-mm agreement is ample.

Ellipsoid GRS80; projection params from the public EPSG registry entry
for 3067: lon0=27 deg, k0=0.9996, FE=500000, FN=0.

All functions are vectorized over numpy arrays and elementwise, so a
coordinate's result does not depend on what else is in the call. The
point UDF (pipeline.point_en) and the footprint kernels
(pipeline._footprint_batch's G10 output transform, fpjoin's probe
projection, layer_analytics) call them once per Arrow batch. Some
call sites still call them once per geometry inside a batch: the G5
GEOMETRYCOLLECTION round trip and the G11 point buffer in pipeline.py,
and the polygon layer build in joins/pip.py (one call per ring).
"""

from __future__ import annotations

import numpy as np

# GRS80
_A = 6378137.0
_F = 1.0 / 298.257222101
_E2 = _F * (2.0 - _F)
_E = np.sqrt(_E2)
_N = _F / (2.0 - _F)

# Rectifying radius A = a/(1+n) * (1 + n^2/4 + n^4/64 + n^6/256)
_AHAT = _A / (1.0 + _N) * (1.0 + _N**2 / 4.0 + _N**4 / 64.0 + _N**6 / 256.0)

# Krueger series coefficients to n^6 (Karney 2011 eq. 35/36).
_ALPHA = np.array(
    [
        _N / 2 - 2 * _N**2 / 3 + 5 * _N**3 / 16 + 41 * _N**4 / 180
        - 127 * _N**5 / 288 + 7891 * _N**6 / 37800,
        13 * _N**2 / 48 - 3 * _N**3 / 5 + 557 * _N**4 / 1440
        + 281 * _N**5 / 630 - 1983433 * _N**6 / 1935360,
        61 * _N**3 / 240 - 103 * _N**4 / 140 + 15061 * _N**5 / 26880
        + 167603 * _N**6 / 181440,
        49561 * _N**4 / 161280 - 179 * _N**5 / 168 + 6601661 * _N**6 / 7257600,
        34729 * _N**5 / 80640 - 3418889 * _N**6 / 1995840,
        212378941 * _N**6 / 319334400,
    ]
)
_BETA = np.array(
    [
        _N / 2 - 2 * _N**2 / 3 + 37 * _N**3 / 96 - _N**4 / 360
        - 81 * _N**5 / 512 + 96199 * _N**6 / 604800,
        _N**2 / 48 + _N**3 / 15 - 437 * _N**4 / 1440 + 46 * _N**5 / 105
        - 1118711 * _N**6 / 3870720,
        17 * _N**3 / 480 - 37 * _N**4 / 840 - 209 * _N**5 / 4480
        + 5569 * _N**6 / 90720,
        4397 * _N**4 / 161280 - 11 * _N**5 / 504 - 830251 * _N**6 / 7257600,
        4583 * _N**5 / 161280 - 108847 * _N**6 / 3991680,
        20648693 * _N**6 / 638668800,
    ]
)

LON0 = 27.0
K0 = 0.9996
FE = 500000.0
FN = 0.0
_J = np.arange(1, 7, dtype=np.float64)


def geodetic_to_tm35(lon_deg, lat_deg):
    """(lon, lat) degrees WGS84/ETRS89 -> (easting, northing) EPSG:3067.

    Vectorized; NaN passes through.
    """
    lon = np.asarray(lon_deg, dtype=np.float64)
    lat = np.asarray(lat_deg, dtype=np.float64)
    phi = np.radians(lat)
    lam = np.radians(lon - LON0)

    sphi = np.sin(phi)
    # conformal latitude tau' = sinh(atanh(sin phi) - e atanh(e sin phi))
    t = np.sinh(np.arctanh(sphi) - _E * np.arctanh(_E * sphi))
    clam = np.cos(lam)
    xi_p = np.arctan2(t, clam)
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t * t + clam * clam))

    two_j_xi = 2.0 * np.multiply.outer(_J, xi_p)  # (6, ...)
    two_j_eta = 2.0 * np.multiply.outer(_J, eta_p)
    alpha = _ALPHA.reshape((6,) + (1,) * xi_p.ndim)
    xi = xi_p + np.sum(alpha * np.sin(two_j_xi) * np.cosh(two_j_eta), axis=0)
    eta = eta_p + np.sum(alpha * np.cos(two_j_xi) * np.sinh(two_j_eta), axis=0)

    easting = FE + K0 * _AHAT * eta
    northing = FN + K0 * _AHAT * xi
    return easting, northing


def tm35_to_geodetic(easting, northing):
    """(easting, northing) EPSG:3067 -> (lon, lat) degrees. Vectorized."""
    e_ = np.asarray(easting, dtype=np.float64)
    n_ = np.asarray(northing, dtype=np.float64)
    xi = (n_ - FN) / (K0 * _AHAT)
    eta = (e_ - FE) / (K0 * _AHAT)

    two_j_xi = 2.0 * np.multiply.outer(_J, xi)
    two_j_eta = 2.0 * np.multiply.outer(_J, eta)
    beta = _BETA.reshape((6,) + (1,) * xi.ndim)
    xi_p = xi - np.sum(beta * np.sin(two_j_xi) * np.cosh(two_j_eta), axis=0)
    eta_p = eta - np.sum(beta * np.cos(two_j_xi) * np.sinh(two_j_eta), axis=0)

    seta = np.sinh(eta_p)
    cxi = np.cos(xi_p)
    tau_p = np.sin(xi_p) / np.sqrt(seta * seta + cxi * cxi)
    lam = np.arctan2(seta, cxi)

    # Newton-invert tau' = tau*sqrt(1+sigma^2) - sigma*sqrt(1+tau^2)
    tau = tau_p / (1.0 - _E2)  # good starting guess
    for _ in range(4):
        sig = np.sinh(_E * np.arctanh(_E * tau / np.sqrt(1.0 + tau * tau)))
        f = tau * np.sqrt(1.0 + sig * sig) - sig * np.sqrt(1.0 + tau * tau) - tau_p
        df = (
            (np.sqrt((1.0 + sig * sig) * (1.0 + tau * tau)) - sig * tau)
            * (1.0 - _E2)
            * np.sqrt(1.0 + tau * tau)
            / (1.0 + (1.0 - _E2) * tau * tau)
        )
        tau = tau - f / df

    lat = np.degrees(np.arctan(tau))
    lon = LON0 + np.degrees(lam)
    return lon, lat


def meridian_arc_numeric(lat_deg: float, n_steps: int = 200000) -> float:
    """Independent oracle: meridian arc length from equator by Simpson
    quadrature of a(1-e^2)/(1-e^2 sin^2 t)^(3/2). Used only by tests to
    verify the series against first principles (on the central meridian
    northing == k0 * M(lat))."""
    phi = np.radians(lat_deg)
    t = np.linspace(0.0, phi, 2 * n_steps + 1)
    integrand = _A * (1.0 - _E2) / (1.0 - _E2 * np.sin(t) ** 2) ** 1.5
    h = phi / (2 * n_steps)
    s = integrand[0] + integrand[-1] + 4 * integrand[1:-1:2].sum() + 2 * integrand[2:-1:2].sum()
    return float(s * h / 3.0)
