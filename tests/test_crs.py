"""EPSG:3067 transform verified against first principles — not against
the generator (which shares tm35fin.py): central-meridian northing must
equal k0 * meridian arc by independent Simpson quadrature, plus
projection invariants (false easting, symmetry, round-trip, known grid
behavior). Target accuracy: sub-mm (SURVEY.md §2.6 G10 — the GC kernel
rounds to integer meters, reference R/finbif_geo_convert.R:462)."""

import numpy as np
import pandas as pd
import pytest

from fgcspark.crs import tm35fin as tm


@pytest.mark.parametrize("lat", [59.5, 62.0, 66.5, 70.1])
def test_central_meridian_matches_quadrature(lat):
    e, n = tm.geodetic_to_tm35(27.0, lat)
    assert float(e) == pytest.approx(500000.0, abs=1e-6)
    arc = tm.meridian_arc_numeric(lat)
    assert float(n) == pytest.approx(tm.K0 * arc, abs=1e-3)  # < 1 mm


def test_equator_origin():
    e, n = tm.geodetic_to_tm35(27.0, 0.0)
    assert float(e) == pytest.approx(500000.0, abs=1e-9)
    assert float(n) == pytest.approx(0.0, abs=1e-9)


def test_east_west_symmetry():
    lat = 63.0
    e1, n1 = tm.geodetic_to_tm35(27.0 + 2.5, lat)
    e2, n2 = tm.geodetic_to_tm35(27.0 - 2.5, lat)
    assert float(e1) - 500000.0 == pytest.approx(500000.0 - float(e2), abs=1e-9)
    assert float(n1) == pytest.approx(float(n2), abs=1e-9)


def test_scale_factor_on_central_meridian():
    # ground distance along the meridian scales by ~k0 on lam=0
    lat = 64.0
    _, n1 = tm.geodetic_to_tm35(27.0, lat)
    _, n2 = tm.geodetic_to_tm35(27.0, lat + 1e-4)
    darc = tm.meridian_arc_numeric(lat + 1e-4) - tm.meridian_arc_numeric(lat)
    assert (float(n2) - float(n1)) / darc == pytest.approx(tm.K0, rel=1e-9)


def test_roundtrip_finland_grid():
    rng = np.random.default_rng(7)
    lon = rng.uniform(19.0, 31.6, 4096)
    lat = rng.uniform(59.5, 70.1, 4096)
    e, n = tm.geodetic_to_tm35(lon, lat)
    lon2, lat2 = tm.tm35_to_geodetic(e, n)
    # 1e-12 deg ~ 0.1 micrometer: series + Newton inversion are exact here
    assert np.abs(lon2 - lon).max() < 1e-11
    assert np.abs(lat2 - lat).max() < 1e-11
    # and the metric round-trip back
    e2, n2 = tm.geodetic_to_tm35(lon2, lat2)
    assert np.abs(e2 - e).max() < 1e-6
    assert np.abs(n2 - n).max() < 1e-6


def test_nan_passthrough():
    e, n = tm.geodetic_to_tm35(np.array([np.nan, 27.0]), np.array([60.0, np.nan]))
    assert np.isnan(e[0]) and np.isnan(n[1])


def test_finland_envelope_plausible():
    # Finnish mainland eastings stay inside the published 3067 area of
    # use (roughly 50k..760k E, 6.6M..7.8M N)
    e, n = tm.geodetic_to_tm35(
        np.array([19.0, 31.6, 24.94]), np.array([59.5, 70.1, 60.17])
    )
    assert ((e > 40000) & (e < 800000)).all()
    assert ((n > 6500000) & (n < 7900000)).all()


def test_generated_points_clear_of_km_boundaries(pages_dir):
    """A property of the generator: every dataset point is > 1e-6 m
    from every 1 km grid line, so an O(1e-9 m) projection difference
    (another runtime's transcendentals, as in an independent oracle)
    can never flip any 1/10/50/100 km cell id."""
    truth = pd.read_parquet(f"{pages_dir}/truth.parquet")
    for col in ("e", "n"):
        frac = np.abs(truth[col].to_numpy()) % 1000.0
        dist = np.minimum(frac, 1000.0 - frac)
        assert dist.min() > 1e-6
