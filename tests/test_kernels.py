"""Geometry-kernel goldens. The four `uncollect` cases are ported
verbatim from the reference suite (inst/tinytest/test_pkg.R:39-95),
including the exact EPSG:3067 coordinates of the two-polygon case."""

import numpy as np
import pytest

from fgcspark.geom import kernels as K
from fgcspark.geom.wkt import Geom, parse_wkt, to_wkt


# ---------------------------------------------------------------------------
# uncollect (G5) — reference inst/tinytest/test_pkg.R:39-95
# ---------------------------------------------------------------------------


def test_uncollect_point_multipoint_to_multipoint():
    # case 1 (test_pkg.R:39-46): GC(POINT, MULTIPOINT) -> MULTIPOINT
    g = parse_wkt("GEOMETRYCOLLECTION (POINT (0 0), MULTIPOINT ((0 0)))")
    out = K.uncollect(g)
    assert out.gtype == "MULTIPOINT"
    assert out.coords.shape == (2, 2)


def test_uncollect_two_polygons_to_multipolygon():
    # case 2 (test_pkg.R:47-80): two real EPSG:3067 polygons, digits=0.
    # Polygon 1 is a ~0.1 m sliver that collapses under integer
    # rounding; the result must still be MULTIPOLYGON.
    p1 = np.array(
        [
            [407684.815871683, 7116299.29904113],
            [407684.935511214, 7116303.30934417],
            [407685.032740082, 7116303.30644354],
            [407684.913100678, 7116299.2961405],
            [407684.815871683, 7116299.29904113],
        ]
    )
    p2 = np.array(
        [
            [407732.770606645, 7116295.30436087],
            [407751.053066859, 7116908.43555739],
            [408304.664222537, 7116891.97707486],
            [408286.491510638, 7116278.84338128],
            [407732.770606645, 7116295.30436087],
        ]
    )
    g = Geom(
        "GEOMETRYCOLLECTION",
        [Geom("POLYGON", [p1]), Geom("POLYGON", [p2])],
    )
    out = K.uncollect(g, digits=0)
    assert out.gtype == "MULTIPOLYGON"
    # rounding is integer meters; the collapsed sliver re-polygonizes
    # with a 0.5 m buffer, so every coordinate is a multiple of 0.5
    all_coords = np.concatenate([r for rings in out.coords for r in rings])
    assert np.all(all_coords * 2 == np.round(all_coords * 2))
    # contains the rounded big polygon's corner
    assert [407733.0, 7116295.0] in all_coords.tolist()


def test_uncollect_point_line_to_linestring():
    # case 3 (test_pkg.R:82-88): GC(POINT(0 0), LINESTRING(0 0, 1 1)),
    # mixed dims -> polygonize (1 m square + 0.5 m hexagon buffer),
    # then digits=0 rounding collapses everything -> LINESTRING
    g = parse_wkt("GEOMETRYCOLLECTION (POINT (0 0), LINESTRING (0 0, 1 1))")
    out = K.uncollect(g, digits=0)
    assert out.gtype == "LINESTRING"


def test_uncollect_triangle_passthrough():
    # case 4 (test_pkg.R:90-95): unknown member tag -> unchanged GC
    g = parse_wkt("GEOMETRYCOLLECTION (TRIANGLE ((0 0, 0 1, 1 0, 0 0)))")
    out = K.uncollect(g, digits=0)
    assert out.gtype == "GEOMETRYCOLLECTION"
    assert to_wkt(out) == to_wkt(g)


def test_uncollect_non_gc_passthrough():
    g = parse_wkt("POINT (1 2)")
    assert K.uncollect(g) is g


def test_uncollect_mixed_lines_to_multilinestring():
    g = parse_wkt(
        "GEOMETRYCOLLECTION (LINESTRING (0 0, 10 0), "
        "MULTILINESTRING ((0 5, 10 5)))"
    )
    out = K.uncollect(g)
    assert out.gtype == "MULTILINESTRING"
    assert len(out.coords) == 2


# ---------------------------------------------------------------------------
# centroid (G3) — GEOS semantics
# ---------------------------------------------------------------------------


def test_centroid_point_and_multipoint():
    assert K.centroid(parse_wkt("POINT (2 3)")) == (2.0, 3.0)
    assert K.centroid(parse_wkt("MULTIPOINT ((0 0), (2 2))")) == (1.0, 1.0)


def test_centroid_square():
    g = parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert K.centroid(g) == pytest.approx((2.0, 2.0))


def test_centroid_square_with_hole():
    # hole ring (opposite orientation) subtracts area like GEOS
    g = parse_wkt(
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (2 1, 2 3, 3 3, 3 1, 2 1))"
    )
    # area 16 centered (2,2) minus area 2 centered (2.5,2)
    cx, cy = K.centroid(g)
    assert (cx, cy) == pytest.approx(((16 * 2 - 2 * 2.5) / 14.0, 2.0))


def test_centroid_linestring_length_weighted():
    g = parse_wkt("LINESTRING (0 0, 4 0, 4 2)")
    # segments: len 4 mid (2,0); len 2 mid (4,1) -> ((8+8)/6, 2/6)
    assert K.centroid(g) == pytest.approx((16 / 6.0, 2 / 6.0))


def test_centroid_gc_highest_dim_wins():
    g = parse_wkt(
        "GEOMETRYCOLLECTION (POINT (100 100), POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))"
    )
    assert K.centroid(g) == pytest.approx((1.0, 1.0))


def test_centroid_denormal_area_sliver_stays_in_bbox():
    # Round-2 hypothesis falsifier: this sliver's doubled signed area is
    # a *denormal* nonzero (~1e-317), so an absolute ==0 degeneracy check
    # let it carry weight and the old (base + cxs/(3*a2s))*a2s product
    # underflowed to 0, returning centroid (0, 0) — far outside the
    # polygon's own bbox. The relative-area guard must classify it
    # degenerate and fall back to the vertex mean.
    g = parse_wkt(
        "POLYGON ((0.25 0, 0.25 5.56e-309, 0.2499999999999982 2.98e-08, 0.25 0))"
    )
    cx, cy = K.centroid(g)
    xmin, ymin, xmax, ymax = K.bbox(g)
    assert xmin <= cx <= xmax
    assert ymin <= cy <= ymax


def test_centroid_empty_is_none():
    assert K.centroid(parse_wkt("POINT EMPTY")) is None
    assert K.centroid(parse_wkt("POLYGON EMPTY")) is None


# ---------------------------------------------------------------------------
# bbox (G12), buffers (G6/G7/G11), cast (G8), rounding
# ---------------------------------------------------------------------------


def test_bbox_polygon_corners():
    g = parse_wkt("LINESTRING (1 2, 5 8, 3 4)")
    out = K.bbox_polygon(g)
    assert to_wkt(out) == "POLYGON ((1 2, 1 8, 5 8, 5 2, 1 2))"


def test_bbox_polygon_empty():
    assert to_wkt(K.bbox_polygon(parse_wkt("POLYGON EMPTY"))) == "POLYGON EMPTY"


def test_bbox_degenerate_multipoint():
    # G12 quirk: single-coordinate MULTIPOINT -> zero-area bbox polygon
    out = K.bbox_polygon(parse_wkt("MULTIPOINT ((5 6))"))
    assert to_wkt(out) == "POLYGON ((5 6, 5 6, 5 6, 5 6, 5 6))"


def test_point_square_unit():
    ring = K.point_square(10.0, 20.0, 1.0)[0]
    assert ring.shape == (5, 2)
    assert ring[:, 0].min() == 9.5 and ring[:, 0].max() == 10.5
    assert ring[:, 1].min() == 19.5 and ring[:, 1].max() == 20.5


def test_point_diamond():
    # G11: st_buffer(point, 0.5, nQuadSegs=1) = 4-vertex diamond
    ring = K.point_diamond(0.0, 0.0, 0.5)[0]
    assert ring.shape == (5, 2)
    verts = {tuple(v) for v in ring.tolist()}
    assert verts == {(0.5, 0.0), (0.0, -0.5), (-0.5, 0.0), (0.0, 0.5)}


def test_segment_hexagon_axis_aligned():
    ring = K.segment_hexagon(np.array([0.0, 0.0]), np.array([10.0, 0.0]), 0.5)
    assert ring.shape == (7, 2)
    assert ring[:, 0].min() == -0.5 and ring[:, 0].max() == 10.5
    assert ring[:, 1].min() == -0.5 and ring[:, 1].max() == 0.5


def test_cast_to_multi():
    assert K.cast_to_multi(parse_wkt("POINT (1 2)")).gtype == "MULTIPOINT"
    assert K.cast_to_multi(parse_wkt("LINESTRING (0 0, 1 1)")).gtype == "MULTILINESTRING"
    assert (
        K.cast_to_multi(parse_wkt("POLYGON ((0 0, 1 0, 1 1, 0 0))")).gtype
        == "MULTIPOLYGON"
    )
    g = parse_wkt("MULTIPOINT ((1 2))")
    assert K.cast_to_multi(g) is g
    # empty point -> empty multipoint
    assert to_wkt(K.cast_to_multi(parse_wkt("POINT EMPTY"))) == "MULTIPOINT EMPTY"


def test_round_coords_bankers():
    # R round() = round-half-to-even; numpy matches
    g = Geom("MULTIPOINT", np.array([[0.5, 1.5], [2.5, -0.5]]))
    out = K.round_coords(g, 0)
    assert out.coords.tolist() == [[0.0, 2.0], [2.0, -0.0]]


def test_transform_coords_affine():
    g = parse_wkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))")
    out = K.transform_coords(g, lambda x, y: (x + 10, y * 2))
    assert to_wkt(out) == "MULTIPOLYGON (((10 0, 11 0, 11 2, 10 0)))"


def test_geom_type():
    assert K.geom_type(parse_wkt("POINT (0 0)")) == "POINT"


# --- G7 multi-segment line buffer (merged outline) -------------------------


def _poly_dist(px, py, pts):
    import numpy as np

    best = np.full(px.shape[0], np.inf)
    for i in range(len(pts) - 1):
        x0, y0 = pts[i]
        x1, y1 = pts[i + 1]
        dx, dy = x1 - x0, y1 - y0
        ll = dx * dx + dy * dy
        t = np.clip(((px - x0) * dx + (py - y0) * dy) / ll, 0.0, 1.0)
        best = np.minimum(best, np.hypot(px - (x0 + t * dx), py - (y0 + t * dy)))
    return best


def _ring_contains(px, py, ring):
    import numpy as np

    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    cond = (y0[None, :] > py[:, None]) != (y1[None, :] > py[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x1 - x0)[None, :] * (py[:, None] - y0[None, :]) / (y1 - y0)[None, :] + x0[None, :]
    return (cond & (px[:, None] < xint)).sum(axis=1) % 2 == 1


def test_buffer_line_single_segment_is_hexagon():
    import numpy as np

    out = K.buffer_line(np.array([[0.0, 0.0], [10.0, 0.0]]), 0.5)
    assert len(out) == 1 and len(out[0]) == 1
    ring = out[0][0]
    want = K.segment_hexagon(np.array([0.0, 0.0]), np.array([10.0, 0.0]), 0.5)
    # same vertex set, closure aside
    a = {tuple(np.round(p, 12)) for p in ring}
    b = {tuple(np.round(p, 12)) for p in want}
    assert a == b


@pytest.mark.parametrize(
    "pts",
    [
        [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0]],                  # L (90° turn)
        [[0.0, 0.0], [10.0, 0.0], [20.0, 5.0], [30.0, 0.0]],      # gentle zigzag
        [[0.0, 0.0], [10.0, 0.0], [0.5, 9.0]],                    # sharp (>90°) turn
        [[0.0, 0.0], [5.0, 0.0], [5.0, 5.0], [0.0, 5.0]],         # U shape
    ],
)
def test_buffer_line_outline_matches_distance_field(pts):
    import numpy as np

    pts = np.array(pts)
    r = 0.5
    out = K.buffer_line(pts, r)
    assert len(out) == 1, "multi-segment simple line must give ONE outline"
    ring = out[0][0]
    assert (ring[0] == ring[-1]).all(), "outline ring must be closed"
    rng = np.random.default_rng(5)
    lo = pts.min(axis=0) - 2 * r
    hi = pts.max(axis=0) + 2 * r
    px = rng.uniform(lo[0], hi[0], 4000)
    py = rng.uniform(lo[1], hi[1], 4000)
    d = _poly_dist(px, py, pts)
    inside = _ring_contains(px, py, ring)
    # quadsegs=1 facets inscribe the true arc: guaranteed containment
    # only up to r*cos(pi/4); outside r it must never claim points
    near = d <= r * np.cos(np.pi / 4) - 1e-9
    far = d >= r + 1e-9
    assert inside[near].all(), "point within the inscribed radius left outside"
    assert (~inside[far]).all(), "point beyond the buffer radius claimed inside"


# ---------------------------------------------------------------------------
# transform_batch: one projection call per Arrow batch, bit-identical to
# the per-geometry transform_coords reference
# ---------------------------------------------------------------------------

BATCH_WKTS = [
    "POINT (24.94 60.17)",
    "MULTIPOINT ((24 60), (25 61))",
    "LINESTRING (24 60, 25 61, 26 60.5)",
    "MULTILINESTRING ((24 60, 25 61), (26 60, 27 61))",
    "POLYGON ((24 60, 25 60, 25 61, 24 61, 24 60), (24.4 60.4, 24.6 60.4, 24.6 60.6, 24.4 60.6, 24.4 60.4))",
    "MULTIPOLYGON (((24 60, 25 60, 25 61, 24 60)), ((26 60, 27 60, 27 61, 26 60)))",
    "GEOMETRYCOLLECTION (POINT (24 60), LINESTRING (24 60, 25 61))",
    "GEOMETRYCOLLECTION (POINT EMPTY, GEOMETRYCOLLECTION (MULTIPOINT ((26 62)), "
    "POLYGON ((24 60, 25 60, 25 61, 24 60))), TRIANGLE ((24 60, 25 60, 24.5 61, 24 60)))",
    "TRIANGLE ((24.1 60.2, 25.3 60.1, 24.7 61.9, 24.1 60.2))",
    "POLYGON EMPTY",
    "POINT EMPTY",
    "LINESTRING EMPTY",
    "GEOMETRYCOLLECTION EMPTY",
]


def _per_geometry(geoms, fn):
    """The reference: one transform_coords call per geometry."""
    return [None if g is None else K.transform_coords(g, fn) for g in geoms]


def _assert_identical(a, b):
    """Same tags, same nesting, same array shapes, equal floats."""
    if isinstance(a, Geom) or isinstance(b, Geom):
        assert isinstance(a, Geom) and isinstance(b, Geom)
        assert a.gtype == b.gtype
        _assert_identical(a.coords, b.coords)
    elif isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        assert a.shape == b.shape and np.array_equal(a, b)
    elif a is None or b is None:
        assert a is None and b is None
    else:
        assert len(a) == len(b)
        for x, y in zip(a, b):
            _assert_identical(x, y)


def test_transform_batch_bit_identical_to_per_geom():
    from fgcspark.crs import tm35fin as tm

    geoms = [parse_wkt(w) for w in BATCH_WKTS]
    geoms = [None] + geoms[:5] + [None, None] + geoms[5:]
    batched = K.transform_batch(geoms, tm.geodetic_to_tm35)
    assert len(batched) == len(geoms)
    for b, s in zip(batched, _per_geometry(geoms, tm.geodetic_to_tm35)):
        _assert_identical(b, s)
        if s is not None:
            assert to_wkt(b) == to_wkt(s)


def test_transform_batch_empty_and_single():
    from fgcspark.crs import tm35fin as tm

    assert K.transform_batch([], tm.geodetic_to_tm35) == []
    assert K.transform_batch([None], tm.geodetic_to_tm35) == [None]
    empty = K.transform_batch([parse_wkt("POLYGON EMPTY")], tm.geodetic_to_tm35)[0]
    assert to_wkt(empty) == "POLYGON EMPTY"
    g = K.transform_batch([parse_wkt("POINT (25 61)")], tm.geodetic_to_tm35)[0]
    _assert_identical(g, K.transform_coords(parse_wkt("POINT (25 61)"), tm.geodetic_to_tm35))


@pytest.fixture(scope="module")
def fp_rows(spark, pages_dir):
    """footprint/lon/lat of the sf0.001 pages, plus edge-case rows: an
    unknown tag, a nested GEOMETRYCOLLECTION and empties, with and
    without coordinates."""
    import pandas as pd

    from fgcspark.extract import with_extracted
    from fgcspark.pipeline import load_pages

    pages = with_extracted(load_pages(spark, pages_dir)).select("footprint", "lon", "lat")
    extra = pd.DataFrame(
        {
            "footprint": BATCH_WKTS[7:] + [None, None],
            "lon": [np.nan, 24.5, np.nan, 24.5, np.nan, np.nan, 25.0, np.nan],
            "lat": [np.nan, 60.5, np.nan, 60.5, np.nan, np.nan, 61.0, np.nan],
        }
    )
    return pd.concat([pages.toPandas(), extra], ignore_index=True)


@pytest.mark.parametrize("geo", ["footprint", "bbox"])
def test_footprint_batch_euref_matches_per_geometry(fp_rows, geo, monkeypatch):
    """The G10 transform batched over an Arrow batch gives the same
    WKT as one transform_coords call per geometry."""
    from fgcspark.pipeline import _footprint_batch

    args = (fp_rows["footprint"], fp_rows["lon"], fp_rows["lat"], True, geo, "euref")
    got = _footprint_batch(*args).tolist()
    monkeypatch.setattr(K, "transform_batch", _per_geometry)
    assert got == _footprint_batch(*args).tolist()


def test_fp_probe_udfs_match_per_geometry(fp_rows, monkeypatch):
    """footprint_join's probe projection, batched, gives the same parts
    and bbox as one transform_coords call per geometry."""
    import pyarrow as pa

    from fgcspark.joins import fpjoin as J

    args = (pa.array(fp_rows["footprint"]), pa.array(fp_rows["lon"]), pa.array(fp_rows["lat"]))
    got = J._fp_project_parts.func(*args).to_pylist()
    monkeypatch.setattr(J, "transform_batch", _per_geometry)
    assert got == J._fp_project_parts.func(*args).to_pylist()
    assert {r["parts"] is None for r in got} == {True, False}
    # an unknown tag joins as a POLYGON: every part areal
    tri = fp_rows.index[fp_rows["footprint"].fillna("").str.startswith("TRIANGLE")][0]
    assert [p["areal"] for p in got[tri]["parts"]] == [True]
