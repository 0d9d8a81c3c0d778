"""End-to-end pipeline goldens over the sf0.001 pages dataset
(value-level, per FIXTURES.md §6 — stronger than the reference's
class-only asserts). Truths come from the generator's forward
computation, independent of the engine's extraction/kernels."""

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fgcspark.crs import tm35fin as tm
from fgcspark.geom import kernels as K
from fgcspark.geom.wkt import parse_wkt
from fgcspark.pipeline import (
    geo_pipeline,
    geo_transform,
    load_pages,
    pages_to_points,
    tile_counts,
    with_points,
    write_layered,
)


@pytest.fixture(scope="module")
def truth(pages_dir):
    return pd.read_parquet(f"{pages_dir}/truth.parquet").set_index("url").sort_index()


def _collect(df, *cols):
    pdf = df.select("url", *cols).toPandas().set_index("url").sort_index()
    return pdf


def test_extracted_text_byte_identical(spark, pages_dir, truth):
    # the per-row invariant from BASELINE.json input_hint
    from fgcspark.extract import with_extracted

    got = _collect(with_extracted(load_pages(spark, pages_dir)), "extracted_text")
    assert (got["extracted_text"] == truth["text"]).all()


def test_points_wgs84_wkt(spark, pages_dir, truth):
    got = _collect(geo_pipeline(spark, pages_dir, geo="point", crs="wgs84"), "geo_wkt")
    assert (got["geo_wkt"] == truth["point_wkt"]).all()


def test_points_euref_roundtrip(spark, pages_dir, truth):
    # euref points: engine's E/N must match the truth's to < 1 mm
    got = _collect(pages_to_points(spark, pages_dir), "e", "n")
    assert (got["e"] - truth["e"]).abs().max() < 1e-3
    assert (got["n"] - truth["n"]).abs().max() < 1e-3


def test_tiles_all_sizes(spark, pages_dir, truth):
    got = _collect(
        pages_to_points(spark, pages_dir),
        "cell_1km",
        "cell_10km",
        "cell_50km",
        "cell_100km",
    )
    for c in ("cell_1km", "cell_10km", "cell_50km", "cell_100km"):
        assert (got[c] == truth[c]).all(), c


def test_footprint_types(spark, pages_dir, truth):
    got = _collect(
        geo_pipeline(spark, pages_dir, geo="footprint", crs="wgs84"), "geom_type"
    )
    assert (got["geom_type"] == truth["fp_type"]).all()


def test_bbox_wkt(spark, pages_dir, truth):
    got = _collect(geo_pipeline(spark, pages_dir, geo="bbox", crs="wgs84"), "geo_wkt")
    assert (got["geo_wkt"] == truth["bbox_wkt"]).all()


def test_tile_counts_match_truth(spark, pages_dir, truth):
    got = (
        tile_counts(spark, pages_dir, size_km=10)
        .toPandas()
        .set_index("cell")["n_docs"]
        .sort_index()
    )
    want = truth.groupby("cell_10km").size().sort_index()
    assert (got == want).all() and len(got) == len(want)


def test_spatial_inputs_dropped(spark, pages_dir):
    # reference drops consumed lat/lon/footprint (R/finbif_geo_convert.R:210,232,291)
    df = geo_pipeline(spark, pages_dir, geo="point", crs="wgs84")
    for col in ("lat", "lon", "footprint"):
        assert col not in df.columns


def test_write_layered(spark, pages_dir, tmp_path):
    # S4 sink: one partition dir per geometry type
    out = str(tmp_path / "layers")
    df = geo_pipeline(spark, pages_dir, geo="footprint", crs="wgs84")
    write_layered(df.select("url", "geo_wkt", "geom_type"), out)
    back = spark.read.parquet(out)
    types = {r["geom_type"] for r in back.select("geom_type").distinct().collect()}
    assert "MULTIPOINT" in types and "MULTIPOLYGON" in types
    assert back.count() == df.count()


def test_pipeline_plan_has_pushdown(spark, pages_dir):
    # the scan must prune to the columns the plan needs (html/url here):
    # a projection-only query shouldn't read text/lang at all
    df = pages_to_points(spark, pages_dir).select("url", "cell_10km")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" not in plan or "text" not in plan.split("ReadSchema")[-1]


def test_raster_assemble_dense_roundtrip(spark, pages_dir):
    """tiles.raster_assemble: dense 100-slot arrays whose non-zero
    slots equal the sparse counts; raster_to_vector inverts exactly."""
    from pyspark.sql import functions as F

    from fgcspark.pipeline import pages_to_points
    from fgcspark.tiles import raster_assemble, raster_to_vector

    pts = pages_to_points(spark, pages_dir).select("cell_100km", "e", "n")
    dense = raster_assemble(pts)
    rows = dense.collect()
    assert all(len(r["raster"]) == 100 for r in rows)
    assert sum(sum(r["raster"]) for r in rows) == pts.count()
    back = raster_to_vector(dense)
    sparse = (
        pts.groupBy(F.col("cell_100km").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_cell = back.groupBy("cell").agg(F.sum("n_docs").alias("n"))
    assert per_cell.exceptAll(sparse).count() == 0
    assert sparse.exceptAll(per_cell).count() == 0


_FP = "POLYGON ((24.0 60.0, 25.0 60.0, 25.0 61.0, 24.0 61.0, 24.0 60.0))"
# one coordinate missing, both missing, both present: the centroid fills
# a missing axis only, never a present one (ADVICE r1)
_MIXED = [
    ("mixed-lat-null", 24.2, None, _FP),
    ("mixed-lon-null", None, 60.4, _FP),
    ("mixed-both-null", None, None, _FP),
    ("mixed-both-set", 24.2, 60.4, _FP),
]
_DROPPED = ("lat", "lon", "lat_s", "lon_s", "footprint")


def _ref_point(lon, lat, fp):
    """One row's (plon, plat, e, n), numpy by hand: the coordinates,
    each missing axis filled from the footprint centroid, then EPSG:3067."""
    lon = np.nan if lon is None else lon
    lat = np.nan if lat is None else lat
    if (np.isnan(lon) or np.isnan(lat)) and fp is not None:
        try:
            c = K.centroid(parse_wkt(fp))
        except Exception:
            c = None
        if c is not None:
            lon = c[0] if np.isnan(lon) else lon
            lat = c[1] if np.isnan(lat) else lat
    e, n = tm.geodetic_to_tm35(np.array([lon]), np.array([lat]))
    return tuple(None if np.isnan(v) else float(v) for v in (lon, lat, e[0], n[0]))


def _fmt7(x: float) -> str:
    """Java's %.7f, which Spark's format_string uses: the shortest
    round-trip digits, rounded half-up."""
    return str(Decimal(repr(x)).quantize(Decimal("1e-7"), rounding=ROUND_HALF_UP))


@pytest.fixture(scope="module")
def mixed_src(spark, pages_dir):
    """The extracted sf0.001 pages plus the four mixed-null rows, and the
    numpy reference point of every row, keyed by url."""
    from fgcspark.extract import with_extracted

    mixed = spark.createDataFrame(
        _MIXED, "url string, lon double, lat double, footprint string"
    )
    src = with_extracted(load_pages(spark, pages_dir)).unionByName(
        mixed, allowMissingColumns=True
    )
    rows = src.select("url", "lon", "lat", "footprint").collect()
    assert len(rows) == 2000 + len(_MIXED)
    ref = {r["url"]: _ref_point(r["lon"], r["lat"], r["footprint"]) for r in rows}
    return src, rows, ref


@pytest.mark.parametrize("crs", ["wgs84", "euref"])
def test_point_geo_pipeline_matches_numpy_reference(spark, pages_dir, mixed_src, crs):
    src, _, ref = mixed_src
    cols = [c for c in src.columns if c not in _DROPPED] + ["plon", "plat"]
    cols += (["e", "n"] if crs == "euref" else []) + ["geo_wkt", "geom_type"]
    assert geo_pipeline(spark, pages_dir, geo="point", crs=crs).columns == cols
    out = geo_transform(src, "point", crs)
    assert out.columns == cols
    got = out.select("url", *cols[cols.index("plon") :]).collect()
    assert len(got) == len(ref)
    for r in got:
        plon, plat, e, n = ref[r["url"]]
        x, y = (e, n) if crs == "euref" else (plon, plat)
        wkt = "POINT EMPTY" if plon is None else f"POINT ({_fmt7(x)} {_fmt7(y)})"
        assert (r["plon"], r["plat"]) == (plon, plat), r
        if crs == "euref":
            assert (r["e"], r["n"]) == (e, n), r
        assert (r["geo_wkt"], r["geom_type"]) == (wkt, wkt.split(" ")[0]), r


def test_point_stage_matches_numpy_reference(spark, pages_dir, mixed_src):
    """pages_to_points over the pages, and its with_points stage over
    the mixed-null rows too."""
    src, _, ref = mixed_src
    pages = {u: p for u, p in ref.items() if not u.startswith("mixed-")}
    for df, want in ((pages_to_points(spark, pages_dir), pages), (with_points(src), ref)):
        got = df.select("url", "plon", "plat", "e", "n").collect()
        assert len(got) == len(want)
        assert {r["url"]: tuple(r)[1:] for r in got} == want


def test_knn_probe_projection_matches_numpy_reference(spark, mixed_src):
    """Probes carry no footprint: a missing coordinate stays missing."""
    from fgcspark.joins.knn import project_probes

    _, rows, _ = mixed_src
    s = 50_000.0
    probes = spark.createDataFrame(
        [(i, r["lon"], r["lat"]) for i, r in enumerate(rows)],
        "probe_id long, lon double, lat double",
    )
    got = {r["probe_id"]: tuple(r)[1:] for r in project_probes(probes, s).collect()}
    want = {}
    for i, r in enumerate(rows):
        _, _, e, n = _ref_point(r["lon"], r["lat"], None)
        cells = (None, None) if e is None else (int(np.floor(n / s)), int(np.floor(e / s)))
        want[i] = (e, n, *cells)
    assert got == want
