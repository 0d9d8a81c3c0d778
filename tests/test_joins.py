"""Spatial-join goldens: PIP and kNN vs the generator's brute-force
oracles (FIXTURES.md §6), plus an in-test brute-force cross-check that
is independent of the generator code path."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fgcspark.joins.knn import knn_join, knn_join_partitioned
from fgcspark.joins.pip import build_polygon_index, pip_join, polygon_cover
from fgcspark.pipeline import pages_to_points


@pytest.fixture(scope="module")
def points(spark, pages_dir):
    return pages_to_points(spark, pages_dir).select("url", "e", "n").cache()


def _densified(spark, pages_dir, k=10):
    """The polygon layer with k points inserted along every ring edge
    (~11x the vertices): an edge-heavy layer built from
    polygons.parquet."""
    from fgcspark.geom.wkt import Geom, parse_wkt, to_wkt

    t = np.arange(k + 1) / (k + 1)

    def dense(ring):
        a, b = ring[:-1], ring[1:]
        inner = a[:, None, :] + (b - a)[:, None, :] * t[None, :, None]
        return np.vstack([inner.reshape(-1, 2), ring[-1:]])

    rows = []
    layer = pd.read_parquet(f"{pages_dir}/polygons.parquet")
    for pid, wkt in zip(layer["poly_id"], layer["wkt"]):
        g = parse_wkt(wkt)
        if g.gtype == "MULTIPOLYGON":
            coords = [[dense(r) for r in part] for part in g.coords]
        else:
            coords = [dense(r) for r in g.coords]
        rows.append((int(pid), to_wkt(Geom(g.gtype, coords))))
    return spark.createDataFrame(rows, "poly_id long, wkt string")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_matches_golden(spark, pages_dir, points):
    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    got = (
        pip_join(spark, points, polys)
        .toPandas()
        .sort_values(["url", "poly_id"])
        .reset_index(drop=True)
    )
    want = (
        pd.read_parquet(f"{pages_dir}/pip.parquet")
        .sort_values(["url", "poly_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_pip_refine_backends_bit_identical(spark, pages_dir, points):
    """The JVM-expression refine and the Arrow/numpy refine evaluate
    the same crossing formula in the same operation order — their
    outputs must be IDENTICAL row sets (not just close), on the layer
    as generated and on an edge-heavy densified one (page subset)."""
    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    subset = points.where(F.xxhash64("url") % 4 == 0)
    key = lambda d: sorted(map(tuple, d[["url", "poly_id"]].itertuples(index=False)))
    for pts, layer in ((points, polys), (subset, _densified(spark, pages_dir))):
        a = pip_join(spark, pts, layer, refine="expr").toPandas()
        b = pip_join(spark, pts, layer, refine="pandas").toPandas()
        assert len(a) > 0 and key(a) == key(b)


def test_pip_cell_prefilter_is_lossless(spark, pages_dir, points):
    # a coarser prefilter grid must give identical results
    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    a = pip_join(spark, points, polys, cell_km=50).toPandas()
    b = pip_join(spark, points, polys, cell_km=100).toPandas()
    key = lambda d: set(map(tuple, d[["url", "poly_id"]].itertuples(index=False)))
    assert key(a) == key(b)


def test_pip_index_cover_contains_bbox(spark, pages_dir):
    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    idx = build_polygon_index(spark, polys, cell_km=50)
    cover = set(idx.cover())
    s = 50 * 1000
    for pid, (x0, y0, x1, y1) in zip(idx.poly_ids, idx.bboxes):
        for corner in ((x0, y0), (x1, y1)):
            cell = (int(np.floor(corner[1] / s)), int(np.floor(corner[0] / s)), int(pid))
            assert cell in cover
    # the executor-built cover the joins use is exactly the same cells
    built = [tuple(r) for r in polygon_cover(polys, 50).select("cell_n", "cell_e", "poly_id").collect()]
    assert len(built) == len(idx.cover()) and set(built) == cover


def test_knn_matches_golden(spark, pages_dir, points):
    probes = spark.read.parquet(f"{pages_dir}/probes.parquet")
    got = knn_join(spark, points, probes, k=5)
    got_pd = got.toPandas()
    want = pd.read_parquet(f"{pages_dir}/knn.parquet")
    key = lambda d: set(map(tuple, d[["probe_id", "url"]].itertuples(index=False)))
    assert key(got_pd) == key(want)
    assert len(got_pd) == len(want)  # exactly k rows per probe


def test_knn_distances_certified(spark, pages_dir, points):
    # independent check: engine's k-th distance equals the true k-th
    # distance from a full scan (done here in pandas, not the generator)
    probes = spark.read.parquet(f"{pages_dir}/probes.parquet").limit(10)
    got = knn_join(spark, points, probes, k=5).toPandas()
    pts = points.toPandas()
    from fgcspark.crs import tm35fin as tm

    pr = probes.toPandas()
    pe, pn = tm.geodetic_to_tm35(pr["lon"].to_numpy(), pr["lat"].to_numpy())
    for i, pid in enumerate(pr["probe_id"]):
        d = np.hypot(pts["e"].to_numpy() - pe[i], pts["n"].to_numpy() - pn[i])
        true_k = np.sort(d)[4]
        eng_k = got[got["probe_id"] == pid]["dist"].max()
        assert eng_k == pytest.approx(true_k, abs=1e-6)


def test_knn_partitioned_matches_golden(spark, pages_dir, points):
    probes = spark.read.parquet(f"{pages_dir}/probes.parquet")
    got = knn_join_partitioned(spark, points, probes, k=5).toPandas()
    want = pd.read_parquet(f"{pages_dir}/knn.parquet")
    key = lambda d: set(map(tuple, d[["probe_id", "url"]].itertuples(index=False)))
    assert key(got) == key(want)
    assert len(got) == len(want)


def test_knn_partitioned_multi_ring_matches_driver_path(spark, pages_dir, points):
    # tiny cells force several frontier rounds; result must equal the
    # collected-probe implementation row-for-row (same tie rules)
    probes = spark.read.parquet(f"{pages_dir}/probes.parquet").limit(20)
    a = knn_join_partitioned(spark, points, probes, k=3, cell_km=10).toPandas()
    b = knn_join(spark, points, probes, k=3, cell_km=10).toPandas()
    key = lambda d: set(map(tuple, d[["probe_id", "url"]].itertuples(index=False)))
    assert key(a) == key(b)
    assert len(a) == len(b)


def test_knn_small_cells_still_exact(spark, pages_dir, points):
    # force multi-ring expansion with a tiny cell size
    probes = spark.read.parquet(f"{pages_dir}/probes.parquet").limit(5)
    a = knn_join(spark, points, probes, k=3, cell_km=10).toPandas()
    b = knn_join(spark, points, probes, k=3, cell_km=100).toPandas()
    key = lambda d: set(map(tuple, d[["probe_id", "url"]].itertuples(index=False)))
    assert key(a) == key(b)


def test_embed_neardup_vec_equals_hof(spark):
    """The vectorized near-dup kernel must reproduce the JVM
    higher-order-function fold EXACTLY (same left-fold float order) —
    row-identical output, not approximately equal."""
    from fgcspark.sim import embedding_neardup_pairs, embedding_neardup_pairs_vec

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = set(map(tuple, embedding_neardup_pairs(df, tau=0.4).collect()))
    b = set(map(tuple, embedding_neardup_pairs_vec(df, tau=0.4).collect()))
    assert a == b and len(a) > 0


def test_pip_partitioned_matches_broadcast_path(spark, pages_dir, points):
    """pip_join with its probe hinted `merge` runs the shuffle plan
    (sort-merge cell join, no cogroup) and returns exactly the default
    plan's rows and the golden."""
    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    merged = pip_join(spark, points.hint("merge"), polys)
    plan = _plan(merged)
    assert "SortMergeJoin" in plan and "FlatMapCoGroupsInPandas" not in plan
    a = pip_join(spark, points, polys).toPandas()
    b = merged.toPandas()
    gold = pd.read_parquet(f"{pages_dir}/pip.parquet")
    key = lambda d: set(map(tuple, d[["url", "poly_id"]].itertuples(index=False)))
    assert key(a) == key(b) == key(gold) and len(a) == len(b) == len(gold)


def test_pip_hot_cell_shuffle_matches_broadcast(spark, pages_dir, points):
    """Skewed layer: every point squeezed into ONE 50 km cell. The
    shuffle plan puts the whole probe on one join key; its output must
    stay identical to the broadcast answer."""
    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    # collapse all points into the cell of the first point: keep keys
    # and per-point identity, lose spatial spread -> maximal skew
    first = points.limit(1).collect()[0]
    e0, n0 = float(first["e"]), float(first["n"])
    s = 50 * 1000
    skew = points.select(
        "url",
        (F.lit(np.floor(e0 / s) * s) + F.pmod(F.xxhash64("url"), F.lit(int(s)))).alias("e"),
        (F.lit(np.floor(n0 / s) * s) + F.pmod(F.xxhash64("url", F.lit(1)), F.lit(int(s)))).alias("n"),
    )
    assert skew.select(F.floor(F.col("e") / s), F.floor(F.col("n") / s)).distinct().count() == 1
    merged = pip_join(spark, skew.hint("merge"), polys)
    assert "SortMergeJoin" in _plan(merged)
    a = pip_join(spark, skew, polys).toPandas()
    b = merged.toPandas()
    key = lambda d: set(map(tuple, d[["url", "poly_id"]].itertuples(index=False)))
    assert len(a) > 0 and key(a) == key(b) and len(a) == len(b)


# ---------------------------------------------------------------------------
# footprint x layer intersects join
# ---------------------------------------------------------------------------


def _sq(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)


_HOLED = [_sq(0, 0, 10, 10), _sq(4, 4, 6, 6)]  # square with a hole
# (footprint parts, intersects _HOLED)
_INTERSECTS_CASES = [
    # point inside / in hole / outside
    ([("pt", np.array([[1.0, 1.0]]))], True),
    ([("pt", np.array([[5.0, 5.0]]))], False),  # hole interior
    ([("pt", np.array([[20.0, 1.0]]))], False),
    # line crossing the boundary; line wholly inside; line in the hole
    ([("line", np.array([[-2.0, 5.0], [2.0, 5.0]]))], True),
    ([("line", np.array([[1.0, 1.0], [2.0, 2.0]]))], True),
    ([("line", np.array([[4.5, 5.0], [5.5, 5.0]]))], False),
    # line T-touching the boundary from outside; collinear overlap
    # with the bottom edge; collinear with it but disjoint
    ([("line", np.array([[-2.0, 5.0], [0.0, 5.0]]))], True),
    ([("line", np.array([[-2.0, 0.0], [3.0, 0.0]]))], True),
    ([("line", np.array([[-5.0, 0.0], [-1.0, 0.0]]))], False),
    # polygon crossing; polygon containing the layer polygon; contained
    ([("poly", [_sq(8, 8, 12, 12)])], True),
    ([("poly", [_sq(-5, -5, 15, 15)])], True),
    ([("poly", [_sq(1, 1, 2, 2)])], True),
    # polygon entirely within the hole; disjoint polygon
    ([("poly", [_sq(4.5, 4.5, 5.5, 5.5)])], False),
    ([("poly", [_sq(20, 20, 30, 30)])], False),
    # footprint polygon around the hole that crosses the hole ring: its
    # vertices are in the annulus
    ([("poly", [_sq(3, 3, 7, 7)])], True),
    # several parts: only the point-only part meets the polygon
    ([("pt", np.array([[20.0, 1.0], [1.0, 1.0]])), ("line", np.array([[30.0, 30.0], [40.0, 40.0]]))], True),
    ([("pt", np.array([[20.0, 1.0]])), ("poly", [_sq(20, 20, 30, 30)])], False),
    # only the segment test decides these: a line and a band across the
    # square with every vertex of both outside the other
    ([("line", np.array([[-2.0, 1.0], [12.0, 1.0]]))], True),
    ([("poly", [_sq(-2, 1, 12, 2)])], True),
]


def test_geom_intersects_rings_cases():
    from fgcspark.joins.fpjoin import geom_intersects_rings as gi

    for parts, want in _INTERSECTS_CASES:
        assert gi(parts, _HOLED) == want, parts


def _random_refine_rows(n=90, seed=7):
    """(footprint parts, layer rings) rows: random points, lines and
    triangles/quads scattered over and around the holed square and an
    irregular 12-gon, so rows differ in edge count."""
    rng = np.random.default_rng(seed)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 12))
    rad = rng.uniform(3, 8, 12)
    star = np.c_[5 + rad * np.cos(ang), 5 + rad * np.sin(ang)]
    layers = [_HOLED, [np.vstack([star, star[:1]])]]
    rows = []
    for k in range(n):
        pts = rng.uniform(-4, 14, 2) + rng.normal(0, 1.5, (int(rng.integers(3, 5)), 2))
        kind = ("pt", "line", "poly")[k % 3]
        part = (kind, [np.vstack([pts, pts[:1]])]) if kind == "poly" else (kind, pts)
        rows.append(([part], layers[k % 2]))
    return rows


@pytest.mark.parametrize("slice_terms", [None, 2])
def test_fp_refine_kernel_matches_reference(monkeypatch, slice_terms):
    """The batched Arrow refine decides every row exactly as
    geom_intersects_rings: in one batch, on sliced batches (non-zero
    list offsets), on an empty batch, and split into many term slices."""
    from fgcspark.joins import fpjoin as J
    from fgcspark.joins.pip import _ring_segs

    if slice_terms is not None:
        monkeypatch.setattr(J, "_SLICE_TERMS", slice_terms)
    rows = [(p, _HOLED) for p, _ in _INTERSECTS_CASES] + _random_refine_rows()
    parts = J._parts_array([p for p, _ in rows]).field("parts")
    edges = J._struct_list(
        [np.concatenate([_ring_segs(r, closed=True) for r in rings]) for _, rings in rows], J.EDGE
    )
    verts = J._struct_list([np.concatenate(rings) for _, rings in rows], J.VERT)
    want = [J.geom_intersects_rings(p, rings) for p, rings in rows]
    assert 0 < sum(want) < len(want)
    n = len(_INTERSECTS_CASES)
    for k, m in ((0, len(rows)), (1, n - 1), (5, 40), (len(rows) - 1, 1)):
        got = J._fp_refine.func(parts.slice(k, m), edges.slice(k, m), verts.slice(k, m))
        assert got.to_pylist() == want[k : k + m]
    assert J._fp_refine.func(parts.slice(3, 0), edges.slice(3, 0), verts.slice(3, 0)).to_pylist() == []


def test_segs_touch_is_intersecting():
    from fgcspark.joins.fpjoin import _segs_any_intersect

    A = np.array([[0.0, 0.0, 1.0, 0.0]])
    assert _segs_any_intersect(A, np.array([[0.5, 0.0, 0.5, 1.0]]))  # T touch
    assert _segs_any_intersect(A, np.array([[0.5, 0.0, 2.0, 0.0]]))  # collinear
    assert not _segs_any_intersect(A, np.array([[0.0, 0.5, 1.0, 0.5]]))


def test_fp_join_matches_golden(spark, pages_dir):
    from fgcspark.extract import with_extracted
    from fgcspark.joins.fpjoin import footprint_join
    from fgcspark.pipeline import load_pages

    pages = with_extracted(load_pages(spark, pages_dir))
    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    got = (
        footprint_join(spark, pages, polys)
        .toPandas()
        .sort_values(["url", "poly_id"])
        .reset_index(drop=True)
    )
    want = (
        pd.read_parquet(f"{pages_dir}/fpjoin.parquet")
        .sort_values(["url", "poly_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_fp_partitioned_matches_golden_and_broadcast(spark, pages_dir):
    """footprint_join with its probe hinted `merge` runs the shuffle
    plan (sort-merge cell join, no cogroup) and returns exactly the
    golden and the default plan's rows."""
    from fgcspark.extract import with_extracted
    from fgcspark.joins.fpjoin import footprint_join
    from fgcspark.pipeline import load_pages

    pages = with_extracted(load_pages(spark, pages_dir))
    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    merged = footprint_join(spark, pages.hint("merge"), polys)
    plan = _plan(merged)
    assert "SortMergeJoin" in plan and "FlatMapCoGroupsInPandas" not in plan
    got = merged.toPandas().sort_values(["url", "poly_id"]).reset_index(drop=True)
    want = (
        pd.read_parquet(f"{pages_dir}/fpjoin.parquet")
        .sort_values(["url", "poly_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    default = footprint_join(spark, pages, polys).toPandas()
    key = lambda d: sorted(map(tuple, d[["url", "poly_id"]].itertuples(index=False)))
    assert key(default) == key(got)


def _brute_force_fp_pairs(pages: pd.DataFrame, layer: list) -> set:
    """(url, poly_id) for every page whose footprint geometry
    intersects a layer polygon, decided by geom_intersects_rings over
    EVERY bbox-overlapping pair: per-geometry projection, no cell
    cover, no Arrow. `layer` holds (poly_id, wkt) rows."""
    from fgcspark.crs.tm35fin import geodetic_to_tm35
    from fgcspark.geom.kernels import transform_coords
    from fgcspark.geom.wkt import Geom, parse_wkt
    from fgcspark.joins.fpjoin import _flatten_parts, geom_intersects_rings
    from fgcspark.joins.pip import _polygon_rings

    rings = [_polygon_rings(w) for _, w in layer]
    boxes = np.array([[*np.vstack(r).min(axis=0), *np.vstack(r).max(axis=0)] for r in rings])
    out = set()
    for url, w, lon, lat in pages[["url", "footprint", "lon", "lat"]].itertuples(index=False):
        # the G4 substitution: a NULL/POINT/EMPTY footprint with
        # coordinates joins as the point
        if (w is None or w.startswith("POINT") or "EMPTY" in w) and pd.notna(lon) and pd.notna(lat):
            g = Geom("POINT", np.array([lon, lat]))
        elif w is None:
            continue
        else:
            try:
                g = parse_wkt(w)
            except Exception:
                continue
        parts: list = []
        _flatten_parts(transform_coords(g, geodetic_to_tm35), parts)
        if not parts:
            continue
        v = np.vstack([a for kind, arr in parts for a in (arr if kind == "poly" else [arr])])
        (x0, y0), (x1, y1) = v.min(axis=0), v.max(axis=0)
        near = (boxes[:, 0] <= x1) & (boxes[:, 2] >= x0) & (boxes[:, 1] <= y1) & (boxes[:, 3] >= y0)
        for k in np.flatnonzero(near):
            if geom_intersects_rings(parts, rings[k]):
                out.add((url, int(layer[k][0])))
    return out


def test_fp_join_matches_brute_force(spark, pages_dir):
    """footprint_join returns exactly the brute-force pair set, with no
    duplicates, on the layer as generated and on an edge-heavy
    densified one, under both the default plan and the `merge`-hinted
    shuffle plan."""
    from fgcspark.extract import with_extracted
    from fgcspark.joins.fpjoin import footprint_join
    from fgcspark.pipeline import load_pages

    pages = with_extracted(load_pages(spark, pages_dir))
    page_rows = pages.select("url", "footprint", "lon", "lat").toPandas()
    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    for layer in (polys, _densified(spark, pages_dir)):
        want = _brute_force_fp_pairs(page_rows, layer.select("poly_id", "wkt").collect())
        assert want
        for probe in (pages, pages.hint("merge")):
            got = [tuple(r) for r in footprint_join(spark, probe, layer).collect()]
            assert len(got) == len(set(got)) and set(got) == want


def test_fp_join_prefilter_is_lossless(spark, pages_dir):
    from fgcspark.extract import with_extracted
    from fgcspark.joins.fpjoin import footprint_join
    from fgcspark.pipeline import load_pages

    pages = with_extracted(load_pages(spark, pages_dir))
    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    key = lambda d: set(map(tuple, d[["url", "poly_id"]].itertuples(index=False)))
    a = footprint_join(spark, pages, polys, cell_km=50).toPandas()
    b = footprint_join(spark, pages, polys, cell_km=100).toPandas()
    assert key(a) == key(b)


def test_fp_join_plan_has_no_shuffle(spark, pages_dir):
    from fgcspark.extract import with_extracted
    from fgcspark.joins.fpjoin import footprint_join
    from fgcspark.pipeline import load_pages

    pages = with_extracted(load_pages(spark, pages_dir))
    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    plan = (
        footprint_join(spark, pages, polys)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # broadcast join + arithmetic reporting-cell dedup: the probe side
    # must stream with no exchange anywhere
    assert "Exchange" not in plan or "BroadcastExchange" in plan
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan


def test_pip_anti_join_is_exact_complement(spark, pages_dir, points):
    """pip_anti_join returns exactly the points pip_join never emits,
    and together they partition the input key set."""
    from fgcspark.joins.pip import pip_anti_join

    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    outside = {r.url for r in pip_anti_join(spark, points, polys).collect()}
    inside = {r.url for r in pip_join(spark, points, polys).select("url").collect()}
    every = {r.url for r in points.select("url").collect()}
    assert outside == every - inside
    assert outside  # the synth layer leaves some pages uncovered
    assert outside.isdisjoint(inside)
