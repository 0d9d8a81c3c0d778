"""Footprint x layer spatial join (polygon/line/point INTERSECTS).

The PIP join (joins/pip.py) answers "which layer polygon contains this
page's point". This operator answers the full-geometry question:
"which layer polygons does this page's FOOTPRINT intersect" — the
polygon-polygon / line-polygon / point-polygon counterpart that a GIS
user of the reference's footprint mode (R/finbif_geo_convert.R:242-299)
reaches for next. The reference itself only converts footprints; the
join against a region layer is the graft's spatial-join surface
extended from points to arbitrary geometries.

Semantics (documented contract, mirrored by the generator's forward
golden and scripts/validate_at_scale.py):
- geometry per row: the parsed footprint WKT, with the reference's G4
  substitution — rows whose footprint is NULL / POINT / EMPTY and that
  carry lon/lat use the point geometry instead;
- intersects = interiors or boundaries meet in the EPSG:3067 plane:
  any segment pair crosses or touches, OR a footprint vertex lies
  inside the polygon (even-odd over exterior+holes), OR a polygon
  vertex lies inside a footprint polygon part (containment either
  direction);
- boundary decisions are float crossing-number / orientation tests:
  exact-tangency inputs are measure-zero in the synthetic layers and
  not certified (same convention as pip_join).

Physical plan: joins/pip.py's one spatial-join plan, with a footprint
probe:
1. one Arrow-batched pandas UDF parses + projects each footprint ONCE
   (one TM35FIN transform call per Arrow batch; the UDF is marked
   nondeterministic so Catalyst cannot evaluate it a second time below
   the join's null filters) and emits its geometry (nested part arrays
   for the default expression refine; WKB for the numpy refine) + bbox,
   so downstream stages never re-parse;
2. the probe's bbox cell cover is exploded JVM-side with
   sequence()/explode (footprints are small, the cover is a handful of
   cells at the prefilter grid);
3. cell equi-join against pip.polygon_cover, the executor-built layer,
   with no join hint: Spark broadcasts the layer while it is under the
   broadcast threshold (the probe streams with no shuffle) and
   sort-merge joins above it;
4. the exact intersects refine: by default nested JVM higher-order
   lambdas over the part/edge arrays (no Python after stage 1);
   optionally the WKB + numpy pandas UDF. Duplicate (footprint,
   polygon) candidates from multi-cell overlap are deduped WITHOUT a
   shuffle: a candidate is emitted only from its reporting cell — the
   cell containing the lower-left corner of the bbox intersection,
   which both covers are guaranteed to contain. The per-pair predicate
   is heavier than pip_join's, so the default prefilter grid is finer
   (10 km vs 50 km): a larger cover buys proportionally fewer
   candidate pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from fgcspark.crs import tm35fin as tm
from fgcspark.geom.kernels import transform_batch
from fgcspark.geom.wkb import from_wkb, to_wkb
from fgcspark.geom.wkt import _KNOWN, GEOMETRYCOLLECTION, POLYGON, Geom, parse_wkt
from fgcspark.joins.pip import (
    EDGE,
    VERT,
    _pip_mask,
    _ring_segs,
    bbox_cells,
    build_polygon_index,
    crossing_parity,
    polygon_cover,
)


def _known_tags(g: Geom) -> Geom:
    """Unknown tags (TRIANGLE) carry POLYGON-shaped nesting and join
    like polygons; rename them POLYGON, collection members included, so
    WKB can serialize them. Coordinates are shared, not copied."""
    if g.gtype == GEOMETRYCOLLECTION:
        return Geom(g.gtype, [_known_tags(m) for m in g.coords])
    return g if g.gtype in _KNOWN else Geom(POLYGON, g.coords)


def _flatten_parts(g: Geom, out: list) -> None:
    """Decompose a Geom into primitive parts:
    ('pt', (k,2)) | ('line', (k,2)) | ('poly', [rings]).
    Unknown tags (TRIANGLE) carry POLYGON-shaped nesting (wkt.py)."""
    t, c = g.gtype, g.coords
    if c is None or (isinstance(c, (list, np.ndarray)) and len(c) == 0):
        return
    if t == "POINT":
        out.append(("pt", np.asarray(c, float).reshape(1, 2)))
    elif t == "MULTIPOINT":
        out.append(("pt", np.asarray(c, float).reshape(-1, 2)))
    elif t == "LINESTRING":
        out.append(("line", np.asarray(c, float).reshape(-1, 2)))
    elif t == "MULTILINESTRING":
        for part in c:
            out.append(("line", np.asarray(part, float).reshape(-1, 2)))
    elif t == "MULTIPOLYGON":
        for part in c:
            out.append(("poly", [np.asarray(r, float).reshape(-1, 2) for r in part]))
    elif t == "GEOMETRYCOLLECTION":
        for sub in c:
            _flatten_parts(sub, out)
    else:  # POLYGON and unknown tags with POLYGON-shaped nesting
        out.append(("poly", [np.asarray(r, float).reshape(-1, 2) for r in c]))


def _segs_any_intersect(A: np.ndarray, B: np.ndarray) -> bool:
    """True when any segment of A crosses or touches any segment of B.
    Orientation straddle for proper crossings; a zero orientation with
    the endpoint inside the other segment's bbox catches touches and
    collinear overlap. All pairs at once (broadcast (n,m))."""
    if len(A) == 0 or len(B) == 0:
        return False
    ax1, ay1, ax2, ay2 = (A[:, i][:, None] for i in range(4))
    bx1, by1, bx2, by2 = (B[:, i][None, :] for i in range(4))

    def cross(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = cross(bx1, by1, bx2, by2, ax1, ay1)
    d2 = cross(bx1, by1, bx2, by2, ax2, ay2)
    d3 = cross(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = cross(ax1, ay1, ax2, ay2, bx2, by2)
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )
    if proper.any():
        return True

    def on(px, py, sx1, sy1, sx2, sy2, d):
        return (
            (d == 0)
            & (px >= np.minimum(sx1, sx2))
            & (px <= np.maximum(sx1, sx2))
            & (py >= np.minimum(sy1, sy2))
            & (py <= np.maximum(sy1, sy2))
        )

    touch = (
        on(ax1, ay1, bx1, by1, bx2, by2, d1)
        | on(ax2, ay2, bx1, by1, bx2, by2, d2)
        | on(bx1, by1, ax1, ay1, ax2, ay2, d3)
        | on(bx2, by2, ax1, ay1, ax2, ay2, d4)
    )
    return bool(touch.any())


def _in_rings(pts: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd containment of points in a ring set (exterior+holes)."""
    ins = np.zeros(len(pts), dtype=bool)
    for ring in rings:
        ins ^= _pip_mask(pts[:, 0], pts[:, 1], ring)
    return ins


def geom_intersects_rings(parts: list, rings: list[np.ndarray]) -> bool:
    """Exact intersects test: flattened footprint parts vs one layer
    polygon's ring set (even-odd interiors)."""
    poly_segs = np.concatenate([_ring_segs(r, closed=True) for r in rings])
    poly_verts = np.concatenate([np.asarray(r, float) for r in rings])
    for kind, arr in parts:
        if kind == "pt":
            if _in_rings(arr, rings).any():
                return True
        elif kind == "line":
            if _segs_any_intersect(_ring_segs(arr, closed=False), poly_segs):
                return True
            if _in_rings(arr, rings).any():
                return True
        else:  # poly: arr is a ring list
            fp_segs = np.concatenate([_ring_segs(r, closed=True) for r in arr])
            if _segs_any_intersect(fp_segs, poly_segs):
                return True
            fp_verts = np.concatenate([np.asarray(r, float) for r in arr])
            if _in_rings(fp_verts, rings).any():
                return True
            if _in_rings(poly_verts, arr).any():
                return True
    return False


_FP_SCHEMA = T.StructType(
    [
        T.StructField("wkb", T.BinaryType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)

# nested parts for the JVM-expression refine: one struct per primitive
# part — its vertices (containment probes), its segments (crossing
# tests), and whether it is areal (enables the reverse-containment
# test). Built once in the project UDF; every downstream predicate is
# a JVM higher-order lambda over these arrays.
_PART = T.StructType(
    [
        T.StructField("areal", T.BooleanType()),
        T.StructField("verts", T.ArrayType(VERT)),
        T.StructField("segs", T.ArrayType(EDGE)),
    ]
)
_FP_PARTS_SCHEMA = T.StructType(
    [
        T.StructField("parts", T.ArrayType(_PART)),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)


def _parts_rows(parts: list) -> list:
    """_flatten_parts output -> rows for the _PART array column."""
    out = []
    for kind, arr in parts:
        if kind == "pt":
            verts = np.asarray(arr, float).reshape(-1, 2)
            segs = np.empty((0, 4))
            areal = False
        elif kind == "line":
            verts = np.asarray(arr, float).reshape(-1, 2)
            segs = _ring_segs(verts, closed=False)
            areal = False
        else:  # poly: arr is a ring list
            verts = np.concatenate([np.asarray(r, float) for r in arr])
            segs = np.concatenate([_ring_segs(r, closed=True) for r in arr])
            areal = True
        out.append(
            (
                areal,
                [(float(x), float(y)) for x, y in verts],
                [tuple(map(float, s)) for s in segs],
            )
        )
    return out


def _join_geoms(fp: pd.Series, lon: pd.Series, lat: pd.Series):
    """(row index, projected geometry, its parts, bbox) for every row
    with a join geometry. G4 substitution: a NULL/POINT/EMPTY footprint
    with coordinates joins as the point; rows with neither a parseable
    footprint nor coordinates are skipped. The batch's geometries are
    projected to EPSG:3067 with one transform_batch call."""
    lon_v = lon.to_numpy(dtype=float, na_value=np.nan)
    lat_v = lat.to_numpy(dtype=float, na_value=np.nan)
    rows: list[int] = []
    geoms: list[Geom] = []
    for i in range(len(fp)):
        w = fp.iloc[i]
        substitute = w is None or w.startswith("POINT") or "EMPTY" in w
        if substitute and np.isfinite(lon_v[i]) and np.isfinite(lat_v[i]):
            g = Geom("POINT", np.array([lon_v[i], lat_v[i]]))
        elif w is None:
            continue
        else:
            try:
                g = parse_wkt(w)
            except Exception:
                continue
        rows.append(i)
        geoms.append(g)
    for i, p in zip(rows, transform_batch(geoms, tm.geodetic_to_tm35)):
        p = _known_tags(p)
        parts: list = []
        _flatten_parts(p, parts)
        if parts:
            yield i, p, parts, _parts_bbox(parts)


@pandas_udf(_FP_PARTS_SCHEMA)
def _fp_project_parts(fp: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
    """Parse + project each row's join geometry once -> (parts, bbox)."""
    n = len(fp)
    rows: list = [None] * n
    bb = np.full((n, 4), np.nan)
    for i, _, parts, box in _join_geoms(fp, lon, lat):
        rows[i] = _parts_rows(parts)
        bb[i] = box
    return pd.DataFrame(
        {"parts": rows, "x0": bb[:, 0], "y0": bb[:, 1], "x1": bb[:, 2], "y1": bb[:, 3]}
    )


@pandas_udf(_FP_SCHEMA)
def _fp_project_wkb(fp: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
    """Parse + project each row's join geometry once -> (wkb, bbox)."""
    n = len(fp)
    wkbs: list = [None] * n
    bb = np.full((n, 4), np.nan)
    for i, p, _, box in _join_geoms(fp, lon, lat):
        wkbs[i] = to_wkb(p)
        bb[i] = box
    return pd.DataFrame(
        {"wkb": wkbs, "x0": bb[:, 0], "y0": bb[:, 1], "x1": bb[:, 2], "y1": bb[:, 3]}
    )


# Nondeterministic for the reason given at pipeline.point_en: otherwise
# the probe's null filters are pushed below the projection and every
# row is parsed and projected twice, by two Python runners.
fp_project_parts = _fp_project_parts.asNondeterministic()
fp_project_wkb = _fp_project_wkb.asNondeterministic()


def _x_cross(ox, oy, px, py, qx, qy):
    """Column twin of _segs_any_intersect's orientation cross product
    (same operation order -> bit-identical doubles)."""
    return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)


def _x_seg_int(a, b):
    """Column twin of one (segA, segB) pair of _segs_any_intersect:
    proper straddle OR zero-orientation endpoint-in-bbox touch."""
    d1 = _x_cross(b["x1"], b["y1"], b["x2"], b["y2"], a["x1"], a["y1"])
    d2 = _x_cross(b["x1"], b["y1"], b["x2"], b["y2"], a["x2"], a["y2"])
    d3 = _x_cross(a["x1"], a["y1"], a["x2"], a["y2"], b["x1"], b["y1"])
    d4 = _x_cross(a["x1"], a["y1"], a["x2"], a["y2"], b["x2"], b["y2"])
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )

    def on(px, py, sx1, sy1, sx2, sy2, d):
        return (
            (d == F.lit(0.0))
            & (px >= F.least(sx1, sx2))
            & (px <= F.greatest(sx1, sx2))
            & (py >= F.least(sy1, sy2))
            & (py <= F.greatest(sy1, sy2))
        )

    touch = (
        on(a["x1"], a["y1"], b["x1"], b["y1"], b["x2"], b["y2"], d1)
        | on(a["x2"], a["y2"], b["x1"], b["y1"], b["x2"], b["y2"], d2)
        | on(b["x1"], b["y1"], a["x1"], a["y1"], a["x2"], a["y2"], d3)
        | on(b["x2"], b["y2"], a["x1"], a["y1"], a["x2"], a["y2"], d4)
    )
    return proper | touch


def _parts_bbox(parts: list) -> tuple[float, float, float, float]:
    arrs = []
    for kind, arr in parts:
        arrs.extend(arr if kind == "poly" else [arr])
    allv = np.concatenate(arrs)
    return (
        float(allv[:, 0].min()),
        float(allv[:, 1].min()),
        float(allv[:, 0].max()),
        float(allv[:, 1].max()),
    )


def footprint_join(
    spark: SparkSession,
    pages: DataFrame,
    polygons: DataFrame,
    cell_km: int = 10,
    key_col: str = "url",
    fp_col: str = "footprint",
    lon_col: str = "lon",
    lat_col: str = "lat",
    refine: str = "expr",
) -> DataFrame:
    """(key_col, poly_id) rows where the row's footprint geometry
    intersects the layer polygon. `pages` carries the raw footprint WKT
    plus lon/lat doubles (fgcspark.extract.with_extracted output).

    refine="expr" (default) runs the exact intersects predicate as
    nested JVM higher-order lambdas over the footprint's part arrays
    and the cover's edge/vertex arrays — after the parse/project UDF,
    which runs once per row, no Python touches the hot path (the plan
    has one ArrowEvalPython node). refine="pandas"
    parses the footprint to WKB instead and runs the numpy predicate
    against a driver-broadcast ring table. Both evaluate identical
    float predicates in identical operation order — bit-identical
    outputs (asserted by test_joins.py). Measured as for pip_join
    (local[4], sf0.01 pages, densified synthetic layer, three calls),
    expr vs pandas: median 10 vertices per polygon 4.3-7.0 s vs
    4.7-6.5 s; median 100 vertices 6.8-7.6 s vs 4.7-5.1 s — the
    segment-pair lambda is O(footprint segments x polygon edges), so
    numpy wins on edge-heavy layers."""
    if refine not in ("expr", "pandas"):
        raise ValueError(f"unknown refine backend {refine!r}")
    project, geom = (
        (fp_project_parts, "parts") if refine == "expr" else (fp_project_wkb, "wkb")
    )
    s = cell_km * 1000
    probe = (
        pages.select(
            key_col,
            project(F.col(fp_col), F.col(lon_col), F.col(lat_col)).alias("_g"),
        )
        .select(key_col, "_g.*")
        .where(F.col(geom).isNotNull())
    )
    cand = (
        bbox_cells(probe, cell_km, "x0", "y0", "x1", "y1")
        .join(polygon_cover(polygons, cell_km), ["cell_n", "cell_e"])
        # reporting-cell dedup: only the cell holding the
        # bbox-intersection's lower-left corner emits a (footprint,
        # polygon) pair
        .where(
            (F.floor(F.greatest(F.col("y0"), F.col("by0")) / s) == F.col("cell_n"))
            & (F.floor(F.greatest(F.col("x0"), F.col("bx0")) / s) == F.col("cell_e"))
        )
        # bbox overlap prefilter: bbox-disjoint geometries cannot
        # intersect, so this prunes refine work without changing output
        .where(
            (F.col("x0") <= F.col("bx1")) & (F.col("x1") >= F.col("bx0"))
            & (F.col("y0") <= F.col("by1")) & (F.col("y1") >= F.col("by0"))
        )
    )

    if refine == "expr":
        hit = F.exists(
            "parts",
            lambda part: (
                F.exists(part["verts"], lambda v: crossing_parity(v, F.col("edges")))
                | F.exists(
                    part["segs"],
                    lambda sg: F.exists(F.col("edges"), lambda ed: _x_seg_int(sg, ed)),
                )
                | (
                    part["areal"]
                    & F.exists(F.col("verts"), lambda v: crossing_parity(v, part["segs"]))
                )
            ),
        )
        return cand.where(hit).select(key_col, "poly_id")

    bc = spark.sparkContext.broadcast(build_polygon_index(spark, polygons, cell_km).ring_table())

    @pandas_udf(T.BooleanType())
    def refine_udf(wkb: pd.Series, pid: pd.Series) -> pd.Series:
        table = bc.value
        out = np.zeros(len(pid), dtype=bool)
        cache: dict[bytes, list] = {}
        for i, (key, p) in enumerate(zip(wkb, pid)):
            parts = cache.get(key)
            if parts is None:
                parts = []
                _flatten_parts(from_wkb(key), parts)
                cache[key] = parts
            out[i] = geom_intersects_rings(parts, table[int(p)])
        return pd.Series(out)

    return cand.filter(refine_udf(F.col("wkb"), F.col("poly_id"))).select(key_col, "poly_id")
