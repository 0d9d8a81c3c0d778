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
1. one Arrow UDF parses + projects each footprint ONCE (one TM35FIN
   transform call per Arrow batch; the UDF is marked nondeterministic
   so Catalyst cannot evaluate it a second time below the join's null
   filters) and emits its parts — per part the vertex list, the
   segment list and an areal flag, assembled from numpy offsets — plus
   its bbox, so downstream stages never re-parse;
2. the probe's bbox cell cover is exploded JVM-side with
   sequence()/explode (footprints are small, the cover is a handful of
   cells at the prefilter grid);
3. cell equi-join against pip.polygon_cover, the executor-built layer,
   with no join hint: Spark broadcasts the layer while it is under the
   broadcast threshold (the probe streams with no shuffle) and
   sort-merge joins above it;
4. the exact intersects refine: one boolean Arrow UDF (_fp_refine)
   that flattens a whole batch of candidates' part, edge and vertex
   lists by their offsets and runs geom_intersects_rings's three tests
   as numpy steps over (candidate, item, edge) terms. Duplicate
   (footprint, polygon) candidates from multi-cell overlap are deduped
   WITHOUT a shuffle: a candidate is emitted only from its reporting
   cell — the cell containing the lower-left corner of the bbox
   intersection, which both covers are guaranteed to contain. The
   per-pair predicate is heavier than pip_join's, so the default
   prefilter grid is finer (10 km vs 50 km): a larger cover buys
   proportionally fewer candidate pairs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from fgcspark.crs import tm35fin as tm
from fgcspark.geom.kernels import transform_batch
from fgcspark.geom.wkt import Geom, parse_wkt
from fgcspark.joins.pip import (
    EDGE,
    VERT,
    _crosses,
    _pip_mask,
    _ring_segs,
    bbox_cells,
    polygon_cover,
)

# (candidate, item, edge) terms the refine evaluates per numpy step:
# bounds its working memory (~150 bytes a term, ~5 MiB a slice) on
# edge-heavy layers; larger slices measured no faster
_SLICE_TERMS = 1 << 15


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


def _seg_hits(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """Elementwise (broadcasting): segment a crosses or touches segment
    b. Orientation straddle for proper crossings; a zero orientation
    with the endpoint inside the other segment's bbox catches touches
    and collinear overlap."""

    def cross(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = cross(bx1, by1, bx2, by2, ax1, ay1)
    d2 = cross(bx1, by1, bx2, by2, ax2, ay2)
    d3 = cross(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = cross(ax1, ay1, ax2, ay2, bx2, by2)
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )

    def on(px, py, sx1, sy1, sx2, sy2, d):
        return (
            (d == 0)
            & (px >= np.minimum(sx1, sx2))
            & (px <= np.maximum(sx1, sx2))
            & (py >= np.minimum(sy1, sy2))
            & (py <= np.maximum(sy1, sy2))
        )

    return proper | (
        on(ax1, ay1, bx1, by1, bx2, by2, d1)
        | on(ax2, ay2, bx1, by1, bx2, by2, d2)
        | on(bx1, by1, ax1, ay1, ax2, ay2, d3)
        | on(bx2, by2, ax1, ay1, ax2, ay2, d4)
    )


def _segs_any_intersect(A: np.ndarray, B: np.ndarray) -> bool:
    """True when any segment of A crosses or touches any segment of B
    (segments as (m,4) = x1 y1 x2 y2; all pairs at once)."""
    if len(A) == 0 or len(B) == 0:
        return False
    a = (A[:, i][:, None] for i in range(4))
    b = (B[:, i][None, :] for i in range(4))
    return bool(_seg_hits(*a, *b).any())


def _in_rings(pts: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd containment of points in a ring set (exterior+holes)."""
    ins = np.zeros(len(pts), dtype=bool)
    for ring in rings:
        ins ^= _pip_mask(pts[:, 0], pts[:, 1], ring)
    return ins


def geom_intersects_rings(parts: list, rings: list[np.ndarray]) -> bool:
    """Exact intersects test: flattened footprint parts vs one layer
    polygon's ring set (even-odd interiors). The scalar reference of
    the batched _fp_refine."""
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


# one struct per primitive part: its vertices (containment probes), its
# segments (crossing tests), and whether it is areal (enables the
# reverse-containment test)
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


def _join_geoms(fp: pa.Array, lon: pa.Array, lat: pa.Array):
    """(row index, flattened parts) for every row with a join geometry.
    G4 substitution: a NULL/POINT/EMPTY footprint with coordinates
    joins as the point; rows with neither a parseable footprint nor
    coordinates are skipped. The batch's geometries are projected to
    EPSG:3067 with one transform_batch call."""
    lon_v = lon.to_numpy(zero_copy_only=False)
    lat_v = lat.to_numpy(zero_copy_only=False)
    rows: list[int] = []
    geoms: list[Geom] = []
    for i, w in enumerate(fp.to_pylist()):
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
        parts: list = []
        _flatten_parts(p, parts)
        if parts:
            yield i, parts


def _offsets(lengths) -> pa.Array:
    off = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=off[1:])
    return pa.array(off)


def _struct_list(chunks: list[np.ndarray], t: T.StructType) -> pa.ListArray:
    """One list entry per (k, len(t.names)) chunk, as a list<t> array."""
    flat = np.concatenate(chunks) if chunks else np.empty((0, len(t.names)))
    cols = [pa.array(np.ascontiguousarray(flat[:, k])) for k in range(len(t.names))]
    return pa.ListArray.from_arrays(
        _offsets([len(c) for c in chunks]), pa.StructArray.from_arrays(cols, t.names)
    )


def _parts_array(rows: list) -> pa.StructArray:
    """Flattened parts per row (None: no join geometry) -> the
    _FP_PARTS_SCHEMA array (parts, bbox), NULL where a row has none.
    The part, vertex and segment lists are built from numpy arrays and
    their offsets."""
    n_parts = np.array([len(p) if p else 0 for p in rows], dtype=np.int64)
    null = n_parts == 0
    box = np.full((4, len(rows)), np.nan)
    areal, verts, segs = [], [], []
    for i, parts in enumerate(rows):
        for kind, arr in parts or ():
            if kind == "poly":
                verts.append(np.concatenate(arr))
                segs.append(np.concatenate([_ring_segs(r, closed=True) for r in arr]))
            else:
                verts.append(arr)
                segs.append(_ring_segs(arr, closed=False) if kind == "line" else np.empty((0, 4)))
            areal.append(kind == "poly")
        if parts:
            allv = np.concatenate(verts[-len(parts):])
            box[:2, i] = allv.min(axis=0)
            box[2:, i] = allv.max(axis=0)
    part = pa.StructArray.from_arrays(
        [pa.array(areal, pa.bool_()), _struct_list(verts, VERT), _struct_list(segs, EDGE)],
        _PART.names,
    )
    cols = [pa.ListArray.from_arrays(_offsets(n_parts), part, mask=pa.array(null))]
    cols += [pa.array(b, mask=null) for b in box]
    return pa.StructArray.from_arrays(cols, _FP_PARTS_SCHEMA.names)


@arrow_udf(_FP_PARTS_SCHEMA)
def _fp_project_parts(fp: pa.Array, lon: pa.Array, lat: pa.Array) -> pa.Array:
    """Parse + project each row's join geometry once -> (parts, bbox)."""
    rows: list = [None] * len(fp)
    for i, parts in _join_geoms(fp, lon, lat):
        rows[i] = parts
    return _parts_array(rows)


# Nondeterministic for the reason given at pipeline.point_en: otherwise
# the probe's null filters are pushed below the projection and every
# row is parsed and projected twice, by two Python runners.
fp_project_parts = _fp_project_parts.asNondeterministic()


def _flat(lists: pa.Array, names: list[str]):
    """A list<struct> array, sliced or not -> (offsets from 0, the
    struct values' fields as numpy arrays). Entry i is rows
    offsets[i]:offsets[i+1] of the fields."""
    off = lists.offsets.to_numpy()
    vals = lists.values.slice(off[0], off[-1] - off[0])
    return off - off[0], [vals.field(k).to_numpy(zero_copy_only=False) for k in names]


def _terms(ln: np.ndarray, rn: np.ndarray):
    """Every (g, i, j) with i < ln[g] and j < rn[g], as three index
    arrays, in slices of about _SLICE_TERMS terms. A slice holds whole
    (g, i) rows, so a row longer than that is a slice of its own."""
    g = np.repeat(np.arange(len(ln)), ln)
    i = np.arange(len(g)) - np.repeat(np.cumsum(ln) - ln, ln)
    w = rn[g]
    end = np.cumsum(w)
    start = end - w
    cuts = np.searchsorted(end, np.arange(0, end[-1] if len(end) else 0, _SLICE_TERMS), side="right")
    for a, b in zip(cuts, [*cuts[1:], len(g)]):
        if a < b:
            row = np.repeat(np.arange(a, b), w[a:b])
            yield g[row], i[row], np.arange(len(row)) + start[a] - start[row]


def _any_inside(l0, ln, pts, r0, rn, segs) -> np.ndarray:
    """Per group g: does any point pts[l0[g] + i], i < ln[g], have odd
    crossing parity against the segments segs[r0[g] + j], j < rn[g]?
    pip._crosses is crossing_parity's formula, operation for operation."""
    key0 = np.cumsum(ln) - ln  # first (group, point) key of each group
    crossings = np.zeros(int(ln.sum()), dtype=np.int64)
    for g, i, j in _terms(ln, rn):
        p, s = l0[g] + i, r0[g] + j
        c = _crosses(pts[0][p], pts[1][p], *(a[s] for a in segs))
        # a slice's keys ascend: count over their range only
        key = key0[g] + i
        lo, hi = key[0], key[-1] + 1
        crossings[lo:hi] += np.bincount(key[c] - lo, minlength=hi - lo)
    out = np.zeros(len(ln), dtype=bool)
    out[np.repeat(np.arange(len(ln)), ln)[crossings % 2 == 1]] = True
    return out


def _any_crossing(l0, ln, a_segs, r0, rn, b_segs) -> np.ndarray:
    """Per group g: does any segment a_segs[l0[g] + i] cross or touch
    any b_segs[r0[g] + j] (i < ln[g], j < rn[g])?"""
    out = np.zeros(len(ln), dtype=bool)
    for g, i, j in _terms(ln, rn):
        a, b = l0[g] + i, r0[g] + j
        out[g[_seg_hits(*(c[a] for c in a_segs), *(c[b] for c in b_segs))]] = True
    return out


@arrow_udf(T.BooleanType())
def _fp_refine(parts: pa.Array, edges: pa.Array, verts: pa.Array) -> pa.Array:
    """Exact intersects of each candidate's footprint parts with its
    layer polygon's edges/vertices: geom_intersects_rings's three
    tests, each one numpy step over the whole batch. A test runs only
    for the candidates the earlier ones left undecided."""
    n = len(parts)
    if n == 0:
        return pa.array([], pa.bool_())
    p_off = parts.offsets.to_numpy()
    part = parts.values.slice(p_off[0], p_off[-1] - p_off[0])
    p_off = p_off - p_off[0]
    areal = part.field("areal").to_numpy(zero_copy_only=False)
    v_off, fp_v = _flat(part.field("verts"), VERT.names)
    s_off, fp_s = _flat(part.field("segs"), EDGE.names)
    e_off, edge = _flat(edges, EDGE.names)
    w_off, poly_v = _flat(verts, VERT.names)
    e0, en = e_off[:-1], np.diff(e_off)
    # a candidate's vertices/segments over all its parts are contiguous
    v0, s0 = v_off[p_off[:-1]], s_off[p_off[:-1]]
    vn, sn = v_off[p_off[1:]] - v0, s_off[p_off[1:]] - s0

    # 1. a footprint vertex inside the polygon
    hit = _any_inside(v0, vn, fp_v, e0, en, edge)
    # 2. a footprint segment crossing or touching a polygon edge
    r = np.flatnonzero(~hit)
    hit[r[_any_crossing(s0[r], sn[r], fp_s, e0[r], en[r], edge)]] = True
    # 3. a polygon vertex inside an areal footprint part
    row = np.repeat(np.arange(n), np.diff(p_off))
    q = np.flatnonzero(areal & ~hit[row])
    r = row[q]
    inside = _any_inside(w_off[r], np.diff(w_off)[r], poly_v, s_off[q], np.diff(s_off)[q], fp_s)
    hit[r[inside]] = True
    return pa.array(hit)


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

    The plan has two Arrow UDFs: the probe's parse/project, evaluated
    once per row, and the batched numpy refine above the join.
    `refine` is accepted for compatibility and ignored ("expr" and
    "pandas" named the two refines this one replaced: nested JVM
    lambdas and a per-pair numpy UDF); any other value raises
    ValueError. Measured on local[4] (4 vCPU) over the sf0.01 pages
    (23,584 candidate pairs), calls two and three of three collecting
    calls (the first starts the Python workers): the layer as
    generated (median 10 vertices per polygon) 3.5-3.6 s, against
    4.7-5.0 s for the JVM lambdas and 6.7-6.8 s for the per-pair numpy
    refine; densified to a median 100 vertices, 4.4-5.5 s against
    6.9-8.3 s and 6.9-7.3 s."""
    if refine not in ("expr", "pandas"):
        raise ValueError(f"unknown refine backend {refine!r}")
    s = cell_km * 1000
    probe = (
        pages.select(
            key_col,
            fp_project_parts(F.col(fp_col), F.col(lon_col), F.col(lat_col)).alias("_g"),
        )
        .select(key_col, "_g.*")
        .where(F.col("parts").isNotNull())
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
    refined = cand.where(_fp_refine(F.col("parts"), F.col("edges"), F.col("verts")))
    return refined.select(key_col, "poly_id")
