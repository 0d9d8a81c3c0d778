"""Geometry kernels G1-G13 (SURVEY.md §2.6), numpy over the Geom model.

Each kernel cites the reference behavior it re-expresses. They run
inside Arrow-batched pandas UDFs and mapInPandas stages, never as
row-at-a-time Spark UDFs. Inside a batch, most kernels take one
geometry per call; transform_batch projects the whole batch's
coordinates in one call.
"""

from __future__ import annotations

import numpy as np

from fgcspark.geom.wkt import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geom,
)

_KNOWN_FAMILY = {
    POINT: POINT,
    MULTIPOINT: POINT,
    LINESTRING: LINESTRING,
    MULTILINESTRING: LINESTRING,
    POLYGON: POLYGON,
    MULTIPOLYGON: POLYGON,
}


def transform_coords(g: Geom, fn) -> Geom:
    """Apply fn(xs, ys) -> (xs, ys) to every coordinate (CRS transforms,
    reference R/finbif_geo_convert.R:326-336)."""

    def _arr(a: np.ndarray) -> np.ndarray:
        if a.size == 0:
            return a
        x, y = fn(a[..., 0], a[..., 1])
        return np.stack([np.asarray(x), np.asarray(y)], axis=-1)

    def _walk(t: str, c):
        if c is None:
            return None
        if t == GEOMETRYCOLLECTION:
            return [transform_coords(m, fn) for m in c]
        if isinstance(c, np.ndarray):
            if t == POINT:
                x, y = fn(c[0], c[1])
                return np.array([float(x), float(y)])
            return _arr(c)
        return [_walk("_inner", r) if isinstance(r, np.ndarray) else [_arr(q) for q in r] for r in c]

    return Geom(g.gtype, _walk(g.gtype, g.coords))


def transform_batch(geoms: list[Geom | None], fn) -> list[Geom | None]:
    """Project every coordinate of `geoms` with ONE call to
    fn(xs, ys) -> (xs, ys): collect each geometry's coordinate arrays
    into a single concatenated (N, 2) buffer, transform it, and slice
    the result back into identically-shaped geometries. None entries
    pass through as None.

    Elementwise-equivalent to transform_coords per geometry (the
    transforms are elementwise numpy, so results are bit-identical
    regardless of batch composition; tests/test_kernels.py pins it);
    GEOMETRYCOLLECTION members recurse through the same buffer. One
    call per Arrow batch amortizes numpy dispatch and series set-up
    that a per-geometry call pays per feature."""
    chunks: list[np.ndarray] = []
    pos = 0

    def grab(a: np.ndarray):
        nonlocal pos
        flat = np.asarray(a, dtype=float).reshape(-1, 2)
        chunks.append(flat)
        tpl = (pos, flat.shape[0], a.shape)
        pos += flat.shape[0]
        return tpl

    def collect(t, c):
        if c is None:
            return None
        if t == GEOMETRYCOLLECTION:
            return [(m.gtype, collect(m.gtype, m.coords)) for m in c]
        if isinstance(c, np.ndarray):
            return grab(c)
        out = []
        for r in c:
            if isinstance(r, np.ndarray):
                out.append(grab(r))
            else:
                out.append([grab(q) for q in r])
        return out

    templates = [None if g is None else (g.gtype, collect(g.gtype, g.coords)) for g in geoms]
    if pos:
        buf = np.concatenate(chunks, axis=0)
        xs, ys = fn(buf[:, 0], buf[:, 1])
        out = np.stack(
            [np.asarray(xs, dtype=float), np.asarray(ys, dtype=float)], axis=1
        )
    else:
        out = np.empty((0, 2))

    def rebuild(t, tpl):
        if tpl is None:
            return None
        if t == GEOMETRYCOLLECTION:
            return [Geom(mt, rebuild(mt, mc)) for mt, mc in tpl]
        if isinstance(tpl, tuple):
            s, n, shape = tpl
            return out[s : s + n].reshape(shape).copy()
        return [
            rebuild("_leaf", e)
            if isinstance(e, tuple)
            else [rebuild("_leaf", q) for q in e]
            for e in tpl
        ]

    return [None if tpl is None else Geom(tpl[0], rebuild(*tpl)) for tpl in templates]


def _rings_of(g: Geom) -> list[np.ndarray]:
    """All coordinate arrays of a geometry, flattened one level."""
    t, c = g.gtype, g.coords
    if c is None:
        return []
    if isinstance(c, np.ndarray):
        return [c.reshape(-1, 2)]
    if t == GEOMETRYCOLLECTION:
        out = []
        for m in c:
            out.extend(_rings_of(m))
        return out
    out = []
    for r in c:
        if isinstance(r, np.ndarray):
            out.append(r)
        else:
            out.extend(r)
    return out


def geom_type(g: Geom) -> str:
    """G13 — reference R/finbif_geo_convert.R:547-551."""
    return g.gtype


def _open_ring(r: np.ndarray) -> np.ndarray:
    """Drop the WKT closing vertex so the roll formulation below sums
    the same terms in the same order as arrays built without one."""
    r = r.reshape(-1, 2)
    if len(r) > 1 and r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1]:
        return r[:-1]
    return r


def ring_area2(ring: np.ndarray) -> float:
    """Signed 2*area of a ring (shoelace, roll form), translated to the
    first vertex first: at TM35FIN magnitudes (N ~ 7e6) the naive sum
    cancels catastrophically, while the translated terms are bounded by
    the ring SPAN, keeping relative error ~1e-14 (property-tested vs
    exact rational arithmetic in tests/test_area.py). The exact term
    order also matters: the synthetic layer golden computes this same
    expression over the same effective arrays, so engine and golden are
    bit-identical."""
    r = _open_ring(ring)
    x = r[:, 0] - r[0, 0]
    y = r[:, 1] - r[0, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    return float(np.sum(x * y2 - x2 * y))


def ring_length(ring: np.ndarray) -> float:
    """Closed perimeter of a ring (includes the closing segment)."""
    r = _open_ring(ring)
    x, y = r[:, 0], r[:, 1]
    return float(np.sum(np.hypot(np.roll(x, -1) - x, np.roll(y, -1) - y)))


def area_perimeter(g: Geom) -> tuple[float, float]:
    """(area, perimeter) of a POLYGON or MULTIPOLYGON in coordinate
    units: per part |outer| - sum |holes| (even-odd ring roles by
    position, like the rest of the engine), perimeter over every ring
    including holes (GEOS ST_Perimeter convention)."""
    if g.gtype == POLYGON:
        parts = [g.coords] if g.coords else []
    elif g.gtype == MULTIPOLYGON:
        parts = g.coords or []
    else:
        raise ValueError(f"area_perimeter needs (MULTI)POLYGON, got {g.gtype}")
    area = 0.0
    perim = 0.0
    for rings in parts:
        for i, r in enumerate(rings):
            a = abs(ring_area2(r)) / 2.0
            area += a if i == 0 else -a
            perim += ring_length(r)
    return area, perim


def _dp_keep(pts: np.ndarray, eps: float) -> np.ndarray:
    """Douglas-Peucker keep-mask over an open polyline (iterative
    stack, vectorized point-to-segment distances per span)."""
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        a, b = pts[i], pts[j]
        seg = b - a
        mid = pts[i + 1 : j]
        L2 = float(seg @ seg)
        if L2 == 0.0:
            d = np.hypot(mid[:, 0] - a[0], mid[:, 1] - a[1])
        else:
            t = np.clip(((mid - a) @ seg) / L2, 0.0, 1.0)
            proj = a + t[:, None] * seg
            d = np.hypot(mid[:, 0] - proj[:, 0], mid[:, 1] - proj[:, 1])
        k = int(np.argmax(d))
        if d[k] > eps:
            keep[i + 1 + k] = True
            stack.append((i, i + 1 + k))
            stack.append((i + 1 + k, j))
    return keep


def simplify(g: Geom, eps: float) -> Geom:
    """Douglas-Peucker simplification (graft addition — the reference
    has no simplify; GEOS ST_Simplify is the public model). Guarantee:
    every dropped vertex lies within eps of the simplified outline
    (property-tested). Rings anchor at their first vertex (the closed
    ring is treated as an open walk first -> ... -> first, so results
    are deterministic but not rotation-invariant — documented); rings
    that would collapse below 3 distinct vertices keep their original
    coordinates. POINT/MULTIPOINT pass through unchanged."""

    def _line(arr: np.ndarray) -> np.ndarray:
        arr = arr.reshape(-1, 2)
        if len(arr) <= 2:
            return arr
        return arr[_dp_keep(arr, eps)]

    def _ring(arr: np.ndarray) -> np.ndarray:
        arr = arr.reshape(-1, 2)
        closed = len(arr) > 1 and (arr[0] == arr[-1]).all()
        walk = arr if closed else np.vstack([arr, arr[:1]])
        out = walk[_dp_keep(walk, eps)]
        if len(out) < 4:  # fewer than 3 distinct vertices: keep original
            return arr
        return out if closed else out[:-1]

    t = g.gtype
    if t in (POINT, MULTIPOINT) or g.coords is None:
        return g
    if t == LINESTRING:
        return Geom(t, _line(g.coords))
    if t == MULTILINESTRING:
        return Geom(t, [_line(a) for a in g.coords])
    if t == POLYGON:
        return Geom(t, [_ring(a) for a in g.coords])
    if t == MULTIPOLYGON:
        return Geom(t, [[_ring(a) for a in part] for part in g.coords])
    if t == GEOMETRYCOLLECTION:
        return Geom(t, [simplify(m, eps) for m in g.coords])
    return g  # unknown passthrough tags keep their coordinates


def convex_hull(g: Geom) -> Geom:
    """Convex hull of any geometry's vertices (Andrew monotone chain,
    CCW closed ring): POLYGON result; degenerate inputs (< 3 distinct
    non-collinear vertices) return a POINT or LINESTRING, like GEOS
    ST_ConvexHull."""
    rings = [r.reshape(-1, 2) for r in _rings_of(g) if r.size]
    if not rings:
        return Geom(g.gtype, g.coords)
    pts = np.unique(np.concatenate(rings, axis=0), axis=0)  # sorted (x, y)
    if len(pts) == 1:
        return Geom(POINT, pts[0].copy())
    n = len(pts)

    def _chain(idx_range):
        out: list[int] = []
        for i in idx_range:
            while len(out) >= 2:
                o, a = pts[out[-2]], pts[out[-1]]
                cross = (a[0] - o[0]) * (pts[i][1] - o[1]) - (a[1] - o[1]) * (
                    pts[i][0] - o[0]
                )
                if cross <= 0:  # clockwise or collinear: drop
                    out.pop()
                else:
                    break
            out.append(i)
        return out

    lower = _chain(range(n))
    upper = _chain(range(n - 1, -1, -1))
    hull_idx = lower[:-1] + upper[:-1]
    if len(hull_idx) < 3:
        return Geom(LINESTRING, np.stack([pts[0], pts[-1]]))
    ring = pts[hull_idx]
    ring = np.vstack([ring, ring[:1]])  # close
    return Geom(POLYGON, [ring])


def bbox(g: Geom):
    """G12 prerequisite: (xmin, ymin, xmax, ymax) or None if empty
    (reference R/finbif_geo_convert.R:303-322)."""
    rings = [r for r in _rings_of(g) if r.size]
    if not rings:
        return None
    allc = np.concatenate(rings, axis=0)
    return (
        float(allc[:, 0].min()),
        float(allc[:, 1].min()),
        float(allc[:, 0].max()),
        float(allc[:, 1].max()),
    )


def bbox_polygon(g: Geom) -> Geom:
    """G12: bbox -> 5-point corner polygon; empty -> POLYGON EMPTY
    (reference R/finbif_geo_convert.R:303-322). Degenerate (point)
    bboxes yield degenerate polygons, matching the reference quirk for
    unbuffered single-coordinate MULTIPOINTs (SURVEY §2.6 G12)."""
    b = bbox(g)
    if b is None:
        return Geom(POLYGON, [])
    xmin, ymin, xmax, ymax = b
    ring = np.array(
        [[xmin, ymin], [xmin, ymax], [xmax, ymax], [xmax, ymin], [xmin, ymin]]
    )
    return Geom(POLYGON, [ring])


def _ring_area2_cx_cy(r: np.ndarray, base=(0.0, 0.0)):
    """(2*signed_area, centroid numerators) of one ring (open or
    closed), computed relative to `base` — translating to a nearby
    base point avoids the shoelace cancellation that wrecks thin
    rings far from the origin (GEOS does the same)."""
    x, y = r[:, 0] - base[0], r[:, 1] - base[1]
    if x[0] != x[-1] or y[0] != y[-1]:
        x = np.append(x, x[0])
        y = np.append(y, y[0])
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    a2 = cross.sum()
    cx = ((x[:-1] + x[1:]) * cross).sum()
    cy = ((y[:-1] + y[1:]) * cross).sum()
    return a2, cx, cy


def centroid(g: Geom):
    """G3/A3: GEOS-semantics centroid — highest dimension present wins;
    polygons area-weighted (holes = opposite ring orientation), lines
    length-weighted, points averaged (reference
    R/finbif_geo_convert.R:555-561 delegates to st_centroid).
    Returns (x, y) or None for empty."""
    if g.is_empty:
        return None
    t = g.gtype
    if t == GEOMETRYCOLLECTION:
        dims = {_dim(m.gtype) for m in g.coords if not m.is_empty}
        if not dims:
            return None
        top = max(dims)
        pieces = [m for m in g.coords if not m.is_empty and _dim(m.gtype) == top]
        wsum, cx, cy = 0.0, 0.0, 0.0
        for m in pieces:
            c = centroid(m)
            w = _measure(m)
            if c is None:
                continue
            wsum += w
            cx += c[0] * w
            cy += c[1] * w
        if wsum == 0.0:  # degenerate: fall back to vertex mean
            allc = np.concatenate([r for r in _rings_of(g) if r.size])
            return float(allc[:, 0].mean()), float(allc[:, 1].mean())
        return cx / wsum, cy / wsum
    if t == POINT:
        return float(g.coords[0]), float(g.coords[1])
    if t == MULTIPOINT:
        return float(g.coords[:, 0].mean()), float(g.coords[:, 1].mean())
    if t in (LINESTRING, MULTILINESTRING):
        lines = [g.coords] if t == LINESTRING else list(g.coords)
        num = np.zeros(2)
        den = 0.0
        for ln in lines:
            seg = np.diff(ln, axis=0)
            w = np.hypot(seg[:, 0], seg[:, 1])
            mid = (ln[:-1] + ln[1:]) / 2.0
            num += (mid * w[:, None]).sum(axis=0)
            den += w.sum()
        if den == 0.0:
            allc = np.concatenate(lines)
            return float(allc[:, 0].mean()), float(allc[:, 1].mean())
        return float(num[0] / den), float(num[1] / den)
    # polygonal: each polygon's exterior orientation is normalized so
    # shells always contribute positive area regardless of winding
    # (GEOS is winding-insensitive for shells; holes stay subtractive
    # because valid data winds them opposite to their shell). Each part
    # is reduced relative to ITS OWN first exterior vertex — a single
    # shared base across far-apart multipolygon parts reintroduces the
    # shoelace cancellation the translation exists to avoid (a part of
    # area 1e-4 sitting 1e6 units from the base drowns in round-off).
    polys = [g.coords] if t == POLYGON else list(g.coords)
    wsum, xsum, ysum = 0.0, 0.0, 0.0
    for rings in polys:
        if not rings:
            continue
        base = (float(rings[0][0][0]), float(rings[0][0][1]))
        sign = 1.0
        ext_a2, _, _ = _ring_area2_cx_cy(rings[0], base)
        if ext_a2 < 0:
            sign = -1.0
        a2s, cxs, cys = 0.0, 0.0, 0.0
        span = 0.0
        for ring in rings:
            a2, cx, cy = _ring_area2_cx_cy(ring, base)
            a2s += sign * a2
            cxs += sign * cx
            cys += sign * cy
            span = max(
                span,
                float(ring[:, 0].max() - ring[:, 0].min()),
                float(ring[:, 1].max() - ring[:, 1].min()),
            )
        # Degenerate-part guard is RELATIVE to the part's own extent: a
        # denormal-but-nonzero a2s (e.g. ~1e-317 from a sliver with a
        # 5e-309 edge) must not carry area weight — the old absolute
        # `a2s == 0.0` check let it through and the subsequent product
        # underflowed, yielding a centroid at (0,0) outside the part's
        # own bbox (hypothesis falsifier, pinned in test_kernels).
        if a2s == 0.0 or abs(a2s) < 1e-14 * span * span:
            continue  # degenerate part: no area weight
        wsum += a2s
        # `base*a2s + cxs/3` is algebraically identical to
        # `(base + cxs/(3*a2s))*a2s` but never forms the ill-conditioned
        # huge/tiny quotient-then-product that underflows for tiny a2s.
        xsum += base[0] * a2s + cxs / 3.0
        ysum += base[1] * a2s + cys / 3.0
    if wsum == 0.0:
        allc = np.concatenate([r for r in _rings_of(g) if r.size])
        return float(allc[:, 0].mean()), float(allc[:, 1].mean())
    return float(xsum / wsum), float(ysum / wsum)


def _dim(t: str) -> int:
    fam = _KNOWN_FAMILY.get(t, POLYGON)
    return {POINT: 0, LINESTRING: 1, POLYGON: 2}[fam]


def _measure(g: Geom) -> float:
    t = g.gtype
    if t == POINT:
        return 1.0
    if t == MULTIPOINT:
        return float(len(g.coords))
    if t in (LINESTRING, MULTILINESTRING):
        lines = [g.coords] if t == LINESTRING else list(g.coords)
        return float(sum(np.hypot(*np.diff(ln, axis=0).T).sum() for ln in lines))
    polys = [g.coords] if t == POLYGON else list(g.coords)
    tot = 0.0
    for rings in polys:
        for ring in rings:
            a2, _, _ = _ring_area2_cx_cy(ring)
            tot += a2 / 2.0
    return abs(tot)


def cast_to_multi(g: Geom) -> Geom:
    """G8 — reference R/finbif_geo_convert.R:489-501: wrap any non-MULTI
    geometry to its MULTI twin; MULTI*/GC unchanged."""
    t = g.gtype
    if t == POINT:
        if g.coords is None:
            return Geom(MULTIPOINT, np.empty((0, 2)))
        return Geom(MULTIPOINT, g.coords.reshape(1, 2))
    if t == LINESTRING:
        return Geom(MULTILINESTRING, [g.coords] if g.coords.size else [])
    if t == POLYGON:
        return Geom(MULTIPOLYGON, [g.coords] if g.coords else [])
    return g


def point_square(x: float, y: float, side: float = 1.0) -> list[np.ndarray]:
    """G6 — reference point2poly R/finbif_geo_convert.R:528-543: axis-
    aligned square of given side centered on (x, y) (metric frame)."""
    h = side / 2.0
    return [
        np.array(
            [[x - h, y - h], [x + h, y - h], [x + h, y + h], [x - h, y + h], [x - h, y - h]]
        )
    ]


def point_diamond(x: float, y: float, r: float = 0.5) -> list[np.ndarray]:
    """G11 — st_buffer(point, r, nQuadSegs=1) = 4-vertex diamond
    (reference R/finbif_geo_convert.R:340-370)."""
    return [np.array([[x + r, y], [x, y - r], [x - r, y], [x, y + r], [x + r, y]])]


def segment_hexagon(p0: np.ndarray, p1: np.ndarray, r: float = 0.5) -> np.ndarray:
    """G7 — st_buffer(two-point line, r, nQuadSegs=1): offset rectangle
    with one-segment (diamond) end caps = hexagon ring
    (reference R/finbif_geo_convert.R:509-513)."""
    d = p1 - p0
    ll = float(np.hypot(d[0], d[1]))
    if ll == 0.0:
        return point_diamond(float(p0[0]), float(p0[1]), r)[0]
    u = d / ll
    nvec = np.array([u[1], -u[0]]) * r
    cap1 = p1 + u * r
    cap0 = p0 - u * r
    ring = np.array([p0 + nvec, p1 + nvec, cap1, p1 - nvec, p0 - nvec, cap0, p0 + nvec])
    return ring


_FILLET_QUANTUM = np.pi / 2.0  # quadSegs=1: one facet per quarter turn


def _offset_side(pts: np.ndarray, r: float) -> list[np.ndarray] | None:
    """One directed pass of the offset-curve builder: walk `pts`
    forward emitting the right-hand offset polyline, with quadSegs=1
    arc facets on outside turns and offset-line intersections on
    inside turns (GEOS OffsetSegmentGenerator semantics; the inside
    case uses the exact intersection where GEOS inserts a noded loop —
    same outline for simple lines). Returns None when an inside turn
    has no in-segment intersection (sharp zigzag with segments shorter
    than the buffer) — caller falls back to per-segment pieces."""
    d = np.diff(pts, axis=0)
    ll = np.hypot(d[:, 0], d[:, 1])
    u = d / ll[:, None]
    n = np.stack([u[:, 1], -u[:, 0]], axis=1) * r
    out: list[np.ndarray] = [pts[0] + n[0]]
    for i in range(len(u)):
        out.append(pts[i + 1] + n[i])
        if i == len(u) - 1:
            break
        cross = u[i, 0] * u[i + 1, 1] - u[i, 1] * u[i + 1, 0]
        if cross > 0:  # outside turn: fillet arc around the vertex
            theta = float(np.arctan2(cross, np.dot(u[i], u[i + 1])))
            phi0 = float(np.arctan2(n[i, 1], n[i, 0]))
            k = 1
            while k * _FILLET_QUANTUM < theta - 1e-12:
                a = phi0 + k * _FILLET_QUANTUM
                out.append(pts[i + 1] + r * np.array([np.cos(a), np.sin(a)]))
                k += 1
            out.append(pts[i + 1] + n[i + 1])
        elif cross < 0:  # inside turn: exact offset-line intersection
            a1, b1 = pts[i] + n[i], pts[i + 1] + n[i]
            a2, b2 = pts[i + 1] + n[i + 1], pts[i + 2] + n[i + 1]
            d1, d2 = b1 - a1, b2 - a2
            den = d1[0] * d2[1] - d1[1] * d2[0]
            if den == 0.0:
                return None
            t1 = ((a2 - a1)[0] * d2[1] - (a2 - a1)[1] * d2[0]) / den
            t2 = ((a2 - a1)[0] * d1[1] - (a2 - a1)[1] * d1[0]) / den
            if not (0.0 <= t1 <= 1.0 and 0.0 <= t2 <= 1.0):
                return None
            out[-1] = a1 + t1 * d1  # replace corner with the crossing
            # next segment starts FROM the crossing: skip its own start
            # point by pre-marking (handled since we only append ends)
        # collinear (cross == 0): nothing to add
    return out


def buffer_line(coords: np.ndarray, r: float = 0.5) -> list[list[np.ndarray]]:
    """G7 — st_buffer(line, r, nQuadSegs=1), reference
    R/finbif_geo_convert.R:509-513: ONE merged outline per polyline,
    built as the closed offset curve (right side forward + round end
    cap + right side of the reversal + start cap; quadSegs=1 puts one
    facet vertex per quarter-turn, so a segment end cap is the diamond
    tip). Exactly the hexagon for single-segment lines. Falls back to
    per-segment hexagon pieces for degenerate zigzags where an inside
    turn has no in-segment offset intersection (buffer wider than the
    adjoining segments)."""
    pts = np.asarray(coords, dtype=np.float64)
    if len(pts) > 1:  # consecutive-duplicate drop, closure KEPT as data
        keep = np.ones(len(pts), dtype=bool)
        keep[1:] = (pts[1:] != pts[:-1]).any(axis=1)
        pts = pts[keep]
    if len(pts) == 0:
        return []
    if len(pts) == 1:
        return [point_diamond(float(pts[0][0]), float(pts[0][1]), r)]
    if len(pts) > 2 and (pts[0] == pts[-1]).all():
        # closed polyline: annulus semantics out of scope — pieces
        return [[segment_hexagon(pts[i], pts[i + 1], r)] for i in range(len(pts) - 1)]
    d0 = pts[1] - pts[0]
    d1 = pts[-1] - pts[-2]
    u0 = d0 / float(np.hypot(d0[0], d0[1]))
    u1 = d1 / float(np.hypot(d1[0], d1[1]))
    side_a = _offset_side(pts, r)
    side_b = _offset_side(pts[::-1], r)
    if side_a is None or side_b is None:  # fallback: per-segment pieces
        return [[segment_hexagon(pts[i], pts[i + 1], r)] for i in range(len(pts) - 1)]
    ring = np.array(
        side_a + [pts[-1] + u1 * r] + side_b + [pts[0] - u0 * r, side_a[0]]
    )
    keep = np.ones(len(ring), dtype=bool)
    keep[1:] = (ring[1:] != ring[:-1]).any(axis=1)
    return [[ring[keep]]]


def round_coords(g: Geom, digits: int = 0) -> Geom:
    """Banker's rounding of every coordinate (R round() semantics,
    reference R/finbif_geo_convert.R:462 rounds MULTIPOLYGONs to
    integer meters in EPSG:3067). numpy.round == round-half-to-even."""
    return transform_coords(g, lambda x, y: (np.round(x, digits), np.round(y, digits)))


def _dedupe_ring(r: np.ndarray) -> np.ndarray:
    """Drop consecutive duplicate vertices; keep closure."""
    if len(r) == 0:
        return r
    keep = np.ones(len(r), dtype=bool)
    keep[1:] = (r[1:] != r[:-1]).any(axis=1)
    out = r[keep]
    if len(out) > 1 and (out[0] == out[-1]).all():
        out = out[:-1]
    return out


def ring_self_intersects(ring: np.ndarray) -> bool:
    """Validity check for G9: True when a ring self-intersects
    (proper segment crossing, collinear spike/overlap, or a repeated
    non-consecutive vertex — all invalid under OGC simple-feature
    rules). Since round 3 this gates the REPAIR path: rings flagged
    here are routed through the exact node-and-rebuild in
    fgcspark.geom.makevalid (GEOS st_make_valid semantics,
    R/finbif_geo_convert.R:415-419) instead of passing through.

    Since it now guards every make_valid call, the common all-clear
    case is decided by a vectorized float screen (conservative
    relative-1e-9 margins); only rings the screen cannot prove simple
    fall through to the O(n^2) exact predicate loop below."""
    r = _dedupe_ring(np.asarray(ring, dtype=float))
    n = len(r)
    if n < 3:
        return False

    # ---- vectorized screen: prove simplicity, else fall to exact ----
    p1, p2 = r, np.roll(r, -1, axis=0)
    scale = max(float(np.abs(r).max(initial=0.0)), 1.0)
    eps2 = 1e-9 * scale * scale
    epsl = 1e-9 * scale
    d1 = (p2[:, None, 0] - p1[:, None, 0]) * (p1[None, :, 1] - p1[:, None, 1]) - (
        p2[:, None, 1] - p1[:, None, 1]
    ) * (p1[None, :, 0] - p1[:, None, 0])
    d2 = (p2[:, None, 0] - p1[:, None, 0]) * (p2[None, :, 1] - p1[:, None, 1]) - (
        p2[:, None, 1] - p1[:, None, 1]
    ) * (p2[None, :, 0] - p1[:, None, 0])
    sep_line = (np.minimum(np.abs(d1), np.abs(d2)) > eps2) & ((d1 > 0) == (d2 > 0))
    lo, hi = np.minimum(p1, p2), np.maximum(p1, p2)
    sep_box = (
        (hi[None, :, 0] < lo[:, None, 0] - epsl)
        | (lo[None, :, 0] > hi[:, None, 0] + epsl)
        | (hi[None, :, 1] < lo[:, None, 1] - epsl)
        | (lo[None, :, 1] > hi[:, None, 1] + epsl)
    )
    idx = np.arange(n)
    adjacent = (
        (idx[:, None] == idx[None, :])
        | ((idx[:, None] + 1) % n == idx[None, :])
        | ((idx[None, :] + 1) % n == idx[:, None])
    )
    if bool((sep_line | sep_box | adjacent).all()):
        # non-adjacent pairs all provably separated; adjacent pairs can
        # only offend by doubling back (spike): next edge collinear
        # with and reversing onto the previous one
        ex, ey = p2[:, 0] - p1[:, 0], p2[:, 1] - p1[:, 1]
        nx_, ny_ = np.roll(ex, -1), np.roll(ey, -1)
        turn = ex * ny_ - ey * nx_
        back = ex * nx_ + ey * ny_
        if bool(((np.abs(turn) > eps2) | (back > eps2)).all()):
            return False
        # ambiguous corner (near-collinear) -> exact loop decides

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def on_seg(a, b, p):
        return (
            min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
        )

    segs = [(r[i], r[(i + 1) % n]) for i in range(n)]
    for i in range(n):
        p1, p2 = segs[i]
        for j in range(i + 1, n):
            p3, p4 = segs[j]
            adjacent = (j == i + 1) or (i == 0 and j == n - 1)
            d1 = cross(p3, p4, p1)
            d2 = cross(p3, p4, p2)
            d3 = cross(p1, p2, p3)
            d4 = cross(p1, p2, p4)
            if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
                (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
            ):
                return True  # proper crossing
            touches = []
            if d1 == 0 and on_seg(p3, p4, p1):
                touches.append(tuple(p1))
            if d2 == 0 and on_seg(p3, p4, p2):
                touches.append(tuple(p2))
            if d3 == 0 and on_seg(p1, p2, p3):
                touches.append(tuple(p3))
            if d4 == 0 and on_seg(p1, p2, p4):
                touches.append(tuple(p4))
            if not touches:
                continue
            if adjacent:
                # adjacent segments legitimately share one endpoint;
                # any OTHER contact is a spike or collinear overlap
                shared = tuple(p2) if j == i + 1 else tuple(p1)
                if any(t != shared for t in touches):
                    return True
            else:
                return True  # non-adjacent contact = self-touch
    return False


def polygon_in_supported_domain(rings: list[np.ndarray]) -> bool:
    """True when every ring of the polygon is free of
    self-intersection after consecutive-duplicate cleanup — the domain
    of make_valid_polygons' FAST path; outside it the repair path
    (fgcspark.geom.makevalid) takes over (see ring_self_intersects).
    Kept as the public diagnostic; makevalid.polygon_needs_rebuild is
    the stricter routing check (also catches cross-ring invalidity)."""
    return not any(ring_self_intersects(r) for r in rings)


def make_valid_polygons(polys: list[list[np.ndarray]]):
    """G9 make-valid over a MULTIPOLYGON's pieces (reference delegates
    to GEOS st_make_valid, R/finbif_geo_convert.R:415-419,469).

    Fast path (the overwhelming majority of real footprints — valid
    polygons, possibly with duplicate vertices or zero-area rings):

    - consecutive-duplicate vertex drop
    - zero-area ring collapse to its linework (distinct-vertex line) or
      to a point when only one distinct vertex remains

    Repair path (round 3 — closes the SURVEY §7.3 #1 scope cut): a
    polygon whose rings self-intersect, cross each other, or whose
    "hole" escapes its shell is routed through the exact
    node-and-rebuild in fgcspark.geom.makevalid (GEOS linework
    even-odd semantics: bowtie -> two lobes, doubled ring -> cancels,
    overlapping rings -> symmetric difference; collapsed spikes are
    dropped like keepCollapsed=False). A polygon that collapses
    entirely under rebuild falls back to the fast path's degenerate
    linework handling, preserving the reference-fixture outputs.

    Returns (valid_polys, lines, points)."""
    from fgcspark.geom.makevalid import polygon_needs_rebuild, rebuild_polygon

    valid, lines, points = [], [], []
    for rings in polys:
        deduped = [_dedupe_ring(np.asarray(r, dtype=float)) for r in rings]
        if polygon_needs_rebuild(deduped):
            rebuilt = rebuild_polygon(rings)
            if rebuilt:
                valid.extend(rebuilt)
                continue
            # fully collapsed: degrade through the degenerate path below
        kept = []
        for ring in rings:
            rr = _dedupe_ring(ring)
            if len(rr) >= 3:
                # shoelace RELATIVE to the ring's own first vertex: a
                # collinear ring far from the origin otherwise leaves
                # round-off ~ulp(|x|*|y|) instead of exact 0, and the
                # old absolute !=0 test kept a zero-area sliver as
                # "valid" (hypothesis falsifier: vertical line at
                # x=6.7e6 -> a2~1e-9). With the local base the noise
                # scales with extent^2, so a relative guard is sound —
                # same family as the centroid denormal fix.
                base = (float(rr[0, 0]), float(rr[0, 1]))
                a2, _, _ = _ring_area2_cx_cy(rr, base)
                span = max(
                    float(rr[:, 0].max() - rr[:, 0].min()),
                    float(rr[:, 1].max() - rr[:, 1].min()),
                )
                if abs(a2) > 1e-14 * span * span:
                    closed = np.concatenate([rr, rr[:1]], axis=0)
                    kept.append(closed)
                    continue
            # degenerate: linework
            uniq = np.unique(rr, axis=0)
            if len(uniq) >= 2:
                lines.append(uniq[np.lexsort((uniq[:, 1], uniq[:, 0]))])
            elif len(uniq) == 1:
                points.append(uniq[0])
        if kept:
            valid.append(kept)
    return valid, lines, points


def uncollect(g: Geom, digits: int | None = None) -> Geom:
    """G5 — homogenize a GEOMETRYCOLLECTION (reference uncollect,
    R/finbif_geo_convert.R:437-485; golden classes pinned by reference
    inst/tinytest/test_pkg.R:39-95):

    1. unknown member tags (TRIANGLE...) -> passthrough unchanged;
    2. all members of one family (mod MULTI) -> merged MULTI*;
    3. else polygonize every member (point->1 m square, line->0.5 m
       quadsegs=1 buffer, polygon->itself) -> MULTIPOLYGON;
    4. a MULTIPOLYGON result is rounded (banker's, `digits`) and
       made valid; full collapse degrades to LINESTRING/MULTIPOINT like
       GEOS make_valid (test case 3: point+line GC -> LINESTRING);
       partial collapse re-polygonizes the linework (test case 2).
    """
    if g.gtype != GEOMETRYCOLLECTION:
        return g
    members = [m for m in g.coords if not m.is_empty]
    if not members:
        return g
    if any(m.gtype not in _KNOWN_FAMILY and m.gtype != GEOMETRYCOLLECTION for m in members):
        return g  # TRIANGLE etc: passthrough (test_pkg.R:91-95)
    members = [uncollect(m, digits) if m.gtype == GEOMETRYCOLLECTION else m for m in members]
    fams = {_KNOWN_FAMILY.get(m.gtype, POLYGON) for m in members}
    if len(fams) == 1:
        fam = fams.pop()
        merged = _merge_family(members, fam)
        if fam != POLYGON:
            return merged
        g2 = merged
    else:
        g2 = Geom(MULTIPOLYGON, _polygonize_members(members))
    # MULTIPOLYGON path: round + make valid
    if digits is not None:
        g2 = round_coords(g2, digits)
    polys = g2.coords if g2.gtype == MULTIPOLYGON else [g2.coords]
    valid, lines, points = make_valid_polygons(polys)
    if valid and not lines:
        return Geom(MULTIPOLYGON, valid)
    if valid and lines:
        # re-polygonize the collapsed linework (test case 2 -> MULTIPOLYGON)
        for ln in lines:
            for poly in buffer_line(ln, 0.5):
                valid.append(poly)
        return Geom(MULTIPOLYGON, valid)
    # no polygon survived: degrade like GEOS make_valid linework
    if lines:
        line_pts = {tuple(p) for ln in lines for p in ln}
        points = [p for p in points if tuple(p) not in line_pts]
        if not points and len(lines) == 1:
            return Geom(LINESTRING, lines[0])
        if not points:
            return Geom(MULTILINESTRING, lines)
        return Geom(
            GEOMETRYCOLLECTION,
            [Geom(LINESTRING, ln) for ln in lines] + [Geom(POINT, p) for p in points],
        )
    if points:
        if len(points) == 1:
            return Geom(POINT, points[0])
        return Geom(MULTIPOINT, np.array(points))
    return Geom(MULTIPOLYGON, [])


def _merge_family(members: list[Geom], fam: str) -> Geom:
    parts = []
    for m in members:
        t, c = m.gtype, m.coords
        if t == fam:  # single
            parts.append(c)
        else:  # already MULTI
            if fam == POINT:
                parts.extend(list(c))
            else:
                parts.extend(c)
    if fam == POINT:
        return Geom(MULTIPOINT, np.array([np.asarray(p).reshape(2) for p in parts]))
    if fam == LINESTRING:
        return Geom(MULTILINESTRING, parts)
    return Geom(MULTIPOLYGON, parts)


def _polygonize_members(members: list[Geom]) -> list[list[np.ndarray]]:
    """to_polygon per member — reference R/finbif_geo_convert.R:505-525."""
    out: list[list[np.ndarray]] = []
    for m in members:
        t, c = m.gtype, m.coords
        if t == POINT:
            out.append(point_square(float(c[0]), float(c[1])))
        elif t == MULTIPOINT:
            for p in c:
                out.append(point_square(float(p[0]), float(p[1])))
        elif t == LINESTRING:
            out.extend(buffer_line(c))
        elif t == MULTILINESTRING:
            for ln in c:
                out.extend(buffer_line(ln))
        elif t == POLYGON:
            out.append(c)
        elif t == MULTIPOLYGON:
            out.extend(c)
    return out
