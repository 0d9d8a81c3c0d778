"""Distributed layer analytics over a WKT polygon layer: per-feature
planar area/perimeter, convex hulls, and Douglas-Peucker
simplification.

The reference has no layer-analytics surface (its GIS output is the
converted occurrence table itself, R/finbif_geo_convert.R:586-630);
these are graft additions over the engine's polygon layers. The
geometry kernels live in fgcspark.geom.kernels (shoelace, monotone
chain, DP — each independently property-tested); this module is the
Spark stage driver.

Scale shape: one mapInPandas pass, no shuffle. Per Arrow batch the
WKT column is parsed once into geometry objects and ALL coordinates in
the batch are pushed through the Karney transverse-Mercator transform
in ONE vectorized numpy call (`kernels.transform_batch`), instead of
one transform invocation per feature; the per-feature Python work is
the parse and the O(vertices) kernel itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from fgcspark.geom.kernels import transform_batch
from fgcspark.geom.wkt import parse_wkt, to_wkt


def _stage(polys: DataFrame, id_col: str, wkt_col: str, per_geom, schema: str):
    """Shared mapInPandas driver: batch-parse, batch-project, then run
    `per_geom(pid, geom) -> dict` over each projected feature."""
    import pandas as pd

    def run(batches):
        from fgcspark.crs import tm35fin as tm

        for pdf in batches:
            geoms = transform_batch(
                [parse_wkt(w) for w in pdf[wkt_col]], tm.geodetic_to_tm35
            )
            rows = [per_geom(pid, g) for pid, g in zip(pdf[id_col], geoms)]
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c.split()[0]: [] for c in schema.split(", ")}
            )

    return polys.mapInPandas(run, schema)


def layer_stats(
    polys: DataFrame, id_col: str = "poly_id", wkt_col: str = "wkt"
) -> DataFrame:
    """Planar area + perimeter of every layer feature (holes
    subtracted, MULTIPOLYGON parts summed, perimeter over all rings)
    in the projected plane. Returns (id, area_m2, perimeter_m)."""
    from fgcspark.geom import kernels as K

    def per_geom(pid, g):
        a, p = K.area_perimeter(g)
        return {id_col: pid, "area_m2": a, "perimeter_m": p}

    return _stage(
        polys, id_col, wkt_col, per_geom,
        f"{id_col} long, area_m2 double, perimeter_m double",
    )


def layer_hulls(
    polys: DataFrame, id_col: str = "poly_id", wkt_col: str = "wkt"
) -> DataFrame:
    """Convex hull WKT of every layer feature (monotone chain over the
    projected vertices). Returns (id, hull_wkt)."""
    from fgcspark.geom import kernels as K

    def per_geom(pid, g):
        return {id_col: pid, "hull_wkt": to_wkt(K.convex_hull(g))}

    return _stage(polys, id_col, wkt_col, per_geom, f"{id_col} long, hull_wkt string")


def layer_simplify(
    polys: DataFrame,
    eps: float = 500.0,
    id_col: str = "poly_id",
    wkt_col: str = "wkt",
) -> DataFrame:
    """Douglas-Peucker simplification of every layer feature (eps in
    projected meters). Returns (id, simplified_wkt, n_vertices_before,
    n_vertices_after)."""
    from fgcspark.geom import kernels as K

    def nv(g):
        return sum(len(r) for r in K._rings_of(g))

    def per_geom(pid, g):
        s = K.simplify(g, eps=eps)
        return {
            id_col: pid,
            "simplified_wkt": to_wkt(s),
            "n_vertices_before": nv(g),
            "n_vertices_after": nv(s),
        }

    return _stage(
        polys, id_col, wkt_col, per_geom,
        f"{id_col} long, simplified_wkt string, "
        "n_vertices_before long, n_vertices_after long",
    )
