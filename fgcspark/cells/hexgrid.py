"""H3-style hexagonal grid index over the ETRS-TM35FIN plane.

The north_star asks for "H3/S2 cells"; `s2lite.py` covers the quadtree
half of that pair. This module adds the hexagonal half: pointy-top
hexagons of circumradius ``size_m`` meters on the EPSG:3067 plane,
addressed by axial coordinates ``(q, r)`` and packed into one BIGINT.
Unlike true H3 (icosahedral, geodesic) this is a *planar* hex grid —
the right construction for a national-extent metric CRS like TM35FIN
(where the reference's whole grid scheme lives, reference
R/finbif_geo_convert.R:314-336): cells are exactly invertible, equal
area by construction, and need no geodesy library (h3 is unavailable
in this environment, and its spherical cells would not tile the
FinBIF km-grids' plane consistently anyway).

Everything is pure Catalyst column arithmetic — floor / abs /
comparisons inside whole-stage codegen, no Python worker — and the
identical expression tree is re-derivable in ANSI SQL, so the DuckDB
correctness oracle runs the very same formula (see ``HEX_SQL``).

Hex math (standard axial/cube coordinates; pointy-top):

    qf = (SQRT3_3 * e - n / 3) / s        # fractional axial col
    rf = (2 * n / 3) / s                  # fractional axial row

cube-rounded with round-half-up via ``floor(x + 0.5)`` — floor is
exact and bit-identical across engines, unlike library ``round``
half-even/half-up variants — then the component with the largest
rounding error is recomputed from the other two so the cube invariant
``q + r + s_cube == 0`` holds (this is what makes the rounded cell the
*nearest* hex center).

Packing: ``hex_id = (q + 2^20) << 21 | (r + 2^20)`` — 21 bits per
axis covers ±1,048,575 cells per axis, i.e. the whole planet at 5 m
hexes; Finland at 5 km hexes uses a few hundred per axis.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SQRT3_3 = 0.5773502691896258  # sqrt(3)/3, fixed literal shared with SQL
BIAS = 1 << 20
DEFAULT_SIZE_M = 5000.0


def _axial_cols(e: Column, n: Column, size_m: float) -> tuple[Column, Column]:
    """Cube-rounded axial (q, r) as long Columns. Kept as one helper so
    hex_id / hex_qr can't drift apart."""
    s = float(size_m)
    qf = (F.lit(SQRT3_3) * e - n / F.lit(3.0)) / F.lit(s)
    rf = (F.lit(2.0) * n / F.lit(3.0)) / F.lit(s)
    sf = -qf - rf
    rq = F.floor(qf + F.lit(0.5))
    rr = F.floor(rf + F.lit(0.5))
    rs = F.floor(sf + F.lit(0.5))
    dq = F.abs(rq - qf)
    dr = F.abs(rr - rf)
    ds = F.abs(rs - sf)
    fix_q = (dq > dr) & (dq > ds)
    q = F.when(fix_q, -rr - rs).otherwise(rq)
    r = F.when((~fix_q) & (dr > ds), -rq - rs).otherwise(rr)
    return q.cast("long"), r.cast("long")


def hex_qr(e: Column, n: Column, size_m: float = DEFAULT_SIZE_M) -> Column:
    """struct<q:long, r:long> axial address of the hex containing (e, n)."""
    q, r = _axial_cols(e, n, size_m)
    return F.struct(q.alias("q"), r.alias("r"))


def hex_id(e: Column, n: Column, size_m: float = DEFAULT_SIZE_M) -> Column:
    """Packed BIGINT hex cell id — the shuffle/groupBy key."""
    q, r = _axial_cols(e, n, size_m)
    return F.shiftleft(q + F.lit(BIAS), 21) + (r + F.lit(BIAS))


def hex_id_sql(e_expr: str, n_expr: str, size_m: float = DEFAULT_SIZE_M) -> str:
    """The DuckDB/ANSI-SQL twin of hex_id, as a scalar expression over
    the given e/n SQL expressions. Same literals, same operator order,
    same floor(x+0.5) rounding — divergence surface is only the e/n
    inputs themselves."""
    s = repr(float(size_m))
    qf = f"(({SQRT3_3!r} * {e_expr} - {n_expr} / 3.0) / {s})"
    rf = f"((2.0 * {n_expr} / 3.0) / {s})"
    sf = f"(-{qf} - {rf})"
    rq = f"CAST(floor({qf} + 0.5) AS BIGINT)"
    rr = f"CAST(floor({rf} + 0.5) AS BIGINT)"
    rs = f"CAST(floor({sf} + 0.5) AS BIGINT)"
    fix_q = f"(abs({rq} - {qf}) > abs({rr} - {rf}) AND abs({rq} - {qf}) > abs({rs} - {sf}))"
    fix_r = f"(NOT {fix_q} AND abs({rr} - {rf}) > abs({rs} - {sf}))"
    q = f"(CASE WHEN {fix_q} THEN -{rr} - {rs} ELSE {rq} END)"
    r = f"(CASE WHEN {fix_r} THEN -{rq} - {rs} ELSE {rr} END)"
    return f"((({q} + {BIAS}) << 21) + ({r} + {BIAS}))"


def unpack(hid: int) -> tuple[int, int]:
    """Python inverse of hex_id's packing: (q, r)."""
    return (hid >> 21) - BIAS, (hid & ((1 << 21) - 1)) - BIAS


def center(q: int, r: int, size_m: float = DEFAULT_SIZE_M) -> tuple[float, float]:
    """Planar (e, n) of a hex center — exact inverse of the fractional
    transform at integer (q, r)."""
    import math

    s = float(size_m)
    e = s * math.sqrt(3.0) * (q + r / 2.0)
    n = s * 1.5 * r
    return e, n


def hex_qr_np(e, n, size_m: float = DEFAULT_SIZE_M):
    """numpy twin of _axial_cols for tests/oracles (same formula,
    same floor(x+0.5) rounding)."""
    import numpy as np

    e = np.asarray(e, dtype=np.float64)
    n = np.asarray(n, dtype=np.float64)
    s = float(size_m)
    qf = (SQRT3_3 * e - n / 3.0) / s
    rf = (2.0 * n / 3.0) / s
    sf = -qf - rf
    rq = np.floor(qf + 0.5)
    rr = np.floor(rf + 0.5)
    rs = np.floor(sf + 0.5)
    dq = np.abs(rq - qf)
    dr = np.abs(rr - rf)
    ds = np.abs(rs - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q = np.where(fix_q, -rr - rs, rq).astype(np.int64)
    r = np.where(fix_r, -rq - rs, rr).astype(np.int64)
    return q, r


def hex_id_np(e, n, size_m: float = DEFAULT_SIZE_M):
    import numpy as np

    q, r = hex_qr_np(e, n, size_m)
    return ((q + BIAS).astype(np.int64) << 21) + (r + BIAS)


def k_ring_offsets(k: int) -> list[tuple[int, int]]:
    """All axial offsets within hex distance k of the origin —
    1 + 3k(k+1) cells (the H3 kRing/gridDisk neighborhood)."""
    return [
        (dq, dr)
        for dq in range(-k, k + 1)
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1)
    ]


def hex_ring_counts(probes: DataFrame, counts: DataFrame, k: int = 2) -> DataFrame:
    """Hex k-ring disk aggregation: for each probe hex, the total count
    over every hex within hex distance k — H3's gridDisk query.

    Same contract and plan shape as grid.ring_counts: `probes` is a
    SMALL (hex_id, n_docs) subset; `counts` is the full per-hex
    aggregate. The 1+3k(k+1) neighbor ids come from exploding a
    constant literal offset array (pure arithmetic, no UDF), and the
    exploded probes are broadcast onto the aggregate; at 100 TB the
    only cost past the aggregate is one broadcast of
    |probes| * (3k^2+3k+1) longs.

    When `probes` is derived from `counts` (the top-N hot hexes), both
    branches plan the aggregate identically and adaptive exchange reuse
    serves it from ONE scan of the base table. The null-safe join key
    keeps it so: a plain equi-join pushes an inferred isnotnull(hex_id)
    below the `counts` branch only. A NULL hex_id probe (rows with no
    point) is filtered on the probe side, so it yields no row.

    Returns (hex_id, n_docs, n_docs_ring)."""
    q = (F.shiftright(F.col("hex_id"), 21) - F.lit(BIAS)).alias("_q")
    r = (F.col("hex_id").bitwiseAND(F.lit((1 << 21) - 1)) - F.lit(BIAS)).alias("_r")
    offs = F.array(
        *[
            F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
            for dq, dr in k_ring_offsets(k)
        ]
    )
    exploded = (
        probes.select("hex_id", "n_docs", q, r)
        .withColumn("_o", F.explode(offs))
        .withColumn(
            "_nid",
            F.shiftleft(F.col("_q") + F.col("_o.dq") + F.lit(BIAS), 21)
            + (F.col("_r") + F.col("_o.dr") + F.lit(BIAS)),
        )
        .where(F.col("_nid").isNotNull())
    )
    neigh = counts.select(F.col("hex_id").alias("_nid"), F.col("n_docs").alias("_nn"))
    return (
        neigh.join(F.broadcast(exploded), neigh["_nid"].eqNullSafe(exploded["_nid"]))
        .groupBy("hex_id", "n_docs")
        .agg(F.sum("_nn").alias("n_docs_ring"))
    )
