"""Spatial-autocorrelation statistics over the km tile raster:
Getis-Ord Gi* hot-spot scores and global Moran's I.

The reference pipeline ends at tile counts (occurrences per FinBIF grid
cell, R/convert.R); the canonical next analytics step over such a
raster is "where is activity ANOMALOUSLY clustered" — Getis & Ord's
Gi* statistic (1992) per cell and Moran's I (1950) for the map as a
whole, both with the standard binary queen-contiguity weights (the
3x3 window on a square grid).

Determinism design: every spatial sum here is an aggregate of exact
64-bit integers (doc counts, neighbor counts, count products), so no
order-dependent floating-point accumulation exists anywhere; the only
float arithmetic is one closed-form scalar expression per output row
over those exact integers, which both engines evaluate identically up
to libm ulp and the 6-decimal rounding contract absorbs. This is the
entity_range stance extended to second-order statistics.

Scale shape (100 TB): one corpus-sized shuffle into the per-cell count
(map-side combined), then one neighbor aggregate over that occupied-cell
table (_neighborhoods): each cell's 3x3 offsets, self included, are
exploded onto the packed long key (the shared cells/grid.py primitives)
and grouped there, so the window sums arrive with no join back. Gi*
adds a broadcast 1-row aggregate of integer moments over the same
counts (the PageRank dangling-mass idiom); both consumers keep the same
aggregate functions, so their plans match and adaptive exchange reuse
serves the count from ONE corpus scan with no checkpoint. Moran's I is a
single aggregate over the neighbor table. No windows, no driver loops,
no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fgcspark.cells.grid import (
    QUEEN_OFFSETS,
    offsets_array_col,
    packed_from_id,
    packed_neighbor,
)


# the 3x3 window, self included: grouping every occupied cell's offsets
# on the displaced key gives each cell its own window (queen
# contiguity is symmetric)
WINDOW = QUEEN_OFFSETS + [(0, 0)]


def _moments(x) -> list:
    """n, sum(x), sum(x^2) over the occupied cells — exact integers."""
    return [
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(x * x).alias("__sxx"),
    ]


def _neighborhoods(counts: DataFrame) -> DataFrame:
    """(cell, n_docs, w, neighbor_sum) per occupied cell of the
    (cell, n_docs) counts: w occupied cells in its 3x3 window (itself
    included), neighbor_sum their summed counts. The statistical
    population is the set of occupied cells (empty cells are not zeros
    in the population, matching how the tile raster itself is stored
    sparse). The cell's own columns ride on its zero-offset term
    (the focal_density trick); a key that no occupied cell sits on has
    none and is dropped, and so is the NULL key (an off-grid
    displacement or a NULL cell id)."""
    own = (F.col("_o.dn") == 0) & (F.col("_o.de") == 0)
    key = packed_neighbor(packed_from_id(F.col("cell")), F.col("_o.dn"), F.col("_o.de"))
    return (
        counts.withColumn("_o", F.explode(offsets_array_col(WINDOW)))
        .groupBy(key.alias("_k"))
        .agg(
            F.max(F.when(own, F.col("cell"))).alias("cell"),
            F.max(F.when(own, F.col("n_docs"))).alias("n_docs"),
            F.count(F.lit(1)).alias("w"),
            F.sum("n_docs").alias("neighbor_sum"),
        )
        .where(F.col("cell").isNotNull())
        .select("cell", "n_docs", "w", "neighbor_sum")
    )


def getis_ord_oracle_sql(table_expr: str, cell_col: str = "cell_10km") -> str:
    """ANSI/DuckDB twin of getis_ord over a table carrying the cell-id
    column: same integer-exact aggregates, float ops in the engine's
    operator order verbatim. Owned here (next to the op, the
    cells/geohash precedent) so the contract oracle and the at-scale
    validator share one formulation."""
    return f"""
        WITH c AS MATERIALIZED (
            SELECT {cell_col} AS cell, count(*) AS x,
                   (CAST(string_split({cell_col}, ':')[1] AS BIGINT) << 20)
                   + CAST(string_split({cell_col}, ':')[2] AS BIGINT) AS k
            FROM {table_expr} GROUP BY 1
        ),
        offs(dn, de) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                                (1,-1),(1,0),(1,1)),
        hood AS (
            SELECT a.k AS ki, count(*) AS w,
                   CAST(sum(b.x) AS BIGINT) AS neighbor_sum
            FROM c a CROSS JOIN offs o
            JOIN c b ON b.k = a.k + (o.dn * (1 << 20)) + o.de
            GROUP BY 1
        ),
        g AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(x * x) AS BIGINT) AS sxx FROM c)
        SELECT a.cell, a.x AS n_docs, h.w, h.neighbor_sum,
               CASE WHEN n >= 2 AND h.w < n AND sxx * n > sx * sx THEN
                   round((h.neighbor_sum - (sx / n) * h.w)
                         / (sqrt(sxx / n - (sx / n) * (sx / n))
                            * sqrt((n * h.w - h.w * h.w) / (n - 1))), 6)
               END AS gi_star
        FROM c a JOIN hood h ON h.ki = a.k CROSS JOIN g
    """


def morans_i_oracle_sql(table_expr: str, cell_col: str = "cell_10km") -> str:
    """ANSI/DuckDB twin of morans_i (see getis_ord_oracle_sql)."""
    return f"""
        WITH c AS MATERIALIZED (
            SELECT {cell_col} AS cell, count(*) AS x,
                   (CAST(string_split({cell_col}, ':')[1] AS BIGINT) << 20)
                   + CAST(string_split({cell_col}, ':')[2] AS BIGINT) AS k
            FROM {table_expr} GROUP BY 1
        ),
        offs(dn, de) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
                                (1,-1),(1,0),(1,1)),
        pairs AS (
            SELECT count(*) AS w, CAST(sum(a.x * b.x) AS BIGINT) AS p,
                   CAST(sum(a.x) AS BIGINT) AS s2
            FROM c a CROSS JOIN offs o
            JOIN c b ON b.k = a.k + (o.dn * (1 << 20)) + o.de
        ),
        g AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(x * x) AS BIGINT) AS sxx FROM c)
        SELECT n AS n_cells, w AS w_pairs,
               round((n / w) * (p - 2.0 * (sx / n) * s2
                                + (sx / n) * (sx / n) * w)
                     / (sxx - n * (sx / n) * (sx / n)), 6) AS morans_i
        FROM pairs CROSS JOIN g
    """


def getis_ord(
    points: DataFrame,
    size_km: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Gi* hot-spot z-score per occupied cell (self-inclusive weights).

    With x_j the doc count of occupied cell j, n the number of occupied
    cells, W_i the number of occupied cells in i's 3x3 window
    (including i itself), and S_i their summed counts:

        mean = sum(x)/n ;  s = sqrt(sum(x^2)/n - mean^2)
        Gi*  = (S_i - mean*W_i) / (s * sqrt((n*W_i - W_i^2)/(n-1)))

    Positive scores mark hot spots (high values surrounded by high
    values), negative ones cold spots. Returns
    (cell, n_docs, w, neighbor_sum, gi_star) with gi_star rounded to
    `round_to` decimals in line with the engine-wide fp contract.

    Degenerate rasters have no defined z-score and yield gi_star NULL
    explicitly (matched CASE in getis_ord_oracle_sql): n < 2 occupied
    cells, a cell whose 3x3 window covers ALL occupied cells (w = n,
    the sqrt term is 0), or a constant raster (every occupied cell the
    same count, s = 0).
    """
    counts = points.groupBy(F.col(f"cell_{size_km}km").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    glob = counts.agg(*_moments(F.col("n_docs")))
    mean = F.col("__sx") / F.col("__n")
    s = F.sqrt(F.col("__sxx") / F.col("__n") - mean * mean)
    denom = s * F.sqrt(
        (F.col("__n") * F.col("w") - F.col("w") * F.col("w"))
        / (F.col("__n") - F.lit(1))
    )
    # explicit NULL on degenerate rasters (denom = 0): n < 2, w = n,
    # or constant counts (integer-exact s > 0 test: sxx * n > sx^2)
    defined = (
        (F.col("__n") >= 2)
        & (F.col("w") < F.col("__n"))
        & (F.col("__sxx") * F.col("__n") > F.col("__sx") * F.col("__sx"))
    )
    return (
        _neighborhoods(counts)
        .crossJoin(F.broadcast(glob))
        .select(
            "cell",
            "n_docs",
            "w",
            "neighbor_sum",
            F.when(
                defined,
                F.round(
                    (F.col("neighbor_sum") - mean * F.col("w")) / denom, round_to
                ),
            ).alias("gi_star"),
        )
    )


def morans_i(
    points: DataFrame,
    size_km: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Global Moran's I of the occupied-cell doc counts under binary
    queen weights (one output row).

    All spatial sums reduce to exact integer aggregates:

        W  = number of neighbor pairs (ordered)
        P  = sum over pairs of x_i * x_j
        S2 = sum_i deg_i * x_i          (deg_i = occupied neighbors)
        sum_pairs (x_i - m)(x_j - m) = P - 2*m*S2 + m^2*W

    so  I = (n / W) * (P - 2*m*S2 + m^2*W) / (sum x^2 - n*m^2),
    evaluated as ONE closed-form scalar over exact integers — no
    float accumulation order anywhere. Returns
    (n_cells, w_pairs, morans_i).
    """
    counts = points.groupBy(F.col(f"cell_{size_km}km").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    x, deg = F.col("n_docs"), F.col("w") - 1
    g = _neighborhoods(counts).agg(
        *_moments(x),
        F.coalesce(F.sum(deg), F.lit(0)).alias("__w"),  # 0 pairs, not NULL, when empty
        F.sum(x * (F.col("neighbor_sum") - x)).alias("__p"),
        F.sum(deg * x).alias("__s2"),
    )
    m = F.col("__sx") / F.col("__n")
    num = F.col("__p") - F.lit(2.0) * m * F.col("__s2") + m * m * F.col("__w")
    den = F.col("__sxx") - F.col("__n") * m * m
    return g.select(
        F.col("__n").alias("n_cells"),
        F.col("__w").alias("w_pairs"),
        F.round((F.col("__n") / F.col("__w")) * num / den, round_to).alias("morans_i"),
    )
