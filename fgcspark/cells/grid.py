"""FinBIF integer-km grids over ETRS-TM35FIN (and YKJ-style ids).

The reference's inputs carry precomputed grid-cell ids like
``"6693:3401"`` = km-northing:km-easting ("YKJ 1km, the center of the
observation area", reference inst/tinytest/laji-data.tsv:1-2). The
engine generalizes that scheme to 1/10/50/100 km tiles of EPSG:3067.

Cell id format: ``"{floor(N/size_m)}:{floor(E/size_m)}"`` — pure column
arithmetic, no shuffle, no UDF. At 100 TB this is the cheapest possible
tiling: two floors and a concat inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SIZES_KM = (1, 10, 50, 100)

# packed-long key layout shared by cell_key and the neighbor-join ops
# (dbscan, hotspots): (nb << KEY_SHIFT) | eb; 20 bits >> any
# terrestrial bucket count
KEY_SHIFT = 20

# queen contiguity on the square grid: the 8 surrounding cells
QUEEN_OFFSETS = [
    (dn, de) for dn in (-1, 0, 1) for de in (-1, 0, 1) if (dn, de) != (0, 0)
]


def packed_from_buckets(nb, eb) -> Column:
    """The packed long key of integer bucket columns (nb, eb).

    PRECONDITION: 0 <= eb < 2**KEY_SHIFT and nb >= 0 — true for any
    projected-meter grid over ETRS-TM35FIN (eastings 50..760 km) and
    every EPSG:3067 bucket size this engine emits. Callers with signed
    or >20-bit eastings must rebucket first; `packed_neighbor` guards
    the displaced key so a violation surfaces as NULL, not aliasing."""
    return nb * F.lit(1 << KEY_SHIFT) + eb


def packed_from_id(cell: Column) -> Column:
    """The packed long key of a '{nb}:{eb}' cell-id string."""
    return packed_from_buckets(
        F.split(cell, ":")[0].cast("long"), F.split(cell, ":")[1].cast("long")
    )


def packed_neighbor(key: Column, dn, de) -> Column:
    """The packed key displaced by (dn, de) grid steps.

    NULL when the displaced easting bucket leaves [0, 2**KEY_SHIFT):
    raw addition would alias eb=0, de=-1 to (nb-1, 2**20 - 1) and
    silently corrupt adjacency for grids that reach the easting edge
    (unreachable on TM35FIN, guarded for any other CRS). NULL keys
    never equi-join, which is exactly "no neighbor there"."""
    eb2 = key.bitwiseAND(F.lit((1 << KEY_SHIFT) - 1)) + de
    return F.when(
        (eb2 >= 0) & (eb2 < F.lit(1 << KEY_SHIFT)),
        key + dn * F.lit(1 << KEY_SHIFT) + de,
    )


def offsets_array_col(offsets=QUEEN_OFFSETS) -> Column:
    """The offset list as an array<struct<dn,de>> literal for explode."""
    return F.array(
        *[F.struct(F.lit(dn).alias("dn"), F.lit(de).alias("de")) for dn, de in offsets]
    )


def cell_id(easting: Column, northing: Column, size_km: int) -> Column:
    """String cell id '{kmN_bucket}:{kmE_bucket}' for a tile size."""
    size_m = size_km * 1000
    n_b = F.floor(northing / F.lit(size_m)).cast("long")
    e_b = F.floor(easting / F.lit(size_m)).cast("long")
    return F.concat_ws(":", n_b, e_b)


def cell_key(easting: Column, northing: Column, size_km: int) -> Column:
    """64-bit packed cell key (kmN_bucket << 20 | kmE_bucket) — the
    numeric twin of cell_id for shuffle keys (longs hash/compare faster
    than strings; 20 bits >> any terrestrial bucket count)."""
    size_m = size_km * 1000
    n_b = F.floor(northing / F.lit(size_m)).cast("long")
    e_b = F.floor(easting / F.lit(size_m)).cast("long")
    return F.shiftleft(n_b, 20) + e_b


def ring_counts(probes: DataFrame, counts: DataFrame, k: int = 2) -> DataFrame:
    """k-ring neighborhood aggregation: for each probe cell, the total
    count over every cell within Chebyshev distance k (the (2k+1)^2
    block centered on it) — the H3/S2 'disk' query on the FinBIF grid.

    `probes` is a SMALL (cell, n_docs) subset (hot cells, a viewport);
    `counts` is the full per-cell aggregate to sum neighbors from. The
    ring cells are derived by pure integer arithmetic (explode of a
    constant offset sequence, no UDF), then a broadcast of the exploded
    probe rows joins the aggregate. With `probes` derived from `counts`
    both branches plan the aggregate identically (a cell_id key is
    never NULL, so no isnotnull is inferred and pushed below one of
    them), and exchange reuse serves it from one scan of the base table.

    Returns (cell, n_docs, n_docs_ring)."""
    nb = F.split(F.col("cell"), ":")[0].cast("long")
    eb = F.split(F.col("cell"), ":")[1].cast("long")
    offs = F.sequence(F.lit(-k), F.lit(k))
    exploded = (
        probes.select("cell", "n_docs", nb.alias("_nb"), eb.alias("_eb"))
        .withColumn("_dn", F.explode(offs))
        .withColumn("_de", F.explode(offs))
        .withColumn(
            "_ncell",
            F.concat_ws(":", F.col("_nb") + F.col("_dn"), F.col("_eb") + F.col("_de")),
        )
    )
    neigh = counts.select(F.col("cell").alias("_ncell"), F.col("n_docs").alias("_nn"))
    return (
        neigh.join(F.broadcast(exploded), "_ncell")
        .groupBy("cell", "n_docs")
        .agg(F.sum("_nn").alias("n_docs_ring"))
    )
