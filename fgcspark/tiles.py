"""Raster <-> vector tile aggregation (north_rule).

A "raster" here is the dense per-parent-cell grid of child-cell
counts: for each 100 km FinBIF tile, the 10x10 array of its 10 km
sub-tile document counts in row-major order (index = (km_n % 10) * 10
+ (km_e % 10), matching the generator truth and the long-form
`raster_tiles_100km` query).

vector -> raster: one shuffle on the parent cell, then a dense-array
assembly inside the aggregation (sort sparse (idx, n) pairs, scatter
into a zero-filled array) — pure built-in expressions, no UDF.
raster -> vector: posexplode back to sparse long form, dropping
zeros. Round-tripping is lossless on non-empty cells (tested)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRID = 10  # 10x10 sub-cells per parent
N_SUB = GRID * GRID


def sub_idx_col(e, n, sub_km: int = 10):
    """Row-major index of the sub_km cell inside its (sub_km*GRID) parent."""
    s = sub_km * 1000
    return (
        F.pmod(F.floor(n / s), F.lit(GRID)) * GRID + F.pmod(F.floor(e / s), F.lit(GRID))
    ).cast("int")


def raster_assemble(points: DataFrame, parent_col: str = "cell_100km") -> DataFrame:
    """points (with e/n + parent cell) -> (cell, raster: array<bigint>[100]).

    The sparse (sub_idx, n) pairs of each parent are scattered into a
    dense zero-filled array with a single expression: for each slot i,
    take the count whose index matches, else 0. The scatter runs over
    the already-aggregated sparse pairs (<=100 per parent), so its cost
    is O(100^2) per parent cell — trivial next to the shuffle."""
    sparse = (
        points.groupBy(F.col(parent_col).alias("cell"), sub_idx_col(F.col("e"), F.col("n")).alias("i"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("cell")
        .agg(F.map_from_arrays(F.collect_list("i"), F.collect_list("cnt")).alias("m"))
    )
    # try_element_at: absent sub-cells are legitimately missing from the
    # sparse map (ANSI element_at would throw on them)
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(N_SUB - 1)),
        lambda i: F.coalesce(
            F.try_element_at(F.col("m"), i.cast("int")), F.lit(0)
        ).cast("long"),
    )
    return sparse.select("cell", dense.alias("raster"))


def tile_rollup(finest: DataFrame, base_km: int = 10, sizes=(10, 50, 100)) -> DataFrame:
    """Hierarchical multi-resolution rollup from ONE finest aggregate.

    ``finest`` is the (cell, n_docs) output of the base_km tile count —
    the engine's single shuffle over the page table. Every coarser
    resolution is derived from that aggregate by integer bucket
    arithmetic (floor(floor(x/a)/k) == floor(x/(a*k)) for k = size/base),
    so a 100 TB input is scanned and shuffled exactly once; the 50/100 km
    re-aggregations run over the ~10^4-row 10 km aggregate. This is the
    rollup shape a hypertable/continuous-aggregate engine uses, applied
    to the reference's 1/10/50/100 km grid scheme (SURVEY.md §1.2).

    Returns long form (res_km int, cell string, n_docs long).
    """
    for s in sizes:
        if s % base_km:
            raise ValueError(f"{s} km not a multiple of base {base_km} km")
    nb = F.split(F.col("cell"), ":")[0].cast("long")
    eb = F.split(F.col("cell"), ":")[1].cast("long")
    out = None
    for s in sizes:
        if s == base_km:
            lvl = finest.select(
                F.lit(s).cast("int").alias("res_km"), "cell", "n_docs"
            )
        else:
            k = s // base_km
            lvl = (
                finest.groupBy(
                    F.concat_ws(
                        ":", F.floor(nb / k).cast("long"), F.floor(eb / k).cast("long")
                    ).alias("cell")
                )
                .agg(F.sum("n_docs").alias("n_docs"))
                .select(F.lit(s).cast("int").alias("res_km"), "cell", "n_docs")
            )
        out = lvl if out is None else out.unionByName(lvl)
    return out


def raster_to_vector(raster: DataFrame) -> DataFrame:
    """(cell, raster[100]) -> sparse long form (cell, sub_idx, n_docs),
    zero slots dropped — the exact inverse of raster_assemble over the
    same points (posexplode keeps this a narrow, shuffle-free op)."""
    return (
        raster.select("cell", F.posexplode("raster").alias("sub_idx", "n_docs"))
        .where(F.col("n_docs") > 0)
        .select("cell", F.col("sub_idx").cast("int"), "n_docs")
    )


# ---------------------------------------------------------------------------
# Focal (kernel) density: separable integer binomial blur over the grid

BINOMIAL = (1, 4, 6, 4, 1)  # Pascal row 4 — the classic integer Gaussian


def focal_density(counts: DataFrame, weights=BINOMIAL) -> DataFrame:
    """Kernel-density surface over the tile raster: for every occupied
    cell, the binomially-weighted sum of document counts in its
    (2k+1)x(2k+1) neighborhood (k = len(weights)//2), i.e. a discrete
    Gaussian heat-map — the standard "focal statistics" raster op.

    The 2-D kernel is the outer product of the 1-D `weights`, so the
    convolution is SEPARABLE: one pass along the easting axis, one
    along the northing axis — 2*(2k+1) neighbor terms per cell instead
    of (2k+1)^2. Each pass is an explode of the constant offset/weight
    list + a map-side-combinable groupBy on the shifted cell key: two
    small shuffles over the per-cell aggregate (already orders of
    magnitude smaller than the doc table), never over the documents.
    Each occupied cell's own `cell`/`n_docs` ride through both passes
    on its zero-offset term, so `counts` is read once with no join
    back. A join back would re-run its whole plan: exchange reuse (which
    does work across the point UDF) needs both branches to plan
    `counts` identically, and a consumer that prunes the aggregate
    differently, or a join that pushes an inferred isnotnull below
    it, breaks the match. Integer weights keep both
    passes in exact long arithmetic, so the result is bit-identical to
    the direct 2-D sum regardless of association order.

    `counts`: (cell, n_docs) as produced by `pipeline.tile_counts`.
    Returns (cell, n_docs, wsum, density) for the occupied cells only;
    density = wsum / kernel_total (exact: the binomial total 256 is a
    power of two)."""
    k = len(weights) // 2
    offs = F.array(
        *[
            F.struct(F.lit(d - k).alias("d"), F.lit(int(w)).alias("w"))
            for d, w in enumerate(weights)
        ]
    )
    nb = F.split(F.col("cell"), ":")[0].cast("long")
    eb = F.split(F.col("cell"), ":")[1].cast("long")
    base = counts.select("cell", "n_docs", nb.alias("_nb"), eb.alias("_eb"))
    # the source cell's own columns, non-null only on its zero offset
    own = [
        F.max(F.when(F.col("_o.d") == 0, F.col(c))).alias(c) for c in ("cell", "n_docs")
    ]

    # pass 1: blur along easting — contribution of each cell lands on
    # the shifted key, summed map-side before the shuffle
    p1 = (
        base.withColumn("_o", F.explode(offs))
        .groupBy(F.col("_nb"), (F.col("_eb") + F.col("_o.d")).alias("_eb"))
        .agg(F.sum(F.col("n_docs") * F.col("_o.w")).alias("_s1"), *own)
    )
    # pass 2: blur along northing over the pass-1 surface
    p2 = (
        p1.withColumn("_o", F.explode(offs))
        .groupBy((F.col("_nb") + F.col("_o.d")).alias("_nb"), F.col("_eb"))
        .agg(F.sum(F.col("_s1") * F.col("_o.w")).alias("wsum"), *own)
    )
    total = int(sum(weights)) ** 2
    # a key is an occupied cell iff its zero-offset term carried one
    return p2.where(F.col("n_docs").isNotNull()).select(
        "cell",
        "n_docs",
        F.col("wsum").cast("long").alias("wsum"),
        (F.col("wsum") / F.lit(total)).alias("density"),
    )
