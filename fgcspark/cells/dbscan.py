"""Grid DBSCAN: density-based spatial clustering on the FinBIF km grid.

The reference aggregates occurrences onto fixed km tiles
(inst/tinytest/laji-data.tsv YKJ "1km" ids); this operator takes the
next analytics step a web-scale corpus needs: find the CONTIGUOUS
dense regions of the grid — DBSCAN with the grid cell as the unit,
epsilon = one cell (Chebyshev / 8-neighborhood) and minPts as a
per-cell document count. This is the standard grid/cell-based DBSCAN
reformulation: a cell with >= min_pts documents is a *core* cell;
core cells that touch (including diagonally) belong to one cluster;
an occupied non-core cell touching a core cell is a *border* cell of
that cluster; everything else is noise (omitted from the output).

Determinism: classic DBSCAN leaves border-cell assignment dependent
on visit order when a border cell touches two clusters; here a border
cell joins the cluster with the MINIMUM label, and a cluster's label
is the minimum packed cell key of its core cells — fully
order-independent, so the result is oracle-comparable.

Scale shape (10^12 docs, ~10^6-10^8 occupied cells):
- one shuffle to aggregate docs -> cells (map-side combined count);
  every later stage touches only the per-cell table, which is orders
  of magnitude smaller than the input;
- neighbor edges are derived by exploding the 8 constant offsets and
  equi-joining on the packed 64-bit cell key (``cells/grid.py``
  cell_key layout) — NO quadratic distance join and no broadcast
  requirement; AQE may still choose broadcast when the core table is
  tiny;
- cluster labels via the frontier-based min-label propagation in
  ``fgcspark/cc.py`` (O(cluster diameter) rounds, per-round traffic
  bounded by the shrinking frontier).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fgcspark.cc import connected_components
from fgcspark.cells.grid import QUEEN_OFFSETS as _OFFSETS
from fgcspark.cells.grid import packed_from_buckets as _packed


def dbscan_cells(
    points: DataFrame,
    size_km: int = 50,
    min_pts: int | None = 30,
    min_frac: float | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """DBSCAN over grid cells. `points` must carry a ``cell_{size_km}km``
    column ('{nb}:{eb}' ids as produced by ``pipeline.pages_to_points``).

    Density threshold: either an absolute `min_pts`, or `min_frac` — a
    FRACTION of the total document count (threshold = floor(frac * N
    + 0.5), min 2: halves round up, as DuckDB's round() does in the
    oracle). The fractional form keeps the cluster structure
    scale-invariant when the same geography carries 10x the documents:
    an absolute threshold degenerates to "every occupied cell is core"
    as density grows, whose single giant component needs
    O(geography diameter) label-propagation rounds. The total comes
    from one sum over the (tiny) per-cell aggregate, not a second scan
    of the document table.

    Returns (cell, n_docs, role, cluster): role in ('core', 'border'),
    cluster = min packed key (nb << 20 | eb) among the cluster's core
    cells. Noise cells (occupied, not core, no core neighbor) are not
    returned."""
    cell_col = f"cell_{size_km}km"
    counts = points.groupBy(F.col(cell_col).alias("cell")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    if min_frac is not None:
        counts = counts.persist()
        total = counts.agg(F.sum("n_docs").alias("t")).collect()[0]["t"] or 0
        min_pts = max(2, math.floor(min_frac * total + 0.5))
    parts = counts.select(
        "cell",
        "n_docs",
        F.split("cell", ":")[0].cast("long").alias("_nb"),
        F.split("cell", ":")[1].cast("long").alias("_eb"),
    )
    core = parts.filter(F.col("n_docs") >= min_pts).withColumn(
        "_k", _packed(F.col("_nb"), F.col("_eb"))
    )
    # computed twice below (edges + borders); tiny table, pin it once
    core = core.persist()
    try:
        off_arr = F.array(
            *[
                F.struct(F.lit(dn).alias("dn"), F.lit(de).alias("de"))
                for dn, de in _OFFSETS
            ]
        )
        # candidate neighbor keys of each core cell -> equi-join back on
        # the core table: an edge exists iff the neighbor key is core too
        cand = core.select("_k", "_nb", "_eb").withColumn("_o", F.explode(off_arr))
        cand = cand.select(
            F.col("_k").alias("_ku"),
            _packed(F.col("_nb") + F.col("_o.dn"), F.col("_eb") + F.col("_o.de")).alias(
                "_kv"
            ),
        )
        edges = cand.join(core.select(F.col("_k").alias("_kv")), "_kv")
        comp = connected_components(
            core.select(F.col("_k").alias("id")),
            edges,
            id_col="id",
            src_col="_ku",
            dst_col="_kv",
            max_iter=max_iter,
        )
        core_lbl = core.join(comp, core["_k"] == comp["id"]).select(
            "cell", "n_docs", F.lit("core").alias("role"), F.col("cluster_id")
        )
        # border cells: occupied non-core cells adjacent to >= 1 core
        # cell; deterministic min-label assignment across clusters
        noncore = parts.filter(F.col("n_docs") < min_pts)
        ncand = noncore.withColumn("_o", F.explode(off_arr)).select(
            "cell",
            "n_docs",
            _packed(F.col("_nb") + F.col("_o.dn"), F.col("_eb") + F.col("_o.de")).alias(
                "_kv"
            ),
        )
        border_lbl = (
            ncand.join(
                comp.select(F.col("id").alias("_kv"), "cluster_id"), "_kv"
            )
            .groupBy("cell", "n_docs")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .select("cell", "n_docs", F.lit("border").alias("role"), "cluster_id")
        )
        out = core_lbl.unionByName(border_lbl).select(
            "cell", "n_docs", "role", F.col("cluster_id").cast("long").alias("cluster")
        )
        # materialize before releasing the pinned core table
        out = out.localCheckpoint()
    finally:
        core.unpersist()
        if min_frac is not None:
            counts.unpersist()
    return out
