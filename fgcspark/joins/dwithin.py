"""Distance-within join (ST_DWithin semantics) via broadcast cell cover.

For a small probe set against a huge page table: every (probe, page)
pair whose planar EPSG:3067 distance is <= radius_m. The reference has
no distance join, but its grid scheme (SURVEY.md §1.2) gives the
standard scale shape for one: cover each probe's disc with grid cells,
broadcast the (cell -> probe) cover, equi-join the page table on its
own cell id (zero page-side shuffle, prunes to the disc's neighborhood)
and keep pairs passing the exact squared-distance test.

Cell cover: all cells whose CLOSED square is within radius_m of the
probe (min-distance corner test) — a superset of the disc, so the exact
filter sees every qualifying page. The cover for radius R with cell
size s is O((R/s + 2)^2) cells per probe; with the default 10 km cells
and a 25 km radius that is ~30 cells/probe, so 200 probes broadcast
~6k rows. At 100 TB the page side stays a single broadcast-hash join
inside whole-stage codegen; only matching cells' rows reach the filter.

The distance test compares SQUARED doubles ((e-pe)^2 + (n-pn)^2 <= R^2)
— the same formula the generator's brute-force golden uses, so the
boundary decision is bit-identical.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fgcspark.crs import tm35fin as tm

_MAX_PROBES = 100_000  # probes are driver-resident by contract (cf. joins/knn.py)


def _cover_cells(pe: float, pn: float, radius_m: float, s: float):
    """Grid cells (cell_n, cell_e) whose closed square intersects the
    disc of radius_m around (pe, pn)."""
    lo_n = int(np.floor((pn - radius_m) / s))
    hi_n = int(np.floor((pn + radius_m) / s))
    lo_e = int(np.floor((pe - radius_m) / s))
    hi_e = int(np.floor((pe + radius_m) / s))
    out = []
    r2 = radius_m * radius_m
    for cn in range(lo_n, hi_n + 1):
        # min distance from the probe to the cell square, per axis
        dn = max(cn * s - pn, 0.0, pn - (cn + 1) * s)
        for ce in range(lo_e, hi_e + 1):
            de = max(ce * s - pe, 0.0, pe - (ce + 1) * s)
            if de * de + dn * dn <= r2:
                out.append((cn, ce))
    return out


def _cover_offsets(radius_m: float, s: float) -> list[tuple[int, int]]:
    """Probe-independent cell-offset superset: all (dn, de) such that a
    cell at that offset can contain a point within radius_m of SOME
    position in the probe's own cell. Min gap between the two closed
    squares is max(0, |d|-1)*s per axis, so the test is
    hypot(max(0,|dn|-1), max(0,|de|-1)) * s <= radius_m. The exact
    metric filter downstream removes the slack, so the join output is
    identical to the per-probe tight cover."""
    r = int(np.ceil(radius_m / s)) + 1
    out = []
    for dn in range(-r, r + 1):
        gn = max(0, abs(dn) - 1) * s
        for de in range(-r, r + 1):
            ge = max(0, abs(de) - 1) * s
            if gn * gn + ge * ge <= radius_m * radius_m:
                out.append((dn, de))
    return out


def dwithin_join_partitioned(
    spark: SparkSession,
    points: DataFrame,
    probes: DataFrame,
    radius_m: float,
    cell_km: int = 10,
    key_col: str = "url",
) -> DataFrame:
    """Exact distance-within join with an UNBOUNDED probe side — the
    distributed twin of dwithin_join (same output, cf. the kNN pair).

    Probes stay a DataFrame: projected to the plane by the page side's
    own UDF (knn.project_probes), fanned out to candidate cells by a
    crossJoin with the broadcast OFFSET table above
    (O((R/s)^2) rows, probe-count-independent), then a shuffle
    equi-join on the cell id against the page projection and the same
    exact squared-distance filter. Nothing is collected; both sides
    shuffle once on the cell key, and skewed cells split naturally
    because each probe-cell pair is its own join row."""
    from fgcspark.joins.knn import project_probes

    s = float(cell_km * 1000)
    offs = spark.createDataFrame(
        _cover_offsets(float(radius_m), s), schema="dn long, de long"
    )
    cells = project_probes(probes, s).crossJoin(F.broadcast(offs)).select(
        "probe_id",
        "pe",
        "pn",
        (F.col("pcell_n") + F.col("dn")).alias("cell_n"),
        (F.col("pcell_e") + F.col("de")).alias("cell_e"),
    )
    pts = points.select(
        key_col,
        "e",
        "n",
        F.floor(F.col("n") / s).cast("long").alias("cell_n"),
        F.floor(F.col("e") / s).cast("long").alias("cell_e"),
    )
    d2 = (F.col("e") - F.col("pe")) ** 2 + (F.col("n") - F.col("pn")) ** 2
    return (
        pts.join(cells, ["cell_n", "cell_e"])
        .where(d2 <= F.lit(float(radius_m) * float(radius_m)))
        .select("probe_id", key_col)
    )


def dwithin_join(
    spark: SparkSession,
    points: DataFrame,
    probes: DataFrame,
    radius_m: float,
    cell_km: int = 10,
    key_col: str = "url",
) -> DataFrame:
    """Exact distance-within join: (probe_id, url) pairs with
    dist(probe, page) <= radius_m in the EPSG:3067 plane.

    `points` needs `e`/`n` (metric) columns; `probes` needs
    (probe_id, lon, lat). Precondition: the probe set is SMALL
    (driver-resident, broadcast); the page side is unbounded."""
    s = float(cell_km * 1000)
    prows = probes.select("probe_id", "lon", "lat").limit(_MAX_PROBES + 1).collect()
    assert len(prows) <= _MAX_PROBES, (
        f"dwithin_join holds probes on the driver; got >{_MAX_PROBES} rows"
    )
    pid = np.array([r["probe_id"] for r in prows], dtype=np.int64)
    pe, pn = tm.geodetic_to_tm35(
        np.array([r["lon"] for r in prows]), np.array([r["lat"] for r in prows])
    )
    cover = [
        (int(pid[i]), float(pe[i]), float(pn[i]), cn, ce)
        for i in range(len(pid))
        for cn, ce in _cover_cells(float(pe[i]), float(pn[i]), float(radius_m), s)
    ]
    cdf = spark.createDataFrame(
        cover, schema="probe_id long, pe double, pn double, cell_n long, cell_e long"
    )
    pts = points.select(
        key_col,
        "e",
        "n",
        F.floor(F.col("n") / s).cast("long").alias("cell_n"),
        F.floor(F.col("e") / s).cast("long").alias("cell_e"),
    )
    d2 = (F.col("e") - F.col("pe")) ** 2 + (F.col("n") - F.col("pn")) ** 2
    return (
        pts.join(F.broadcast(cdf), ["cell_n", "cell_e"])
        .where(d2 <= F.lit(float(radius_m) * float(radius_m)))
        .select("probe_id", key_col)
    )
