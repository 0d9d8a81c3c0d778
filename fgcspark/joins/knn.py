"""kNN join via cell-ring expansion (BASELINE.json north_rule).

For a small probe set against a huge page table: iterative equi-join
on grid cells, expanding the Chebyshev cell ring per probe until its
k-th best distance is certified (no unscanned cell can hold a closer
point). Certification bound: cells at Chebyshev distance >= r+1 from
the probe's cell are entirely at Euclidean distance >= r*s from any
point inside the probe's cell (s = cell size), so once
kth_dist <= r_scanned * s the result is exact (SURVEY.md §7.3 #4).

Physical shape (reworked per round-1 verdict #7):
- the (key, e, n, cell) projection of the page table is persisted
  ONCE; every ring join probes the cached columnar blocks, not the
  source scan (on a real cluster, pages bucketed by cell id make the
  same join a partition-pruned read);
- ring radii are batched geometrically ([0,1], [2,3], [4,7], ...) so
  the loop runs O(log r_max) iterations instead of one per ring;
- the per-probe best-k lives in a cached DataFrame that is re-ranked
  against each batch's candidates; the driver collects only ONE row
  per active probe per iteration (probe_id, n_found, kth_dist) to
  decide certification — never the candidate rows themselves;
- the result is the state DataFrame, localCheckpoint-materialized on
  the executors so the per-round caches can be released — it stays
  distributed; result rows never pass through the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import window as W
from pyspark.storagelevel import StorageLevel

from fgcspark.crs import tm35fin as tm
from fgcspark.pipeline import point_en

DEFAULT_CELL_KM = 50
# the probe set is driver-resident by contract (collected + broadcast
# per ring batch); cap it explicitly so a misuse fails loudly instead
# of OOMing the driver
_MAX_PROBES = 100_000


def project_probes(probes: DataFrame, s: float) -> DataFrame:
    """(probe_id, pe, pn, pcell_n, pcell_e): each (probe_id, lon, lat)
    probe in EPSG:3067 and its cell of side `s` metres. The projection
    is pipeline.point_en, the page side's own UDF; probes carry no
    footprint, so it only projects them. Distances stay bit-identical
    to the brute-force golden."""
    en = point_en("lon", "lat", F.lit(None).cast("string"))
    return probes.select("probe_id", en.alias("_p")).select(
        "probe_id",
        F.col("_p.e").alias("pe"),
        F.col("_p.n").alias("pn"),
        F.floor(F.col("_p.n") / s).cast("long").alias("pcell_n"),
        F.floor(F.col("_p.e") / s).cast("long").alias("pcell_e"),
    )


def _ring_offsets(r_lo: int, r_hi: int) -> list[tuple[int, int]]:
    """All (dn, de) offsets with Chebyshev distance in [r_lo, r_hi]."""
    out = []
    for dn in range(-r_hi, r_hi + 1):
        for de in range(-r_hi, r_hi + 1):
            if max(abs(dn), abs(de)) >= r_lo:
                out.append((dn, de))
    return out


def knn_join_partitioned(
    spark: SparkSession,
    points: DataFrame,
    probes: DataFrame,
    k: int = 5,
    cell_km: int = DEFAULT_CELL_KM,
    key_col: str = "url",
    max_rings: int = 64,
) -> DataFrame:
    """Exact kNN with an UNBOUNDED probe side: (probe_id, url, dist),
    k rows per probe — no probe collect, no per-probe broadcast, no
    candidate row ever through the driver.

    The distributed twin of knn_join, for probe sets that scale with
    the data. Same certification bound and tie rules, different
    physical shape:

    - probes are projected to EPSG:3067 by the page side's own UDF
      (project_probes), so distances are bit-identical to knn_join
      and the brute-force golden;
    - each round, the ACTIVE probe frontier cross-joins a broadcast
      ring-offset table (O((2r+1)^2) rows, probe-count-independent)
      to enumerate its candidate cells, then equi-joins the page
      projection on the cell id. The page projection is repartitioned
      by cell once and persisted, so every round reuses its hash
      partitioning instead of re-shuffling the big side;
    - the per-probe running top-k is re-ranked distributively
      (row_number over (probe, dist) -> WindowGroupLimit partial);
      certification is a distributed semi/anti-join split on the
      per-probe (count, kth-dist) aggregate. The only driver values
      are one COUNT per round for loop control;
    - certified probes' rows are frozen via localCheckpoint per round
      (lineage truncation, caches released), active rows carry forward.

    Rounds are geometric in ring radius, so the loop runs
    O(log max_rings) times regardless of data size.
    """
    s = float(cell_km * 1000)
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pts = (
        points.select(
            key_col,
            "e",
            "n",
            F.floor(F.col("n") / s).cast("long").alias("cell_n"),
            F.floor(F.col("e") / s).cast("long").alias("cell_e"),
        )
        .repartition(nshuf, "cell_n", "cell_e")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    active = project_probes(probes, s).persist(StorageLevel.MEMORY_AND_DISK)

    win = W.Window.partitionBy("probe_id").orderBy("dist", key_col)
    state: DataFrame | None = None  # running top-k of ACTIVE probes
    done: list[DataFrame] = []  # frozen top-k of certified probes
    hold: list[DataFrame] = [pts, active]
    r_lo, r_hi = 0, 1
    try:
        while r_lo <= max_rings:
            r_cap = min(r_hi, max_rings)
            offs = spark.createDataFrame(
                _ring_offsets(r_lo, r_cap), schema="dn long, de long"
            )
            cells = active.crossJoin(F.broadcast(offs)).select(
                "probe_id",
                "pe",
                "pn",
                (F.col("pcell_n") + F.col("dn")).alias("cell_n"),
                (F.col("pcell_e") + F.col("de")).alias("cell_e"),
            )
            cand = pts.join(cells, ["cell_n", "cell_e"]).select(
                "probe_id",
                key_col,
                F.sqrt(
                    (F.col("e") - F.col("pe")) ** 2 + (F.col("n") - F.col("pn")) ** 2
                ).alias("dist"),
            )
            merged = cand if state is None else state.unionByName(cand)
            topk = (
                merged.withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") <= k)
                .drop("_rn")
            )
            cert = (
                topk.groupBy("probe_id")
                .agg(F.count(F.lit(1)).alias("_n"), F.max("dist").alias("_kth"))
                .where((F.col("_n") >= k) & (F.col("_kth") <= F.lit(r_cap * s)))
                .select("probe_id")
            )
            # freeze certified rows on the executors; carry the rest
            done.append(
                topk.join(cert, "probe_id", "left_semi").localCheckpoint(eager=True)
            )
            state = topk.join(cert, "probe_id", "left_anti").localCheckpoint(
                eager=True
            )
            nxt = active.join(cert, "probe_id", "left_anti").persist(
                StorageLevel.MEMORY_AND_DISK
            )
            hold.append(nxt)
            n_active = nxt.count()  # loop control: ONE scalar per round
            active = nxt
            if n_active == 0:
                break
            r_lo, r_hi = r_hi + 1, r_hi * 2
        else:  # pragma: no cover - max_rings exhausted
            raise RuntimeError("kNN ring expansion did not certify all probes")
        out = done[0]
        for piece in done[1:]:
            out = out.unionByName(piece)
        return out.select("probe_id", key_col, "dist")
    finally:
        for df in hold:
            df.unpersist()


def _ring_cells(cn: int, ce: int, r_lo: int, r_hi: int) -> list[tuple[int, int]]:
    """All cells with Chebyshev distance in [r_lo, r_hi] from (cn, ce)."""
    out = []
    for r in range(r_lo, r_hi + 1):
        if r == 0:
            out.append((cn, ce))
            continue
        for d in range(-r, r + 1):
            out.append((cn - r, ce + d))
            out.append((cn + r, ce + d))
        for d in range(-r + 1, r):
            out.append((cn + d, ce - r))
            out.append((cn + d, ce + r))
    return out


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    probes: DataFrame,
    k: int = 5,
    cell_km: int = DEFAULT_CELL_KM,
    key_col: str = "url",
    max_rings: int = 64,
) -> DataFrame:
    """Exact kNN: (probe_id, url, dist) — k rows per probe.

    `points` needs `e`/`n` (EPSG:3067); `probes` needs
    (probe_id, lon, lat).

    Precondition: the probe set is SMALL (driver-resident — it is
    collected up front and each ring batch is broadcast). The page
    side is unbounded; the probe side is not."""
    s = float(cell_km * 1000)
    prows = probes.select("probe_id", "lon", "lat").limit(_MAX_PROBES + 1).collect()
    assert len(prows) <= _MAX_PROBES, (
        f"knn_join holds probes on the driver; got >{_MAX_PROBES} rows — "
        "for probe sets that scale with the data use knn_join_partitioned"
    )
    pid = np.array([r["probe_id"] for r in prows], dtype=np.int64)
    pe, pn = tm.geodetic_to_tm35(
        np.array([r["lon"] for r in prows]), np.array([r["lat"] for r in prows])
    )
    pcell = np.stack([np.floor(pn / s), np.floor(pe / s)], axis=1).astype(np.int64)

    pts = points.select(
        key_col,
        "e",
        "n",
        F.floor(F.col("n") / s).cast("long").alias("cell_n"),
        F.floor(F.col("e") / s).cast("long").alias("cell_e"),
    )

    win = W.Window.partitionBy("probe_id").orderBy("dist", key_col)
    active = np.ones(len(pid), dtype=bool)
    state: DataFrame | None = None
    to_unpersist: list[DataFrame] = []
    pts_cached = False
    r_lo, r_hi = 0, 1
    try:
        while active.any() and r_lo <= max_rings:
            if state is not None and not pts_cached:
                # dense inputs certify on the first ring batch and
                # never re-scan; pay the cache materialization only
                # when a second pass is actually needed
                pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
                pts_cached = True
            cells = []
            for i in np.nonzero(active)[0]:
                cn, ce = pcell[i]
                for c in _ring_cells(int(cn), int(ce), r_lo, min(r_hi, max_rings)):
                    cells.append((int(pid[i]), float(pe[i]), float(pn[i]), c[0], c[1]))
            cdf = spark.createDataFrame(
                cells,
                schema="probe_id long, pe double, pn double, cell_n long, cell_e long",
            )
            cand = pts.join(F.broadcast(cdf), ["cell_n", "cell_e"]).select(
                "probe_id",
                key_col,
                F.sqrt(
                    (F.col("e") - F.col("pe")) ** 2 + (F.col("n") - F.col("pn")) ** 2
                ).alias("dist"),
            )
            merged = cand if state is None else state.unionByName(cand)
            state = (
                merged.withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") <= k)
                .drop("_rn")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            # loop-control collect: ONE row per probe, never candidates
            cert = {
                int(row["probe_id"]): (int(row["n"]), float(row["kth"]))
                for row in state.groupBy("probe_id")
                .agg(F.count(F.lit(1)).alias("n"), F.max("dist").alias("kth"))
                .collect()
            }
            for i in np.nonzero(active)[0]:
                n_found, kth = cert.get(int(pid[i]), (0, np.inf))
                if n_found >= k and kth <= min(r_hi, max_rings) * s:
                    active[i] = False
            to_unpersist.append(state)
            r_lo, r_hi = r_hi + 1, r_hi * 2
        if active.any():  # pragma: no cover - max_rings exhausted
            raise RuntimeError("kNN ring expansion did not certify all probes")
        # materialize the final top-k ON THE EXECUTORS and truncate the
        # iterative lineage so the per-round caches can be released; no
        # result row ever round-trips through the driver
        out = state.select("probe_id", key_col, "dist").localCheckpoint(eager=True)
    finally:
        for df in to_unpersist:
            df.unpersist()
        if pts_cached:
            pts.unpersist()
    return out
