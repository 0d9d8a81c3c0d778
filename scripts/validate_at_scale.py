#!/usr/bin/env python
"""At-scale exactness validation (committed; BENCH/BASELINE.md cites it).

Re-runs the engine's headline spatial results at a chosen synthetic
scale and diffs them against independently-computed truths:

  text   byte-identical extracted text per url vs the generator's
         forward-computed truth column (input_hint invariant).
  tiles  every tile assignment (1/10/100 km) vs the truth table's
         cells (generator computes them from the placed coordinates,
         before rendering html — fully independent of the engine).
  pip    the broadcast PIP join vs a BRUTE-FORCE oracle: every
         surviving point tested against every polygon with the
         generator's ray-cast (synth/pages._ray_cast — a per-edge
         Python loop, not the engine's batched crossing kernel), no
         cell prefilter, distributed via mapInPandas.
  knn    knn_join (certified ring expansion) vs an exact oracle:
         per-partition distance to ALL probes with a tie-safe
         threshold cut, then a global (dist, url) top-k window.

Ring parsing/projection for the pip oracle reuses the engine's
parse_wkt + TM35FIN forward (both have their own independent oracles:
reference WKT goldens, mpmath exact-TM in tests/test_crs_exact_oracle)
— the CONTAINMENT decision, the part this check certifies, is
independent code.

Usage:
  python scripts/validate_at_scale.py                  # sf1, all checks
  python scripts/validate_at_scale.py --scale sf16 --checks pip,knn
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import Window as W  # noqa: E402


def check_text(spark, d: str) -> dict:
    from fgcspark.extract import with_extracted
    from fgcspark.pipeline import load_pages

    eng = with_extracted(load_pages(spark, d)).select("url", "extracted_text")
    truth = spark.read.parquet(f"{d}/truth.parquet").select("url", "text")
    j = eng.join(truth, "url", "full")
    agg = j.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            (~F.col("extracted_text").eqNullSafe(F.col("text"))).cast("long")
        ).alias("mismatch"),
    ).collect()[0]
    return {"rows": agg["rows"], "mismatch": agg["mismatch"]}


def check_tiles(spark, d: str) -> dict:
    from fgcspark.pipeline import pages_to_points

    sizes = (1, 10, 100)
    eng = pages_to_points(spark, d).select(
        "url", *[f"cell_{s}km" for s in sizes]
    )
    truth = spark.read.parquet(f"{d}/truth.parquet").select(
        "url", *[F.col(f"cell_{s}km").alias(f"t_{s}") for s in sizes]
    )
    bad = F.lit(False)
    for s in sizes:
        bad = bad | ~F.col(f"cell_{s}km").eqNullSafe(F.col(f"t_{s}"))
    agg = (
        eng.join(truth, "url", "full")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(bad.cast("long")).alias("mismatch"),
        )
        .collect()[0]
    )
    return {"rows": agg["rows"], "mismatch": agg["mismatch"]}


def check_pip(spark, d: str) -> dict:
    from fgcspark.joins.pip import build_polygon_index, pip_join
    from fgcspark.pipeline import pages_to_points

    pts = pages_to_points(spark, d).select("url", "e", "n").where(
        "e is not null and n is not null"
    )
    polys = spark.read.parquet(f"{d}/polygons.parquet")
    eng = pip_join(spark, pts, polys).select("url", "poly_id")

    idx = build_polygon_index(spark, polys)  # parse+project only; no cover used
    payload = [
        (int(p), rs, tuple(map(float, bb)))
        for p, rs, bb in zip(idx.poly_ids, idx.rings, idx.bboxes)
    ]
    bc = spark.sparkContext.broadcast(payload)

    def oracle(batches):
        from fgcspark.synth.pages import _ray_cast

        for pdf in batches:
            px = pdf["e"].to_numpy()
            py = pdf["n"].to_numpy()
            urls = pdf["url"].to_numpy()
            for pid, rings, (x0, y0, x1, y1) in bc.value:
                m = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
                if not m.any():
                    continue
                ins = np.zeros(int(m.sum()), dtype=bool)
                for ring in rings:
                    ins ^= _ray_cast(px[m], py[m], ring)
                if ins.any():
                    yield pd.DataFrame(
                        {"url": urls[m][ins], "poly_id": np.int64(pid)}
                    )

    gold = pts.mapInPandas(oracle, schema="url string, poly_id long")
    j = eng.withColumn("l", F.lit(1)).join(
        gold.withColumn("r", F.lit(1)), ["url", "poly_id"], "full"
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l").isNull().cast("long")).alias("missing"),
        F.sum(F.col("r").isNull().cast("long")).alias("extra"),
    ).collect()[0]
    return {
        "rows": agg["rows"],
        "mismatch": agg["missing"] + agg["extra"],
        "missing": agg["missing"],
        "extra": agg["extra"],
    }


def check_fp(spark, d: str) -> dict:
    """Footprint x layer intersects join vs a distributed brute-force
    oracle: per-row geometry (same substitution rule) tested against
    EVERY bbox-overlapping polygon with the GENERATOR's parametric
    segment test + per-edge-loop ray cast (synth/pages._fp_intersects)
    — no cell cover, no reporting-cell logic, independent decision
    code from the engine's orientation-straddle kernel."""
    from fgcspark.extract import with_extracted
    from fgcspark.joins.fpjoin import _flatten_parts, footprint_join
    from fgcspark.joins.pip import build_polygon_index
    from fgcspark.pipeline import load_pages

    pages = with_extracted(load_pages(spark, d)).select(
        "url", "footprint", "lon", "lat"
    )
    polys = spark.read.parquet(f"{d}/polygons.parquet")
    eng = footprint_join(spark, pages, polys).select("url", "poly_id")

    idx = build_polygon_index(spark, polys)
    payload = []
    for pid, rings, bb in zip(idx.poly_ids, idx.rings, idx.bboxes):
        segs = np.concatenate(
            [np.concatenate([r, np.roll(r, -1, axis=0)], axis=1) for r in rings]
        )
        payload.append(
            (int(pid), rings, segs, np.vstack(rings), tuple(map(float, bb)))
        )
    bc = spark.sparkContext.broadcast(payload)

    def oracle(batches):
        from fgcspark.crs.tm35fin import geodetic_to_tm35
        from fgcspark.geom.kernels import transform_coords
        from fgcspark.geom.wkt import parse_wkt
        from fgcspark.synth.pages import _fp_intersects

        for pdf in batches:
            for url, w, lon, lat in zip(
                pdf["url"], pdf["footprint"], pdf["lon"], pdf["lat"]
            ):
                substitute = w is None or w.startswith("POINT") or "EMPTY" in w
                if substitute and pd.notna(lon) and pd.notna(lat):
                    from fgcspark.geom.wkt import Geom

                    g = Geom("POINT", np.array([float(lon), float(lat)]))
                elif w is None:
                    continue
                else:
                    g = parse_wkt(w)
                parts: list = []
                # per-geometry projection: the engine's probe batches it
                _flatten_parts(transform_coords(g, geodetic_to_tm35), parts)
                if not parts:
                    continue
                # normalize poly parts: generator's twin wants the ring
                # array, engine's carries a ring LIST
                norm = []
                arrs = []
                for kind, a in parts:
                    if kind == "poly":
                        for ring in a:
                            norm.append(("poly", ring))
                            arrs.append(ring)
                    else:
                        norm.append((kind, a))
                        arrs.append(a)
                allv = np.concatenate(arrs)
                bx0, by0 = allv[:, 0].min(), allv[:, 1].min()
                bx1, by1 = allv[:, 0].max(), allv[:, 1].max()
                hits = []
                for pid, rings, segs, verts, (x0, y0, x1, y1) in bc.value:
                    if bx1 < x0 or bx0 > x1 or by1 < y0 or by0 > y1:
                        continue
                    if _fp_intersects(norm, rings, segs, verts):
                        hits.append(pid)
                if hits:
                    yield pd.DataFrame(
                        {"url": url, "poly_id": np.array(hits, np.int64)}
                    )

    gold = pages.mapInPandas(oracle, schema="url string, poly_id long")
    j = eng.withColumn("l", F.lit(1)).join(
        gold.withColumn("r", F.lit(1)), ["url", "poly_id"], "full"
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l").isNull().cast("long")).alias("missing"),
        F.sum(F.col("r").isNull().cast("long")).alias("extra"),
    ).collect()[0]
    return {
        "rows": agg["rows"],
        "mismatch": agg["missing"] + agg["extra"],
        "missing": agg["missing"],
        "extra": agg["extra"],
    }


def check_knn(spark, d: str, k: int = 5) -> dict:
    from fgcspark.crs import tm35fin as tm
    from fgcspark.joins.knn import knn_join
    from fgcspark.pipeline import pages_to_points

    pts = pages_to_points(spark, d).select("url", "e", "n").where(
        "e is not null and n is not null"
    )
    probes = spark.read.parquet(f"{d}/probes.parquet")
    eng = knn_join(spark, pts, probes, k=k).select("probe_id", "url")

    prows = probes.select("probe_id", "lon", "lat").collect()
    pid = np.array([r["probe_id"] for r in prows], dtype=np.int64)
    pe, pn = tm.geodetic_to_tm35(
        np.array([r["lon"] for r in prows]), np.array([r["lat"] for r in prows])
    )
    bc = spark.sparkContext.broadcast((pid, pe, pn))

    def partial_topk(batches):
        qid, qe, qn = bc.value
        for pdf in batches:
            e = pdf["e"].to_numpy()
            n = pdf["n"].to_numpy()
            urls = pdf["url"].to_numpy()
            if not len(e):
                continue
            for j in range(len(qid)):
                dist = np.hypot(e - qe[j], n - qn[j])
                if len(dist) > k:
                    thr = np.partition(dist, k - 1)[k - 1]
                    sel = dist <= thr  # tie-safe: keeps every candidate
                else:
                    sel = np.ones(len(dist), dtype=bool)
                yield pd.DataFrame(
                    {
                        "probe_id": np.int64(qid[j]),
                        "url": urls[sel],
                        "dist": dist[sel],
                    }
                )

    cand = pts.mapInPandas(
        partial_topk, schema="probe_id long, url string, dist double"
    )
    win = W.partitionBy("probe_id").orderBy("dist", "url")
    gold = (
        cand.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= k)
        .select("probe_id", "url")
    )
    j = eng.withColumn("l", F.lit(1)).join(
        gold.withColumn("r", F.lit(1)), ["probe_id", "url"], "full"
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l").isNull().cast("long")).alias("missing"),
        F.sum(F.col("r").isNull().cast("long")).alias("extra"),
    ).collect()[0]
    return {
        "rows": agg["rows"],
        "mismatch": agg["missing"] + agg["extra"],
        "missing": agg["missing"],
        "extra": agg["extra"],
    }


def _pair_diff(eng, gold) -> dict:
    j = eng.withColumn("l", F.lit(1)).join(
        gold.withColumn("r", F.lit(1)), ["probe_id", "url"], "full"
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l").isNull().cast("long")).alias("missing"),
        F.sum(F.col("r").isNull().cast("long")).alias("extra"),
    ).collect()[0]
    return {
        "rows": agg["rows"],
        "mismatch": agg["missing"] + agg["extra"],
        "missing": agg["missing"],
        "extra": agg["extra"],
    }


def check_knn_partitioned(spark, d: str, k: int = 5) -> dict:
    """The distributed-frontier kNN twin vs the driver-path engine
    result (itself certified against the exact oracle by check_knn):
    set equality of (probe_id, url) pairs at scale."""
    from fgcspark.joins.knn import knn_join, knn_join_partitioned
    from fgcspark.pipeline import pages_to_points

    pts = pages_to_points(spark, d).select("url", "e", "n").where(
        "e is not null and n is not null"
    )
    probes = spark.read.parquet(f"{d}/probes.parquet")
    eng = knn_join_partitioned(spark, pts, probes, k=k).select("probe_id", "url")
    ref = knn_join(spark, pts, probes, k=k).select("probe_id", "url")
    return _pair_diff(eng, ref)


def check_fp_partitioned(spark, d: str) -> dict:
    """Footprint-intersects join under the shuffle strategy (probe
    hinted `merge`) vs the default plan (itself certified against the
    brute-force oracle by check_fp)."""
    from fgcspark.extract import with_extracted
    from fgcspark.joins.fpjoin import footprint_join
    from fgcspark.pipeline import load_pages

    pages = with_extracted(load_pages(spark, d))
    polys = spark.read.parquet(f"{d}/polygons.parquet")
    eng = footprint_join(spark, pages.hint("merge"), polys).select(
        F.col("url").alias("probe_id"), F.col("poly_id").alias("url")
    )
    ref = footprint_join(spark, pages, polys).select(
        F.col("url").alias("probe_id"), F.col("poly_id").alias("url")
    )
    return _pair_diff(eng, ref)


def check_dwithin_partitioned(spark, d: str) -> dict:
    """Distributed dwithin twin vs the broadcast-cover path (pair-set
    equality at scale)."""
    from fgcspark.joins.dwithin import dwithin_join, dwithin_join_partitioned
    from fgcspark.pipeline import pages_to_points
    from fgcspark.synth.pages import DW_RADIUS_M

    pts = pages_to_points(spark, d).select("url", "e", "n").where(
        "e is not null and n is not null"
    )
    probes = spark.read.parquet(f"{d}/probes.parquet")
    eng = dwithin_join_partitioned(spark, pts, probes, radius_m=DW_RADIUS_M)
    ref = dwithin_join(spark, pts, probes, radius_m=DW_RADIUS_M)
    return _pair_diff(eng, ref)


def check_quadkey(spark, d: str) -> dict:
    """Catalyst quadkey expression vs the scalar python twin
    (math-module Mercator, independent of the Column arithmetic),
    computed row-by-row in a pandas stage and diffed exactly."""
    from fgcspark.cells.quadkey import quadkey, quadkey_py
    from fgcspark.extract import with_extracted
    from fgcspark.pipeline import load_pages

    df = (
        with_extracted(load_pages(spark, d))
        .where("lon is not null and lat is not null")
        .select("url", "lon", "lat", quadkey(F.col("lon"), F.col("lat"), 12).alias("qk"))
    )

    def twin(batches):
        for b in batches:
            ref = [quadkey_py(lo, la, 12) for lo, la in zip(b["lon"], b["lat"])]
            yield pd.DataFrame(
                {"n": [len(b)], "bad": [int((b["qk"] != pd.Series(ref)).sum())]}
            )

    agg = (
        df.mapInPandas(twin, "n long, bad long")
        .agg(F.sum("n").alias("rows"), F.sum("bad").alias("mismatch"))
        .collect()[0]
    )
    return {"rows": agg["rows"], "mismatch": agg["mismatch"]}


def check_fusion(spark, d: str) -> dict:
    """cell_distinctive_terms at scale vs a DuckDB re-derivation over
    the generator's truth table (same formulation as the contract
    oracle, run on this scale's corpus) — exact set equality of
    (cell, term, tf, score, rank)."""
    import duckdb

    from fgcspark.geotext import cell_distinctive_terms
    from fgcspark.pipeline import pages_to_points

    eng = {
        (r.cell, r.term, r.tf, r.score, r.rank)
        for r in cell_distinctive_terms(pages_to_points(spark, d), k=5).collect()
    }
    from fgcspark.geotext import cell_distinctive_terms_oracle_sql

    want = set(
        duckdb.execute(
            cell_distinctive_terms_oracle_sql(f"read_parquet('{d}/truth.parquet')", k=5)
        ).fetchall()
    )
    return {"rows": len(eng | want), "mismatch": len(eng ^ want)}


def check_hotspots(spark, d: str) -> dict:
    """Getis-Ord Gi* and Moran's I at scale vs DuckDB re-derivations
    over the truth table (same integer-exact formulations as the
    contract oracles) — exact set equality of (cell, n_docs, w,
    neighbor_sum, gi_star) rows plus the (n_cells, w_pairs, morans_i)
    row."""
    import duckdb

    from fgcspark.hotspots import (
        getis_ord,
        getis_ord_oracle_sql,
        morans_i,
        morans_i_oracle_sql,
    )
    from fgcspark.pipeline import pages_to_points

    pts = pages_to_points(spark, d)
    truth = f"read_parquet('{d}/truth.parquet')"
    eng = {("gi", *r) for r in getis_ord(pts, size_km=10).collect()}
    eng |= {("moran", *r) for r in morans_i(pts, size_km=10).collect()}
    want = {("gi", *r) for r in duckdb.execute(getis_ord_oracle_sql(truth)).fetchall()}
    want |= {("moran", *r) for r in duckdb.execute(morans_i_oracle_sql(truth)).fetchall()}
    return {"rows": len(eng | want), "mismatch": len(eng ^ want)}


def check_media(spark, d: str) -> dict:
    """media_metadata at scale: the Catalyst hex-arithmetic header
    parse vs the generated DuckDB-SQL parser (media_header_sql) —
    exact set equality of (url, n_bytes, fmt, width, height, channels,
    fp) over real PNG/GIF/JPEG headers plus the malformed branch. A
    third derivation (the Python byte-walk in decode_image_stub) is
    pinned to the Catalyst parse in tests/test_multimodal.py."""
    import duckdb

    from fgcspark.multimodal import HEX_WINDOW, media_header_sql, media_metadata

    eng = {
        (r.url, r.n_bytes, r.fmt, r.width, r.height, r.channels, r.fp)
        for r in media_metadata(spark.read.parquet(f"{d}/media.parquet")).collect()
    }
    hsrc = (
        "hsrc AS (SELECT url, CAST(octet_length(media) AS BIGINT) AS n_bytes, "
        f"substring(upper(hex(media)), 1, {2 * HEX_WINDOW}) AS hx, "
        "try_cast(concat('0x', substring(md5(upper(hex(media))), 1, 14)) AS BIGINT) AS fp "
        f"FROM read_parquet('{d}/media.parquet'))"
    )
    want = set(
        duckdb.execute(
            f"WITH {hsrc},\n{media_header_sql()}\n"
            "SELECT url, n_bytes, fmt, width, height, channels, fp FROM hdr"
        ).fetchall()
    )
    return {"rows": len(eng | want), "mismatch": len(eng ^ want)}


CHECKS = {
    "text": check_text,
    "tiles": check_tiles,
    "pip": check_pip,
    "fp": check_fp,
    "knn": check_knn,
    "knn_part": check_knn_partitioned,
    "fp_part": check_fp_partitioned,
    "dwithin_part": check_dwithin_partitioned,
    "quadkey": check_quadkey,
    "fusion": check_fusion,
    "hotspots": check_hotspots,
    "media": check_media,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="sf1")
    ap.add_argument("--checks", default=",".join(CHECKS))
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    from fgcspark.session import get_spark
    from fgcspark.synth.pages import ensure

    d = str(ensure(args.scale))
    spark = get_spark("validate-at-scale", cores=args.cores)
    failed = False
    for name in args.checks.split(","):
        t0 = time.time()
        r = CHECKS[name](spark, d)
        r.update(check=name, scale=args.scale, sec=round(time.time() - t0, 1))
        print(json.dumps(r))
        failed = failed or r["mismatch"] != 0
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
