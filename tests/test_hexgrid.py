"""Planar hex grid (H3-style axial index): nearest-center property,
pack/unpack inversion, k-ring cardinality, numpy/Column/SQL agreement,
and a zero-Python plan assertion."""

import math

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from fgcspark.cells import hexgrid as hx

RNG = np.random.default_rng(7)
# Finland-extent TM35FIN coordinates (same envelope the generator uses)
E = RNG.uniform(50_000.0, 760_000.0, 4000)
N = RNG.uniform(6_600_000.0, 7_780_000.0, 4000)


def test_pack_unpack_roundtrip():
    q, r = hx.hex_qr_np(E, N, 5000.0)
    hid = hx.hex_id_np(E, N, 5000.0)
    for i in range(0, 4000, 97):
        assert hx.unpack(int(hid[i])) == (int(q[i]), int(r[i]))


def test_nearest_center_property():
    """Cube rounding picks the nearest hex center: every point is
    within the circumradius of its assigned cell's center, and closer
    to it than to any neighboring cell's center (up to fp ties)."""
    s = 5000.0
    q, r = hx.hex_qr_np(E, N, s)
    for i in range(0, 4000, 53):
        cx, cy = hx.center(int(q[i]), int(r[i]), s)
        d0 = math.hypot(E[i] - cx, N[i] - cy)
        assert d0 <= s * (1 + 1e-9)
        for dq, dr in hx.k_ring_offsets(1):
            if (dq, dr) == (0, 0):
                continue
            nx, ny = hx.center(int(q[i]) + dq, int(r[i]) + dr, s)
            assert d0 <= math.hypot(E[i] - nx, N[i] - ny) + 1e-6


def test_center_reassigns_to_own_cell():
    q, r = hx.hex_qr_np(E[:500], N[:500], 2000.0)
    cx = np.empty(500)
    cy = np.empty(500)
    for i in range(500):
        cx[i], cy[i] = hx.center(int(q[i]), int(r[i]), 2000.0)
    q2, r2 = hx.hex_qr_np(cx, cy, 2000.0)
    assert (q2 == q).all() and (r2 == r).all()


def test_k_ring_offsets_cardinality():
    for k in range(0, 5):
        offs = hx.k_ring_offsets(k)
        assert len(offs) == 1 + 3 * k * (k + 1)
        assert len(set(offs)) == len(offs)
        # every offset is within hex distance k (cube metric)
        for dq, dr in offs:
            assert max(abs(dq), abs(dr), abs(dq + dr)) <= k


def test_column_matches_numpy_and_sql(spark):
    df = spark.createDataFrame(
        [(float(e), float(n)) for e, n in zip(E[:1000], N[:1000])], "e double, n double"
    )
    got = (
        df.select(hx.hex_id(F.col("e"), F.col("n"), 5000.0).alias("h"))
        .toPandas()["h"]
        .to_numpy()
    )
    want = hx.hex_id_np(E[:1000], N[:1000], 5000.0)
    assert (got == want).all()
    # and the SQL twin (the oracle's formula) agrees bit-for-bit
    con = duckdb.connect()
    con.register(
        "pts", __import__("pandas").DataFrame({"e": E[:1000], "n": N[:1000]})
    )
    sql_ids = con.execute(
        f"SELECT {hx.hex_id_sql('e', 'n', 5000.0)} AS h FROM pts"
    ).fetchnumpy()["h"]
    assert (sql_ids == want).all()


def test_hex_id_plan_is_pure_codegen(spark):
    df = spark.range(10).select(
        (F.col("id") * 1000.0).alias("e"), (F.col("id") * 2000.0 + 6.6e6).alias("n")
    )
    plan = (
        df.select(hx.hex_id(F.col("e"), F.col("n")).alias("h"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "BatchEval" not in plan


def test_hex_ring_counts_small(spark):
    """3 points in one cell + 1 point in a neighbor + 1 far away:
    disk(1) of the hot cell sums hot + neighbor, not the far one."""
    s = 5000.0
    cx0, cy0 = hx.center(10, 20, s)
    cx1, cy1 = hx.center(11, 20, s)  # hex-distance 1
    cxf, cyf = hx.center(50, 80, s)  # far
    rows = [(cx0, cy0)] * 3 + [(cx1, cy1)] + [(cxf, cyf)]
    df = spark.createDataFrame(rows, "e double, n double")
    counts = df.select(hx.hex_id(F.col("e"), F.col("n"), s).alias("hex_id")).groupBy(
        "hex_id"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    hot = counts.orderBy(F.desc("n_docs"), F.asc("hex_id")).limit(1)
    out = hx.hex_ring_counts(hot, counts, k=1).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 3 and out[0]["n_docs_ring"] == 4

    # the hottest "hex" is the NULL group of 5 point-less rows: it is
    # a probe but yields no row, and the other probes keep their sums
    nulls = spark.createDataFrame([(None, None)] * 5, "e double, n double")
    counts = (
        df.unionByName(nulls)
        .select(hx.hex_id(F.col("e"), F.col("n"), s).alias("hex_id"))
        .groupBy("hex_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    hot = counts.orderBy(F.desc("n_docs"), F.asc("hex_id")).limit(4)
    assert hot.first()["hex_id"] is None
    out = hx.hex_ring_counts(hot, counts, k=1).collect()
    assert sorted((r["n_docs"], r["n_docs_ring"]) for r in out) == [(1, 1), (1, 4), (3, 4)]
