"""Grid DBSCAN (fgcspark/cells/dbscan.py) on a hand-built grid.

Layout (10 km cells, min_pts=3; e/n in metres, cell = '{nb}:{eb}'):

- cluster A: core cells (0,0) and (1,1) — touch diagonally, one
  cluster labelled by the min packed key;
- cluster B: core cell (5,5) — far away, its own cluster;
- border: (0,1) has 1 doc and touches both A-cores -> border of A;
- bridge-border between clusters: (4,4) has 2 docs (non-core) and
  touches only B -> border of B;
- noise: (9,0) has 1 doc, no core neighbor -> absent from output.
"""

import pytest
from pyspark.sql import functions as F

from fgcspark.cells.dbscan import dbscan_cells
from fgcspark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-dbscan")


def _pages(spark, counted):
    rows = []
    i = 0
    for (nb, eb), n in counted.items():
        for _ in range(n):
            rows.append((f"u{i}", float(eb * 10000 + 500), float(nb * 10000 + 500)))
            i += 1
    df = spark.createDataFrame(rows, "url string, e double, n double")
    return df.withColumn(
        "cell_10km",
        F.concat_ws(
            ":",
            F.floor(F.col("n") / 10000).cast("long"),
            F.floor(F.col("e") / 10000).cast("long"),
        ),
    )


def test_dbscan_roles_and_labels(spark):
    pts = _pages(
        spark,
        {
            (0, 0): 3,
            (1, 1): 4,
            (0, 1): 1,
            (5, 5): 5,
            (4, 4): 2,
            (9, 0): 1,
        },
    )
    out = {r["cell"]: r for r in dbscan_cells(pts, size_km=10, min_pts=3).collect()}
    key = lambda nb, eb: (nb << 20) + eb

    assert set(out) == {"0:0", "1:1", "0:1", "5:5", "4:4"}
    # cluster A = min(key(0,0), key(1,1)) = key(0,0)
    assert out["0:0"]["role"] == "core" and out["0:0"]["cluster"] == key(0, 0)
    assert out["1:1"]["role"] == "core" and out["1:1"]["cluster"] == key(0, 0)
    assert out["0:1"]["role"] == "border" and out["0:1"]["cluster"] == key(0, 0)
    assert out["5:5"]["role"] == "core" and out["5:5"]["cluster"] == key(5, 5)
    assert out["4:4"]["role"] == "border" and out["4:4"]["cluster"] == key(5, 5)
    assert out["0:0"]["n_docs"] == 3 and out["4:4"]["n_docs"] == 2


def test_dbscan_chain_propagates(spark):
    # a 5-cell diagonal chain of cores must converge to ONE cluster
    # (exercises multi-round frontier propagation)
    pts = _pages(spark, {(i, i): 3 for i in range(5)})
    rows = dbscan_cells(pts, size_km=10, min_pts=3).collect()
    assert len(rows) == 5
    assert {r["cluster"] for r in rows} == {0}  # key(0,0) == 0
    assert all(r["role"] == "core" for r in rows)


def test_dbscan_border_ambiguity_is_min(spark):
    # border cell (1,1) touches two SEPARATE clusters (0,0) and (2,2);
    # deterministic rule: min cluster label wins
    pts = _pages(spark, {(0, 0): 3, (2, 2): 3, (1, 1): 1})
    out = {r["cell"]: r for r in dbscan_cells(pts, size_km=10, min_pts=3).collect()}
    assert out["0:0"]["cluster"] == 0
    assert out["2:2"]["cluster"] == (2 << 20) + 2
    assert out["1:1"]["role"] == "border" and out["1:1"]["cluster"] == 0


def test_dbscan_min_frac_rounds_half_up(spark):
    # N = 1500, min_frac = 0.003: the threshold 4.5 rounds to 5 (the
    # oracle's DuckDB round), not to 4 (Python's half-even round), so
    # the 4-doc cell is noise and the 5-doc cell is core
    pts = _pages(spark, {(0, 0): 5, (10, 10): 4, (20, 20): 1491})
    rows = dbscan_cells(pts, size_km=10, min_pts=None, min_frac=0.003).collect()
    assert {r["cell"] for r in rows} == {"0:0", "20:20"}
    assert all(r["role"] == "core" for r in rows)
