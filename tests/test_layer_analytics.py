"""fgcspark.geom.layer_analytics: the three Spark stages must reproduce
the generator goldens (the same check the contract gate runs at
sf0.01, here at sf0.001 inside pytest). The batch projection they use
is tested in test_kernels.py."""

from __future__ import annotations

import pandas as pd
import pytest

from fgcspark.geom.layer_analytics import layer_hulls, layer_simplify, layer_stats


@pytest.fixture(scope="module")
def polys(spark, pages_dir):
    return spark.read.parquet(f"{pages_dir}/polygons.parquet")


def _golden(pages_dir, name):
    return pd.read_parquet(f"{pages_dir}/{name}.parquet").sort_values(
        "poly_id"
    ).reset_index(drop=True)


def test_layer_stats_matches_golden(polys, pages_dir):
    got = layer_stats(polys).toPandas().sort_values("poly_id").reset_index(drop=True)
    want = _golden(pages_dir, "layer_stats")
    pd.testing.assert_frame_equal(got, want)


def test_layer_hulls_matches_golden(polys, pages_dir):
    got = layer_hulls(polys).toPandas().sort_values("poly_id").reset_index(drop=True)
    want = _golden(pages_dir, "layer_hulls")
    pd.testing.assert_frame_equal(got, want)


def test_layer_simplify_matches_golden(polys, pages_dir):
    got = (
        layer_simplify(polys, eps=500.0)
        .toPandas()
        .sort_values("poly_id")
        .reset_index(drop=True)
    )
    want = _golden(pages_dir, "layer_simplify")
    pd.testing.assert_frame_equal(got, want)
