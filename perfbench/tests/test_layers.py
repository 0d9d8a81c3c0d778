"""Status-store string parsing and UDF attribution (no Spark needed)."""

from pathlib import Path

import pytest

import layers


@pytest.mark.parametrize(
    "text, value",
    [
        ("100,000", 100_000.0),
        ("0", 0.0),
        ("64.1 MiB", 64.1 * 2**20),
        ("0.0 B", 0.0),
        ("1106.4 KiB", 1106.4 * 1024),
        ("2.5 GiB", 2.5 * 2**30),
        ("71 ms", 0.071),
        ("6.3 s", 6.3),
        ("1.5 m", 90.0),
        ("2.00 h", 7200.0),
        ("total (min, med, max (stageId: taskId))\n6.3 s (120 ms, 200 ms, 400 ms (stage 3.0: task 12))", 6.3),
        ("total (min, med, max (stageId: taskId))\n206.7 KiB (44.6 KiB, 80.5 KiB, 81.6 KiB (stage 151.0: task 228))", 206.7 * 1024),
        ("total (min, med, max (stageId: taskId))\n1 ms (0 ms, 0 ms, 0 ms (stage 151.0: task 228))", 0.001),
    ],
)
def test_parse_metric(text, value):
    assert layers.parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize(
    "text",
    [None, "(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 151.0: task 228))", "n/a", "3 parsecs"],
)
def test_parse_metric_without_a_total(text):
    assert layers.parse_metric(text) is None


def test_udf_owner_by_defining_module():
    owners = layers.udf_owners(Path(__file__).resolve().parents[2])
    assert owners["_point_en"] == "pipeline"
    assert owners["fp_udf"] == "pipeline"  # nested in geo_transform
    assert owners["_fp_project_parts"] == "joins.fpjoin"
    desc = "ArrowEvalPython [_fp_project_parts(footprint#1, lon#2, lat#3)#9], [pythonUDF0#10], 200"
    assert layers._udf_layer(desc, owners) == "joins.fpjoin"
    assert layers._udf_layer("ArrowEvalPython [mystery(x#1)#2]", owners) == "other"


def test_counters_are_unique_and_cover_both_udf_layers():
    assert len(layers.COUNTERS) == len(set(layers.COUNTERS))
    for layer in ("pipeline", "joins.fpjoin"):
        for suffix in ("python_init_s", "python_run_s", "python_bytes_sent", "python_bytes_received"):
            assert f"{layer}.{suffix}" in layers.COUNTERS
