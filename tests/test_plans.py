"""Physical-plan regression tests.

At 100 TB the *shape* of the plan is the performance contract: one
Arrow UDF stage (not N duplicated ones), broadcast joins on the probe
path (no shuffle), column pruning through the UDF barrier down to the
scan, map-side partial aggregation, and predicate pushdown into
parquet. These asserts pin the shapes so a refactor that silently
degrades them (e.g. the 7x ArrowEvalPython duplication fixed in
71d9a0a) fails fast."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


@pytest.fixture(scope="module")
def pts(spark, pages_dir):
    from fgcspark.pipeline import pages_to_points

    return pages_to_points(spark, pages_dir)


def test_single_udf_stage_in_point_path(pts):
    """pages_to_points must run exactly ONE ArrowEvalPython node — the
    fused point+project kernel. Catalyst re-expansion of the struct into
    per-column UDF copies is the regression this guards against."""
    plan = plan_of(pts.select("url", "e", "n", "cell_10km"))
    # formatted mode prints each node once in the tree and once in the
    # detail section — count physical nodes by their "(id) Name" lines
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1


def test_column_pruning_reaches_scan(pts):
    """A 2-column projection must scan only what extraction needs
    (url + html), not the full page row."""
    plan = plan_of(pts.select("url", "cell_10km"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"url", "html"}


def test_pip_join_is_broadcast_no_shuffle(spark, pts, pages_dir):
    from fgcspark.joins.pip import pip_join

    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    plan = plan_of(pip_join(spark, pts.select("url", "e", "n"), polys))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the only exchange allowed on this path is the broadcast itself —
    # a bare "Exchange" node is a shuffle (BroadcastExchange is not)
    assert not re.findall(r"\(\d+\) Exchange\b", plan)


def test_tile_counts_partial_aggregation(spark, pages_dir):
    from fgcspark.pipeline import tile_counts

    plan = plan_of(tile_counts(spark, pages_dir, size_km=10))
    # partial (map-side) + final HashAggregate around exactly one shuffle
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1


def test_predicate_pushdown_to_parquet(spark, pages_dir):
    df = (
        spark.read.parquet(f"{pages_dir}/pages.parquet")
        .filter(F.col("lang") == "fi")
        .select("url")
    )
    plan = plan_of(df)
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,fi\)", plan), plan


def test_media_metadata_stays_jvm_side(spark, pages_dir):
    """media_metadata is contractually built-in-function only: no
    Python evaluation node may appear in its plan."""
    from fgcspark.multimodal import media_metadata

    plan = plan_of(media_metadata(spark.read.parquet(f"{pages_dir}/media.parquet")))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_extraction_stays_jvm_side(spark, pages_dir):
    from fgcspark.extract import with_extracted

    df = with_extracted(spark.read.parquet(f"{pages_dir}/pages.parquet"))
    plan = plan_of(df.select("url", "extracted_text", "lat", "lon"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # formatted mode marks codegen membership per node
    assert "codegen id" in plan


def test_embed_neardup_is_distributed_cogroup(spark):
    """The exact embedding near-dup must be a cogrouped pandas plan
    with NO driver collect and NO broadcast of the vector table (the
    round-1 scale-killer was a collect + O(n*d) broadcast)."""
    from fgcspark.sim import embedding_neardup_pairs_vec

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(16)], "vec_id long, embedding array<double>"
    )
    df = embedding_neardup_pairs_vec(emb, tau=0.9, n_blocks=4)
    plan = plan_of(df)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan


def test_knn_single_materialization(spark, pts, pages_dir):
    """kNN scans the cached point projection, not the source, after
    the first ring: the probe-side parquet scan appears in the plan
    with InMemoryTableScan above it once knn_join ran."""
    from fgcspark.joins.knn import knn_join

    probes = spark.read.parquet(f"{pages_dir}/probes.parquet").limit(5)
    before = {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    out = knn_join(spark, pts.select("url", "e", "n"), probes, k=3)
    assert out.count() == 15
    after = {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    # the ONLY storage allowed to survive is the localCheckpoint backing
    # the returned (distributed) result — every per-round cache and the
    # point-projection cache must be gone
    leaked = after - before
    assert len(leaked) <= 1, f"knn_join leaked caches beyond its result: {leaked}"
    # and the result must be checkpoint-backed, not driver-collected:
    # its plan is a bare scan of the materialized RDD
    assert "Scan ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()


def test_bbox_pipeline_single_udf_stage(spark, pages_dir):
    """bbox mode must run ONE ArrowEvalPython stage (fused footprint +
    bbox kernels), not a chain of two Python runners."""
    from fgcspark.pipeline import geo_pipeline

    df = geo_pipeline(spark, pages_dir, geo="bbox", crs="wgs84").select("url", "geo_wkt")
    plan = plan_of(df)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1


def test_spatial_join_layer_built_on_executors(spark, pts, pages_dir):
    """pip_join and footprint_join build their polygon layer on the
    executors (one MapInPandas) and broadcast that, not rows collected
    to the driver (a LocalTableScan build side)."""
    from fgcspark.extract import with_extracted
    from fgcspark.joins.fpjoin import footprint_join
    from fgcspark.joins.pip import pip_join
    from fgcspark.pipeline import load_pages

    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    pages = with_extracted(load_pages(spark, pages_dir))
    for df in (
        pip_join(spark, pts.select("url", "e", "n"), polys),
        footprint_join(spark, pages, polys),
    ):
        plan = plan_of(df)
        assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
        assert "BroadcastHashJoin" in plan and "LocalTableScan" not in plan


def final_plan(df) -> str:
    """The final adaptive plan of an executed df: the text before its
    Initial Plan section. Exchange reuse happens at run time, so only
    this text shows a ReusedExchange in place of a second scan."""
    return df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]


def test_ring_counts_single_source_scan(spark, pages_dir):
    """The k-ring disk queries scan their source ONCE with no
    checkpoint: the hot probe selection and the neighbor join read the
    per-cell aggregate through one plan, so its exchange is reused."""
    from fgcspark.cells.grid import ring_counts
    from fgcspark.cells.hexgrid import hex_id, hex_ring_counts

    e = (F.length("html") % 50).cast("long")
    for name, key, ring in (
        ("cell", F.concat_ws(":", e, F.lit(0)), ring_counts),
        ("hex_id", hex_id(e * 10000.0, F.lit(0.0), 5000.0), hex_ring_counts),
    ):
        counts = (
            spark.read.parquet(f"{pages_dir}/pages.parquet")
            .groupBy(key.alias(name))
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        hot = counts.orderBy(F.desc("n_docs"), F.asc(name)).limit(5)
        out = ring(hot, counts, k=2)
        assert out.collect()
        plan = final_plan(out)
        assert plan.count("FileScan parquet") == 1 and "ReusedExchange" in plan, name
        assert "Scan ExistingRDD" not in plan


def _gi(spark, pages_dir, pts):
    from fgcspark.hotspots import getis_ord

    return getis_ord(pts, 10)


def _moran(spark, pages_dir, pts):
    from fgcspark.hotspots import morans_i

    return morans_i(pts, 10)


def _hex_rings(spark, pages_dir, pts):
    """The benchmark's hex-ring shape: top-20 hexes of a lazy count."""
    from fgcspark.cells.hexgrid import hex_id, hex_ring_counts

    counts = (
        pts.select(hex_id(F.col("e"), F.col("n"), 5000.0).alias("hex_id"))
        .groupBy("hex_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    hot = counts.orderBy(F.desc("n_docs"), F.asc("hex_id")).limit(20)
    return hex_ring_counts(hot, counts, k=2)


def _entry(name):
    def build(spark, pages_dir, pts):
        import __spark_entry__

        return getattr(__spark_entry__, name)(spark, pages_dir)

    return build


@pytest.mark.parametrize(
    "build",
    [_gi, _moran, _entry("_q_cell_ring_counts"), _entry("_q_hex_ring_counts")],
    ids=["getis_ord", "morans_i", "cell_ring_counts", "hex_ring_counts"],
)
def test_spatial_aggregates_build_lazily(spark, pages_dir, pts, build):
    """Building a one-shot spatial aggregate runs none of its plan: no
    eager checkpoint fires while the plan is assembled. The only job
    allowed is the parquet reader's schema inference (one stage named
    after the `parquet` call)."""
    sc = spark.sparkContext
    bus, st = sc._jsc.sc().listenerBus(), sc.statusTracker()
    bus.waitUntilEmpty(60_000)
    before = set(st.getJobIdsForGroup())
    build(spark, pages_dir, pts)
    bus.waitUntilEmpty(60_000)
    stages = [
        [st.getStageInfo(s).name for s in st.getJobInfo(j).stageIds]
        for j in sorted(set(st.getJobIdsForGroup()) - before)
    ]
    assert all(len(n) == 1 and n[0].startswith("parquet at ") for n in stages), stages


@pytest.mark.parametrize(
    "build", [_gi, _moran, _hex_rings], ids=["getis_ord", "morans_i", "hex_ring_counts"]
)
def test_spatial_aggregates_scan_once(spark, pages_dir, pts, build):
    """One corpus pass per aggregate: after execution the final plan
    holds ONE parquet scan and ONE point UDF, every other consumer of
    the per-cell count reading it through a reused exchange."""
    df = build(spark, pages_dir, pts)
    df.collect()
    plan = final_plan(df)
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def arrow_eval_udfs(df) -> list[set[str]]:
    """UDF names of every ArrowEvalPython node in df's physical plan.
    Asserts that no such node has another one for the same function in
    its own subtree: that is one Python UDF evaluated twice on the same
    rows, which Catalyst produces when it pushes a filter on the UDF's
    output below the projection that computes it."""
    found: list[set[str]] = []

    def walk(node) -> set[str]:
        kids = node.children()
        below: set[str] = set()
        for i in range(kids.size()):
            below |= walk(kids.apply(i))
        if node.nodeName() == "ArrowEvalPython":
            udfs = node.udfs()
            names = {udfs.apply(i).name() for i in range(udfs.size())}
            assert not names & below, f"{sorted(names & below)} evaluated twice"
            found.append(names)
            below |= names
        return below

    walk(df._jdf.queryExecution().sparkPlan())
    return found


# ids kept from the former (refine, UDF count) cases; both accepted
# refine values now build the same plan
@pytest.mark.parametrize("refine", ["expr", "pandas"], ids=["expr-1", "pandas-2"])
def test_footprint_join_probe_udf_runs_once(spark, pages_dir, refine):
    """footprint_join evaluates its parse/project UDF once per row and
    its refine as one Arrow UDF above the join, under both join
    strategies and either accepted `refine` value; no JVM lambda is
    left in the plan."""
    from fgcspark.extract import with_extracted
    from fgcspark.joins.fpjoin import footprint_join
    from fgcspark.pipeline import load_pages

    polys = spark.read.parquet(f"{pages_dir}/polygons.parquet")
    pages = with_extracted(load_pages(spark, pages_dir))
    for probe in (pages, pages.hint("merge")):
        df = footprint_join(spark, probe, polys, refine=refine)
        found = arrow_eval_udfs(df)
        assert sorted(map(sorted, found)) == [["_fp_project_parts"], ["_fp_refine"]], found
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        at = lambda pat: next(i for i, ln in enumerate(lines) if re.search(pat, ln))
        join = at(r"(BroadcastHashJoin|SortMergeJoin)")
        assert at(r"ArrowEvalPython \[_fp_refine") < join < at(r"ArrowEvalPython \[_fp_project_parts")
        assert "lambdafunction" not in plan
    with pytest.raises(ValueError):
        footprint_join(spark, pages, polys, refine="lambda")


def test_dwithin_partitioned_probe_udf_runs_once(spark, pts, pages_dir):
    from fgcspark.joins.dwithin import dwithin_join_partitioned

    probes = spark.read.parquet(f"{pages_dir}/probes.parquet")
    page_side = pts.select("url", "e", "n")
    df = dwithin_join_partitioned(spark, page_side, probes, 25_000.0)
    # the probe side adds one _point_en node to the page side's own
    # (none when another test has cached that projection)
    n_page = sum("_point_en" in names for names in arrow_eval_udfs(page_side))
    assert sum("_point_en" in names for names in arrow_eval_udfs(df)) == n_page + 1


def test_point_geo_pipeline_single_udf(spark, pages_dir):
    """geo_pipeline's point mode derives and projects the point in the
    one point_en UDF: one Python runner, not a centroid UDF chained
    under a projection UDF."""
    from fgcspark.pipeline import geo_pipeline

    df = geo_pipeline(spark, pages_dir, geo="point", crs="euref")
    assert arrow_eval_udfs(df) == [{"_point_en"}]


def test_focal_density_reads_corpus_once(spark, pages_dir):
    """focal_density carries each cell's own columns through its two
    passes instead of joining back to its input, whose plan (scan and
    point UDF) would then run twice."""
    from fgcspark.pipeline import tile_counts
    from fgcspark.tiles import focal_density

    df = focal_density(tile_counts(spark, pages_dir, size_km=10))
    assert arrow_eval_udfs(df) == [{"_point_en"}]
    assert len(re.findall(r"\(\d+\) Scan parquet", plan_of(df))) == 1
