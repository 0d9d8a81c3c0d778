"""The benchmark's workloads and their golden checks.

Four layer-focused parts, and the benchmark's two workloads (`points`,
`footprints`) that each run two of them back to back. Each part and
workload is a function `(ctx, out_dir) -> check` that runs one pass:
it builds the plan through fgcspark's public functions, forces it with a
parquet write under `out_dir`, and returns a `check()` closure. The
closure compares what was written against goldens derived from the
generator's truth tables for the same seed; it runs outside the timed
region and raises `Mismatch` on any difference.

Spans wrap the benchmark's calls into the layers (see tracing.py); the
names are the metric names in BENCHMARK.json.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


class Mismatch(AssertionError):
    """A pass produced output that differs from its golden."""


@dataclass
class Ctx:
    spark: object
    data_dir: str  # the generated dataset (pages.parquet, truth.parquet, ...)
    tracer: object
    goldens: "Goldens"


# --- reading outputs ---------------------------------------------------------


def read_parquet_dir(path: Path, columns: list[str]) -> pd.DataFrame:
    """Every part file under a Spark output dir (partition dirs included;
    pyarrow's dataset reader would skip `_chunk=` dirs as hidden)."""
    files = sorted(Path(path).rglob("*.parquet"))
    if not files:
        return pd.DataFrame({c: [] for c in columns})
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files).to_pandas()


def _write(tracer, df, path: Path) -> None:
    with tracer.span("action_s"):
        df.write.mode("overwrite").parquet(str(path))


def _same_rows(name: str, got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> None:
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    if len(g) != len(w):
        raise Mismatch(f"{name}: {len(g)} rows, golden has {len(w)}")
    diff = (g != w).any(axis=1)
    if diff.any():
        i = int(np.argmax(diff.to_numpy()))
        raise Mismatch(f"{name}: row {i} is {g.iloc[i].to_dict()}, golden {w.iloc[i].to_dict()}")


# --- goldens -----------------------------------------------------------------

FOCAL_WEIGHTS = (1, 4, 6, 4, 1)  # binomial kernel, the tiles.focal_density default
HEX_SIZE_M = 5000.0
HEX_K = 2
HEX_HOT = 20


class Goldens:
    """Expected outputs for one generated dataset, built lazily from the
    generator's truth tables with pandas/numpy only (no Spark)."""

    def __init__(self, data_dir: str):
        self.d = Path(data_dir)
        self._cache: dict = {}

    def _get(self, key, build):
        if key not in self._cache:
            self._cache[key] = build()
        return self._cache[key]

    def truth(self) -> pd.DataFrame:
        return self._get(
            "truth",
            lambda: pq.read_table(
                self.d / "truth.parquet", columns=["url", "e", "n", "cell_10km", "fp_type"]
            ).to_pandas(),
        )

    def n_pages(self) -> int:
        return len(self.truth())

    def pip(self) -> pd.DataFrame:
        return self._get("pip", lambda: pq.read_table(self.d / "pip.parquet").to_pandas())

    def fpjoin(self) -> pd.DataFrame:
        return self._get("fpjoin", lambda: pq.read_table(self.d / "fpjoin.parquet").to_pandas())

    def tile_counts(self) -> pd.DataFrame:
        def build():
            vc = self.truth()["cell_10km"].value_counts()
            return pd.DataFrame({"cell": vc.index.astype(str), "n_docs": vc.to_numpy(np.int64)})

        return self._get("tiles", build)

    def _raster(self) -> dict[tuple[int, int], int]:
        def build():
            out = {}
            for cell, cnt in zip(*[self.tile_counts()[c] for c in ("cell", "n_docs")]):
                nb, eb = (int(v) for v in cell.split(":"))
                out[(nb, eb)] = int(cnt)
            return out

        return self._get("raster", build)

    def focal(self) -> pd.DataFrame:
        """Direct (2k+1)^2 weighted neighbourhood sum per occupied cell."""

        def build():
            r = self._raster()
            w = FOCAL_WEIGHTS
            k = len(w) // 2
            rows = []
            for (nb, eb), cnt in r.items():
                s = 0
                for i in range(-k, k + 1):
                    for j in range(-k, k + 1):
                        s += w[i + k] * w[j + k] * r.get((nb + i, eb + j), 0)
                rows.append((f"{nb}:{eb}", cnt, s))
            return pd.DataFrame(rows, columns=["cell", "n_docs", "wsum"])

        return self._get("focal", build)

    def getis_ord(self) -> pd.DataFrame:
        """Gi* with self-inclusive 3x3 queen weights over occupied cells."""

        def build():
            r = self._raster()
            x = np.array(list(r.values()), dtype=np.float64)
            n = len(x)
            mean = x.sum() / n
            s = np.sqrt((x * x).sum() / n - mean * mean)
            rows = []
            for (nb, eb), cnt in r.items():
                hood = [
                    r[(nb + i, eb + j)]
                    for i in (-1, 0, 1)
                    for j in (-1, 0, 1)
                    if (nb + i, eb + j) in r
                ]
                w, sj = len(hood), sum(hood)
                denom = s * np.sqrt((n * w - w * w) / (n - 1))
                gi = (sj - mean * w) / denom if denom > 0 else np.nan
                rows.append((f"{nb}:{eb}", cnt, w, sj, gi))
            return pd.DataFrame(rows, columns=["cell", "n_docs", "w", "neighbor_sum", "gi_star"])

        return self._get("gi", build)

    def hex_rings(self) -> pd.DataFrame:
        """k-ring sums around the HEX_HOT busiest 5 km hexes."""

        def build():
            from fgcspark.cells.hexgrid import BIAS, hex_qr_np

            t = self.truth()
            q, r = hex_qr_np(t["e"].to_numpy(), t["n"].to_numpy(), HEX_SIZE_M)
            counts: dict[tuple[int, int], int] = {}
            for key in zip(q.tolist(), r.tolist()):
                counts[key] = counts.get(key, 0) + 1

            def hid(qq, rr):
                return ((qq + BIAS) << 21) + (rr + BIAS)

            hot = sorted(counts.items(), key=lambda kv: (-kv[1], hid(*kv[0])))[:HEX_HOT]
            disk = [
                (dq, dr)
                for dq in range(-HEX_K, HEX_K + 1)
                for dr in range(-HEX_K, HEX_K + 1)
                if abs(dq + dr) <= HEX_K
            ]
            rows = []
            for (qq, rr), cnt in hot:
                ring = sum(counts.get((qq + dq, rr + dr), 0) for dq, dr in disk)
                rows.append((hid(qq, rr), cnt, ring))
            return pd.DataFrame(rows, columns=["hex_id", "n_docs", "n_docs_ring"])

        return self._get("hex", build)


# --- workloads ---------------------------------------------------------------


def spatial_core(ctx: Ctx, out: Path):
    """pages -> points -> PIP join against the broadcast layer, plus
    10 km tile counts: the engine's headline docs/s path."""
    from pyspark.sql import functions as F

    from fgcspark.joins.pip import pip_join
    from fgcspark.pipeline import pages_to_points

    t, d, spark = ctx.tracer, ctx.data_dir, ctx.spark
    pts = pages_to_points(spark, d)
    polys = spark.read.parquet(f"{d}/polygons.parquet")
    with t.span("joins.pip.pip_join_s"):
        joined = pip_join(spark, pts.select("url", "e", "n"), polys, cache_key=d)
    _write(t, joined, out / "pip")
    counts = pts.groupBy(F.col("cell_10km").alias("cell")).agg(F.count(F.lit(1)).alias("n_docs"))
    _write(t, counts, out / "tiles")

    def check():
        _same_rows("pip", read_parquet_dir(out / "pip", ["url", "poly_id"]), ctx.goldens.pip(), ["url", "poly_id"])
        _same_rows(
            "tile_counts",
            read_parquet_dir(out / "tiles", ["cell", "n_docs"]),
            ctx.goldens.tile_counts(),
            ["cell", "n_docs"],
        )

    return check


def footprint_join(ctx: Ctx, out: Path):
    """Footprint-geometry INTERSECTS join against the polygon layer."""
    from fgcspark.extract import with_extracted
    from fgcspark.joins.fpjoin import footprint_join as fp_join
    from fgcspark.pipeline import load_pages

    t, d, spark = ctx.tracer, ctx.data_dir, ctx.spark
    pages = with_extracted(load_pages(spark, d))
    polys = spark.read.parquet(f"{d}/polygons.parquet")
    with t.span("joins.fpjoin.footprint_join_s"):
        joined = fp_join(spark, pages, polys, refine="expr")
    _write(t, joined, out / "fpjoin")

    def check():
        got = read_parquet_dir(out / "fpjoin", ["url", "poly_id"])
        _same_rows("fpjoin", got, ctx.goldens.fpjoin(), ["url", "poly_id"])

    return check


CONVERT_CHUNKS = 16


def convert_write(ctx: Ctx, out: Path):
    """The `cli convert --resume` path: chunked footprint/EUREF
    conversion written into a fresh directory."""
    from fgcspark.checkpoint import ChunkedRunner
    from fgcspark.pipeline import geo_pipeline

    t, d, spark = ctx.tracer, ctx.data_dir, ctx.spark

    def build(s):
        with t.span("pipeline.geo_pipeline_s"):
            return geo_pipeline(s, d, geo="footprint", crs="euref")

    runner = ChunkedRunner(spark, str(out / "convert"), n_chunks=CONVERT_CHUNKS)
    with t.span("checkpoint.run_s"):
        summary = runner.run(build)

    def check():
        n = ctx.goldens.n_pages()
        manifest_rows = sum(int(r.get("rows", 0)) for r in runner.metrics())
        if summary["processed"] != CONVERT_CHUNKS or manifest_rows != n:
            raise Mismatch(
                f"convert: {summary['processed']} chunks, manifest rows {manifest_rows}, pages {n}"
            )
        got = read_parquet_dir(out / "convert" / "data", ["url", "geom_type"])
        want = ctx.goldens.truth()[["url", "fp_type"]].rename(columns={"fp_type": "geom_type"})
        _same_rows("convert geom_type", got, want, ["url", "geom_type"])

    return check


def tile_analytics(ctx: Ctx, out: Path):
    """Raster and ring aggregates: focal density and Gi* over 10 km
    tiles, k=2 hex-ring sums around the busiest 5 km hexes."""
    from pyspark.sql import functions as F

    from fgcspark.cells.hexgrid import hex_id, hex_ring_counts
    from fgcspark.hotspots import getis_ord
    from fgcspark.pipeline import pages_to_points, tile_counts
    from fgcspark.tiles import focal_density

    t, d, spark = ctx.tracer, ctx.data_dir, ctx.spark
    with t.span("tiles.focal_density_s"):
        focal = focal_density(tile_counts(spark, d, size_km=10))
    _write(t, focal, out / "focal")
    with t.span("hotspots.getis_ord_s"):
        gi = getis_ord(pages_to_points(spark, d), size_km=10)
    _write(t, gi, out / "gi")
    pts = pages_to_points(spark, d)
    counts = (
        pts.select(hex_id(F.col("e"), F.col("n"), HEX_SIZE_M).alias("hex_id"))
        .groupBy("hex_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    hot = counts.orderBy(F.desc("n_docs"), F.asc("hex_id")).limit(HEX_HOT)
    with t.span("cells.hex_ring_counts_s"):
        rings = hex_ring_counts(hot, counts, k=HEX_K)
    _write(t, rings, out / "hex")

    def check():
        g = ctx.goldens
        _same_rows(
            "focal_density",
            read_parquet_dir(out / "focal", ["cell", "n_docs", "wsum"]),
            g.focal(),
            ["cell", "n_docs", "wsum"],
        )
        got = read_parquet_dir(out / "gi", ["cell", "n_docs", "w", "neighbor_sum", "gi_star"])
        want = g.getis_ord()
        exact = ["cell", "n_docs", "w", "neighbor_sum"]
        _same_rows("getis_ord", got, want, exact)
        m = got.merge(want, on=exact, suffixes=("", "_want"))
        bad = ~np.isclose(m["gi_star"], m["gi_star_want"], rtol=0, atol=2e-6, equal_nan=True)
        if bad.any():
            raise Mismatch(f"getis_ord gi_star: {m[bad].head(3).to_dict('records')}")
        _same_rows(
            "hex_ring_counts",
            read_parquet_dir(out / "hex", ["hex_id", "n_docs", "n_docs_ring"]),
            g.hex_rings(),
            ["hex_id", "n_docs", "n_docs_ring"],
        )

    return check


def _composite(*parts):
    def run(ctx: Ctx, out: Path):
        checks = [part(ctx, out / part.__name__) for part in parts]

        def check():
            for c in checks:
                c()

        return check

    return run


# the benchmark's two workloads; each pass runs two of the layer-focused
# parts back to back (see README.md)
WORKLOADS = {
    "points": _composite(spatial_core, tile_analytics),
    "footprints": _composite(convert_write, footprint_join),
}
# the goldens each workload checks against, built before set-up starts
GOLDENS = {
    "points": ("pip", "tile_counts", "focal", "getis_ord", "hex_rings"),
    "footprints": ("truth", "fpjoin"),
}
