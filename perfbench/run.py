#!/usr/bin/env python3
"""fgcspark benchmark: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload points --seed 42 --seconds 15 --trace 0

Closed loop, one client: passes run back to back on local[nproc/2]
with the engine's own session defaults. The run

1. generates the seeded synthetic dataset (cached per seed under
   perfbench/.data/, outside every metric) and its goldens;
2. sets up once: start the Spark session (which launches the JVM), read
   the input once, run one untimed warm-up pass;
3. runs timed passes for `--seconds` (at least MIN_PASSES of them),
   checking every pass's output against the goldens; the metrics come
   from the first MIN_PASSES (MIN_PASSES + 1 traced) of them;
4. prints a summary and, as the last stdout line, one JSON object
   {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
   with --trace 0, the per-layer metrics with --trace 1.

A traced run alternates traced and untraced passes; traced passes
record spans around the benchmark's calls into each layer and read
Spark's status stores after the pass. The full record (placement,
confs, per-pass figures, spans) goes to perfbench/.out/.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import procstat  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# The metrics come from a fixed number of timed passes, the first
# MIN_PASSES, however many more the --seconds loop runs, so every run
# measures the same work. Three keep a run near a minute on a busy
# 4-vCPU host, set-up included.
MIN_PASSES = 3
# End-to-end metrics in the JSON line. fail_frac is 0 on every good run,
# so it travels as the attempted/failed counts. peak_rss_mb is printed
# but not gated: under the 48 GiB default heap the JVM's resident size
# follows G1's heap-expansion heuristics, and its peak differs by a
# quarter or more between runs. wall_s is printed but not gated: it
# stretches with the steal the host's neighbours cause (up to a fifth of
# a pass), so the gated wall time is wall_ex_steal_s.
GATED = ("setup_s", "wall_ex_steal_s", "docs_per_s", "cpu_s")
DEFAULT_SEED = 42
SCALE = "sf0.01"  # 10,000 pages
# effective Spark confs recorded with every run
CONFS = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def ensure_data(seed: int) -> Path:
    """The generator's dataset for `seed`, generated once."""
    final = HERE / ".data" / f"seed-{seed}" / SCALE
    if (final / "_SUCCESS").exists():
        return final
    from fgcspark.synth import pages

    pages.SEED = seed
    tmp = final.parent / f".tmp-{os.getpid()}"
    pages.generate(SCALE, tmp, force=True)
    try:
        os.replace(tmp / SCALE, final)
    except OSError:  # a concurrent run finished the same seed first
        if not (final / "_SUCCESS").exists():
            raise
    shutil.rmtree(tmp, ignore_errors=True)
    return final


def set_env(work: Path) -> None:
    """Tier-1's settings plus the repo on the Python workers' path; every
    temporary file stays under `work`. The engine's FGC_* session
    overrides are dropped so its own defaults are measured.

    Spark gets half the vCPUs. On local[nproc] the task threads, their
    Python workers and the JVM's JIT and GC threads oversubscribe the
    vCPUs, and a pass's wall time follows the neighbours' load (see
    README.md for the comparison of local[4] and local[2]).

    The JVM compiles with C1 only. Under the default tiered JIT, C2 keeps
    compiling Spark for five or six passes after the cold one (about
    45 s, more than a run can spend), so a timed pass's wall and CPU time
    depend on how far the compiler got; with C1 only, every timed pass
    after the warm-up one does the same work."""
    for k in [k for k in os.environ if k.startswith("FGC_")]:
        del os.environ[k]
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    )
    sys.path.insert(0, str(ROOT))


def stop_jvm(spark) -> None:
    """Stop the session, the JVM it launched, and wait for every child."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while len(procstat.tree()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "fgcspark" / "__init__.py").is_file():
        print(f"perfbench: no fgcspark package in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    set_env(work)
    ncpu = len(os.sched_getaffinity(0))
    t_excluded = time.perf_counter()
    ceiling_before = procstat.busy_ceiling(ncpu)
    t_gen = time.perf_counter()
    data_dir = ensure_data(args.seed)
    gen_s = time.perf_counter() - t_gen
    goldens = workloads.Goldens(str(data_dir))
    for name in workloads.GOLDENS[args.workload]:
        getattr(goldens, name)()
    n_pages = goldens.n_pages()
    excluded = time.perf_counter() - t_excluded

    from fgcspark.session import get_spark

    run_pass = workloads.WORKLOADS[args.workload]
    tracer = tracing.Tracer(bool(args.trace))
    attempted = failed = 0
    errors: list[str] = []
    pass_no = 0

    def one_pass(ctx) -> dict:
        """Run one pass, then check it. Returns its wall seconds (None if
        the pass failed), the same less the host's steal share over the
        pass, and its process-tree CPU seconds."""
        nonlocal attempted, failed, pass_no
        out = work / "out" / f"pass-{pass_no}"
        pass_no += 1
        attempted += 1
        stat0 = procstat.proc_stat()
        cpu0 = procstat.cpu_seconds()
        t0 = time.perf_counter()
        try:
            with tracer.span("pass"):
                check = run_pass(ctx, out)
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_seconds() - cpu0
            steal = procstat.steal_share(stat0, procstat.proc_stat())
            check()
            return {"wall_s": wall, "wall_ex_steal_s": wall * (1 - steal), "steal": steal, "cpu_s": cpu}
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            failed += 1
            errors.append(traceback.format_exc()[-2000:])
            return {"wall_s": None, "cpu_s": procstat.cpu_seconds() - cpu0}
        finally:
            shutil.rmtree(out, ignore_errors=True)

    # --- set-up: session (the JVM launch), first input read, warm-up pass.
    # Timed from process start; data generation, goldens and the
    # placement probe are not part of it. The JVM is stopped however the
    # run ends.
    tracer.pass_id = -1
    with tracer.span("session.get_spark_s"):
        spark = get_spark("fgcspark-perfbench")
    try:
        spark.read.parquet(str(data_dir / "pages.parquet")).count()
        ctx = workloads.Ctx(spark, str(data_dir), tracer, goldens)
        one_pass(ctx)  # warm-up
        setup_s = time.perf_counter() - T_START - excluded
        confs = {k: spark.conf.get(k, None) for k in CONFS}
        confs["jvm_max_heap_mib"] = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() // (1 << 20)
        store = layers.StatusStore(spark, ROOT) if args.trace else None

        # --- timed passes ----------------------------------------------------
        stat0 = procstat.proc_stat()
        passes = []  # one_pass's dicts, plus traced and counters
        t_loop = time.perf_counter()
        # a traced run needs traced and untraced passes to measure its overhead
        n_measured = MIN_PASSES + args.trace
        while len(passes) < n_measured or time.perf_counter() - t_loop < args.seconds:
            traced = bool(args.trace) and len(passes) % 2 == 0
            tracer.enabled = traced
            tracer.pass_id = len(passes)
            mark = store.mark() if traced else None
            rec = one_pass(ctx) | {"traced": traced}
            if traced:
                rec["counters"] = store.collect(mark)
            passes.append(rec)
        loop_s = time.perf_counter() - t_loop
        placement = procstat.steal_delta(stat0, procstat.proc_stat())
        rss = procstat.peak_rss()
    finally:
        stop_jvm(spark)
    placement.update(
        ncpu=ncpu,
        busy_ceiling_before=ceiling_before,
        busy_ceiling_after=procstat.busy_ceiling(ncpu),
        timed_loop_s=round(loop_s, 3),
    )

    measured = passes[:n_measured]
    ok = [p for p in measured if p["wall_s"] is not None]
    wall_ex = median([p["wall_ex_steal_s"] for p in ok])
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_ex_steal_s": (wall_ex, "s"),
        "docs_per_s": (n_pages / wall_ex if wall_ex else 0.0, "1/s"),
        "cpu_s": (median([p["cpu_s"] for p in ok]), "s"),
        "wall_s": (median([p["wall_s"] for p in ok]), "s"),
        "steal_share": (median([p["steal"] for p in ok]), "ratio"),
        "peak_rss_mb": (sum(rss.values()) / (1 << 20), "MiB"),
        "fail_frac": (failed / attempted, "ratio"),
    }
    per_layer = {}
    if args.trace:
        per_layer = layer_metrics(tracer, measured, ok)
        jvm = sum(v for k, v in rss.items() if k.endswith(" java"))
        per_layer["mem.jvm_rss_mb"] = (jvm / (1 << 20), "MiB")
        per_layer["mem.python_rss_mb"] = ((sum(rss.values()) - jvm) / (1 << 20), "MiB")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": SCALE,
        "pages": n_pages,
        "trace": args.trace,
        "data_gen_s": round(gen_s, 3),
        "excluded_s": round(excluded, 3),
        "setup_s": setup_s,
        "passes": passes,
        "measured_passes": n_measured,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_layer": {k: v for k, (v, _) in per_layer.items()},
        "placement": placement,
        "peak_rss_by_process": rss,
        "confs": confs,
        "errors": errors,
        "spans": tracer.records(),
    }
    out_dir = HERE / ".out"
    out_dir.mkdir(exist_ok=True)
    rec_path = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    rec_path.write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} scale {SCALE} pages {n_pages}")
    print(
        f"timed passes {len(passes)}, metrics over the first {n_measured}"
        f" (failed {failed} of {attempted} incl. 1 warm-up)"
    )
    for name, (v, unit) in {**e2e, **per_layer}.items():
        print(f"  {name:<40} {v:>14.4f} {unit}")
    print(f"placement {json.dumps(placement)}")
    print(f"confs {json.dumps(confs)}")
    print(f"record {rec_path.relative_to(ROOT)}")
    for e in errors[:3]:
        print(f"error {e.strip().splitlines()[-1]}")
    shown = per_layer if args.trace else {k: e2e[k] for k in GATED}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }
    print(json.dumps(result))
    return 0


SPAN_METRICS = (
    "joins.pip.pip_join_s",
    "joins.fpjoin.footprint_join_s",
    "pipeline.geo_pipeline_s",
    "checkpoint.run_s",
    "hotspots.getis_ord_s",
    "cells.hex_ring_counts_s",
    "tiles.focal_density_s",
    "action_s",
)


def layer_metrics(tracer, passes, ok) -> dict:
    """Per-layer medians over the traced passes: span self times, then
    Spark's counters; plus the traced wall time and tracing overhead.
    Set-up spans (pass -1) are reported on their own: the session start,
    and the PIP join on a cold index cache, which builds and broadcasts
    the polygon index once per session."""
    traced = [p for p in passes if p["traced"]]
    traced_ids = [i for i, p in enumerate(passes) if p["traced"]]
    st = tracing.self_time_by_pass(tracer.spans)
    out = {}
    out["session.get_spark_s"] = (st.get("session.get_spark_s", {}).get(-1, 0.0), "s")
    out["joins.pip.pip_join_cold_s"] = (st.get("joins.pip.pip_join_s", {}).get(-1, 0.0), "s")
    for name in SPAN_METRICS:
        per = st.get(name, {})
        out[name] = (median([per.get(i, 0.0) for i in traced_ids]), "s")
    for c in layers.COUNTERS:
        unit = "s" if c.endswith("_s") else "bytes" if "bytes" in c else "count"
        out[c] = (median([p["counters"][c] for p in traced]), unit)
    t_wall = median([p["wall_ex_steal_s"] for p in traced if p["wall_s"] is not None])
    u_wall = median([p["wall_ex_steal_s"] for p in ok if not p["traced"]])
    out["trace.wall_ex_steal_s"] = (t_wall, "s")
    out["trace.overhead_s"] = (t_wall - u_wall, "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
