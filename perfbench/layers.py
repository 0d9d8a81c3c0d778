"""Per-layer counters read from Spark's own status stores.

Two sources, both populated with the UI off:

- the SQL status store (`sharedState().statusStore()`): per-operator
  SQL metrics of each query execution, as the formatted strings the UI
  would show ("100,000", "64.1 MiB", "total (min, med, max ...)\\n6.3 s
  (...)"); `parse_metric` turns them back into numbers (seconds, bytes,
  counts);
- the app status store (`sc.statusStore()`): per-stage task metrics
  (run time, CPU, GC, spill) and the job list.

Values are reported as Spark defines them. SQL timings nest: a
WholeStageCodegen duration includes the time its child operators spent
waiting on an ArrowEvalPython node, and "time to initialize Python
workers" overlaps "time to run Python workers". Nothing is subtracted.
"""

from __future__ import annotations

import re
from pathlib import Path

_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
    "EiB": 1 << 60,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float | None:
    """Numeric value of one formatted SQL metric.

    Multi-task metrics read "total (min, med, max (stageId: taskId))"
    on the first line and the values on the second; the total is the
    leading number of the second line. Times become seconds, sizes
    bytes, plain sums a count. Returns None for text with no number
    (e.g. the per-task-only "(min, med, max ...)" of an average).
    """
    if text is None:
        return None
    lines = text.strip().split("\n")
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _VALUE.match(line)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit == "":
        return num
    return None


# SQL metrics per operator kind: (node-name test, metric name, counter)
_NODE_METRICS = [
    ("Scan parquet", "size of files read", "scan.bytes"),
    ("Scan parquet", "number of output rows", "scan.rows"),
    ("Scan parquet", "scan time", "scan.time_s"),
    ("WholeStageCodegen", "duration", "codegen.time_s"),
    ("Exchange", "shuffle bytes written", "exchange.bytes_written"),
    ("Exchange", "shuffle records written", "exchange.records"),
    ("Exchange", "fetch wait time", "exchange.fetch_wait_s"),
    ("BroadcastExchange", "data size", "broadcast.bytes"),
    ("BroadcastExchange", "time to collect", "broadcast.collect_s"),
    ("BroadcastExchange", "time to build", "broadcast.build_s"),
    ("Execute InsertIntoHadoopFsRelationCommand", "written output", "write.bytes"),
    ("Execute InsertIntoHadoopFsRelationCommand", "number of written files", "write.files"),
]
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
_PYTHON_METRICS = {
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}

# layer -> the module whose Python UDFs are attributed to it by name
UDF_MODULES = {
    "pipeline": "fgcspark/pipeline.py",
    "joins.fpjoin": "fgcspark/joins/fpjoin.py",
}

COUNTERS = (
    [c for _, _, c in _NODE_METRICS]
    + ["scan.page_scans"]
    + [f"{layer}.{v}" for layer in UDF_MODULES for v in _PYTHON_METRICS.values()]
    + ["tasks.count", "tasks.run_s", "tasks.cpu_s", "tasks.gc_s", "spill.bytes", "jobs.count"]
)


def udf_owners(root: Path) -> dict[str, str]:
    """Function name -> layer, for every `def` (nested ones included) in
    the modules that define the engine's Python UDFs. A UDF shows in the
    plan under its function's name."""
    owners: dict[str, str] = {}
    for layer, rel in UDF_MODULES.items():
        src = (root / rel).read_text()
        for name in re.findall(r"^\s*def\s+(\w+)\s*\(", src, flags=re.M):
            owners.setdefault(name, layer)
    return owners


def _udf_layer(desc: str, owners: dict[str, str]) -> str:
    for name in re.findall(r"(\w+)\(", desc):
        if name in owners:
            return owners[name]
    return "other"


class StatusStore:
    """Counters for the executions, stages and jobs started after a mark."""

    def __init__(self, spark, root: Path):
        self.spark = spark
        self.jvm = spark._jvm
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.sc = spark.sparkContext._jsc.sc()
        self.app = self.sc.statusStore()
        self.owners = udf_owners(root)

    def _java(self, scala_coll):
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll)

    def _stages(self):
        no_quantiles = self.spark.sparkContext._gateway.new_array(self.jvm.double, 0)
        return self._java(self.app.stageList(None, False, False, no_quantiles, None))

    def _drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty(60_000)

    def mark(self) -> tuple[int, int, int]:
        self._drain()
        ex = [e.executionId() for e in self._java(self.sql.executionsList())]
        stages = [s.stageId() for s in self._stages()]
        jobs = [j.jobId() for j in self._java(self.app.jobsList(None))]
        return (max(ex, default=-1), max(stages, default=-1), max(jobs, default=-1))

    def collect(self, mark: tuple[int, int, int]) -> dict[str, float]:
        self._drain()
        ex_mark, stage_mark, job_mark = mark
        out = {c: 0.0 for c in COUNTERS}
        for e in self._java(self.sql.executionsList()):
            eid = e.executionId()
            if eid <= ex_mark:
                continue
            values = self._java(self.sql.executionMetrics(eid))
            for node in self._java(self.sql.planGraph(eid).allNodes()):
                self._add_node(out, node, values)
        for s in self._stages():
            if s.stageId() <= stage_mark:
                continue
            out["tasks.count"] += s.numCompleteTasks()
            out["tasks.run_s"] += s.executorRunTime() / 1e3
            out["tasks.cpu_s"] += s.executorCpuTime() / 1e9
            out["tasks.gc_s"] += s.jvmGcTime() / 1e3
            out["spill.bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        jobs = self._java(self.app.jobsList(None))
        out["jobs.count"] = float(sum(1 for j in jobs if j.jobId() > job_mark))
        return out

    def _add_node(self, out: dict, node, values) -> None:
        name = node.name().strip()
        metrics = {m.name(): parse_metric(values.get(m.accumulatorId())) for m in self._java(node.metrics())}
        for kind, metric, counter in _NODE_METRICS:
            if name == kind or (kind == "WholeStageCodegen" and name.startswith(kind)):
                out[counter] += metrics.get(metric) or 0.0
        if name == "Scan parquet" and "pages.parquet" in node.desc() and metrics.get("number of files read"):
            out["scan.page_scans"] += 1
        if name in _PYTHON_NODES:
            layer = _udf_layer(node.desc(), self.owners)
            if layer in UDF_MODULES:
                for metric, suffix in _PYTHON_METRICS.items():
                    out[f"{layer}.{suffix}"] += metrics.get(metric) or 0.0
