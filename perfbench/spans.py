"""Spans for the benchmark's traced run, and the Spark status reads
both runs share.

* ``Tracer`` records a span around each call the benchmark makes into
  a layer: name, layer, start, end and parent. Spans stay in memory and
  are written as JSON when the run ends. While a span is open, the
  Spark jobs it launches carry the job group ``span-<id>``, so stage
  and SQL metrics attribute to it.
* ``SparkStatus`` reads stage, task, job and SQL-node metrics from the
  Spark UI's REST endpoints on localhost.
* ``plan_counts`` and ``catalyst_phases`` read a finished query's
  executed plan and its ``QueryExecution.tracker()`` phase times.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager

#: Physical operators that run Python over Arrow batches.
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
    "PythonMapInArrow",
)


class Tracer:
    """Layer-boundary spans. Disabled, ``span`` is a bare ``yield``."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", f"{layer}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(
                    f"span-{parent['id']}", f"{parent['layer']}:{parent['name']}"
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def total(self, layer: str, name: str | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["layer"] == layer and (name is None or s["name"] == name)
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class SparkStatus:
    """Reads of the live application's REST status endpoints."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        self._bus.waitUntilEmpty(30_000)
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def stages(self) -> list[dict]:
        return self.get("stages?status=complete")

    def stage_ids(self) -> set[int]:
        return {s["stageId"] for s in self.stages()}

    def cpu_of(self, stage_ids: set[int]) -> float:
        """Executor CPU seconds of the completed stages ``stage_ids``."""
        return sum(
            s["executorCpuTime"] for s in self.stages() if s["stageId"] in stage_ids
        ) / 1e9


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """A SQL-node metric as a number: bytes for sizes, seconds for
    times. Multi-task metrics read ``total (min, med, max ...)\\n<total>
    (...)``; the total is the first figure after the header line."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


def python_node_metrics(executions: list[dict]) -> dict[str, float]:
    """Arrow/Python boundary totals over SQL executions."""
    out = {"bytes_to_python": 0.0, "bytes_from_python": 0.0, "rows": 0.0, "run_s": 0.0}
    for e in executions:
        for n in e.get("nodes", []):
            if not n["nodeName"].startswith(PYTHON_NODES):
                continue
            for m in n["metrics"]:
                key = {
                    "data sent to Python workers": "bytes_to_python",
                    "data returned from Python workers": "bytes_from_python",
                    "number of output rows": "rows",
                    "time to run Python workers": "run_s",
                }.get(m["name"])
                if key:
                    out[key] += metric_value(m["value"])
    return out


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_counts(qe) -> dict[str, int]:
    """Exchange and scan operators of a finished query's final
    physical plan (the adaptive plan's final form when AQE ran)."""
    text = qe.executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    exchanges = scans = 0
    for line in text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node in ("Exchange", "BroadcastExchange", "ReusedExchange"):
            exchanges += 1
        elif node in ("FileScan", "Scan", "InMemoryTableScan", "BatchScan"):
            scans += 1
    return {"exchanges": exchanges, "scans": scans}


def catalyst_phases(qe) -> dict[str, float]:
    """Seconds spent in Catalyst's analysis, optimization and planning
    phases of one QueryExecution."""
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        o = phases.get(k)
        out[k] = o.get().durationMs() / 1000.0 if o.isDefined() else 0.0
    return out
