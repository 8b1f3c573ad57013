"""Tracing for the benchmark's traced run.

``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
writes them out once, at the end. ``SparkStatus`` reads Spark's own status
store through py4j -- ``AppStatusStore`` for jobs and stages (task counts,
JVM GC time), ``SQLAppStatusStore`` for per-operator SQL metrics -- both work
with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "run": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part its children cover."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + (s["end"] - s["start"])
        return {s["id"]: (s["end"] - s["start"]) - child_cover.get(s["id"], 0.0) for s in self.spans}

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``, seconds."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                [dict(s, self_s=selfs[s["id"]]) for s in self.spans], fh, indent=None
            )


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9]+(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?\b")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric ("15.7 KiB", "210 ms", "1.2 s", "542",
    or "total (min, med, max ...)\\n<total> (...)") in bytes, seconds or a
    plain count. Spark formats to about three significant digits."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.search(line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1)) * _UNITS.get(m.group(2) or "", 1.0)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkStatus:
    """Deltas of Spark's status store around one piece of work."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._app = spark._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def stages(self) -> list:
        return _seq(self._app.stageList(self._empty, False, False, self._quantiles, self._empty))

    def mark(self) -> dict:
        execs = _seq(self._sql.executionsList())
        return {
            "stage": max((s.stageId() for s in self.stages()), default=-1),
            "execution": max((e.executionId() for e in execs), default=-1),
            "jobs": self._app.jobsList(self._empty).size(),
        }

    def since(self, mark: dict) -> dict:
        """Jobs, JVM GC time, last-stage task count and SQL executions
        after ``mark``."""
        stages = [s for s in self.stages() if s.stageId() > mark["stage"]]
        return {
            "jobs": self._app.jobsList(self._empty).size() - mark["jobs"],
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "last_stage_tasks": max(stages, key=lambda s: s.stageId()).numTasks() if stages else 0,
            "executions": [
                e for e in _seq(self._sql.executionsList()) if e.executionId() > mark["execution"]
            ],
        }

    def node_metrics(self, executions) -> list[tuple[str, str, str, float]]:
        """(node name, node description, metric name, value) for every plan
        node of ``executions`` that has a recorded value."""
        out = []
        for e in executions:
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out.append((node.name(), node.desc(), m.name(), parse_metric(v.get())))
        return out

    @staticmethod
    def execution_seconds(e) -> float:
        done = e.completionTime()
        if not done.isDefined():
            return 0.0
        return (done.get().getTime() - e.submissionTime()) / 1e3
