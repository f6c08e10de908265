"""Read per-layer numbers from Spark's in-process status store.

Spark keeps every SQL execution's plan graph and metric values, and every
stage's task totals, in the driver's status store whether or not the web UI
runs. :class:`StatusReader` reads what completed since its last read:

* ``sharedState().statusStore()``: ``planGraph`` (plan nodes and their
  metric accumulators) and ``executionMetrics`` (accumulator id to the
  rendered string) for each new SQL execution;
* ``sc().statusStore()``: ``stageData`` for the stages of those executions
  (wall, run and CPU time, shuffle bytes), and ``stageList`` for the
  session's totals (stages, tasks, GC time).

Metric values arrive as strings such as ``"158,922"``, ``"38.1 MiB"`` or
``"total (min, med, max (stageId: taskId))\\n10.0 s (1 ms, 2.5 s, 3.1 s
(stage 3.0: task 12))"``; :func:`parse_metric` and :func:`parse_stats`
turn them into numbers in seconds, bytes or counts.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass, field

_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40, "PiB": 2.0 ** 50, "EiB": 2.0 ** 60,
}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")


def _value(match: re.Match) -> float:
    number = float(match.group(1).replace(",", ""))
    unit = match.group(2)
    if unit is None:
        return number
    if unit not in _UNIT:
        raise ValueError(f"unknown metric unit {unit!r}")
    return number * _UNIT[unit]


def parse_stats(text: str) -> dict[str, float]:
    """A metric string → ``{"total", "min", "med", "max"}``.

    A plain value (a count, or a metric updated by one task only) gives
    the same number for all four."""
    lines = text.strip().splitlines()
    if not lines:
        raise ValueError("empty metric string")
    body = lines[-1] if lines[0].startswith("total") else lines[0]
    values = [_value(m) for m in _VALUE.finditer(body.split("(stage")[0])]
    if not values:
        raise ValueError(f"no number in metric string {text!r}")
    if len(values) == 1:
        v = values[0]
        return {"total": v, "min": v, "med": v, "max": v}
    if len(values) != 4:
        raise ValueError(f"unexpected metric string {text!r}")
    return dict(zip(("total", "min", "med", "max"), values))


def parse_metric(text: str) -> float:
    """A metric string → its total in seconds, bytes or a plain count."""
    return parse_stats(text)["total"]


@dataclass
class Node:
    name: str
    metrics: dict[str, str]

    def get(self, metric: str) -> float:
        text = self.metrics.get(metric)
        return parse_metric(text) if text else 0.0

    def stats(self, metric: str) -> dict[str, float]:
        text = self.metrics.get(metric)
        return parse_stats(text) if text else dict.fromkeys(
            ("total", "min", "med", "max"), 0.0)


@dataclass
class Stage:
    stage_id: int
    status: str
    wall_s: float
    run_s: float
    cpu_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int


@dataclass
class Execution:
    execution_id: int
    nodes: list[Node]
    stages: list[Stage] = field(default_factory=list)

    def ran(self) -> list[Stage]:
        return [s for s in self.stages if s.status == "COMPLETE"]


class StatusReader:
    """Reads the executions (and their stages) that completed since the
    previous :meth:`read`. Time spent reading is kept in ``read_s``.

    Objects of the status store cross py4j as JSON, written JVM-side by
    Jackson (as Spark's REST API writes them): one call per plan graph or
    stage instead of one per field."""

    def __init__(self, spark) -> None:
        self._spark = spark
        jvm = spark.sparkContext._jvm
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            jvm.double, 0)
        self._seen = int(self._sql.executionsCount())
        self.read_s = 0.0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def skip(self) -> None:
        """Forget the executions not read yet, without reading them."""
        self._seen = int(self._sql.executionsCount())

    def read(self, nodes: bool = True,
             timeout_s: float = 10.0) -> list[Execution]:
        """``nodes=False`` skips the plan graphs: stages only, which is
        much cheaper for executions with deep plans."""
        t0 = time.perf_counter()
        try:
            return self._read(nodes, timeout_s)
        finally:
            self.read_s += time.perf_counter() - t0

    def _read(self, nodes: bool, timeout_s: float) -> list[Execution]:
        # The status listeners run on Spark's listener bus, behind the
        # action that just returned: wait for the executions to complete.
        # Job and stage events precede an execution's end on that bus, so
        # a completed execution's stages are final too.
        deadline = time.monotonic() + timeout_s
        while True:
            count = int(self._sql.executionsCount())
            raw = (self._json(self._sql.executionsList(
                self._seen, count - self._seen)) if count > self._seen
                else [])
            if all(e["completionTime"] is not None for e in raw) or (
                    time.monotonic() > deadline):
                break
            time.sleep(0.02)
        self._seen = count
        return [Execution(e["executionId"],
                          self.nodes(e["executionId"]) if nodes else [],
                          self.stages(sorted(e["stages"])))
                for e in raw]

    def nodes(self, eid: int) -> list[Node]:
        values = self._json(self._sql.executionMetrics(eid))
        return [Node(n["name"], {m["name"]: values[str(m["accumulatorId"])]
                                 for m in n["metrics"]
                                 if str(m["accumulatorId"]) in values})
                for n in self._json(self._sql.planGraph(eid).allNodes())]

    def stages(self, ids: list[int]) -> list[Stage]:
        out = []
        for sid in ids:
            # all five arguments: py4j does not apply Scala defaults
            s = self._json(self._app.stageData(
                sid, False, self._empty, False, self._no_quantiles))[-1]
            sub, done = s["submissionTime"], s["completionTime"]
            out.append(Stage(
                stage_id=sid, status=s["status"],
                wall_s=(done - sub) / 1e3 if sub and done else 0.0,
                run_s=s["executorRunTime"] / 1e3,
                cpu_s=s["executorCpuTime"] / 1e9,
                shuffle_read_bytes=s["shuffleReadBytes"],
                shuffle_write_bytes=s["shuffleWriteBytes"]))
        return out

    def totals(self) -> dict[str, float]:
        """Jobs, completed stages, their tasks and GC time over the whole
        session so far."""
        stages = self._json(self._app.stageList(
            self._empty, False, False, self._no_quantiles, self._empty))
        done = [s for s in stages if s["status"] == "COMPLETE"]
        jobs = self._spark.sparkContext.statusTracker().getJobIdsForGroup()
        return {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(done)),
            "spark.tasks": float(sum(s["numTasks"] for s in done)),
            "spark.gc_s": sum(s["jvmGcTime"] for s in done) / 1e3,
        }
