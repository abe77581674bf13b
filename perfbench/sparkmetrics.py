"""Plan and job reader: what Spark itself recorded about one action.

Read from outside the engine, after the action returns:

- job and stage counts of the action's job group, from ``statusTracker()``;
- the SQL metrics of the final (AQE) plan of every SQL execution the action
  started, from the session's SQL status store through py4j.  The store is
  fed by a listener that Spark registers even with the UI disabled, and it
  keeps the plan graph that adaptive execution finalised.  It holds metric
  values as display strings ("12.7 MiB", "3.4 s"), which are parsed back
  here: sizes keep three significant digits, times 0.1 s above one second.
"""

from __future__ import annotations

import itertools
import re

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# (node kind, display name of the metric) -> key of the reported metric
_WANTED = {
    ("python", "time to run Python workers"): "python_total_s",
    ("python", "time to start Python workers"): "python_boot_s",
    ("python", "time to initialize Python workers"): "python_init_s",
    ("python", "data sent to Python workers"): "arrow_sent_mb",
    ("python", "data returned from Python workers"): "arrow_recv_mb",
    ("exchange", "shuffle bytes written"): "shuffle_write_mb",
    ("sort", "sort time"): "sort_s",
    ("sort", "peak memory"): "sort_peak_mb",
    ("scan", "scan time"): "scan_s",
}
# metrics where the largest task matters, not the sum over tasks
_MAX_OF_TASKS = {"sort_peak_mb"}


def _node_kind(name: str) -> str | None:
    if name == "Exchange":
        return "exchange"
    if name == "Sort":
        return "sort"
    if name.startswith("Scan "):
        return "scan"
    if "InArrow" in name or "InPandas" in name or "Python" in name:
        return "python"
    return None


def parse_metric(text: str, take_max: bool = False) -> float:
    """Seconds or MB from one display string of the SQL status store.

    A per-task metric reads "total (min, med, max (stageId: taskId))" on
    its first line and the values on the second."""
    lines = text.split("\n")
    body = lines[-1]
    if take_max and len(lines) > 1:
        # "<total> (<min>, <med>, <max> (stage s: task t))"
        inner = body[body.index("(") + 1 :]
        body = inner.split(", ")[2]
    m = _VALUE.match(body)
    if m is None:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit] / 1e6
    if unit in _TIME:
        return num * _TIME[unit]
    return num


class ActionReader:
    """Job groups and SQL executions of the actions run through it."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._groups = itertools.count()
        self._drain()
        executions = self._store.executionsList()
        ids = [executions.apply(i).executionId() for i in range(executions.size())]
        self._next_exec = max(ids) + 1 if ids else 0

    def _drain(self) -> None:
        # metrics reach the status store through the asynchronous listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def begin(self, label: str) -> str:
        """Put the actions that follow into a new, never reused job group."""
        group = f"perfbench-{label}-{next(self._groups)}"
        self._sc.setJobGroup(group, label, False)
        return group

    def jobs(self, group: str) -> tuple[int, int]:
        """(jobs, stages) that ran under ``group``."""
        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            stages += len(info.stageIds) if info is not None else 0
        return len(job_ids), stages

    def new_executions(self) -> list[int]:
        """Ids of the SQL executions started since the previous call."""
        self._drain()
        out = []
        while self._store.execution(self._next_exec).isDefined():
            out.append(self._next_exec)
            self._next_exec += 1
        return out

    def plan_metrics(self, execution_ids: list[int]) -> dict[str, float]:
        """Python, Exchange, Sort and Scan node metrics of the final plans,
        summed over nodes and executions (``sort_peak_mb``: largest task)."""
        out = dict.fromkeys(_WANTED.values(), 0.0)
        for eid in execution_ids:
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                kind = _node_kind(node.name())
                if kind is None:
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    key = _WANTED.get((kind, pm.name()))
                    if key is None:
                        continue
                    text = values.get(pm.accumulatorId())
                    if not text.isDefined():
                        continue
                    v = parse_metric(text.get(), take_max=key in _MAX_OF_TASKS)
                    out[key] = max(out[key], v) if key in _MAX_OF_TASKS else out[key] + v
        return out
