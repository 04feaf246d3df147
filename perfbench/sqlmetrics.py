"""Spark's own per-operator SQL metrics, read from the status store.

Spark keeps every SQL execution's plan graph and accumulated metric values
in ``sharedState().statusStore()`` even with ``spark.ui.enabled=false``.
Values arrive as the UI's formatted strings; :func:`parse_metric` turns
them into numbers in base units (seconds, bytes, counts).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_SCALE = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "PiB": 2.0**50,
}
_VAL = r"-?[\d,]+(?:\.\d+)?(?:\s*[A-Za-z]+)?"
_STATS = re.compile(
    rf"^\s*(?P<total>{_VAL})\s*\((?P<min>{_VAL}),\s*(?P<med>{_VAL}),\s*(?P<max>{_VAL})\s*\(.*\)\)\s*$"
)
_PLAIN = re.compile(rf"^\s*(?P<total>{_VAL})\s*$")
# average metrics have no total, only the per-task stats
_AVERAGE = re.compile(
    rf"^\s*\((?P<min>{_VAL}),\s*(?P<med>{_VAL}),\s*(?P<max>{_VAL})\s*\(.*\)\)\s*$"
)


@dataclass(frozen=True)
class MetricValue:
    """A metric's total and, for per-task metrics, its task min/med/max."""

    total: float
    min: float | None = None
    med: float | None = None
    max: float | None = None


def _number(text: str) -> float:
    m = re.fullmatch(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)\s*", text)
    if m is None:
        raise ValueError(f"not a metric value: {text!r}")
    unit = m.group(2)
    if unit and unit not in _SCALE:
        raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
    return float(m.group(1).replace(",", "")) * _SCALE.get(unit, 1.0)


def parse_metric(text: str) -> MetricValue:
    """Parse one formatted SQL metric: ``51.8 MiB``, ``4.4 s``, ``140 ms``,
    ``200,000``, the per-task form ``total (min, med, max (stageId:
    taskId))\\n13.1 s (3.0 s, 3.3 s, 3.6 s (stage 3.0: task 14))``, or an
    average's ``(min, med, max (stageId: taskId)):\\n(1, 1, 1 (stage 26.0:
    task 48))``, whose median stands in for the total."""
    if text.startswith("(min, med, max"):
        m = _AVERAGE.match(text.split("\n", 1)[-1])
        if m is None:
            raise ValueError(f"not a metric value: {text!r}")
        lo, med, hi = (_number(m.group(k)) for k in ("min", "med", "max"))
        return MetricValue(med, lo, med, hi)
    body = text.split("\n", 1)[1] if text.startswith("total (") else text
    m = _STATS.match(body)
    if m:
        return MetricValue(*(_number(m.group(k)) for k in ("total", "min", "med", "max")))
    m = _PLAIN.match(body)
    if m is None:
        raise ValueError(f"not a metric value: {text!r}")
    return MetricValue(_number(m.group("total")))


@dataclass(frozen=True)
class NodeMetric:
    execution_id: int
    node: str
    parent: str | None
    name: str
    value: MetricValue


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusStore:
    """Reads the SQL executions a span started, node by node."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_execution_id(self) -> int:
        ids = [e.executionId() for e in _seq(self._store.executionsList())]
        return max(ids, default=-1)

    def metrics_since(self, after_id: int) -> list[NodeMetric]:
        """Every metric of every execution with id > ``after_id``."""
        out: list[NodeMetric] = []
        for ex in _seq(self._store.executionsList()):
            eid = ex.executionId()
            if eid <= after_id:
                continue
            values = self._store.executionMetrics(eid)
            graph = self._store.planGraph(eid)
            nodes = {n.id(): n for n in _seq(graph.allNodes())}
            parent = {e.fromId(): e.toId() for e in _seq(graph.edges())}
            for nid, node in nodes.items():
                pid = parent.get(nid)
                pname = nodes[pid].name() if pid in nodes else None
                for pm in _seq(node.metrics()):
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        out.append(
                            NodeMetric(eid, node.name(), pname, pm.name(), parse_metric(v.get()))
                        )
        return out


def total(metrics: list[NodeMetric], name: str, node: str | None = None,
          parent: str | None = None) -> float:
    """Sum of a metric's totals, optionally only on nodes named ``node``
    whose parent is named ``parent``."""
    return sum(
        (
            m.value.total
            for m in metrics
            if m.name == name
            and (node is None or m.node == node)
            and (parent is None or m.parent == parent)
        ),
        0.0,
    )


def skew(metrics: list[NodeMetric], name: str) -> float:
    """max/median task value of ``name`` on the execution where it is
    largest in total; 0.0 when no execution has per-task stats for it."""
    per_task = [m.value for m in metrics if m.name == name and m.value.med]
    if not per_task:
        return 0.0
    v = max(per_task, key=lambda x: x.total)
    return v.max / v.med
