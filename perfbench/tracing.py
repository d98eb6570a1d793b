"""Spans around the benchmark's calls into each library layer, and the
reader for Spark's executed-plan metrics.

A span records name, start, end, parent span and job id.  Spans stay in
memory and are written out once, when the run ends.  A span's self time is
its duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

#: executed-plan metrics read into span counters, by Spark's metric name
PLAN_METRICS = {
    "pythonDataSent": "python_bytes_sent",
    "pythonNumRowsReceived": "python_rows_received",
    "pythonTotalTime": "python_time_ms",
    "shuffleBytesWritten": "shuffle_bytes",
}


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def plan_nodes(jplan) -> list:
    """Every physical node of an executed plan, descending through
    ``AdaptiveSparkPlanExec.executedPlan()`` and ``*QueryStageExec.plan()``
    so the nodes that actually ran under adaptive execution are reached."""
    out, stack = [], [jplan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        out.append(node)
        stack.extend(_scala_seq(node.children()))
    return out


def plan_metrics(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, {metric: value}) for every node of ``df``'s executed plan.
    Read it after an action on ``df`` itself (``collect``, ``toArrow``,
    ``localCheckpoint``): a write runs under its own QueryExecution and
    leaves this plan's metrics empty."""
    rows = []
    for node in plan_nodes(df._jdf.queryExecution().executedPlan()):
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = int(kv._2().value())
        rows.append((node.nodeName(), vals))
    return rows


def plan_counters(df) -> dict[str, int]:
    """Sums of the PLAN_METRICS over ``df``'s plan, plus ``rows_out``: the
    output rows of the plan's topmost node that reports ``numOutputRows``."""
    totals: dict[str, int] = defaultdict(int)
    rows_out = None
    for _, vals in plan_metrics(df):
        for spark_name, ours in PLAN_METRICS.items():
            if spark_name in vals:
                totals[ours] += vals[spark_name]
        if rows_out is None and "numOutputRows" in vals:
            rows_out = vals["numOutputRows"]
    totals["rows_out"] = rows_out or 0
    return dict(totals)


class Tracer:
    """Collects spans for one run.  A disabled tracer costs one branch per
    span and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job_id: str | None = None

    @contextmanager
    def span(self, name: str, **counters):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "job": self.job_id,
            "start": time.perf_counter(),
            "end": None,
            "counters": dict(counters),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counters"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children[s["id"]]):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")
