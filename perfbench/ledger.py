"""Spans and Spark's own per-operator SQL metrics for the traced run.

Spans are kept in memory (name, start, end, parent) and written out once
at the end. After each traced action the SQL status store is read
(``sharedState().statusStore()``, populated with the UI off): for every
execution the action started, the plan-graph nodes and their aggregated
metric values. Spark formats those values for display (``"1.2 s"``,
``"26.9 MiB"``, ``"total (min, med, max ...)\\n15.8 s (...)"``);
``metric_value`` turns them back into milliseconds, bytes or counts.
"""

from __future__ import annotations

import contextlib
import json
import time

_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_SIZE_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
           "TiB": 1 << 40}


def metric_value(text: str) -> float:
    """Total of one formatted SQL metric, in ms / bytes / count."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].strip()
    parts = head.split()
    num = float(parts[0].replace(",", ""))
    if len(parts) == 1:
        return num
    unit = parts[1]
    if unit in _TIME_MS:
        return num * _TIME_MS[unit]
    return num * _SIZE_B[unit]


class Ledger:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list = []
        self.actions: list = []
        self._stack: list = []
        jss = spark._jsparkSession
        self._sql = jss.sharedState().statusStore()
        self._app = jss.sparkContext().statusStore()
        self._bus = jss.sparkContext().listenerBus()
        self._seen = self._last_execution()
        self._seen_job = self._last_job()

    def _last_job(self) -> int:
        jobs = self._app.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())),
                   default=-1)

    def _last_execution(self) -> int:
        ex = self._sql.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())),
                   default=-1)

    def mark(self) -> None:
        """Make the next ``collect`` ignore every execution so far."""
        self._bus.waitUntilEmpty()
        self._seen = self._last_execution()
        self._seen_job = self._last_job()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def seconds(self, span: dict) -> float:
        return span["end"] - span["start"]

    def collect(self, label: str) -> list:
        """Per-node metrics of every execution finished since the last
        call: ``[{"node": name, "metric": name, "value": v}, ...]``."""
        self._bus.waitUntilEmpty()
        ex = self._sql.executionsList()
        rows = []
        newest = self._seen
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self._seen:
                continue
            newest = max(newest, eid)
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined() and m.metricType() != "average":
                        rows.append({"node": node.name().strip(),
                                     "metric": m.name(),
                                     "value": metric_value(v.get())})
        self._seen = newest
        rows.extend(self._task_skew())
        self.actions.append({"label": label, "metrics": rows})
        return rows

    def _task_skew(self) -> list:
        """max / median task duration of the stage with the longest task,
        over every job since the last call (RDD actions such as the Solr
        writer's ``foreachPartition`` run no SQL execution, but do run
        jobs)."""
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        stages = set()
        jobs = self._app.jobsList(None)
        newest = self._seen_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() > self._seen_job:
                newest = max(newest, job.jobId())
                ids = job.stageIds()
                stages.update(ids.apply(k) for k in range(ids.size()))
        self._seen_job = newest
        worst = None
        for sid in stages:
            dist = self._app.taskSummary(sid, 0, q)
            if dist.isEmpty():
                continue
            d = dist.get().duration()
            med, mx = d.apply(0), d.apply(1)
            if med > 0 and (worst is None or mx > worst[1]):
                worst = (med, mx)
        if worst is None:
            return []
        return [{"node": "stage", "metric": "task skew",
                 "value": worst[1] / worst[0]}]

    def write(self, path: str, summary: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": s["start"] - t0, "end": s.get("end", t0) - t0}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"summary": summary, "spans": spans,
                       "actions": self.actions}, fh, indent=1)


def total(rows: list, metric: str, node_prefix: str = "") -> float:
    return sum(r["value"] for r in rows
               if r["metric"] == metric and r["node"].startswith(node_prefix))


def peak(rows: list, metric: str) -> float:
    return max((r["value"] for r in rows if r["metric"] == metric),
               default=0.0)
