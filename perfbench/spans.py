"""Spans and per-layer counters for the traced run.

Spans are recorded around the benchmark's own calls into each layer (the
program itself is not instrumented).  Each span has a name, start, end, its
parent span and one ID per query execution or micro-batch.  They stay in
memory and are written once, when the run ends.

The counters come from Spark's own status APIs, read after each query:
the status tracker (jobs of a job group), the app status store (per-stage
shuffle, spill and input bytes), and the SQL status store, whose plan graph
is the final adaptive plan with the query stages expanded and carries the
formatted SQL metrics (`299.3 KiB`, `2.3 s`, `19,243`).
"""

from __future__ import annotations

import contextlib
import re
import threading
import time
from collections import Counter

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NODE = re.compile(r'label="(?:<br>)*<b>(.*?)</b>(.*?)" tooltip=')
_TOTAL = re.compile(r"(.*?):?(?: total)? \(min, med, max \(stageId: taskId\)\):?\s*(.*)$")
SHUFFLE_EXCHANGE = "Exchange"
SORT_MERGE_JOIN = "SortMergeJoin"
BROADCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
PY_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number: bytes, seconds or a count."""
    num, _, unit = text.strip().partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


def parse_dot(dot: str) -> list[tuple[str, dict[str, str]]]:
    """(node name, {metric name: formatted value}) for every node of a plan
    graph's DOT rendering.  A metric gathered from several tasks renders as
    `name total (min, med, max (stageId: taskId))` (an average without
    `total`), then its values on the same line or the next; the value kept
    is the first of them, the total."""
    nodes = []
    for name, label in _NODE.findall(dot):
        metrics: dict[str, str] = {}
        pending = None
        for part in label.split("<br>"):
            if pending is not None:
                metrics[pending] = part.split(" (")[0]
                pending = None
            elif m := _TOTAL.match(part):
                if m[2]:
                    metrics[m[1]] = m[2].split(" (")[0]
                else:
                    pending = m[1]
            elif ": " in part:
                key, _, val = part.partition(": ")
                metrics[key] = val
        nodes.append((name.strip(), metrics))
    return nodes


class Tracer:
    """Span recorder.  Disabled, `span` yields without recording.  Each
    thread nests its own spans (micro-batch bodies run on Spark's callback
    thread)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, ident: str = ""):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "id": ident,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0


class SparkCounters:
    """Reads one query's counters from Spark's status APIs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far: the
        status stores are fed asynchronously."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        self.settle()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def sql_executions(self) -> int:
        self.settle()
        return self.sql_store.executionsCount()

    def read(self, group: str, first_execution: int) -> Counter:
        """Counters of the jobs in `group` and of the SQL executions numbered
        from `first_execution` on."""
        c: Counter = Counter()
        tracker = self.sc.statusTracker()
        for job in self.jobs(group):
            c["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                sd = self.app_store.lastStageAttempt(stage)
                if str(sd.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["scan_bytes"] += sd.inputBytes()
        execs = self.sql_store.executionsList(first_execution, 1 << 20)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            dot = self.sql_store.planGraph(eid).makeDotFile(self.sql_store.executionMetrics(eid))
            for name, metrics in parse_dot(dot):
                c["exchanges"] += name == SHUFFLE_EXCHANGE
                c["sort_merge_joins"] += name == SORT_MERGE_JOIN
                c["broadcast_joins"] += name in BROADCAST_JOINS
                for label, key in PY_METRICS.items():
                    if label in metrics:
                        c[key] += parse_metric(metrics[label])
                if "data returned from Python workers" in metrics:
                    c["python_rows_received"] += parse_metric(metrics["number of output rows"])
        return c
