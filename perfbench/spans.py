"""Spans around layer calls, and Spark event-log task metrics
attributed to layers through job groups.

A span records name, start, end and its parent span.  While a span is
open its name is the Spark job group, so every job the layer call
starts is attributed to it in the event log.  With tracing off the
span is a no-op context manager and no job group is set.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = spark.sparkContext if spark is not None else None
        self.spans = []          # (id, parent id, name, start, end)
        self._stack = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([sid, parent, name, time.perf_counter(), None])
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.spans[sid][4] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    pname = self.spans[self._stack[-1]][2]
                    self.sc.setJobGroup(pname, pname)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def calls(self, name: str) -> int:
        return sum(1 for _, _, n, _, _ in self.spans if n == name)

    def mean(self, name: str, self_time: bool = False) -> float:
        """Mean duration of the spans with this name; with ``self_time``
        minus the part their child spans cover."""
        ids = {i for i, _, n, _, _ in self.spans if n == name}
        total = sum(e - s for i, _, _, s, e in self.spans if i in ids)
        if self_time:
            total -= sum(e - s for _, p, _, s, e in self.spans if p in ids)
        return total / max(1, len(ids))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(("id", "parent", "name", "start", "end"), s))
                                 for s in self.spans]}, f, indent=1)


PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_TIME = "time to run Python workers"


class GroupMetrics:
    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_write = 0
        self.spill = 0
        self.py_sent = 0
        self.py_recv = 0
        self.py_time_s = 0.0
        self.stage_task_ms = {}   # stage id -> [task run ms]
        self.stage_py = {}        # stage id -> Python bytes sent


def read_event_log(directory: str) -> dict:
    """{job group: GroupMetrics} from the Spark event log(s) in
    ``directory``; jobs outside any group go under ``None``."""
    stage_group = {}
    groups = {}
    paths = [p for p in glob.glob(os.path.join(directory, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    gm = groups.setdefault(g, GroupMetrics())
                    gm.jobs += 1
                    for st in ev.get("Stage IDs", []):
                        stage_group.setdefault(st, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    gm = groups.setdefault(g, GroupMetrics())
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    gm.tasks += 1
                    gm.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                    gm.gc_s += tm.get("JVM GC Time", 0) / 1e3
                    gm.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    gm.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    st = ev.get("Stage ID")
                    gm.stage_task_ms.setdefault(st, []).append(tm.get("Executor Run Time", 0))
                    for acc in info.get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if upd is None:
                            continue
                        if name == PY_SENT:
                            gm.py_sent += int(upd)
                            gm.stage_py[st] = gm.stage_py.get(st, 0) + int(upd)
                        elif name == PY_RECV:
                            gm.py_recv += int(upd)
                        elif name == PY_TIME:
                            gm.py_time_s += int(upd) / 1e3   # timing metric, ms
    return groups


def max_over_median(ms: list) -> float:
    if not ms:
        return 1.0
    med = statistics.median(ms)
    return max(ms) / med if med > 0 else float(max(ms) > 0) + 1.0
