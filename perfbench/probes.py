"""Observation helpers for the benchmark: process-tree CPU and memory from
/proc, the host-speed control, an in-memory span tracer, and a reader for
Spark's uncompressed JSON event log.

Nothing here imports Spark; the tracer is handed a callback that tags Spark
jobs with the current span so the event log can be split by span.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

import numpy as np

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    """Median, 0.0 for no values."""
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------- /proc

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # process ended between listing and reading
        return None
    # comm may contain spaces; the fields after it start at ") "
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children[int(fields[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    ticks = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields:  # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def tree_pss_bytes(root: int) -> int:
    """Resident memory of the tree, as PSS: a page shared by forked Python
    workers counts once, not once per worker."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread recording the peak resident memory of a process
    tree."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- host control

def steal_ticks() -> int:
    """Host-wide steal jiffies so far (8th value of the /proc/stat cpu line)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


_CALIB = np.random.default_rng(0).random(1_000_000)


def calib_s() -> float:
    """Seconds for a fixed single-thread numpy sort: the host-speed control."""
    t0 = time.perf_counter()
    np.sort(_CALIB)
    return time.perf_counter() - t0


# ---------------------------------------------------------------- tracing

class Tracer:
    """Spans kept in memory: name, start, end, parent, pass id.

    ``on_switch(span_id)`` is called with the innermost open span (None when
    the last one closes), so the caller can tag the Spark jobs started inside
    a span with its id.  A disabled tracer records nothing and calls
    nothing."""

    def __init__(self, enabled: bool, on_switch=None):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self._stack: list[int] = []
        self._on_switch = on_switch

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "pass": self.pass_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self._on_switch:
            self._on_switch(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._on_switch:
                self._on_switch(parent)

    def durations(self, name: str, passes=None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (passes is None or s["pass"] in passes)]

    def subtree(self, sid: int) -> set[int]:
        """``sid`` and every span nested under it."""
        out = {sid}
        for s in self.spans[sid + 1:]:
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


# ---------------------------------------------------------------- event log

_SQL = "org.apache.spark.sql.execution.ui."
_NS_TYPES = {"nsTiming"}
_MS_TYPES = {"timing"}


def _walk_plan(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk_plan(child)


class EventLog:
    """Spark's event log reduced to per-job-group totals.

    Each task's metrics and each SQL metric update are charged to the job
    group of the job that ran them; SQL metrics are named through the
    ``sparkPlanInfo`` trees (accumulator id -> plan node, metric)."""

    def __init__(self, path: str):
        self.accum: dict[int, tuple[str, str, str]] = {}
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.exec_plan: dict[int, dict] = {}
        self.groups: dict[str, dict] = defaultdict(self._new_group)
        pending_driver: list[tuple[int, int, float]] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind in (_SQL + "SparkListenerSQLExecutionStart",
                            _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    self.exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
                    for node in _walk_plan(ev["sparkPlanInfo"]):
                        for m in node.get("metrics", ()):
                            self.accum[m["accumulatorId"]] = (
                                node["nodeName"], m["name"], m["metricType"])
                elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                    for m in ev["sqlPlanMetrics"]:
                        self.accum.setdefault(
                            m["accumulatorId"], ("?", m["name"], m["metricType"]))
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in ev["accumUpdates"]:
                        pending_driver.append((ev["executionId"], acc_id, value))
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    self.groups[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        self.stage_group.setdefault(sid, group)
                    exec_id = props.get("spark.sql.execution.id")
                    if exec_id is not None:
                        self.exec_group.setdefault(int(exec_id), group)
                elif kind == "SparkListenerTaskEnd":
                    self._task_end(ev)
        for exec_id, acc_id, value in pending_driver:
            group = self.exec_group.get(exec_id)
            if group is not None:
                self._add_sql(self.groups[group], acc_id, value)

    @staticmethod
    def _new_group() -> dict:
        return {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_write_b": 0, "sql": defaultdict(float)}

    def _add_sql(self, g: dict, acc_id: int, value) -> None:
        info = self.accum.get(acc_id)
        if info is None:
            return
        node, name, mtype = info
        v = float(value)
        if mtype in _NS_TYPES:
            v /= 1e9
        elif mtype in _MS_TYPES:
            v /= 1e3
        g["sql"][(node, name)] += v

    def _task_end(self, ev: dict) -> None:
        group = self.stage_group.get(ev["Stage ID"])
        if group is None:
            return
        g = self.groups[group]
        g["tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        g["run_s"] += tm.get("Executor Run Time", 0) / 1e3
        g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        g["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            if "Update" in acc:
                self._add_sql(g, acc["ID"], acc["Update"])

    def total(self, groups, key: str) -> float:
        return sum(self.groups[g][key] for g in groups if g in self.groups)

    def sql(self, groups, metric: str, node_part: str = "") -> float:
        """Sum of one SQL metric over the given groups (optionally only on
        plan nodes whose name contains ``node_part``)."""
        return sum(v for g in groups if g in self.groups
                   for (node, name), v in self.groups[g]["sql"].items()
                   if name == metric and node_part in node)

    def max_scans(self, groups) -> int:
        """Most file-scan nodes in any one executed plan of the groups."""
        best = 0
        for exec_id, group in self.exec_group.items():
            if group in groups and exec_id in self.exec_plan:
                n = sum(1 for node in _walk_plan(self.exec_plan[exec_id])
                        if node["nodeName"].startswith("Scan "))
                best = max(best, n)
        return best
