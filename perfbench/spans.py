"""Tracing from outside the engine, plus the host-window record.

A span wraps one call into an engine layer and records its wall time and
the CPU time of this process tree (see :func:`tree_cpu_s`). In a traced run
each span also sets its own Spark job group (``<layer>.<call>#<span id>``),
so every job, and every task-end metric in the Spark event log, is
attributed to the span that launched it. Spans stay in memory and are
written out at the end. Untraced runs use the same code with spans reduced
to the two timers.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

PY_MAP_NODES = {"MapInPandas", "MapInArrow", "PythonMapInArrow"}


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.peak_rss = 0

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "cpu": tree_cpu_s(), "start": time.time()}
        if not self.enabled:
            yield rec
            rec["end"] = time.time()
            rec["cpu"] = tree_cpu_s() - rec["cpu"]
            return
        rec["parent"] = self._stack[-1] if self._stack else None
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(f"{name}#{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["cpu"] = tree_cpu_s() - rec["cpu"]
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{parent['name']}#{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(os.getpid()))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark event log → per-job-group task metrics
# ---------------------------------------------------------------------------


def _events(log_dir: str):
    for root, _dirs, names in os.walk(log_dir):
        for n in sorted(names):
            if n.startswith((".", "appstatus")):
                continue
            with open(os.path.join(root, n)) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def _decode_row_accums(plan: dict, out: set[int]) -> bool:
    """Collect the output-row accumulators of the lowest Python map node in
    each branch (the block/position decoder). Returns whether the subtree
    holds a Python map node."""
    below = False
    for child in plan.get("children", []):
        below |= _decode_row_accums(child, out)
    if plan.get("nodeName") in PY_MAP_NODES:
        if not below:
            out.update(
                m["accumulatorId"] for m in plan.get("metrics", [])
                if m["name"] == "number of output rows"
            )
        return True
    return below


def new_group_stats() -> dict:
    return {
        "jobs": 0, "python_ms": 0, "py_in": 0, "py_out": 0,
        "shuffle_write": 0, "spill": 0, "input_bytes": 0, "decoded_rows": 0,
        "stage_runs": {}, "last_submit": None,
    }


def job_group_metrics(log_dir: str) -> tuple[dict[str, dict], dict]:
    """Aggregate task-end metrics by job group. Returns (per group, session)."""
    events = list(_events(log_dir))
    decode_ids: set[int] = set()
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    session = {"jobs": 0, "tasks": 0}
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            _decode_row_accums(e["sparkPlanInfo"], decode_ids)
        elif kind == "SparkListenerJobStart":
            session["jobs"] += 1
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            st = groups.setdefault(g, new_group_stats())
            st["jobs"] += 1
            st["last_submit"] = max(st["last_submit"] or 0, e["Submission Time"])
            for s in e["Stage IDs"]:
                stage_group[s] = g
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        session["tasks"] += 1
        g = stage_group.get(e["Stage ID"], "")
        st = groups.setdefault(g, new_group_stats())
        m = e.get("Task Metrics") or {}
        st["stage_runs"].setdefault(e["Stage ID"], []).append(m.get("Executor Run Time", 0))
        st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if upd is None:
                continue
            upd = int(upd)
            if name == "time to run Python workers":
                st["python_ms"] += upd
            elif name == "data sent to Python workers":
                st["py_in"] += upd
            elif name == "data returned from Python workers":
                st["py_out"] += upd
            elif acc.get("ID") in decode_ids:
                st["decoded_rows"] += upd
    return groups, session


def task_skew(stats: dict) -> float:
    """max / median task run time of the group's heaviest stage."""
    runs = max(stats["stage_runs"].values(), key=sum, default=[])
    med = statistics.median(runs) if runs else 0
    return max(runs) / med if med else 1.0


# ---------------------------------------------------------------------------
# host window: memory, CPU steal, engine-free control
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    """RSS of this process plus its descendants: the driver JVM and the
    Python workers it forks."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM, the Python workers), reaped children included. The kernel
    keeps CPU steal out of these figures, so on a shared host they move
    less than wall time does."""
    ticks = 0
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def control_pass() -> float:
    """Engine-free host probe: best of three numpy sort+cumsum passes over
    16 MB, in passes per second. Bracketing a run with it shows a throttled
    window next to the numbers taken in it."""
    import numpy as np

    a = np.random.default_rng(1).integers(0, 1000, 2_000_000).astype(np.int64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        float(np.sort(a).cumsum()[-1])
        best = min(best, time.perf_counter() - t0)
    return 1.0 / best
