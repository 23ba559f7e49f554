"""Benchmark-side instrumentation: spans, process-tree RSS and Spark
event-log counters.

Spans are recorded only here, around the benchmark's calls into each
layer of the package; the package itself is not instrumented.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

#: per-task counters summed from the event log, in the order printed
SESSION_COUNTERS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "task_wait_s",
    "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "failed_tasks",
)


class Tracer:
    """In-memory spans: name, start, end, parent span and run id.

    ``span`` also sets the Spark job group to the layer name when a
    SparkContext is given, so the event log attributes the layer's jobs
    to it.  Spans are kept in memory and written out by ``dump``.
    """

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        if group is not None and self.sc is not None:
            self.sc.setJobGroup(f"{group}@{self.run_id}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None and self.sc is not None:
                self.sc.setJobGroup(f"bench@{self.run_id}", "")

    def self_time(self, idx: int) -> float:
        """Span duration minus the part covered by its direct children."""
        s = self.spans[idx]
        kids = sum(
            c["end"] - c["start"] for c in self.spans if c["parent"] == idx
        )
        return (s["end"] - s["start"]) - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({**s, "id": i, "self": self.self_time(i)}) + "\n")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (driver, JVM, Python workers)."""
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _image(pid: int) -> tuple[str, str]:
    """(executable, command name) of a process."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return os.readlink(f"/proc/{pid}/exe"), f.read().strip()
    except OSError:
        return "", ""


def tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and its descendants.

    A child running its parent's executable under another command name
    is a fork caught before it exec'd (the JVM names it after the
    forking thread); it shares the parent's pages, so it is skipped.
    """
    total = 0
    todo: list[tuple[int, tuple[str, str]]] = [(root, ("", ""))]
    while todo:
        pid, (p_exe, p_comm) = todo.pop()
        exe, comm = _image(pid)
        if exe and exe == p_exe and comm != p_comm:
            continue
        total += _rss_kb(pid)
        todo.extend((c, (exe, comm)) for c in _children(pid))
    return total


class RssSampler:
    """Background thread sampling the summed RSS of the process tree."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            kb = tree_rss_kb(self.root)
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


#: the metric a SQL plan node reports its row count under
ROWS_METRIC = "number of output rows"
#: the key lists of an equi-join node, as in
#: ``BroadcastHashJoin [roadID#173], [ROAD_ID#1], Inner, BuildLeft, false``
_JOIN_KEYS = re.compile(r"^\w*Join \[([^\]]*)\], \[([^\]]*)\]")


def _new_counters() -> dict:
    return {k: 0 for k in SESSION_COUNTERS} | {
        "pandas_stages": 0, "pandas_task_s": 0.0, "join_rows": {},
    }


def _join_row_metrics(plan: dict, out: dict[int, frozenset]) -> None:
    """Map the row-count accumulator of every equi-join node in a SQL
    plan tree to the join's key columns."""
    m = _JOIN_KEYS.match(plan.get("simpleString") or "")
    if m:
        cols = frozenset(
            re.sub(r"#\d+L?", "", c.strip())
            for side in m.groups() for c in side.split(",")
        )
        for metric in plan.get("metrics", []):
            if metric["name"] == ROWS_METRIC:
                out[metric["accumulatorId"]] = cols
    for child in plan.get("children", []):
        _join_row_metrics(child, out)


def join_rows(counters: dict, columns: set[str]) -> int | None:
    """Rows output by the equi-joins of a job group whose key columns
    include all of ``columns``; None when the group ran no such join."""
    hits = [n for cols, n in counters["join_rows"].items() if columns <= cols]
    return sum(hits) if hits else None


def parse_event_log(path: str) -> dict[str, dict]:
    """Sum engine counters per job group from an uncompressed event log.

    Returns ``{job_group: counters}``.  A stage counts once when it
    completes (skipped stages never do); ``pandas_stages`` counts
    completed stages that ran a grouped-pandas (``FlatMapGroupsInPandas``)
    operator, and ``pandas_task_s`` sums their tasks' run time.
    ``task_wait_s`` is per task (finish − launch − executor run time)
    plus shuffle fetch wait: time the task existed without running.
    ``join_rows`` maps the key columns of each equi-join the group's SQL
    plans ran (adaptive re-plans included) to its summed output rows.
    """
    stage_group: dict[int, str] = {}
    pandas_stage: set[int] = set()
    stage_task_s: dict[int, float] = {}
    join_acc: dict[int, frozenset] = {}
    acc_rows: dict[tuple[str, int], int] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, _new_counters())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                g(grp)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = grp
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                grp = stage_group.get(sid, "none")
                g(grp)["stages"] += 1
                if any(
                    "FlatMapGroupsInPandas" in (r.get("Scope") or "")
                    or "FlatMapGroupsInPandas" in (r.get("Name") or "")
                    for r in info.get("RDD Info", [])
                ):
                    pandas_stage.add(sid)
                    g(grp)["pandas_stages"] += 1
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _join_row_metrics(ev["sparkPlanInfo"], join_acc)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                grp = stage_group.get(sid, "none")
                c = g(grp)
                info = ev.get("Task Info", {})
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == ROWS_METRIC:
                        key = (grp, acc["ID"])
                        acc_rows[key] = acc_rows.get(key, 0) + int(acc["Update"])
                m = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                if info.get("Failed") or info.get("Killed"):
                    c["failed_tasks"] += 1
                run_ms = m.get("Executor Run Time", 0)
                c["task_run_s"] += run_ms / 1e3
                c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                life_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                c["task_wait_s"] += (
                    max(0, life_ms - run_ms) + sr.get("Fetch Wait Time", 0)
                ) / 1e3
                stage_task_s[sid] = stage_task_s.get(sid, 0.0) + run_ms / 1e3
    # a stage's operators are known only at its completion, after its
    # tasks ended, so pandas task time is attributed once at the end
    for sid in pandas_stage:
        g(stage_group.get(sid, "none"))["pandas_task_s"] += stage_task_s.get(sid, 0.0)
    # a re-planned join gets new accumulators, so ids are resolved last
    for (grp, acc), rows in acc_rows.items():
        if acc in join_acc:
            jr = g(grp)["join_rows"]
            jr[join_acc[acc]] = jr.get(join_acc[acc], 0) + rows
    return groups
