"""Outside-in tracing for the benchmark: spans around calls into the
engine's layers, Spark's own stage counters per span, and process-tree
memory.

A span runs its call under a Spark job group of its own. When the call
returns, the tracer waits for Spark's listener bus to drain and sums the
stages of that group's jobs from the application status store, before
``spark.ui.retainedStages`` can evict them. Nested spans restore the
parent's group on exit; a span's counters include its children's.

Spans are kept in memory; ``Tracer.dump`` writes them out at the end.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "cpu_s",
    "wait_s",
    "input_bytes",
    "shuffle_bytes",
    "spill_bytes",
    "output_bytes",
)


class Tracer:
    """Records spans (name, start, end, parent, op id, counters). While
    ``enabled`` is false every method is a plain pass-through."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[dict] = []
        self._spark = None
        self._groups = 0

    def bind(self, spark) -> None:
        """Use this session for job groups and counters (a new session
        replaces the old one after a restart)."""
        self._spark = spark

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self._spark.sparkContext
        self._groups += 1
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "group": f"perfbench-{os.getpid()}-{self._groups}",
            "child_s": 0.0,
            "counters": dict.fromkeys(COUNTERS, 0),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            own = self._group_counters(rec["group"])
            for k, v in own.items():
                rec["counters"][k] += v
            if self._stack:
                parent = self._stack[-1]
                sc.setJobGroup(parent["group"], parent["name"])
                parent["child_s"] += rec["end"] - rec["start"]
                for k, v in rec["counters"].items():
                    parent["counters"][k] += v
            else:
                sc._jsc.clearJobGroup()

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _group_counters(self, group: str) -> dict:
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(jobs)
        for s in stage_ids:
            d = store.lastStageAttempt(s)
            if d.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            run_s = d.executorRunTime() / 1e3
            cpu_s = d.executorCpuTime() / 1e9
            out["stages"] += 1
            out["tasks"] += d.numCompleteTasks()
            out["cpu_s"] += cpu_s
            out["wait_s"] += run_s - cpu_s
            out["input_bytes"] += d.inputBytes()
            out["shuffle_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.diskBytesSpilled()
            out["output_bytes"] += d.outputBytes()
        return out

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["op"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median(values) -> float:
    v = sorted(values)
    if not v:
        return 0.0
    mid = len(v) // 2
    return float(v[mid]) if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def layer_metrics(tracer: Tracer, name: str, measures: tuple[str, ...], ops=None) -> dict:
    """Per-op medians of one layer's spans: ``s`` (wall time),
    ``self_s`` (wall time minus child spans) and any of ``COUNTERS``.
    Spans of one op are summed first, so a layer called twice in an op
    counts both calls. ``ops``, if given, keeps only those op ids."""
    per_op: dict[int, dict] = {}
    for s in tracer.by_name(name):
        if ops is not None and s["op"] not in ops:
            continue
        acc = per_op.setdefault(s["op"], {"s": 0.0, "self_s": 0.0, **dict.fromkeys(COUNTERS, 0)})
        acc["s"] += s["end"] - s["start"]
        acc["self_s"] += s["end"] - s["start"] - s["child_s"]
        for k in COUNTERS:
            acc[k] += s["counters"][k]
    return {
        f"{name}.{m}": median(op[m] for op in per_op.values()) for m in measures
    }


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we scanned
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class PeakRss:
    """Peak resident set of a process tree (the driver JVM and the Python
    workers): the largest ``VmHWM`` seen for each process over every
    ``poll``, summed. Polling after each op also counts workers that exit
    before the run ends."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.kb: dict[int, int] = {}

    def poll(self) -> None:
        for pid in process_tree(self.root_pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.kb[pid] = max(self.kb.get(pid, 0), int(line.split()[1]))
                            break
            except OSError:
                continue  # exited while we scanned

    def mb(self) -> float:
        return sum(self.kb.values()) / 1024


def self_times(tracer: Tracer) -> dict[str, float]:
    """Median per-op self time (wall time less child spans) of every
    traced layer."""
    per: dict[str, dict[int, float]] = {}
    for s in tracer.spans:
        if s["op"] is None:
            continue
        d = per.setdefault(s["name"], {})
        d[s["op"]] = d.get(s["op"], 0.0) + s["end"] - s["start"] - s["child_s"]
    return {name: median(v.values()) for name, v in per.items()}
