"""Spans and Spark counters recorded from the benchmark's own code.

Spark is lazy, so a public call into the engine only builds a plan and
the work happens in the action that follows. The benchmark therefore
puts one span around the call (``<op>.plan``) and one around the action
(``<op>.exec``), both children of the operation's span. Spans live in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (name, start, end, parent, op_id).

    ``active`` is switched per pass, so a traced run can interleave
    traced and untraced passes and report the difference as the
    tracing overhead. Inactive spans cost one attribute read."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op_id"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op_id": op_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def pass_totals(self, pass_name: str, suffix: str) -> list[float]:
        """Per `pass_name` span, the summed duration of the spans named
        ``*<suffix>`` under its operations (e.g. all plan spans)."""
        passes = {i: 0.0 for i, s in enumerate(self.spans) if s["name"] == pass_name}
        for s in self.spans:
            if s["name"].endswith(suffix) and s["parent"] is not None:
                grand = self.spans[s["parent"]]["parent"]
                if grand in passes:
                    passes[grand] += s["end"] - s["start"]
        return list(passes.values())

    def self_time(self, idx: int) -> float:
        """A span's duration minus the time its direct children cover."""
        s = self.spans[idx]
        kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == idx)
        return (s["end"] - s["start"]) - kids

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({**s, "id": i, "self_s": self.self_time(i)}) + "\n")


class SparkCounters:
    """Per-operation Spark engine counts: jobs and tasks through the
    public status tracker, shuffle bytes through the driver's status
    store, GC time through the JVM management beans."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jvm = spark._jvm
        self._jsc = self.sc._jsc.sc()
        self.per_op: dict[str, dict] = {}
        self._gc0 = 0.0

    def gc_s(self) -> float:
        mf = self._jvm.java.lang.management.ManagementFactory
        it = mf.getGarbageCollectorMXBeans().iterator()
        ms = 0
        while it.hasNext():
            ms += max(0, it.next().getCollectionTime())
        return ms / 1000.0

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)
        self._gc0 = self.gc_s()

    def end(self, op_id: str) -> None:
        gc = self.gc_s() - self._gc0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        # stage completion reaches the status store through the async
        # listener bus; drain it so the last stage of the op is counted
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(op_id)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = 0
        shuffle_bytes = 0
        store = self._jsc.statusStore()
        task_statuses = getattr(store, "stageData$default$3")()
        quantiles = getattr(store, "stageData$default$5")()
        for sid in stage_ids:
            attempts = store.stageData(sid, False, task_statuses, False, quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "COMPLETE":
                    tasks += st.numCompleteTasks()
                    shuffle_bytes += st.shuffleWriteBytes()
        self.per_op[op_id] = {
            "jobs": len(job_ids),
            "tasks": tasks,
            "shuffle_write_mb": shuffle_bytes / 2**20,
            "gc_s": gc,
        }

    def mean(self, key: str) -> float:
        vals = [c[key] for c in self.per_op.values()]
        return sum(vals) / len(vals) if vals else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of this
    process plus `root_pid` and every live descendant of it: the JVM
    and the Python workers it forked."""
    tck = os.sysconf("SC_CLK_TCK")
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    own = os.times()
    return sum(stats[p][1] for p in tree if p in stats) / tck + own.user + own.system
