"""Spans, Spark status-store counters and process-tree memory.

Everything here runs in the benchmark's own process, around calls into
``carpet_spark``; nothing is added inside the package.  Spans are kept in
memory and written out once, at exit.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records one span per call at a layer boundary: name, start, end,
    parent, op and pass.  Disabled, ``span`` costs one generator step."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, pass_no: int | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "pass": pass_no,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, passes: set[int]) -> dict[str, float]:
        """Per span name, summed over the given passes: duration minus the
        time its direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["pass"] in passes:
                out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkCounters:
    """Job, stage and task counts for one job group, read from Spark's
    status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._jvm = gw.jvm

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, group: str) -> dict[str, float]:
        """Sum over the group's executed stages (skipped stages, whose
        shuffle output was reused, did no work and are not counted)."""
        # the status store is fed by an asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        job_ids = self.jobs(group)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        t = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "single_task_stages": 0,
             "shuffle_mb": 0.0, "spill_mb": 0.0, "executor_cpu_s": 0.0}
        for sid in sorted(stage_ids):
            attempts = store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() != "COMPLETE":
                    continue
                t["stages"] += 1
                t["tasks"] += d.numCompleteTasks()
                t["single_task_stages"] += d.numTasks() == 1
                t["shuffle_mb"] += (d.shuffleReadBytes() + d.shuffleWriteBytes()) / 1e6
                t["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / 1e6
                t["executor_cpu_s"] += d.executorCpuTime() / 1e9
        return t


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants: the
    driver, its JVM and the JVM's Python workers."""
    kids = _children()
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 1e6
