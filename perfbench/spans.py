"""Measurement helpers: spans, Spark job-group totals, process memory.

- :class:`Tracer` records spans (name, start, end, parent, run id) in
  memory and writes them as JSON when the run ends. Disabled, it
  records nothing and sets no job group, so untraced passes run the
  engine exactly as a user would.
- :func:`group_totals` reads Spark's status store for every stage of
  the jobs a job group ran: tasks, CPU, GC, shuffle write, fetch
  wait and spill.
- :class:`RssSampler` samples the resident memory of this process and
  all its descendants (the JVM and its Python workers) from ``/proc``;
  :func:`host_cpu` reads the host's stolen CPU time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record a span around a block and run its Spark jobs under a
        job group: ``group`` (default: name) for a top-level span, the
        enclosing span's group for a nested one. Disabled, a no-op."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1][0] if self._stack else None
        group = self._stack[-1][1] if self._stack else (group or name)
        self._stack.append((name, group))
        sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})
            if self._stack:
                sc.setJobGroup(self._stack[-1][1], self._stack[-1][0])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


STAGE_FIELDS = {
    "tasks": lambda d: d.numCompleteTasks(),
    "cpu_s": lambda d: d.executorCpuTime() / 1e9,
    "gc_s": lambda d: d.jvmGcTime() / 1e3,
    "shuffle_write_bytes": lambda d: d.shuffleWriteBytes(),
    "fetch_wait_s": lambda d: d.shuffleFetchWaitTime() / 1e3,
    "spill_bytes": lambda d: d.memoryBytesSpilled() + d.diskBytesSpilled(),
    "input_bytes": lambda d: d.inputBytes(),
}


def drain(spark) -> None:
    """Wait until the status listeners have seen every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_totals(spark, group: str) -> dict:
    """Sum of stage metrics over the jobs job group ``group`` ran
    (stages skipped because their shuffle output was reused count 0)."""
    drain(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids, n_jobs = set(), 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if g.isDefined() and g.get() == group:
            n_jobs += 1
            it = j.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
    out = {k: 0.0 for k in STAGE_FIELDS}
    out["jobs"] = n_jobs
    jvm = sc._jvm
    empty = sc._gateway.new_array(jvm.double, 0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                   False, empty)
        for k in range(attempts.size()):
            d = attempts.apply(k)
            if d.status().toString() != "COMPLETE":
                continue
            for name, get in STAGE_FIELDS.items():
                out[name] += get(d)
    return out


def host_cpu() -> tuple:
    """(steal, total) jiffies over this machine's CPUs from
    ``/proc/stat``; steal is time the hypervisor ran other guests."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def children() -> dict:
    kids: dict = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants, as the sum of
    their proportional set sizes: pages that forked Python workers
    share with their parent count once, not once per worker."""
    kids, total, todo = children(), 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(kids.get(pid, []))
    return total


class RssSampler:
    """Background thread tracking the peak RSS of this process tree."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
