"""Span recorder, Spark status-store reader and host samplers.

Spans are kept in memory (name, start, end, parent, run id, attributes) and
written once when the run ends.  A span opened with ``group=`` also sets the
Spark job group, so every job the layer starts -- including AQE stage jobs,
which inherit the thread's local properties -- can be read back from the
in-process status store afterwards.  No event log and no UI are needed.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "group": group,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        if group is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                # None clears the property (py4j passes a Java null)
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh, indent=1)


def group_stage_totals(sc) -> dict[str | None, dict]:
    """Per job group: jobs, executor run/CPU time, shuffle write, spill.

    A stage id listed by several jobs is counted once, for the first job
    that ran it.  A SKIPPED stage (a reused exchange) reports zero metrics:
    its work was already counted in the group of the job that built it, so
    it only adds to that group's ``skipped_stages`` tally."""
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters  # noqa: SLF001
    jobs = sorted(conv.asJava(store.jobsList(None)), key=lambda j: j.jobId())
    owner: dict[int, str | None] = {}
    out: dict[str | None, dict] = {}
    for job in jobs:
        g = job.jobGroup()
        group = g.get() if g.isDefined() else None
        t = out.setdefault(group, {"jobs": 0, "task_ms": 0, "cpu_ns": 0,
                                   "shuffle_write": 0, "spill": 0, "skipped_stages": 0})
        t["jobs"] += 1
        for sid in conv.asJava(job.stageIds()):
            if sid in owner:
                continue
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                t["skipped_stages"] += 1
                continue
            owner[sid] = group
            t["task_ms"] += st.executorRunTime()
            t["cpu_ns"] += st.executorCpuTime()
            t["shuffle_write"] += st.shuffleWriteBytes()
            t["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


# -- host samplers ------------------------------------------------------------

def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # guest time is already counted inside user/nice
    total = sum(vals[:8])
    return total, vals[7] if len(vals) > 7 else 0


class HostNoise:
    """Steal fraction and 1-minute load average over one op."""

    def __enter__(self):
        self._t0 = _cpu_ticks()
        return self

    def __exit__(self, *exc):
        t1 = _cpu_ticks()
        dt = t1[0] - self._t0[0]
        self.steal_frac = (t1[1] - self._t0[1]) / dt if dt > 0 else 0.0
        self.loadavg = os.getloadavg()[0]
        return False


def children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                kids.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


def tree_rss_kb(root_pid: int) -> int:
    """RSS of a process and all its descendants (JVM + Python workers)."""
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(children(pid))
    return total


class RssSampler:
    """Samples the RSS of a process tree on a thread; keeps the maximum."""

    def __init__(self, root_pid: int, period_s: float = 0.25) -> None:
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self.root_pid))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
