"""Measurements taken from outside the engine: the process tree's CPU and
memory, directory listings, and the traced run's spans with the Spark
jobs and py4j commands under each.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int) -> list[int]:
    """`root` and every process descended from it."""
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _cpu_s(pid: int) -> float | None:
    """CPU seconds of one process, including its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2 :].split()
    # fields 14-17 of stat: utime, stime, cutime, cstime
    return sum(int(x) for x in fields[11:15]) / _TICK


def tree_cpu(root: int, jvm_pid: int) -> dict[str, float]:
    """CPU seconds of the tree split into the client (the benchmark's own
    process), the JVM, and every other process (Spark's Python workers and
    the training pool)."""
    out = {"client": 0.0, "jvm": 0.0, "workers": 0.0}
    for p in process_tree(root):
        cpu = _cpu_s(p)
        if cpu is not None:
            key = "client" if p == root else "jvm" if p == jvm_pid else "workers"
            out[key] += cpu
    return out


def tree_peak_rss_mb(root: int) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def host_steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def listing(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, mtime_ns, size) of every file under `root`."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


class ByteLedger:
    """Bytes of the files an engine call created, from listings taken
    before and after it. A file created and removed inside one call is not
    seen; every file that survives a call is counted once."""

    def __init__(self, root: str):
        self.root = root
        self.seen: set[tuple] = set()
        self.created = 0

    def mark(self) -> int:
        """Take a listing; return the bytes of files new since the last one."""
        new = 0
        for p, sig in listing(self.root).items():
            key = (p, sig)
            if key not in self.seen:
                self.seen.add(key)
                new += sig[2]
        self.created += new
        return new

    def usage(self) -> tuple[int, int, int]:
        """(files, dirs, bytes) under the root now."""
        files = dirs = size = 0
        for d, ds, fs in os.walk(self.root):
            dirs += len(ds)
            for name in fs:
                files += 1
                try:
                    size += os.path.getsize(os.path.join(d, name))
                except OSError:
                    pass
        return files, dirs, size


class Tracer:
    """Spans around the benchmark's calls into the engine.

    Disabled, `span` only yields. Enabled, each span sets its own Spark job
    group, counts the py4j commands sent while it is open, and keeps
    (name, start, end, parent, request); jobs, stages and tasks per group
    are read from Spark's status tracker when the run ends."""

    def __init__(self, sc=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._py4j = 0
        self._paused = 0
        if enabled:
            client = sc._gateway._gateway_client
            send = client.send_command

            def counted(*a, **kw):
                if not self._paused:
                    self._py4j += 1
                return send(*a, **kw)

            client.send_command = counted

    @contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        with self.paused():
            self.sc.setJobGroup(rec["group"], name)
        p0 = self._py4j
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self._py4j - p0
            self._stack.pop()
            with self.paused():
                if parent:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def resolve_jobs(self) -> None:
        """Attach jobs, stages (that ran a task) and tasks to every span's
        own group. Waits for Spark's listener bus to drain first, since the
        status tracker is fed asynchronously."""
        if not self.enabled:
            return
        with self.paused():
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            tr = self.sc.statusTracker()
            for rec in self.spans:
                jobs = tr.getJobIdsForGroup(rec["group"])
                stages = tasks = 0
                for j in jobs:
                    info = tr.getJobInfo(j)
                    for s in info.stageIds if info else ():
                        si = tr.getStageInfo(s)
                        if si is not None and si.numCompletedTasks > 0:
                            stages += 1
                            tasks += si.numCompletedTasks
                rec["jobs"], rec["stages"], rec["tasks"] = len(jobs), stages, tasks

    def rollup(self, rec: dict) -> dict:
        """jobs/stages/tasks/py4j of a span including all its descendants."""
        out = {k: rec.get(k, 0) for k in ("jobs", "stages", "tasks")}
        for child in self.spans:
            if child["parent"] == rec["id"]:
                sub = self.rollup(child)
                for k in out:
                    out[k] += sub[k]
        out["py4j"] = rec["py4j"]
        out["s"] = rec["end"] - rec["start"]
        return out

    def named(self, name: str) -> list[dict]:
        return [self.rollup(r) for r in self.spans if r["name"] == name and "end" in r]
