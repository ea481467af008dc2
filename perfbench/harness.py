"""Measurement plumbing: process-tree memory watching, the span tracer that
reads Spark's own per-stage counters, and the shutdown that leaves no JVM or
Python worker behind a run.

Nothing here knows about the engine; ``pipeline.py`` drives the engine and
wraps each layer boundary in ``Tracer.span``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
import traceback
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

def _process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command, which may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _start_time(pid: int) -> str | None:
    """The process's start time in clock ticks (field 22 of its stat), which
    tells it apart from a later process that reuses its pid; None once it
    has ended or is a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def stop_spark(timeout_s: float = 60.0) -> None:
    """Stop the Spark session, then the JVM this process launched and every
    process under it (the Python workers the JVM forked), and wait until
    each has ended. Without this the JVM outlives the run: it exits only
    once it reads end-of-file on its stdin, after this process is gone."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
    except Exception:  # a JVM that died mid-run: its process is still waited for
        traceback.print_exc()
    me = os.getpid()
    # before the JVM exits: its orphans leave this process's tree
    tree = {pid: _start_time(pid) for pid in _process_tree(me) if pid != me}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # no gateway.close(): after a foreachBatch query it blocks on a
    # callback connection that only the JVM's exit ends
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM's cue to exit
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # a worker still running after the deadline is killed, then waited for
    left = {pid: t for pid, t in tree.items() if t is not None}
    deadline, killed = time.monotonic() + timeout_s, False
    while True:
        left = {pid: t for pid, t in left.items() if _start_time(pid) == t}
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {sorted(left)} outlived SIGKILL")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline, killed = time.monotonic() + 10, True
        time.sleep(0.05)


def _memory(pid: int) -> tuple[str, int, int]:
    """(executable name, resident bytes, peak resident bytes) of one
    process. The peak is the kernel's high-water mark, so no sampling
    misses it."""
    exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    kb = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(("VmRSS:", "VmHWM:")):
                kb[line[:5]] = int(line.split()[1])
    return exe, kb.get("VmRSS", 0) << 10, kb.get("VmHWM", 0) << 10


class RssSampler:
    """Background thread that watches the process tree of the driver Python
    process: the JVM it launched and the JVM's Python workers.

    Processes are told apart by executable, not by name: a child the JVM
    has cloned but not yet exec'd shares the JVM's memory and carries the
    name of a JVM thread. ``peak`` holds, in bytes, the high-water marks of
    the driver, of the JVM and of the largest Python worker, which are
    exact, and the highest sampled sum over the three kinds, which can miss
    a peak shorter than the sampling interval."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._hwm: dict[tuple[int, str], int] = {}  # (pid, kind) -> high-water mark
        self._all = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        root = os.getpid()
        rss = {"driver": [0], "jvm": [0], "worker": [0]}
        for pid in _process_tree(root):
            try:
                exe, now, hwm = _memory(pid)
            except OSError:
                continue  # exited while being read
            if pid == root:
                kind = "driver"
            elif exe == "java":
                kind = "jvm"
            elif exe.startswith("python"):
                kind = "worker"
            else:
                continue  # launcher scripts and helpers
            self._hwm[pid, kind] = max(self._hwm.get((pid, kind), 0), hwm)
            rss[kind].append(now)
        # the JVM's clones share its memory, so it counts once
        self._all = max(self._all, sum(rss["driver"]) + max(rss["jvm"]) + sum(rss["worker"]))

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak(self) -> dict:
        out = {"all": self._all}
        for kind, key in (("driver", "driver"), ("jvm", "jvm"), ("worker", "worker_max")):
            out[key] = max((h for (_, k), h in self._hwm.items() if k == kind), default=0)
        return out

    def peak_mb(self, key: str) -> float:
        return self.peak[key] / (1 << 20)


# Spark per-stage counters summed over the jobs of one span's job group.
COUNTERS = ("tasks", "failed_tasks", "cpu_s", "gc_s", "spill_bytes", "shuffle_write_bytes")


def _zero_counters() -> dict:
    return {k: 0 for k in COUNTERS}


class Tracer:
    """Spans at layer boundaries, kept in memory and written at exit.

    Each span runs its Spark jobs under its own job group, so the stages it
    launched can be read back from the status store (this works with the UI
    disabled). A disabled tracer yields without recording or touching the
    job group, so untraced runs pay nothing.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request_id: str | None = None):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{sid}"
        rec = {
            "id": sid, "name": name, "parent": parent,
            "request_id": request_id if request_id is not None else (
                self.spans[parent]["request_id"] if parent is not None else None
            ),
            "group": group, "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def finish(self) -> None:
        """Attach stage counters and self times to every span."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for rec in self.spans:
            c = _zero_counters()
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(jid)
                for stage_id in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # skipped stages never ran an attempt
                        continue
                    c["tasks"] += st.numTasks()
                    c["failed_tasks"] += st.numFailedTasks()
                    c["cpu_s"] += st.executorCpuTime() / 1e9
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["counters"] = c
        for rec in self.spans:
            kids = [s for s in self.spans if s["parent"] == rec["id"]]
            rec["self_s"] = (rec["end"] - rec["start"]) - sum(
                k["end"] - k["start"] for k in kids
            )

    def layer(self, prefix: str) -> dict:
        """Self time and stage counters summed over spans named ``prefix``
        or ``prefix.<anything>``."""
        out = {"self_s": 0.0, **_zero_counters()}
        for rec in self.spans:
            if rec["name"] == prefix or rec["name"].startswith(prefix + "."):
                out["self_s"] += rec["self_s"]
                for k in COUNTERS:
                    out[k] += rec["counters"][k]
        return out

    def total_s(self) -> float:
        roots = [s for s in self.spans if s["parent"] is None]
        return sum(s["end"] - s["start"] for s in roots)
