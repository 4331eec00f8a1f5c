"""Timing and tracing from outside the program.

``Recorder`` times every operation of a run and reads the CPU time of
the driver and the JVM's process tree around it. Traced, it also

- records a span (name, start, end, parent) around each operation and
  each public layer call inside it, kept in memory and written out at
  the end;
- gives each span its own Spark job group, so the event log can be
  reduced to per-span jobs, stages, tasks and bytes;
- counts py4j commands and calls into the program's ``fsio`` module;
- reads Python and JVM CPU time around each span.

Everything here is installed from the benchmark's own files: the
program under test is never edited.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

CLK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` from ``/proc/<pid>/stat``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK


def process_tree(root: int) -> dict:
    """pid -> CPU seconds of process ``root`` and its live descendants
    (the JVM and the Python workers it forks)."""
    kids: dict[int, list] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:        # the process ended while we listed
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
        cpu[int(name)] = (int(fields[11]) + int(fields[12])) / CLK
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in cpu:
            tree[pid] = cpu[pid]
            todo.extend(kids.get(pid, []))
    return tree


def tree_cpu_s(root: int) -> float:
    return sum(process_tree(root).values())


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` start
    time against ``/proc/uptime``), so set-up time includes interpreter
    start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK


def host_cpu_ticks() -> tuple:
    """(steal, total) jiffies of the host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class Counter:
    """A patched-in call counter that ignores nested calls."""

    def __init__(self):
        self.n = 0
        self.depth = 0
        self.paused = False

    def wrap(self, fn):
        @functools.wraps(fn)
        def inner(*a, **kw):
            if self.depth == 0 and not self.paused:
                self.n += 1
            self.depth += 1
            try:
                return fn(*a, **kw)
            finally:
                self.depth -= 1
        return inner


class Recorder:
    """Times operations; with ``traced`` it also records spans and
    the counters listed in the module docstring."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.samples: dict[str, list] = {}   # op kind -> latencies (s)
        self.cpu: dict[str, list] = {}       # op kind -> CPU s, driver + JVM tree
        self.spans: list[dict] = []
        self.lock = threading.Lock()
        self.local = threading.local()   # per-thread stack of open spans
        self.measuring = False
        self.sc = None
        self.jvm_pid = None
        self.py4j = Counter()
        self.fsio = Counter()

    # -- traced-run hooks -------------------------------------------------

    def install(self, spark, fsio_module) -> None:
        """Find the JVM's pid; traced, also patch the py4j connection and
        the program's fsio functions with counters."""
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        if not self.traced:
            return
        import py4j.clientserver as cs
        import py4j.java_gateway as jg
        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            cls.send_command = self.py4j.wrap(cls.send_command)
        for name in dir(fsio_module):
            fn = getattr(fsio_module, name)
            if (callable(fn) and not name.startswith("_")
                    and getattr(fn, "__module__", "") == fsio_module.__name__
                    and not isinstance(fn, type)):
                setattr(fsio_module, name, self.fsio.wrap(fn))
        self.sc = spark.sparkContext

    @property
    def stack(self) -> list:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    def _group(self, sid: int | None) -> None:
        self.py4j.paused = True
        try:
            if sid is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"pb{sid}", "perfbench span")
        finally:
            self.py4j.paused = False

    @contextmanager
    def span(self, name: str, **attrs):
        """A span around one public layer call (or one operation)."""
        if not self.traced:
            yield attrs
            return
        with self.lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name,
                   "parent": self.stack[-1] if self.stack else None,
                   "measured": self.measuring, **attrs}
            self.spans.append(rec)
        self.stack.append(sid)
        self._group(sid)
        py0, f0 = self.py4j.n, self.fsio.n
        t = os.times()
        jvm0 = proc_cpu_s(self.jvm_pid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t1 = os.times()
            rec["py_cpu_s"] = (t1.user - t.user) + (t1.system - t.system)
            rec["jvm_cpu_s"] = proc_cpu_s(self.jvm_pid) - jvm0
            rec["py4j_calls"] = self.py4j.n - py0
            rec["fsio_calls"] = self.fsio.n - f0
            self.stack.pop()
            self._group(self.stack[-1] if self.stack else None)

    @contextmanager
    def op(self, kind: str):
        """One timed operation: a latency sample of ``kind`` when the
        measured phase is on, and the root span of its layer calls."""
        with self.span(kind, op=True) as rec:
            c0 = sum(os.times()[:2]) + tree_cpu_s(self.jvm_pid)
            t0 = time.perf_counter()
            yield rec
            dt = time.perf_counter() - t0
            cpu = sum(os.times()[:2]) + tree_cpu_s(self.jvm_pid) - c0
        if self.measuring:
            self.samples.setdefault(kind, []).append(dt)
            self.cpu.setdefault(kind, []).append(cpu)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def reduce_event_log(log_dir: str) -> dict:
    """Per-span Spark totals from an event log directory, keyed by the
    span id carried in the job group (``pb<id>``)."""
    files = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}

    def acc(sid):
        return out.setdefault(sid, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
            "input_bytes": 0, "output_bytes": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0})

    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not group.startswith("pb"):
                    continue
                sid = int(group[2:])
                acc(sid)["jobs"] += 1
                for s in ev.get("Stage IDs", []):
                    stage_span[s] = sid
            elif kind == "SparkListenerStageCompleted":
                sid = stage_span.get(ev["Stage Info"]["Stage ID"])
                if sid is not None:
                    acc(sid)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if sid is None or not m:
                    continue
                a = acc(sid)
                a["tasks"] += 1
                a["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                a["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                a["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                a["shuffle_write_bytes"] += m.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics", {})
                a["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return out
