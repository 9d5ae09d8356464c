"""Measurement probes: process-tree CPU, host steal, spans and Spark counters.

Everything here observes the engine from outside. Spans are recorded only
around calls into the engine's public functions, by re-binding those
functions in the modules that hold them; nothing in the engine is edited.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ OS counters


def host_cpu() -> tuple[float, float]:
    """(busy, steal) CPU seconds since boot, summed over all CPUs
    (``/proc/stat``). Busy is user, nice, system, irq and softirq time;
    steal is time the host ran something else while a CPU had work."""
    with open("/proc/stat", encoding="ascii") as f:
        t = [int(x) / _CLK_TCK for x in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def unstolen(wall: float, cpu0: tuple, cpu1: tuple) -> float:
    """``wall`` without the host's steal: scaled by the share of the busy
    CPUs' time (busy + steal) that was not stolen between the two
    ``host_cpu()`` readings. Equal to ``wall`` minus the stolen seconds
    per busy CPU; with no steal it is ``wall``."""
    busy, steal = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    if busy + steal <= 0:
        return wall
    return wall * busy / (busy + steal)


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds incl. reaped children, cmdline)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue  # exited while listing
        rest = stat[stat.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(rest[1]), ticks / _CLK_TCK, cmd)
    return out


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of ``root`` and all its descendants: the driver, the JVM
    and the Python workers. Children that exited were reaped into their
    parent's cutime/cstime, so the total only grows."""
    root = root or os.getpid()
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total = workers = 0.0
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid not in table:
            continue
        _, cpu, cmd = table[pid]
        total += cpu
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            workers += cpu
        todo.extend(kids.get(pid, ()))
    return {"total": total, "python_workers": workers}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def file_index(path: str) -> dict[str, tuple[int, int]]:
    """relative file path -> (size, mtime_ns) for every file under path."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans (name, start, end, parent) on the driver thread, plus
    named counters that any thread may bump."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent index]
        self._stack: list[int] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._main = threading.get_ident()

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        # close everything opened above idx too (an exception unwound them)
        while self._stack and self._stack[-1] != idx:
            self.spans[self._stack.pop()][2] = time.perf_counter()
        if self._stack:
            self._stack.pop()
        self.spans[idx][2] = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if threading.get_ident() != self._main:
            yield
            return
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Per span name, over spans opened at index ``since`` or later:
        total duration minus the time its child spans cover (children are
        sequential on one thread, so they never overlap)."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent in self.spans:
            if parent >= 0 and t1 is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = {}
        for i, (name, t0, t1, _) in enumerate(self.spans[since:], since):
            if t1 is not None:
                out[name] = out.get(name, 0.0) + (t1 - t0) - child[i]
        return out


def rebind(original, replacement, packages: tuple[str, ...]) -> None:
    """Point every module-level name bound to ``original`` in the given
    packages at ``replacement`` (covers ``from x import f`` copies)."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(packages):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)


def traced(tracer: Tracer, name: str, fn, packages: tuple[str, ...]) -> None:
    """Wrap ``fn`` in a span called ``name`` everywhere it is bound."""

    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    rebind(fn, wrapper, packages)


# ---------------------------------------------------------- Spark counters


class SparkCounters:
    """Janino compile counters (``CodegenMetrics`` and the code generator's
    compile-time accumulator), read over py4j; and per-op job, stage and
    task counts from the status tracker, one job group per op."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm
        self._cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._cg = (
            jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        )
        self.jobs = self.stages = self.tasks = 0
        self.poll_s = 0.0  # time spent reading the status tracker
        self._op = 0

    def codegen(self) -> dict[str, float]:
        compiles = self._cm.METRIC_COMPILATION_TIME().getCount()
        sizes = self._cm.METRIC_GENERATED_CLASS_BYTECODE_SIZE()
        return {
            "compiles": compiles,
            "compile_s": self._cg.compileTime() / 1e9,
            "classes": sizes.getCount(),
            "mean_class_bytes": sizes.getSnapshot().getMean(),
        }

    @contextmanager
    def op_group(self):
        sc = self.spark.sparkContext
        self._op += 1
        gid = f"perfbench-op-{self._op}"
        sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            t0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            st = sc.statusTracker()
            for jid in st.getJobIdsForGroup(gid):
                self.jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    if stage is not None and stage.numCompletedTasks:
                        self.stages += 1
                        self.tasks += stage.numCompletedTasks
            self.poll_s += time.perf_counter() - t0


def codegen_delta(before: dict, after: dict) -> dict[str, float]:
    classes = after["classes"] - before["classes"]
    return {
        "codegen.compiles": after["compiles"] - before["compiles"],
        "codegen.compile_s": after["compile_s"] - before["compile_s"],
        # the histogram keeps a sample, not a sum: classes x sampled mean
        "codegen.bytecode_bytes": classes * after["mean_class_bytes"],
    }


def event_log_task_metrics(log_dir: str, t0_ms: float, t1_ms: float) -> dict:
    """Sum ``SparkListenerTaskEnd`` metrics of tasks that ran inside
    [t0_ms, t1_ms] from an uncompressed event log."""
    keys = {
        "exec.executor_cpu_s": 0.0,
        "exec.run_s": 0.0,
        "exec.gc_s": 0.0,
        "exec.shuffle_read_bytes": 0,
        "exec.shuffle_write_bytes": 0,
        "exec.spill_bytes": 0,
        "exec.peak_memory_bytes": 0,
    }
    # Spark 4 writes a rolling log: a directory of event files per app
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
    for path in sorted(paths):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line[:40]:
                    continue
                ev = json.loads(line)
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics")
                if not m or info.get("Launch Time", 0) < t0_ms:
                    continue
                if info.get("Finish Time", 0) > t1_ms:
                    continue
                keys["exec.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                keys["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
                keys["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                keys["exec.shuffle_read_bytes"] += sr.get(
                    "Remote Bytes Read", 0
                ) + sr.get("Local Bytes Read", 0)
                keys["exec.shuffle_write_bytes"] += m.get(
                    "Shuffle Write Metrics", {}
                ).get("Shuffle Bytes Written", 0)
                keys["exec.spill_bytes"] += m.get(
                    "Memory Bytes Spilled", 0
                ) + m.get("Disk Bytes Spilled", 0)
                keys["exec.peak_memory_bytes"] = max(
                    keys["exec.peak_memory_bytes"],
                    m.get("Peak Execution Memory", 0),
                )
    return keys
