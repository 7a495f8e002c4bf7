"""Measurement helpers: resident-memory sampling from ``/proc``, journey
phase spans, and per-job-group Spark metrics read from the event log.

Nothing here changes what the program computes. Phase spans wrap the
program's public entry points from the outside; the event log is
Spark's own listener output.
"""

from __future__ import annotations

import json
import os
import resource
import threading
import time
from contextlib import contextmanager
from pathlib import Path


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = _fields(stat)[0]
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def child_processes() -> list[int]:
    """Every live process this one started, directly or not."""
    return _descendants(os.getpid())


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")
#: CPU seconds the PssSampler threads spent, which are the benchmark's
#: own and left out of ``cpu_seconds``
_sampler_cpu_s = [0.0]


def _fields(stat: bytes) -> list[int]:
    """Fields 4 on of a ``/proc/<pid>/stat`` line, as numbers: field n
    of proc(5) is ``[n - 4]``. The command name (field 2) may hold
    spaces, so the fields are counted after its closing ')'."""
    return [int(v) for v in stat[stat.rindex(b")") + 2:].split()[1:]]


def _cpu_ticks(stat: bytes, with_children: bool = False) -> int:
    f = _fields(stat)  # utime, stime, cutime, cstime: fields 14-17
    return sum(f[10:14] if with_children else f[10:12])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads (none for a process
    that is not a JVM)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # a thread that has just ended
            continue
        if stat[stat.index(b"(") + 1:].startswith((b"C1 Compi", b"C2 Compi")):
            total += _cpu_ticks(stat)
    return total


def cpu_seconds() -> float:
    """User + system CPU seconds used so far by this process and every
    process it started (the Spark JVM and its Python workers), reaped
    children included, less the JVM's JIT compilation. The kernel
    leaves out time the hypervisor gave other guests (steal), which
    wall time cannot. JIT compilation runs on its own threads, took
    most of the JVM's CPU in the first journeys of a session, and
    varies from run to run with what it compiles when."""
    own = resource.getrusage(resource.RUSAGE_SELF)
    reaped = resource.getrusage(resource.RUSAGE_CHILDREN)
    total = (own.ru_utime + own.ru_stime + reaped.ru_utime
             + reaped.ru_stime - _sampler_cpu_s[0])
    for pid in child_processes():
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
            total += (_cpu_ticks(stat, with_children=True)
                      - _jit_ticks(pid)) * _TICK_S
        except OSError:
            continue
    return total


def cpu_steal() -> tuple[int, int]:
    """Machine-wide ``(steal, total)`` CPU time since boot, in clock
    ticks, from ``/proc/stat``. Steal is time a vCPU was ready to run
    but the hypervisor ran another guest on its core."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    # fields: user nice system idle iowait irq softirq steal guest ...;
    # guest time is already counted in user
    return ticks[7], sum(ticks[:8])


def live_heap_bytes(spark) -> int:
    """Heap the Spark JVM still holds after a full garbage collection."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    return (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            .getHeapMemoryUsage().getUsed())


class PssSampler:
    """Peak of the summed proportional set size (PSS) of this process's
    descendants (the Spark JVM and its Python workers), sampled every
    ``period`` seconds on a background thread. PSS splits pages shared
    between the forked Python workers instead of counting them once per
    worker, as summed RSS would."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        total = 0
        for pid in child_processes():
            try:
                with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                    for line in f:
                        if line.startswith(b"Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            t0 = time.thread_time()
            self.peak_bytes = max(self.peak_bytes, self._sample())
            _sampler_cpu_s[0] += time.thread_time() - t0
            self._stop.wait(self.period)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class PhaseSpans:
    """Times the journey's phases by wrapping the program's entry points:
    ``ValidationRun.run`` / ``run_curation`` (the core) and the sink
    that follows it: output writes until the CLI is done with the
    result. One entry per CLI invocation. Install only for traced
    journeys."""

    def __init__(self):
        self.core_walls: list[float] = []
        self.sink_walls: list[float] = []
        self.results: list = []
        self._core_end = None
        self._saved: list = []

    def _wrap(self, owner, name, before=None, after=None):
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        spans = self

        def wrapper(*args, **kwargs):
            if before:
                before(spans)
            t0 = time.perf_counter()
            out = orig(*args, **kwargs)
            if after:
                after(spans, t0, out)
            return out

        setattr(owner, name, wrapper)

    @staticmethod
    def _core_done(spans, t0, out):
        spans._core_end = time.perf_counter()
        spans.core_walls.append(spans._core_end - t0)
        spans.results.append(out)

    @staticmethod
    def _sink_done(spans, *_):
        if spans._core_end is not None:
            spans.sink_walls.append(time.perf_counter() - spans._core_end)
            spans._core_end = None

    def __enter__(self) -> "PhaseSpans":
        from py_schemax_spark import cli, curate
        from py_schemax_spark.runner import RunResult, ValidationRun

        self._wrap(ValidationRun, "run", after=self._core_done)
        self._wrap(curate, "run_curation", after=self._core_done)
        # the validate sink ends when the CLI releases the run's result;
        # the curate sink when `curate` returns after its writes
        self._wrap(RunResult, "release", before=self._sink_done)
        self._wrap(cli, "curate_main", after=self._sink_done)
        return self

    def __exit__(self, *exc) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)


# --- event log --------------------------------------------------------------

_FILES_READ = "size of files read"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
_SQL_DRIVER_ACCUMS = (
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
)


def _plan_accums(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for c in node.get("children", []):
        _plan_accums(c, out)


def _num(v) -> int:
    return int(float(v)) if v not in (None, "") else 0


class EventLog:
    """Reads the session's event log incrementally. ``group(name)`` sets
    the Spark job group for a block; ``take(name)`` returns the metrics
    of that group's jobs logged since the previous ``take``."""

    def __init__(self, spark, directory: Path):
        self.spark = spark
        self.dir = directory
        self._offset = 0
        self._accums: dict[int, tuple[str, str]] = {}

    @contextmanager
    def group(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def _new_events(self) -> list[dict]:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(
            30_000
        )
        files = [p for p in self.dir.iterdir() if p.is_file()]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {self.dir}")
        with open(files[0], "rb") as f:
            f.seek(self._offset)
            data = f.read()
        end = data.rfind(b"\n") + 1
        self._offset += end
        return [json.loads(ln) for ln in data[:end].splitlines() if ln]

    def take(self, name: str) -> dict:
        jobs, stages, execs = 0, set(), set()
        m = dict.fromkeys(
            ("scan_bytes", "shuffle_bytes", "out_bytes", "spill_bytes",
             "gc_ms", "py_bytes_out", "py_bytes_in", "py_rows"), 0
        )
        events = self._new_events()
        for ev in events:
            kind = ev["Event"]
            if kind in (_SQL_START, _SQL_AQE):
                _plan_accums(ev["sparkPlanInfo"], self._accums)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties", {})
                if props.get("spark.jobGroup.id") == name:
                    jobs += 1
                    stages.update(ev["Stage IDs"])
                    if "spark.sql.execution.id" in props:
                        execs.add(int(props["spark.sql.execution.id"]))
        for ev in events:
            if (ev["Event"] == _SQL_DRIVER_ACCUMS
                    and ev["executionId"] in execs):
                # file scans report the bytes of the files they read
                # from the scheduler side, not in task metrics
                for acc_id, value in ev["accumUpdates"]:
                    if self._accums.get(acc_id, ("", ""))[1] == _FILES_READ:
                        m["scan_bytes"] += _num(value)
            if ev["Event"] != "SparkListenerTaskEnd":
                continue
            if ev["Stage ID"] not in stages:
                continue
            tm = ev.get("Task Metrics") or {}
            m["shuffle_bytes"] += _num(tm.get("Shuffle Write Metrics", {})
                                       .get("Shuffle Bytes Written"))
            m["out_bytes"] += _num(tm.get("Output Metrics", {})
                                   .get("Bytes Written"))
            m["spill_bytes"] += _num(tm.get("Disk Bytes Spilled"))
            m["gc_ms"] += _num(tm.get("JVM GC Time"))
            for acc in ev.get("Task Info", {}).get("Accumulables", []):
                node, metric = self._accums.get(acc["ID"], ("", acc.get(
                    "Name", "")))
                if metric == _PY_SENT:
                    m["py_bytes_out"] += _num(acc.get("Update"))
                elif metric == _PY_RECV:
                    m["py_bytes_in"] += _num(acc.get("Update"))
                elif (metric == "number of output rows"
                      and ("Python" in node or "Pandas" in node)):
                    m["py_rows"] += _num(acc.get("Update"))
        m["jobs"] = jobs
        return m
