"""Spans, Spark job attribution, event-log parsing and host meters.

A :class:`Tracer` records one span per public call the benchmark makes
(name, start, end, parent, op id). While a span is open its id is the Spark
job group, so every job the call starts is attributed to it; the job, stage
and task counts come from ``statusTracker`` after the pass. Stage, executor
and shuffle numbers come from Spark's event log, parsed offline by
:func:`parse_event_log` after the session stops. With tracing off every span
is a no-op.
"""

from __future__ import annotations

import contextlib
import gc
import glob
import json
import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[dict] = []
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, op_id=None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"pb{self._next_id}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op_id if parent is None else parent["op"],
        }
        self._next_id += 1
        self._stack.append(rec)
        self._sc.setJobGroup(rec["id"], name, False)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self._sc.setJobGroup(top["id"], top["name"], False)
            else:
                self._sc._jsc.clearJobGroup()
            self.spans.append(rec)

    def count_jobs(self) -> None:
        """Fill in every span's job, stage and task counts from
        ``statusTracker``. Called between passes, so the queries cost no
        span time; the traced session retains every job and stage."""
        st = self._sc.statusTracker()
        for rec in self.spans:
            if "jobs" in rec:
                continue
            jobs = st.getJobIdsForGroup(rec["id"])
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = st.getStageInfo(s)
                    if stage is not None:
                        stages += 1
                        tasks += stage.numTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def wrap(self, name: str, fn):
        """``fn`` wrapped in a span named ``name`` (for monkeypatching a
        layer's public function while tracing)."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id → duration minus the time its children cover."""
    child_time: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    return {
        s["id"]: (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
        for s in spans
    }


def parse_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Stages and jobs from the uncompressed JSON-lines event log(s) under
    ``log_dir``. A stage record has its job group (None for jobs started
    from a thread without one), submit/complete times and summed task
    metrics; a job record (by job id) has its group and submit/complete
    times."""
    group_of_stage: dict[int, str] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    per_stage: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = {
                        "group": group, "start": ev["Submission Time"] / 1000.0,
                    }
                    for s in ev.get("Stage IDs", []):
                        group_of_stage.setdefault(s, group)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info and "Completion Time" in info:
                        stage_span[info["Stage ID"]] = (
                            info["Submission Time"] / 1000.0,
                            info["Completion Time"] / 1000.0,
                        )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = per_stage.setdefault(ev["Stage ID"], {
                        "executor_run_s": 0.0, "executor_cpu_s": 0.0,
                        "gc_s": 0.0, "shuffle_read_mb": 0.0,
                        "shuffle_write_mb": 0.0,
                    })
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_read_mb"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    ) / 1e6
                    acc["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 1e6
    stages = [
        {"group": group_of_stage.get(stage), "start": start, "end": end,
         "metrics": per_stage.get(stage, {})}
        for stage, (start, end) in stage_span.items()
    ]
    return stages, jobs


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ------------------------------------------------------------ host meters
def host_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, parts[1:9])
    return user + nice + system + irq + softirq, steal


def _stat_fields(pid) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, CPU ticks, start time) of every process on the machine:
    user+system time plus that of its reaped children, and the start time
    in ticks since boot, which tells a process from a later one that
    reuses its pid."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _stat_fields(entry)
        except OSError:  # exited while we looked
            continue
        procs[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]), int(f[19]))
    return procs


def _tree(procs, root_pid: int) -> list[int]:
    """``root_pid`` and its descendants in ``procs``, root first."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t, _s) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU-seconds used so far by ``root_pid`` and all its descendants: the
    Python driver, the driver JVM it launched, and the PySpark daemon and
    workers the JVM forks. Per live process it adds user+system time and
    the time of its children that have exited and been reaped, so workers
    that ended during a pass still count. Other processes on the machine
    do not count."""
    procs = _proc_table()
    ticks = sum(procs.get(pid, (0, 0, 0))[1] for pid in _tree(procs, root_pid))
    return ticks / _CLK_TCK


def descendants(root_pid: int) -> dict[int, int]:
    """pid -> start time of every live descendant of ``root_pid``."""
    procs = _proc_table()
    return {pid: procs[pid][2] for pid in _tree(procs, root_pid)[1:]}


def same_process(pid: int, start: int) -> bool:
    """Whether ``pid`` is still the process that started at ``start`` and
    has not ended (a zombie has ended)."""
    try:
        f = _stat_fields(pid)
    except OSError:
        return False
    return f[0] != "Z" and int(f[19]) == start


def proc_cpu_s(pid: int) -> float:
    parts = _stat_fields(pid)
    return (int(parts[11]) + int(parts[12])) / _CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def live_heap_mb(spark) -> float:
    """Driver-JVM heap in use after full collections: what the run still
    holds (cached relations, broadcast and block-manager state). Python's
    collector runs first so dropped DataFrames release their JVM objects;
    the pause lets Spark's ContextCleaner remove the state they owned."""
    gc.collect()
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    bean.gc()
    time.sleep(1.0)
    bean.gc()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


class HostMeter:
    """Host busy/steal CPU and JVM CPU over an interval, from /proc."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def start(self) -> None:
        self._t = time.perf_counter()
        self._busy, self._steal = host_ticks()
        self._jvm = proc_cpu_s(self.jvm_pid)

    def stop(self) -> dict:
        busy, steal = host_ticks()
        wall = time.perf_counter() - self._t
        cpu = (busy - self._busy) / _CLK_TCK
        return {
            "host.cpu_s": cpu,
            "host.steal_s": (steal - self._steal) / _CLK_TCK,
            "host.cores_busy": cpu / wall if wall > 0 else 0.0,
            "jvm.cpu_s": proc_cpu_s(self.jvm_pid) - self._jvm,
        }



class JitMeter:
    """CPU-seconds of the driver JVM's JIT compiler threads over an
    interval, from /proc/<pid>/task. HotSpot starts compiler threads when
    its queue grows and stops them once idle, so a poller keeps the last
    reading of every compiler thread; one that exits between polls has
    been idle, and loses no CPU."""

    POLL_S = 0.5
    _NAMES = ("C1 CompilerThre", "C2 CompilerThre")  # comm: 15 characters

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._is_jit: dict[str, bool] = {}  # thread id -> compiler thread

    def _read(self) -> dict[str, int]:
        out = {}
        base = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(base):
            try:
                if tid not in self._is_jit:
                    with open(f"{base}/{tid}/comm") as fh:
                        self._is_jit[tid] = fh.read().startswith(self._NAMES)
                if not self._is_jit[tid]:
                    continue
                with open(f"{base}/{tid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while we looked
                continue
            out[tid] = int(f[11]) + int(f[12])
        return out

    def start(self) -> None:
        self._first = self._read()
        self._last = dict(self._first)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        while not self._stop.wait(self.POLL_S):
            self._last.update(self._read())

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._last.update(self._read())
        ticks = sum(t - self._first.get(tid, 0) for tid, t in self._last.items())
        return ticks / _CLK_TCK
