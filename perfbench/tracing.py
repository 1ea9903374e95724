"""Span recorder, process-tree CPU probe and Spark event-log parser.

The benchmark records a span around each public call it makes into the
program (name, start, end, parent), keeps the spans in memory and writes
them out at the end. Spark work is assigned to spans through the event
log: every job, broadcast jobs included, carries the job group the
benchmark set around the call, and tasks reach their job through their
stage.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None


@dataclass
class Tracer:
    """In-memory spans. With a SparkContext, each span also sets the job
    group to the span's name, so the event log ties Spark jobs to it.
    Disabled tracers cost one clock read per span and set nothing."""

    sc: object | None = None
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent))
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(name, name)
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()
            if self.enabled and self.sc is not None:
                outer = self.spans[self._stack[-1]].name if self._stack else None
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(outer, outer)

    def seconds(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


# --- process tree --------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while the tree was read
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def process_tree() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                children[int(st[1])].append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    st = _stat(str(pid))
    return st is not None and st[0] != "Z"


def tree_cpu_s() -> float:
    """User+system CPU seconds of the process tree, including children
    that already ended and were reaped inside the tree."""
    total = 0
    for pid in process_tree():
        st = _stat(str(pid))
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


# JVM thread names, cut to 15 characters: the JIT compilers, and the
# thread that runs the serial collector's pauses (with other safepoint work)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
GC_THREADS = ("VM Thread",)


def threads_cpu_s(names: tuple[str, ...]) -> float:
    """User+system CPU seconds of the threads of the processes in the
    tree whose names start with one of ``names`` (threads still alive)."""
    total = 0
    for pid in process_tree():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(names):
                        continue
            except OSError:
                continue
            st = _stat(f"{pid}/task/{tid}")
            if st is not None:
                total += int(st[11]) + int(st[12])
    return total / _TICK


def tree_write_bytes() -> int:
    """Bytes the live processes of the tree have passed to write calls:
    to files, and to the pipes and sockets between the Python driver, the
    JVM and the Python workers (``wchar`` of /proc/<pid>/io). Unlike the
    bytes that reach storage, this does not depend on when the kernel
    writes dirty pages back."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/io") as fh:
                for line in fh:
                    if line.startswith("wchar:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    st = _stat("self")
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + int(st[19]) / _TICK


def jvm_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the Java processes in the tree."""
    peak = 0.0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"java" not in fh.read().split(b"\0")[0]:
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024)
        except OSError:
            continue
    return peak


# --- event log -----------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # plain JSON lines: Spark 4 otherwise writes zstd rolling directories
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class Work:
    """Spark work summed over a set of tasks."""

    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    records_read: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def __iadd__(self, other: "Work") -> "Work":
        for k, v in other.__dict__.items():
            setattr(self, k, getattr(self, k) + v)
        return self

    def add_task(self, m: dict, records: bool = True) -> None:
        self.tasks += 1
        self.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        self.gc_s += m.get("JVM GC Time", 0) / 1e3
        if records:
            self.records_read += m.get("Input Metrics", {}).get("Records Read", 0)
        self.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        self.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


@dataclass
class EventLog:
    """What the benchmark needs from one application's event log."""

    # job group -> work of the jobs run under it
    by_group: dict[str, Work] = field(default_factory=dict)
    # (job group, write target) -> work of SQL executions writing there
    writes: dict[tuple[str, str], Work] = field(default_factory=dict)
    # (job group, write target) -> summed wall seconds of those executions
    write_s: dict[tuple[str, str], float] = field(default_factory=dict)
    # jobs that ran outside every span
    ungrouped_jobs: int = 0


_WRITE_ARGS = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\n]+)"
)


def _write_target(plan: str, targets: dict[str, str]) -> str | None:
    """The layer an execution writes, from its plan's output path."""
    m = _WRITE_ARGS.search(plan)
    if m is not None:
        for marker, name in targets.items():
            if marker in m.group(1):
                return name
    return None


def _open_span(spans: list[Span], at: float) -> str | None:
    """Name of the innermost span open at epoch second ``at``."""
    best = None
    for s in spans:
        if s.start <= at <= s.end and (best is None or s.start >= best.start):
            best = s
    return best.name if best is not None else None


def parse_event_log(path: str, targets: dict[str, str], spans: list[Span]) -> EventLog:
    """Sum task metrics per job group and per (group, write target).

    ``targets`` maps a substring of an output path to a layer name; an
    SQL execution whose plan writes to a matching path is a write of that
    layer. Records read by broadcast jobs (the dimensions a join ships)
    are left out of a write's ``records_read``. A job whose group is not
    a span's name (a streaming query sets its own group on its thread) is
    assigned to the innermost span open when it was submitted."""
    names = {s.name for s in spans}
    job_group: dict[int, str] = {}
    job_exec: dict[int, int | None] = {}
    broadcast: set[int] = set()
    stage_job: dict[int, int] = {}
    exec_target: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group not in names:
                    group = _open_span(spans, ev["Submission Time"] / 1e3)
                if group is None:
                    log.ungrouped_jobs += 1
                    continue
                job = ev["Job ID"]
                job_group[job] = group
                eid = props.get("spark.sql.execution.id")
                job_exec[job] = int(eid) if eid is not None else None
                if eid is not None:
                    exec_group.setdefault(int(eid), group)
                if "broadcast exchange" in props.get("spark.job.tags", ""):
                    broadcast.add(job)
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job
                log.by_group.setdefault(group, Work()).jobs += 1
                target = exec_target.get(job_exec[job])
                if target is not None:
                    log.writes.setdefault((group, target), Work()).jobs += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                group = job_group[job]
                log.by_group[group].add_task(m)
                target = exec_target.get(job_exec[job])
                if target is not None:
                    log.writes[(group, target)].add_task(m, records=job not in broadcast)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                eid = int(ev["executionId"])
                exec_start[eid] = int(ev["time"]) / 1e3
                target = _write_target(ev.get("physicalPlanDescription", ""), targets)
                if target is not None:
                    exec_target[eid] = target
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                eid = int(ev["executionId"])
                key = (exec_group.get(eid), exec_target.get(eid))
                if None not in key and eid in exec_start:
                    wall = int(ev["time"]) / 1e3 - exec_start[eid]
                    log.write_s[key] = log.write_s.get(key, 0.0) + wall
    return log


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
