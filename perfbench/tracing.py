"""Spans, resident-memory sampling, Spark event-log parsing and the
order statistics the benchmark reports.

Nothing here imports pyspark or the engine, so the self-test can run the
parser and the statistics on a canned event log without a Spark session.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from pathlib import Path

# Spark 4.1 PythonSQLMetrics, by the display name the event log carries
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_TOTAL = "time to run Python workers"
PY_METRICS = (PY_SENT, PY_RECEIVED, PY_BOOT, PY_INIT, PY_TOTAL)


# ---------------------------------------------------------------------------
# order statistics


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(Q1, median, Q3) the way ``statistics.quantiles(values, n=4)``
    gives them (exclusive method)."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, sample count).  With 10 or fewer samples no such
    percentile exists; the maximum is returned with percentile 100, and
    the caller records the sample count next to it."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return float(s[-1]), 100.0, n
    return float(s[n - 11]), 100.0 * (n - 10) / n, n


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory spans (name, start, end, parent) around every call the
    benchmark makes into the engine.  When ``spark_context`` is given,
    each span also becomes the Spark job group, so event-log tasks join
    back to the span that caused them."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.rec: dict = {}

    @property
    def seconds(self) -> float:
        return self.rec["end"] - self.rec["start"]

    def __enter__(self):
        t = self.tracer
        sid = len(t.spans)
        self.rec = {"id": sid, "name": self.name,
                    "parent": t._stack[-1] if t._stack else None,
                    "start": time.perf_counter(), "end": None,
                    "epoch_ms": time.time() * 1000.0}
        t.spans.append(self.rec)
        t._stack.append(sid)
        if t.sc is not None:
            t.sc.setJobGroup(f"span-{sid}", self.name)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        self.rec["end"] = time.perf_counter()
        t._stack.pop()
        if t.sc is not None:
            if t._stack:
                parent = t.spans[t._stack[-1]]
                t.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                t.sc.setLocalProperty("spark.jobGroup.id", None)
        return False


def span_descendants(spans: list[dict], root_ids) -> set[int]:
    """Ids of the given spans and every span nested under them."""
    out = set(root_ids)
    for s in spans:                       # parents precede children
        if s["parent"] in out:
            out.add(s["id"])
    return out


# ---------------------------------------------------------------------------
# CPU and resident memory of the driver, its JVM and its Python workers


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, user + system CPU seconds) for every readable
    process."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command name: state ppid ...
        # utime stime cutime cstime (proc(5) fields 4, 14-17); cutime and
        # cstime hold the CPU of children already reaped
        rest = stat[stat.rfind(")") + 2:].split()
        out[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]) / tick)
    return out


def descendants(root_pid: int, table=None) -> set[int]:
    """Pids of every live process under ``root_pid``."""
    table = _proc_table() if table is None else table
    children = defaultdict(list)
    for pid, row in table.items():
        children[row[0]].append(pid)
    out: set[int] = set()
    todo = list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, with each page
    shared by n processes counted 1/n in each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants, summed
    over PSS so that pages the forked Python workers share with their
    daemon count once."""
    return sum(_pss(p) for p in descendants(root_pid) | {root_pid})


# JVM JIT compiler threads (comm is cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu(pid: int) -> float:
    """CPU seconds spent so far by the JIT compiler threads of ``pid``."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if stat[stat.find("(") + 1:stat.rfind(")")] in JIT_THREADS:
            rest = stat[stat.rfind(")") + 2:].split()
            total += int(rest[11]) + int(rest[12])
    return total / tick


def tree_cpu(root_pid: int, jvm_pid: int | None = None) -> float:
    """User + system CPU seconds used so far by ``root_pid`` and every
    process under it, including descendants already reaped.  With
    ``jvm_pid``, the JIT compiler threads of that JVM are left out: JIT
    work is a start-up cost a short benchmark process pays and a
    long-running engine does not, and it lands unevenly on whichever
    iterations run while the compiler catches up."""
    table = _proc_table()
    total = sum(table[p][1] for p in descendants(root_pid, table) | {root_pid}
                if p in table)
    return total - jit_cpu(jvm_pid) if jvm_pid else total


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate cpu line: the time
    a hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


class RssSampler:
    """Samples the process-tree RSS every ``interval`` seconds in a
    daemon thread and keeps the peak (psutil is not available)."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss(self.root_pid))
        return False


# ---------------------------------------------------------------------------
# Spark event log


def _num(x) -> float:
    try:
        return float(x)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(lines) -> dict:
    """Read Spark event-log JSON lines into per-job-group task records.

    Returns {"groups": {group_id: [task, ...]}, "stages": {stage_id:
    group_id}} where each task is a flat dict of the metrics the
    benchmark reports (times in seconds, sizes in bytes) plus the
    PythonSQLMetrics updates found among the task's accumulables, keyed
    by their display names (also seconds and bytes).
    Tasks whose job had no group are filed under ``None``."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, list[dict]] = defaultdict(list)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[int(sid)] = group
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            task = {
                "stage": int(ev.get("Stage ID", -1)),
                "launch_ms": _num(info.get("Launch Time")),
                "finish_ms": _num(info.get("Finish Time")),
                "failed": bool(info.get("Failed")),
                "run_s": _num(m.get("Executor Run Time")) / 1e3,
                "cpu_s": _num(m.get("Executor CPU Time")) / 1e9,
                "gc_s": _num(m.get("JVM GC Time")) / 1e3,
                "bytes_read": _num((m.get("Input Metrics") or {}).get("Bytes Read")),
                "shuffle_read": _num(sr.get("Remote Bytes Read"))
                + _num(sr.get("Local Bytes Read")),
                "fetch_wait_s": _num(sr.get("Fetch Wait Time")) / 1e3,
                "shuffle_write": _num(sw.get("Shuffle Bytes Written")),
                "spill": _num(m.get("Memory Bytes Spilled"))
                + _num(m.get("Disk Bytes Spilled")),
            }
            for acc in info.get("Accumulables") or []:
                name = acc.get("Name")
                if name in PY_METRICS:
                    # timings arrive in milliseconds, sizes in bytes
                    scale = 1.0 if name in (PY_SENT, PY_RECEIVED) else 1e-3
                    task[name] = task.get(name, 0.0) + _num(acc.get("Update")) * scale
            groups[stage_group.get(task["stage"])].append(task)
    return {"groups": dict(groups), "stages": stage_group}


def read_event_log(directory: Path) -> dict:
    """Parse every event-log file under ``directory`` (one plain file,
    or a rolling ``eventlog_v2_*`` directory of ``events_*`` parts)."""
    files = sorted((p for p in Path(directory).rglob("*")
                    if p.is_file() and not p.name.startswith((".", "appstatus"))),
                   key=lambda p: (p.parent, len(p.name), p.name))
    lines: list[str] = []
    for p in files:
        with open(p) as fh:
            lines.extend(fh)
    return parse_event_log(lines)


def tasks_of(log: dict, span_ids) -> list[dict]:
    out: list[dict] = []
    for sid in span_ids:
        out.extend(log["groups"].get(f"span-{sid}", ()))
    return out


def metric_sum(tasks, metric: str) -> float:
    """A task field or PythonSQLMetric summed over tasks."""
    return sum(t.get(metric, 0.0) for t in tasks)


def skew_ratio(tasks) -> float:
    """max/median task run time in the stage with the most tasks (the
    widest stage), 0 when there are no tasks."""
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["run_s"])
    if not by_stage:
        return 0.0
    widest = max(by_stage.values(), key=len)
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 0.0
