"""Host facts, /proc sampling, Spark event-log reading and trace spans.

Everything here reads the host from outside the program under test:
``/proc`` for CPU, steal and memory, and Spark's own event log for task
metrics.  Spans are kept in memory and written once, at exit.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def host_info(root: str) -> dict:
    """nproc, CPU model, memory and a digest of the program's and the
    benchmark's sources (the checkout is not a git repository, so no
    commit id is readable)."""
    model = "unknown"
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    sources = []
    for base in ("gclog_parser_spark", "jobs", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(root, base)):
            dirs[:] = [d for d in dirs if d not in ("_out", "__pycache__")]
            sources += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    digest = hashlib.sha256()
    for p in sorted(sources):
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            digest.update(fh.read())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpus": sorted(os.sched_getaffinity(0)),
        "cpu_model": model,
        "mem_total_mb": mem_kb // 1024,
        "commit": "sha256:" + digest.hexdigest()[:16],
    }


def cpu_times(cpus=None) -> tuple[int, int, int]:
    """(busy, steal, total) jiffies from /proc/stat, summed over ``cpus``
    (all CPUs when None)."""
    busy = steal = total = 0
    with open("/proc/stat") as fh:
        for line in fh:
            if not line.startswith("cpu"):
                break
            name, *vals = line.split()
            if cpus is None:
                if name != "cpu":
                    continue
            elif name == "cpu" or int(name[3:]) not in cpus:
                continue
            v = [int(x) for x in vals[:8]]
            # user nice system idle iowait irq softirq steal
            total += sum(v)
            steal += v[7]
            busy += v[0] + v[1] + v[2] + v[5] + v[6]
    return busy, steal, total


def share(before, after, index: int) -> float:
    """Share of jiffies in field ``index`` (0 busy, 1 steal) between two
    ``cpu_times`` readings."""
    total = after[2] - before[2]
    return (after[index] - before[index]) / total if total > 0 else 0.0


def _tree_rss_kb(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and every process in its session
    (the driver JVM, the PySpark daemon and its workers)."""
    sid = os.getsid(root_pid)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if int(fields[3]) != sid:
                continue
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process's session, sampled every
    ``period`` seconds while running."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self.peak_kb = _tree_rss_kb(os.getpid())
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.wait(self.period):
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str):
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}) + "\n")


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application in ``log_dir``, whether
    written as one file or as a rolling ``eventlog_v2_*`` directory."""
    events = []
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        if not f.startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:  # a line still being written
                    continue
    return events


def group_task_metrics(events: list[dict]) -> dict:
    """job group -> task-metric totals of every job run under it.

    ``task_skew`` is the largest max/median task time over the group's
    stages that ran at least two tasks (1.0 when none did)."""
    stage_group, tasks = {}, {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)
    out = {}
    for sid, group_tasks in tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        g = out.setdefault(group, {
            "shuffle_bytes_written": 0, "spill_bytes": 0,
            "jvm_gc_s": 0.0, "tasks": 0, "task_skew": 1.0,
        })
        durations = []
        for t in group_tasks:
            m = t.get("Task Metrics") or {}
            info = t.get("Task Info") or {}
            g["tasks"] += 1
            g["shuffle_bytes_written"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            g["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            durations.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        if len(durations) >= 2:
            med = statistics.median(durations)
            if med > 0:
                g["task_skew"] = max(g["task_skew"], max(durations) / med)
    return out


def scan_bytes_by_group(events: list[dict]) -> dict:
    """job group -> "size of files read" summed over every file scan its
    SQL executions ran.  The tasks' own Input Metrics undercount parquet
    reads (most bytes are read off the task thread), so the scan node's
    driver-side metric is used: the size of the files each scan opened."""
    metric_ids, exec_group, totals = set(), {}, {}

    def walk(node):
        for m in node.get("metrics", []):
            if m.get("name") == "size of files read":
                metric_ids.add(m["accumulatorId"])
        for child in node.get("children", []):
            walk(child)

    for e in events:
        kind = e.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            walk(e.get("sparkPlanInfo") or {})
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = props.get(
                    "spark.jobGroup.id")
    for e in events:
        if e.get("Event", "").endswith("SparkListenerDriverAccumUpdates"):
            group = exec_group.get(e["executionId"])
            for acc_id, value in e["accumUpdates"]:
                if acc_id in metric_ids and group is not None:
                    totals[group] = totals.get(group, 0) + value
    return totals
