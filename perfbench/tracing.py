"""Tracing from outside the engine: spans around calls into each layer,
Spark job groups, the Spark event log and /proc counters.

A span times one action on the output of a layer's public function. Its
children are the spans of that layer's inputs, so a layer's self time is
its span minus the sum of its children (the child actions recompute the
same inputs). Spans live in memory; the event log is rolled up per span
after the session stops, because Spark only closes the log on stop.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
UNTRACED = "perfbench.untraced"  # job group between spans


# ------------------------------------------------------------------ /proc

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; every field after it is space-separated
    return raw.rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """Every live process below `root` (the JVM, the PySpark daemon and
    its Python workers when `root` is this process)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while `pid` exists and has not exited (a zombie has exited)."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of each process plus that of its reaped children."""
    ticks = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def engine_cpu_seconds() -> float:
    """CPU seconds used so far by the JVM and its Python workers."""
    return cpu_seconds(descendants(os.getpid()))


def engine_peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the JVM and its Python workers."""
    kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# ------------------------------------------------------------------ spans

class Tracer:
    """Spans around layer calls. Each span runs its Spark jobs under a job
    group named after the span (plus `group_prefix`), so the event log can
    attribute them to it; a tracer with a prefix is a warm-up pass whose
    jobs no rollup counts."""

    def __init__(self, spark, group_prefix: str = ""):
        self.spark = spark
        self.group_prefix = group_prefix
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, children: tuple[str, ...] = ()):
        sc = self.spark.sparkContext
        rec = {"name": name, "children": list(children)}
        group = self.group_prefix + name
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            sc.setJobGroup(UNTRACED, UNTRACED)
            self.spans.append(rec)

    def names(self) -> set[str]:
        return {rec["name"] for rec in self.spans}

    def get(self, name: str) -> dict:
        for rec in self.spans:
            if rec["name"] == name:
                return rec
        raise KeyError(name)

    def self_s(self, name: str) -> float:
        rec = self.get(name)
        return rec["s"] - sum(self.get(c)["s"] for c in rec["children"])

    def attach_event_log(self, log_dir: str) -> None:
        """Roll the event log up into each span's record (call after the
        SparkSession has stopped, so the log is complete)."""
        per_group = rollup_event_log(log_dir, self.spans)
        for rec in self.spans:
            rec.update(per_group.get(rec["name"], _empty_rollup()))


def _empty_rollup() -> dict:
    return {
        "jobs": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0, "fetch_wait_s": 0.0, "spill_bytes": 0,
        "python_bytes_sent": 0,
    }


def _event_files(log_dir: str) -> list[str]:
    """Event-log files under log_dir: Spark 4 writes a rolling
    eventlog_v2_<app> directory of events_<n>_<app> parts; older layouts
    write one file per application."""
    files = []
    for dirpath, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith("appstatus_") or n.endswith(".crc"):
                continue
            files.append(os.path.join(dirpath, n))

    def part(path: str) -> int:
        base = os.path.basename(path)
        return int(base.split("_")[1]) if base.startswith("events_") else 0

    return sorted(files, key=part)


def rollup_event_log(log_dir: str, spans: list[dict]) -> dict[str, dict]:
    """Per span name: jobs, tasks and summed task metrics of the jobs run
    under that span's job group."""
    names = {s["name"] for s in spans}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g not in names:
                        continue
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    out.setdefault(g, _empty_rollup())["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    r = out.setdefault(g, _empty_rollup())
                    r["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    r["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get(
                        "Fetch Wait Time", 0) / 1e3
                    r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == "data sent to Python workers":
                            r["python_bytes_sent"] += int(acc.get("Update") or 0)
    return out


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings of a traced run: an event log written as plain
    JSON lines (Spark's default codec, zstd, would need a decoder)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }
