"""Spans, Spark stage metrics per span, and a /proc memory sampler.

Spans are recorded by the benchmark around its own calls into ``engine``
modules; nothing inside the engine is instrumented. Each span runs its Spark
jobs under its own job group, so the stage metrics in Spark's event log can
be attributed to the innermost span that launched them.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (id, name, start, end, parent, run id)."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self) -> None:
        if self._stack:
            top = self.spans[self._stack[-1]]
            self.sc.setJobGroup(top["group"], top["name"])
        else:
            self.sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, name: str, **tags):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"{self.run_id}-{sid}", **tags,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group()

    def finish(self, spark_by_group: dict[str, dict]) -> list[dict]:
        """Durations, self times (duration minus the time covered by direct
        children; children of one span never overlap here) and the Spark
        metrics of each span's own job group."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - child_time[s["id"]]
            s["spark"] = spark_by_group.get(s["group"], {})
        return self.spans

    def total(self, name: str) -> float:
        return sum(s["dur_s"] for s in self.spans if s["name"] == name)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


SPARK_FIELDS = ("jobs", "stages", "tasks", "run_ms", "gc_ms", "spill_bytes",
                "input_bytes", "shuffle_write_bytes")


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{os.path.abspath(log_dir)}",
        "spark.eventLog.compress": "false",
    }


def spark_metrics_by_group(log_dir: str) -> dict[str, dict]:
    """Sum task metrics per job group from the (finished) event logs."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0))
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for path in filter(os.path.isfile, paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    g["run_ms"] += m.get("Executor Run Time", 0)
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g["shuffle_write_bytes"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    return dict(out)


def sum_spark(spans: list[dict]) -> dict:
    tot = dict.fromkeys(SPARK_FIELDS, 0)
    for s in spans:
        for k in SPARK_FIELDS:
            tot[k] += s["spark"].get(k, 0)
    return tot


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, from /proc/<pid>/stat."""
    children: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory of a process tree (the driver JVM
    and the Python workers it forks), sampled from /proc every ``period``
    seconds on a background thread. ``psutil`` is not available here."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root_pid = root_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        k = 0
        while not self._stop.is_set():
            if k % 10 == 0:  # the process tree changes rarely
                pids = descendants(self.root_pid)
            k += 1
            self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in pids))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
