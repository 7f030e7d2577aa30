"""Spans, process-tree memory sampling and the Spark event-log rollup."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at exit.

    Disabled, ``span`` records nothing, so untraced runs pay no cost.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, run: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": run if run is not None else (parent["run"] if parent else None),
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            self._open.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus child durations."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "self_s": self.self_times(), **extra}, f, indent=1
            )


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all of its descendants."""
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.split("/")[2]))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread sampling the process tree's resident memory."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def eventlog_rollup(log_dir: str) -> dict[str, dict]:
    """Per job group: summed task metrics and the heaviest stage's skew.

    Reads the uncompressed JSON event logs Spark wrote under ``log_dir``.
    ``task_skew`` is max/median task run time in the stage of the group
    with the largest summed run time (the write stage of a pipeline run).
    """
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    # Spark 4 writes each application's log as a rolling directory of files
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    totals[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    t = totals[group]
                    t["tasks"] += 1
                    t["executor_run_ms"] += m.get("Executor Run Time", 0)
                    t["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    t["gc_ms"] += m.get("JVM GC Time", 0)
                    t["spill_mem_bytes"] += m.get("Memory Bytes Spilled", 0)
                    t["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
                    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    stage_tasks[ev["Stage ID"]].append(m.get("Executor Run Time", 0))
    for group, t in totals.items():
        stages = [s for s, g in stage_group.items() if g == group and stage_tasks.get(s)]
        if stages:
            heavy = max(stages, key=lambda s: sum(stage_tasks[s]))
            med = statistics.median(stage_tasks[heavy])
            t["task_skew"] = max(stage_tasks[heavy]) / med if med > 0 else 1.0
    return {g: dict(t) for g, t in totals.items()}
