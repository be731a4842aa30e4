"""Measurement helpers: the program's CPU time and peak RSS over its
process tree, layer spans tagged as Spark job groups, and the event-log
reader that turns those job groups into per-layer engine counters."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited between listing and reading
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_HZ = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class ProgramMeter:
    """What the program costs while the block runs: its CPU time and
    its peak memory.

    CPU time is this process's (the Python driver, less the sampler's
    own thread) plus every descendant's: the driver JVM and the Python
    workers it forks, with their reaped children.  Time the hypervisor
    steals is not in it, so on a shared host it varies less than the
    wall time.  Memory is the peak summed RSS of the descendants,
    sampled every ``interval`` s.  Machine-wide steal over the block is
    kept too, to explain a slow wall time."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_rss = 0
        self._sampler_cpu = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        t0 = time.thread_time()
        while not self._stop.is_set():
            rss = sum(_rss_bytes(p) for p in descendants(me))
            self.peak_rss = max(self.peak_rss, rss)
            self._stop.wait(self.interval)
        self._sampler_cpu = time.thread_time() - t0

    @staticmethod
    def _program_cpu() -> float:
        t = os.times()
        ticks = sum(_cpu_ticks(p) for p in descendants(os.getpid()))
        return t.user + t.system + ticks / _HZ

    def __enter__(self) -> "ProgramMeter":
        self._cpu0 = self._program_cpu()
        self._steal0 = _steal_s()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.cpu_s = self._program_cpu() - self._cpu0 - self._sampler_cpu
        self.steal_s = _steal_s() - self._steal0


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


class Tracer:
    """Flat layer spans.  ``enter`` closes the open span and opens the
    next one; every Spark job started meanwhile carries the layer name
    as its job group, which the event log records."""

    OUTSIDE = "untraced"

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[tuple[str, float, float]] = []
        self._open: tuple[str, float] | None = None

    def enter(self, layer: str) -> None:
        self._close()
        self._open = (layer, time.perf_counter())
        self.sc.setJobGroup(layer, layer)

    def exit(self) -> None:
        self._close()
        self.sc.setJobGroup(self.OUTSIDE, self.OUTSIDE)

    def _close(self) -> None:
        if self._open is not None:
            layer, t0 = self._open
            self.spans.append((layer, t0, time.perf_counter()))
            self._open = None

    def busy(self) -> dict[str, float]:
        """Span seconds per group, and per layer (the group name up to
        its first dot)."""
        out: dict[str, float] = defaultdict(float)
        for group, t0, t1 in self.spans:
            out[group] += t1 - t0
            if "." in group:
                out[group.split(".")[0]] += t1 - t0
        return out


class LayerCounters:
    """Engine counters per job group, read from a Spark event log.
    Jobs of the streaming query ``query_id`` are filed under
    ``streaming``, with their median count per micro-batch in
    ``jobs_per_batch``; other queries' jobs count as untraced."""

    GENERIC = ("jobs", "tasks", "failed_tasks", "shuffle_write_mb", "spill_mb", "gc_s")

    def __init__(self, log_path: str, query_id: str | None = None) -> None:
        stage_group: dict[int, str] = {}
        self.jobs: dict[str, int] = defaultdict(int)
        batch_jobs: dict[str, int] = defaultdict(int)
        tasks: dict[str, list[dict]] = defaultdict(list)
        with open(log_path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if "sql.streaming.queryId" in props:
                        group = Tracer.OUTSIDE
                        if props["sql.streaming.queryId"] == query_id:
                            group = "streaming"
                            batch_jobs[props.get("streaming.sql.batchId")] += 1
                    else:
                        group = props.get("spark.jobGroup.id") or Tracer.OUTSIDE
                    self.jobs[group] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], Tracer.OUTSIDE)
                    tasks[group].append(ev)
        self.jobs_per_batch = (
            statistics.median(batch_jobs.values()) if batch_jobs else 0
        )
        self.groups: dict[str, dict[str, float]] = {}
        for group in set(self.jobs) | set(tasks):
            self.groups[group] = self._aggregate(self.jobs[group], tasks[group])

    @staticmethod
    def _aggregate(n_jobs: int, tasks: list[dict]) -> dict[str, float]:
        mb = 1 << 20
        failed = shuffle = spill = gc = 0
        durations = []
        for ev in tasks:
            info = ev["Task Info"]
            failed += bool(info.get("Failed"))
            durations.append(info["Finish Time"] - info["Launch Time"])
            m = ev.get("Task Metrics") or {}
            shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            spill += m.get("Disk Bytes Spilled", 0)
            gc += m.get("JVM GC Time", 0)
        med = statistics.median(durations) if durations else 0
        return {
            "jobs": n_jobs,
            "tasks": len(tasks),
            "failed_tasks": failed,
            "shuffle_write_mb": shuffle / mb,
            "spill_mb": spill / mb,
            "gc_s": gc / 1000,
            "task_skew": max(durations) / med if med else 0.0,
        }

    def layer(self, name: str) -> dict[str, float]:
        """Counters summed over the groups of one layer (``fs`` covers
        ``fs.em`` and ``fs.score``); task skew is the worst group's."""
        parts = [
            v for g, v in self.groups.items() if g == name or g.startswith(name + ".")
        ]
        out = {k: sum(p[k] for p in parts) for k in self.GENERIC}
        out["task_skew"] = max((p["task_skew"] for p in parts), default=0.0)
        return out


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
