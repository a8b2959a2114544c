"""Measurement plumbing for the benchmark: spans with per-span Spark stage
metrics, process-tree CPU time and RSS, and the host steal meter.

Nothing here touches the library; it times and labels calls made into it.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

from bench import _steal_total

# stage fields summed per span; REST names → metric suffixes
STAGE_SUMS = {
    "numTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "inputBytes": "input_bytes",
}
TERMINAL = {"COMPLETE", "SKIPPED", "FAILED"}


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        # field 22 (starttime); the command name in field 2 may hold spaces
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def _tree_pids() -> list[int]:
    """This process and all its descendants: the driver JVM and its Python
    workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited between listdir and open
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and its descendants. Time the hypervisor steals from a
    vCPU is not charged to the process running on it."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class StealMeter:
    """Host-wide steal fraction over a window (bench.py's /proc/stat count)."""

    def __enter__(self):
        self.s0, self.t0 = _steal_total()
        return self

    def __exit__(self, *exc):
        s1, t1 = _steal_total()
        self.frac = (s1 - self.s0) / max(t1 - self.t0, 1.0)
        return False


class RssPeak:
    """Peak memory of this process and all its descendants (the driver JVM
    and its Python workers), sampled from /proc while active.

    Sums the proportional set size (Pss): a page shared by several
    processes counts once in total, so a freshly forked child, which
    shares its parent's pages, does not double the figure."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_pss(self) -> int:
        total = 0
        for pid in _tree_pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, self._tree_pss())
        return False


class Tracer:
    """Spans around the benchmark's calls into the library.

    Each span runs its Spark jobs under its own job group, so the jobs (and
    through them the stages) a call launched are read back from
    ``statusTracker()`` when the span closes. Stage metrics come from the UI
    REST endpoint once, in :meth:`collect_stages`. Spans stay in memory until
    the run writes them out. A disabled tracer yields ``None`` and records
    nothing, so the untraced runs pay no tracing cost.
    """

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}:{len(self.spans)}",
            **attrs,
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        span["start"] = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield span
        finally:
            span["end"] = time.time()
            t1 = time.perf_counter()
            tracker = self.sc.statusTracker()
            jobs = sorted(tracker.getJobIdsForGroup(span["group"]))
            stage_ids: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is None:
                    raise RuntimeError(f"job {j} of span {name!r} is no longer retained")
                stage_ids.update(info.stageIds)
            span["jobs"] = jobs
            span["stage_ids"] = sorted(stage_ids)
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t1

    def collect_stages(self, timeout: float = 60.0) -> None:
        """Fetch stage metrics for every span's stages from the UI REST API.

        Raises on an HTTP error or when a stage never reaches a terminal
        state: a failed read is an error, never an empty stage set."""
        wanted = {s for span in self.spans for s in span.get("stage_ids", [])}
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/stages"
        deadline = time.monotonic() + timeout
        while True:
            with urllib.request.urlopen(url, timeout=30) as resp:
                rows = json.load(resp)
            latest: dict[int, dict] = {}
            for r in rows:
                sid = r["stageId"]
                if sid not in latest or r["attemptId"] > latest[sid]["attemptId"]:
                    latest[sid] = r
            pending = sorted(s for s in wanted if latest.get(s, {}).get("status") not in TERMINAL)
            if not pending:
                break
            if time.monotonic() > deadline:
                raise RuntimeError(f"stage collector: stages {pending[:10]} not terminal after {timeout}s")
            time.sleep(0.5)
        # sum over ALL attempts of a stage: retried attempts did real work
        stages = {s: {"status": latest[s]["status"], **{k: 0 for k in STAGE_SUMS.values()}} for s in wanted}
        for r in rows:
            if r["stageId"] in wanted:
                acc = stages[r["stageId"]]
                for field, key in STAGE_SUMS.items():
                    acc[key] += int(r.get(field) or 0)
        for span in self.spans:
            span["stages"] = {s: stages[s] for s in span.get("stage_ids", [])}

    def subtree(self, root: dict) -> list[dict]:
        ids = {root["id"]}
        out = [root]
        for span in self.spans[root["id"] + 1:]:
            if span["parent"] in ids:
                ids.add(span["id"])
                out.append(span)
        return out

    def totals(self, root: dict, cores: int) -> dict[str, float]:
        """Spark counters of a span and its descendants, by job and stage."""
        spans = self.subtree(root)
        jobs = {j for s in spans for j in s["jobs"]}
        stages = {sid: st for s in spans for sid, st in s["stages"].items()}
        ran = [st for st in stages.values() if st["status"] != "SKIPPED"]
        run_s = sum(st["executor_run_ms"] for st in ran) / 1e3
        wall = root["end"] - root["start"]
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(st["tasks"] for st in ran),
            "shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in ran),
            "spill_bytes": sum(st["memory_spill_bytes"] + st["disk_spill_bytes"] for st in ran),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(st["executor_cpu_ns"] for st in ran) / 1e9,
            "core_busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        }

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh, indent=1, default=str)
