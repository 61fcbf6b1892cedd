"""Measurement plumbing shared by the workloads: spans with Spark job/task
counts, a streaming-progress listener, a peak-memory sampler over the whole
process tree, contention markers, and a median helper.

Spans are recorded only in a traced run (``--trace 1``); in an untraced run
``Tracer.span`` is a no-op, so end-to-end numbers never include tracing.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import uuid
from collections import defaultdict
from collections.abc import Iterator

LAYERS = (
    "session", "registry", "tables", "sources", "functions",
    "operators", "queries", "streaming", "io", "agent",
)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """In-memory span recorder for the harness's calls into each layer.

    A span is ``name`` (``<layer>.<call>``), start, end, parent span,
    workload and run id. Each span sets its own Spark job group, so the jobs
    and tasks a call launches on the calling thread are counted on that span
    alone (children set their own group). Spans are written out as JSON lines
    when the run ends.
    """

    def __init__(self, enabled: bool, workload: str, run_id: str) -> None:
        self.enabled = enabled
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # SparkContext, attached once the session is up
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": uuid.uuid4().hex[:12], "name": name, "parent": parent["id"] if parent else None,
            "workload": self.workload, "run": self.run_id, "jobs": 0, "tasks": 0,
        }
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        rec["start"] = t0 = time.perf_counter()
        self.bookkeeping_s += t0 - t_in
        try:
            yield
        finally:
            rec["end"] = t1 = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self._count_jobs(rec)
                if parent is not None:
                    self.sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t1

    def _count_jobs(self, rec: dict) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(rec["id"]):
            rec["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                rec["tasks"] += stage.numTasks if stage else 0

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def counts(self, name: str) -> tuple[int, int]:
        picked = [s for s in self.spans if s["name"] == name]
        return sum(s["jobs"] for s in picked), sum(s["tasks"] for s in picked)

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of it
        that its child spans cover, summed by layer."""
        children: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"]:
                children[s["parent"]].append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            layer = s["name"].split(".", 1)[0]
            if layer in out:
                out[layer] += (s["end"] - s["start"]) - covered
        return out

    def layer_counts(self) -> dict[str, tuple[int, int]]:
        out = {layer: (0, 0) for layer in LAYERS}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            if layer in out:
                jobs, tasks = out[layer]
                out[layer] = (jobs + s["jobs"], tasks + s["tasks"])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class ProgressLog:
    """Collects streaming progress events (``durationMs`` and state-operator
    figures) from a ``StreamingQueryListener`` the benchmark registers."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                rec = {
                    "query": str(p.id), "batch": p.batchId, "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
                with log._lock:
                    log.events.append(rec)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        return _Listener()

    def take(self) -> list[dict]:
        """Return and clear the events seen so far, in batch order per query."""
        with self._lock:
            out, self.events = self.events, []
        return sorted(out, key=lambda e: (e["query"], e["batch"]))


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants (JVM,
    Python workers), read from /proc. PSS splits each shared page between
    the processes sharing it, so forked Python workers are not counted
    twice the way summed RSS would count them."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, ppid in parent_of.items():
            if ppid == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class MemorySampler:
    """Background thread sampling the process tree's PSS."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.samples: list[int] = []
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append(_tree_pss_bytes(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_bytes(self) -> int:
        return max(self.samples, default=0)


def contention() -> dict:
    """Machine-load markers: 1-minute loadavg, cumulative steal jiffies and
    the 60 s CPU pressure average (PSI)."""
    out: dict = {}
    with contextlib.suppress(OSError, IndexError, ValueError):
        with open("/proc/loadavg") as fh:
            out["loadavg_1m"] = float(fh.read().split()[0])
    with contextlib.suppress(OSError, IndexError, ValueError):
        with open("/proc/stat") as fh:
            out["steal_jiffies"] = int(fh.readline().split()[8])
    with contextlib.suppress(OSError, IndexError, ValueError):
        with open("/proc/pressure/cpu") as fh:
            out["cpu_pressure_some_avg60"] = float(fh.readline().split("avg60=")[1].split()[0])
    return out


def trust(before: dict, after: dict, wall_s: float) -> dict:
    """Contention summary of one run. A run is trusted when the hypervisor
    stole less than 5% of one CPU on average during it. Load average and CPU
    pressure are recorded beside it but do not decide trust: back-to-back
    runs inherit the previous run's own load."""
    steal = None
    if "steal_jiffies" in before and "steal_jiffies" in after:
        steal = after["steal_jiffies"] - before["steal_jiffies"]
    steal_per_s = steal / wall_s if steal is not None and wall_s > 0 else None
    trusted = steal_per_s is None or steal_per_s < 5.0
    return {
        "before": before, "after": after, "steal_delta": steal,
        "steal_jiffies_per_s": steal_per_s, "trusted": trusted,
    }
