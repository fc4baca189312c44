"""Measurement machinery: spans, Spark event-log parsing, memory sampling
and the host control.

Spans are recorded from the benchmark's own files only: around its calls
into the program and, in the traced run, by wrapping the program's public
entry points in-process (``Tracer.wrap``). Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

_MISSING = object()


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, run_id);
    parent is the index of the enclosing span on the same thread."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = [name, time.perf_counter(), None, parent, self.run_id]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, generator: bool = False) -> None:
        """Replace ``owner.attr`` (module function or class method) with a
        span-recording wrapper until ``unwrap_all``. For a generator function
        each ``next`` is its own span, so the consumer's time between items
        is not charged to it."""
        original = owner.__dict__.get(attr, _MISSING)
        target = getattr(owner, attr)
        tracer = self

        if generator:
            @functools.wraps(target)
            def wrapper(*args, **kwargs):
                it = target(*args, **kwargs)
                while True:
                    with tracer.span(name):
                        item = next(it, _MISSING)
                    if item is _MISSING:
                        return
                    yield item
        else:
            @functools.wraps(target)
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return target(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            if original is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._patches.clear()

    def totals(self) -> tuple[dict[str, float], dict[str, float]]:
        """(total seconds, self seconds) per span name. Self time is the
        span's duration minus the time its direct children cover."""
        total: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        for name, start, end, parent, _ in self.spans:
            total[name] += end - start
            if parent is not None:
                child[parent] += end - start
        own: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _, _) in enumerate(self.spans):
            own[name] += end - start - child[i]
        return dict(total), dict(own)

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(dict(zip(("name", "start", "end", "parent", "run_id"), rec))))
                f.write("\n")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


class EventLog:
    """Jobs, tasks and SQL executions parsed from one application's event
    log (``spark.eventLog.enabled``; uncompressed JSON lines)."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.executions: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {
                "id": e["Job ID"],
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "desc": props.get("spark.job.description", ""),
                "execution": props.get("spark.sql.execution.id"),
            }
            self.jobs[job["id"]] = job
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = job["id"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "job": self.stage_job.get(e["Stage ID"]),
                "seconds": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[e["executionId"]] = {
                "desc": e.get("description", ""),
                "plan": e.get("physicalPlanDescription", ""),
                "start": e["time"] / 1000.0,
                "end": None,
            }
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                ex["end"] = e["time"] / 1000.0

    def select(self, desc_prefix: str) -> "JobSet":
        jobs = [j for j in self.jobs.values() if j["desc"].startswith(desc_prefix)]
        ids = {j["id"] for j in jobs}
        return JobSet(jobs, [t for t in self.tasks if t["job"] in ids])

    def executions_for(self, desc_prefix: str) -> list[dict]:
        return [x for x in self.executions.values()
                if x["desc"].startswith(desc_prefix) and x["end"] is not None]


class JobSet:
    def __init__(self, jobs: list[dict], tasks: list[dict]):
        self.jobs = jobs
        self.tasks = tasks

    def job_seconds(self) -> float:
        """Wall covered by the jobs (overlapping jobs counted once)."""
        spans = sorted((j["start"], j["end"]) for j in self.jobs if j["end"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered

    def task_seconds(self) -> list[float]:
        return [t["seconds"] for t in self.tasks]

    def shuffle_write_bytes(self) -> int:
        return sum(t["shuffle_write"] for t in self.tasks)

    def spill_bytes(self) -> int:
        return sum(t["spill"] for t in self.tasks)


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


# ---------------------------------------------------------------------------
# Memory and host
# ---------------------------------------------------------------------------


def child_pids() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones divided among the
    processes sharing them (forked Python workers share most of theirs)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def descendants_pss() -> int:
    """Summed PSS of every process below this one: the driver JVM and the
    Python worker daemon with its workers."""
    kids = child_pids()
    total, todo = 0, list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        total += _pss_bytes(pid)
        todo.extend(kids.get(pid, []))
    return total


class MemSampler:
    """Background sampler of ``descendants_pss``; ``peak`` in bytes."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_pss())
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_control(reps: int = 3) -> float:
    """Median seconds of a fixed pure-Python loop that imports nothing from
    the program, so no program change can move it. Evidence of host speed
    only; no metric is scaled by it."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc * 31 + i) & 0xFFFFF
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
