"""In-memory span tracing and readers for Spark's own counters.

Spans are recorded only from the benchmark's files: :meth:`Tracer.wrap`
times calls into public functions of ``cdc_worker_spark`` by rebinding the
module or class attribute for the duration of a traced run, and
:meth:`Tracer.add` records intervals that Spark reports itself (micro-batch
phases). Nothing is written until :meth:`Tracer.dump` at exit.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime, timezone


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Collects spans of one run. Parents come from the calling thread's
    open spans, or, for a span opened with none, from the innermost span
    added with :meth:`add` that contains it in time (foreachBatch callbacks
    run on a py4j thread inside Spark's micro-batch span)."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []
        #: wrapped calls record spans only while this is set
        self.active = True

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, time.time(), parent, self.run_id))

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        sid = next(self._ids)
        with self._lock:
            self.spans.append(Span(sid, name, start, end, parent, self.run_id))
        return sid

    def wrap(self, owner, attr: str, name: str) -> None:
        """Rebind ``owner.attr`` to a timed wrapper until :meth:`restore`."""
        orig = getattr(owner, attr)

        def timed(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def _adopt_orphans(self) -> None:
        added = [s for s in self.spans if s.parent is None and s.name.startswith("spark.")]
        for s in self.spans:
            if s.parent is not None or s.name.startswith("spark."):
                continue
            inside = [a for a in added if a.start <= s.start and s.end >= s.end - 0.002]
            if inside:
                s.parent = min(inside, key=lambda a: a.end - a.start).id

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by children."""
        self._adopt_orphans()
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length([(max(c.start, s.start), min(c.end, s.end))
                                    for c in kids.get(s.id, [])])
            out[s.name] = out.get(s.name, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def totals(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------- process counters


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int, exclude: tuple[int, ...] = ()) -> float:
    """User plus system CPU seconds used so far by ``root`` and every live
    process below it, except the ``exclude`` subtrees. Time the hypervisor
    steals from the VM is not in it."""
    skip = set(exclude)
    for pid in exclude:
        skip.update(descendants(pid))
    ticks = 0
    for pid in [root, *descendants(root)]:
        if pid in skip:
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except (OSError, ValueError, IndexError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------- Spark's counters


def progress_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch's trigger finished."""
    return parse_iso(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def parse_iso(s: str) -> float:
    s = s.replace("GMT", "Z")
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class SparkStatus:
    """Reads the application status store through the driver's local UI
    REST endpoint: jobs and stages."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, job_group: str) -> None:
        """Wait until the asynchronous status listener has seen every job
        of ``job_group`` finish."""
        for _ in range(50):
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == job_group]
            if all(j["status"] != "RUNNING" for j in jobs):
                return
            time.sleep(0.1)

    def exec_counters(self, job_group: str, t_start: float, t_end: float) -> dict:
        """Executor counters of the stages run under ``job_group`` (a
        streaming query's jobs carry its run id) that were submitted within
        [t_start, t_end], and the part of that interval no stage covers
        (driver-side time)."""
        self.settle(job_group)
        stage_ids = set()
        for j in self._get("/jobs"):
            if j.get("jobGroup") == job_group:
                stage_ids.update(j["stageIds"])
        stages = [s for s in self._get("/stages?status=complete") if s["stageId"] in stage_ids
                  and s.get("submissionTime") and t_start <= parse_iso(s["submissionTime"]) <= t_end]
        covered = union_length([
            (max(t_start, parse_iso(s["submissionTime"])), min(t_end, parse_iso(s["completionTime"])))
            for s in stages if s.get("submissionTime") and s.get("completionTime")
        ])
        return {
            "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "exec.run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "exec.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "exec.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "exec.spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
            "exec.tasks": sum(s["numTasks"] for s in stages),
            "exec.stage_s": covered,
            "exec.driver_s": max(0.0, (t_end - t_start) - covered),
            "sources.scan_bytes": sum(s["inputBytes"] for s in stages),
        }
