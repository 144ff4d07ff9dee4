"""Per-layer tracing for the benchmark: Spark event-log attribution and a
``/proc`` RSS sampler. Neither touches the program under test.

Spans are (group, start, end) wall-clock intervals the benchmark records
around each call into the package; the job group set for the call names it.
A job belongs to a span when its ``spark.jobGroup.id`` equals the span's
group, or, for jobs started on threads without the property, when its
submission time falls inside the span.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from dataclasses import dataclass, field

MB = 1e6

COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "failed_tasks",
    "executor_run_s", "executor_cpu_s", "scheduler_delay_s",
    "shuffle_write_mb", "spill_mb", "output_mb",
)


@dataclass
class Span:
    group: str
    start: float  # time.time() seconds
    end: float


@dataclass
class _Job:
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class _Stage:
    submit_ms: int | None = None
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    wait_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0
    output: int = 0


def event_files(log_dir: str) -> list[str]:
    """Every ``events_*`` part of the rolling ``eventlog_v2_*`` directories
    (one per application) under a Spark event-log dir."""
    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))


class EventLog:
    """Jobs, stages and task metrics read from Spark JSON event logs."""

    def __init__(self) -> None:
        self.jobs: dict[tuple[str, int], _Job] = {}
        self.stages: dict[tuple[str, int], _Stage] = {}

    @classmethod
    def read(cls, paths: list[str]) -> "EventLog":
        log = cls()
        for path in paths:
            # the parts of one application's log share its directory
            with open(path, encoding="utf-8") as f:
                log.feed(f, app=os.path.dirname(path))
        return log

    def feed(self, lines, app: str = "") -> None:
        """Consume event-log lines of one application. ``app`` keeps job and
        stage ids of successive applications (session restarts) apart."""
        for line in lines:
            line = line.strip()
            if not line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[(app, ev["Job ID"])] = _Job(
                    group=props.get("spark.jobGroup.id"),
                    submit_ms=ev["Submission Time"],
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get((app, ev["Job ID"]))
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = self.stages.setdefault((app, info["Stage ID"]), _Stage())
                if st.submit_ms is None:
                    st.submit_ms = info.get("Submission Time")
            elif kind == "SparkListenerTaskEnd":
                self._task_end(app, ev)

    def _task_end(self, app: str, ev: dict) -> None:
        st = self.stages.setdefault((app, ev["Stage ID"]), _Stage())
        info = ev.get("Task Info", {})
        metrics = ev.get("Task Metrics") or {}
        st.tasks += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            st.failed_tasks += 1
        st.run_ms += metrics.get("Executor Run Time", 0)
        st.cpu_ns += metrics.get("Executor CPU Time", 0)
        if st.submit_ms is not None and "Launch Time" in info:
            # time the task waited for a free core after its stage was ready
            st.wait_ms += max(0, info["Launch Time"] - st.submit_ms)
        st.shuffle_write += (metrics.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        st.spill += metrics.get("Disk Bytes Spilled", 0)
        st.output += (metrics.get("Output Metrics") or {}).get("Bytes Written", 0)

    def _jobs_of(self, span: Span) -> list[tuple[tuple[str, int], _Job]]:
        lo, hi = span.start * 1000, span.end * 1000
        return [
            (key, job) for key, job in self.jobs.items()
            if job.group == span.group
            or (job.group is None and lo <= job.submit_ms <= hi)
        ]

    def profile(self, span: Span) -> dict[str, float]:
        """Counters of the jobs a span started, plus ``driver_s``: the span's
        wall time not covered by any of its jobs' intervals."""
        out = dict.fromkeys(COUNTERS, 0.0)
        intervals = []
        seen: set[tuple[str, int]] = set()
        for (app, _), job in self._jobs_of(span):
            out["jobs"] += 1
            intervals.append((job.submit_ms, job.end_ms or job.submit_ms))
            for sid in job.stage_ids:
                st = self.stages.get((app, sid))
                if st is None or st.submit_ms is None:
                    out["stages_skipped"] += 1
                    continue
                if (app, sid) in seen:
                    continue
                seen.add((app, sid))
                out["stages"] += 1
                out["tasks"] += st.tasks
                out["failed_tasks"] += st.failed_tasks
                out["executor_run_s"] += st.run_ms / 1000
                out["executor_cpu_s"] += st.cpu_ns / 1e9
                out["scheduler_delay_s"] += st.wait_ms / 1000
                out["shuffle_write_mb"] += st.shuffle_write / MB
                out["spill_mb"] += st.spill / MB
                out["output_mb"] += st.output / MB
        covered = _union_ms(intervals, span.start * 1000, span.end * 1000) / 1000
        out["driver_s"] = max(0.0, (span.end - span.start) - covered)
        return out


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---- resident memory ---------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                # comm may hold spaces; fields after the closing paren are fixed
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process exited between glob and read
        kids.setdefault(ppid, []).append(int(stat.split("/")[2]))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, in KiB."""
    kids, total, todo = _children(), 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Samples the RSS of a process tree (the driver JVM and the Python
    workers it forks) on a background thread; ``peak_mb`` is the maximum."""

    INTERVAL_S = 0.1

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self.root_pid))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
