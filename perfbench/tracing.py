"""Benchmark-side tracing: spans, py4j call counting, Spark job attribution.

Everything here lives in the benchmark process and observes the engine
from outside:

* ``Tracer.span(name)`` records (name, start, end, parent, request id)
  around a call into one of the engine's layers; spans stay in memory
  until ``Tracer.dump``.
* ``Tracer.op(kind)`` opens a request: a fresh request id, a Spark job
  group (set from the calling thread, so the jobs the op triggers carry
  it in the event log), and the py4j call count and time it caused.
* ``Py4jCounter`` wraps the gateway client's ``send_command`` so every
  Python→JVM round trip in this process is counted and timed.
* ``event_log_jobs`` reads the uncompressed Spark event log after the
  session stops, one record per job with its stage and task metrics, and
  ``jobs_by_op`` attributes the jobs to ops by job group.

A disabled tracer records nothing and sets no job groups, so the untraced
run pays only an attribute check per call.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    req: str | None


@dataclass
class Op:
    kind: str
    req: str
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    py4j_s: float = 0.0
    py4j_long: list = field(default_factory=list)
    layer: str | None = None  # the search layer a query op exercises


# a py4j call longer than this may be waiting on a Spark job; its overlap
# with the op's job intervals is not counted as py4j time
LONG_CALL_S = 0.002


class Py4jCounter:
    """Counts and times every command sent over one py4j gateway client."""

    def __init__(self, client) -> None:
        self._client = client
        self._orig = client.send_command
        self._lock = threading.Lock()
        self.calls = 0
        self.seconds = 0.0
        # calls long enough to be waiting on a Spark job: (start, end)
        self.long_calls: list[tuple[float, float]] = []

        def counted(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return self._orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                with self._lock:
                    self.calls += 1
                    self.seconds += t1 - t0
                    if t1 - t0 > LONG_CALL_S:
                        self.long_calls.append((t0, t1))

        client.send_command = counted

    def snapshot(self) -> tuple[int, float]:
        with self._lock:
            return self.calls, self.seconds

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """Spans and ops of one benchmark process; see the module docstring."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._local = threading.local()
        self._seq = itertools.count()
        self.py4j: Py4jCounter | None = None
        self.enabled = False
        self.set_enabled(enabled)
        # wall-clock anchor: event-log timestamps are epoch ms
        self.epoch0 = time.time() - time.perf_counter()

    def set_enabled(self, flag: bool) -> None:
        """Switch recording on or off; off also unwraps the py4j client."""
        if flag and self.py4j is None:
            self.py4j = Py4jCounter(self.spark.sparkContext._gateway._gateway_client)
        elif not flag and self.py4j is not None:
            self.py4j.close()
            self.py4j = None
        self.enabled = flag

    @contextmanager
    def paused(self):
        """Record nothing inside the block (untimed preparation)."""
        was = self.enabled
        self.set_enabled(False)
        try:
            yield
        finally:
            self.set_enabled(was)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        st = self._stack()
        parent = st[-1] if st else None
        op = getattr(self._local, "op", None)
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op.req if op else None))
        st.append(idx)
        try:
            yield
        finally:
            st.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def op(self, kind: str):
        """One request: job group + py4j delta + an enclosing span."""
        if not self.enabled:
            yield None
            return
        req = f"{kind}-{next(self._seq)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(req, kind)
        c0, s0 = self.py4j.snapshot()
        n0 = len(self.py4j.long_calls)
        rec = Op(kind, req, time.perf_counter())
        self._local.op = rec
        try:
            with self.span(f"op.{kind}"):
                yield rec
        finally:
            rec.end = time.perf_counter()
            c1, s1 = self.py4j.snapshot()
            rec.py4j_calls, rec.py4j_s = c1 - c0, s1 - s0
            rec.py4j_long = self.py4j.long_calls[n0:]
            self._local.op = None
            sc.setJobGroup("bench-untimed", "outside any timed op")
            self.ops.append(rec)

    def layer_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in self.spans if s.name == name and s.end]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "ops": [o.__dict__ for o in self.ops],
                    **extra,
                },
                f,
            )


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "python_ms",
    "python_bytes",
)


def _events(log_dir: str):
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )
    files += [
        p
        for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    ]
    for p in files:
        with open(p) as f:
            for line in f:
                yield json.loads(line)


def event_log_jobs(log_dir: str) -> list[dict]:
    """One record per Spark job: its job group, (start, end) in epoch
    seconds, and its stage and task metrics summed."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, dict] = {}
    for e in _events(log_dir):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            job = {k: 0 for k in SPARK_KEYS}
            job.update(
                jobs=1,
                group=(e.get("Properties") or {}).get("spark.jobGroup.id"),
                start=e["Submission Time"] / 1e3,
                end=e["Submission Time"] / 1e3,
            )
            jobs[e["Job ID"]] = job
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = job
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif ev == "SparkListenerStageCompleted":
            job = stage_job.get(e["Stage Info"]["Stage ID"])
            if job is not None:
                job["stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            job = stage_job.get(e.get("Stage ID"))
            if job is None:
                continue
            m = e.get("Task Metrics") or {}
            job["tasks"] += 1
            job["executor_run_ms"] += m.get("Executor Run Time", 0)
            job["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            job["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for u in (e.get("Task Info") or {}).get("Accumulables", []):
                name = u.get("Name")
                if name == "time to run Python workers":
                    job["python_ms"] += float(u.get("Update") or 0)
                elif name in ("data sent to Python workers", "data returned from Python workers"):
                    job["python_bytes"] += float(u.get("Update") or 0)
    return list(jobs.values())


def jobs_by_op(ops: list[Op], jobs: list[dict], epoch0: float) -> dict[str, list[dict]]:
    """Attribute jobs to ops: by job group, or, for jobs submitted from
    threads the engine starts (which do not inherit the group), by the op
    whose wall interval contains the job's submission."""
    by_req = {o.req: [] for o in ops}
    spans = sorted((epoch0 + o.start, epoch0 + o.end, o.req) for o in ops)
    for job in jobs:
        if job["group"] in by_req:
            by_req[job["group"]].append(job)
            continue
        for s, e, req in spans:
            if s <= job["start"] <= e:
                by_req[req].append(job)
                break
    return by_req


def uncovered_ms(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Milliseconds of [start, end] not covered by the union of intervals."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end - start) - covered) * 1e3
