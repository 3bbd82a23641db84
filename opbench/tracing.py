"""Spans, Spark status-store attribution, driver RSS and process teardown.

Spans are recorded by the benchmark around each call into an engine
layer (nothing inside the engine is instrumented). They are kept in
memory; only after the timed region does ``attribute`` read Spark's
status store and hand each job to the innermost span that was open when
the job was submitted.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# counters every layer span reports
SPAN_COUNTERS = (
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("job_union_s", "s", "lower"),
    ("executor_run_s", "s", "lower"),
    ("driver_gap_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
)


@dataclass
class Span:
    sid: int
    name: str
    parent: "int | None"
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)


class Tracer:
    """In-memory span recorder. A disabled tracer still times nothing
    extra: ``span`` then only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: "list[Span]" = []
        self._stack: "list[int]" = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()


def _status_json(spark) -> "tuple[list, list]":
    """All retained jobs and stages, serialised JVM-side in one call each
    (a py4j round trip per field would cost seconds)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_mod.__getattr__("MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), None)))
    return jobs, stages


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spark, tracer: Tracer) -> dict:
    """Give every retained job to the innermost span open at its
    submission and fill each span's counters. Returns a summary with
    the jobs no span claimed."""
    jobs, stages = _status_json(spark)
    by_stage = {}
    for st in stages:
        by_stage.setdefault(st["stageId"], []).append(st)
    spans = sorted(tracer.spans, key=lambda s: s.start)
    unclaimed = 0
    for j in jobs:
        t = (j.get("submissionTime") or 0) / 1000.0
        owner = None
        for s in spans:
            if s.start <= t <= s.end and (owner is None or s.start >= owner.start):
                owner = s
        if owner is None:
            unclaimed += 1
        else:
            owner.jobs.append(j)
    # a shuffle stage reused by a later job is listed by both jobs; its
    # work belongs to the first job that lists it
    first_job = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            first_job.setdefault(sid, j["jobId"])
    for s in tracer.spans:
        c = {k: 0.0 for k, _, _ in SPAN_COUNTERS}
        c["wall_s"] = s.end - s.start
        intervals = []
        for j in s.jobs:
            c["jobs"] += 1
            end = (j.get("completionTime") or j["submissionTime"]) / 1000.0
            intervals.append((j["submissionTime"] / 1000.0, end))
            for sid in j["stageIds"]:
                if first_job[sid] != j["jobId"]:
                    continue
                for st in by_stage.get(sid, []):
                    if st["status"] == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st["numTasks"]
                    c["executor_run_s"] += st["executorRunTime"] / 1000.0
                    c["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                    c["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6
        c["job_union_s"] = _union(intervals)
        c["driver_gap_s"] = c["wall_s"] - c["job_union_s"]
        s.attrs["counters"] = c
    return {"jobs": len(jobs), "stages": len(stages), "unclaimed_jobs": unclaimed}


def self_time(tracer: Tracer, span: Span) -> float:
    """Span wall minus the part of it its child spans cover."""
    kids = [(s.start, s.end) for s in tracer.spans if s.parent == span.sid]
    return (span.end - span.start) - _union(kids)


def write_jsonl(tracer: Tracer, path: str) -> None:
    with open(path, "w") as f:
        for s in tracer.spans:
            f.write(json.dumps({
                "id": s.sid, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end,
                "self_s": self_time(tracer, s),
                "attrs": s.attrs,
                "job_ids": [j["jobId"] for j in s.jobs],
            }, default=str) + "\n")


# --- processes -----------------------------------------------------------------

def _children_map() -> "dict[int, list[int]]":
    kids: "dict[int, list[int]]" = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> "list[int]":
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak of (JVM RSS + RSS of its Python workers), sampled every
    ``interval`` seconds from a daemon thread while ``active``."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            pids = [self.jvm_pid, *descendants(self.jvm_pid)]
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def jvm_process(spark):
    """The Popen of the JVM that py4j launched for this session."""
    return spark.sparkContext._gateway.proc


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and every Python worker it
    started have exited (killing them if the timeout passes)."""
    import signal

    proc = jvm_process(spark)
    family = descendants(proc.pid)
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except Exception:
        proc.kill()
        proc.wait(10)
    deadline = time.time() + timeout
    for pid in family:
        while _alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                if time.time() > deadline + 10:
                    raise RuntimeError(f"Spark worker process {pid} did not exit")
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process waiting to be reaped
    by its parent (state Z) counts as gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine so far, over
    all CPUs, in seconds (0 where /proc/stat has no steal column)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0

