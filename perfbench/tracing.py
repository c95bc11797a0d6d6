"""Spans, a py4j call counter and a Spark event-log parser.

Everything here is used only by the traced run (``--trace 1``); the
untraced run that produces the end-to-end metrics records no spans and
counts no calls.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: name, start, end and parent, written out once.

    Times are epoch seconds so spans line up with the event log's job
    intervals."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        return {s["id"]: (s["end"] - s["start"]) - covered(s["start"], s["end"], children[s["id"]])
                for s in self.spans}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump([{**s, "self": selfs[s["id"]]} for s in self.spans], fh)


class NullTracer:
    """Stand-in for untraced passes: spans cost one context manager."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext({})


def covered(start: float, end: float, intervals) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
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


class Py4jCounter:
    """Counts gateway round trips made by the calling thread.

    Wraps ``send_command`` on the session's gateway client instance;
    py4j's finalizer thread (object releases) is not counted, so a
    count repeats exactly for the same Python code path."""

    def __init__(self, client):
        self.client = client
        self.count = 0
        self._thread = threading.get_ident()
        self._orig = client.send_command

    def __enter__(self):
        orig, me = self._orig, self._thread

        def counted(*args, **kwargs):
            if threading.get_ident() == me:
                self.count += 1
            return orig(*args, **kwargs)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc):
        del self.client.send_command


EVENTLOG_FIELDS = (
    "jobs", "job_s", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "task_wait_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def parse_event_log(path: str) -> dict[str, dict]:
    """Per-job-group rollup of a Spark event log.

    Tasks are charged to the job group of the job that last listed their
    stage (AQE submits each query stage as its own job).  ``job_s`` sums
    job wall time, ``task_wait_s`` is task wall time outside the executor
    run loop (deserialization, scheduling, result fetch) plus shuffle
    fetch wait, ``spill_bytes`` counts bytes spilled to disk.  The
    ``job_intervals`` key holds each job's (submit, complete) in epoch
    seconds."""
    groups: dict[str, dict] = defaultdict(lambda: {**{k: 0 for k in EVENTLOG_FIELDS},
                                                   "job_intervals": [], "_stages": set()})
    job_group, job_submit, stage_group = {}, {}, {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "_none"
                job_group[ev["Job ID"]] = g
                job_submit[ev["Job ID"]] = ev.get("Submission Time", 0)
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                g = groups[job_group.get(jid, "_none")]
                start, end = job_submit.get(jid, 0), ev.get("Completion Time", 0)
                g["jobs"] += 1
                g["job_s"] += (end - start) / 1000
                g["job_intervals"].append((start / 1000, end / 1000))
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "_none")]
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["_stages"].add((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    g["failed_tasks"] += 1
                run_ms = m.get("Executor Run Time", 0)
                shuffle_r = m.get("Shuffle Read Metrics") or {}
                g["executor_run_s"] += run_ms / 1000
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000
                wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                g["task_wait_s"] += (max(wall_ms - run_ms, 0) + shuffle_r.get("Fetch Wait Time", 0)) / 1000
                g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                g["shuffle_read_bytes"] += shuffle_r.get("Remote Bytes Read", 0) + shuffle_r.get("Local Bytes Read", 0)
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for g in groups.values():
        g["stages"] = len(g.pop("_stages"))
    return dict(groups)


def find_event_log(log_dir: str) -> str:
    """The single application log the session wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
