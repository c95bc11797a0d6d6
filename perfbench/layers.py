"""Per-layer metrics of a traced run.

Every value is per traced pass (the mean over the traced passes).
README.md lists which end-to-end metric each one should move, and on
which workload.
"""

from __future__ import annotations

from tracing import EVENTLOG_FIELDS, covered
from workloads import CORPUS_JOBS, QUERY_MIX, warm_seconds

# span names of the build and exec layers, per workload
BUILD_SPANS = {"query_mix": ("build",), "corpus_pipeline": ("job.transform",)}
JOB_SPANS = ("job.load", "job.transform", "job.quality", "job.write")
EXEC_FIELDS = [f for f in EVENTLOG_FIELDS if f not in ("jobs", "job_s")]


def layer_names() -> list[str]:
    names = ["session.get_spark_s", "session.first_scan_s",
             "build_s", "build.self_s", "build.py4j_calls", "build.spark_jobs",
             "catalyst_ms", "exec_s"]
    names += [f"exec.{f}" for f in EXEC_FIELDS]
    names += ["cpu.driver_py_s", "cpu.jvm_s", "cpu.py_workers_s", "plans.resolve_s"]
    names += [f"{s}_s" for s in JOB_SPANS]
    names += ["sources.bytes_written", "sources.files_written", "trace.warm_s", "trace.overhead_s"]
    for q in QUERY_MIX:
        names += [f"{q}.build_s", f"{q}.exec_s", f"{q}.py4j_calls"]
    names += [f"{j}.etl_s" for j in CORPUS_JOBS]
    return names


def layer_metrics(workload: str, ctx, traced, other, log: dict, warm_untraced: float) -> dict:
    """``traced`` is [(pass, {cpu split delta})] of the run's workload,
    ``other`` the traced passes of the other workload; ``log`` the
    parsed event log keyed by job group ``p<pass>:<item>:<phase>``.

    Whole-pass metrics (build, Catalyst, execution, CPU, trace) come from
    ``traced``.  Per-query metrics come from the ``query_mix`` passes and
    the job, plans and sources metrics from the ``corpus_pipeline``
    passes, whichever of the two lists holds them."""
    out = {k: 0.0 for k in layer_names() if not k.startswith("session.")}
    own = [p for p, _ in traced]
    by_workload = {workload: own, other[0].workload: other}

    def spans_of(passes):
        idx = {p.index for p in passes}
        return [s for s in ctx.recorder.spans if s.get("pass_no") in idx]

    def dur(s):
        return s["end"] - s["start"]

    def total(spans, names, n, item=None):
        return sum(dur(s) for s in spans if s["name"] in names and (item is None or s.get("item") == item)) / n

    n = len(own)
    spans = spans_of(own)
    own_idx = {p.index for p in own}
    groups = {}
    for key, g in log.items():
        parts = key.split(":")
        if len(parts) == 3 and parts[0][1:].isdigit() and int(parts[0][1:]) in own_idx:
            groups[(int(parts[0][1:]), parts[1], parts[2])] = g

    build = [s for s in spans if s["name"] in BUILD_SPANS[workload]]
    out["build_s"] = sum(dur(s) for s in build) / n
    jobs_in_build = 0
    self_s = 0.0
    for s in build:
        g = groups.get((s["pass_no"], s["item"], "build"))
        intervals = g["job_intervals"] if g else []
        jobs_in_build += g["jobs"] if g else 0
        self_s += dur(s) - covered(s["start"], s["end"], intervals)
    out["build.self_s"] = self_s / n
    out["build.spark_jobs"] = jobs_in_build / n
    out["build.py4j_calls"] = sum(s.get("py4j_calls", 0) for s in build) / n
    out["catalyst_ms"] = sum(v for (i, _), v in ctx.catalyst.items() if i in own_idx) / n
    for f in EXEC_FIELDS:
        out[f"exec.{f}"] = sum(g[f] for g in groups.values()) / n
    for key in ("driver_py", "jvm", "py_workers"):
        out[f"cpu.{key}_s"] = sum(cpu[key] for _, cpu in traced) / n
    out["trace.warm_s"] = warm_seconds(own)
    out["trace.overhead_s"] = out["trace.warm_s"] - warm_untraced

    corpus = by_workload["corpus_pipeline"]
    c_spans, c_n = spans_of(corpus), len(corpus)
    out["plans.resolve_s"] = total(c_spans, ("plans.resolve",), c_n)
    for name in ("job.load", "job.transform", "job.write"):
        out[f"{name}_s"] = total(c_spans, (name,), c_n)
    # what SparkJob.etl does between transform and write: persist, the
    # primary-key and expectation gates
    selfs = ctx.recorder.self_times()
    out["job.quality_s"] = sum(selfs[s["id"]] for s in c_spans if s["name"] == "job.etl") / c_n
    for j in CORPUS_JOBS:
        out[f"{j}.etl_s"] = total(c_spans, ("job.etl",), c_n, j)
    written = [ctx.written[p.index] for p in corpus]
    out["sources.bytes_written"] = sum(b for b, _ in written) / c_n
    out["sources.files_written"] = sum(f for _, f in written) / c_n

    queries = by_workload["query_mix"]
    q_spans, q_n = spans_of(queries), len(queries)
    for q in QUERY_MIX:
        out[f"{q}.build_s"] = total(q_spans, ("build",), q_n, q)
        out[f"{q}.exec_s"] = total(q_spans, ("exec",), q_n, q)
        out[f"{q}.py4j_calls"] = sum(s.get("py4j_calls", 0) for s in q_spans
                                     if s["name"] == "build" and s["item"] == q) / q_n
    out["exec_s"] = total(spans, ("exec",), n) if workload == "query_mix" \
        else out["job.quality_s"] + out["job.write_s"]
    return out
