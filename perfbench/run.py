#!/usr/bin/env python3
"""Benchmark of yaetos_spark: end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root.  One run is one process:

1. host fingerprint (load average, ``par_spin_sec``); the input tables
   are generated on first use (``datagen.py``).  Both are outside every
   timing, ``setup_s`` included;
2. set-up: interpreter start, imports, ``get_spark`` and the first
   parquet scan (``setup_s``);
3. the cold pass (``cold_s``); ``query_mix`` takes each item's digest
   on it, through an Observation on the same execution;
4. the identity check of those digests, or for ``corpus_pipeline`` of
   the cold pass's written datasets and the chain's invariants;
5. the measured window: ``round(--seconds / nominal pass length)``
   passes, at least one.  ``warm_s`` is the sum over items of each item's
   median, ``cpu_s`` the process-tree CPU per pass, ``peak_rss_mb``
   the tree's peak over the whole run.

``--trace 1`` runs an untraced, a traced and an untraced pass as the
window instead, then a warm-up and a traced pass of the other workload,
so that every per-layer metric (``layers.py``) is measured in every
traced run.

The seed permutes item order within each ``query_mix`` pass; the tables
never depend on it.  Row counts are checked on every pass and digests
once, against ``expected.json``; a mismatch or an exception counts as a
failed item.  The last stdout line is the result; the line before it is
the host fingerprint.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
EXPECTED = os.path.join(HERE, "expected.json")

WORKLOADS = ("query_mix", "corpus_pipeline")
OTHER = {"query_mix": "corpus_pipeline", "corpus_pipeline": "query_mix"}
BASE_SF = 0.01
SPARK_CPUS = 2
DRIVER_MEMORY = "1g"
FIRST_SCAN = "lineitem"
# the traced pass sits between two untraced ones, so the JIT's remaining
# pass-to-pass speed-up cancels out of trace.overhead_s
TRACE_SCHEDULE = (False, True, False)
# JIT compile thresholds at a tenth of the defaults: with the defaults a
# query_mix pass keeps getting faster for five passes (27, 16, 17, 18,
# 14, 10, 9 s), longer than a run can last, and a window over those
# passes measures how far the JIT got; scaled, it settles within the
# cold pass and the first warm one (20, 10, 9.5, 9.5, 8.5, 8 s).
JIT_OPTS = "-XX:CompileThresholdScaling=0.1"
# A warm pass's nominal length on a 4-vCPU host.  The window runs
# round(--seconds / nominal) passes, at least one: a pass count fixed by
# the arguments, so a slow host stretches the window instead of changing
# how much JIT settling it averages over.
NOMINAL_PASS_S = {"query_mix": 10.0, "corpus_pipeline": 14.0}


def log(msg: str) -> None:
    print(f"# [{process_age():7.2f}s] {msg}", file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process started (/proc starttime, 10 ms)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


class _NoCount:
    count = 0

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        pass


class Context:
    """State of one run, handed to the pass functions in workloads.py.

    ``traced`` switches per pass: while it is off, ``tracer`` is a null
    tracer and the instrumentation hooks do nothing."""

    def __init__(self, spark, queries, data_dir: str, traced_run: bool):
        from tracing import NullTracer, Py4jCounter, Tracer

        self.spark, self.queries, self.data_dir = spark, queries, data_dir
        self.corpus_out = os.path.join(WORK, "corpus_out")
        self.recorder = Tracer() if traced_run else None
        self._null = NullTracer()
        self.traced = False
        self.counter = Py4jCounter(spark.sparkContext._gateway._gateway_client)
        self.catalyst: dict[tuple[int, str], float] = {}
        self.written: dict[int, tuple[int, int]] = {}

    @property
    def tracer(self):
        return self.recorder if self.traced else self._null

    def count_calls(self):
        if not self.traced:
            return _NoCount()
        self.counter.count = 0
        return self.counter

    def after_item(self, df, name: str, pass_no: int) -> None:
        """Catalyst analysis + optimization + planning of the item's
        DataFrame, from its QueryExecution tracker (traced passes)."""
        if not self.traced:
            return
        with self.tracer.span("catalyst", item=name, pass_no=pass_no):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            total = 0
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                if opt.isDefined():
                    total += opt.get().durationMs()
        self.catalyst[(pass_no, name)] = float(total)

    def instrument_job(self, job, name: str, pass_no: int) -> None:
        """Spans around one job's load and transform (traced passes)."""
        if not self.traced:
            return
        tr, sc = self.tracer, self.spark.sparkContext
        load, transform = job.load_inputs, job.transform

        def timed_load():
            with tr.span("job.load", item=name, pass_no=pass_no):
                return load()

        def timed_transform(**dfs):
            sc.setJobGroup(f"p{pass_no}:{name}:build", name)
            with tr.span("job.transform", item=name, pass_no=pass_no) as rec, \
                    self.count_calls() as calls:
                out = transform(**dfs)
            rec["py4j_calls"] = calls.count
            sc.setJobGroup(f"p{pass_no}:{name}:exec", name)
            return out

        job.load_inputs, job.transform = timed_load, timed_transform

    def instrument_registry(self, registry, pass_no: int) -> None:
        if self.traced:
            registry.job_params = self._wrap(registry.job_params, "plans.resolve", pass_no)

    @contextlib.contextmanager
    def instrument_plans(self, pass_no: int):
        """Spans around the module-level functions ``SparkJob.etl`` and
        ``Flow.run_pipeline`` call (traced passes); restored on exit."""
        if not self.traced:
            yield
            return
        import yaetos_spark.job as job_mod
        import yaetos_spark.plans.flow as flow_mod

        patches = [
            (flow_mod, "execution_order", "plans.resolve"),
            (job_mod, "expand_path", "plans.resolve"),
            (job_mod, "save_output", "job.write"),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
        try:
            for mod, attr, span in patches:
                setattr(mod, attr, self._wrap(getattr(mod, attr), span, pass_no))
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def _wrap(self, fn, span: str, pass_no: int):
        tr = self.tracer

        def wrapped(*a, **k):
            with tr.span(span, pass_no=pass_no):
                return fn(*a, **k)

        return wrapped

    def record_written(self, pass_no: int) -> None:
        """(bytes, data files) the corpus pass wrote (traced passes)."""
        size = files = 0
        for d, _, names in os.walk(self.corpus_out):
            for n in names:
                if n.startswith("part-"):
                    size += os.path.getsize(os.path.join(d, n))
                    files += 1
        self.written[pass_no] = (size, files)


def run_pass(ctx: Context, workload: str, index: int, rng: random.Random, check: bool = False):
    import workloads as W

    p = W.Pass(index, workload)
    # start every pass from a collected heap, outside its timing
    ctx.spark._jvm.System.gc()
    if workload == "query_mix":
        W.run_query_mix(ctx, p, rng.sample(W.QUERY_MIX, len(W.QUERY_MIX)), check)
    else:
        W.run_corpus(ctx, p)
        if ctx.traced:
            ctx.record_written(index)
    return p


def count_mismatches(expected: dict, rows: dict, digests: dict | None, where: str) -> int:
    """Items whose row count (and digest, when given) differ from the
    stored expectation; each is reported on stderr."""
    bad = 0
    for name, got in rows.items():
        want = expected.get(name)
        ok = want is not None and want["rows"] == got and (digests is None or want["digest"] == digests.get(name))
        if not ok:
            print(f"# MISMATCH {where} {name}: rows={got} digest={(digests or {}).get(name)} "
                  f"expected {want}", file=sys.stderr)
            bad += 1
    if digests is not None:
        for name in sorted(set(expected) - set(rows)):
            print(f"# MISSING {where} {name}", file=sys.stderr)
            bad += 1
    return bad


def stop_session(spark) -> None:
    """Stop Spark, close the JVM's stdin (it exits on EOF) and wait for
    it and every other child process to end."""
    from pyspark import SparkContext

    from probes import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()

    def children():
        return [pid for pid in descendants(os.getpid()) if pid != os.getpid()]

    deadline = time.time() + 30
    while children() and time.time() < deadline:
        time.sleep(0.1)
    for pid in children():
        log(f"killing leftover child {pid}")
        with contextlib.suppress(OSError):
            os.kill(pid, 9)
    while children():
        with contextlib.suppress(ChildProcessError):
            os.waitpid(-1, os.WNOHANG)
        time.sleep(0.1)


def session_conf(traced: bool, log_dir: str) -> dict:
    """Keep every file the JVMs and Python workers write inside the work
    dir (``-XX:-UsePerfData``: no hsperfdata file in the system temp dir)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTS}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if traced:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    return conf


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="yaetos_spark benchmark (see module docstring)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's row counts and digests in expected.json")
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        from __spark_entry__ import queries
        from yaetos_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the library is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import datagen
    import probes
    import workloads as W
    from tracing import find_event_log, parse_event_log

    cpus = min(SPARK_CPUS, os.cpu_count() or 1)
    os.environ.update({"SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEMORY": DRIVER_MEMORY})
    t_excluded = time.perf_counter()
    steal0 = probes.cpu_times()
    host_before = probes.host_snapshot(cpus)
    data_dir = datagen.ensure(os.path.join(WORK, "data"), BASE_SF)
    excluded = time.perf_counter() - t_excluded
    log(f"host probe and input tables took {excluded:.2f}s")

    expected_all = {}
    if not args.record:
        with open(EXPECTED) as fh:
            expected_all = json.load(fh)
    expected = expected_all.get(args.workload, {})
    log_dir = os.path.join(WORK, f"eventlog-{os.getpid()}")
    conf = session_conf(bool(args.trace), log_dir)
    rng = random.Random(args.seed)
    metrics, layer = {}, {}
    failed = 0
    sampler = probes.RssSampler(os.getpid())
    with sampler:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=conf)
        t1 = time.perf_counter()
        spark.read.parquet(os.path.join(data_dir, f"{FIRST_SCAN}.parquet")).count()
        t2 = time.perf_counter()
        metrics["setup_s"] = process_age() - excluded
        log(f"session ready, setup_s={metrics['setup_s']:.2f}")
        layer["session.get_spark_s"], layer["session.first_scan_s"] = t1 - t0, t2 - t1
        try:
            ctx = Context(spark, queries(), data_dir, bool(args.trace))
            cold = run_pass(ctx, args.workload, 0, rng, check=True)
            log(f"cold pass {cold.wall:.2f}s")
            metrics["cold_s"] = cold.wall
            passes = [cold]
            if args.workload == "query_mix":
                got_rows, got_digests = cold.rows, cold.digests
            else:
                try:
                    got_rows, got_digests, violations = W.check_corpus(spark, ctx.corpus_out)
                except Exception:  # a failed job leaves datasets missing
                    traceback.print_exc()
                    got_rows, got_digests, violations = {}, {}, ["corpus outputs unreadable"]
                for msg in violations:
                    print(f"# INVARIANT {msg}", file=sys.stderr)
                failed += len(violations)
            if not args.record:
                failed += count_mismatches(expected, got_rows, got_digests, "identity check")
            log("identity check done")

            window, traced = [], []
            schedule = TRACE_SCHEDULE if args.trace else \
                (False,) * max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
            cpu0 = probes.tree_cpu(os.getpid())
            for traced_pass in schedule:
                ctx.traced = traced_pass
                cpu_before = probes.tree_cpu(os.getpid())
                p = run_pass(ctx, args.workload, len(passes), rng)
                if ctx.traced:
                    cpu_after = probes.tree_cpu(os.getpid())
                    traced.append((p, {k: cpu_after[k] - cpu_before[k] for k in cpu_after}))
                log(f"pass {p.index}{' (traced)' if ctx.traced else ''} {p.wall:.2f}s")
                ctx.traced = False
                passes.append(p)
                window.append(p)
            cpu1 = probes.tree_cpu(os.getpid())
            other = []
            if args.trace:
                # the other workload's layers (its items, or the job,
                # plans and sources layers) are measured in this run too
                for traced_pass in (False, True):
                    ctx.traced = traced_pass
                    p = run_pass(ctx, OTHER[args.workload], len(passes), rng)
                    log(f"pass {p.index} of {p.workload}{' (traced)' if ctx.traced else ''} {p.wall:.2f}s")
                    ctx.traced = False
                    passes.append(p)
                other.append(p)
        finally:
            stop_session(spark)
            log("session stopped")

    attempted = sum(p.attempted for p in passes)
    failed += sum(p.failed for p in passes)
    if not args.record:
        failed += sum(count_mismatches(expected_all.get(p.workload, {}), p.rows, None, f"pass {p.index}")
                      for p in passes if p.rows is not got_rows)
    untraced = [p for p in window if all(p is not t for t, _ in traced)]
    metrics["warm_s"] = W.warm_seconds(untraced)
    metrics["cpu_s"] = (sum(cpu1.values()) - sum(cpu0.values())) / len(window)
    metrics["peak_rss_mb"] = sampler.peak_mb

    steal1 = probes.cpu_times()
    host = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "spark_cpus": cpus, "nproc": os.cpu_count(), "driver_memory": DRIVER_MEMORY,
        "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "before": host_before, "after": probes.host_snapshot(cpus),
        "git_commit": probes.git_commit(ROOT), "source_digest": probes.source_digest(ROOT),
        "pass_wall_s": [p.wall for p in passes],
    }

    if args.record:
        record = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as fh:
                record = json.load(fh)
        record[args.workload] = {n: {"rows": got_rows[n], "digest": got_digests[n]} for n in sorted(got_digests)}
        with open(EXPECTED, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
            fh.write("\n")

    if args.trace:
        from layers import layer_metrics

        events = parse_event_log(find_event_log(log_dir))
        layer.update(layer_metrics(args.workload, ctx, traced, other, events, metrics["warm_s"]))
        ctx.recorder.dump(os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(log_dir, ignore_errors=True)
        shown = layer
    else:
        shown = metrics
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in shown.items()}}
    with open(os.path.join(WORK, f"result-{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump({"host": host, **result, "passes": [p.items for p in passes]}, fh, indent=1)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
