"""The benchmark's workloads, frozen in its own files.

Both are closed loops with one client (this process) over read-only
input tables:

* ``query_mix`` -- the 15 headline analytics queries, each built by
  ``__spark_entry__.queries()[name](spark, data_dir)`` and executed by
  ``session.materialize_fully`` (noop sink).  Fixed per-query costs
  dominate: py4j DataFrame construction, Catalyst, small stages.
* ``corpus_pipeline`` -- the six-job training-corpus registry DAG of
  ``corpus_registry.yml`` run in-process through ``Registry.from_file``,
  ``Flow.run_pipeline`` and ``cli.job_factory``, writing parquet to a
  directory the benchmark owns: the framework path a cron or CLI user
  pays (registry, path templating, ``SparkJob.etl`` persist + PK check,
  parquet writes).

A pass runs every item once.  ``Pass.items`` maps item name to seconds;
failures are counted, never raised.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import time
import traceback

# ROADMAP's headline set; frozen here so edits to bench.py cannot change
# the workload
QUERY_MIX = [
    "pricing_summary",
    "topk_revenue",
    "region_revenue",
    "user_sessions",
    "running_window",
    "asof_join_events",
    "sessionize_events",
    "wordcount_top",
    "range_band_join",
    "minhash_lsh_pairs",
    "simhash_docs",
    "text_stats",
    "multimodal_decode",
    "ann_cosine_topk",
    "embedding_near_dup",
]

CORPUS_REGISTRY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus_registry.yml")
CORPUS_TARGET = "shard_corpus"
CORPUS_JOBS = [
    "clean_document_lines",
    "quality_filter_documents",
    "dedup_documents",
    "mix_after_dedup",
    "bpe_after_mix",
    CORPUS_TARGET,
]
# time of a corpus pass spent outside every job's etl (registry load,
# ordering, param resolution)
FLOW_ITEM = "_flow"


class Pass:
    """One pass's outcome."""

    def __init__(self, index: int, workload: str):
        self.index, self.workload = index, workload
        self.items: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self.digests: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.wall = 0.0


def warm_seconds(passes) -> float:
    """Sum over items of each item's median time."""
    names = {n for p in passes for n in p.items}
    return sum(statistics.median(p.items[n] for p in passes if n in p.items) for n in names)


def _report_failure(what: str) -> None:
    print(f"# FAILED {what}", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def run_query_mix(ctx, p: Pass, order: list[str], check: bool) -> None:
    """One pass over ``order``.  With ``check`` every item's digest is
    taken through an Observation on the same execution."""
    from pyspark.sql import Observation

    from digest import digest_column
    from yaetos_spark.session import materialize_fully

    qs, spark, tr = ctx.queries, ctx.spark, ctx.tracer
    sc = spark.sparkContext
    t_pass = time.perf_counter()
    for name in order:
        gc.collect()
        p.attempted += 1
        try:
            with tr.span("item", item=name, pass_no=p.index):
                sc.setJobGroup(f"p{p.index}:{name}:build", name)
                t0 = time.perf_counter()
                with tr.span("build", item=name, pass_no=p.index) as rec, ctx.count_calls() as calls:
                    df = qs[name](spark, ctx.data_dir)
                rec["py4j_calls"] = calls.count
                if check:
                    obs = Observation()
                    df = df.observe(obs, digest_column(df).alias("d"))
                sc.setJobGroup(f"p{p.index}:{name}:exec", name)
                with tr.span("exec", item=name, pass_no=p.index):
                    rows = materialize_fully(df)
                p.items[name] = time.perf_counter() - t0
            p.rows[name] = rows
            if check:
                p.digests[name] = str(obs.get["d"])
            ctx.after_item(df, name, p.index)
        except Exception:
            p.failed += 1
            _report_failure(f"{name} in pass {p.index}")
        finally:
            spark.catalog.clearCache()
    p.wall = time.perf_counter() - t_pass


def run_corpus(ctx, p: Pass) -> None:
    """One run of the registry DAG into a freshly cleared output dir."""
    from yaetos_spark.cli import job_factory
    from yaetos_spark.plans.flow import Flow
    from yaetos_spark.plans.registry import Registry

    spark, tr = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    shutil.rmtree(ctx.corpus_out, ignore_errors=True)
    done: list[str] = []

    def make(job_name, params):
        job = factory(job_name, params)
        etl = job.etl

        def timed_etl(spark_):
            sc.setJobGroup(f"p{p.index}:{job_name}:exec", job_name)
            t0 = time.perf_counter()
            with tr.span("job.etl", item=job_name, pass_no=p.index):
                out = etl(spark_)
            p.items[job_name] = time.perf_counter() - t0
            done.append(job_name)
            if out is not None:
                ctx.after_item(out, job_name, p.index)
            return out

        job.etl = timed_etl
        ctx.instrument_job(job, job_name, p.index)
        return job

    p.attempted += len(CORPUS_JOBS)
    t0 = time.perf_counter()
    try:
        with ctx.instrument_plans(p.index):
            with tr.span("plans.resolve", item=FLOW_ITEM, pass_no=p.index):
                registry = Registry.from_file(CORPUS_REGISTRY)
            ctx.instrument_registry(registry, p.index)
            factory = job_factory(registry)
            Flow(registry).run_pipeline(
                spark, CORPUS_TARGET, make,
                cmd_args={"data_path": ctx.data_dir, "base_path": ctx.corpus_out},
            )
    except Exception:
        p.failed += len(CORPUS_JOBS) - len(done)
        _report_failure(f"corpus pipeline in pass {p.index} after {done}")
    p.wall = time.perf_counter() - t0
    p.items[FLOW_ITEM] = p.wall - sum(p.items[j] for j in done)
    spark.catalog.clearCache()


def corpus_outputs(out_dir: str) -> dict[str, str]:
    """Each corpus job's written dataset: ``<out>/<dataset>/<stamp>``."""
    dirs = {}
    for dataset in sorted(os.listdir(out_dir)):
        stamps = sorted(os.listdir(os.path.join(out_dir, dataset)))
        dirs[dataset] = os.path.join(out_dir, dataset, stamps[-1])
    return dirs


def check_corpus(spark, out_dir: str) -> tuple[dict, dict, list[str]]:
    """Digests and row counts of every written dataset, plus the
    invariants of the end-to-end chain test: 150 mixed rows in the exact
    language proportions, a ``bpe_tokens`` column and 8 shard files.
    Returns (rows, digests, invariant violations)."""
    from digest import digest

    rows, digests, bad = {}, {}, []
    outs = corpus_outputs(out_dir)
    for dataset, path in outs.items():
        df = spark.read.parquet(path)
        rows[dataset] = df.count()
        digests[dataset] = digest(df)
    mixed = spark.read.parquet(outs["corpus_mix"])
    counts = {r["lang"]: r["count"] for r in mixed.groupBy("lang").count().collect()}
    if counts != {"en": 60, "fr": 30, "es": 30, "de": 15, "zh": 15}:
        bad.append(f"corpus_mix language counts {counts}")
    shards = spark.read.parquet(outs["corpus_shards"])
    if rows["corpus_shards"] != 150 or "bpe_tokens" not in shards.columns:
        bad.append(f"corpus_shards rows={rows['corpus_shards']} columns={shards.columns}")
    n_files = len([f for f in os.listdir(outs["corpus_shards"]) if f.startswith("part-")])
    if n_files != 8:
        bad.append(f"corpus_shards has {n_files} part files, expected 8")
    return rows, digests, bad
