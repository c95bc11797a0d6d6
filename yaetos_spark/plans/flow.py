"""Dependency-DAG executor — registry ``dependencies`` → topological run.

Behavior parity with the reference's Flow (reference:
yaetos/etl_utils.py:1418-1518): build the global job graph from every
registry entry's ``dependencies`` list, extract the ancestor subtree of
the target job, execute leaf-first, all in one SparkSession. The
upstream output DataFrame is handed to the downstream job in memory
(keyed by the input's ``from:`` field) instead of a disk round-trip —
which also lets Catalyst fuse the plans across "jobs", since
DataFrames compose lazily.
"""

from __future__ import annotations

from graphlib import TopologicalSorter

from yaetos_spark.plans.registry import Registry


def execution_order(registry: Registry, target_job: str) -> list[str]:
    """Ancestors of ``target_job`` (inclusive) in leaf-first order."""
    # collect ancestor closure
    needed: set[str] = set()
    stack = [target_job]
    while stack:
        j = stack.pop()
        if j in needed:
            continue
        needed.add(j)
        for dep in registry.dependencies(j):
            stack.append(dep)
    ts = TopologicalSorter({j: [d for d in registry.dependencies(j) if d in needed] for j in needed})
    return list(ts.static_order())


class Flow:
    def __init__(self, registry: Registry):
        self.registry = registry

    def run_pipeline(
        self,
        spark,
        target_job: str,
        job_factory,
        mode: str | None = None,
        cmd_args: dict | None = None,
    ):
        """Run ``target_job`` and its ancestors in order.

        ``job_factory(job_name, params) -> SparkJob`` lets the caller
        decide how a registry entry maps to a job class (py_job import,
        sql_file job, ...). Returns the target job's output DataFrame.
        """
        order = execution_order(self.registry, target_job)
        outputs: dict = {}
        last = None
        for job_name in order:
            params = self.registry.job_params(job_name, mode=mode, cmd_args=cmd_args)
            params["_loaded_inputs"] = outputs
            job = job_factory(job_name, params)
            last = job.etl(spark)
            outputs[job_name] = last
            # chain the WRITTEN artifact when there is one: downstream
            # jobs get a clean scan (column-prunable, lineage-free)
            # instead of the upstream plan — in-memory chaining remains
            # for no-output jobs. Mirrors the reference, where each job
            # reads its inputs from the previous job's output path.
            written = getattr(job, "written_output", None)
            if written and written[1] in ("parquet", "orc", "csv", "json"):
                from yaetos_spark.sources.readers import load_input

                outputs[job_name] = load_input(
                    spark, {"path": written[0], "type": written[1]}
                )
                # the caller should see the same DataFrame downstream
                # jobs consume — acting on the pre-write plan would
                # re-execute the whole upstream lineage
                last = outputs[job_name]
        return last
