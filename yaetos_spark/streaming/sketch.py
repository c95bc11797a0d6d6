"""Streaming count-min maintenance: a frequency sketch of an unbounded
key stream, kept exactly-once across micro-batches.

The problem with summing a sketch in place under foreachBatch is that
replayed batches (foreachBatch is at-least-once) would double-count —
cell sums are not idempotent.  The sink is the shared one in
``batches.py``: each micro-batch writes its OWN partial sketch
(<= depth*width rows by construction, regardless of batch size) into a
``_batch_id=<id>`` partition, so a replay rewrites its partition with
identical content instead of double-adding.  The partition layout IS
the commit log.

Reading the sketch is merge-on-read (cell-wise sum across batch
partitions — sketches are linear); ``compact_count_min`` folds the
committed batches into one partition when the batch count grows.  This
is the standard production shape for per-day / per-hour sketch rollups
at 100 TB: the full corpus is never re-scanned, and partial sketches
are tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yaetos_spark.operators.sketches import (
    count_min_build,
    count_min_estimate,
    histogram_build,
    hll_build,
)
from yaetos_spark.streaming.batches import (
    append_batch_exactly_once,
    compact_batches,
    last_committed_batch,
    start_batch_stream,
)


def sketch_batch_exactly_once(
    batch_df: DataFrame,
    batch_id: int,
    sketch_dir: str,
    key: str,
    depth: int = 4,
    width: int = 8192,
    seed: int = 42,
    weight: str | None = None,
) -> None:
    """Build this batch's partial sketch and land it in its own
    ``_batch_id`` partition (replay-safe: same batch id always rewrites
    the same partition with the same cells)."""
    partial = count_min_build(
        batch_df, key, depth=depth, width=width, seed=seed, weight=weight
    )
    append_batch_exactly_once(partial, batch_id, sketch_dir)


def streaming_count_min(
    stream_df: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    key: str,
    depth: int = 4,
    width: int = 8192,
    seed: int = 42,
    weight: str | None = None,
):
    """Maintain the sketch from a stream (trigger availableNow; re-run
    to fold newly arrived data through the shared checkpoint)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        sketch_batch_exactly_once(
            batch_df, batch_id, sketch_dir, key,
            depth=depth, width=width, seed=seed, weight=weight,
        )

    return start_batch_stream(stream_df, apply, checkpoint_dir)


def _sum_cells(cells: DataFrame) -> DataFrame:
    return cells.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def read_count_min(spark, sketch_dir: str) -> DataFrame:
    """Current merged sketch: cell-wise sum over all batch partitions
    (sketches are linear, so merge-on-read is exact)."""
    return _sum_cells(spark.read.parquet(sketch_dir))


def compact_count_min(spark, sketch_dir: str, checkpoint_dir: str) -> None:
    """Fold the batches the stream's checkpoint has committed into the
    ``_batch_id=-1`` history partition by cell sum
    (``batches.compact_batches``); uncommitted batches keep their
    partitions, so a replay cannot count them twice."""
    compact_batches(
        spark, sketch_dir, last_committed_batch(spark, checkpoint_dir), _sum_cells
    )


def hll_batch_exactly_once(
    batch_df: DataFrame,
    batch_id: int,
    sketch_dir: str,
    key: str,
    p: int = 12,
    seed: int = 99,
) -> None:
    """HLL registers for this batch into its own ``_batch_id``
    partition — same replay-safe recipe as the count-min writer (HLL
    registers are idempotent under max-merge, but per-batch partitions
    additionally make REPLAYS rewrite instead of interleave)."""
    append_batch_exactly_once(hll_build(batch_df, key, p=p, seed=seed), batch_id, sketch_dir)


def streaming_hll(
    stream_df: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    key: str,
    p: int = 12,
    seed: int = 99,
):
    """Maintain a distinct-count sketch of an unbounded key stream:
    each micro-batch lands <=2^p register rows; the current cardinality
    estimate reads register-max across batch partitions — the full
    stream is never re-scanned."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        hll_batch_exactly_once(batch_df, batch_id, sketch_dir, key, p=p, seed=seed)

    return start_batch_stream(stream_df, apply, checkpoint_dir)


def _max_registers(registers: DataFrame) -> DataFrame:
    return registers.groupBy("bucket").agg(F.max("rho").alias("rho"))


def read_hll(spark, sketch_dir: str) -> DataFrame:
    """Current merged registers: bucket-wise max over all batch
    partitions (HLL merge is max, so merge-on-read is exact)."""
    return _max_registers(spark.read.parquet(sketch_dir))


def compact_hll(spark, sketch_dir: str, checkpoint_dir: str) -> None:
    """Fold the committed batches into ``_batch_id=-1`` by register max
    (``batches.compact_batches``)."""
    compact_batches(
        spark, sketch_dir, last_committed_batch(spark, checkpoint_dir), _max_registers
    )


def topk_batch_exactly_once(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key: str,
    depth: int = 4,
    width: int = 8192,
    seed: int = 42,
    candidates_per_batch: int = 64,
) -> None:
    """Heavy-hitter state for one micro-batch: the batch's partial CMS
    (under ``cms/``) plus its exact batch-local top-N keys (under
    ``cand/``), each in a replay-safe ``_batch_id`` partition.  Any key
    that is ever a global heavy hitter is a batch-local top-N in at
    least the batches that made it heavy, so the candidate union plus
    CMS estimates recovers the global top-k without ever storing the
    full key universe (the standard streaming heavy-hitters recipe:
    candidates bound the keys you score, the sketch scores them)."""
    sketch_batch_exactly_once(
        batch_df, batch_id, f"{state_dir}/cms", key,
        depth=depth, width=width, seed=seed,
    )
    top = (
        batch_df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.desc("_n"), key)
        .limit(candidates_per_batch)
        .select(key)
    )
    append_batch_exactly_once(top, batch_id, f"{state_dir}/cand")


def streaming_top_k(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key: str,
    depth: int = 4,
    width: int = 8192,
    seed: int = 42,
    candidates_per_batch: int = 64,
):
    """Maintain heavy-hitter state from a stream (availableNow; re-run
    to fold new arrivals through the shared checkpoint)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        topk_batch_exactly_once(
            batch_df, batch_id, state_dir, key,
            depth=depth, width=width, seed=seed,
            candidates_per_batch=candidates_per_batch,
        )

    return start_batch_stream(stream_df, apply, checkpoint_dir)


def read_top_k(
    spark,
    state_dir: str,
    key: str,
    k: int = 10,
    depth: int = 4,
    width: int = 8192,
    seed: int = 42,
) -> DataFrame:
    """Current top-k: distinct candidate keys scored against the
    merged CMS (broadcast — the sketch is <= depth*width cells), top k
    by estimate.  Estimates inherit the CMS one-sided guarantee:
    est >= true count, so a true heavy hitter in the candidate set can
    only rank HIGHER, never drop out."""
    cms = read_count_min(spark, f"{state_dir}/cms")
    cand = spark.read.parquet(f"{state_dir}/cand").select(key).distinct()
    est = count_min_estimate(cms, cand, key, depth=depth, width=width, seed=seed)
    return est.orderBy(F.desc("est"), key).limit(k)


def histogram_batch_exactly_once(
    batch_df: DataFrame,
    batch_id: int,
    sketch_dir: str,
    col: str,
    boundaries: list[float],
) -> None:
    """This batch's histogram cells into a replay-safe ``_batch_id``
    partition.  Boundaries are frozen by the caller (e.g. from a
    historical sample via ``histogram_boundaries``) — fixed boundaries
    are what make per-batch cells mergeable by plain addition."""
    append_batch_exactly_once(histogram_build(batch_df, col, boundaries), batch_id, sketch_dir)


def streaming_histogram(
    stream_df: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    col: str,
    boundaries: list[float],
):
    """Maintain a quantile-answering histogram of an unbounded value
    stream: each micro-batch lands <= n_buckets+1 cell rows; quantiles
    read merge-on-read cell sums (streaming p50/p99 without ever
    re-scanning the stream)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        histogram_batch_exactly_once(batch_df, batch_id, sketch_dir, col, boundaries)

    return start_batch_stream(stream_df, apply, checkpoint_dir)


def read_histogram(spark, sketch_dir: str) -> DataFrame:
    """Current merged cells: bucket-wise sum across batch partitions."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
