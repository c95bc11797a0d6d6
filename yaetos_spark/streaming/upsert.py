"""Streaming CDC upsert: foreachBatch merge into a bucketed parquet
snapshot, rewriting ONLY the buckets a batch touches.

The 100 TB design point: a snapshot table partitioned by a key-hash
bucket column. Each micro-batch compacts its rows to one-per-key,
reads back just the buckets those keys land in, merges, and overwrites
those buckets alone via dynamic partition overwrite — cost per batch
is O(touched buckets), not O(snapshot). Replaying a failed batch
rewrites the same buckets with the same content (foreachBatch's
idempotence recipe). A full-rewrite variant would not survive at
scale, which is why it isn't offered. The snapshot is laid out by
``_bucket``, not ``_batch_id``, so it keeps its own write; the
``_batch_id`` append sink and the stream start live in ``batches.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yaetos_spark.operators.merge import latest_snapshot, upsert
from yaetos_spark.plans.paths import dataset_exists
from yaetos_spark.streaming.batches import start_batch_stream

BUCKET_COL = "_bucket"


def _bucket(keys: list[str], n_buckets: int):
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))


def _check_bucket_layout(spark, snapshot_dir: str, n_buckets: int) -> None:
    """The bucket count is baked into the persisted layout: merging
    with a different n_buckets would read the wrong buckets and leave
    stale duplicate keys behind. A `_meta` sidecar (underscore prefix:
    invisible to parquet directory readers) records the layout on first
    write; later calls must match."""
    meta_path = f"{snapshot_dir}/_meta"
    if not dataset_exists(meta_path, spark):
        spark.createDataFrame([(n_buckets,)], "n_buckets int").coalesce(1).write.mode(
            "overwrite"
        ).parquet(meta_path)
        return
    recorded = spark.read.parquet(meta_path).first()["n_buckets"]
    if recorded != n_buckets:
        raise ValueError(
            f"snapshot at {snapshot_dir} was bucketed with n_buckets={recorded}; "
            f"got n_buckets={n_buckets} — merging would strand stale keys"
        )


def merge_batch_into_snapshot(
    batch_df: DataFrame,
    snapshot_dir: str,
    keys: list[str],
    order_col: str,
    n_buckets: int = 64,
) -> None:
    """One micro-batch of the streaming upsert (usable standalone for
    batch CDC too). Compact → read touched buckets → merge →
    dynamically overwrite those buckets."""
    spark = batch_df.sparkSession
    _check_bucket_layout(spark, snapshot_dir, n_buckets)
    compacted = latest_snapshot(batch_df, keys, order_col).withColumn(
        BUCKET_COL, _bucket(keys, n_buckets)
    )
    # metadata-scale collect: at most n_buckets distinct values (bucket
    # ids, not data rows), so this stays O(64) even at 100 TB
    touched = [r[BUCKET_COL] for r in compacted.select(BUCKET_COL).distinct().collect()]
    if not touched:
        return
    # cold start is an explicit existence check (a snapshot dir holding
    # only the `_meta` sidecar has no data yet): a failed read of an
    # existing snapshot must surface, not be misread as "first batch" —
    # that would overwrite touched buckets with batch-only rows and
    # silently drop the existing data
    if dataset_exists(snapshot_dir, spark):
        existing = spark.read.parquet(snapshot_dir)
        merged = upsert(
            existing.where(F.col(BUCKET_COL).isin(touched)), compacted, keys
        )
    else:
        merged = compacted
    # materialize before writing: the merge reads the very files the
    # dynamic overwrite below replaces, so the lineage must be cut
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET_COL)
        .parquet(snapshot_dir)
    )


def streaming_upsert(
    stream_df: DataFrame,
    snapshot_dir: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
):
    """Wire a stream into the bucketed snapshot via foreachBatch
    (``batches.start_batch_stream``)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into_snapshot(batch_df, snapshot_dir, keys, order_col, n_buckets)

    return start_batch_stream(stream_df, apply, checkpoint_dir)


def read_snapshot(spark, snapshot_dir: str) -> DataFrame:
    """Current state of the snapshot (drops the layout column)."""
    return spark.read.parquet(snapshot_dir).drop(BUCKET_COL)

