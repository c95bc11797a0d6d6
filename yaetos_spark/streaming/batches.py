"""The exactly-once batch sink shared by the streaming jobs and the
batch incremental-dedup index.

``foreachBatch`` is at-least-once: a batch whose sink writes landed but
whose checkpoint commit did not is replayed on restart; a batch job
that failed after its first write is re-run. The recipe for a
non-transactional parquet sink has three parts, all here:

- every batch lands in its OWN ``_batch_id=<id>`` partition through a
  dynamic partition overwrite (``append_batch_exactly_once``), so a
  replay REWRITES its partition with the same content instead of
  appending duplicates — the batch id in the layout is the commit
  marker;
- readers see the union of all partitions (merge-on-read);
- compaction (``compact_batches``) folds the batches up to a given id
  into one ``_batch_id=-1`` history partition, written beside the sink
  and swapped in by rename, so a failed compaction leaves the sink as
  it was.

The overwrite mode is an option of each write, never the session-wide
``spark.sql.sources.partitionOverwriteMode``, so a sink's result does
not depend on what the session was set to.
"""

from __future__ import annotations

import contextlib
import math
import os
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from yaetos_spark.plans.paths import (
    list_file_names,
    list_subfolders,
    remove_tree,
    rename_path,
    tree_bytes,
)
from yaetos_spark.sources.tables import _max_split_bytes

BATCH_COL = "_batch_id"


def _lock_path(out_dir: str) -> str:
    return out_dir.rstrip("/") + "__compact.lock"


def append_batch_exactly_once(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """Land one micro-batch in its own ``_batch_id`` partition; a
    replay of the same batch id rewrites that partition only. Refuses
    to write while a compaction of ``out_dir`` holds its lock: the swap
    would drop a partition written after the compaction's read."""
    lock = _lock_path(out_dir)
    if "://" not in out_dir and os.path.exists(lock):
        raise RuntimeError(
            f"{out_dir} is being compacted (lock file {lock} exists) — "
            "retry after the compaction finishes, or remove a stale lock "
            "by hand if none is running"
        )
    (
        batch_df.withColumn(BATCH_COL, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(out_dir)
    )


def last_committed_batch(spark, checkpoint_dir: str) -> int | None:
    """Highest batch id with a COMMIT recorded in the streaming
    checkpoint (the files under ``<checkpoint>/commits`` are named by
    batch id; Spark writes one only after the batch's foreachBatch
    completed). Batches above this id may have written sink data in an
    attempt whose commit never landed — exactly the ones a restart
    replays, so exactly the ones compaction must leave alone. None =
    nothing committed yet."""
    commits = checkpoint_dir.rstrip("/") + "/commits"
    ids = []
    for name in list_file_names(commits, spark):
        try:
            ids.append(int(name))
        except ValueError:  # .tmp / metadata entries
            continue
    return max(ids, default=None)


@contextlib.contextmanager
def _compaction_lock(out_dir: str):
    """Hold ``<dir>__compact.lock`` (O_EXCL) for a compaction: a second
    compaction, or a stale lock from a crashed one, fails loudly. The
    lock is advisory and local paths only; a remote sink is not
    locked."""
    if "://" in out_dir:
        yield
        return
    lock = _lock_path(out_dir)
    try:
        os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        raise RuntimeError(
            f"compaction lock {lock} already exists — another compaction "
            "is running, or a crashed one left a stale lock (remove it by "
            "hand after checking none is in flight)"
        ) from None
    try:
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(lock)


def compact_batches(
    spark,
    out_dir: str,
    through_batch: int | None,
    merge: Callable[[DataFrame], DataFrame],
) -> int | None:
    """Fold the batch partitions ``<= through_batch`` of ``out_dir``
    into a single ``_batch_id=-1`` history partition, so merge-on-read
    stays O(1) partitions as batches accumulate; later batches keep
    their own partitions. Returns the sink's row count after the fold;
    ``through_batch=None`` is a no-op (returns None).

    ``merge`` maps the folded rows (batch column dropped) to the
    history rows: identity for an append-only sink, a cell sum for a
    count-min sketch, a register max for HLL. Re-running compaction is
    idempotent because every merge here is. The folded rows are
    coalesced to one write task per ``spark.sql.files.maxPartitionBytes``
    of folded input, so a fold of many small batches lands as one file
    rather than one per batch (Spark's scan packing alone charges each
    file ``openCostInBytes`` and keeps small files apart).

    A folded batch can no longer be replayed: its rows now sit in -1,
    so a replay would add them a second time (and the dedup index's
    ``_batch_id != batch_id`` replay guard would see its own
    signatures). Pass the highest batch id that will never be re-run —
    for a stream, ``last_committed_batch`` of its checkpoint.

    Swap discipline: the folded sink is written BESIDE the live one
    (``<dir>__compact``, a static overwrite, so leftovers of a failed
    attempt go), its landed row count is checked against the rows
    written, then two renames swap it in (live -> ``<dir>__old``,
    ``__compact`` -> live) and the old directory is deleted. A failure
    before the first rename leaves the live sink untouched. Between the
    two renames the sink path does not exist; a crash there is
    recovered by hand, losslessly, by renaming ``__old`` (or
    ``__compact``) back. The sink must not be written during the fold:
    ``append_batch_exactly_once`` refuses while the lock exists, but a
    write that started before the lock was taken can still land in the
    old directory and be dropped, so compact between runs."""
    if through_batch is None:
        return None
    out_dir = out_dir.rstrip("/")
    tmp, old = out_dir + "__compact", out_dir + "__old"
    with _compaction_lock(out_dir):
        data = spark.read.parquet(out_dir)
        folded_bytes = sum(
            tree_bytes(f"{out_dir}/{name}", spark)
            for name in list_subfolders(out_dir, spark)
            if name.startswith(BATCH_COL + "=")
            and int(name.split("=", 1)[1]) <= int(through_batch)
        )
        fold = merge(
            data.where(F.col(BATCH_COL) <= int(through_batch)).drop(BATCH_COL)
        ).coalesce(max(1, math.ceil(folded_bytes / _max_split_bytes(spark))))
        keep = data.where(F.col(BATCH_COL) > int(through_batch))
        written = Observation()
        (
            fold.withColumn(BATCH_COL, F.lit(-1))
            .unionByName(keep)
            .observe(written, F.count(F.lit(1)).alias("rows"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy(BATCH_COL)
            .parquet(tmp)
        )
        rows = spark.read.parquet(tmp).count()
        if rows != written.get["rows"]:
            raise RuntimeError(
                f"compaction of {out_dir} wrote {written.get['rows']} rows "
                f"but {rows} landed in {tmp} — aborting before the swap"
            )
        remove_tree(old, spark)
        rename_path(out_dir, old, spark)
        rename_path(tmp, out_dir, spark)
        remove_tree(old, spark)
    return rows


def start_batch_stream(
    stream_df: DataFrame,
    apply: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Attach ``apply(batch_df, batch_id)`` to a stream through
    ``foreachBatch`` and start it. Returns the started query (trigger
    availableNow — drain what exists, then stop; call
    ``awaitTermination()``, and re-run to process newly arrived data
    through the same checkpoint)."""
    return (
        stream_df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_append_exactly_once(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Wire a stream into exactly-once appends (trigger availableNow)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        append_batch_exactly_once(batch_df, batch_id, out_dir)

    return start_batch_stream(stream_df, apply, checkpoint_dir)
