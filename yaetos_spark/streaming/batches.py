"""The exactly-once batch sink shared by the streaming jobs.

``foreachBatch`` is at-least-once: a batch whose sink writes landed but
whose checkpoint commit did not is replayed on restart. The recipe for
a non-transactional parquet sink has three parts, all here:

- every batch lands in its OWN ``_batch_id=<id>`` partition through a
  dynamic partition overwrite (``append_batch_exactly_once``), so a
  replay REWRITES its partition with the same content instead of
  appending duplicates — the batch id in the layout is the commit
  marker;
- readers see the union of all partitions (merge-on-read);
- compaction (``compact_batches``) folds only the batches the
  checkpoint has COMMITTED into one ``_batch_id=-1`` history partition,
  so a batch that is still due for replay keeps its own partition.

The overwrite mode is an option of each write, never the session-wide
``spark.sql.sources.partitionOverwriteMode``, so a sink's result does
not depend on what the session was set to.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yaetos_spark.plans.paths import list_file_names

BATCH_COL = "_batch_id"


def append_batch_exactly_once(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """Land one micro-batch in its own ``_batch_id`` partition; a
    replay of the same batch id rewrites that partition only."""
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


def compact_batches(
    spark,
    out_dir: str,
    checkpoint_dir: str,
    merge: Callable[[DataFrame], DataFrame],
) -> None:
    """Fold the COMMITTED batch partitions of ``out_dir`` into a single
    ``_batch_id=-1`` history partition, so merge-on-read stays O(1)
    partitions as batches accumulate. Run it between streaming runs.

    ``merge`` maps the committed rows (batch column dropped) to the
    history rows: identity for an append-only sink, a cell sum for a
    count-min sketch, a register max for HLL. Re-running compaction is
    idempotent because every merge here is.

    Only batches <= ``last_committed_batch`` are folded. A batch written
    by a FAILED attempt (sink data landed, checkpoint commit did not)
    will be replayed on restart and rewrites its own partition; had it
    been folded into -1, the replay would add its rows a second time
    (and the dedup index's ``_batch_id != batch_id`` replay guard would
    see its own signatures). With nothing committed there is nothing
    safe to fold.

    localCheckpoint before the overwrite avoids reading the files being
    replaced. The write is pinned ``static`` (full-directory replace):
    a dynamic overwrite would replace only the partitions present in
    the merged frame and leave the folded batch partitions in place,
    counting them twice."""
    last = last_committed_batch(spark, checkpoint_dir)
    if last is None:
        return
    data = spark.read.parquet(out_dir)
    fold = merge(data.where(F.col(BATCH_COL) <= last).drop(BATCH_COL))
    keep = data.where(F.col(BATCH_COL) > last)
    merged = (
        fold.withColumn(BATCH_COL, F.lit(-1))
        .unionByName(keep)
        .localCheckpoint(eager=True)
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(BATCH_COL)
        .parquet(out_dir)
    )


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
