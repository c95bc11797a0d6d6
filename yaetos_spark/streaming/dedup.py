"""Streaming incremental corpus dedup — continuous document ingestion
through a persisted minhash-signature index, exactly-once.

The production shape for a training corpus that grows forever: each
micro-batch is deduplicated WITHIN itself (exact n-gram Jaccard, the
full ``drop_near_duplicates`` semantics) and AGAINST everything already
accepted (banded-LSH candidates over the signature index — the index
stores ``num_hashes`` longs per doc, never text, so the 100 TB corpus
is never re-scanned). Survivors and their signatures land atomically
per batch.

Exactly-once: ``foreachBatch`` is at-least-once, and naive appends
would break a replay twice over — the replayed batch's own signatures
from the failed attempt are already in the index, so every replayed doc
would "collide" with itself (estimated Jaccard 1.0) and be dropped; and
the index would hold its signatures twice. The sink is the shared one
in ``batches.py``: each batch writes survivors and signatures into its
OWN ``_batch_id`` partition (replay rewrites identical content — the
dedup decisions are deterministic), and the against-index read
EXCLUDES the current batch id (partition-pruned scan), so a replay
sees exactly the pre-batch index state.

Scale notes: the per-batch work is the batch-sized shingle join plus
one band-keyed equi-join against the index band rows — linear in batch
size and index size, all shuffle-partitioned; the index read prunes the
replay partition at the directory level. Compaction of many small batch
partitions is layout work for ``jobs/generic/compact_job.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yaetos_spark.operators.dedup import (
    drop_near_duplicates,
    filter_against_signatures,
    minhash_signatures,
)
from yaetos_spark.plans.paths import dataset_exists
from yaetos_spark.streaming.batches import (
    BATCH_COL,
    append_batch_exactly_once,
    compact_batches,
    start_batch_stream,
)


def dedup_batch_exactly_once(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    survivors_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """Process one micro-batch: within-batch dedup → drop docs whose
    signature-estimated Jaccard clears ``threshold`` against the index
    (excluding this batch's own partition — the replay guard) → land
    survivors and their signatures in this batch's partitions."""
    spark = batch_df.sparkSession
    within = drop_near_duplicates(batch_df, text_col, id_col, n, threshold)
    new_sigs = minhash_signatures(
        within, text_col, id_col, n, num_hashes
    ).localCheckpoint(eager=True)

    # cold start is detected by an EXPLICIT existence check, never by
    # catching the read error: a bare except here would also swallow
    # permission failures, corrupt footers, and transient FS errors,
    # silently skipping cross-batch dedup for the batch and admitting
    # duplicates into the corpus forever ("raise, don't mislabel" —
    # same standard as graph.py's non-convergence guard). A failed
    # read of an EXISTING index now fails the batch, and the stream's
    # at-least-once retry re-runs it.
    have_index = dataset_exists(index_dir, spark)
    if have_index:
        old_sigs = spark.read.parquet(index_dir).where(
            F.col(BATCH_COL) != int(batch_id)
        )
        survivors = filter_against_signatures(
            within, new_sigs, old_sigs, id_col, threshold, num_hashes, bands
        )
    else:
        survivors = within
    # materialize the decisions ONCE so the two writes below cannot
    # diverge (both consume this frame, not the live plan)
    survivors = survivors.localCheckpoint(eager=True)

    surv_sigs = new_sigs.join(
        survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
    )
    append_batch_exactly_once(survivors, batch_id, survivors_dir)
    append_batch_exactly_once(surv_sigs, batch_id, index_dir)


def streaming_dedup(
    stream_df: DataFrame,
    index_dir: str,
    survivors_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
):
    """Attach the exactly-once dedup sink to a document stream; returns
    the started query (availableNow — drain what exists, then stop; a
    long-lived service uses a processingTime trigger instead)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        dedup_batch_exactly_once(
            batch_df,
            batch_id,
            index_dir,
            survivors_dir,
            text_col,
            id_col,
            n,
            threshold,
            num_hashes,
            bands,
        )

    return start_batch_stream(stream_df, apply, checkpoint_dir)


def read_survivors(spark, survivors_dir: str) -> DataFrame:
    """The accepted corpus so far (all batch partitions)."""
    return spark.read.parquet(survivors_dir).drop(BATCH_COL)


def compact_index(spark, index_dir: str, checkpoint_dir: str) -> None:
    """Fold the COMMITTED batch partitions of the signature index into
    the ``_batch_id=-1`` history partition (``batches.compact_batches``),
    so the against-index scan stays O(1) partitions as batches
    accumulate. Run it between streaming runs.

    Folding a batch that is still due for replay would defeat the
    ``_batch_id != batch_id`` replay exclusion: every replayed doc would
    collide with its own failed-attempt signature at estimated Jaccard
    1.0 and the whole batch would silently vanish. The fold spares
    uncommitted batches, so the guard stays sound across compaction."""
    compact_batches(spark, index_dir, checkpoint_dir, lambda sigs: sigs)
