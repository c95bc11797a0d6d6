"""Incremental corpus dedup — every batch, streamed or scheduled,
deduplicated through one persisted minhash-signature index,
exactly-once.

The production shape for a training corpus that grows forever: each
batch is deduplicated WITHIN itself (exact n-gram Jaccard, the full
``drop_near_duplicates`` semantics) and AGAINST everything already
accepted (banded-LSH candidates over the signature index — the index
stores ``num_hashes`` longs per doc, never text, so the 100 TB corpus
is never re-scanned). ``dedup_against_index`` is that per-batch recipe;
the stream (``streaming_dedup``) and the registry job
(``jobs/examples/incremental_dedup_job.py``) both call it.

Exactly-once: a batch may run twice (``foreachBatch`` is at-least-once;
a failed job is re-run), and naive appends would break the re-run twice
over — its own signatures from the first attempt are already in the
index, so every doc would "collide" with itself (estimated Jaccard 1.0)
and be dropped; and the index would hold its signatures twice. The
index is the shared sink in ``batches.py``: each batch writes its
survivors' signatures into its OWN ``_batch_id`` partition (a re-run
rewrites identical content — the dedup decisions are deterministic),
and the against-index read EXCLUDES the current batch id
(partition-pruned scan), so a re-run sees exactly the pre-batch index
state. An index without the ``_batch_id`` layout fails on first use.

Scale notes: the per-batch work is the batch-sized shingle join plus
one band-keyed equi-join against the index band rows — linear in batch
size and index size, all shuffle-partitioned; the index read prunes the
replay partition at the directory level. ``compact_index`` folds
finished batch partitions into one history partition.
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
    last_committed_batch,
    start_batch_stream,
)


def dedup_against_index(
    docs: DataFrame,
    batch_id: int,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Dedup one batch: within-batch dedup → drop docs whose
    signature-estimated Jaccard clears ``threshold`` against the index
    (excluding this batch's own partition — the replay guard) → land
    the survivors' signatures in this batch's index partition. Returns
    the surviving rows of ``docs``; re-running a batch id returns the
    same rows and leaves the index as the first run left it.

    Cross-batch verification is signature-estimated (exact verification
    would mean keeping the corpus online); within-batch stays exact."""
    spark = docs.sparkSession
    # the within-batch survivors feed the signatures AND the
    # cross-batch filter; without a checkpoint the jaccard + CC +
    # anti-join pipeline re-executes per reference. One row per
    # surviving doc: batch-sized, never the tokenized corpus.
    within = drop_near_duplicates(docs, text_col, id_col, n, threshold).localCheckpoint(
        eager=True
    )
    new_sigs = minhash_signatures(
        within, text_col, id_col, n, num_hashes
    ).localCheckpoint(eager=True)

    # cold start is detected by an EXPLICIT existence check, never by
    # catching the read error: a bare except here would also swallow
    # permission failures, corrupt footers, and transient FS errors,
    # silently skipping cross-batch dedup for the batch and admitting
    # duplicates into the corpus forever ("raise, don't mislabel" —
    # same standard as graph.py's non-convergence guard). A failed
    # read of an EXISTING index fails the batch, and the re-run
    # retries it.
    survivors = within
    if dataset_exists(index_dir, spark):
        old_sigs = spark.read.parquet(index_dir).where(
            F.col(BATCH_COL) != int(batch_id)
        )
        # materialize the decisions ONCE so the index write and the
        # caller's survivors write cannot diverge
        survivors = filter_against_signatures(
            within, new_sigs, old_sigs, id_col, threshold, num_hashes, bands
        ).localCheckpoint(eager=True)

    surv_sigs = new_sigs.join(
        survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
    )
    append_batch_exactly_once(surv_sigs, batch_id, index_dir)
    return survivors


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
    """Process one micro-batch: :func:`dedup_against_index`, then land
    the survivors in this batch's ``survivors_dir`` partition."""
    survivors = dedup_against_index(
        batch_df, batch_id, index_dir, text_col, id_col, n, threshold, num_hashes, bands
    )
    append_batch_exactly_once(survivors, batch_id, survivors_dir)


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
    """Fold the batch partitions the stream's checkpoint has COMMITTED
    into the ``_batch_id=-1`` history partition
    (``batches.compact_batches``), so the against-index scan stays O(1)
    partitions as batches accumulate. Run it between streaming runs.

    Folding a batch that is still due for replay would defeat the
    ``_batch_id != batch_id`` replay exclusion: every replayed doc would
    collide with its own failed-attempt signature at estimated Jaccard
    1.0 and the whole batch would silently vanish. The fold spares
    uncommitted batches, so the guard stays sound across compaction."""
    compact_batches(
        spark, index_dir, last_committed_batch(spark, checkpoint_dir), lambda sigs: sigs
    )
