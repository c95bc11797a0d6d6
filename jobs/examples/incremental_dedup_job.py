"""Incremental near-dup dedup as a registry job — the per-batch
production shape: dedup the incoming batch within itself and against
the persisted signature index (streaming/dedup.py::dedup_against_index,
the recipe the streaming dedup runs per micro-batch). The survivors'
signatures land in the index's ``_batch_id=<batch_id>`` partition, so
re-running a batch id (say, after a failed output write) returns the
same survivors and leaves the index unchanged. Cost scales with the
batch, never with the accumulated corpus.

Pair with the incremental input loop (plans/incremental.py) for a
daily training-data ingest that never re-minhashes history; compact
the index with the ``vacuum_dedup_index`` job."""

from yaetos_spark.job import SparkJob
from yaetos_spark.streaming.dedup import dedup_against_index


class IncrementalDedupJob(SparkJob):
    """params: ``batch_id`` (required — names this run's input batch;
    pass ``--batch_id=N``), ``index_dir`` (required — the persisted
    signature index), ``threshold`` (jaccard), ``ngram``,
    ``num_hashes``, ``bands``."""

    def transform(self, documents):
        p = self.params
        if p.get("batch_id") is None:
            raise ValueError("incremental_dedup requires params.batch_id (--batch_id=N)")
        return dedup_against_index(
            documents,
            int(p["batch_id"]),
            p["index_dir"],
            threshold=float(p.get("threshold", 0.5)),
            n=int(p.get("ngram", 3)),
            num_hashes=int(p.get("num_hashes", 16)),
            bands=int(p.get("bands", 4)),
        )
