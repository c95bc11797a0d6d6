"""Registry job compacting the incremental-dedup signature index: the
batch partitions ``<= through_batch`` fold into the ``_batch_id=-1``
history partition through the shared crash-safe fold
(:func:`yaetos_spark.streaming.batches.compact_batches`), so the
against-index scan stays O(1) partitions as batches accumulate.

params: ``index_dir`` and ``through_batch`` (both required). Pass the
highest batch id that will not be re-run: a folded batch's re-run
would find its own signatures in history and drop every document.
Returns a 1-row DataFrame (index_dir, through_batch, rows) so the run's
output documents what changed.
"""

from __future__ import annotations

from yaetos_spark.job import SparkJob
from yaetos_spark.streaming.batches import compact_batches


class VacuumIndexJob(SparkJob):
    def transform(self, **_):
        index_dir = self.params.get("index_dir")
        through = self.params.get("through_batch")
        if not index_dir or through is None:
            raise ValueError(
                "vacuum_index_job requires params.index_dir and params.through_batch"
            )
        rows = compact_batches(self.spark, index_dir, int(through), lambda sigs: sigs)
        return self.spark.createDataFrame(
            [(index_dir, int(through), rows)],
            "index_dir string, through_batch long, rows long",
        )
