"""BPE tokenizer job: learn subword merges from the input corpus
(Sennrich et al. 2016, arXiv:1508.07909) and either emit the learned
merge table (``keep: merges`` — feed it to downstream tokenize runs)
or tokenize the corpus with it (``keep: tokens``, the default).

Training cost is one corpus-scale Spark word count; the merge rounds
run on the driver over the collected distinct-word table, so the table
must fit there: fit on a deterministic sample (at most ~10^6 distinct
words) for production corpora.
See yaetos_spark/operators/tokenizer.py.
"""

from yaetos_spark.job import SparkJob
from yaetos_spark.operators.tokenizer import bpe_apply, bpe_train


class BpeTokenizeJob(SparkJob):
    """params: ``n_merges``, ``min_pair_count`` (early-stop floor),
    ``keep`` ('tokens' = input rows + bpe_tokens column, 'merges' =
    the ordered merge table (rank, left, right))."""

    def transform(self, documents):
        merges = bpe_train(
            documents,
            n_merges=int(self.params.get("n_merges", 200)),
            min_pair_count=int(self.params.get("min_pair_count", 2)),
        )
        if self.params.get("keep", "tokens") == "merges":
            return documents.sparkSession.createDataFrame(
                [(i, a, b) for i, (a, b) in enumerate(merges)],
                "rank int, left string, right string",
            )
        return bpe_apply(documents, merges)
