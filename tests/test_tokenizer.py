"""BPE tokenizer induction tests — the trainer (Spark word count +
driver-side incremental merges) vs an independent pure-python
Sennrich-style reference (merge sequence AND resulting
segmentations), plus encoder/contract and Spark-job-count checks."""

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from yaetos_spark.operators.tokenizer import (
    END_OF_WORD,
    bpe_apply,
    bpe_train,
    bpe_vocab,
)

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _ref_train(word_freqs, n_merges, min_pair_count=2):
    """Independent reference: dict-based Sennrich trainer with the same
    deterministic tie-break (count desc, then pair lexicographic)."""
    words = [(list(w) + [END_OF_WORD], f) for w, f in word_freqs.items()]
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, f in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if n < min_pair_count:
            break
        merges.append((a, b))
        nxt = []
        for syms, f in words:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, f))
        words = nxt
    return merges, words


def _ref_encode(word, merges):
    """Sequential merge replay (subword-nmt inference style)."""
    return _replay(word, merges)[0]


def _replay(word, merges):
    """``word``'s sequential-replay segmentation and the merges that
    changed it on the way."""
    syms, fired = list(word) + [END_OF_WORD], set()
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        if out != syms:
            fired.add((a, b))
        syms = out
    return syms, fired


def test_bpe_train_paper_example(spark):
    """The arXiv:1508.07909 shape: 'est' units emerge from the
    newest/widest family, 'low' from the low/lower family."""
    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))],
        "doc_id bigint, text string",
    )
    merges = bpe_train(docs, 5)
    assert merges == [("e", "s"), ("es", "t"), ("est", END_OF_WORD), ("l", "o"), ("lo", "w")]
    assert bpe_vocab(merges) == ["es", "est", "est</w>", "lo", "low"]


@given(
    st.lists(
        # a non-ASCII BMP character and an astral one: the tie-break
        # is code-point order, and train and apply split by code point
        st.text(alphabet="abé😀", min_size=1, max_size=5),
        min_size=1,
        max_size=12,
    ),
    st.integers(0, 6),
)
@settings(**SETTINGS)
def test_bpe_train_matches_reference(spark, words, n_merges):
    """Trainer == pure-python reference on random corpora:
    identical merge SEQUENCE, and the rank-priority Spark encoder
    reproduces the reference's sequential-replay segmentations."""
    freqs = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id bigint, text string"
    )
    got = bpe_train(docs, n_merges)
    want, _ = _ref_train(freqs, n_merges)
    assert got == want
    if got:
        out = {r.doc_id: r.bpe_tokens for r in bpe_apply(docs, got).collect()}
        for i, w in enumerate(words):
            assert out[i] == _ref_encode(w, got), (w, got)


def test_bpe_train_non_ascii_matches_reference(spark):
    """A fixed corpus of emoji and accented words: one symbol per code
    point (never a surrogate half), merges in code-point tie-break
    order, and apply's segmentations equal the reference replay."""
    words = ["😀😀", "😀x", "😀", "😀x", "é😀", "éé", "xé", "😀😀", "éé", "x😀", "😀x"]
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id bigint, text string")
    freqs = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    got = bpe_train(docs, 10)
    want, _ = _ref_train(freqs, 10)
    assert got == want
    # x</w> and é</w> tie at 3: "x" (U+0078) sorts before "é" (U+00E9)
    assert got[:3] == [("😀", END_OF_WORD), ("x", END_OF_WORD), ("é", END_OF_WORD)]
    tokens = bpe_apply(docs, got).collect()[0].bpe_tokens
    assert tokens == [t for w in words for t in _ref_encode(w, got)]


@given(
    st.lists(
        # ASCII space and three non-ASCII Unicode spaces: only the
        # ASCII one separates words, in training and in apply alike
        st.text(alphabet="ab \u00a0\u2003\u3000", min_size=1, max_size=8),
        min_size=1,
        max_size=6,
    ),
    st.integers(1, 6),
)
@example(["ab\u00a0ab ab\u00a0ab", "\u3000 \u3000"], 4)
@settings(**SETTINGS)
def test_bpe_apply_fires_every_learned_merge(spark, texts, n_merges):
    """Train and apply split words the same way (``WORD_SEP``): the
    words ``bpe_apply`` encodes (read back from its ``</w>`` units) are
    the training words, so replaying the merges over them fires every
    learned merge, including merges of non-ASCII whitespace, which is
    word-internal on both sides."""
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    merges = bpe_train(docs, n_merges)
    words, cur = [], ""
    for row in bpe_apply(docs, merges).collect():
        for t in row.bpe_tokens:
            cur += t
            if t.endswith(END_OF_WORD):
                words.append(cur[: -len(END_OF_WORD)])
                cur = ""
    fired = set().union(*(_replay(w, merges)[1] for w in words))
    assert fired == set(merges)


def test_bpe_train_spark_jobs_independent_of_merges(spark):
    """Training launches the same Spark jobs (the word count) for 0
    merges as for 20: the merge rounds run on the driver."""
    sc = spark.sparkContext
    words = ["lowest"] * 5 + ["newer"] * 4 + ["wider"] * 3 + ["stronger"] * 2 + ["widest"] * 2
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id bigint, text string")
    jobs = {}
    for n in (0, 20):
        group = f"bpe_train_jobs_{n}"
        sc.setJobGroup(group, group)
        try:
            merges = bpe_train(docs, n)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status tracker is fed by the async listener bus: drain it
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert len(merges) == 20
    assert jobs[0] >= 1
    assert jobs[0] == jobs[20]


def test_bpe_train_min_pair_count_stops_early(spark):
    """All-unique pairs below min_pair_count: training stops at zero
    merges rather than memorizing hapax pairs."""
    docs = spark.createDataFrame([(1, "ab cd ef")], "doc_id bigint, text string")
    assert bpe_train(docs, 10, min_pair_count=2) == []


def test_bpe_apply_contracts(spark):
    """NULL text encodes to []; output column collision refuses loudly;
    word boundaries survive (each word contributes a </w>-terminated
    unit run)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "aa ab"), (2, None)], "doc_id bigint, text string"
    )
    merges = [("a", "a"), ("aa", END_OF_WORD)]
    rows = {r.doc_id: r.bpe_tokens for r in bpe_apply(docs, merges).collect()}
    assert rows[1] == ["aa</w>", "a", "b", END_OF_WORD]
    assert rows[2] == []
    with pytest.raises(ValueError, match="bpe_tokens"):
        bpe_apply(docs.withColumn("bpe_tokens", F.lit("x")), merges)
