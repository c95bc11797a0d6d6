"""Text-analysis operators for training-data pipelines.

All pure-column expressions (codegen'd, no UDFs): language ID via
stopword-marker scoring, quality scoring (length/punct/stopword
ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting (normalized md5). Designed to run over billions of
documents: every operator is a narrow projection — zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yaetos_spark.functions.hashing import normalize_text, stable_fingerprint
from yaetos_spark.functions.hof import let as _let
from yaetos_spark.operators._guards import reserve_helper_cols

# Marker stopwords per language for the n-gram-free heuristic language
# ID. Real pipelines use a trained model; the heuristic is the always-
# available fallback and is fully SQL-expressible (oracle-checkable).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "fr": ["le", "la", "les", "et", "des"],
    "es": ["el", "los", "las", "una", "y"],
    "de": ["der", "die", "und", "das", "ein"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})

# Base of the mod-2^64 polynomial k-gram hash used by
# winnow_fingerprints_rolling (FNV-1a prime: odd -> a unit mod 2^64,
# so consecutive powers never collapse to 0). Module-level so the
# DuckDB value-level oracle (__spark_entry__._winnow_rolling_oracle)
# derives its weight literals from the SAME constant — the two sides
# cannot drift apart silently.
WINNOW_ROLLING_BASE = 1099511628211


def _doubled(col: str) -> Column:
    """Lower-cased, space-normalized text with every space doubled, so
    each token is independently surrounded by spaces (consecutive
    stopwords would otherwise share the separating space and hide one
    ``' w '`` occurrence)."""
    return F.regexp_replace(
        F.concat(F.lit(" "), F.regexp_replace(F.lower(F.col(col)), r"\s+", " "), F.lit(" ")),
        r" ",
        "  ",
    )


def _hits_in(doubled: Column, words: list[str]) -> Column:
    """Sum of per-word ``' w '`` occurrence counts over an ALREADY
    ``_let``-bound doubled-space string — each count is two cheap
    string scans (length + replace), no regex."""
    total = F.lit(0)
    for w in words:
        total = total + _substr_count(doubled, f" {w} ")
    return total


def _word_hits(col: str, words: list[str]) -> Column:
    """Count of tokens of ``col`` that are in ``words`` — via a padded
    space-join so word boundaries are exact, no regex dialect issues.

    The normalization chain (2 regexp passes) is ``_let``-bound so it
    runs ONCE per document: referencing it from every per-word count
    would otherwise inline it at each use site (Catalyst CSE skips
    conditional positions), re-regexing the document tens to hundreds
    of times — measured 25% wall on lang_quality at sf0.1, and worse
    the longer the documents."""
    return _let(_doubled(col), lambda d: _hits_in(d, words))


def _substr_count(c: Column, needle: str) -> Column:
    return ((F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit("")))) / len(needle)).cast("long")


def word_count(col: str) -> Column:
    """Whitespace token count."""
    t = F.trim(F.col(col))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def bpe_ish_token_count(col: str) -> Column:
    """BPE-ish subword proxy: count of word-chunks plus punctuation
    marks, where long words cost ceil(len/4) tokens (the ~4-chars-per-
    token rule of thumb)."""
    words = F.split(F.trim(F.col(col)), r"\s+")
    per_word = F.transform(words, lambda w: F.ceil(F.length(w) / F.lit(4.0)).cast("long"))
    return F.aggregate(per_word, F.lit(0).cast("long"), lambda a, v: a + v)


def punct_ratio(col: str) -> Column:
    c = F.col(col)
    # run-matching class (the normalize_text fusion lesson): deleting
    # maximal RUNS of kept characters removes the identical characters
    # as the per-char form but with far fewer match events — the
    # single-char pattern made regexp_replace allocate per character
    non_alnum = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]+", ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(non_alnum / F.length(c))


def stopword_ratio(col: str) -> Column:
    wc = word_count(col)
    return F.when(wc == 0, F.lit(0.0)).otherwise(_word_hits(col, STOPWORDS) / wc)


def avg_word_len(col: str) -> Column:
    c = F.regexp_replace(F.trim(F.col(col)), r"\s+", " ")
    wc = word_count(col)
    chars = F.length(F.replace(c, F.lit(" "), F.lit("")))
    return F.when(wc == 0, F.lit(0.0)).otherwise(chars / wc)


def quality_score(col: str) -> Column:
    """Composite [0,1] quality heuristic: long-enough docs with low
    punctuation noise and a plausible stopword rate score high."""
    length_term = F.least(F.length(F.col(col)) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * 5, F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * 4, F.lit(1.0))
    return F.round((length_term + punct_term + stop_term) / 3, 6)


def lang_id(col: str) -> Column:
    """Argmax of per-language marker-stopword hit counts; 'und' when no
    marker hits. Deterministic tie-break: language name ascending
    (``array_position`` returns the FIRST max and the score array is
    built in sorted language order).

    Shape: the doubled-space text and the score array are each
    ``_let``-bound and computed once per document; a when-chain over
    per-language scores would instead inline every score (and the
    normalization under it) into every comparison — this expression
    alone carried ~880 regexp_replace sites in the physical plan
    before the binding."""
    langs = sorted(LANG_MARKERS)
    return _let(
        _doubled(col),
        lambda d: _let(
            F.array(*[_hits_in(d, LANG_MARKERS[lang]) for lang in langs]),
            lambda arr: _let(
                F.array_max(arr),
                lambda best: F.when(
                    best > 0,
                    F.element_at(
                        F.array(*[F.lit(lang) for lang in langs]),
                        F.array_position(arr, best).cast("int"),
                    ),
                ).otherwise(F.lit("und")),
            ),
        ),
    )



def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-char gram of the
    normalized text, then keep the minimum hash of each sliding window
    of ``window`` consecutive k-gram hashes. Guarantees any shared
    substring of length >= k + window - 1 yields a shared fingerprint.

    Returns (id_col, fingerprint: long) rows, distinct per document.

    Scale: the whole computation is per-document array work
    (sequence/transform/slice/array_min HOFs) followed by a narrow
    explode — ZERO shuffles, so it runs embarrassingly parallel over
    any corpus size. The normalized text and the k-gram hash array are
    ``_let``-bound so each is computed once per document regardless of
    how Catalyst collapses the projections.

    The k-gram hash is engine-portable md5 (its first 32 bits): DuckDB
    replicates it bit-for-bit, which is what the oracle contract query
    needs. The price is one full md5 per character position; at the
    100x replica the fingerprint scan is bound by the per-position
    substring/transform machinery, which
    :func:`winnow_fingerprints_rolling` removes.
    """

    def _hash(s: Column) -> Column:
        return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")

    def kgrams_of(nrm: Column) -> Column:
        # explicit +1 step: sequence() defaults to step -1 when
        # start > stop, and the where-guard below runs in a separate
        # Filter node, so keep the expression itself total
        n_kgrams = F.greatest(F.length(nrm) - k + 1, F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_kgrams, F.lit(1)),
            lambda i: _hash(nrm.substr(i, F.lit(k))),
        )

    def windows_of(raw: Column) -> Column:
        # a doc with fewer than ``window`` k-grams contributes
        # min-of-all (one window; slice tolerates running past the end)
        n_windows = F.greatest(F.size(raw) - window + 1, F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_windows, F.lit(1)),
                lambda j: F.array_min(F.slice(raw, j, window)),
            )
        )

    # short-doc exclusion lives INSIDE the binding (empty array →
    # explode emits nothing): a `where(length(normalize_text(..)) >= k)`
    # guard would re-run the full normalize chain in the Filter node —
    # no CSE across Filter/Project, so every document was normalized
    # twice. The raw-length where below is a cheap superset pre-filter
    # (normalization never lengthens text: lower preserves, collapsing
    # one-or-more runs to single chars shrinks, trim shrinks).
    fps = _let(
        normalize_text(text_col),
        lambda nrm: F.when(
            F.length(nrm) >= k, _let(kgrams_of(nrm), windows_of)
        ).otherwise(F.array().cast("array<long>")),
    )
    return (
        df.where(F.length(F.col(text_col)) >= k)
        .select(F.col(id_col), F.explode(fps).alias("fingerprint"))
    )


def winnow_overlap_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_doc_freq: int = 50,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    (id_a < id_b, n_shared). The near-dup detector built on
    winnow_fingerprints.

    Scale: fingerprints occurring in more than ``max_doc_freq``
    documents (boilerplate phrases) are dropped BEFORE the self-join —
    this bounds the per-key fan-out to max_doc_freq^2 and removes the
    join skew that common substrings would otherwise cause at corpus
    scale. The document frequency itself comes from a PARTIAL-
    AGGREGATING groupBy (map-side combine: one row per fingerprint per
    partition reaches the shuffle), not ``count(*) over
    Window.partitionBy("fingerprint")`` — the window form buffers
    EVERY row of a fingerprint in one unsplittable task, and the
    hottest fingerprint (boilerplate shared by 10^8 docs at corpus
    scale) is exactly what the guard exists to drop, so the window
    formulation fails precisely on the operator's target input (same
    hazard class as the min_by exact-dedup fix). The hot set is small
    (bounded by fp_rows / max_doc_freq) and anti-joined back, the
    jaccard hot-shingle pattern (dedup.py max_df guard).

    ``fps`` is persisted for the job's lifetime (the window plan
    persisted the post-filter ``rare`` rows — same storage class:
    (id, long) fingerprint rows, never document text): it is consumed
    by the count branch AND by both self-join sides, and without the
    persist each consumer would re-fingerprint the corpus.
    """
    fps = fps.persist()
    hot = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("_dfreq"))
        .where(F.col("_dfreq") > max_doc_freq)
        .select("fingerprint")
    )
    rare = fps.join(hot, "fingerprint", "left_anti")
    # merge hint: fingerprint rows are ~tokens/window per doc — data-
    # proportional — but their estimate is anchored to the Generate's
    # child, so the planner would broadcast them at any corpus size
    # (the broadcast_over_generate census class; same fix as the
    # jaccard shingle self-join). max_doc_freq already bounds per-key
    # fan-out, so the shuffle join has no skew cliff.
    a, b = rare.alias("a"), rare.hint("merge").alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def text_profile(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass profile of a document table — all metrics in a single
    narrow projection (no shuffle)."""
    return df.select(
        F.col(id_col),
        F.length(F.col(col)).cast("long").alias("n_chars"),
        word_count(col).alias("n_words"),
        bpe_ish_token_count(col).alias("n_tokens_est"),
        F.round(avg_word_len(col), 6).alias("avg_word_len"),
        F.round(punct_ratio(col), 6).alias("punct_ratio"),
        F.round(stopword_ratio(col), 6).alias("stopword_ratio"),
        quality_score(col).alias("quality_score"),
        lang_id(col).alias("lang_pred"),
        stable_fingerprint(normalize_text(col)).alias("fingerprint"),
    )


def doc_oov_counts(
    df: DataFrame,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary counts against the corpus's own
    top-``top_k`` word vocabulary: (id_col, n_tokens, n_oov). The
    doc-level companion of ``curation.vocab_coverage`` (corpus-level):
    a high n_oov/n_tokens flags gibberish, boilerplate, or wrong-domain
    documents before they reach tokenization.

    Counts are exact integers — no float ratio — so the result is
    engine-portable bit-for-bit.

    Token-less documents (NULL or whitespace-only text) contribute no
    token rows and are ABSENT from the output — by contract, not by
    accident: an (id, 0, 0) row would read as "all tokens in-vocab"
    downstream, which is the opposite of what a NULL doc should score;
    left-join this output against the doc table to surface them.

    Scale: vocabulary = one explode + hash-agg + global top-k
    (TakeOrdered, no full sort); the top-k rows (KBs) broadcast into
    the per-document hit count, so the corpus is scanned once and the
    only corpus-sized shuffle is the per-doc count AFTER the explode is
    reduced map-side. Ties at the rank boundary break on (count desc,
    word asc) so the vocabulary is deterministic across engines.
    """
    tokens = F.filter(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: t != "")
    words = df.select(F.col(id_col), F.explode(tokens).alias("word"))
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(top_k)
        .select("word", F.lit(1).alias("_in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab), "word", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )


def tf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    *,
    max_df: int | None,
) -> DataFrame:
    """Document-pair cosine similarity over term-frequency vectors via
    an INVERTED TERM INDEX — the sparse-similarity shape that scales:
    pairs materialize only for docs sharing a term (one equi-join on
    the term key), never as an all-pairs product.

    Returns (id1, id2, dot, cos_sim), id1 < id2, cos_sim >= threshold.

    Cross-engine exactness by construction: tf counts, the pair dot
    product sum(tf1*tf2) and the norm sums sum(tf^2) are all INTEGER
    aggregations (exact, order-independent), and the only float ops —
    one multiply, one sqrt, one divide per surviving pair — are IEEE
    correctly-rounded, so any engine computes bit-identical cos_sim.
    (No idf weighting here on purpose: ln() is not correctly-rounded
    and drifts across math libraries — the r5 1-ulp lesson.)

    ``max_df`` drops terms appearing in more than that many docs
    BEFORE the self-join — the hot-key guard bounding join fan-out at
    sum(df^2) <= max_df * index_size (same idea as the hot-shingle
    guard in dedup). It is REQUIRED (keyword-only, no default): on a
    real corpus, stopwords make the unguarded self-join quadratic in
    the hottest term, so skipping the guard must be an explicit
    decision — pass ``max_df=None`` to opt out on a corpus known to be
    small. Norms are computed AFTER the drop so the cosine
    is exactly the cosine of the filtered vectors. The self-join and
    the norm joins are merge-hinted: the term rows hang off a Generate
    (explode of split), so their Catalyst size estimate is the pruned
    scan's — structurally dishonest at any scale.

    Singleton prune (result-preserving): a term with df_count == 1 has
    exactly one (id, term) row, so the a.id < b.id self-join emits
    nothing for it — those rows are dead weight on both join sides
    (on a Zipf corpus the singleton tail is a large vocabulary
    fraction). When ``max_df`` is set, df_count is attached to the
    persisted index via an inner join (same one term-keyed shuffle the
    old anti-join cost), making the df >= 2 join-side prune a free
    filter over the cache; norms still aggregate ALL index rows, so
    cos_sim is bit-identical. The ``max_df=None`` opt-out keeps the
    original df-count-free shape (no prune) — that path exists for
    corpora too small for any of this to matter."""
    toks = F.filter(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: t != "")
    rows = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
    tf = rows.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    if max_df:
        dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_count"))
        tf = tf.join(dfc.hint("merge"), "term").filter(F.col("df_count") <= max_df)
    # job-lifetime persist: the index feeds both self-join sides and
    # the two norm branches — one materialization instead of four
    # corpus tokenizations; one row per (doc, distinct term), far
    # smaller than the token stream itself
    tf = tf.persist()
    norms = tf.groupBy("id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    pair = (
        tf.filter(F.col("df_count") >= 2).select("id", "term", "tf")
        if max_df
        else tf
    )
    a, b = pair.alias("a"), pair.hint("merge").alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    n1 = norms.select(F.col("id").alias("id1"), F.col("n2").alias("n2_1"))
    n2 = norms.select(F.col("id").alias("id2"), F.col("n2").alias("n2_2"))
    return (
        dots.join(n1.hint("merge"), "id1")
        .join(n2.hint("merge"), "id2")
        .withColumn(
            "cos_sim",
            F.round(
                F.col("dot")
                / F.sqrt(F.col("n2_1").cast("double") * F.col("n2_2").cast("double")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id1", "id2", "dot", "cos_sim")
    )


def redundancy_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_df: int = 3,
) -> DataFrame:
    """Per-document boilerplate fraction: the share of a doc's distinct
    n-gram shingles that occur in more than ``min_df`` docs corpus-wide
    — the doc-LEVEL redundancy signal (curation filters drop or
    down-weight high-fraction docs), complementing the corpus-level
    line dedup and the intra-doc repetition profile.

    Returns (doc_id, n_shingles, n_common, common_frac). All counts are
    integers; the single division is IEEE-exact, so the output is
    engine-reproducible. EVERY input doc gets a row: docs shorter than
    ``n`` tokens (incl. NULL/empty text) carry their single whole-text
    shingle (ngrams_from_tokens contract), so n_shingles >= 1 always
    and common_frac is never 0/0. Cost: one shingle fan-out, one df-count
    aggregation, one semi-ish join back — linear in corpus size, the
    same shape at 5k docs and 5B."""
    from yaetos_spark.functions.shingles import word_ngram_rows

    rows = word_ngram_rows(df, text_col, id_col, n)
    # persist: feeds the df-count aggregation AND the per-doc rollup
    rows = rows.persist()
    common = (
        rows.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .filter(F.col("df_count") > min_df)
        .select("shingle", F.lit(1).alias("_common"))
    )
    return (
        rows.join(common.hint("merge"), "shingle", "left")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("_common").isNotNull(), 1).otherwise(0)).alias("n_common"),
        )
        .withColumn(
            "common_frac", F.round(F.col("n_common") / F.col("n_shingles"), 6)
        )
    )


def winnow_fingerprints_rolling(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints via a TRUE rolling polynomial hash in an
    Arrow-vectorized ``mapInPandas`` stage — the different-SHAPE
    production path the r10 hash A/B pointed at: swapping md5 for
    another hash inside the SQL formulation bought only ~5-13% because
    the per-position ``substring`` + ``transform`` machinery dominates;
    this variant removes that machinery entirely. Per document, the
    normalized bytes become one numpy array, the k-gram hashes are one
    stride-tricked (n-k+1, k) @ weights matmul in uint64 (wraparound
    IS the mod-2^64 polynomial hash), window minima are a second
    stride trick + min(axis=1), and distinct fingerprints come from
    ``np.unique`` — O(n·k) vectorized integer ops, no per-position
    string allocation.

    Same selection algorithm, same guarantees as
    :func:`winnow_fingerprints` (any shared substring of length >=
    k + window - 1 yields a shared fingerprint; short docs contribute
    min-of-all; docs whose normalized text is shorter than ``k`` emit
    nothing) — but a different hash space: never mix its output with
    the md5 index. Normalization mirrors
    ``functions/hashing.normalize_text`` (lower, non-alphanumeric runs
    -> one space, trim) in Python; after the [^a-z0-9]+ regex the text
    is pure ASCII, so byte positions equal character positions. (Exotic
    Unicode whose Python lower() differs from the JVM's can diverge
    from the SQL variants — irrelevant within this hash space, which is
    self-consistent.)

    Scale: embarrassingly parallel Arrow batches, zero shuffles — the
    same shape as the SQL variant, minus its expression cost. An
    intentional arrow_python site (plan-census whitelisted class).
    """
    import re

    import numpy as np
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, fingerprint long"
    pat = re.compile(r"[^a-z0-9]+")
    # weights B^(k-1-j) mod 2^64, computed in Python ints (numpy's
    # scalar uint64 multiply wraps correctly but emits a spurious
    # RuntimeWarning); the worker-side matmul wraps silently
    B = WINNOW_ROLLING_BASE
    weights = np.empty(k, dtype=np.uint64)
    acc = 1
    for j in range(k - 1, -1, -1):
        weights[j] = np.uint64(acc)
        acc = (acc * B) % (1 << 64)

    def gen(batches):
        for pdf in batches:
            ids: list = []
            fps: list = []
            for did, txt in zip(pdf[id_col].values, pdf[text_col].values):
                if txt is None or len(txt) < k:
                    continue
                nrm = pat.sub(" ", txt.lower()).strip()
                if len(nrm) < k:
                    continue
                b = np.frombuffer(nrm.encode("ascii"), dtype=np.uint8)
                grams = np.lib.stride_tricks.sliding_window_view(b, k)
                h = grams.astype(np.uint64) @ weights
                if len(h) >= window:
                    mins = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
                else:
                    mins = h.min(keepdims=True)
                u = np.unique(mins).view(np.int64)
                ids.extend([did] * len(u))
                fps.extend(u.tolist())
            yield pd.DataFrame({id_col: ids, "fingerprint": fps})

    return df.where(F.length(F.col(text_col)) >= k).mapInPandas(gen, out_schema)


_LM_BOUNDARY = "\x01"


def charlm_fit_score(
    df: DataFrame,
    reference: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    alpha: float = 0.1,
    max_model_rows: int = 500_000,
    round_to: int = 6,
) -> DataFrame:
    """CCNet-style LM fluency scoring (Wenzek et al. 2019,
    arXiv:1911.00359 §4.3): fit a character ``n``-gram language model
    on the rows matching ``reference`` (the high-quality subset — CCNet
    uses Wikipedia; here any boolean column works) and score EVERY
    document's perplexity under it. Low perplexity = fluent,
    reference-like text; the classic absolute-quality filter,
    complementing ``curation.dsir_logweights`` (RELATIVE target-vs-pool
    importance) and ``curation.gopher_filter`` (rule heuristics).

    The model is add-``alpha`` smoothed:

        P(c | ctx) = (C(ctx+c) + alpha) / (C(ctx) + alpha * V)

    over characters of whitespace-collapsed, lowercased text, with
    ``n-1`` boundary markers so the first characters condition on
    document start; V = distinct reference characters + 1 (the unseen
    pseudo-char, so OOV characters get mass). Counts are exact
    integers and the per-char mean log-prob is rounded to ``round_to``
    decimals, so scores are engine-portable (the DSIR precedent).

    Returns ``(id_col, n_scored, avg_logp, perplexity)`` for EVERY
    input document; docs whose normalized text is empty (NULL/
    whitespace-only) keep n_scored=0 with NULL scores — downstream
    filters must see them to reject them.

    Scale: character n-grams over a natural alphabet are BOUNDED by
    |alphabet|^n, not by corpus size — so unlike DSIR's open-ended
    word-gram space no hashing is needed: the model is a groupBy over
    at most that many rows, guarded by ``max_model_rows`` (a unicode-
    heavy corpus at n=3 can exceed memory-safe broadcast size; the
    guard raises with sizing guidance instead of silently degrading).
    The corpus-scale event rows are built ONCE and persisted (consumed
    by fit and score); both model frames are force-broadcast (bounded
    by construction after the guard); the only full shuffle is the
    per-doc score sum, which moves (id, logp), not text.
    """
    if n < 2:
        raise ValueError(f"charlm_fit_score: n must be >= 2, got {n}")
    reserve_helper_cols(
        "charlm_fit_score",
        ("_is_ref", "_padded", "_gram", "_ctx", "_c_ng", "_c_ctx",
         "_n_scored", "_sum_logp"),
        df,
    )
    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " ")
    )
    padded = F.concat(F.lit(_LM_BOUNDARY * (n - 1)), norm)
    # one prediction event per REAL character: (ctx, next) n-grams of
    # the padded string; whole-stage-codegen substring loop, no UDF
    events = df.select(
        F.col(id_col),
        reference.cast("int").alias("_is_ref"),
        F.explode(
            _let(
                padded,
                # empty normalized text -> zero events, via the
                # when-guard (sequence(1, 0) is an illegal range, the
                # _ngram_strings pattern)
                lambda p: F.when(
                    F.length(p) - (n - 1) >= 1,
                    F.transform(
                        F.sequence(F.lit(1), F.length(p) - (n - 1), F.lit(1)),
                        lambda i: F.substring(p, i, n),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("_gram"),
    ).persist()  # consumed twice: model fit + per-doc scoring
    ref_events = events.where(F.col("_is_ref") == 1)
    ngram_counts = ref_events.groupBy("_gram").agg(
        F.count(F.lit(1)).alias("_c_ng")
    )
    n_model = ngram_counts.count()
    if n_model > max_model_rows:
        events.unpersist()
        raise ValueError(
            f"charlm_fit_score: reference yields {n_model} distinct "
            f"{n}-grams > max_model_rows={max_model_rows} — the model frame "
            "must stay broadcast-safe; normalize/restrict the alphabet, "
            "lower n, or raise the cap if the driver can hold it"
        )
    ctx_counts = ref_events.groupBy(
        F.substring(F.col("_gram"), 1, n - 1).alias("_ctx")
    ).agg(F.count(F.lit(1)).alias("_c_ctx"))
    n_ref_chars = (
        ref_events.select(F.substring(F.col("_gram"), n, 1).alias("c"))
        .agg(F.countDistinct("c").alias("v"))
        .collect()[0]["v"]
    )
    if n_ref_chars == 0:
        # an empty reference subset would degenerate to log(1)=0 for
        # every event (uniform "perplexity 1" for the whole corpus) —
        # meaningless scores that LOOK fine downstream; refuse loudly
        events.unpersist()
        raise ValueError(
            "charlm_fit_score: the reference subset matched no rows with "
            "non-empty text — an empty model scores every document "
            "identically; check the reference condition"
        )
    v = n_ref_chars + 1  # +1: the unseen pseudo-character
    logp = F.log(
        (F.coalesce(F.col("_c_ng"), F.lit(0)) + F.lit(float(alpha)))
        / (F.coalesce(F.col("_c_ctx"), F.lit(0)) + F.lit(float(alpha * v)))
    )
    scored = (
        events.withColumn("_ctx", F.substring(F.col("_gram"), 1, n - 1))
        .join(F.broadcast(ngram_counts), "_gram", "left")
        .join(F.broadcast(ctx_counts), "_ctx", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_n_scored"),
            F.sum(logp).alias("_sum_logp"),
        )
    )
    # left join back to the full input: event-less (empty-text) docs
    # must surface with NULL scores, not vanish (the redundancy_scores
    # contract)
    avg_logp = F.round(F.col("_sum_logp") / F.col("_n_scored"), round_to)
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_n_scored"), F.lit(0)).alias("n_scored"),
            avg_logp.alias("avg_logp"),
            F.round(F.exp(-avg_logp), round_to).alias("perplexity"),
        )
    )
