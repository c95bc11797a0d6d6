"""Training-data curation operators: benchmark-contamination checks,
deterministic sampling, repetition/boilerplate profiling, and sequence
packing.

These are the dataset-curation steps a large-scale training pipeline
runs between raw ingestion and tokenization (no analog in the
reference, which stops at generic ETL — SURVEY §2 extension). Every
operator is expressed as narrow projections + the single shuffle its
semantics require, and every per-document computation let-binds its
token array (see functions/hof.py:let) so Catalyst cannot
re-evaluate the tokenizer per array element.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from yaetos_spark.operators._guards import reserve_helper_cols

from yaetos_spark.functions.hof import let as _let


def _tokens(text_col: str) -> Column:
    """Whitespace tokens of a trimmed text column. Spark's split("")
    yields [""], so empty/whitespace-only docs would otherwise carry a
    phantom token into every downstream count."""
    return F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")


def _ngram_strings(tokens: Column, n: int) -> Column:
    """All space-joined n-grams of a token array (empty if < n tokens)."""
    n_grams = F.size(tokens) - n + 1
    return F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1)), F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check: for each training document, how
    many of its token n-grams appear anywhere in the evaluation set.

    Returns (id_col, n_ngrams, n_hits, contamination_ratio) for
    documents with at least one hit.

    Scale: the eval set's distinct n-grams are broadcast (benchmark
    suites are MBs, the training corpus is the 100 TB side), so the
    match is a map-side broadcast join — the only shuffle is the
    per-document hit count AFTER the join has filtered to the rare
    contaminated grams, i.e. the shuffle moves hits, not the corpus.
    """
    eval_grams = (
        eval_df.select(F.explode(_ngram_strings(_tokens(text_col), n)).alias("gram"))
        .distinct()
    )
    # carry the per-doc total through the explode so the corpus is
    # scanned and tokenized ONCE (a totals/hits branch pair would scan
    # the 100 TB side twice)
    exploded = train.select(
        F.col(id_col),
        F.inline(
            _let(
                _tokens(text_col),
                lambda t: _let(
                    _ngram_strings(t, n),
                    lambda g: F.transform(
                        g, lambda gram: F.struct(F.size(g).alias("n_ngrams"), gram.alias("gram"))
                    ),
                ),
            )
        ),
    )
    return (
        exploded.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(
            F.first("n_ngrams").alias("n_ngrams"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .select(
            id_col,
            "n_ngrams",
            "n_hits",
            (F.col("n_hits") / F.col("n_ngrams")).alias("contamination_ratio"),
        )
    )


def deterministic_sample(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
    sub_buckets: int = 64,
) -> DataFrame:
    """Exact stratified sample: the same ``n_per_stratum`` rows per
    stratum on every run and every engine — rank rows inside each
    stratum by md5 of their id and keep the first n.

    Hash-ordering (not rand()) is what makes training-data sampling
    reproducible: re-running the pipeline, or running it on a different
    cluster, selects the identical subset.

    Skew-proof two-phase top-n: a single
    ``row_number() over (partition by strata)`` would sort each
    stratum's ENTIRE population in one unsplittable window task — and
    real strata are power-law (the "en" stratum of a web corpus is
    10^9+ rows), so the hot stratum IS the job. Instead, rows first
    rank within (stratum, hash-derived sub-bucket) — groups are
    stratum/``sub_buckets`` sized — and only each sub-bucket's top n
    (<= sub_buckets * n rows per stratum, metadata-scale) reach the
    per-stratum ranking. The global top-n by hash equals the top-n of
    the union of per-bucket top-ns, so the selected rows AND their
    ranks are identical to the single-window formulation.
    """
    # collision-guarded helper names: withColumn silently OVERWRITES an
    # existing column, so a bare "_h"/"_sub"/"_r1" input column would be
    # destroyed (and then dropped) — refuse loudly instead
    helpers = ("__ds_h", "__ds_sub", "__ds_r1")
    clash = [c for c in helpers if c in df.columns]
    if clash:
        raise ValueError(
            f"deterministic_sample: input columns {clash} collide with "
            "internal helper names — rename them before sampling"
        )
    h = F.md5(F.col(id_col).cast("string"))
    sub = F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % sub_buckets
    w1 = Window.partitionBy(*strata_cols, "__ds_sub").orderBy("__ds_h")
    w2 = Window.partitionBy(*strata_cols).orderBy("__ds_h")
    return (
        df.withColumn("__ds_h", h)
        .withColumn("__ds_sub", sub)
        .withColumn("__ds_r1", F.row_number().over(w1))
        .where(F.col("__ds_r1") <= n_per_stratum)
        .withColumn("sample_rank", F.row_number().over(w2))
        .where(F.col("sample_rank") <= n_per_stratum)
        .drop("__ds_h", "__ds_sub", "__ds_r1")
    )


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    the doc that is its single most frequent word, and the fraction of
    duplicated bigrams.

    Returns (id_col, n_words, top_word_frac, dup_bigram_frac) —
    dup_bigram_frac is NULL for single-word docs.

    Scale: pure per-document array work (let-bound token array +
    filter/transform/array_distinct HOFs) in one narrow projection —
    ZERO shuffles, embarrassingly parallel. Per-doc cost is
    O(distinct_words x words), fine for natural documents where
    distinct_words ~ hundreds.
    """

    def profile(t: Column) -> Column:
        n_words = F.size(t)
        max_count = F.array_max(
            F.transform(
                F.array_distinct(t), lambda w: F.size(F.filter(t, lambda x: x == w))
            )
        )
        return _let(
            _ngram_strings(t, 2),
            lambda bg: F.struct(
                n_words.alias("n_words"),
                (max_count / n_words).alias("top_word_frac"),
                F.when(
                    F.size(bg) >= 1,
                    1 - F.size(F.array_distinct(bg)) / F.size(bg),
                ).alias("dup_bigram_frac"),
            ),
        )

    return df.select(
        F.col(id_col), _let(_tokens(text_col), profile).alias("_p")
    ).select(id_col, "_p.n_words", "_p.top_word_frac", "_p.dup_bigram_frac")


_PII_PATTERNS = {
    # order matters: emails contain digit runs, so redact them first
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d ().-]{6,}\d",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails / IPv4s / phone-number-shaped digit runs,
    replacing each with a ``[TYPE]`` tag, and count what was removed.

    Returns (id_col, n_email, n_ip, n_phone, redacted).

    The patterns are deliberately simple character-class regexes that
    behave identically under Java regex and RE2 (so a DuckDB oracle
    reproduces them exactly); a production pipeline would extend the
    pattern table, not the plumbing. Scale: a narrow projection — one
    regexp_extract_all + one regexp_replace per pattern, zero shuffles,
    all JVM-side codegen.
    """
    out = df.select(F.col(id_col), F.col(text_col).alias("redacted"))
    counts = []
    for name, pat in _PII_PATTERNS.items():
        out = out.select(
            F.col(id_col),
            *counts,
            F.size(F.regexp_extract_all("redacted", F.lit(pat), 0)).alias(f"n_{name}"),
            F.regexp_replace("redacted", pat, f"[{name.upper()}]").alias("redacted"),
        )
        counts.append(F.col(f"n_{name}"))
    return out.select(id_col, "n_email", "n_ip", "n_phone", "redacted")


def bernoulli_sample(
    df: DataFrame, p: "float | Column", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff the md5-derived
    uniform of its id is below ``p``. Unlike ``df.sample()`` (seeded
    per-partition, so the subset changes with partitioning) the
    selection depends only on row identity — stable across runs,
    engines, and cluster layouts, which is what makes training subsets
    reproducible. Zero shuffles: a filter on a hash of the id.

    ``p`` may be a Column for per-row keep probability — e.g. a quality
    score, giving reproducible quality-weighted corpus sampling.
    """
    thresh = F.lit(float(p)) if isinstance(p, (int, float)) else p
    uniform = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        / F.lit(float(2**32))
    )
    return df.withColumn("u", uniform).where(F.col("u") < thresh)


def vocab_coverage(
    df: DataFrame, text_col: str = "text", top_n: int = 25
) -> DataFrame:
    """Vocabulary frequency table with cumulative corpus coverage: the
    tokenizer-design question "how much of the corpus do the top-N
    words cover?". Returns (rank, word, n, cum_share) for the top_n
    words, ties broken alphabetically.

    Scale: explode + map-side-combined groupBy (one shuffle), then the
    rank/cumsum window runs over ONLY the aggregated vocabulary — tiny
    vs the corpus — so the single-partition window is safe: vocab size,
    not corpus size, bounds it.
    """
    counts = (
        df.select(F.explode(_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    total = Window.partitionBy()
    return (
        counts.select(
            F.row_number().over(w).alias("rank"),
            "word",
            "n",
            (
                F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
                / F.sum("n").over(total)
            ).alias("cum_share"),
        )
        .where(F.col("rank") <= top_n)
    )


def pack_sequences(
    df: DataFrame,
    budget_tokens: int,
    order_col: str = "doc_id",
    partition_col: str = "source",
    text_col: str = "text",
    sub_buckets: int = 32,
) -> DataFrame:
    """Assign documents to fixed token-budget context windows ("bins")
    in a deterministic order: a document belongs to the bin its first
    token lands in under a running token count, i.e. streaming packing
    with split-at-boundary semantics (a straddling document spills into
    the next window, as sequence packing with attention-mask reset
    does).

    Returns one row per (partition_col, bin_id) with n_docs and
    total_tokens.

    Scale: the exclusive running sum is a DISTRIBUTED two-phase prefix
    sum (the global_rank pattern from operators/windows.py), not one
    window per shard — a coarse ``partition_col`` (three sources over a
    100 TB corpus) would otherwise serialize terabytes of token rows
    through ONE unsplittable window task. Rows range-bucket on
    ``order_col`` within each shard (percentile boundaries; metadata-
    scale collect), per-(shard, bucket) token totals come back as one
    tiny row each, and each bucket's exclusive offset is added to its
    LOCAL running sum — every sort stays bucket-local. The bin ids are
    exact and boundary-invariant: integer token offsets correct for
    whatever the approximate percentiles put in each bucket, so the
    output is bit-identical to the single-window formulation (property
    test asserts it). Non-range-bucketable ``order_col`` types (string/
    binary/boolean) fall back to the per-shard window — with the
    documented hot-shard caveat.
    """
    toks = df.select(
        F.col(partition_col),
        F.col(order_col),
        F.size(_tokens(text_col)).alias("n_tokens"),
    )
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")
    dtype = dict(df.dtypes).get(order_col, "")
    if not dtype.startswith(numeric):
        w = (
            Window.partitionBy(partition_col)
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        binned = toks.withColumn(
            "bin_id",
            F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget_tokens),
        )
        return binned.groupBy(partition_col, "bin_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )

    # the tokenized frame is consumed three times (boundaries, bucket
    # totals, the bucketed window) — persist so the corpus tokenizes once
    toks = toks.persist()
    spark = df.sparkSession
    # NULL-shard rows go through the window fallback: the bucketed path's
    # inner equi-join on partition_col would silently drop them, where
    # the window formulation keeps NULL as its own partition (and a
    # NULL shard key can't appear in an inferred-schema boundary frame)
    null_shard = toks.where(F.col(partition_col).isNull())
    main = toks.where(F.col(partition_col).isNotNull())
    w_null = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned_null = null_shard.withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w_null), F.lit(0)) / budget_tokens),
    ).select(partition_col, "bin_id", "n_tokens")
    qs = [i / sub_buckets for i in range(1, sub_buckets)]
    brows = (
        main.groupBy(partition_col)
        .agg(F.percentile_approx(order_col, qs, 2_000).alias("b"))
        .collect()
    )  # one row per shard — metadata-scale
    bound_rows = []
    for r in brows:
        uniq = []
        for b in r["b"] or []:
            if not uniq or b > uniq[-1]:
                uniq.append(b)
        # a shard with one distinct order value yields no usable
        # boundaries; a -inf sentinel keeps the row's array non-empty
        # (schema inference) and maps the whole shard to one bucket
        bound_rows.append((r[partition_col], [float(x) for x in uniq] or [float("-inf")]))
    if not bound_rows:  # no non-NULL shards: only the fallback output
        return binned_null.groupBy(partition_col, "bin_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    # schema inferred from the collected shard values, so any shard
    # key type round-trips; boundaries are doubles (exact for any
    # practical id range — < 2^53)
    bounds = spark.createDataFrame(bound_rows, [partition_col, "_barr"])
    bucketed = (
        main.join(F.broadcast(bounds), partition_col)
        .withColumn(
            "_bkt",
            F.size(F.filter("_barr", lambda b: F.col(order_col).cast("double") > b)),
        )
        .drop("_barr")
    )
    sums = {
        (r[partition_col], r["_bkt"]): r["_t"]
        for r in bucketed.groupBy(partition_col, "_bkt")
        .agg(F.sum("n_tokens").alias("_t"))
        .collect()
    }  # one row per (shard, bucket) — metadata-scale
    offset_rows = []
    for shard in {k[0] for k in sums}:
        acc = 0
        for bkt in sorted(k[1] for k in sums if k[0] == shard):
            offset_rows.append((shard, bkt, acc))
            # a (shard, bucket) whose n_tokens are ALL NULL sums to None
            # — contributes 0 tokens, exactly like the window path where
            # F.sum skips NULLs
            acc += sums[(shard, bkt)] or 0
    offsets = spark.createDataFrame(offset_rows, [partition_col, "_bkt", "_off"])
    w = (
        Window.partitionBy(partition_col, "_bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned_main = bucketed.join(F.broadcast(offsets), [partition_col, "_bkt"]).withColumn(
        "bin_id",
        F.floor(
            (F.col("_off") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
            / budget_tokens
        ),
    ).select(partition_col, "bin_id", "n_tokens")
    return (
        binned_main.unionByName(binned_null)
        .groupBy(partition_col, "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
) -> DataFrame:
    """Sliding token-window chunking — split each document into
    fixed-size overlapping chunks, the standard preprocessing step for
    context-window training and retrieval indexes (a different operator
    from :func:`pack_sequences`, which bins WHOLE documents into token
    budgets; this one splits within documents).

    Chunk ``k`` covers tokens ``[k*stride, k*stride + chunk_tokens)``
    with ``stride = chunk_tokens - overlap_tokens``; the last chunk may
    be shorter; a chunk is only emitted if it contributes at least one
    token not already covered by the previous chunk (``start <
    n - overlap``), so short documents yield exactly one chunk and no
    fully-redundant tail chunk exists. Empty documents yield no rows.

    Returns (doc_id, chunk_id, n_tokens, chunk_text).

    Scale: pure narrow operations — tokenize, ``sequence`` the chunk
    starts, ``explode``, ``slice`` — zero shuffles, no UDFs; output
    volume ≈ input tokens x (1 + overlap/stride), linear in corpus
    size. The reference has no counterpart (closest: its text jobs
    pass whole strings through SQL transforms).
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError(
            f"overlap_tokens ({overlap_tokens}) must be < chunk_tokens ({chunk_tokens})"
        )
    stride = chunk_tokens - overlap_tokens

    # ``let``-bind the token array: referencing a computed ``_toks``
    # column from the size() filter, the sequence() generator input,
    # AND the slice() all at once leaves THREE inlined split() calls in
    # the plan (CollapseProject + no CSE across the Filter/Generate
    # boundaries) — the corpus would be re-tokenized three times. The
    # binding tokenizes once and emits finished chunk structs.
    def chunks_of(t: Column) -> Column:
        n = F.size(t)
        starts = F.sequence(
            F.lit(0), F.greatest(n - overlap_tokens - 1, F.lit(0)), F.lit(stride)
        )
        return F.transform(
            starts,
            lambda s: F.struct(
                (s / stride).cast("int").alias("chunk_id"),
                F.least(F.lit(chunk_tokens), n - s).alias("n_tokens"),
                F.concat_ws(" ", F.slice(t, s + 1, chunk_tokens)).alias("chunk_text"),
            ),
        )

    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(_let(_tokens(text_col), chunks_of)).alias("_c"))
        .filter(F.col("_c.n_tokens") > 0)
        .select("doc_id", "_c.chunk_id", "_c.n_tokens", "_c.chunk_text")
    )


def rebalance_groups(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    quota: int | None = None,
) -> DataFrame:
    """Domain/language mix rebalancing: cap every group at ``quota``
    rows (default: the size of the SMALLEST group, i.e. rebalance to a
    uniform mix), selecting each group's survivors deterministically by
    md5-of-id rank. The data-mixing step of a training pipeline — e.g.
    flatten an English-heavy corpus to equal per-language counts —
    reproducible across runs and engines because the quota is derived
    from the data and the ranking is hash-based, never rand().

    Returns the surviving rows of ``df`` (original columns).

    Scale: the quota is a metadata-scale aggregate (one row per group,
    collected as a 1-row min). The rank window shuffles on group_col;
    for extremely skewed groups at 100 TB swap the exact rank for
    rate-based Bernoulli-hash sampling (``bernoulli_sample``) at the
    cost of ±sqrt(n) quota accuracy.
    """
    if quota is None:
        counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
        # 1-row collect: min group size (bounded by #groups, metadata-scale)
        quota = counts.agg(F.min("_n")).collect()[0][0]
        if quota is None:  # empty input: no groups, nothing to cap
            return df
    reserve_helper_cols("rebalance_groups", ("_rk",), df)
    w = Window.partitionBy(group_col).orderBy(F.md5(F.col(id_col).cast("string")))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= int(quota))
        .drop("_rk")
    )


def dedup_corpus_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
    delimiter: str = "\n",
) -> DataFrame:
    """C4/RefinedWeb-style corpus-level line dedup: drop every line
    that occurs (exactly, after trim) in >= ``min_docs`` DISTINCT
    documents — boilerplate headers, cookie banners, nav text — and
    reassemble each document from its surviving lines in order.

    Returns ``(id_col, text_clean, n_kept, n_removed)``.

    Scale shape: posexplode lines (narrow) → distinct (line, doc) →
    count per line → HOT-line set (only the lines above the threshold)
    → ONE left join marking each line hot/kept → ONE groupBy(doc)
    producing the reassembled text (sort_array over (pos, line)
    structs — ``collect_list`` skips the null structs the hot lines
    map to) and both counters as conditional counts.  No window, no
    single-partition stage, and the corpus is exploded exactly once at
    runtime (``lines`` is persisted and shared by the count branch and
    the marker join; the old anti-join + semi-join + base-join shape
    evaluated it three times).  Every doc has >= 1 line row — NULL text
    is coalesced to "" BEFORE the split (split(NULL) yields NULL and
    posexplode would emit nothing, silently dropping the doc), and
    split("") yields [""] — so no outer join against ``docs`` is needed
    to keep fully-boilerplate, empty, or NULL-text docs in the output.

    The hot set is NOT force-broadcast: it is threshold-filtered but
    data-dependent — at corpus scale "every line occurring in >=
    min_docs docs" can exceed driver memory, and a hard ``F.broadcast``
    would collect it regardless.  It is persisted instead so AQE picks
    broadcast from its MATERIALIZED size when it is genuinely small and
    a shuffle join when it is not (the minhash/jaccard hot-set
    pattern); hot line keys are high-frequency on the lines side, and
    AQE skew-split handles them in the shuffle regime.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), delimiter)
        ).alias("_pos", "_line"),
    ).withColumn("_key", F.trim(F.col("_line")))
    # job-lifetime persist: (id, pos, line) rows — the exploded corpus
    # is computed once and read back by both consumers below
    lines = lines.persist()

    hot = (
        lines.where(F.col("_key") != "")
        .select("_key", id_col)
        .distinct()
        .groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .where(F.col("_docs") >= min_docs)
        .select("_key", F.lit(True).alias("_hot"))
        .persist()
    )

    marked = lines.join(hot, "_key", "left").withColumn(
        "_is_hot", F.coalesce(F.col("_hot"), F.lit(False))
    )
    return marked.groupBy(id_col).agg(
        F.concat_ws(
            delimiter,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_is_hot"),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias("text_clean"),
        F.count(F.when(~F.col("_is_hot"), F.lit(1))).cast("long").alias("n_kept"),
        F.count(F.when(F.col("_is_hot"), F.lit(1))).cast("long").alias("n_removed"),
    )


def assign_splits(
    df: DataFrame,
    id_col: str = "doc_id",
    fractions: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row gets a
    ``split`` label from the md5-uniform of its id — a pure projection
    (zero shuffles), stable across runs, engines, partitionings, and
    re-ingestions of the same ids (the property that stops eval
    contamination when the corpus is rebuilt).  ``salt`` decorrelates
    this split from any other md5-derived decision on the same ids
    (e.g. bernoulli_sample).  Fractions must sum to <= 1; mass left
    over falls into the LAST label."""
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    if sum(fractions.values()) > 1 + 1e-9:
        raise ValueError(f"fractions sum to {sum(fractions.values())} > 1")
    uniform = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8),
            16, 10,
        ).cast("long")
        / F.lit(float(2**32))
    )
    labels = list(fractions)
    expr = F.lit(labels[-1])
    acc = 0.0
    cuts = []
    for name in labels[:-1]:
        acc += fractions[name]
        cuts.append((name, acc))
    for name, cut in reversed(cuts):
        expr = F.when(uniform < F.lit(cut), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    max_top_word_frac: float = 0.2,
    max_dup_bigram_frac: float = 0.2,
    min_avg_word_len: float = 3.0,
    max_avg_word_len: float = 10.0,
) -> DataFrame:
    """Gopher-style composite quality filter (Rae et al. 2021 §A1.1):
    one narrow zero-shuffle projection emitting every rule verdict
    plus the conjunction, so a pipeline can either drop failures or
    audit per-rule failure rates.  Returns (id, n_words, ok_n_words,
    ok_top_word, ok_dup_bigram, ok_word_len, passes).

    Rules over the whitespace-token stream: document length in
    [min_words, max_words]; most frequent word <= max_top_word_frac of
    the doc; duplicate-bigram fraction <= max_dup_bigram_frac (absent
    bigrams pass); mean word length in [min_avg_word_len,
    max_avg_word_len].  All signals are exact integer/rational
    arithmetic on token arrays — reproducible in any engine.  A
    zero-word (empty or whitespace-only) document fails the per-word
    ratio rules instead of dividing by zero."""

    def verdicts(t: Column) -> Column:
        n_words = F.size(t)
        has_words = n_words > 0
        max_count = F.array_max(
            F.transform(
                F.array_distinct(t), lambda w: F.size(F.filter(t, lambda x: x == w))
            )
        )
        awl = F.aggregate(
            t, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ) / n_words
        bigrams = _ngram_strings(t, 2)
        dup_bg = F.when(
            F.size(bigrams) >= 1, 1 - F.size(F.array_distinct(bigrams)) / F.size(bigrams)
        )
        return F.struct(
            n_words.alias("n_words"),
            n_words.between(min_words, max_words).alias("ok_n_words"),
            F.when(has_words, (max_count / n_words) <= max_top_word_frac)
            .otherwise(False)
            .alias("ok_top_word"),
            F.coalesce(dup_bg <= max_dup_bigram_frac, F.lit(True)).alias("ok_dup_bigram"),
            F.when(has_words, awl.between(min_avg_word_len, max_avg_word_len))
            .otherwise(False)
            .alias("ok_word_len"),
        )

    out = df.select(F.col(id_col), _let(_tokens(text_col), verdicts).alias("_v")).select(
        id_col, "_v.*"
    )
    return out.withColumn(
        "passes",
        F.col("ok_n_words") & F.col("ok_top_word") & F.col("ok_dup_bigram") & F.col("ok_word_len"),
    )


def dsir_logweights(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """DSIR hashed n-gram importance log-weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    arXiv:2302.03169).

    Features are the paper's hashed n-grams: word unigrams + bigrams
    WITH multiplicity, hashed into ``n_buckets`` buckets (md5-derived
    so a DuckDB oracle reproduces the exact bucket ids — see
    functions/hashing.md5_long). Two bag-of-ngrams distributions are
    fit with add-``alpha`` smoothing: p over documents matching
    ``target`` (the high-quality/target domain) and q over the WHOLE
    input (the raw pool; the paper's q — target rows count in both).
    Each document's importance log-weight is

        log w(doc) = sum over its grams of  log p[bucket] - log q[bucket]

    Returns ``(id_col, n_grams, dsir_logweight)`` for EVERY input
    document: gram-less docs (NULL/whitespace text) keep n_grams=0 and
    log-weight 0.0 rather than vanishing — the selection step must see
    them to reject them.  The weight is rounded to ``round_to``
    decimals so the value is engine-portable (the ln() inputs are
    exact small-integer ratios, identical IEEE doubles in any engine;
    only the transcendental's last ulp and the per-doc summation order
    can differ, orders of magnitude below the rounding grid).

    Scale: one corpus scan builds the gram/bucket rows, persisted
    because they are consumed twice (bucket-count fit + per-doc score)
    — without the persist the 100 TB tokenize+explode runs twice.  The
    fit is a partial-aggregating groupBy on the bucket id (at most
    ``n_buckets`` rows out), its two totals ride a 1-row broadcast
    crossJoin, and the score join force-broadcasts the bucket-weight
    frame — bounded by ``n_buckets`` at PLAN time, the one case where
    an explicit hint beats AQE (see the inline note); the only
    full-width shuffle is the final per-doc sum, which moves
    (id, weight) pairs, not text.
    """
    reserve_helper_cols(
        "dsir_logweights",
        ("_is_target", "_gram", "_bucket", "_wt", "_c_raw", "_c_tgt",
         "_r_tot", "_t_tot", "_n_grams", "_score"),
        df,
    )
    from yaetos_spark.functions.hashing import md5_long

    empty = F.array().cast("array<string>")
    gram_rows = df.select(
        F.col(id_col),
        target.cast("int").alias("_is_target"),
        F.explode(
            _let(
                F.coalesce(_tokens(text_col), empty),
                lambda t: F.concat(t, _ngram_strings(t, 2)),
            )
        ).alias("_gram"),
    )
    bucketed = gram_rows.select(
        id_col,
        "_is_target",
        (md5_long(F.col("_gram"), 32) % n_buckets).alias("_bucket"),
    ).persist()  # job-lifetime persist, same pattern as jaccard_pairs'
    # shingle rows: consumed by both the fit and the score pass below
    bc = bucketed.groupBy("_bucket").agg(
        F.count(F.lit(1)).cast("double").alias("_c_raw"),
        F.sum("_is_target").cast("double").alias("_c_tgt"),
    )
    tot = bc.agg(F.sum("_c_raw").alias("_r_tot"), F.sum("_c_tgt").alias("_t_tot"))
    denom = float(alpha) * float(n_buckets)
    w = bc.crossJoin(F.broadcast(tot)).select(
        "_bucket",
        (
            F.log((F.col("_c_tgt") + alpha) / (F.col("_t_tot") + denom))
            - F.log((F.col("_c_raw") + alpha) / (F.col("_r_tot") + denom))
        ).alias("_wt"),
    )
    ds = (
        # force-broadcast is SAFE here, unlike the data-dependent
        # frames the house rule covers: w is bounded by n_buckets at
        # PLAN time (it is a groupBy on the bucket id).  Left to the
        # optimizer, Catalyst picks BuildLeft — broadcasting the
        # EXPLODED gram rows, whose size estimate flows through
        # Generate (the r6/r7 mis-broadcast class) and OOMs a real
        # cluster on a real corpus.
        bucketed.join(F.broadcast(w), "_bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_n_grams"),
            F.sum("_wt").alias("_score"),
        )
    )
    return (
        df.select(id_col)
        .join(ds, id_col, "left")
        .select(
            id_col,
            F.coalesce("_n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.round(F.coalesce("_score", F.lit(0.0)), round_to).alias(
                "dsir_logweight"
            ),
        )
    )


def dsir_select(
    scores: DataFrame,
    fraction: float,
    score_col: str = "dsir_logweight",
    id_col: str = "doc_id",
    seed: int | None = None,
) -> DataFrame:
    """Importance selection over :func:`dsir_logweights` output: keep
    the top ``fraction`` of documents by log-weight.

    ``seed=None`` ranks by the raw weight (greedy top-k): the selected
    COUNT is exact (ceil(fraction * n)) and score-dominance holds —
    every selected weight >= every rejected weight — but ties at the
    cutoff break arbitrarily (the paper's weights are continuous, so
    ties are degenerate inputs).  ``seed=k`` is the paper's Gumbel
    top-k importance RESAMPLE made deterministic and engine-portable:
    per-doc noise g = -ln(-ln(u)) with u = (md5_long(f"{seed}:{id}")+1)
    / (2^32+1) added to the log-weight, so the selection is a true
    weighted sample without replacement (Gumbel-max trick),
    reproducible across runs and engines from the seed alone.

    Scale: ranking is the two-phase distributed global_rank (range
    split on the key + partition-local sort) — no single-task global
    sort; the cutoff count comes from the rank pass's own totals.
    Returns the input columns + ``selected`` boolean.
    """
    from yaetos_spark.functions.hashing import md5_long
    from yaetos_spark.operators.windows import _global_rank_with_total

    reserve_helper_cols("dsir_select", ("_key", "_dsir_rank"), scores)
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    key = F.col(score_col).cast("double")
    if seed is not None:
        u = (
            md5_long(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")), 32)
            + F.lit(1.0)
        ) / F.lit(float(2**32) + 1.0)
        key = key + (-F.log(-F.log(u)))
    keyed = scores.withColumn("_key", -key)  # global_rank sorts ascending
    ranked, total = _global_rank_with_total(keyed, "_key", "_dsir_rank", None)
    import math

    k = math.ceil(fraction * total)
    return ranked.withColumn("selected", F.col("_dsir_rank") <= k).drop(
        "_key", "_dsir_rank"
    )


def _water_fill(
    avail: dict[str, float],
    shares: dict[str, float],
    budget: float,
    max_epochs: float,
    on_infeasible: str = "redistribute",
) -> dict[str, float]:
    """Per-group budget allocation for ``mix_to_target`` (driver-side,
    <= n_groups rows — metadata-scale by construction).

    Classic water-filling: give every group ``budget * share``, clip
    any group that would exceed its capacity (``max_epochs * avail``)
    at that capacity, and redistribute the clipped surplus over the
    remaining groups proportionally to their shares; repeat until no
    new group clips (terminates in <= n_groups passes, each pass
    permanently retires at least one group).

    Policies: ``"error"`` raises on the FIRST group whose target
    exceeds capacity (strict mixes); ``"redistribute"`` (default)
    water-fills and raises only if the budget is unreachable even with
    every group at capacity; ``"clip"`` does a single proportional
    pass with clipping and NO redistribution — the output then
    undershoots the budget, which is the documented audit mode for
    "how close can this corpus get to the target mix".
    """
    if on_infeasible not in ("error", "redistribute", "clip"):
        raise ValueError(f"unknown on_infeasible policy: {on_infeasible!r}")
    cap = {g: max_epochs * avail.get(g, 0.0) for g in shares}
    want = {g: 0.0 for g in shares}
    share_sum = sum(shares.values())
    if share_sum <= 0:
        raise ValueError("mix_to_target: target shares sum to zero")
    if on_infeasible == "error":
        for g, s in shares.items():
            w = budget * s / share_sum
            if w > cap[g] + 1e-6:
                raise ValueError(
                    f"mix_to_target: group {g!r} needs {w:.1f} units but has "
                    f"capacity {cap[g]:.1f} (avail * max_epochs={max_epochs}) — "
                    "raise max_epochs to allow upsampling, or use "
                    "on_infeasible='redistribute'/'clip'"
                )
            want[g] = w
        return want
    if on_infeasible == "clip":
        for g, s in shares.items():
            want[g] = min(budget * s / share_sum, cap[g])
        return want
    active = {g for g, s in shares.items() if s > 0}
    fixed = 0.0
    while active:
        active_share = sum(shares[g] for g in active)
        over = []
        for g in active:
            want[g] = (budget - fixed) * shares[g] / active_share
            if want[g] > cap[g] + 1e-9:
                over.append(g)
        if not over:
            return want
        for g in over:
            want[g] = cap[g]
            fixed += cap[g]
            active.discard(g)
    if fixed < budget - 1e-6:
        raise ValueError(
            f"mix_to_target: budget {budget:.1f} unreachable — every group is "
            f"at capacity and only {fixed:.1f} units are attainable; raise "
            "max_epochs (upsampling) or lower the budget "
            "(on_infeasible='clip' accepts the shortfall)"
        )
    return want


def mix_to_target(
    df: DataFrame,
    group_col: str,
    targets: dict[str, float],
    budget: int,
    id_col: str = "doc_id",
    weight_col: str | None = None,
    max_epochs: float = 1.0,
    on_infeasible: str = "redistribute",
    exact: bool = False,
    sub_buckets: int = 64,
) -> DataFrame:
    """Data-mixture construction: select (and optionally repeat) rows
    so the output matches the ``targets`` mixture over ``group_col`` at
    a total size of ``budget`` units — rows by default, or token/char
    units when ``weight_col`` names a per-row weight (e.g. ``n_chars``).
    The mixture step of an LLM training pipeline (domain/language
    reweighting a la DoReMi, arXiv:2305.10429, and the sampling-
    proportion tables of the LLaMA/Pile reports), complementing
    ``rebalance_groups`` (uniform per-group CAP) with arbitrary target
    proportions, token budgets, and >1-epoch upsampling.

    Each selected row carries an ``_epoch`` column (0-based repeat
    index): a group needing 2.3 epochs emits every row with _epoch 0
    and 1, plus a deterministic ~30% subset with _epoch 2. Selection is
    md5-hash-based (never rand()): the same subset on every run and
    every engine. Three fractional-epoch modes:

    - default (rate): hash-thresholded Bernoulli — binomial ±sqrt
      accuracy, ZERO extra shuffles.
    - ``exact=True``, row units: exactly round(want) rows per group via
      the skew-proof two-phase per-group top-n used by
      ``deterministic_sample`` — phase-1 ranks within (group, hash
      sub-bucket) so a power-law hot group never sorts in one window
      task.
    - ``exact=True`` with ``weight_col``: exact WEIGHT (e.g. token)
      budget — greedy prefix of the hash order until the group's
      budget is crossed (crossing doc included: per-group selected
      weight lands in [want, want + max doc weight)), via a two-phase
      distributed prefix sum over 256 fixed hex-range buckets of the
      md5 key (uniform by construction, so no percentile pass and no
      hot-group window).

    Groups missing from ``targets`` (or with target 0) are dropped;
    groups in ``targets`` but absent from ``df`` have zero capacity and
    follow ``on_infeasible`` (see ``_water_fill``). Per-group budgets
    come from driver-side water-filling over the group-count aggregate
    (n_groups rows — metadata-scale); the resulting quota frame is
    force-broadcast (bounded by construction, the DSIR weight-frame
    precedent: Catalyst's size estimate over an aggregate is unreliable
    but the TRUE size is <= n_groups rows).

    Scale: one partial-agg groupBy for capacities, one broadcast join,
    one explode sized by the OUTPUT (upsampled) volume — no all-pairs,
    no hot-group window in the default rate mode.
    """
    if budget <= 0:
        raise ValueError(f"mix_to_target: budget must be positive, got {budget}")
    if max_epochs <= 0:
        raise ValueError(f"mix_to_target: max_epochs must be positive, got {max_epochs}")
    if any(v < 0 for v in targets.values()):
        raise ValueError("mix_to_target: negative target weights")
    if None in targets:
        # a NULL target would water-fill real budget against the NULL
        # group's count, then the equi-join (NULL never equals NULL)
        # would drop every row — a silent shortfall; refuse loudly.
        # NULL-group rows are untargetable and always dropped.
        raise ValueError(
            "mix_to_target: None is not a targetable group (NULL group "
            "rows are dropped) — coalesce the group column first"
        )
    helpers = (
        "_epoch", "__mx_full", "__mx_rate", "__mx_n", "__mx_u",
        "__mx_sub", "__mx_r1", "__mx_r2", "__mx_b", "__mx_off",
        "__mx_pref", "__mx_fw",
    )
    reserve_helper_cols("mix_to_target", helpers, df)
    shares = {g: float(w) for g, w in targets.items() if w > 0}
    unit = F.count(F.lit(1)) if weight_col is None else F.sum(F.col(weight_col))
    avail_rows = (
        df.groupBy(group_col).agg(unit.cast("double").alias("_avail")).collect()
    )
    avail = {r[group_col]: float(r["_avail"] or 0.0) for r in avail_rows}
    want = _water_fill(avail, shares, float(budget), float(max_epochs), on_infeasible)
    quota = []
    for g, w in want.items():
        a = avail.get(g, 0.0)
        if a <= 0 or w <= 0:
            continue
        if exact and weight_col is None:
            want_n = int(round(w))
            full, frac_n = divmod(want_n, int(a))
            quota.append((g, full, 0.0, frac_n, 0.0))
        elif exact:
            epochs = w / a
            full = int(epochs)
            quota.append((g, full, 0.0, 0, w - full * a))
        else:
            epochs = w / a
            full = int(epochs)
            quota.append((g, full, epochs - full, 0, 0.0))
    if not quota:
        return df.limit(0).withColumn("_epoch", F.lit(0))
    spark = df.sparkSession
    # infer the group column's type from the actual key values, then
    # cast to the input's exact dtype so the equi-join never falls back
    # to a cross-type comparison
    qdf = (
        spark.createDataFrame(
            quota, [group_col, "__mx_full", "__mx_rate", "__mx_n", "__mx_fw"]
        )
        .select(
            F.col(group_col).cast(dict(df.dtypes)[group_col]),
            F.col("__mx_full").cast("int"),
            F.col("__mx_rate").cast("double"),
            F.col("__mx_n").cast("int"),
            F.col("__mx_fw").cast("double"),
        )
    )
    joined = df.join(F.broadcast(qdf), group_col)
    # NULL/empty-safe epoch list: sequence(0, -1) would step BACKWARDS
    # ([0, -1]), so the zero-full-epochs case must short-circuit
    full_arr = F.when(
        F.col("__mx_full") >= 1,
        F.sequence(F.lit(0), F.col("__mx_full") - 1),
    ).otherwise(F.array().cast("array<int>"))
    drop_cols = ("__mx_full", "__mx_rate", "__mx_n", "__mx_fw")
    if exact and weight_col is not None:
        # exact WEIGHT budget: greedy prefix of the md5 ordering —
        # select docs in hash order until the group's fractional
        # weight budget is crossed (the crossing doc is included, so
        # per-group selected weight lands in [want, want + max doc
        # weight)). The running weight is a distributed two-phase
        # prefix sum (the pack_sequences pattern), but with FIXED hex
        # buckets: the first two hex chars of the md5 key are 256
        # contiguous, uniform-by-construction ranges of the ordering
        # key, so no percentile sampling pass is needed and no hot
        # group ever sorts in one window task. NULL weights count as 0
        # (a weightless doc can be selected but consumes no budget) —
        # consistent with the F.sum capacity aggregate skipping NULLs.
        h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":mix")))
        marked = joined.withColumn("__mx_u", h).withColumn(
            "__mx_b", F.substring(F.col("__mx_u"), 1, 2)
        )
        bsums = {
            (r[group_col], r["__mx_b"]): r["_t"]
            for r in marked.groupBy(group_col, "__mx_b")
            .agg(F.sum(weight_col).cast("double").alias("_t"))
            .collect()
        }  # <= n_groups x 256 rows — metadata-scale
        offset_rows = []
        for g in {k[0] for k in bsums}:
            acc = 0.0
            for b in sorted(k[1] for k in bsums if k[0] == g):
                offset_rows.append((g, b, acc))
                acc += bsums[(g, b)] or 0.0
        offsets = (
            spark.createDataFrame(offset_rows, [group_col, "__mx_b", "__mx_off"])
            .select(
                F.col(group_col).cast(dict(df.dtypes)[group_col]),
                F.col("__mx_b").cast("string"),
                F.col("__mx_off").cast("double"),
            )
        )
        wp = (
            Window.partitionBy(group_col, "__mx_b")
            .orderBy("__mx_u")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        pref = marked.join(F.broadcast(offsets), [group_col, "__mx_b"]).withColumn(
            "__mx_pref",
            F.col("__mx_off")
            + F.coalesce(F.sum(F.col(weight_col).cast("double")).over(wp), F.lit(0.0)),
        )
        fractional = (
            pref.where(F.col("__mx_pref") < F.col("__mx_fw"))
            .withColumn("_epoch", F.col("__mx_full"))
            .drop("__mx_u", "__mx_b", "__mx_off", "__mx_pref")
        )
        full_part = joined.withColumn("_epoch", F.explode(full_arr))
        return full_part.unionByName(fractional).drop(*drop_cols)
    if exact:
        h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":mix")))
        sub = F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % sub_buckets
        w1 = Window.partitionBy(group_col, "__mx_sub").orderBy("__mx_u")
        w2 = Window.partitionBy(group_col).orderBy("__mx_u")
        marked = (
            joined.withColumn("__mx_u", h)
            .withColumn("__mx_sub", sub)
            .withColumn("__mx_r1", F.row_number().over(w1))
        )
        # phase-1 prune: only per-(group, sub-bucket) top-n reach the
        # per-group ranking — <= sub_buckets * n rows per group
        pruned = marked.where(F.col("__mx_r1") <= F.col("__mx_n")).withColumn(
            "__mx_r2", F.row_number().over(w2)
        )
        frac_sel = F.col("__mx_r2") <= F.col("__mx_n")
        fractional = (
            pruned.where(frac_sel)
            .withColumn("_epoch", F.col("__mx_full"))
            .drop("__mx_u", "__mx_sub", "__mx_r1", "__mx_r2")
        )
        full_part = joined.withColumn("_epoch", F.explode(full_arr))
        out = full_part.unionByName(fractional)
        return out.drop(*drop_cols)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":mix"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**32))
    )
    epochs_arr = F.when(
        u < F.col("__mx_rate"), F.concat(full_arr, F.array(F.col("__mx_full")))
    ).otherwise(full_arr)
    return joined.withColumn("_epoch", F.explode(epochs_arr)).drop(*drop_cols)
