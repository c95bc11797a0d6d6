"""Deduplication operators — exact, MinHash-LSH, SimHash, n-gram Jaccard.

Training-data-pipeline dedup at 100 TB scale, all expressed as Spark
DataFrame plans (no Python in the hot path) and deterministic (md5-
based hash families) so a DuckDB oracle can reproduce every value.

Scale design notes:
- Exact dedup is one hash-aggregate shuffle on a fingerprint.
- MinHash signatures are computed with K min-aggregations in a single
  groupBy (no doc×K row blowup); LSH banding turns the quadratic
  all-pairs problem into an equi-join on (band, signature) buckets.
- Hot shingles (boilerplate present in >max_df docs) are dropped
  before any join — the classic guard against quadratic bucket blowup.
- Candidate verification joins shingle sets only for candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yaetos_spark.functions.hashing import normalize_text, stable_fingerprint
from yaetos_spark.functions.hof import let
from yaetos_spark.functions.shingles import ngrams_from_tokens, tokens, word_ngram_rows


# -- exact ------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of exact duplicates (by md5 of raw text): one row per
    duplicated fingerprint with the member count and min id kept."""
    return (
        df.select(F.col(id_col), stable_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per exact text fingerprint.

    One PARTIAL-AGGREGATING shuffle: ``min_by(struct(*cols), id)`` per
    fingerprint combines map-side, so each partition contributes at
    most one row per fingerprint to the shuffle. The textbook
    ``row_number() over (partition by fp)`` ships EVERY row to the
    fingerprint's single window task — and the hot fingerprint is
    exactly what exact dedup exists to find (a boilerplate/empty doc
    duplicated 10^8 times across a web corpus makes that task the
    job), so the window formulation fails precisely on the operator's
    target input. Column order and types are preserved."""
    packed = df.groupBy(stable_fingerprint(text_col).alias("_fp")).agg(
        F.min_by(
            F.struct(*[F.col(c) for c in df.columns]), F.col(id_col)
        ).alias("_row")
    )
    return packed.select("_row.*")


def normalized_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-after-normalization dup groups (casefold, strip punct,
    collapse whitespace) — catches trivial re-encodings."""
    return (
        df.select(F.col(id_col), stable_fingerprint(normalize_text(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


# -- shingle machinery ------------------------------------------------


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """(id, shingle) rows, distinct per doc; optionally drop shingles
    occurring in more than ``max_df`` docs (boilerplate guard)."""
    rows = word_ngram_rows(df, text_col, id_col, n)
    if max_df:
        hot = (
            rows.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .filter(F.col("df_count") > max_df)
            .select("shingle")
        )
        rows = rows.join(hot, "shingle", "left_anti")
    return rows


def shingle_arrays(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """(id, sh: array<string>) — one row per doc holding its DISTINCT
    n-gram set; with ``max_df``, shingles occurring in more than
    ``max_df`` docs are removed (a doc whose every shingle was hot
    drops out, matching :func:`shingle_rows`).

    Prefer this over exploded rows when the shingles feed a JOIN:
    Catalyst's size estimate for a Generate output is just its child's,
    so exploded rows "estimate" as the pruned parquet scan and can get
    broadcast at ~1000x their estimated size; the per-doc array table's
    estimate is honest."""
    toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_toks"))
    arrs = toked.select("id", ngrams_from_tokens("_toks", n).alias("sh"))
    if max_df:
        rows = arrs.select("id", F.explode("sh").alias("shingle"))
        hot = (
            rows.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .filter(F.col("df_count") > max_df)
            .select("shingle")
        )
        arrs = (
            rows.join(hot, "shingle", "left_anti")
            .groupBy("id")
            .agg(F.collect_list("shingle").alias("sh"))
        )
    return arrs


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Brute n-gram Jaccard near-dup pairs via shingle equi-join.

    Exact (no approximation); the shingle join IS the candidate
    generator — pairs sharing zero shingles never materialize. Use
    ``max_df`` to cap hot-shingle fan-out at scale; for very large
    corpora prefer :func:`minhash_lsh_pairs`.
    """
    if max_df:
        # the hot-shingle filter changes per-doc shingle counts, so
        # sizes must be recounted AFTER the filter — explicit path.
        # Persisted like the fused path below: the frame feeds BOTH
        # self-join sides and the sizes aggregation, and each lazy
        # reference would otherwise re-run the full-corpus tokenize
        # AND the hot-shingle df-count aggregation (the same
        # duplicate-work class fixed in minhash_lsh_pairs this round).
        rows = shingle_rows(df, text_col, id_col, n, max_df).persist()
        sizes = rows.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
        a, b = rows.alias("a"), rows.hint("merge").alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sz1 = sizes.select(F.col("id").alias("id1"), F.col("n_shingles").alias("n1"))
        sz2 = sizes.select(F.col("id").alias("id2"), F.col("n_shingles").alias("n2"))
        scored = inter.join(sz1, "id1").join(sz2, "id2")
    else:
        # fused path: carry each doc's (distinct) shingle count on
        # every exploded row — the sizes aggregation (a third full
        # tokenize+n-gram pass of the corpus) and its two joins against
        # the PAIR table vanish. n_sh = size of the distinct n-gram
        # array = exactly what the groupBy-count produced. Measured at
        # sf0.1 local[32]: ~8% more CPU than the sizes-join plan (wider
        # shuffle rows + struct explode), but at cluster scale the
        # sizes side is one row per doc — too big to broadcast — so the
        # old plan re-shuffles the candidate-pair table twice; this one
        # never touches pairs after the single groupBy.
        #
        # The ``let`` binding matters: a plain
        # ``select(size(_sh), explode(_sh))`` gets CollapseProject'd so
        # the n-gram expression is inlined TWICE (once under size(),
        # once as the generator input) and evaluated twice per row —
        # measured 2x wall-clock on the sf0.1 heavies (no CSE across
        # the Project/Generate operator boundary). ``let`` binds the
        # computed array to a lambda variable, forcing exactly one
        # evaluation; size(a) on the bound array is O(1) per struct.
        toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_toks"))
        pair_structs = let(
            ngrams_from_tokens("_toks", n),
            lambda a: F.transform(
                a, lambda g: F.struct(g.alias("shingle"), F.size(a).alias("n_sh"))
            ),
        )
        rows = toked.select("id", F.explode(pair_structs).alias("p")).select(
            "id", F.col("p.n_sh").alias("n_sh"), F.col("p.shingle").alias("shingle")
        )
        # job-lifetime persist (same pattern as minhash_lsh_pairs):
        # both self-join sides read ONE materialization instead of
        # re-tokenizing the corpus; MEMORY_AND_DISK spills at scale.
        rows = rows.persist()
        # merge hint: Generate reports its CHILD's size, so Catalyst
        # "estimates" the exploded shingle relation at the pruned
        # parquet scan's bytes and broadcasts it at EVERY scale — the
        # r7 100x growth smoke computed a 3.9 GiB "64MB-estimated"
        # broadcast build inside dedup_clusters (disk-spilled in local
        # mode; an executor OOM on a real cluster). Estimates here are
        # structurally dishonest, so the join strategy must not depend
        # on them: sort-merge shuffles both sides on the shingle key
        # and AQE's skew-join splits hot-shingle partitions. (Contrast
        # the LSH verify join, where per-doc ARRAY rows give honest
        # estimates and the r6 measurement REJECTED forcing SMJ.)
        a, b = rows.alias("a"), rows.hint("merge").alias("b")
        scored = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .agg(
                F.count(F.lit(1)).alias("n_common"),
                F.max("a.n_sh").alias("n1"),  # constant per id1
                F.max("b.n_sh").alias("n2"),
            )
        )
    return (
        scored.withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "n_common", "jaccard")
    )


# -- MinHash + LSH ----------------------------------------------------


# prime > 2^32 for the Kirsch-Mitzenmacher hash family
MINHASH_PRIME = 4294967311


def _hash_halves():
    """(h1, h2) base-hash columns from ONE md5 of a ``shingle`` column
    (Kirsch-Mitzenmacher: g_i = (h1 + i*h2) mod p simulates K
    independent hash functions). All integer math — exactly
    reproducible in any engine with md5."""
    h1 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(F.col("shingle")), 9, 8), 16, 10).cast("long")
    return h1, h2


def _minhash_sigs_from_rows(rows: DataFrame, num_hashes: int) -> DataFrame:
    """(id, mh0..mhK-1) from (id, shingle) rows: K min() aggregates in
    one groupBy (map-side partial agg keeps the shuffle at one row per
    doc). h1/h2 are PRE-PROJECTED once per shingle row — inlining them
    into each of the K aggregate expressions re-evaluates the
    conv/substring chain per aggregate (subexpression elimination only
    recovers the md5 itself). Interleaved same-session A/Bs at 100x
    sf0.1: faster in three of four pairs (58.6->49.0, 47.5->43.0,
    45.0->39.6 s), parity in one (36.2 vs 36.4) — a ~5-10% median win,
    never slower. The r6 note that a pre-projection measured slower
    predates the shift to one md5 with two extracted halves; for this
    shape the extraction chain dominates what CSE recovers. (An
    array-domain variant — let-bound struct array + K array_min, no
    explode/agg at all — was also measured and REJECTED: 114 s vs
    71 s; the per-element lambda machinery costs more than the hash
    aggregation it avoids.)"""
    h1, h2 = _hash_halves()
    pre = rows.select("id", h1.alias("h1"), h2.alias("h2"))
    # one SQL string per aggregate: a Column-API build pays ~4 gateway
    # calls of call-site capture per F.* call (1,498 calls at K=16)
    return pre.groupBy("id").agg(
        *[F.expr(f"min((h1 + {i} * h2) % {MINHASH_PRIME}) AS mh{i}") for i in range(num_hashes)]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    max_df: int | None = None,
) -> DataFrame:
    """K minhashes per doc in one groupBy shuffle, no row blowup."""
    rows = shingle_rows(df, text_col, id_col, n, max_df)
    return _minhash_sigs_from_rows(rows, num_hashes)


def lsh_candidates(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Banded-LSH candidate pairs from a minhash signature frame.

    Bands of r = num_hashes/bands rows; band key = md5 of the
    concatenated band slice. Docs sharing any band bucket become a
    candidate pair (id1 < id2, distinct).

    Raises when ``num_hashes % bands != 0``: the remainder hashes
    would belong to no band, silently changing the candidate recall
    the caller computed from the (bands, rows-per-band) S-curve —
    the simhash_pairs posture (raise, don't mislabel)."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"lsh_candidates: num_hashes={num_hashes} is not divisible by "
            f"bands={bands}; the last {num_hashes % bands if bands >= 1 else num_hashes} "
            f"hashes would be excluded from every band key, silently lowering recall."
        )
    r = num_hashes // bands
    band_structs = ", ".join(
        f"struct({b} AS band, concat_ws('_', {', '.join(f'mh{b * r + j}' for j in range(r))}) AS sig)"
        for b in range(bands)
    )
    buckets = signatures.select(
        F.col("id"), F.expr(f"explode(array({band_structs})) AS bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))
    # merge hint: band rows are docs x bands — data-proportional — but
    # their Catalyst estimate is anchored to the Generate's child, so
    # the planner would happily broadcast them at ANY corpus size (the
    # plan census' broadcast_over_generate class). Shuffle on the band
    # key instead; AQE splits skewed hot buckets.
    a, b2 = buckets.alias("a"), buckets.hint("merge").alias("b")
    return (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded
    candidates → exact-Jaccard verification of candidates only.

    At 100 TB this is the scale path: cost is linear in corpus size
    plus the (threshold-controlled) candidate volume; the only joins
    are equi-joins on hash keys, AQE handles residual skew.

    Verification joins the candidate pairs against per-doc shingle
    ARRAYS (one row per doc) and computes ``size(array_intersect)``
    per pair, rather than the textbook exploded-rows join + pair
    groupBy. Two reasons, both from the 100x growth smoke: (a) the
    Catalyst size estimate for exploded rows is just the pruned parquet
    scan (a Generate adds no estimated bytes), so the planner broadcast
    a multi-GB side that "estimated" under the 64MB threshold and died
    with "Not enough memory to build and broadcast" — the un-exploded
    array table's estimate is honest, so AQE broadcasts it when small
    and merge-joins when big, correctly in BOTH regimes; (b) the
    exploded join materializes candidate-pairs x shared-shingles rows
    and re-aggregates them, while the array join carries one row per
    pair. The sizes come free (``size(sh)``), removing the separate
    sizes aggregation and its two joins.

    The arrays are built ONLY for candidate-pair docs (semi-join of
    the corpus against the materialized candidate ids), not persisted
    for the whole corpus: candidates are output-proportional (~0.006%
    of docs at 100x sf0.1) while a full-corpus array persist caches
    the entire tokenized corpus — at 100 TB that is the corpus itself
    held in executor storage. Re-tokenizing the few candidate docs
    costs one pruned scan; measured wall at 100x is parity with the
    persist plan (81-98 s either way, host-noise dominated — profile:
    signatures ~43 s, candidates ~5 s, verify ~6 s), so the memory
    profile is the deciding factor. The candidate frame itself is
    persisted (it is consumed three times: two id branches + the
    verify join) — it is pair-count-sized, never corpus-sized.
    """
    rows = word_ngram_rows(df, text_col, id_col, n)
    hot = None
    if max_df:
        # hot-shingle document frequencies must come from the FULL
        # corpus — recomputing them over the candidate subset would
        # change which shingles are dropped and thus the Jaccard
        # values.  Computed ONCE and persisted (the frame is tiny —
        # only shingles present in more than max_df docs) and shared
        # by the signature path and the verification arrays: both must
        # drop the IDENTICAL hot set, and without the shared persist
        # each branch re-tokenizes and re-aggregates the whole corpus
        # to recount it — a duplicate full-corpus shuffle.
        hot = (
            rows.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .filter(F.col("df_count") > max_df)
            .select("shingle")
            .persist()
        )
        rows = rows.join(hot, "shingle", "left_anti")
    sigs = _minhash_sigs_from_rows(rows, num_hashes)
    cands = lsh_candidates(sigs, num_hashes, bands).persist()
    cand_ids = (
        cands.select(F.col("id1").alias(id_col))
        .unionByName(cands.select(F.col("id2").alias(id_col)))
        .distinct()
    )
    cand_docs = df.join(cand_ids, id_col, "left_semi")
    if max_df:
        arrs = (
            word_ngram_rows(cand_docs, text_col, id_col, n)
            .join(hot, "shingle", "left_anti")
            .groupBy("id")
            .agg(F.collect_list("shingle").alias("sh"))
        )
    else:
        arrs = shingle_arrays(cand_docs, text_col, id_col, n, None)
    s1 = arrs.select(F.col("id").alias("id1"), F.col("sh").alias("sh1"))
    s2 = arrs.select(F.col("id").alias("id2"), F.col("sh").alias("sh2"))
    return (
        cands.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("sh1", "sh2")).alias("n_common"),
            F.size("sh1").alias("n1"),
            F.size("sh2").alias("n2"),
        )
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


# -- SimHash ----------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """32-bit SimHash per doc over distinct whitespace tokens.

    Token hash = first 8 md5 hex chars as long; per bit position the
    set bits are counted as ``bits`` aggregate expressions in ONE
    groupBy (majority vote = 2*count > n) — no bit-explosion of rows. Near-dup = small hamming
    distance; pair generation at scale uses byte-banding (pigeonhole).

    NULL text coalesces to '' before the split: split(NULL) is NULL
    and explode(NULL) emits nothing, so a NULL-text doc would silently
    VANISH from the signature frame while an empty-text doc gets the
    ''-token signature — same class (and same fix) as the shingle
    helpers; two content-less docs hash identically, as they should.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
            )
        ).alias("tok"),
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    toks = toks.select("id", h.alias("h"))
    # Per bit, count SET bits instead of summing ±1 votes: the ±1 vote
    # sum is v_i = 2*c_i - n, so "v_i > 0" == "2*c_i > n" — identical
    # simhash (A/B-verified bit-for-bit), but each per-row aggregate
    # update is a shift+and instead of shift+and+compare+branch.
    # Measured interleaved at sf0.1: 2.77 s -> 2.27 s median (0.82x).
    # Both expression families are SQL strings, one per output column:
    # the Column API pays ~4 gateway calls of call-site capture per F.*
    # call, ~4,900 calls for this build against ~300 as SQL.
    aggs = [F.expr(f"sum(shiftright(h, {i}) & 1) AS c{i}") for i in range(bits)]
    aggs.append(F.expr("count(1) AS n"))
    agg = toks.groupBy("id").agg(*aggs)
    votes = " + ".join(f"CASE WHEN c{i} * 2 > n THEN {2 ** i}L ELSE 0L END" for i in range(bits))
    return agg.select("id", F.expr(f"0L + {votes} AS simhash"))


def simhash_pairs(sim: DataFrame, max_hamming: int = 3, bits: int = 32, bands: int = 4) -> DataFrame:
    """Candidate pairs with hamming(simhash) <= max_hamming via
    byte-band bucketing (a pair within distance ``bands-1`` must agree
    on at least one band), then exact hamming verification.

    Raises when the pigeonhole guarantee does not hold for the given
    (max_hamming, bands): with ``max_hamming >= bands`` a qualifying
    pair can differ in every band and would be silently dropped —
    raise, don't mislabel.  Same for ``bits % bands != 0``: the
    remainder bits would belong to no band, so two signatures
    differing only there would collide on every band yet the caller
    likely believes all ``bits`` participate in banding."""
    if max_hamming >= bands:
        raise ValueError(
            f"simhash_pairs: max_hamming={max_hamming} with bands={bands} breaks "
            f"the pigeonhole guarantee (a pair differing in {max_hamming} bits can "
            f"disagree on all {bands} bands and would be silently missed); need "
            f"max_hamming <= bands - 1 — raise bands or verify all pairs exactly."
        )
    if bits % bands != 0:
        raise ValueError(
            f"simhash_pairs: bits={bits} is not divisible by bands={bands}; the "
            f"top {bits % bands} bits would be excluded from every band key."
        )
    r = bits // bands
    mask = (1 << r) - 1
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * r).bitwiseAND(F.lit(mask)).alias("key"),
        )
        for b in range(bands)
    ]
    buckets = sim.select(
        "id", "simhash", F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b2 = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return pairs.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).select(
        "id1", "id2", "hamming"
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    block: "F.Column | None" = None,
    max_dist: int = 1,
    max_block: int | None = None,
) -> DataFrame:
    """Entity-resolution candidate pairs: strings within the same
    block whose Levenshtein distance is <= ``max_dist``.

    Returns (id_a, id_b, name_a, name_b, dist), id_a < id_b.

    Blocking is what makes fuzzy matching feasible at scale: the
    quadratic self-join runs only WITHIN blocks (one equi-join shuffle
    on the block key), so cost is sum(block_size^2), not corpus^2 —
    the same fan-out-bounding idea as LSH banding. Default block:
    string length + first character. levenshtein() runs JVM-side per
    candidate pair; integer distances make the operator exactly
    oracle-checkable.

    ``max_block`` is the hot-block guard (the record-linkage "block
    size cap"): the default key is coarse enough that a real names
    corpus puts millions of rows in one block ("length 5, starts J"),
    and sum(block_size^2) is then quadratic in the hottest block. Rows
    in blocks larger than the cap are DROPPED before the self-join
    (block counts via a map-side-combining groupBy, the jaccard
    max_df pattern) — at that size the block key carries no blocking
    signal and the caller should block on a finer key instead. Off by
    default: capping removes pairs, so it must be an explicit choice."""
    if block is None:
        block = F.concat(
            F.length(F.col(col)).cast("string"), F.lit("|"), F.substring(F.col(col), 1, 1)
        )
    side = df.select(
        F.col(id_col).alias("_id"), F.col(col).alias("_name"), block.alias("_block")
    )
    if max_block:
        hot = (
            side.groupBy("_block")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_block)
            .select("_block")
        )
        side = side.join(hot, "_block", "left_anti")
    a, b = side.alias("a"), side.alias("b")
    return (
        a.join(
            b,
            (F.col("a._block") == F.col("b._block"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._name").alias("name_a"),
            F.col("b._name").alias("name_b"),
            F.levenshtein(F.col("a._name"), F.col("b._name")).alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def drop_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """End-to-end near-dup REMOVAL: the full curation pipeline a user
    actually runs — candidate pairs (shingle equi-join, exact Jaccard
    >= threshold), duplicate clusters (iterative connected components),
    keep ONE representative per cluster (the min id), return the
    surviving rows of ``df`` with all columns.

    Exactly one survivor per cluster; singletons always survive.  All
    pieces are the scale-shaped operators above (:func:`jaccard_pairs`
    never materializes non-candidate pairs; components iterate with
    bounded lineage via localCheckpoint) — this just composes them and
    anti-joins the losers, so the heavy shuffles are the shingle join
    and the component iterations, both already bounded.
    """
    from yaetos_spark.operators.graph import dedup_clusters

    pairs = jaccard_pairs(df, text_col, id_col, n, threshold, max_df).select("id1", "id2")
    clusters = dedup_clusters(df, pairs, id_col)
    losers = clusters.where(F.col("cluster_id") != F.col(id_col)).select(id_col)
    return df.join(losers, id_col, "left_anti")


def _band_rows(signatures: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, sig) rows from a signature frame — the LSH bucket
    keys, derivable from signatures alone (no text re-shingling)."""
    r = num_hashes // bands
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *[F.col(f"mh{b * r + j}") for j in range(r)]).alias("sig"),
        )
        for b in range(bands)
    ]
    return signatures.select("id", F.explode(F.array(*structs)).alias("bs")).select(
        "id", "bs.band", "bs.sig"
    )


def filter_against_signatures(
    within: DataFrame,
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Drop rows of ``within`` whose minhash signature estimates
    Jaccard >= ``threshold`` against ANY signature in ``old_sigs``
    (banded-LSH candidates first, so only bucket-colliding pairs are
    estimated). The cross-corpus half of incremental dedup
    (``streaming/dedup.py::dedup_against_index``) and of the
    ``incremental_dedup_survivors`` corpus query: every join is an
    equi-join on band buckets or ids; nothing here touches document
    text."""
    cand = (
        _band_rows(new_sigs, num_hashes, bands)
        .join(
            # merge hint: band rows are index_docs x bands — data-
            # proportional, Generate-anchored estimate (see
            # lsh_candidates) — never a broadcast build
            _band_rows(old_sigs, num_hashes, bands)
            .withColumnRenamed("id", "old_id")
            .hint("merge"),
            ["band", "sig"],
        )
        .select("id", "old_id")
        .distinct()
    )
    ns = new_sigs.select(
        F.col("id").alias("_nid"),
        *[F.col(f"mh{i}").alias(f"nmh{i}") for i in range(num_hashes)],
    )
    os_ = old_sigs.select(
        F.col("id").alias("_oid"),
        *[F.col(f"mh{i}").alias(f"omh{i}") for i in range(num_hashes)],
    )
    matches = sum(
        (F.col(f"nmh{i}") == F.col(f"omh{i}")).cast("int")
        for i in range(num_hashes)
    )
    # merge hints: both signature frames are ONE ROW PER DOC (the old
    # side is the whole index) and their estimates are anchored to the
    # exploded shingles' Generate child — Catalyst would broadcast the
    # index at ANY corpus size. Shuffle on the id keys instead.
    dup_new_ids = (
        cand.join(ns.hint("merge"), cand["id"] == ns["_nid"])
        .join(os_.hint("merge"), cand["old_id"] == os_["_oid"])
        .select(F.col("id"), (matches / num_hashes).alias("est_j"))
        .where(F.col("est_j") >= threshold)
        .select("id")
        .distinct()
    )
    return within.join(
        dup_new_ids.withColumnRenamed("id", id_col), id_col, "left_anti"
    )


# -- exact duplicated substrings (ExactSubstr) -------------------------


def duplicated_spans(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    cross_doc_only: bool = False,
) -> DataFrame:
    """ExactSubstr duplicated-span detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 §4.1): find, per document, every maximal token
    span all of whose length-``k`` windows occur at least
    ``min_count`` times in the corpus.

    The paper builds one giant suffix array; the Spark-first shape is
    the standard distributed equivalent: every doc emits its k-token
    window hashes WITH positions (one narrow explode), a corpus-wide
    hash-aggregate finds the windows occurring >= min_count times, the
    duplicated window positions join back (equi-join on the 64-bit
    hash), and overlapping/adjacent windows merge into maximal spans
    with a per-document lag window + cumulative-sum span id — interval
    merge, the sessionization trick.  Same result contract as the
    suffix-array scan (up to xxhash64 collisions: at 10^9 corpus
    windows the birthday bound puts ~3% probability on even ONE false
    64-bit collision, i.e. one spurious k-token span — acceptable for
    dedup, noted here for honesty).

    ``cross_doc_only=True`` restricts to windows seen in >= 2 DISTINCT
    docs, via the zero-extra-shuffle min/max-id trick (an intra-doc
    repeat has min == max).

    Returns ``(id_col, span_start, span_end, n_windows)`` with
    token-position half-open spans [span_start, span_end) — feed to
    :func:`remove_duplicated_spans` to rewrite the corpus.

    Scale: two shuffles (hash-aggregate fit, join back) + one per-doc
    window; the duplicated-hash frame is data-dependent so NOT
    broadcast-hinted — AQE sizes it (on boilerplate-free corpora it is
    tiny; on crawl corpora it is exactly the frame you cannot afford
    to broadcast).  No driver collect anywhere.
    """
    from yaetos_spark.operators._guards import reserve_helper_cols
    from pyspark.sql import Window

    reserve_helper_cols(
        "duplicated_spans",
        ("_toks", "_pos", "_h", "_c", "_id_min", "_id_max", "_new_span", "_span_id"),
        df,
    )
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    n_win = F.size("_toks") - k + 1
    win_rows = (
        toked.filter(n_win >= 1)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n_win),
                    lambda i: F.struct(
                        (i - 1).alias("_pos"),
                        F.xxhash64(F.concat_ws(" ", F.slice("_toks", i, k))).alias("_h"),
                    ),
                )
            ).alias("_w"),
        )
        .select(id_col, "_w._pos", "_w._h")
        .persist()  # consumed by the fit and the join-back
    )
    agg = [F.count(F.lit(1)).alias("_c")]
    if cross_doc_only:
        agg += [F.min(id_col).alias("_id_min"), F.max(id_col).alias("_id_max")]
    dup = win_rows.groupBy("_h").agg(*agg).filter(F.col("_c") >= min_count)
    if cross_doc_only:
        dup = dup.filter(F.col("_id_min") != F.col("_id_max"))
    hits = win_rows.join(dup.select("_h"), "_h")
    w = Window.partitionBy(id_col).orderBy("_pos")
    spans = (
        hits.withColumn(
            "_new_span",
            F.when(
                F.col("_pos") - F.lag("_pos").over(w) <= k, F.lit(0)
            ).otherwise(F.lit(1)),  # first row: lag NULL -> otherwise -> 1
        )
        .withColumn("_span_id", F.sum("_new_span").over(w))
        .groupBy(id_col, "_span_id")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + k).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )
    return spans


def remove_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite each document with its duplicated spans removed (the
    ExactSubstr paper's dedup action): drop every token whose position
    falls inside a span from :func:`duplicated_spans`, keep the rest
    in order.  Documents with no spans pass through byte-identical;
    a fully-duplicated document becomes the empty string (kept, so
    downstream length filters can drop it explicitly — same
    philosophy as the NULL-text shingle contract).

    Returns the input frame with ``text_col`` rewritten and an
    ``n_removed_tokens`` count.

    Scale: covered positions come from exploding span ranges (output
    is proportional to the duplicated volume, i.e. the work is sized
    by what gets REMOVED), the kept tokens re-assemble with one
    per-doc sort-free aggregate (array_sort over collected (pos, tok)
    structs — documents are bounded, so the per-group array is too).
    """
    from yaetos_spark.operators._guards import reserve_helper_cols

    reserve_helper_cols(
        "remove_duplicated_spans",
        ("_toks", "_pos", "_tok", "_covered", "_kept", "_n_orig"),
        df,
    )
    toked = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(
        id_col,
        F.coalesce("_toks", F.array().cast("array<string>")).alias("_toks"),
    )
    # original token count rides its OWN per-doc frame: deriving it
    # from the kept rows loses it when a fully-duplicated doc has
    # every token removed (no kept rows -> no group -> count silently 0)
    n_orig = toked.select(id_col, F.size("_toks").alias("_n_orig"))
    tok_rows = toked.select(
        id_col,
        F.posexplode_outer("_toks").alias("_pos", "_tok"),
    )
    covered = spans.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end") - 1)
        ).alias("_pos"),
    ).distinct()
    kept = tok_rows.join(covered, [id_col, "_pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_pos").isNotNull(),
                            F.struct(F.col("_pos"), F.col("_tok")),
                        )
                    )
                ),
                lambda s: s["_tok"],
            ),
        ).alias(text_col),
        F.count("_tok").alias("_kept"),
    )
    others = [c for c in df.columns if c not in (text_col,)]
    return (
        df.select(*others)
        .join(rebuilt, id_col, "left")
        .join(n_orig, id_col, "left")
        .select(
            *others,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            (F.coalesce("_n_orig", F.lit(0)) - F.coalesce("_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed_tokens"),
        )
    )
