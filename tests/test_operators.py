import contextlib
import gc
import math
import threading

from pyspark.sql import functions as F

from yaetos_spark.operators import curation as CU
from yaetos_spark.operators import dedup as D
from yaetos_spark.operators import multimodal as MM
from yaetos_spark.operators import similarity as S
from yaetos_spark.operators import text as TX
from yaetos_spark.operators import windows as W


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely here now"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        ],
        "doc_id bigint, text string",
    )


# -- dedup ------------------------------------------------------------


def test_exact_dup_groups(spark):
    groups = D.exact_dup_groups(_docs(spark)).collect()
    assert len(groups) == 1
    assert groups[0].n_dups == 2 and groups[0].keep_id == 1


def test_dedup_exact_keeps_min_id(spark):
    out = D.dedup_exact(_docs(spark))
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 3]


def test_jaccard_pairs_finds_near_dup(spark):
    pairs = {(r.id1, r.id2): r.jaccard for r in D.jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert all(k[0] != 3 and k[1] != 3 for k in pairs)


def test_minhash_lsh_finds_near_dup(spark):
    pairs = {(r.id1, r.id2) for r in D.minhash_lsh_pairs(_docs(spark), threshold=0.5).collect()}
    assert (1, 4) in pairs  # identical docs always collide in every band


def test_minhash_lsh_pairs_max_df_matches_exact_jaccard(spark):
    """The max_df path (hot-shingle frame computed ONCE, shared by the
    signature rows and the verification arrays): every pair minhash
    emits must carry exactly the Jaccard that the exact shingle
    equi-join computes over the SAME filtered shingle sets — if the
    two branches disagreed on the hot set, the values would drift."""
    docs = spark.createDataFrame(
        [
            # "the end of this doc" boilerplate shared by ALL docs: with
            # max_df=3 its shingles are hot and must be dropped from
            # both the signatures and the verification arrays
            (1, "alpha beta gamma delta the end of this doc"),
            (2, "alpha beta gamma delta the end of this doc"),
            (3, "unrelated words appear here the end of this doc"),
            (4, "alpha beta gamma epsilon the end of this doc"),
        ],
        "doc_id bigint, text string",
    )
    exact = {
        (r.id1, r.id2): r.jaccard
        for r in D.jaccard_pairs(docs, n=3, threshold=0.2, max_df=3).collect()
    }
    lsh = {
        (r.id1, r.id2): r.jaccard
        for r in D.minhash_lsh_pairs(docs, n=3, threshold=0.2, max_df=3).collect()
    }
    # banding may miss candidates but never invents or mis-scores one
    assert lsh and all(exact.get(p) == j for p, j in lsh.items())
    # identical post-filter docs always collide in every band
    assert lsh.get((1, 2)) == 1.0
    # without the guard, the boilerplate shingles alone push 1-3 over
    # the threshold; with it they share nothing -> no 1-3 pair
    assert (1, 3) not in lsh


def test_minhash_signature_determinism(spark):
    s1 = D.minhash_signatures(_docs(spark)).collect()
    s2 = D.minhash_signatures(_docs(spark)).collect()
    assert sorted(map(str, s1)) == sorted(map(str, s2))


@contextlib.contextmanager
def _gateway_calls(spark):
    """Count py4j round trips made by this thread, by wrapping the
    session's gateway client ``send_command`` (as perfbench's tracer
    does); yields a one-element list holding the count."""
    client = spark.sparkContext._gateway._gateway_client
    orig, me, n = client.send_command, threading.get_ident(), [0]

    def counted(*args, **kwargs):
        if threading.get_ident() == me:
            n[0] += 1
        return orig(*args, **kwargs)

    client.send_command = counted
    try:
        yield n
    finally:
        del client.send_command


def test_fused_expression_families_gateway_ceilings(spark):
    """simhash's 32 bit counts and 32-term vote sum, and the K minhash
    mins, are built as one SQL string per output column. Built through
    the Column API (PySpark captures the call site on every F.* call)
    the same builds took about 4,900 and 1,498 gateway calls.

    These are ceilings, not an exact per-build count: the count of one
    build varies with Python GC timing (finalized py4j objects are
    released over the gateway), e.g. 303 against 507 for the same
    simhash build in one session."""
    docs = _docs(spark)
    gc.collect()
    with _gateway_calls(spark) as n:
        D.simhash(docs)
    assert n[0] <= 600, n[0]
    gc.collect()
    with _gateway_calls(spark) as n:
        D.minhash_signatures(docs, num_hashes=16)
    assert n[0] <= 500, n[0]


def test_simhash_identical_docs_equal(spark):
    sim = {r.id: r.simhash for r in D.simhash(_docs(spark)).collect()}
    assert sim[1] == sim[4]
    assert 0 <= sim[1] < 2**32


def test_simhash_pairs_hamming(spark):
    sim = D.simhash(_docs(spark))
    pairs = {(r.id1, r.id2): r.hamming for r in D.simhash_pairs(sim, max_hamming=3).collect()}
    assert pairs.get((1, 4)) == 0


def test_simhash_pairs_rejects_lossy_banding(spark):
    """max_hamming >= bands breaks the pigeonhole guarantee (a pair can
    differ on every band and never bucket-collide) — the operator must
    raise instead of silently losing recall; same for bits not
    divisible by bands (orphan bits outside every band key)."""
    import pytest

    sim = D.simhash(_docs(spark))
    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_pairs(sim, max_hamming=5, bits=32, bands=4)
    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_pairs(sim, max_hamming=4, bits=32, bands=4)
    with pytest.raises(ValueError, match="divisible"):
        D.simhash_pairs(sim, max_hamming=3, bits=32, bands=5)
    # the lossless boundary still works
    assert D.simhash_pairs(sim, max_hamming=3, bits=32, bands=4).columns == [
        "id1", "id2", "hamming",
    ]


def test_lsh_candidates_rejects_orphan_hashes(spark):
    """num_hashes not divisible by bands leaves the remainder hashes in
    no band, silently lowering candidate recall below the (bands, r)
    S-curve the caller computed — the operator must raise (the
    simhash_pairs posture)."""
    import pytest

    sigs = D.minhash_signatures(_docs(spark), num_hashes=8)
    with pytest.raises(ValueError, match="divisible"):
        D.lsh_candidates(sigs, num_hashes=8, bands=3)
    # the exact-division configurations still work
    assert D.lsh_candidates(sigs, num_hashes=8, bands=4).columns == ["id1", "id2"]


# -- curation ---------------------------------------------------------


def test_ngram_contamination(spark):
    eval_df = spark.createDataFrame([(100, "alpha beta gamma")], "doc_id bigint, text string")
    train = spark.createDataFrame(
        [
            (1, "alpha beta delta epsilon"),  # 1 of 3 bigrams contaminated
            (2, "zeta eta theta iota"),  # clean -> not in output
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in CU.ngram_contamination(train, eval_df, n=2).collect()}
    assert set(rows) == {1}
    assert rows[1].n_ngrams == 3 and rows[1].n_hits == 1
    assert abs(rows[1].contamination_ratio - 1 / 3) < 1e-12


def test_deterministic_sample_reproducible(spark):
    df = spark.createDataFrame(
        [(i, "g" + str(i % 2)) for i in range(40)], "doc_id bigint, grp string"
    )
    s1 = {(r.grp, r.doc_id) for r in CU.deterministic_sample(df, ["grp"], 3).collect()}
    s2 = {(r.grp, r.doc_id) for r in CU.deterministic_sample(df, ["grp"], 3).collect()}
    assert s1 == s2 and len(s1) == 6
    assert len({g for g, _ in s1}) == 2


def test_pack_sequences_two_phase_equals_single_window(spark):
    """The distributed prefix sum must produce bit-identical bins to
    the single-window formulation at any sub_buckets (including 1,
    where every shard degenerates to one bucket)."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3), "w " * (1 + i % 17)) for i in range(300)],
        "doc_id bigint, source string, text string",
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = df.select(
        "source", "doc_id", F.size(CU._tokens("text")).alias("n_tokens")
    )
    naive = {
        (r.source, r.bin_id): (r.n_docs, r.total_tokens)
        for r in toks.withColumn(
            "bin_id", F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / 40)
        )
        .groupBy("source", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
        .collect()
    }
    for b in (1, 4, 32):
        got = {
            (r.source, r.bin_id): (r.n_docs, r.total_tokens)
            for r in CU.pack_sequences(df, 40, sub_buckets=b).collect()
        }
        assert got == naive, f"sub_buckets={b}"


def test_deterministic_sample_two_phase_equals_single_window(spark):
    """The sub-bucketed two-phase top-n must select the SAME rows with
    the SAME ranks as the textbook single-window formulation, at any
    sub_buckets setting (including 1, which degenerates to it)."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, "g" + str(i % 3)) for i in range(200)], "doc_id bigint, grp string"
    )
    w = Window.partitionBy("grp").orderBy(F.md5(F.col("doc_id").cast("string")))
    naive = {
        (r.grp, r.doc_id, r.sample_rank)
        for r in df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= 5)
        .collect()
    }
    for b in (1, 4, 64):
        got = {
            (r.grp, r.doc_id, r.sample_rank)
            for r in CU.deterministic_sample(df, ["grp"], 5, sub_buckets=b).collect()
        }
        assert got == naive, f"sub_buckets={b}"


def test_repetition_profile(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam eggs"), (2, "one"), (3, "a b a b")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in CU.repetition_profile(df).collect()}
    assert rows[1].n_words == 4 and abs(rows[1].top_word_frac - 0.75) < 1e-12
    assert rows[2].dup_bigram_frac is None  # single word -> no bigrams
    # "a b","b a","a b": 3 bigrams, 2 distinct -> 1/3 duplicated
    assert abs(rows[3].dup_bigram_frac - 1 / 3) < 1e-12


def test_pack_sequences_respects_order_and_budget(spark):
    df = spark.createDataFrame(
        [(i, "s", " ".join(["w"] * 60)) for i in range(10)],
        "doc_id bigint, source string, text string",
    )
    # doc i starts at token 60*i; bin = floor(60i/100) -> 0,0,1,1,2,3,3,4,4,5
    rows = {r.bin_id: (r.n_docs, r.total_tokens) for r in CU.pack_sequences(df, 100).collect()}
    assert rows == {0: (2, 120), 1: (2, 120), 2: (1, 60), 3: (2, 120), 4: (2, 120), 5: (1, 60)}


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@x.io or call +1 555 123-4567 from 192.168.0.1 ok")],
        "doc_id bigint, text string",
    )
    row = CU.redact_pii(df).collect()[0]
    assert (row.n_email, row.n_ip, row.n_phone) == (1, 1, 1)
    assert row.redacted == "mail [EMAIL] or call [PHONE] from [IP] ok"


def test_redact_pii_ip_not_double_counted_as_phone(spark):
    df = spark.createDataFrame([(1, "just 10.0.3.21 here")], "doc_id bigint, text string")
    row = CU.redact_pii(df).collect()[0]
    assert (row.n_email, row.n_ip, row.n_phone) == (0, 1, 0)


def test_bernoulli_sample_deterministic_and_partition_invariant(spark):
    df = spark.createDataFrame([(i,) for i in range(400)], "doc_id bigint")
    s1 = {r.doc_id for r in CU.bernoulli_sample(df, 0.3).collect()}
    s2 = {r.doc_id for r in CU.bernoulli_sample(df.repartition(7), 0.3).collect()}
    assert s1 == s2  # unlike df.sample(), layout doesn't change the subset
    assert 0.2 < len(s1) / 400 < 0.4


def test_vocab_coverage(spark):
    df = spark.createDataFrame(
        [(1, "a a a b b c")], "doc_id bigint, text string"
    )
    rows = {r.rank: r for r in CU.vocab_coverage(df, top_n=3).collect()}
    assert [rows[i].word for i in (1, 2, 3)] == ["a", "b", "c"]
    assert abs(rows[1].cum_share - 0.5) < 1e-12
    assert abs(rows[3].cum_share - 1.0) < 1e-12


# -- text -------------------------------------------------------------


def test_winnow_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of length
    >= k + window - 1 share at least one fingerprint; identical docs
    share all of them."""
    fps = TX.winnow_fingerprints(_docs(spark), k=8, window=4)
    by_doc = {
        r.doc_id: set(r.fps)
        for r in fps.groupBy("doc_id").agg(F.collect_set("fingerprint").alias("fps")).collect()
    }
    assert by_doc[1] == by_doc[4]  # identical docs -> identical fingerprint sets
    assert by_doc[1] & by_doc[2]  # long shared prefix -> shared fingerprint
    assert not (by_doc[1] & by_doc[3])  # unrelated docs -> disjoint


def test_winnow_overlap_pairs(spark):
    fps = TX.winnow_fingerprints(_docs(spark), k=8, window=4)
    pairs = {(r.id_a, r.id_b): r.n_shared for r in TX.winnow_overlap_pairs(fps, min_shared=1).collect()}
    assert (1, 4) in pairs
    assert (1, 2) in pairs and pairs[(1, 2)] <= pairs[(1, 4)]
    assert all(3 not in p for p in pairs)


def test_winnow_overlap_hot_fingerprint_guard(spark):
    # a fingerprint present in > max_doc_freq docs contributes NO pairs
    # (boilerplate guard); rare fingerprints still pair up
    fps = spark.createDataFrame(
        [(d, 111) for d in range(1, 6)] + [(1, 222), (2, 222)],
        "doc_id bigint, fingerprint bigint",
    )
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in TX.winnow_overlap_pairs(fps, min_shared=1, max_doc_freq=4).collect()
    }
    assert pairs == {(1, 2): 1}  # 111 (5 docs > 4) dropped; 222 kept


def test_winnow_short_doc_single_window(spark):
    # fewer than `window` k-grams -> exactly one fingerprint (min of all)
    df = spark.createDataFrame([(1, "abcdefghi")], "doc_id bigint, text string")
    rows = TX.winnow_fingerprints(df, k=8, window=4).collect()
    assert len(rows) == 1
    # and below k chars -> no fingerprints at all
    tiny = spark.createDataFrame([(1, "abc")], "doc_id bigint, text string")
    assert TX.winnow_fingerprints(tiny, k=8, window=4).count() == 0


def test_text_profile(spark):
    df = spark.createDataFrame([(1, "The cat and the dog!")], "doc_id bigint, text string")
    row = TX.text_profile(df).collect()[0]
    assert row.n_words == 5
    assert row.n_chars == 20
    assert row.lang_pred == "en"
    assert row.punct_ratio > 0
    assert 0 <= row.quality_score <= 1
    assert len(row.fingerprint) == 32


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "le chat et la maison des amis"),
            (2, "der hund und die katze das haus"),
            (3, "xyz qrs tuv"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.pred for r in df.select("doc_id", TX.lang_id("text").alias("pred")).collect()}
    assert out[1] == "fr" and out[2] == "de" and out[3] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "abcd abcdefgh xy")], "doc_id bigint, text string")
    row = df.select(
        TX.word_count("text").alias("wc"), TX.bpe_ish_token_count("text").alias("tc")
    ).collect()[0]
    assert row.wc == 3
    assert row.tc == 1 + 2 + 1  # ceil(4/4)+ceil(8/4)+ceil(2/4)


# -- windows ----------------------------------------------------------


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),
            (1, "2024-01-01 12:00:00"),  # > 30 min gap → new session
            (2, "2024-01-01 10:00:00"),
        ],
        "user_id bigint, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = W.sessionize(df, "user_id", "ts", gap_seconds=1800).collect()
    sessions = {(r.user_id, str(r.ts)): r.session_seq for r in out}
    assert sessions[(1, "2024-01-01 10:00:00")] == 1
    assert sessions[(1, "2024-01-01 10:10:00")] == 1
    assert sessions[(1, "2024-01-01 12:00:00")] == 2
    assert sessions[(2, "2024-01-01 10:00:00")] == 1


def test_session_bounds(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:30:00")], "user_id bigint, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = W.session_bounds(df, "user_id", "ts").collect()[0]
    assert row.delta_sec == 1800 and row.n_events == 2


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)],
        "g string, id bigint, v double",
    )
    out = W.topk_per_group(df, ["g"], "v", k=2, tie_break="id").collect()
    got = {(r.g, r.id): r.rank for r in out}
    assert got == {("a", 2): 1, ("a", 3): 2, ("b", 4): 1}


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, 100, "2024-01-01 10:05:00"), (2, 100, "2024-01-01 10:20:00"), (3, 200, "2024-01-01 09:00:00")],
        "event_id bigint, user_id bigint, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(100, "2024-01-01 10:00:00", 77), (100, "2024-01-01 10:10:00", 88), (200, "2024-01-01 11:00:00", 99)],
        "user_id bigint, click_ts string, click_id bigint",
    ).withColumn("click_ts", F.col("click_ts").cast("timestamp"))
    out = W.asof_join(left, right, "user_id", "ts", "click_ts", right_cols=["click_id"])
    got = {r.event_id: r.click_id for r in out.collect()}
    assert got == {1: 77, 2: 88, 3: None}


def test_asof_join_carries_columns_from_same_row(spark):
    """When the as-of matched right row has a NULL in one column, that
    NULL must be kept — not back-filled from an older right row."""
    left = spark.createDataFrame(
        [(1, 100, "2024-01-01 10:15:00")], "event_id bigint, user_id bigint, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (100, "2024-01-01 10:00:00", 77, "old"),
            (100, "2024-01-01 10:10:00", None, "new"),  # as-of row, NULL id
        ],
        "user_id bigint, click_ts string, click_id bigint, tag string",
    ).withColumn("click_ts", F.col("click_ts").cast("timestamp"))
    out = W.asof_join(left, right, "user_id", "ts", "click_ts", right_cols=["click_id", "tag"]).collect()[0]
    assert out.tag == "new"
    assert out.click_id is None  # NOT 77 from the older row


def test_global_rank_matches_row_number(spark):
    df = spark.createDataFrame([(i, float((i * 37) % 101)) for i in range(500)], "id int, v double")
    got = {r.id: r.global_rank for r in W.global_rank(df, "v", num_partitions=8).collect()}
    want = {
        r.id: r.rn
        for r in df.selectExpr("id", "row_number() OVER (ORDER BY v) AS rn").collect()
    }
    assert got == want


def test_distributed_ntile_matches_builtin(spark):
    # 503 rows: ntile(4) sizes are 126,126,126,125 — exercises the
    # uneven-bucket arithmetic; duplicate values exercise tie handling
    df = spark.createDataFrame([(i, float((i * 7) % 50)) for i in range(503)], "id int, v double")
    mine = (
        W.distributed_ntile(df, "v", 4, num_partitions=8)
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    builtin = (
        df.selectExpr("v", "CAST(ntile(4) OVER (ORDER BY v) AS INT) AS band")
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    assert sorted(map(tuple, mine.collect())) == sorted(map(tuple, builtin.collect()))


def test_distributed_ntile_multi_matches_sequential(spark):
    """The fused multi-metric ntile must equal chaining the
    single-metric version per spec — row-for-row (unique sort keys
    here, so band assignment is fully deterministic)."""
    rows = [(i, float((i * 37) % 503) + i * 1e-4, float((i * 91) % 211) + i * 1e-4)
            for i in range(503)]
    df = spark.createDataFrame(rows, "id int, a double, b double")
    specs = [("a", 4, "a_band"), ("b", 5, "b_band")]
    fused = {r.id: (r.a_band, r.b_band)
             for r in W.distributed_ntile_multi(df, specs, num_partitions=8).collect()}
    seq = W.distributed_ntile(df, "a", 4, band_name="a_band", num_partitions=8)
    seq = W.distributed_ntile(seq, "b", 5, band_name="b_band", num_partitions=8)
    sequential = {r.id: (r.a_band, r.b_band) for r in seq.collect()}
    assert fused == sequential
    # and equals the built-in ntile on unique keys
    builtin = {
        r.id: (r.a_band, r.b_band)
        for r in df.selectExpr(
            "id",
            "CAST(ntile(4) OVER (ORDER BY a) AS INT) AS a_band",
            "CAST(ntile(5) OVER (ORDER BY b) AS INT) AS b_band",
        ).collect()
    }
    assert fused == builtin


# -- similarity -------------------------------------------------------


def _emb(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [-1.0, 0.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )


def test_cosine_topk(spark):
    out = S.cosine_topk(_emb(spark), _emb(spark).filter("vec_id = 1"), k=2)
    rows = sorted((r.rank, r.neighbor_id) for r in out.collect())
    assert rows[0] == (1, 2)  # closest is vec 2
    assert len(rows) == 2


def test_embedding_near_dup(spark):
    pairs = {(r.id1, r.id2) for r in S.embedding_near_dup_pairs(_emb(spark), threshold=0.9).collect()}
    assert pairs == {(1, 2)}


def test_lsh_near_dup_recall(spark):
    pairs = {(r.id1, r.id2) for r in S.lsh_near_dup_pairs(_emb(spark), dim=3, threshold=0.9, n_planes=4, n_tables=4).collect()}
    # multi-table LSH must recover the one true near-dup pair
    assert (1, 2) in pairs


def test_lsh_bucket_arrays_match_per_table_ids(spark):
    """lsh_bucket_arrays element t must be value-identical to
    lsh_bucket_ids(seed=seed0+t), and the derived candidate predicate
    (∃t: buckets agree) must reproduce lsh_near_dup_pairs' candidate
    rule — the invariant the r12 lsh_ann_pairs rewrite rests on."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    n_tables, n_planes = 4, 4
    arr = {
        r.vec_id: list(r.buckets)
        for r in S.lsh_bucket_arrays(
            emb, dim=3, n_planes=n_planes, n_tables=n_tables
        ).collect()
    }
    for t in range(n_tables):
        per_table = {
            r.vec_id: r.bucket
            for r in S.lsh_bucket_ids(emb, dim=3, n_planes=n_planes, seed=42 + t).collect()
        }
        for vid, buckets in arr.items():
            assert buckets[t] == per_table[vid], (t, vid)
    # candidate predicate equivalence: pairs sharing >= 1 per-table
    # bucket == the union-of-tables equi-join candidate set
    ids = sorted(arr)
    pred_pairs = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if any(arr[a][t] == arr[b][t] for t in range(n_tables))
    }
    cands = set()
    for t in range(n_tables):
        bk = S.lsh_bucket_ids(emb, dim=3, n_planes=n_planes, seed=42 + t)
        a = bk.select(F.col("vec_id").alias("id1"), "bucket")
        b = bk.select(F.col("vec_id").alias("id2"), "bucket")
        cands |= {
            (r.id1, r.id2)
            for r in a.join(b, "bucket").where("id1 < id2").select("id1", "id2").collect()
        }
    assert pred_pairs == cands


def test_semantic_dedup_exact_matches_reference(spark):
    """Exact variant (n_clusters=1): survivors are exactly the ids
    with no smaller-id neighbor at cosine >= threshold (the NOT EXISTS
    oracle rule). Vec 2 near-dups vec 1 (cos ~0.995) -> dropped; the
    rest are mutually distant -> kept."""
    surv = {r.vec_id for r in S.semantic_dedup(_emb(spark), threshold=0.9).collect()}
    assert surv == {1, 3, 4}


def test_semantic_dedup_clustered_parity_and_superset(spark):
    """SemDeDup scale path: (a) on well-separated clusters, the
    clustered result EQUALS the exact one (no near pair straddles
    clusters); (b) on arbitrary data, exact survivors are always a
    SUBSET of clustered survivors — clustering can only MISS drop
    evidence, never invent it."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    # 3 well-separated direction cones, each with a planted near-dup
    bases = np.eye(3)
    vid = 0
    for b in bases:
        for i in range(6):
            v = b + rng.normal(0, 0.02, 3)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    exact = {r.vec_id for r in S.semantic_dedup(emb, threshold=0.995).collect()}
    clustered = {
        r.vec_id
        for r in S.semantic_dedup(
            emb, threshold=0.995, n_clusters=3, max_iter=10
        ).collect()
    }
    assert exact <= clustered
    # cones are ~orthogonal: k-means with k=3 separates them, so no
    # cross-cluster near pair exists and the two variants agree
    assert exact == clustered

    # (b) on adversarial clustering (k=5 over 3 cones) the superset
    # invariant still holds
    clustered5 = {
        r.vec_id
        for r in S.semantic_dedup(
            emb, threshold=0.995, n_clusters=5, max_iter=5
        ).collect()
    }
    assert exact <= clustered5


def test_semantic_dedup_hot_cluster_guard(spark):
    import pytest

    emb = spark.range(40).selectExpr(
        "id AS vec_id", "array(1.0, CAST(id AS FLOAT) / 1000.0) AS embedding"
    )
    with pytest.raises(ValueError, match="n_clusters"):
        S.semantic_dedup(emb, n_clusters=2, max_cluster_rows=10)


def test_brute_force_guard_raises_on_big_corpus(spark):
    """The brute-force paths must refuse to collect an over-sized
    corpus to the driver (pointer to the LSH scale path) instead of
    OOMing it."""
    import pytest

    big = spark.range(30).selectExpr("id AS vec_id", "array(CAST(id AS FLOAT)) AS embedding")
    with pytest.raises(ValueError, match="lsh_near_dup_pairs"):
        S._collect_matrix(big, "vec_id", "embedding", max_rows=10)


def test_ivf_assign(spark):
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    out = {r.vec_id: r.ivf_cell for r in S.ivf_assign(_emb(spark), cents).collect()}
    assert out[1] == 0 and out[3] == 1


def test_ivf_assign_large_codebook_uses_bounded_plan(spark):
    """Above IVF_EXPR_MAX_CELLS the assignment must switch to the
    broadcast-matrix Arrow path: the plan stays O(1) nodes instead of
    an O(n_cells × dim) literal tree, and both paths agree cell-for-
    cell (same argmax + first-max tie rule)."""
    import numpy as np

    rng = np.random.default_rng(3)
    n_cells, dim = 2048, 8
    cents = rng.standard_normal((n_cells, dim)).tolist()
    rows = [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    big = S.ivf_assign(emb, cents)
    # bounded plan: a 2048×8 literal tree would be ~49k nodes / MBs of
    # plan text; the Arrow path's explain output stays tiny
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 20_000
    assert "ivf_cell" in big.columns and big.schema["ivf_cell"].simpleString().endswith("int")

    got = {r.vec_id: r.ivf_cell for r in big.collect()}
    # numpy reference: argmax of dot against normalized centroids
    cmat = np.asarray(cents)
    cmat = cmat / np.sqrt((cmat * cmat).sum(axis=1))[:, None]
    for vid, vec in rows:
        v32 = np.asarray(vec, dtype=np.float32).astype(np.float64)
        assert got[vid] == int(np.argmax(cmat @ v32)), vid

    # and the two paths agree on a codebook small enough to run both
    # (the expr path StackOverflows plan conversion around ~300 nested
    # whens on Spark 4 — exactly why IVF_EXPR_MAX_CELLS caps it at 256)
    small = cents[:200]
    a = {r.vec_id: r.ivf_cell for r in S._ivf_assign_expr(emb, small, "embedding").collect()}
    b = {r.vec_id: r.ivf_cell for r in S._ivf_assign_arrow(emb, small, "embedding").collect()}
    assert a == b


# -- multimodal -------------------------------------------------------


def test_fake_image_decode(spark):
    df = spark.createDataFrame(
        [(1, "image", bytearray(b"fakejpegbytes"), ("f.jpg", "image/jpeg", 13))],
        "media_id bigint, kind string, content binary, meta struct<uri:string,mime:string,size_bytes:bigint>",
    )
    out = MM.decode_image(df, fake=True).collect()
    assert len(out) == 1
    r = out[0]
    assert r.width >= 64 and r.height >= 64 and r.n_channels == 3
    assert len(r.sha256) == 64
    # deterministic: same bytes → same fake dims
    out2 = MM.decode_image(df, fake=True).collect()[0]
    assert (out2.width, out2.height) == (r.width, r.height)


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, "video", None, ("v.mp4", None, 90000))],
        "media_id bigint, kind string, content binary, meta struct<uri:string,mime:string,size_bytes:bigint>",
    )
    frames = MM.frame_sample_plan(df, every_n=30).collect()
    assert [r.frame_idx for r in frames] == [0, 30, 60]


def test_ivf_train_and_search(spark):
    """k-means-trained IVF cells + probe search recover the true
    nearest neighbor for clustered vectors."""
    import numpy as np

    from yaetos_spark.operators import similarity as S2

    rng = np.random.default_rng(7)
    rows = []
    for label, center in enumerate([np.array([10.0, 0, 0]), np.array([0, 10.0, 0])]):
        for i in range(20):
            v = center + rng.normal(0, 0.5, 3)
            rows.append((label * 100 + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = S2.train_ivf_centroids(emb, n_cells=2)
    assert len(cents) == 2 and len(cents[0]) == 3
    queries = emb.filter("vec_id = 0")
    got = S2.ivf_topk(emb, queries, cents, k=3, n_probe=1).collect()
    assert len(got) == 3
    # all neighbors of a cluster-0 query come from cluster 0
    assert all(r.neighbor_id < 100 for r in got)
    # and they match brute force exactly within the probed cell
    brute = S2.cosine_topk(emb.filter("vec_id < 100"), queries, k=3).collect()
    assert {(r.neighbor_id, r.rank) for r in got} == {(r.neighbor_id, r.rank) for r in brute}


# -- timeseries -------------------------------------------------------


def test_resample_locf(spark):
    from yaetos_spark.operators.timeseries import resample_locf

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:05", 10.0),
            (1, "2024-01-01 00:00:40", 11.0),  # same bucket: latest wins
            (1, "2024-01-01 00:03:10", 12.0),  # 2-bucket gap before this
            (2, "2024-01-01 00:00:59", 5.0),
        ],
        "user_id bigint, ts_s string, value double",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "value")
    rows = {
        (r.user_id, r.bucket_sec): (r.value_locf, r.is_observed)
        for r in resample_locf(df, interval_sec=60).collect()
    }
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    assert rows[(1, base)] == (11.0, True)
    assert rows[(1, base + 60)] == (11.0, False)  # gap carried forward
    assert rows[(1, base + 120)] == (11.0, False)
    assert rows[(1, base + 180)] == (12.0, True)
    assert rows[(2, base)] == (5.0, True)
    assert len(rows) == 5


def test_resample_locf_grid_cap_raises(spark):
    # a key whose span exceeds max_buckets_per_key must fail loudly
    # naming the key, not build a multi-GB sequence array (raise,
    # don't mislabel); keys under the cap are unaffected
    import pytest
    from pyspark.errors import SparkRuntimeException

    from yaetos_spark.operators.timeseries import resample_locf

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0), (1, "2024-01-03 00:00:00", 2.0)],
        "user_id bigint, ts_s string, value double",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "value")
    with pytest.raises(SparkRuntimeException, match="resample_locf: key 1 spans"):
        resample_locf(df, interval_sec=1, max_buckets_per_key=1000).count()
    assert resample_locf(df, interval_sec=21600).count() == 9


def test_blocked_fuzzy_pairs(spark):
    df = spark.createDataFrame(
        [(1, "smith"), (2, "smyth"), (3, "smith"), (4, "jones"), (5, "walsh")],
        "id bigint, name string",
    )
    pairs = {(r.id_a, r.id_b): r.dist for r in D.blocked_fuzzy_pairs(df, "name", "id").collect()}
    # same block (len 5, 's'): smith/smyth dist 1, smith/smith dist 0; walsh differs by >1
    assert pairs == {(1, 2): 1, (1, 3): 0, (2, 3): 1}
    # hot-block cap: the 3-row 's' block is dropped at max_block=2,
    # blocks at-or-under the cap are untouched
    capped = {
        (r.id_a, r.id_b)
        for r in D.blocked_fuzzy_pairs(df, "name", "id", max_block=2).collect()
    }
    assert capped == set()
    wider = spark.createDataFrame(
        [(1, "smith"), (2, "smyth"), (4, "jones"), (5, "janes")],
        "id bigint, name string",
    )
    capped2 = {
        (r.id_a, r.id_b)
        for r in D.blocked_fuzzy_pairs(wider, "name", "id", max_block=2).collect()
    }
    assert capped2 == {(1, 2), (4, 5)}


# -- stats ------------------------------------------------------------


def test_ols_per_group_matches_numpy(spark):
    import numpy as np

    from yaetos_spark.operators.stats import ols_per_group

    pts = [(1, 0, 10), (1, 1, 12), (1, 2, 14), (1, 3, 16),  # slope 2
           (2, 0, 5), (2, 10, 5),                             # slope 0
           (3, 7, 9)]                                         # 1 point -> NULL
    df = spark.createDataFrame(pts, "g int, x bigint, y bigint")
    out = {r.g: r for r in ols_per_group(df, ["g"], F.col("x"), F.col("y")).collect()}
    s, i = np.polyfit([0, 1, 2, 3], [10, 12, 14, 16], 1)
    assert abs(out[1].slope - s) < 1e-9 and abs(out[1].intercept - i) < 1e-9
    assert out[2].slope == 0.0 and out[2].intercept == 5.0
    assert out[3].slope is None


def test_ols_bit_identical_across_partitionings(spark):
    from yaetos_spark.operators.stats import ols_per_group

    rows = [(i % 3, i, (i * 17) % 101) for i in range(500)]
    df = spark.createDataFrame(rows, "g int, x bigint, y bigint")
    r1 = {r.g: (r.slope, r.intercept) for r in ols_per_group(df, ["g"], F.col("x"), F.col("y")).collect()}
    r2 = {r.g: (r.slope, r.intercept)
          for r in ols_per_group(df.repartition(17), ["g"], F.col("x"), F.col("y")).collect()}
    assert r1 == r2  # decimal sufficient statistics -> no shuffle-order noise


def test_ols_survives_epoch_scale_inputs(spark):
    # epoch-seconds x large cents overflows a LONG product; sums must
    # stay exact in decimal (regression: wraparound/ANSI failure)
    from yaetos_spark.operators.stats import ols_per_group

    base = 1_700_000_000
    rows = [(1, base + i, 6_000_000_000 + 2 * i) for i in range(10)]
    df = spark.createDataFrame(rows, "g int, x long, y long")
    out = ols_per_group(df, ["g"], F.col("x"), F.col("y")).collect()[0]
    assert abs(out.slope - 2.0) < 1e-6


def test_resample_locf_negative_epoch_buckets(spark):
    from yaetos_spark.operators.timeseries import resample_locf

    df = spark.createDataFrame(
        [(1, "1969-12-31 23:30:00", 7.0)], "user_id bigint, ts_s string, value double"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "value")
    row = resample_locf(df, interval_sec=3600).collect()[0]
    assert row.bucket_sec == -3600  # floor, not truncate-toward-zero


def test_empty_doc_has_no_phantom_token(spark):
    df = spark.createDataFrame([(1, "   "), (2, "a b")], "doc_id bigint, text string")
    rows = {r.doc_id: r for r in CU.repetition_profile(df).collect()}
    assert rows[1].n_words == 0 and rows[1].top_word_frac is None
    assert rows[2].n_words == 2
    vocab = {r.word for r in CU.vocab_coverage(df, top_n=5).collect()}
    assert "" not in vocab


def test_latest_snapshot_tie_break_deterministic(spark):
    from yaetos_spark.operators.merge import latest_snapshot

    rows = [(1, 5, f"v{i}") for i in range(8)]  # all tied on order col
    df = spark.createDataFrame(rows, "k int, seq int, payload string")
    picks = {
        latest_snapshot(df.repartition(p), ["k"], "seq").collect()[0].payload
        for p in (1, 3, 7)
    }
    assert len(picks) == 1  # same winner under any partitioning


def test_extract_audio_features_stub(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\x01riff-ish")), (2, None)], "media_id bigint, content binary"
    )
    rows = {r.media_id: r for r in MM.extract_audio_features(df, fake=True).collect()}
    assert rows[1].sample_rate in (8000, 16000, 44100, 48000)
    assert 1000 <= rows[1].duration_ms <= 601000 and 0 <= rows[1].rms < 1
    assert len(rows[2].sha256) == 64  # null content -> empty-bytes hash, no crash
    again = {r.media_id: r for r in MM.extract_audio_features(df, fake=True).collect()}
    assert rows[1] == again[1]  # deterministic fake


def test_extract_audio_features_real_path_gated(spark):
    # WAV rows decode for real, so the codec gate now fires per-row at
    # execution time: non-WAV bytes with fake=False raise (wrapped by
    # the Python worker) instead of silently faking
    import pytest as _pytest

    df = spark.createDataFrame([(1, bytearray(b"x"))], "media_id bigint, content binary")
    with _pytest.raises(Exception, match="non-WAV"):
        MM.extract_audio_features(df, fake=False).collect()


def _make_ppm(w, h, rgb):
    import numpy as np

    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[:, :] = rgb
    return MM.write_ppm(px)


def test_ppm_decode_is_real(spark):
    df = spark.createDataFrame(
        [(1, bytearray(_make_ppm(20, 10, (200, 100, 50))))],
        "media_id bigint, content binary",
    )
    r = MM.decode_image(df, fake=False).collect()[0]  # no PIL needed for PPM
    assert (r.width, r.height, r.n_channels) == (20, 10, 3)


def test_ppm_header_comments_and_bad_magic():
    import numpy as np
    import pytest as _pytest

    data = b"P6 # comment\n# another\n3 2\n255\n" + bytes(range(18))
    w, h, px = MM.parse_ppm(data)
    assert (w, h) == (3, 2) and px.shape == (2, 3, 3) and px[0, 0, 0] == 0
    with _pytest.raises(ValueError):
        MM.parse_ppm(b"P5 1 1 255 x")  # grayscale pgm: not P6
    with _pytest.raises(ValueError):
        MM.parse_ppm(b"P6\n4 4\n255\nxx")  # truncated pixels
    assert MM.parse_ppm(MM.write_ppm(np.arange(12, dtype=np.uint8).reshape(2, 2, 3)))[
        2
    ].tolist() == np.arange(12, dtype=np.uint8).reshape(2, 2, 3).tolist()


def test_image_stats_real_pixels(spark):
    df = spark.createDataFrame(
        [(1, bytearray(_make_ppm(4, 4, (10, 20, 30)))),
         (2, bytearray(_make_ppm(2, 2, (0, 255, 0))))],
        "media_id bigint, content binary",
    )
    rows = {r.media_id: r for r in MM.image_stats(df).collect()}
    assert (rows[1].mean_r, rows[1].mean_g, rows[1].mean_b) == (10.0, 20.0, 30.0)
    assert (rows[2].mean_r, rows[2].mean_g, rows[2].mean_b) == (0.0, 255.0, 0.0)


def test_resize_image_executes_and_roundtrips(spark):
    df = spark.createDataFrame(
        [(1, bytearray(_make_ppm(1024, 512, (7, 8, 9)))),
         (2, bytearray(_make_ppm(100, 50, (1, 2, 3))))],  # already small
        "media_id bigint, content binary",
    )
    rows = {r.media_id: r for r in MM.resize_image(df, max_side=256).collect()}
    assert (rows[1].width, rows[1].height) == (256, 128)
    # output is itself decodable PPM with preserved pixel values
    w, h, px = MM.parse_ppm(bytes(rows[1].content))
    assert (w, h) == (256, 128) and px[0, 0].tolist() == [7, 8, 9]
    assert (rows[2].width, rows[2].height) == (100, 50)  # pass-through
    assert bytes(rows[2].content) == _make_ppm(100, 50, (1, 2, 3))


def test_wav_features_are_real(spark):
    import numpy as np

    # 1 second of a full-scale square wave at 8 kHz: RMS = 1 (in units
    # of full scale) up to int16 quantization
    samples = np.tile(np.array([32767, -32768], dtype=np.int16), 4000)
    wav = MM.write_wav(samples, 8000)
    df = spark.createDataFrame(
        [(1, bytearray(wav))], "media_id bigint, content binary"
    )
    r = MM.extract_audio_features(df, fake=False).collect()[0]
    assert r.sample_rate == 8000
    assert r.duration_ms == 1000
    assert abs(r.rms - 1.0) < 1e-4


def test_wav_parser_rejects_non_pcm():
    import pytest as _pytest
    import struct

    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # IEEE float
    data = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with _pytest.raises(ValueError, match="PCM16"):
        MM.parse_wav(data)
    with _pytest.raises(ValueError):
        MM.parse_wav(b"nonsense")


def test_resize_plan_aspect_ratio(spark):
    decoded = spark.createDataFrame(
        [(1, 1024, 512), (2, 100, 200), (3, 256, 256)],
        "media_id bigint, width int, height int",
    )
    rows = {r.media_id: r for r in MM.resize_plan(decoded, max_side=256).collect()}
    assert (rows[1].target_width, rows[1].target_height) == (256, 128)
    assert (rows[2].target_width, rows[2].target_height) == (100, 200)  # under cap: untouched
    assert rows[3].scale == 1.0


def test_incremental_rollup_equals_full_recompute(spark):
    """The continuous-aggregate invariant: maintaining the rollup from
    two slices must equal recomputing from all rows."""
    import pytest as _pytest

    from yaetos_spark.operators.rollup import incremental_rollup, rollup_delta

    spec = {
        "n": ("count", None),
        "total": ("sum", "v"),
        "lo": ("min", "v"),
        "hi": ("max", "v"),
    }
    part1 = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 3)], "k string, v int"
    )
    part2 = spark.createDataFrame(
        [("a", 2), ("c", 9), ("b", -1)], "k string, v int"
    )
    first = incremental_rollup(None, part1, ["k"], spec)
    maintained = incremental_rollup(first, part2, ["k"], spec)
    full = rollup_delta(part1.unionByName(part2), ["k"], spec)
    got = {r.k: (r.n, r.total, r.lo, r.hi) for r in maintained.collect()}
    want = {r.k: (r.n, r.total, r.lo, r.hi) for r in full.collect()}
    assert got == want == {"a": (3, 8, 1, 5), "b": (2, 2, -1, 3), "c": (1, 9, 9, 9)}

    with _pytest.raises(ValueError, match="not decomposable"):
        rollup_delta(part1, ["k"], {"d": ("count_distinct", "v")})


def test_extract_frames_real_container(spark):
    import numpy as np

    frames = [
        np.full((4, 6, 3), (i * 10, i * 20, i * 30), dtype=np.uint8) for i in range(7)
    ]
    video = MM.write_ppm_video(frames)
    # container walk finds every frame at the right offset
    got = list(MM.iter_ppm_frames(video))
    assert len(got) == 7
    for i, (_, fb) in enumerate(got):
        w, h, px = MM.parse_ppm(fb)
        assert (w, h) == (6, 4) and px[0, 0].tolist() == [i * 10, i * 20, i * 30]

    df = spark.createDataFrame([(1, bytearray(video))], "media_id bigint, content binary")
    rows = {r.frame_idx: r for r in MM.extract_frames(df, every_n=3).collect()}
    assert sorted(rows) == [0, 3, 6]  # every 3rd frame sampled
    # each emitted frame is itself decodable and downstream-composable
    stats = MM.image_stats(
        MM.extract_frames(df, every_n=3).select(
            F.col("frame_idx").alias("media_id"), "content"
        )
    ).collect()
    by_idx = {r.media_id: (r.mean_r, r.mean_g, r.mean_b) for r in stats}
    assert by_idx[3] == (30.0, 60.0, 90.0)

    # frames with per-frame dimension changes still walk correctly
    mixed = MM.write_ppm_video([
        np.zeros((2, 2, 3), dtype=np.uint8), np.zeros((5, 3, 3), dtype=np.uint8)
    ])
    sizes = [MM.parse_ppm(fb)[:2] for _, fb in MM.iter_ppm_frames(mixed)]
    assert sizes == [(2, 2), (3, 5)]


def test_chunk_documents_rejects_degenerate_overlap(spark):
    """overlap >= chunk size would make the start sequence loop in
    place (stride <= 0) — must fail fast, not hang the planner."""
    import pytest as _pytest

    from yaetos_spark.operators.curation import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap_tokens=8)


def test_ols_reduction_keeps_accuracy_at_giant_magnitudes(spark):
    """The r5 common-shift reduction (num/den shrunk below 2^53 before
    the slope division) must cost at most ~1e-9 relative accuracy even
    when the sufficient statistics are astronomically larger than a
    double's mantissa — the regime that produced the cross-engine
    1-ulp drift at sf0.1."""
    import numpy as np

    from yaetos_spark.operators.stats import ols_per_group

    # epoch-scale x, large-cents y, enough points that num/den >> 2^53
    base = 1_700_000_000
    xs = [base + i * 3600 for i in range(2000)]
    ys = [5_000_000_000 + 123 * (x - base) + ((x * 7919) % 1000) for x in xs]
    df = spark.createDataFrame(
        [(1, x, y) for x, y in zip(xs, ys)], "g int, x long, y long"
    )
    out = ols_per_group(df, ["g"], F.col("x"), F.col("y")).collect()[0]
    s, icept = np.polyfit(np.array(xs, dtype=float), np.array(ys, dtype=float), 1)
    assert abs(out.slope - s) <= 1e-9 * abs(s)
    assert abs(out.intercept - icept) <= 1e-6 * abs(icept)


def test_tf_cosine_pairs_exact_values_and_hot_term_guard(spark):
    """Hand-checkable integer tf vectors: docs 1/2 share 'x x y' shape,
    doc 3 is disjoint. cos(d1,d2) = (2*2+1*1)/sqrt(5*5) = 1.0 for
    identical vectors; with a hot term dropped the cosine is recomputed
    over the FILTERED vectors, not just filtered pairs."""
    from yaetos_spark.operators.text import tf_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, "x x y"),
            (2, "x x y"),
            (3, "z z w"),
            (4, "x q"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.id1, r.id2): (r.dot, r.cos_sim)
        for r in tf_cosine_pairs(df, threshold=0.0, max_df=None).collect()
    }
    # identical docs: dot = 2*2 + 1*1 = 5, norms 5 -> cos 1.0
    assert out[(1, 2)] == (5, 1.0)
    # docs 1/4 share only 'x': dot = 2*1 = 2; norms 5 and 2
    assert out[(1, 4)][0] == 2
    assert abs(out[(1, 4)][1] - round(2 / (5 * 2) ** 0.5, 6)) < 1e-12
    # doc 3 shares no term with anyone -> no pairs materialize
    assert not any(3 in p for p in out)

    # 'x' occurs in 3 docs; max_df=2 drops it EVERYWHERE: docs 1/2
    # reduce to pure-'y' vectors (cos 1.0, dot 1), doc 4 reduces to
    # 'q' only and no longer pairs with anyone
    guarded = {
        (r.id1, r.id2): (r.dot, r.cos_sim)
        for r in tf_cosine_pairs(df, threshold=0.0, max_df=2).collect()
    }
    assert guarded == {(1, 2): (1, 1.0)}

    # the hot-term guard is REQUIRED: omitting max_df entirely (the
    # silent-quadratic-on-stopwords footgun) is a TypeError, not an
    # unguarded join — opting out takes an explicit max_df=None
    import pytest

    with pytest.raises(TypeError):
        tf_cosine_pairs(df, threshold=0.0)


def test_tf_cosine_singleton_prune_keeps_norms(spark):
    """r11-opt join-side singleton prune: a df_count==1 term can never
    produce a pair (one row self-joined under id1 < id2), so it is
    filtered off the self-join sides — but it MUST still count in the
    norm sums, or the cosine denominator shrinks. doc 1 = 'shared uniq'
    (norm 2), doc 2 = 'shared' (norm 1): dot = 1 over sqrt(2*1); if the
    prune leaked into the norms, cos would read 1.0."""
    import math

    from yaetos_spark.operators.text import tf_cosine_pairs

    df = spark.createDataFrame(
        [(1, "shared uniq"), (2, "shared")], "doc_id long, text string"
    )
    out = {
        (r.id1, r.id2): (r.dot, r.cos_sim)
        for r in tf_cosine_pairs(df, threshold=0.0, max_df=10).collect()
    }
    assert out == {(1, 2): (1, round(1 / math.sqrt(2.0), 6))}
    # and the prune is actually in the plan: the join-side subtree
    # filters df_count >= 2 (the max_df=None opt-out path does not)
    plan = tf_cosine_pairs(
        df, threshold=0.0, max_df=10
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "df_count" in plan


def test_redundancy_scores_counts_and_fraction(spark):
    """4 docs where one shingle ('a b c') appears in 3 docs: with
    min_df=2 that shingle is common; each doc's fraction is its common
    count over its distinct shingle count."""
    from yaetos_spark.operators.text import redundancy_scores

    df = spark.createDataFrame(
        [
            (1, "a b c d"),   # shingles: 'a b c', 'b c d'
            (2, "a b c"),     # 'a b c'
            (3, "a b c"),     # 'a b c'
            (4, "p q r"),     # 'p q r'
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_shingles, r.n_common, r.common_frac) for r in
           redundancy_scores(df, n=3, min_df=2).collect()}
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (1, 1, 1.0)
    assert out[3] == (1, 1, 1.0)
    assert out[4] == (1, 0, 0.0)


def test_pack_sequences_null_shard_and_null_tokens(spark):
    """NULL shard keys must route through the window fallback (the
    bucketed path's inner equi-join would drop them), and a bucket
    whose token counts are all NULL must not TypeError the driver-side
    prefix sum — both must match the single-window formulation."""
    from pyspark.sql import Window

    rows = [(i, "s" + str(i % 2), "w " * (1 + i % 7)) for i in range(60)]
    rows += [(100 + i, None, "x " * 3) for i in range(5)]  # NULL shard
    rows += [(200, "s0", None), (201, "s1", None)]  # NULL text -> NULL n_tokens
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = df.select("source", "doc_id", F.size(CU._tokens("text")).alias("n_tokens"))
    naive = {
        (r.source, r.bin_id): (r.n_docs, r.total_tokens)
        for r in toks.withColumn(
            "bin_id", F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / 10)
        )
        .groupBy("source", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
        .collect()
    }
    for b in (1, 8):
        got = {
            (r.source, r.bin_id): (r.n_docs, r.total_tokens)
            for r in CU.pack_sequences(df, 10, sub_buckets=b).collect()
        }
        assert got == naive, f"sub_buckets={b}"
    # all-NULL-shard input: bucketed path has nothing, fallback carries all
    only_null = spark.createDataFrame(
        [(1, None, "a b c"), (2, None, "d e")], "doc_id bigint, source string, text string"
    )
    out = CU.pack_sequences(only_null, 4).collect()
    assert {(r.source, r.bin_id, r.n_docs, r.total_tokens) for r in out} == {
        (None, 0, 2, 5)
    }


def test_deterministic_sample_helper_collision(spark):
    """Input columns named _h/_sub/_r1 must survive (helpers renamed to
    __ds_*); a genuine __ds_* collision raises instead of corrupting."""
    import pytest

    df = spark.createDataFrame(
        [(i, "g", "keep" + str(i)) for i in range(10)],
        "doc_id bigint, grp string, _h string",
    )
    out = CU.deterministic_sample(df, ["grp"], 3)
    assert "_h" in out.columns
    assert all(r._h == "keep" + str(r.doc_id) for r in out.collect())
    bad = df.withColumnRenamed("_h", "__ds_h")
    with pytest.raises(ValueError, match="__ds_h"):
        CU.deterministic_sample(bad, ["grp"], 3)


def test_resample_locf_all_null_ts_key_drops(spark):
    """A key whose every timestamp is NULL has no grid — it must drop
    silently (the NULL-gated guard), not fire raise_error via
    three-valued when(); other keys are unaffected."""
    from yaetos_spark.operators.timeseries import resample_locf

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 12:30:00", 2.0),
            (2, None, 9.0),
        ],
        "user_id bigint, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = resample_locf(df, interval_sec=21600).collect()
    assert {r.user_id for r in out} == {1}
    assert len(out) == 3  # buckets 00:00, 06:00, 12:00


def test_helper_column_guards_raise(spark):
    """Every operator that withColumn's constant scratch names onto a
    USER frame must refuse an input already carrying that name (silent
    overwrite + drop = data corruption — the deterministic_sample
    ADVICE class, swept across the library in r10)."""
    import pytest

    from yaetos_spark.operators.layout import zorder_key
    from yaetos_spark.operators.quality import compare_fuzzy
    from yaetos_spark.operators.rangejoin import band_join, interval_join
    from yaetos_spark.operators.skew import (
        replicated_skew_join,
        salted_agg,
        salted_count,
    )

    two = spark.createDataFrame([(1, 2.0, "x")], "k bigint, v double, _salt string")
    plain = spark.createDataFrame([(1, 2.0)], "k bigint, v double")
    cases = [
        (lambda: salted_count(two, ["k"]), "_salt"),
        (lambda: salted_agg(two, ["k"], {"v": "t"}), "_salt"),
        (lambda: replicated_skew_join(plain, two, "k"), "_salt"),
        (
            lambda: interval_join(
                spark.createDataFrame([(1.0, 0)], "x double, _bk int"),
                spark.createDataFrame([(0.0, 2.0)], "lo double, hi double"),
                "x", "lo", "hi", 1.0,
            ),
            "_bk",
        ),
        (
            lambda: band_join(
                plain,
                spark.createDataFrame([(1.0, 7)], "rv double, _bk0 int"),
                "v", "rv", 1.0,
            ),
            "_bk0",
        ),
        (
            lambda: zorder_key(
                spark.createDataFrame([(1, 2, 3)], "a int, b int, _zorder int"),
                ["a", "b"],
            ),
            "_zorder",
        ),
        (
            # a non-pk "_in_1" is SAFE (the select aliases it to
            # _in_1_1/_in_1_2); the corrupting case is a PK named like
            # the presence flag — withColumn would overwrite the key
            lambda: compare_fuzzy(
                spark.createDataFrame([(1, True)], "k bigint, _in_1 boolean"),
                spark.createDataFrame([(1, True)], "k bigint, _in_1 boolean"),
                ["k", "_in_1"],
            ),
            "_in_1",
        ),
        (
            lambda: CU.rebalance_groups(
                spark.createDataFrame([(1, "g", 0)], "doc_id bigint, grp string, _rk int"),
                "grp",
            ),
            "_rk",
        ),
        (
            lambda: W.sessionize(
                spark.createDataFrame(
                    [(1, "2024-01-01 00:00:00", 0)],
                    "user_id bigint, ts string, _new_session int",
                ),
                "user_id", "ts",
            ),
            "_new_session",
        ),
        (
            lambda: W.asof_join(
                spark.createDataFrame([(1, 1.0, "a")], "k bigint, t double, _side string"),
                spark.createDataFrame([(1, 1.0)], "k bigint, t double"),
                "k", "t", "t",
            ),
            "_side",
        ),
        (
            lambda: W.global_rank(
                spark.createDataFrame([(1.0, 0)], "v double, _bucket int"), "v"
            ),
            "_bucket",
        ),
        (
            lambda: W.distributed_ntile(
                spark.createDataFrame([(1.0, 0)], "v double, _grank int"), "v", 2
            ),
            "_grank",
        ),
    ]
    for fn, name in cases:
        with pytest.raises(ValueError, match=name):
            fn()


def test_rebalance_groups_empty_input(spark):
    """Empty input must return empty, not TypeError on int(None)
    (min over zero groups collects NULL)."""
    df = spark.createDataFrame([], "doc_id bigint, grp string")
    assert CU.rebalance_groups(df, "grp").count() == 0


def test_null_and_empty_text_doc_contracts(spark):
    """doc_oov_counts omits token-less docs (documented: an (id,0,0)
    row would read as all-in-vocab); shingle-derived outputs keep EVERY
    doc — NULL text must behave exactly like empty text (one whole-text
    ''-shingle), not silently vanish via three-valued size(NULL)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "   ")],
        "doc_id bigint, text string",
    )
    assert {r.doc_id for r in TX.doc_oov_counts(docs, top_k=2).collect()} == {1}
    red = {r.doc_id: r for r in TX.redundancy_scores(docs, n=2, min_df=1).collect()}
    assert set(red) == {1, 2, 3}
    # NULL and whitespace docs share the '' shingle (2 docs > min_df=1)
    assert red[2].n_shingles == 1 and red[3].n_shingles == 1
    assert red[2].common_frac == red[3].common_frac == 1.0
    # and they pair as exact-similarity duplicates, like two empty files
    pairs = {(r.id1, r.id2): r.jaccard for r in D.jaccard_pairs(docs, n=2, threshold=0.5).collect()}
    assert pairs.get((2, 3)) == 1.0


def test_winnow_rolling_variant(spark):
    """The Arrow rolling-hash winnowing keeps every guarantee of the
    SQL formulation — identical docs share all fingerprints, a long
    shared substring shares at least one, unrelated docs share none —
    in its own hash space, and feeds winnow_overlap_pairs unchanged."""
    fps = TX.winnow_fingerprints_rolling(_docs(spark), k=8, window=4)
    by_doc = {
        r.doc_id: set(r.fps)
        for r in fps.groupBy("doc_id")
        .agg(F.collect_set("fingerprint").alias("fps"))
        .collect()
    }
    assert by_doc[1] == by_doc[4]
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    pairs = {
        (r.id_a, r.id_b)
        for r in TX.winnow_overlap_pairs(fps, min_shared=1).collect()
    }
    assert (1, 4) in pairs and (1, 2) in pairs and all(3 not in p for p in pairs)
    # short/NULL docs: below k raw chars or k normalized chars -> no rows
    edge = spark.createDataFrame(
        [(1, None), (2, "abc"), (3, "!!!!!!!!!!!!"), (4, "abcdefghi")],
        "doc_id bigint, text string",
    )
    assert {r.doc_id for r in TX.winnow_fingerprints_rolling(edge).collect()} == {4}
    # fewer than `window` k-grams -> exactly one fingerprint (min of all)
    assert TX.winnow_fingerprints_rolling(edge).count() == 1


def test_simhash_null_text_like_empty(spark):
    """A NULL-text doc must get the same signature as an empty-text doc
    (both content-less), not silently vanish from the signature frame
    via explode(split(NULL)) — the shingle-helper NULL class."""
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real words here")],
        "doc_id bigint, text string",
    )
    sim = {r.id: r.simhash for r in D.simhash(docs).collect()}
    assert set(sim) == {1, 2, 3}
    assert sim[1] == sim[2] != sim[3]


# ---------------------------------------------------------------- DSIR


def _dsir_expected(rows, target_langs=("en",), n_buckets=10_000, alpha=1.0):
    """Independent pure-python DSIR reimplementation (hashlib md5, no
    Spark) — the test oracle for dsir_logweights."""
    import hashlib
    import re
    from collections import Counter

    def grams(text):
        if text is None:
            return []
        toks = [t for t in re.split(r"\s+", text.strip()) if t != ""]
        return toks + [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets

    raw, tgt = Counter(), Counter()
    per_doc = {}
    for doc_id, text, lang in rows:
        bs = [bucket(g) for g in grams(text)]
        per_doc[doc_id] = bs
        raw.update(bs)
        if lang in target_langs:
            tgt.update(bs)
    r_tot, t_tot = sum(raw.values()), sum(tgt.values())
    out = {}
    for doc_id, bs in per_doc.items():
        s = sum(
            math.log((tgt[b] + alpha) / (t_tot + alpha * n_buckets))
            - math.log((raw[b] + alpha) / (r_tot + alpha * n_buckets))
            for b in bs
        )
        out[doc_id] = (len(bs), round(s, 6))
    return out


def test_dsir_logweights_matches_independent_reimplementation(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "pack my box with five dozen liquor jugs", "en"),
        (3, "der schnelle braune fuchs springt", "de"),
        (4, "le renard brun rapide saute", "fr"),
        (5, "the dog sleeps", "en"),
        (6, None, "en"),
        (7, "   ", "de"),
        (8, "fox", "fr"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {
        r.doc_id: (r.n_grams, r.dsir_logweight)
        for r in CU.dsir_logweights(docs, F.col("lang") == "en").collect()
    }
    exp = _dsir_expected(rows)
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0], k
        assert abs(got[k][1] - exp[k][1]) <= 2e-6, (k, got[k], exp[k])
    # content-less docs are present with zero grams and weight 0.0
    assert got[6] == (0, 0.0)
    assert got[7] == (0, 0.0)


def test_dsir_target_vocab_scores_higher(spark):
    """Docs sharing the target domain's vocabulary must outscore docs
    from a disjoint vocabulary — the operator's entire point."""
    rows = (
        [(i, "alpha beta gamma delta epsilon", "en") for i in range(10)]
        + [(100 + i, "uno dos tres cuatro cinco", "es") for i in range(10)]
        + [(200, "alpha beta gamma", "es")]  # es doc with TARGET vocab
    )
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    s = {
        r.doc_id: r.dsir_logweight
        for r in CU.dsir_logweights(docs, F.col("lang") == "en").collect()
    }
    # the guarantee is RELATIVE ordering: with add-alpha smoothing over
    # 10k buckets the absolute sign shrinks toward log(count ratios),
    # so assert dominance, not positivity
    assert min(s[i] for i in range(10)) > s[200] > max(s[100 + i] for i in range(10))


def test_dsir_logweights_helper_collision_guard(spark):
    import pytest

    docs = spark.createDataFrame(
        [(1, "a b", "en", 0)], "doc_id bigint, text string, lang string, _bucket int"
    )
    with pytest.raises(ValueError, match="_bucket"):
        CU.dsir_logweights(docs, F.col("lang") == "en")


def test_dsir_select_count_and_dominance(spark):
    import pytest

    rows = [(i, float(i % 17) - 8.0) for i in range(200)]
    scores = spark.createDataFrame(rows, "doc_id bigint, dsir_logweight double")
    out = CU.dsir_select(scores, 0.25).collect()
    sel = [r.dsir_logweight for r in out if r.selected]
    rej = [r.dsir_logweight for r in out if not r.selected]
    assert len(sel) == math.ceil(0.25 * 200)
    assert min(sel) >= max(rej)
    with pytest.raises(ValueError, match="fraction"):
        CU.dsir_select(scores, 0.0)


def test_dsir_select_gumbel_seeded_resample(spark):
    rows = [(i, 0.1 * i) for i in range(300)]
    scores = spark.createDataFrame(rows, "doc_id bigint, dsir_logweight double")

    def sel(seed):
        return {
            r.doc_id
            for r in CU.dsir_select(scores, 0.2, seed=seed).collect()
            if r.selected
        }

    a1, a2, b = sel(7), sel(7), sel(8)
    assert len(a1) == math.ceil(0.2 * 300)
    assert a1 == a2  # same seed -> identical resample
    assert a1 != b  # different seed -> different sample (w.h.p.)
    # importance still dominates: the top-scoring tail is near-certain
    # to survive any seed's Gumbel noise at this score spread
    assert 299 in a1 and 299 in b


# ------------------------------------------- ExactSubstr span dedup


def test_duplicated_spans_cross_doc(spark):
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, f"aaa bbb {shared} ccc ddd"),
            (2, f"xxx {shared} yyy zzz"),
            (3, "totally unique words here nothing shared at all"),
            (4, None),
            (5, ""),
            (6, shared),
        ],
        "doc_id bigint, text string",
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.n_windows)
        for r in D.duplicated_spans(docs, k=4).collect()
    }
    # maximal merged spans: the 8 shared tokens = 5 overlapping
    # 4-windows merged into ONE span per doc, at each doc's offset
    assert spans == {1: (2, 10, 5), 2: (1, 9, 5), 6: (0, 8, 5)}


def test_duplicated_spans_intra_doc_and_cross_doc_only(spark):
    rep = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [(1, f"{rep} filler words {rep}"), (2, "other content entirely here")],
        "doc_id bigint, text string",
    )
    both = D.duplicated_spans(docs, k=4)
    assert {r.doc_id for r in both.collect()} == {1}  # intra-doc repeat found
    xdoc = D.duplicated_spans(docs, k=4, cross_doc_only=True)
    assert xdoc.count() == 0  # excluded when only cross-doc counts


def test_duplicated_spans_min_count(spark):
    s = "p q r s"
    docs = spark.createDataFrame(
        [(1, f"{s} a"), (2, f"{s} b"), (3, f"{s} c")],
        "doc_id bigint, text string",
    )
    assert D.duplicated_spans(docs, k=4, min_count=3).count() == 3
    assert D.duplicated_spans(docs, k=4, min_count=4).count() == 0


def test_remove_duplicated_spans(spark):
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, f"aaa bbb {shared} ccc ddd", "en"),
            (2, f"xxx {shared} yyy zzz", "de"),
            (3, "totally unique words here nothing shared at all", "en"),
            (4, None, "fr"),
            (6, shared, "en"),
        ],
        "doc_id bigint, text string, lang string",
    )
    spans = D.duplicated_spans(docs, k=4)
    out = {r.doc_id: r for r in D.remove_duplicated_spans(docs, spans).collect()}
    assert out[1].text == "aaa bbb ccc ddd" and out[1].n_removed_tokens == 8
    assert out[2].text == "xxx yyy zzz" and out[2].n_removed_tokens == 8
    # span-free doc passes through byte-identical, other columns intact
    assert out[3].text == "totally unique words here nothing shared at all"
    assert out[3].n_removed_tokens == 0 and out[3].lang == "en"
    # NULL text behaves like empty text (kept, not vanished)
    assert out[4].text == "" and out[4].n_removed_tokens == 0
    # fully-duplicated doc -> empty string, count preserved
    assert out[6].text == "" and out[6].n_removed_tokens == 8


def test_duplicated_spans_helper_collision_guard(spark):
    import pytest

    docs = spark.createDataFrame(
        [(1, "a b", 0)], "doc_id bigint, text string, _pos int"
    )
    with pytest.raises(ValueError, match="_pos"):
        D.duplicated_spans(docs, k=2)


def _mix_df(spark):
    return spark.createDataFrame(
        [(i, "en" if i < 80 else ("fr" if i < 95 else "de"), 10 + i % 5)
         for i in range(100)],
        "doc_id bigint, lang string, n_toks bigint",
    )


def test_mix_to_target_exact_counts(spark):
    """exact=True hits round(want) rows per group, with the target
    proportions (hand-computed: 50 * [.4 .4 .2] = [20, 20, 10])."""
    out = CU.mix_to_target(
        _mix_df(spark), "lang", {"en": 0.4, "fr": 0.4, "de": 0.2}, 50,
        max_epochs=3.0, exact=True,
    )
    got = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert got == {"en": 20, "fr": 20, "de": 10}
    # deterministic: same subset on a re-run
    a = sorted((r.doc_id, r._epoch) for r in out.collect())
    b = sorted(
        (r.doc_id, r._epoch)
        for r in CU.mix_to_target(
            _mix_df(spark), "lang", {"en": 0.4, "fr": 0.4, "de": 0.2}, 50,
            max_epochs=3.0, exact=True,
        ).collect()
    )
    assert a == b


def test_mix_to_target_upsampling_epochs(spark):
    """A group needing 2.4 epochs emits every row at _epoch 0 and 1
    plus a fractional subset at _epoch 2; full epochs are exact even in
    rate mode (only the fractional slice is binomial)."""
    out = CU.mix_to_target(_mix_df(spark), "lang", {"de": 1.0}, 12, max_epochs=4.0)
    per_epoch = {
        r["_epoch"]: r["count"] for r in out.groupBy("_epoch").count().collect()
    }
    assert per_epoch[0] == 5 and per_epoch[1] == 5  # de has 5 rows
    assert 0 <= per_epoch.get(2, 0) <= 5  # fractional: binomial(5, 0.4)
    assert set(r.lang for r in out.select("lang").distinct().collect()) == {"de"}


def test_mix_to_target_weight_budget(spark):
    """weight_col budgets allocate in token units: a 600-token budget
    over a 1184-token corpus selects roughly 600 tokens at the target
    mix (rate mode, so ±sqrt tolerance)."""
    df = _mix_df(spark)
    total = df.groupBy().sum("n_toks").collect()[0][0]
    out = CU.mix_to_target(
        df, "lang", {"en": 0.5, "fr": 0.5}, 600, weight_col="n_toks",
        max_epochs=2.0,
    )
    got = {
        r["lang"]: r["toks"]
        for r in out.groupBy("lang").agg(F.sum("n_toks").alias("toks")).collect()
    }
    assert total > 600  # the budget genuinely subsamples
    for g in ("en", "fr"):
        assert abs(got[g] - 300) < 120, got  # 3-sigma-ish binomial slack


def test_mix_to_target_water_fill_policies():
    """Driver-side water-filling: redistribute clips the infeasible
    group at capacity and hands its surplus to the rest; error raises
    on the first clip; clip undershoots without redistribution."""
    avail = {"a": 10.0, "b": 100.0}
    shares = {"a": 0.5, "b": 0.5}
    # a's half-share (25) exceeds cap 10 -> clipped, b absorbs the rest
    want = CU._water_fill(avail, shares, 50, 1.0, "redistribute")
    assert want == {"a": 10.0, "b": 40.0}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="capacity"):
        CU._water_fill(avail, shares, 50, 1.0, "error")
    want_clip = CU._water_fill(avail, shares, 50, 1.0, "clip")
    assert want_clip == {"a": 10.0, "b": 25.0}
    # unreachable even at full capacity -> loud, never silent shortfall
    with _pytest.raises(ValueError, match="unreachable"):
        CU._water_fill({"a": 10.0}, {"a": 1.0}, 100, 1.0, "redistribute")


def test_mix_to_target_drops_untargeted_and_guards(spark):
    """Groups absent from targets (or weight 0) are dropped; helper
    column collisions refuse loudly; zero-quota mix returns empty with
    the _epoch column present."""
    import pytest as _pytest
    out = CU.mix_to_target(
        _mix_df(spark), "lang", {"de": 1.0}, 5, max_epochs=1.0
    )
    assert set(r.lang for r in out.collect()) <= {"de"}
    with _pytest.raises(ValueError, match="_epoch"):
        CU.mix_to_target(
            _mix_df(spark).withColumn("_epoch", F.lit(1)), "lang", {"de": 1.0}, 5
        )


def test_mix_to_target_exact_weight_budget(spark):
    """exact=True + weight_col: greedy hash-prefix weight selection —
    identical to a pure-python model (same md5 order, same water-fill),
    per-group selected weight within one doc of the target, full
    epochs exact."""
    import hashlib

    rows = [(i, "en" if i < 60 else "fr", 5 + (i * 7) % 13) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_toks bigint")
    targets, budget = {"en": 0.6, "fr": 0.4}, 500
    out = CU.mix_to_target(
        df, "lang", targets, budget, weight_col="n_toks", max_epochs=2.0, exact=True
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.lang, []).append((r.doc_id, r._epoch, r.n_toks))
    avail = {}
    for _, g, w in rows:
        avail[g] = avail.get(g, 0) + w
    want = CU._water_fill(
        {k: float(v) for k, v in avail.items()}, targets, float(budget), 2.0
    )
    for g in want:
        a = avail[g]
        full = int(want[g] / a)
        fw = want[g] - full * a
        members = sorted(
            (hashlib.md5(f"{i}:mix".encode()).hexdigest(), i, w)
            for i, gg, w in rows if gg == g
        )
        sel, acc = [], 0.0
        for _h, i, w in members:
            if acc < fw:
                sel.append(i)
                acc += w
            else:
                break
        assert len(got[g]) == full * len(members) + len(sel)
        assert sorted(i for i, e, _w in got[g] if e == full) == sorted(sel)
        gw = sum(w for _i, _e, w in got[g])
        max_doc = max(w for _h, _i, w in members)
        assert want[g] <= gw < want[g] + max_doc  # crossing-doc contract


def test_mix_to_target_null_group_contract(spark):
    """NULL group rows are dropped (untargetable); a None target key
    refuses loudly instead of silently undershooting the budget (the
    equi-join could never match it)."""
    import pytest as _pytest
    df = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, None), (4, "fr")], "doc_id bigint, lang string"
    )
    out = CU.mix_to_target(df, "lang", {"en": 1.0}, 2, exact=True)
    assert sorted(r.doc_id for r in out.collect()) == [1, 2]
    with _pytest.raises(ValueError, match="coalesce"):
        CU.mix_to_target(df, "lang", {None: 0.5, "en": 0.5}, 2)


def _charlm_ref_model(ref_texts, n=3, alpha=0.1):
    """Independent python reference for charlm_fit_score."""
    import re
    from collections import Counter

    B = "\x01"
    ng, ctx, chars = Counter(), Counter(), set()
    norm = [re.sub(r"\s+", " ", (t or "").lower()).strip() for t in ref_texts]
    for t in norm:
        p = B * (n - 1) + t
        for i in range(len(t)):
            g = p[i : i + n]
            ng[g] += 1
            ctx[g[: n - 1]] += 1
            chars.add(g[n - 1])
    v = len(chars) + 1

    def score(text):
        t = re.sub(r"\s+", " ", (text or "").lower()).strip()
        if not t:
            return None
        p = B * (n - 1) + t
        s = sum(
            math.log(
                (ng.get(p[i : i + n], 0) + alpha)
                / (ctx.get(p[i : i + n - 1], 0) + alpha * v)
            )
            for i in range(len(t))
        )
        return round(s / len(t), 6)

    return score


def test_charlm_fluency_ordering_and_contracts(spark):
    """Reference-like text scores lower perplexity than gibberish;
    NULL/whitespace docs surface with n_scored=0 and NULL scores; the
    model-size guard raises with sizing guidance."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat", 1), (2, "the dog sat on the log", 1),
         (3, "the cat sat on the mat again", 0), (4, "zzqx vvkk jjww qqpp", 0),
         (5, None, 0), (6, "   ", 0)],
        "doc_id bigint, text string, is_ref int",
    )
    out = {r.doc_id: r for r in TX.charlm_fit_score(docs, F.col("is_ref") == 1).collect()}
    assert out[3].perplexity < out[4].perplexity
    assert out[5].n_scored == 0 and out[5].perplexity is None
    assert out[6].n_scored == 0 and out[6].avg_logp is None
    with _pytest.raises(ValueError, match="max_model_rows"):
        TX.charlm_fit_score(docs, F.col("is_ref") == 1, max_model_rows=2)


def test_charlm_matches_python_model(spark):
    """Value-exact vs the independent python model (exact integer
    counts -> identical IEEE ratios on both sides, round-6 grid)."""
    ref = ["the cat sat on the mat", "the dog sat on the log"]
    pool = ["the cat sat on the mat again", "zzqx vvkk jjww", "sat on a log"]
    rows = [(i, t, 1) for i, t in enumerate(ref)] + [
        (100 + i, t, 0) for i, t in enumerate(pool)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, is_ref int")
    score = _charlm_ref_model(ref)
    got = {r.doc_id: r.avg_logp for r in
           TX.charlm_fit_score(docs, F.col("is_ref") == 1).collect()}
    for i, t in enumerate(pool):
        assert got[100 + i] == score(t), t
    for i, t in enumerate(ref):
        assert got[i] == score(t), t


def test_charlm_empty_reference_raises(spark):
    """An empty reference subset must refuse loudly, not hand every
    doc the same degenerate perplexity-1 score."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, "some text", 0), (2, None, 1)], "doc_id bigint, text string, is_ref int"
    )
    with _pytest.raises(ValueError, match="reference subset"):
        TX.charlm_fit_score(docs, F.col("is_ref") == 1)


def test_shuffle_shards_deterministic_permutation(spark):
    """shuffle_shards: output is a permutation of the input, identical
    across reruns, different under another salt, evenly sharded, and
    collision-guarded."""
    import pytest as _pytest

    from yaetos_spark.operators.layout import shuffle_shards

    df = spark.range(400).withColumnRenamed("id", "doc_id")
    out = shuffle_shards(df, n_shards=4)
    a = [r.doc_id for r in out.collect()]
    assert sorted(a) == list(range(400))            # permutation
    assert a != list(range(400))                    # actually shuffled
    b = [r.doc_id for r in shuffle_shards(df, n_shards=4).collect()]
    assert a == b                                   # reproducible
    c = [r.doc_id for r in shuffle_shards(df, n_shards=4, salt="e1").collect()]
    assert a != c and sorted(c) == list(range(400))  # salted re-permute
    sizes = out.rdd.glom().map(len).collect()
    assert len(sizes) == 4 and max(sizes) - min(sizes) <= 100  # sampled ranges, roughly even
    with _pytest.raises(ValueError, match="_shard_pos"):
        shuffle_shards(df.withColumn("_shard_pos", F.lit(1)))
    with _pytest.raises(ValueError, match="n_shards"):
        shuffle_shards(df, n_shards=0)
