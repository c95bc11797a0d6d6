from pyspark.sql import functions as F

from yaetos_spark.operators.rangejoin import band_join, interval_join
from yaetos_spark.operators.skew import replicated_skew_join, salted_agg, salted_count


def test_salted_count_matches_plain(spark):
    df = spark.createDataFrame([("a",)] * 500 + [("b",)] * 3, "k string")
    salted = {r.k: r.n for r in salted_count(df, ["k"]).collect()}
    plain = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
    assert salted == plain


def test_salted_count_accepts_partial_column(spark):
    """_partial is only an agg OUTPUT alias, never withColumn'd onto
    the user frame — an input legitimately carrying _partial must not
    be rejected (ADVICE r10: the guard over-reserved)."""
    df = spark.createDataFrame([("a", 9)] * 7 + [("b", 1)], "k string, _partial int")
    out = {r.k: r.n for r in salted_count(df, ["k"]).collect()}
    assert out == {"a": 7, "b": 1}


def test_salted_agg_matches_plain(spark):
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 5.0)], "k string, v double")
    out = {r.k: r.total for r in salted_agg(df, ["k"], {"v": "total"}).collect()}
    assert out == {"a": 3.0, "b": 5.0}


def test_replicated_skew_join(spark):
    big = spark.createDataFrame([(1, "x")] * 100 + [(2, "y")], "k int, v string")
    small = spark.createDataFrame([(1, "dim1"), (2, "dim2")], "k int, d string")
    out = replicated_skew_join(big, small, "k")
    assert out.count() == 101
    assert out.filter("k = 2").collect()[0].d == "dim2"


def test_interval_join(spark):
    points = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 99.0)], "pid int, x double")
    intervals = spark.createDataFrame(
        [(10, 0.0, 10.0), (20, 12.0, 20.0)], "iid int, lo double, hi double"
    )
    out = {(r.pid, r.iid) for r in interval_join(points, intervals, "x", "lo", "hi", 10.0).collect()}
    assert out == {(1, 10), (2, 20)}


def test_band_join_matches_naive(spark):
    left = spark.createDataFrame([(i, float(i)) for i in range(50)], "lid int, lv double")
    right = spark.createDataFrame([(i, i * 2.5) for i in range(30)], "rid int, rv double")
    fast = {(r.lid, r.rid) for r in band_join(left, right, "lv", "rv", tolerance=1.0).collect()}
    naive = {
        (r.lid, r.rid)
        for r in left.crossJoin(right).filter(F.abs(F.col("lv") - F.col("rv")) <= 1.0).collect()
    }
    assert fast == naive


def test_band_join_narrow_buckets_still_complete(spark):
    """bucket_width < tolerance must widen the probe fan-out (a match
    can be several buckets away) — not silently drop pairs."""
    left = spark.createDataFrame([(i, float(i)) for i in range(40)], "lid int, lv double")
    right = spark.createDataFrame([(i, i * 1.7) for i in range(25)], "rid int, rv double")
    fast = {
        (r.lid, r.rid)
        for r in band_join(left, right, "lv", "rv", tolerance=3.0, bucket_width=1.0).collect()
    }
    naive = {
        (r.lid, r.rid)
        for r in left.crossJoin(right).filter(F.abs(F.col("lv") - F.col("rv")) <= 3.0).collect()
    }
    assert fast == naive


def test_interval_join_rejects_outer(spark):
    import pytest

    points = spark.createDataFrame([(1, 5.0)], "pid int, x double")
    intervals = spark.createDataFrame([(10, 0.0, 10.0)], "iid int, lo double, hi double")
    with pytest.raises(ValueError, match="inner"):
        interval_join(points, intervals, "x", "lo", "hi", 10.0, how="left")


def test_interval_join_sentinel_interval_raises(spark):
    """A sentinel open-ended interval (the 9999-12-31 pattern) must
    fail loudly instead of exploding to a multi-GB bucket array."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    points = spark.createDataFrame([(1, 5.0)], "pid int, x double")
    intervals = spark.createDataFrame(
        [(10, 0.0, 10.0), (99, 0.0, 1e9)], "iid int, lo double, hi double"
    )
    with pytest.raises(SparkRuntimeException, match="interval_join: an interval"):
        interval_join(
            points, intervals, "x", "lo", "hi", 1.0, max_buckets_per_interval=1000
        ).count()
    # under the cap, results unchanged
    ok = interval_join(points, intervals.filter("iid = 10"), "x", "lo", "hi", 1.0)
    assert {(r.pid, r.iid) for r in ok.collect()} == {(1, 10)}


def test_stateful_sessionize_across_batches(spark, tmp_path):
    """Drive the stateful sessionizer through two real micro-batch
    runs sharing a checkpoint: the open session from run 1 is closed by
    a later event arriving in run 2 (state survives the restart)."""
    from yaetos_spark.streaming.stateful import stateful_sessionize

    path = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sessions")

    def run_batch():
        stream = spark.readStream.schema("user_id long, sec long").parquet(path)
        sessions = stateful_sessionize(stream, gap_seconds=1800)
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([(1, 1000), (1, 1100), (2, 2000)], "user_id long, sec long") \
        .coalesce(1).write.mode("append").parquet(path)
    run_batch()
    assert spark.read.parquet(out).count() == 0  # all sessions still open

    # batch 2: event past the gap closes user 1's first session
    spark.createDataFrame([(1, 5000)], "user_id long, sec long") \
        .coalesce(1).write.mode("append").parquet(path)
    run_batch()
    rows = [
        (r.user_id, r.session_start_sec, r.session_end_sec, r.n_events)
        for r in spark.read.parquet(out).collect()
    ]
    assert rows == [(1, 1000, 1100, 2)]


def test_event_time_timeout_closes_idle_sessions(spark, tmp_path):
    """Close-on-idle: quiet keys' sessions close when the global
    event-time watermark passes last_event + gap — no later event for
    the key itself needed. Run 2's sentinel (a different user) pushes
    the watermark; users 1 and 2 time out and emit."""
    from yaetos_spark.streaming.stateful import stateful_sessionize_event_time

    path = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sessions")

    def run_batch():
        stream = spark.readStream.schema("user_id long, sec long").parquet(path)
        sessions = stateful_sessionize_event_time(stream, gap_seconds=1800)
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=120)
        assert not q.isActive, "availableNow run did not terminate"

    spark.createDataFrame(
        [(1, 1000), (1, 1100), (2, 2000)], "user_id long, sec long"
    ).coalesce(1).write.mode("append").parquet(path)
    run_batch()
    assert spark.read.parquet(out).count() == 0  # watermark still behind timeouts

    # sentinel from another user far in the future -> watermark jumps,
    # expired timeouts fire in the no-data batch after it
    spark.createDataFrame([(99, 100000)], "user_id long, sec long") \
        .coalesce(1).write.mode("append").parquet(path)
    run_batch()
    rows = {
        (r.user_id, r.session_start_sec, r.session_end_sec, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert rows == {(1, 1000, 1100, 2), (2, 2000, 2000, 1)}


def test_rebalance_groups_caps_to_min_group(spark):
    from yaetos_spark.operators.curation import rebalance_groups

    rows = [(i, "en") for i in range(5)] + [(10 + i, "de") for i in range(2)] \
        + [(20 + i, "fr") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = rebalance_groups(df, group_col="lang")
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 2, "de": 2, "fr": 2}  # min group size wins
    # deterministic: same survivors on re-run
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(r.doc_id for r in rebalance_groups(df, group_col="lang").collect())
    assert ids1 == ids2
    # explicit quota overrides the derived one
    out3 = rebalance_groups(df, group_col="lang", quota=1)
    assert out3.count() == 3


def test_doc_oov_counts_against_manual(spark):
    from yaetos_spark.operators.text import doc_oov_counts

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog"),
            (3, "zebra quark"),
            (4, "   "),  # whitespace-only: no tokens -> absent from output
        ],
        "doc_id long, text string",
    )
    # corpus counts: the=3, cat/sat/on/mat/dog/zebra/quark=1 each.
    # top_k=3 vocab by (count desc, word asc): the, cat, dog.
    out = {r.doc_id: (r.n_tokens, r.n_oov) for r in doc_oov_counts(df, top_k=3).collect()}
    assert out == {1: (6, 3), 2: (2, 0), 3: (2, 2)}


def test_skew_report_heavy_hitters(spark):
    from yaetos_spark.operators.skew import skew_report

    df = spark.createDataFrame(
        [("hot",)] * 60 + [("warm",)] * 30 + [("a",)] * 5 + [("b",)] * 5,
        "k string",
    )
    out = [(r.k, r.n, r.share) for r in skew_report(df, ["k"], top_k=3).collect()]
    assert out[0] == ("hot", 60, 0.6)
    assert out[1] == ("warm", 30, 0.3)
    assert out[2][0] == "a" and out[2][1] == 5  # tie with b broken by key asc


# ---------------------------------------------------------------- sketches


def test_count_min_exact_when_collision_free(spark):
    from yaetos_spark.operators.sketches import count_min_build, count_min_estimate

    rows = [(w,) for w, n in [("a", 5), ("b", 3), ("c", 1)] for _ in range(n)]
    df = spark.createDataFrame(rows, ["word"])
    sk = count_min_build(df, "word", depth=4, width=1024)
    keys = spark.createDataFrame([("a",), ("b",), ("c",), ("zz",)], ["word"])
    est = {
        r["word"]: r["est"]
        for r in count_min_estimate(sk, keys, "word", depth=4, width=1024).collect()
    }
    # wide sketch + 3 keys: no collisions possible to matter -> exact,
    # and a never-seen key estimates 0
    assert est == {"a": 5, "b": 3, "c": 1, "zz": 0}


def test_count_min_is_one_sided_under_collisions(spark):
    from yaetos_spark.operators.sketches import count_min_build, count_min_estimate

    rows = [(f"w{i % 50}",) for i in range(500)]
    df = spark.createDataFrame(rows, ["word"])
    # width 4 << 50 distinct keys: collisions guaranteed
    sk = count_min_build(df, "word", depth=2, width=4)
    keys = df.distinct()
    out = count_min_estimate(sk, keys, "word", depth=2, width=4)
    exact = df.groupBy("word").count()
    joined = out.join(exact, "word").collect()
    assert len(joined) == 50
    for r in joined:
        assert r["est"] >= r["count"], r  # the CMS guarantee
        assert r["est"] <= 500  # never exceeds the stream length


def test_count_min_merge_equals_union_build(spark):
    from yaetos_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
        count_min_merge,
    )

    a = spark.createDataFrame([("x",)] * 4 + [("y",)] * 2, ["word"])
    b = spark.createDataFrame([("x",)] * 1 + [("z",)] * 3, ["word"])
    merged = count_min_merge(
        count_min_build(a, "word", depth=3, width=256),
        count_min_build(b, "word", depth=3, width=256),
    )
    whole = count_min_build(a.unionByName(b), "word", depth=3, width=256)
    keys = spark.createDataFrame([("x",), ("y",), ("z",)], ["word"])
    em = {
        r["word"]: r["est"]
        for r in count_min_estimate(merged, keys, "word", depth=3, width=256).collect()
    }
    ew = {
        r["word"]: r["est"]
        for r in count_min_estimate(whole, keys, "word", depth=3, width=256).collect()
    }
    assert em == ew == {"x": 5, "y": 2, "z": 3}


def test_count_min_weighted(spark):
    from yaetos_spark.operators.sketches import count_min_build, count_min_estimate

    df = spark.createDataFrame([("a", 10), ("a", 5), ("b", 7)], ["word", "n"])
    sk = count_min_build(df, "word", depth=4, width=512, weight="n")
    keys = spark.createDataFrame([("a",), ("b",)], ["word"])
    est = {
        r["word"]: r["est"]
        for r in count_min_estimate(sk, keys, "word", depth=4, width=512).collect()
    }
    assert est == {"a": 15, "b": 7}


def test_bloom_no_false_negatives_and_fpp_bounded(spark):
    from pyspark.sql import functions as F

    from yaetos_spark.operators import sketches as SK

    member = spark.range(0, 500).select((F.col("id") * 3).alias("k"))
    m, k = SK.bloom_params(500, 0.01)
    bitmap = SK.bloom_build(member, "k", m, k)
    probe = spark.range(0, 10_000).select(F.col("id").alias("k"))
    hits = probe.filter(SK.bloom_might_contain(bitmap, F.col("k"), m, k))
    got = {r.k for r in hits.collect()}
    truth = {i * 3 for i in range(500)}
    assert truth <= got  # NO false negatives, ever
    fp = len(got - truth) / (10_000 - 500)
    assert fp < 0.03  # ~1% target with slack


def test_bloom_prefilter_join_is_exact(spark):
    from pyspark.sql import functions as F

    from yaetos_spark.operators import sketches as SK

    small = spark.range(0, 300).select((F.col("id") * 7).alias("k"), F.lit("d").alias("v"))
    big = spark.range(0, 5_000).select(F.col("id").alias("k"), (F.col("id") % 9).alias("x"))
    pruned = SK.bloom_prefilter(big, "k", small, "k", fpp=0.01)
    a = sorted(pruned.join(small, "k").select("k", "x", "v").collect())
    b = sorted(big.join(small, "k").select("k", "x", "v").collect())
    assert a == b and len(a) == 300


def test_bloom_membership_is_codegen_expression(spark):
    """The membership test must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython in the plan, and the filter sits at the scan."""
    from pyspark.sql import functions as F

    from yaetos_spark.operators import sketches as SK

    m, k = SK.bloom_params(100, 0.01)
    bitmap = SK.bloom_build(spark.range(100).select(F.col("id").alias("k")), "k", m, k)
    plan = (
        spark.range(1000)
        .select(F.col("id").alias("k"))
        .filter(SK.bloom_might_contain(bitmap, F.col("k"), m, k))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan


def test_bloom_arrow_path_matches_inline(spark):
    """The large-bitmap Arrow probe and the inline codegen expression
    must select exactly the same rows (same xxhash64 positions, same
    bitmap) — only the lookup mechanism differs."""
    from pyspark.sql import functions as F

    from yaetos_spark.operators import sketches as SK

    member = spark.range(0, 400).select((F.col("id") * 11).alias("k"))
    m, k = SK.bloom_params(400, 0.01)
    bitmap = SK.bloom_build(member, "k", m, k)
    big = spark.range(0, 8_000).select(F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
    inline = big.filter(SK.bloom_might_contain(bitmap, F.col("k"), m, k))
    arrow = SK._bloom_prefilter_arrow(big, "k", bitmap, m, k, 77)
    assert sorted(inline.collect()) == sorted(arrow.collect())


def test_hll_estimate_accuracy_and_merge(spark):
    from pyspark.sql import functions as F

    from yaetos_spark.operators import sketches as SK

    df = spark.range(10_000).select((F.col("id") * 7919).alias("k"))
    est = SK.hll_estimate(SK.hll_build(df, "k", p=12), p=12).collect()[0]["est"]
    assert abs(est - 10_000) / 10_000 < 0.05  # ~3x rsd(p=12)=1.6%

    # merge(a, b) == build(a union b), register-exact
    a = spark.range(0, 3_000).select(F.col("id").alias("k"))
    b = spark.range(2_000, 6_000).select(F.col("id").alias("k"))
    merged = {
        (r.bucket, r.rho)
        for r in SK.hll_merge(SK.hll_build(a, "k"), SK.hll_build(b, "k")).collect()
    }
    whole = {(r.bucket, r.rho) for r in SK.hll_build(a.union(b), "k").collect()}
    assert merged == whole

    # duplicates don't move the estimate: registers are max-based
    dup = df.union(df).union(df)
    assert (
        SK.hll_estimate(SK.hll_build(dup, "k", p=12), p=12).collect()[0]["est"] == est
    )


def test_hll_small_range_uses_linear_counting(spark):
    from pyspark.sql import functions as F

    from yaetos_spark.operators import sketches as SK

    df = spark.range(40).select(F.col("id").alias("k"))
    est = SK.hll_estimate(SK.hll_build(df, "k", p=12), p=12).collect()[0]["est"]
    # linear counting is near-exact when n << m=4096
    assert abs(est - 40) <= 2


def test_dedup_corpus_lines_semantics(spark):
    from yaetos_spark.operators.curation import dedup_corpus_lines

    docs = spark.createDataFrame(
        [
            (1, "unique one\nCOOKIE BANNER\nreal content A"),
            (2, "COOKIE BANNER\nreal content B\n  COOKIE BANNER  "),
            (3, "COOKIE BANNER\nother text"),
            (4, "all mine\nall mine too"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.text_clean, r.n_kept, r.n_removed)
        for r in dedup_corpus_lines(docs, min_docs=3).collect()
    }
    # hot line removed wherever it appears, trim-matched (doc 2's
    # padded copy goes too), order of survivors preserved
    assert out[1] == ("unique one\nreal content A", 2, 1)
    assert out[2] == ("real content B", 1, 2)
    assert out[3] == ("other text", 1, 1)
    # below-threshold lines untouched; empty doc keeps its empty line
    assert out[4] == ("all mine\nall mine too", 2, 0)
    assert out[5] == ("", 1, 0)
    # threshold is distinct-doc count, not occurrence count
    dup_in_one = spark.createDataFrame(
        [(1, "x\nx\nx"), (2, "y")], "doc_id long, text string"
    )
    out2 = {r.doc_id: r.n_removed for r in dedup_corpus_lines(dup_in_one, min_docs=2).collect()}
    assert out2 == {1: 0, 2: 0}


def test_zorder_key_locality_beats_single_sort(spark):
    """Morton key correctness + the property it exists for: with a 2-D
    clustered layout, BOTH dimensions get tight per-file ranges,
    whereas a single-column sort leaves the other dimension's ranges
    full-width."""
    from pyspark.sql import functions as F

    from yaetos_spark.operators.layout import zorder_key, zorder_layout

    df = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x int, y int"
    )
    keyed, key = zorder_key(df, ["x", "y"], bits_per_col=6)
    rows = keyed.collect()
    # interleave exactness: ranks are the values themselves (min=0,
    # max=63 at 6 bits), so the key must equal bit-interleaved (x, y)
    for r in rows[:200]:
        expect = 0
        for b in range(6):
            expect |= ((r.x >> b) & 1) << (2 * b) | ((r.y >> b) & 1) << (2 * b + 1)
        assert r._zorder == expect, (r.x, r.y)

    clustered = zorder_layout(df, ["x", "y"], bits_per_col=6, num_files=16)
    widths = (
        clustered.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            (F.max("x") - F.min("x")).alias("wx"),
            (F.max("y") - F.min("y")).alias("wy"),
        )
        .collect()
    )
    # every partition covers a sub-square in BOTH dims (64-wide domain;
    # 16 Morton tiles are 16x16, allow boundary slop)
    assert all(w.wx <= 32 and w.wy <= 32 for w in widths), widths
    assert clustered.count() == 64 * 64


def test_zorder_write_spec_and_row_preservation(spark, tmp_path):
    import os

    import pyarrow.parquet as pq

    from yaetos_spark.sources.writers import save_output

    df = spark.createDataFrame(
        [(i % 100, (i * 7) % 100, i) for i in range(5000)], "a int, b int, id int"
    )
    out = str(tmp_path / "z")
    save_output(
        df,
        {"path": out, "type": "parquet", "zorder_by": ["a", "b"],
         "repartition": 8, "mode": "overwrite"},
    )
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 8
    ids, wa, wb = [], [], []
    for f in files:
        t = pq.read_table(os.path.join(out, f), columns=["a", "b", "id"])
        a = t.column("a").to_pylist(); b = t.column("b").to_pylist()
        wa.append(max(a) - min(a)); wb.append(max(b) - min(b))
        ids.extend(t.column("id").to_pylist())
    assert sorted(ids) == list(range(5000))  # clustering lost no rows
    # per-file ranges shrink in BOTH dims (full width is 99; a plain
    # single-column sort leaves the other dim at ~99 in every file).
    # z-ranges crossing quadrant boundaries can span wide, so bound the
    # MEAN, not each file.
    assert sum(wa) / len(wa) <= 70 and sum(wb) / len(wb) <= 70, (wa, wb)


def test_zorder_key_validations(spark):
    import pytest

    from yaetos_spark.operators.layout import zorder_key

    df = spark.createDataFrame([(1, 2)], "x int, y int")
    with pytest.raises(ValueError, match="signed long"):
        zorder_key(df, ["x", "y"], bits_per_col=32)
    with pytest.raises(ValueError, match=">= 2"):
        zorder_key(df, ["x"])
    # constant / all-null columns degrade to rank 0, no crash
    dfc = spark.createDataFrame([(1, None), (2, None)], "x int, y int")
    keyed, _ = zorder_key(dfc, ["x", "y"], bits_per_col=4)
    assert keyed.count() == 2


def test_drop_near_duplicates_one_survivor_per_cluster(spark):
    from yaetos_spark.operators.dedup import drop_near_duplicates

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # ~dup of 1
            (5, "the quick brown fox jumps over a lazy dog"),    # ~dup of 1
            (3, "completely different text about spark engines"),
            (4, "another unrelated document entirely here now"),
        ],
        "doc_id long, text string",
    )
    out = sorted(r.doc_id for r in drop_near_duplicates(docs, n=3, threshold=0.3).collect())
    # cluster {1,2,5} keeps min id 1; singletons 3,4 survive untouched
    assert out == [1, 3, 4]
    # all original columns come through
    assert drop_near_duplicates(docs, n=3, threshold=0.3).columns == ["doc_id", "text"]
    # threshold nobody meets: everything survives
    assert drop_near_duplicates(docs, n=3, threshold=0.99).count() == 5


def test_spearman_per_group_matches_manual(spark):
    from yaetos_spark.operators.stats import spearman_per_group

    # group g: perfect monotone -> rho = 1; group h has ties in both vars
    rows = (
        [("g", i, float(i * i)) for i in range(1, 8)]
        + [("h", 1, 5.0), ("h", 1, 3.0), ("h", 2, 5.0), ("h", 4, 1.0)]
        + [("z", 1, 2.0), ("z", 1, 2.0)]  # all-ties: rho undefined -> NULL
    )
    df = spark.createDataFrame(rows, "grp string, x long, y double")
    out = {r.grp: (r.n, r.rho) for r in spearman_per_group(df, "grp", "x", "y").collect()}
    assert out["g"] == (7, 1.0)
    assert out["z"] == (2, None)

    # manual average-rank spearman for group h
    import math

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            r = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = r
            i = j + 1
        return ranks

    xs = [1, 1, 2, 4]; ys = [5.0, 3.0, 5.0, 1.0]
    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = 4
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx); syy = sum(b * b for b in ry)
    expect = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert abs(out["h"][1] - expect) < 1e-12


def test_assign_splits_deterministic_and_decorrelated(spark):
    from pyspark.sql import functions as F

    from yaetos_spark.operators.curation import assign_splits, bernoulli_sample

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    out = assign_splits(df, fractions={"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 4000) < 200 and abs(counts["val"] - 500) < 120

    # deterministic: identical assignment on re-run
    a = sorted((r.doc_id, r.split) for r in out.collect())
    b = sorted((r.doc_id, r.split) for r in assign_splits(
        df, fractions={"train": 0.8, "val": 0.1, "test": 0.1}).collect())
    assert a == b

    # salt decorrelates from bernoulli_sample's unsalted uniform: the
    # val+test 10%+10% tail must NOT be the same rows a p=0.2 sample keeps
    tail = {r.doc_id for r in out.where(F.col("split") != "train").collect()}
    kept = {r.doc_id for r in bernoulli_sample(df, 0.2).collect()}
    overlap = len(tail & kept) / len(tail)
    assert 0.05 < overlap < 0.4  # ~independent (0.2 expected), not ~1.0

    import pytest

    with pytest.raises(ValueError, match="fractions"):
        assign_splits(df, fractions={"a": 0.9, "b": 0.2})

    # plan is a pure projection: no exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_incremental_dedup_against_index(spark, tmp_path):
    import pytest

    from yaetos_spark.operators.dedup import minhash_signatures
    from yaetos_spark.streaming.batches import append_batch_exactly_once
    from yaetos_spark.streaming.dedup import dedup_against_index

    def index_ids(path):
        return sorted(r.id for r in spark.read.parquet(path).select("id").collect())

    idx = str(tmp_path / "sig_index")
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different text about spark engines and shuffles"),
        ],
        "doc_id long, text string",
    )
    append_batch_exactly_once(minhash_signatures(corpus), 0, idx)

    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),   # dup of 1
            (11, "a genuinely fresh document about parquet row groups"),
            (12, "a genuinely fresh document about parquet row group"),  # ~dup of 11
            (13, "another brand new unrelated piece of text entirely"),
        ],
        "doc_id long, text string",
    )
    out = dedup_against_index(batch, 1, idx, threshold=0.5)
    ids = sorted(r.doc_id for r in out.collect())
    # 10 drops (matches indexed doc 1), 11/12 collapse within-batch to 11
    assert ids == [11, 13]
    # index grew by exactly the survivors
    assert index_ids(idx) == [1, 2, 11, 13]

    # re-running batch 1 (a retry after a failed output write) returns
    # the same survivors and leaves the index as the first run left it
    again = dedup_against_index(batch, 1, idx, threshold=0.5)
    assert sorted(r.doc_id for r in again.collect()) == [11, 13]
    assert index_ids(idx) == [1, 2, 11, 13]
    # the same docs as a NEW batch are all duplicates of indexed docs
    assert dedup_against_index(batch, 2, idx, threshold=0.5).count() == 0
    assert index_ids(idx) == [1, 2, 11, 13]

    # cold start with no index: pure within-batch dedup, index seeded
    idx2 = str(tmp_path / "fresh_index")
    out2 = dedup_against_index(batch, 0, idx2, threshold=0.5)
    assert sorted(r.doc_id for r in out2.collect()) == [10, 11, 13]
    assert spark.read.parquet(idx2).count() == 3

    # crashed FIRST index write (dir exists but holds only _temporary/):
    # must self-heal as a cold start — not wedge every retry on
    # "unable to infer schema" until the dir is deleted by hand
    idx3 = tmp_path / "crashed_index"
    (idx3 / "_temporary" / "0").mkdir(parents=True)
    out3 = dedup_against_index(batch, 0, str(idx3), threshold=0.5)
    assert sorted(r.doc_id for r in out3.collect()) == [10, 11, 13]
    # the first batch write replaced the droppings with a real index
    assert spark.read.parquet(str(idx3)).count() == 3

    # an index without the _batch_id layout fails loudly on first use
    flat = str(tmp_path / "flat_index")
    minhash_signatures(corpus).write.parquet(flat)
    with pytest.raises(Exception, match="_batch_id"):
        dedup_against_index(batch, 1, flat, threshold=0.5)


def test_gopher_filter_rules(spark):
    from yaetos_spark.operators.curation import gopher_filter

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine ten"),  # ok
            (2, "short doc"),                                          # too few words
            (3, "spam spam spam spam spam spam spam spam spam here"),  # top-word + dup-bigram
            (4, "aa bb cc dd ee ff gg hh ii jj"),                      # short words
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in gopher_filter(
            docs, min_words=5, max_words=100, max_top_word_frac=0.5,
            max_dup_bigram_frac=0.5, min_avg_word_len=3.0,
        ).collect()
    }
    assert out[1].passes
    assert not out[2].ok_n_words and not out[2].passes
    assert not out[3].ok_top_word and not out[3].ok_dup_bigram
    assert not out[4].ok_word_len  # avg len 2 < 3
    # plan: zero shuffles (pure projection)
    plan = gopher_filter(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_gopher_filter_zero_word_documents(spark):
    """Empty and whitespace-only documents have zero words: the per-word
    ratio rules must fail them rather than divide by zero (an ANSI
    DIVIDE_BY_ZERO would fail the whole job for one such document)."""
    from yaetos_spark.operators.curation import gopher_filter

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in gopher_filter(
            docs, min_words=0, max_top_word_frac=0.5, max_dup_bigram_frac=0.5,
        ).collect()
    }
    for doc_id in (1, 2):
        r = out[doc_id]
        assert r.n_words == 0 and r.ok_n_words
        assert r.ok_top_word is False and r.ok_word_len is False
        assert r.passes is False
    assert out[3].passes


def test_quantize_embeddings_roundtrip_and_bound(spark):
    from pyspark.sql import functions as F

    from yaetos_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in dequantize_embeddings(quantize_embeddings(df)).collect()}
    # scale = 1/127; codes = floor(v*127 + 0.5) — halves round toward
    # +inf (the deterministic cross-engine choice): -63.5 -> -63
    assert out[1].qvec == [127, -63, 32, 0]
    assert out[2].qvec == [0, 0, 0, 0] and out[2].scale == 0.0
    # reconstruction error bounded by scale/2 everywhere
    for r in out.values():
        if r.scale:
            for v, d in zip(r.embedding, r.embedding_deq):
                assert abs(v - d) <= r.scale / 2 + 1e-12


def test_bloom_arrow_path_handles_negative_words(spark):
    """Spark longs are signed: a bitmap word with bit 63 set arrives as
    a NEGATIVE Python int. The Arrow probe must reinterpret it (int64
    view), not overflow — an all-ones bitmap (every word -1) must pass
    every key, and numpy must raise no conversion errors."""
    from pyspark.sql import functions as F

    from yaetos_spark.operators import sketches as SK

    m_bits, k = 640, 3
    bitmap = [-1] * (m_bits // 64)  # all 64 bits set in every word
    big = spark.range(0, 500).select(F.col("id").alias("k"))
    kept = SK._bloom_prefilter_arrow(big, "k", bitmap, m_bits, k, 77)
    assert kept.count() == 500


def test_interval_join_null_bounds_drop_not_raise(spark):
    """NULL start/end intervals must DROP under inner-join semantics
    (sequence(NULL,..) -> explode emits nothing) — three-valued when()
    must not route them into the explode-guard raise branch."""
    points = spark.createDataFrame([(1, 5.0), (2, 15.0)], "pid int, x double")
    intervals = spark.createDataFrame(
        [(10, 0.0, 10.0), (97, None, 10.0), (98, 12.0, None), (99, None, None)],
        "iid int, lo double, hi double",
    )
    out = {
        (r.pid, r.iid)
        for r in interval_join(
            points, intervals, "x", "lo", "hi", 1.0, max_buckets_per_interval=1000
        ).collect()
    }
    assert out == {(1, 10)}


def test_dedup_corpus_lines_null_text_doc_kept(spark):
    """A NULL-text doc must still yield an output row (text coalesces
    to '' pre-split); it previously vanished because split(NULL) is
    NULL and posexplode emits no rows."""
    from yaetos_spark.operators.curation import dedup_corpus_lines

    docs = spark.createDataFrame(
        [(1, "keep\nhot"), (2, "hot"), (3, None)], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in dedup_corpus_lines(docs, min_docs=2).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3].text_clean == "" and out[3].n_kept == 1 and out[3].n_removed == 0
    assert out[1].text_clean == "keep" and out[1].n_removed == 1


def _count_files(path):
    import os

    return sum(
        1 for _root, _d, fs in os.walk(path) for f in fs if not f.startswith(("_", "."))
    )


def test_vacuum_signature_index(spark, tmp_path):
    """Compacting the batch index: the partitions through the given
    batch fold into -1 with every row kept and fewer files, nothing is
    left beside the index, and the next batch dedups exactly as
    before the compaction."""
    import os

    from yaetos_spark.operators.dedup import minhash_signatures
    from yaetos_spark.streaming.batches import append_batch_exactly_once, compact_batches
    from yaetos_spark.streaming.dedup import dedup_against_index

    idx = str(tmp_path / "sig_index")
    corpus = spark.createDataFrame(
        [(i, f"seed document number {i} with words {i % 7}") for i in range(30)],
        "doc_id bigint, text string",
    )
    # eight seed batches, then two dedup batches: enough small files
    # for Spark's scan packing to merge
    sigs = minhash_signatures(corpus).localCheckpoint()
    for b in range(8):
        append_batch_exactly_once(sigs.where(f"id % 8 = {b}"), b, idx)
    for k in (8, 9):
        batch = spark.createDataFrame(
            [(1000 + 30 * k + i, f"batch {k} doc {i} fresh content {i}") for i in range(10)],
            "doc_id bigint, text string",
        )
        dedup_against_index(batch, k, idx)

    before = spark.read.parquet(idx)
    rows_before, files_before = before.count(), _count_files(idx)
    ids_before = sorted(r.id for r in before.select("id").collect())

    assert compact_batches(spark, idx, None, lambda sigs: sigs) is None  # no-op
    assert compact_batches(spark, idx, 8, lambda sigs: sigs) == rows_before
    after = spark.read.parquet(idx)
    assert {r._batch_id for r in after.select("_batch_id").distinct().collect()} == {-1, 9}
    assert sorted(r.id for r in after.select("id").collect()) == ids_before
    assert _count_files(idx) < files_before
    for leftover in ("__compact", "__old", "__compact.lock"):
        assert not os.path.exists(idx + leftover)

    # the index still serves incremental dedup: a near-dup of a seed
    # doc is dropped, a fresh doc survives
    probe = spark.createDataFrame(
        [(9001, "seed document number 3 with words 3"), (9002, "totally novel text here")],
        "doc_id bigint, text string",
    )
    assert {r.doc_id for r in dedup_against_index(probe, 10, idx).collect()} == {9002}


def test_compact_batches_folds_small_batches_into_one_file(spark, tmp_path):
    """Folding a few small batches writes ONE history file: the fold is
    coalesced by its input bytes, not left to Spark's scan packing,
    which gives every small file its own write task. Rows, ids and the
    unfolded batch are unchanged."""
    import os

    from yaetos_spark.operators.dedup import minhash_signatures
    from yaetos_spark.streaming.batches import append_batch_exactly_once, compact_batches

    idx = str(tmp_path / "sig_index")
    corpus = spark.createDataFrame(
        [(i, f"small batch document {i} words {i % 3}") for i in range(20)],
        "doc_id bigint, text string",
    )
    sigs = minhash_signatures(corpus).localCheckpoint()
    for b in range(4):
        append_batch_exactly_once(sigs.where(f"id % 4 = {b}").coalesce(1), b, idx)
    assert [_count_files(os.path.join(idx, f"_batch_id={b}")) for b in range(4)] == [1] * 4

    before = spark.read.parquet(idx)
    ids_before = sorted(r.id for r in before.select("id").collect())
    rows_before = sorted(map(repr, before.drop("_batch_id").collect()))

    assert compact_batches(spark, idx, 2, lambda sigs: sigs) == len(ids_before)
    assert _count_files(os.path.join(idx, "_batch_id=-1")) == 1
    assert _count_files(os.path.join(idx, "_batch_id=3")) == 1
    after = spark.read.parquet(idx)
    assert sorted(r.id for r in after.select("id").collect()) == ids_before
    assert sorted(map(repr, after.drop("_batch_id").collect())) == rows_before
    assert {r._batch_id for r in after.select("_batch_id").distinct().collect()} == {-1, 3}


def test_vacuum_mid_sequence_preserves_survivors(spark, tmp_path):
    """A compaction dropped into the middle of an incremental-dedup
    batch sequence must never change RESULTS, only file layout. Two
    arms run the identical seed + 4-batch sequence; arm B compacts
    the seed and the first two batches before the third. Every batch's
    survivor rows and the final index id-set must be digest-identical
    across arms."""
    import hashlib

    from yaetos_spark.operators.dedup import minhash_signatures
    from yaetos_spark.streaming.batches import append_batch_exactly_once, compact_batches
    from yaetos_spark.streaming.dedup import dedup_against_index

    def batch_docs(k):
        rows = []
        for i in range(12):
            did = 1000 + 100 * k + i
            if i % 3 == 0:
                # near-dup of a seed doc — must be dropped vs the index
                rows.append((did, f"seed document number {i} with stable words {i % 7}"))
            elif i % 3 == 1 and k >= 2:
                # near-dup of an earlier BATCH survivor — exercises the
                # batch rows (post-compaction: the -1 history rows)
                rows.append((did, f"batch 0 fresh doc {i} unique payload {i * 13}"))
            else:
                rows.append((did, f"batch {k} fresh doc {i} unique payload {i * 13 + k}"))
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def digest(df):
        rows = sorted(repr(r) for r in df.collect())
        return hashlib.md5("\n".join(rows).encode()).hexdigest()

    seed = spark.createDataFrame(
        [(i, f"seed document number {i} with stable words {i % 7}") for i in range(40)],
        "doc_id bigint, text string",
    )

    survivor_digests: dict[str, list[str]] = {}
    index_ids: dict[str, set] = {}
    for arm in ("control", "compacted"):
        idx = str(tmp_path / f"idx_{arm}")
        append_batch_exactly_once(minhash_signatures(seed), 0, idx)
        digests = []
        for k in range(4):
            if k == 2 and arm == "compacted":
                compact_batches(spark, idx, 2, lambda sigs: sigs)
            digests.append(digest(dedup_against_index(batch_docs(k), k + 1, idx)))
        survivor_digests[arm] = digests
        index_ids[arm] = {r.id for r in spark.read.parquet(idx).select("id").collect()}

    assert survivor_digests["control"] == survivor_digests["compacted"]
    assert index_ids["control"] == index_ids["compacted"]


def test_vacuum_lock_blocks_concurrent_append(spark, tmp_path):
    """A batch landing between a compaction's read and its rename swap
    would be silently lost. The advisory lock sentinel turns that
    overlap into a loud error on BOTH sides: a batch write refuses
    while the lock exists, and a second compaction refuses to start
    over an existing lock."""
    import os

    import pytest

    from yaetos_spark.operators.dedup import minhash_signatures
    from yaetos_spark.streaming.batches import append_batch_exactly_once, compact_batches
    from yaetos_spark.streaming.dedup import dedup_against_index

    idx = str(tmp_path / "sig_index")
    corpus = spark.createDataFrame(
        [(i, f"lock test doc {i} content {i % 5}") for i in range(10)],
        "doc_id bigint, text string",
    )
    append_batch_exactly_once(minhash_signatures(corpus), 0, idx)

    lock = idx + "__compact.lock"
    open(lock, "w").close()
    batch = spark.createDataFrame(
        [(500, "fresh text for the locked append")], "doc_id bigint, text string"
    )
    with pytest.raises(RuntimeError, match="being compacted"):
        dedup_against_index(batch, 1, idx)
    with pytest.raises(RuntimeError, match="stale lock"):
        compact_batches(spark, idx, 0, lambda sigs: sigs)
    os.unlink(lock)

    # with the lock gone both proceed normally
    assert dedup_against_index(batch, 1, idx).count() == 1
    assert compact_batches(spark, idx, 1, lambda sigs: sigs) == 11
    assert not os.path.exists(lock)
