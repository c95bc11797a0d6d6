import os
import shutil
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from yaetos_spark.sources.tables import load_table
from yaetos_spark.streaming.jobs import (
    incremental_file_stream,
    run_available_now,
    run_to_memory,
    windowed_counts,
)


@pytest.fixture()
def events_dir(spark, sf_dir, tmp_path):
    # re-materialize events (ns ts already normalized) as a stream source;
    # declare ts as LTZ timestamp explicitly so the re-read doesn't infer NTZ
    ev = load_table(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "events_src")
    ev.write.parquet(path)
    return path, ev.schema


def test_windowed_counts_stream(spark, events_dir):
    path, schema = events_dir
    stream = incremental_file_stream(spark, path, schema)
    assert stream.isStreaming
    agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
    run_to_memory(agg, "win_counts", output_mode="complete")
    out = spark.sql("SELECT * FROM win_counts")
    assert out.count() > 0
    # batch equivalent must agree
    batch = (
        spark.read.schema(schema).parquet(path)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert out.agg(F.sum("n")).collect()[0][0] == batch.agg(F.sum("n")).collect()[0][0]


def test_available_now_incremental(spark, events_dir, tmp_path):
    path, schema = events_dir
    out_path = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    stream = incremental_file_stream(spark, path, schema).filter(F.col("event_type") == "click")
    run_available_now(stream, ckpt, out_path)
    n1 = spark.read.parquet(out_path).count()
    assert n1 > 0
    # second pass: no new files → no new rows (idempotent incremental)
    stream2 = incremental_file_stream(spark, path, schema).filter(F.col("event_type") == "click")
    run_available_now(stream2, ckpt, out_path)
    assert spark.read.parquet(out_path).count() == n1


def test_streaming_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """CDC upsert via foreachBatch + dynamic partition overwrite: run 2
    updates one key and inserts another; untouched buckets' files are
    byte-identical (not rewritten), and the snapshot reads back as the
    merged current state."""
    import os

    from yaetos_spark.streaming.upsert import read_snapshot, streaming_upsert

    src = str(tmp_path / "cdc")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema("id long, v string, seq long").parquet(src)
        q = streaming_upsert(stream, snap, ["id"], "seq", ckpt, n_buckets=8)
        q.awaitTermination(timeout=120)
        assert not q.isActive

    spark.createDataFrame(
        [(1, "a0", 0), (1, "a1", 1), (2, "b0", 0), (3, "c0", 0)], "id long, v string, seq long"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    state = {r.id: (r.v, r.seq) for r in read_snapshot(spark, snap).collect()}
    assert state == {1: ("a1", 1), 2: ("b0", 0), 3: ("c0", 0)}  # per-key compaction

    # snapshot of on-disk files per bucket before run 2
    def bucket_files():
        out = {}
        for d in os.listdir(snap):
            if d.startswith("_bucket="):
                full = os.path.join(snap, d)
                out[d] = {(f, os.path.getmtime(os.path.join(full, f)))
                          for f in os.listdir(full) if f.endswith(".parquet")}
        return out

    before = bucket_files()

    spark.createDataFrame([(1, "a2", 2), (9, "z0", 0)], "id long, v string, seq long") \
        .coalesce(1).write.mode("append").parquet(src)
    run()
    state = {r.id: (r.v, r.seq) for r in read_snapshot(spark, snap).collect()}
    assert state == {1: ("a2", 2), 2: ("b0", 0), 3: ("c0", 0), 9: ("z0", 0)}

    after = bucket_files()
    from yaetos_spark.streaming.upsert import _bucket
    probe = spark.createDataFrame([(1,), (9,)], "id long").select(_bucket(["id"], 8).alias("b"))
    touched = {f"_bucket={r.b}" for r in probe.collect()}
    untouched_before = {k: v for k, v in before.items() if k not in touched}
    for d, files in untouched_before.items():
        assert after[d] == files, f"untouched bucket {d} was rewritten"


def test_dedup_stream_drops_replays_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark state survives the checkpoint:
    a replay of event 2 in run 2 is dropped, the new event 3 passes."""
    from yaetos_spark.streaming.jobs import dedup_stream

    src = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        stream = spark.readStream.schema("event_id long, ts timestamp, v string").parquet(src)
        q = (
            dedup_stream(stream, ["event_id"], "ts", delay="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=120)
        assert not q.isActive

    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"), (2, "2024-01-01 10:01:00", "b"),
         (2, "2024-01-01 10:01:00", "b")],  # in-batch dup
        "event_id long, ts_s string, v string",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "v") \
        .coalesce(1).write.mode("append").parquet(src)
    run()
    spark.createDataFrame(
        [(2, "2024-01-01 10:05:00", "b"), (3, "2024-01-01 10:06:00", "c")],  # cross-batch replay + new
        "event_id long, ts_s string, v string",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "v") \
        .coalesce(1).write.mode("append").parquet(src)
    run()
    ids = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 3]


def test_streaming_upsert_rejects_bucket_count_change(spark, tmp_path):
    from yaetos_spark.streaming.upsert import merge_batch_into_snapshot

    snap = str(tmp_path / "snap")
    df = spark.createDataFrame([(1, "a", 0)], "id long, v string, seq long")
    merge_batch_into_snapshot(df, snap, ["id"], "seq", n_buckets=8)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets=8"):
        merge_batch_into_snapshot(df, snap, ["id"], "seq", n_buckets=16)


def test_interval_join_streams(spark, tmp_path):
    """Impression x conversion attribution join: matches only within
    the gap window, state evictable via the two-sided time bound."""
    from yaetos_spark.streaming.jobs import interval_join_streams

    imp_p = str(tmp_path / "imp")
    conv_p = str(tmp_path / "conv")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "ad1"), (2, "2024-01-01 10:00:00", "ad2")],
        "uid long, its_s string, ad string",
    ).selectExpr("uid", "CAST(its_s AS TIMESTAMP) AS its", "ad") \
        .coalesce(1).write.parquet(imp_p)
    spark.createDataFrame(
        [(1, "2024-01-01 10:04:00", 9.99),   # within 5 min of ad1 -> match
         (2, "2024-01-01 11:00:00", 5.00),   # 60 min later -> no match
         (1, "2024-01-01 09:59:00", 1.00)],  # before impression -> no match
        "cuid long, cts_s string, amount double",
    ).selectExpr("cuid", "CAST(cts_s AS TIMESTAMP) AS cts", "amount") \
        .coalesce(1).write.parquet(conv_p)

    imp = spark.readStream.schema("uid long, its timestamp, ad string").parquet(imp_p)
    conv = spark.readStream.schema("cuid long, cts timestamp, amount double").parquet(conv_p)
    joined = interval_join_streams(
        imp, conv, left_key="uid", right_key="cuid",
        left_ts="its", right_ts="cts", max_gap_sec=300,
    ).select("uid", "ad", "amount")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    assert not q.isActive
    rows = [(r.uid, r.ad, r.amount) for r in spark.read.parquet(out).collect()]
    assert rows == [(1, "ad1", 9.99)]


def test_exactly_once_append_survives_batch_replay(spark, tmp_path):
    """A replayed foreachBatch (at-least-once delivery) must not
    duplicate rows: the batch rewrites its own _batch_id partition."""
    from yaetos_spark.streaming.batches import (
        append_batch_exactly_once,
        streaming_append_exactly_once,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(src)

    stream = spark.readStream.schema("id long, v string").parquet(src)
    q = streaming_append_exactly_once(stream, out, ckpt)
    q.awaitTermination(timeout=120)
    assert not q.isActive
    first = spark.read.parquet(out)
    assert first.count() == 2

    # simulate the engine replaying batch 0 after a failure-before-commit
    replay = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    append_batch_exactly_once(replay, 0, out)
    again = spark.read.parquet(out)
    assert again.count() == 2  # NOT 4 — replay rewrote, didn't append
    assert {r.v for r in again.collect()} == {"a", "b"}

    # a genuinely new batch appends under its own partition
    append_batch_exactly_once(
        spark.createDataFrame([(3, "c")], "id long, v string"), 1, out
    )
    assert spark.read.parquet(out).count() == 3


def test_interval_join_streams_left_outer_emits_unmatched(spark, tmp_path):
    """Unattributed impressions must surface with NULL conversion
    columns once the watermark passes, not vanish."""
    from yaetos_spark.streaming.jobs import interval_join_streams

    imp_p = str(tmp_path / "imp")
    conv_p = str(tmp_path / "conv")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "ad1"), (2, "2024-01-01 10:00:00", "ad2"),
         # watermark mover far in the future so earlier join windows close
         (99, "2024-01-02 00:00:00", "adX")],
        "uid long, its_s string, ad string",
    ).selectExpr("uid", "CAST(its_s AS TIMESTAMP) AS its", "ad") \
        .coalesce(1).write.parquet(imp_p)
    spark.createDataFrame(
        [(1, "2024-01-01 10:04:00", 9.99),
         (99, "2024-01-02 00:00:01", 0.01)],  # watermark mover on the right
        "cuid long, cts_s string, amount double",
    ).selectExpr("cuid", "CAST(cts_s AS TIMESTAMP) AS cts", "amount") \
        .coalesce(1).write.parquet(conv_p)

    imp = spark.readStream.schema("uid long, its timestamp, ad string").parquet(imp_p)
    conv = spark.readStream.schema("cuid long, cts timestamp, amount double").parquet(conv_p)
    joined = interval_join_streams(
        imp, conv, left_key="uid", right_key="cuid",
        left_ts="its", right_ts="cts", max_gap_sec=300,
        watermark="10 minutes", how="left_outer",
    ).select("uid", "ad", "amount")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=180)
    assert not q.isActive
    rows = {(r.uid, r.ad): r.amount for r in spark.read.parquet(out).collect()}
    assert rows.get((1, "ad1")) == 9.99          # matched
    assert (2, "ad2") in rows and rows[(2, "ad2")] is None  # unmatched, NULL-padded


def test_interval_join_streams_rejects_full_outer(spark, tmp_path):
    import pytest as _pytest

    from yaetos_spark.streaming.jobs import interval_join_streams

    src = str(tmp_path / "src")
    spark.createDataFrame([(1,)], "k long").selectExpr(
        "k", "CAST('2024-01-01' AS TIMESTAMP) AS ts"
    ).write.parquet(src)
    s = spark.readStream.schema("k long, ts timestamp").parquet(src)
    with _pytest.raises(ValueError, match="left_outer"):
        interval_join_streams(s, s, "k", "k", "ts", "ts", 60, how="full_outer")


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: a streaming fact enriched against a static
    dimension needs no watermark and no state — the dimension is
    re-resolved per micro-batch (picks up dim updates between runs)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    dim = spark.createDataFrame([(1, "gold"), (2, "basic")], "uid long, tier string")

    spark.createDataFrame([(1, 10.0), (2, 5.0), (3, 1.0)], "uid long, amount double") \
        .write.parquet(src)
    stream = spark.readStream.schema("uid long, amount double").parquet(src)
    q = (
        stream.join(dim, "uid", "left")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    assert not q.isActive
    rows = {r.uid: r.tier for r in spark.read.parquet(out).collect()}
    assert rows == {1: "gold", 2: "basic", 3: None}


def test_streaming_count_min_matches_batch_and_survives_replay(spark, tmp_path):
    """Count-min maintained across micro-batches == sketch built in one
    batch over all the data; replaying a batch id rewrites its partition
    instead of double-counting; compaction preserves the cells."""
    from yaetos_spark.operators.sketches import count_min_build, count_min_estimate
    from yaetos_spark.streaming.sketch import (
        compact_count_min,
        read_count_min,
        sketch_batch_exactly_once,
        streaming_count_min,
    )

    src = str(tmp_path / "words")
    skd = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema("word string").parquet(src)
        q = streaming_count_min(stream, skd, ckpt, "word", depth=3, width=64)
        q.awaitTermination(timeout=120)
        assert not q.isActive

    b1 = [("a",)] * 3 + [("b",)] * 2
    b2 = [("a",)] * 1 + [("c",)] * 4
    spark.createDataFrame(b1, "word string").coalesce(1).write.mode("append").parquet(src)
    run()
    spark.createDataFrame(b2, "word string").coalesce(1).write.mode("append").parquet(src)
    run()

    whole = spark.createDataFrame(b1 + b2, "word string")
    batch_sketch = count_min_build(whole, "word", depth=3, width=64)
    maintained = read_count_min(spark, skd)
    keys = whole.distinct()

    def ests(sk):
        return {
            r["word"]: r["est"]
            for r in count_min_estimate(sk, keys, "word", depth=3, width=64).collect()
        }

    assert ests(maintained) == ests(batch_sketch) == {"a": 4, "b": 2, "c": 4}

    # replay batch 0 (foreachBatch at-least-once): partition rewritten,
    # not double-added
    replay = spark.createDataFrame(b1, "word string")
    sketch_batch_exactly_once(replay, 0, skd, "word", depth=3, width=64)
    assert ests(read_count_min(spark, skd)) == {"a": 4, "b": 2, "c": 4}

    # compaction folds history partitions without changing the cells
    compact_count_min(spark, skd, ckpt)
    assert ests(read_count_min(spark, skd)) == {"a": 4, "b": 2, "c": 4}
    import os

    parts = [d for d in os.listdir(skd) if d.startswith("_batch_id=")]
    assert parts == ["_batch_id=-1"]


def test_streaming_hll_matches_batch_and_survives_replay(spark, tmp_path):
    """HLL registers maintained across micro-batches == registers from
    one batch over all data; replaying a batch id rewrites its
    partition; compaction preserves the registers."""
    from yaetos_spark.operators.sketches import hll_build, hll_estimate
    from yaetos_spark.streaming.sketch import (
        compact_hll,
        hll_batch_exactly_once,
        read_hll,
        streaming_hll,
    )

    src = str(tmp_path / "keys")
    skd = str(tmp_path / "hll")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema("k long").parquet(src)
        q = streaming_hll(stream, skd, ckpt, "k", p=10)
        q.awaitTermination(timeout=120)
        assert not q.isActive

    b1 = [(i,) for i in range(0, 800)]
    b2 = [(i,) for i in range(500, 1500)]
    spark.createDataFrame(b1, "k long").coalesce(1).write.mode("append").parquet(src)
    run()
    spark.createDataFrame(b2, "k long").coalesce(1).write.mode("append").parquet(src)
    run()

    whole = spark.createDataFrame(b1 + b2, "k long")
    regs_stream = {(r.bucket, r.rho) for r in read_hll(spark, skd).collect()}
    regs_batch = {(r.bucket, r.rho) for r in hll_build(whole, "k", p=10).collect()}
    assert regs_stream == regs_batch

    est = hll_estimate(read_hll(spark, skd), p=10).collect()[0]["est"]
    assert abs(est - 1500) / 1500 < 0.10  # rsd(p=10) ~3.2%

    # replay batch 0: registers unchanged (partition rewritten)
    hll_batch_exactly_once(spark.createDataFrame(b1, "k long"), 0, skd, "k", p=10)
    assert {(r.bucket, r.rho) for r in read_hll(spark, skd).collect()} == regs_batch

    compact_hll(spark, skd, ckpt)
    assert {(r.bucket, r.rho) for r in read_hll(spark, skd).collect()} == regs_batch
    import os

    assert [d for d in os.listdir(skd) if d.startswith("_batch_id=")] == ["_batch_id=-1"]


def test_streaming_top_k_matches_batch_exact(spark, tmp_path):
    """Maintained heavy hitters across micro-batches == exact batch
    top-k over all the data (wide sketch -> estimates exact); replayed
    batch changes nothing."""
    from yaetos_spark.streaming.sketch import (
        read_top_k,
        streaming_top_k,
        topk_batch_exactly_once,
    )

    src = str(tmp_path / "words")
    std = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema("word string").parquet(src)
        q = streaming_top_k(stream, std, ckpt, "word", depth=3, width=1024,
                            candidates_per_batch=8)
        q.awaitTermination(timeout=120)
        assert not q.isActive

    # heavy keys split ACROSS batches; light keys everywhere
    b1 = [("hh1",)] * 30 + [("hh2",)] * 10 + [(f"x{i}",) for i in range(20)]
    b2 = [("hh2",)] * 25 + [("hh3",)] * 12 + [(f"y{i}",) for i in range(20)]
    spark.createDataFrame(b1, "word string").coalesce(1).write.mode("append").parquet(src)
    run()
    spark.createDataFrame(b2, "word string").coalesce(1).write.mode("append").parquet(src)
    run()

    got = [(r.word, r.est) for r in read_top_k(spark, std, "word", k=3, depth=3, width=1024).collect()]
    assert got == [("hh1", 30), ("hh2", 35), ("hh3", 12)] or got == [
        ("hh2", 35), ("hh1", 30), ("hh3", 12)
    ]
    # ordering is by estimate desc
    assert got[0][0] == "hh2" and got[0][1] == 35

    # replay batch 0: same state (partition rewritten, not re-added)
    topk_batch_exactly_once(
        spark.createDataFrame(b1, "word string"), 0, std, "word",
        depth=3, width=1024, candidates_per_batch=8,
    )
    again = [(r.word, r.est) for r in read_top_k(spark, std, "word", k=3, depth=3, width=1024).collect()]
    assert again == got


def test_streaming_histogram_quantiles_track_exact(spark, tmp_path):
    """Histogram maintained across micro-batches answers quantiles
    within one bucket of the exact value; cells equal a single-batch
    build; replay is idempotent."""
    from yaetos_spark.operators.sketches import (
        histogram_boundaries,
        histogram_build,
        histogram_quantile,
    )
    from yaetos_spark.streaming.sketch import (
        histogram_batch_exactly_once,
        read_histogram,
        streaming_histogram,
    )

    src = str(tmp_path / "vals")
    skd = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")

    # freeze boundaries on a historical sample covering the range
    hist = spark.range(0, 1000).select((F.col("id").cast("double")).alias("v"))
    bounds = histogram_boundaries(hist, "v", n_buckets=64)

    def run():
        stream = spark.readStream.schema("v double").parquet(src)
        q = streaming_histogram(stream, skd, ckpt, "v", bounds)
        q.awaitTermination(timeout=120)
        assert not q.isActive

    b1 = [(float(i),) for i in range(0, 500)]
    b2 = [(float(i),) for i in range(500, 1000)]
    spark.createDataFrame(b1, "v double").coalesce(1).write.mode("append").parquet(src)
    run()
    spark.createDataFrame(b2, "v double").coalesce(1).write.mode("append").parquet(src)
    run()

    merged = read_histogram(spark, skd)
    whole = histogram_build(spark.createDataFrame(b1 + b2, "v double"), "v", bounds)
    assert {(r.bucket, r.cnt) for r in merged.collect()} == {
        (r.bucket, r.cnt) for r in whole.collect()
    }
    # quantiles within ~2 buckets of exact (boundary snap + bucket mass)
    for q, exact in ((0.5, 499.5), (0.9, 899.0), (0.99, 989.0)):
        est = histogram_quantile(merged, bounds, q)
        assert abs(est - exact) <= 1000 / 64 * 2, (q, est)

    # replay: same cells
    before = {(r.bucket, r.cnt) for r in read_histogram(spark, skd).collect()}
    histogram_batch_exactly_once(spark.createDataFrame(b1, "v double"), 0, skd, "v", bounds)
    assert {(r.bucket, r.cnt) for r in read_histogram(spark, skd).collect()} == before


def test_native_session_window_stream(spark, tmp_path):
    """Spark's built-in session_window (gap-based session agg with
    watermark) — the declarative alternative to the custom
    applyInPandasWithState sessionizer; sessions emit once the
    watermark passes their close."""
    src = str(tmp_path / "ev")
    out = str(tmp_path / "sess")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema("user_id long, sec long")
            .parquet(src)
            .withColumn("ts", F.timestamp_seconds(F.col("sec")).cast("timestamp_ltz"))
            .withWatermark("ts", "30 minutes")
        )
        agg = (
            stream.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.unix_timestamp("session_window.start").alias("start_sec"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=120)
        assert not q.isActive

    spark.createDataFrame(
        [(1, 1000), (1, 1500), (2, 2000)], "user_id long, sec long"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    # far-future event pushes the watermark past every open session
    spark.createDataFrame([(9, 10_000_000)], "user_id long, sec long") \
        .coalesce(1).write.mode("append").parquet(src)
    run()
    rows = {
        (r.user_id, r.start_sec, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    # user 1's two events merge into one session (gap 500s < 30min)
    assert (1, 1000, 2) in rows and (2, 2000, 1) in rows


def test_append_mode_closes_windows_and_drops_late_data(spark, tmp_path):
    """The core late-data contract, across a RESTART: append mode emits
    a window only once the watermark passes its end; the watermark
    persists in the checkpoint commit log, so a second availableNow run
    DROPS an event older than the carried-over watermark instead of
    re-opening (or duplicating) the already-emitted window."""
    import datetime as dtm

    schema = "ts timestamp, event_type string, value double"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    t = lambda h, m=0: dtm.datetime(2024, 5, 1, h, m)
    # run 1: two events in the 10:00 window, one at 20:00 that drags
    # the watermark (2h lag) to 18:00 — far past the 10:00 window's end
    write_batch(
        [(t(10, 5), "a", 1.0), (t(10, 40), "a", 2.0), (t(20, 0), "b", 3.0)], "b1"
    )
    stream = spark.readStream.schema(schema).parquet(src)
    agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
    run_available_now(agg, ckpt, out)
    first = spark.read.parquet(out).collect()
    closed = {(r.window.start.hour, r.event_type): (r.n, r.total_value) for r in first}
    # the 10:00 window closed and emitted exactly once; 20:00 still open
    assert closed == {(10, "a"): (2, 3.0)}

    # run 2 (restart from the same checkpoint): one LATE event inside
    # the already-closed 10:00 window, one fresh event at 23:00
    write_batch([(t(10, 50), "a", 99.0), (t(23, 0), "c", 4.0)], "b2")
    stream2 = spark.readStream.schema(schema).parquet(src)
    agg2 = windowed_counts(stream2, window="1 hour", watermark="2 hours")
    run_available_now(agg2, ckpt, out)
    rows = spark.read.parquet(out).collect()
    got = {(r.window.start.hour, r.event_type): (r.n, r.total_value) for r in rows}
    # late event dropped: the 10:00 window was NOT re-emitted/updated;
    # the 20:00 window closed (watermark moved to 21:00 via 23:00)
    assert got == {(10, "a"): (2, 3.0), (20, "b"): (1, 3.0)}


# -- streaming incremental corpus dedup (streaming/dedup.py) -----------


def test_streaming_dedup_within_and_cross_batch(spark, tmp_path):
    """Two micro-batches through the signature index: within-batch dups
    collapse to the min-id representative, cross-batch dups of an
    already-accepted doc are dropped, fresh docs survive. Docs are
    exact copies or share zero shingles (disjoint vocabularies), so
    signature estimation is exact and the expected sets are sharp."""
    from yaetos_spark.streaming.dedup import read_survivors, streaming_dedup

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    out = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")

    t_a = "a0 a1 a2 a3 a4"
    t_b = "b0 b1 b2 b3 b4"
    t_c = "c0 c1 c2 c3 c4"

    def run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = streaming_dedup(stream, idx, out, ckpt, threshold=0.5)
        q.awaitTermination(timeout=120)
        assert not q.isActive

    # batch 0: doc2 duplicates doc0 -> within-batch dedup keeps 0
    spark.createDataFrame(
        [(0, t_a), (1, t_b), (2, t_a)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert {r.doc_id for r in read_survivors(spark, out).collect()} == {0, 1}

    # batch 1: doc10 duplicates accepted doc1 -> dropped against index;
    # doc12 duplicates doc11 -> within-batch keeps 11
    spark.createDataFrame(
        [(10, t_b), (11, t_c), (12, t_c)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert {r.doc_id for r in read_survivors(spark, out).collect()} == {0, 1, 11}
    # the index holds exactly the survivors' signatures
    sigs = spark.read.parquet(idx)
    assert {r.id for r in sigs.select("id").collect()} == {0, 1, 11}


def test_streaming_dedup_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch id must rewrite
    its partitions with identical content — in particular the replayed
    docs must NOT collide with their own signatures from the failed
    attempt (the naive-append failure mode, where every replayed doc
    estimates Jaccard 1.0 against itself and the whole batch vanishes)."""
    from yaetos_spark.streaming.dedup import dedup_batch_exactly_once, read_survivors

    idx = str(tmp_path / "index")
    out = str(tmp_path / "survivors")
    b0 = spark.createDataFrame(
        [(0, "a0 a1 a2 a3 a4"), (1, "b0 b1 b2 b3 b4")], "doc_id long, text string"
    )
    dedup_batch_exactly_once(b0, 0, idx, out, threshold=0.5)
    first = {(r.doc_id, r.text) for r in read_survivors(spark, out).collect()}
    assert {d for d, _ in first} == {0, 1}

    # replay the SAME batch id (failed-commit scenario)
    dedup_batch_exactly_once(b0, 0, idx, out, threshold=0.5)
    again = {(r.doc_id, r.text) for r in read_survivors(spark, out).collect()}
    assert again == first
    sigs = spark.read.parquet(idx)
    assert sigs.count() == sigs.select("id").distinct().count() == 2

    # a genuinely NEW batch still dedups against batch 0's survivors
    b1 = spark.createDataFrame(
        [(10, "a0 a1 a2 a3 a4"), (11, "z0 z1 z2 z3 z4")], "doc_id long, text string"
    )
    dedup_batch_exactly_once(b1, 1, idx, out, threshold=0.5)
    final = {r.doc_id for r in read_survivors(spark, out).collect()}
    assert final == {0, 1, 11}


def _commit_batches(tmp_path, *batch_ids) -> str:
    """Build a checkpoint dir whose commits/ records the given batch
    ids — the layout Structured Streaming writes one file per COMMITTED
    batch into (plus the .tmp noise a real checkpoint contains)."""
    ckpt = tmp_path / "ckpt_fake"
    commits = ckpt / "commits"
    commits.mkdir(parents=True, exist_ok=True)
    for b in batch_ids:
        (commits / str(b)).write_text("v1\n{}")
    (commits / ".0.tmp.crc").write_text("")
    return str(ckpt)


def test_streaming_dedup_index_compaction_preserves_semantics(spark, tmp_path):
    """Folding the index's COMMITTED batch partitions into the -1
    history partition must not change any future dedup decision, and a
    batch arriving AFTER compaction still dedups against the compacted
    history."""
    from yaetos_spark.streaming.dedup import (
        compact_index,
        dedup_batch_exactly_once,
        read_survivors,
    )

    idx = str(tmp_path / "index")
    out = str(tmp_path / "survivors")
    dedup_batch_exactly_once(
        spark.createDataFrame([(0, "a0 a1 a2 a3 a4")], "doc_id long, text string"),
        0, idx, out, threshold=0.5,
    )
    dedup_batch_exactly_once(
        spark.createDataFrame([(1, "b0 b1 b2 b3 b4")], "doc_id long, text string"),
        1, idx, out, threshold=0.5,
    )
    ckpt = _commit_batches(tmp_path, 0, 1)
    compact_index(spark, idx, ckpt)
    sigs = spark.read.parquet(idx)
    assert {r._batch_id for r in sigs.select("_batch_id").distinct().collect()} == {-1}
    assert sigs.count() == 2
    # post-compaction batch: dup of history doc 0 dropped, fresh doc kept
    dedup_batch_exactly_once(
        spark.createDataFrame(
            [(10, "a0 a1 a2 a3 a4"), (11, "z0 z1 z2 z3 z4")],
            "doc_id long, text string",
        ),
        2, idx, out, threshold=0.5,
    )
    assert {r.doc_id for r in read_survivors(spark, out).collect()} == {0, 1, 11}
    # compaction replay is idempotent (batch 2 committed by now)
    compact_index(spark, idx, _commit_batches(tmp_path, 0, 1, 2))
    assert spark.read.parquet(idx).count() == 3


def test_streaming_dedup_compaction_reads_real_checkpoint(spark, tmp_path):
    """compact_index against the checkpoint a REAL streaming run wrote
    (not a fabricated commits dir): after the availableNow query drains
    and commits, its batches fold into -1; the commits-dir layout
    assumption (files named by batch id) is validated against what
    Structured Streaming actually writes."""
    from yaetos_spark.streaming.batches import last_committed_batch
    from yaetos_spark.streaming.dedup import (
        compact_index,
        read_survivors,
        streaming_dedup,
    )

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    out = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(0, "a0 a1 a2 a3 a4"), (1, "b0 b1 b2 b3 b4")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = streaming_dedup(stream, idx, out, ckpt, threshold=0.5)
    q.awaitTermination(timeout=120)
    assert not q.isActive
    # the real checkpoint recorded batch 0 as committed
    assert last_committed_batch(spark, ckpt) == 0
    compact_index(spark, idx, ckpt)
    sigs = spark.read.parquet(idx)
    assert {r._batch_id for r in sigs.select("_batch_id").distinct().collect()} == {-1}
    # post-compaction streaming continuation still dedups against history
    spark.createDataFrame(
        [(10, "a0 a1 a2 a3 a4"), (11, "z0 z1 z2 z3 z4")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(src)
    q2 = streaming_dedup(stream2, idx, out, ckpt, threshold=0.5)
    q2.awaitTermination(timeout=120)
    assert {r.doc_id for r in read_survivors(spark, out).collect()} == {0, 1, 11}


def _index_compaction(spark, root):
    from yaetos_spark.streaming.dedup import (
        compact_index,
        dedup_batch_exactly_once,
        read_survivors,
    )

    idx, out = f"{root}/index", f"{root}/survivors"

    def write(rows, batch_id):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        dedup_batch_exactly_once(docs, batch_id, idx, out, threshold=0.5)

    def state():
        # survivors and index ids, sorted: a doubled id is a stale
        # partition left next to the history partition
        return (
            sorted(r.doc_id for r in read_survivors(spark, out).collect()),
            sorted(r.id for r in spark.read.parquet(idx).select("id").collect()),
        )

    return SimpleNamespace(
        dir=idx,
        batches=[[(0, "a0 a1 a2 a3 a4")], [(10, "c0 c1 c2 c3 c4"), (11, "d0 d1 d2 d3 d4")]],
        write=write,
        compact=lambda ckpt: compact_index(spark, idx, ckpt),
        state=state,
        expected=lambda: ([0, 10, 11], [0, 10, 11]),
    )


def _count_min_compaction(spark, root):
    from yaetos_spark.operators.sketches import count_min_build, count_min_estimate
    from yaetos_spark.streaming.sketch import (
        compact_count_min,
        read_count_min,
        sketch_batch_exactly_once,
    )

    skd = f"{root}/sketch"
    batches = [[("a",)] * 3, [("a",)] * 2]

    def words(rows):
        return spark.createDataFrame(rows, "word string")

    def ests(cells):
        est = count_min_estimate(cells, words([("a",)]), "word", depth=2, width=16)
        return {r.word: r.est for r in est.collect()}

    return SimpleNamespace(
        dir=skd,
        batches=batches,
        write=lambda rows, b: sketch_batch_exactly_once(
            words(rows), b, skd, "word", depth=2, width=16
        ),
        compact=lambda ckpt: compact_count_min(spark, skd, ckpt),
        state=lambda: ests(read_count_min(spark, skd)),
        expected=lambda: ests(
            count_min_build(words(batches[0] + batches[1]), "word", depth=2, width=16)
        ),
    )


def _hll_compaction(spark, root):
    from yaetos_spark.operators.sketches import hll_build
    from yaetos_spark.streaming.sketch import compact_hll, hll_batch_exactly_once, read_hll

    skd = f"{root}/hll"
    batches = [[(i,) for i in range(40)], [(i,) for i in range(20, 60)]]

    def keys(rows):
        return spark.createDataFrame(rows, "k long")

    def registers(regs):
        return {(r.bucket, r.rho) for r in regs.collect()}

    return SimpleNamespace(
        dir=skd,
        batches=batches,
        write=lambda rows, b: hll_batch_exactly_once(keys(rows), b, skd, "k", p=4),
        compact=lambda ckpt: compact_hll(spark, skd, ckpt),
        state=lambda: registers(read_hll(spark, skd)),
        expected=lambda: registers(hll_build(keys(batches[0] + batches[1]), "k", p=4)),
    )


# the three committed-batch compactions, each over its own sink layout:
# ``write`` lands one micro-batch, ``state`` reads what a consumer sees,
# ``expected`` is that state built from both batches in one shot
_COMPACTIONS = {
    "index": _index_compaction,
    "count_min": _count_min_compaction,
    "hll": _hll_compaction,
}


def _batch_ids(path) -> set[int]:
    return {int(d.split("=")[1]) for d in os.listdir(path) if d.startswith("_batch_id=")}


@pytest.mark.parametrize("kind", ["index", "count_min"])
def test_streaming_dedup_compaction_spares_uncommitted_batches(spark, tmp_path, kind):
    """The crash-then-compact-then-replay hazard: batch 1's sink data
    landed but its checkpoint commit did NOT (crash between the
    foreachBatch writes and the offset commit). Compaction must leave
    that partition alone, because restart replays batch 1 into it.
    Folded into -1, the replay would defeat the index's
    ``_batch_id != batch_id`` exclusion (every replayed doc would
    self-collide at estimated Jaccard 1.0 and the batch would silently
    vanish) and would add the count-min cells a second time."""
    case = _COMPACTIONS[kind](spark, str(tmp_path / "sink"))
    for b, rows in enumerate(case.batches):
        case.write(rows, b)
    # only batch 0 appears in the checkpoint's commits dir
    case.compact(_commit_batches(tmp_path, 0))
    after_compaction = _batch_ids(case.dir)
    case.write(case.batches[1], 1)  # restart replays batch 1
    assert case.state() == case.expected()
    assert after_compaction == {-1, 1}

    # with NOTHING committed, compaction is a no-op (nothing is safe)
    fresh = _COMPACTIONS[kind](spark, str(tmp_path / "fresh"))
    fresh.write(fresh.batches[0], 0)
    fresh.compact(str(tmp_path / "ckpt_empty"))
    assert _batch_ids(fresh.dir) == {0}


@pytest.mark.parametrize("kind", sorted(_COMPACTIONS))
def test_streaming_dedup_compaction_pins_static_overwrite(spark, tmp_path, kind):
    """An ambient partitionOverwriteMode=dynamic must not change any
    compaction's result: the full-directory replace is pinned static on
    the write, so folded batch partitions cannot survive next to -1 and
    be read twice."""
    case = _COMPACTIONS[kind](spark, str(tmp_path))
    for b, rows in enumerate(case.batches):
        case.write(rows, b)
    ckpt = _commit_batches(tmp_path, 0, 1)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        case.compact(ckpt)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert case.state() == case.expected()
    assert _batch_ids(case.dir) == {-1}
    # ambient setting restored, not clobbered by the pin
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == prev


@pytest.mark.parametrize("kind", sorted(_COMPACTIONS))
def test_streaming_compaction_failure_leaves_sink_intact(spark, tmp_path, kind):
    """A compaction whose write fails must leave the sink as it was.
    ``parquet.writer.version=BOGUS`` reaches the write's hadoop conf
    and fails the write after the sink was read; an in-place overwrite
    has deleted the batch partitions by then. Once the conf is gone, a
    retry completes the fold, replacing whatever an earlier attempt
    left beside the sink."""
    case = _COMPACTIONS[kind](spark, str(tmp_path))
    for b, rows in enumerate(case.batches):
        case.write(rows, b)
    ckpt = _commit_batches(tmp_path, 0, 1)
    before = case.state()
    spark.conf.set("parquet.writer.version", "BOGUS")
    try:
        with pytest.raises(Exception):
            case.compact(ckpt)
    finally:
        spark.conf.unset("parquet.writer.version")
    assert _batch_ids(case.dir) == {0, 1}
    assert case.state() == before
    # an attempt whose write landed beside the sink but never swapped
    shutil.copytree(case.dir, case.dir + "__compact", dirs_exist_ok=True)
    case.compact(ckpt)
    assert case.state() == case.expected()
    assert _batch_ids(case.dir) == {-1}


def test_streaming_dedup_unreadable_index_raises(spark, tmp_path):
    """A corrupt/unreadable EXISTING index must fail the batch loudly —
    not masquerade as a cold start (which would skip cross-batch dedup
    and permanently re-admit duplicates). No survivor data may land for
    the failed batch."""
    import pytest

    from yaetos_spark.streaming.dedup import dedup_batch_exactly_once

    idx = tmp_path / "index"
    out = tmp_path / "survivors"
    # an index path that EXISTS but is not readable parquet
    idx.mkdir()
    (idx / "part-00000.parquet").write_text("this is not parquet")
    with pytest.raises(Exception):
        dedup_batch_exactly_once(
            spark.createDataFrame(
                [(0, "a0 a1 a2 a3 a4")], "doc_id long, text string"
            ),
            0, str(idx), str(out), threshold=0.5,
        )
    # the batch failed BEFORE any sink write
    import os

    assert not os.path.exists(str(out))
