"""Scale evidence for the corpus: per-query wall time, rows and bytes.

Two subcommands share one run loop, one session and one environment
fingerprint:

    python tools/scale.py audit [sf_dir] [query ...] [--out PATH]
    python tools/scale.py smoke [base_sf_dir] [--repl N] [--out PATH]

``audit`` runs every ``queries()`` entry (or the named subset) at one
scale factor. A full run writes ``artifacts/SCALE_AUDIT.json``; a subset
run prints its JSON to stdout unless ``--out`` is given, so partial runs
cannot overwrite the full artifact.

``smoke`` answers the next question: when the fact tables grow
``repl``-fold, does each heavy query's cost grow about linearly, or blow
up (hidden quadratic pair generation, driver collect, skew)? It builds
a synthetic replica of the base dir (``build_replica``), runs
``SMOKE_QUERIES`` on both in one session and records growth ratios of
time, rows, shuffle-write bytes and input bytes. Output defaults to
``artifacts/SCALE_SMOKE_{repl}X.json``.

Every record is ``{rows, sec, err}`` plus the bytes the query's Spark
jobs read, shuffled and spilled, and the number of stages they ran.
Wall time is hostage to host noise (CPU steal inflates every second);
bytes are not, so a byte ratio far beyond ``repl`` flags a super-linear
plan even on a contended host. The bytes come from Spark's event log,
grouped by the job group set before each query, so the status UI stays
off. Jobs a query submits from its own Python threads carry no job
group and are not counted.

Defaults: sf_dir / base = $SPARK_GRAFT_SF_DIR, else the sf0.1 test
tables (TESTDATA.md); repl = 10. The replica is written under the
system temp dir and reused while its marker matches the base, ``repl``
and layout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACTS = os.path.join(REPO, "artifacts")
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from perfbench.tracing import find_event_log, parse_event_log  # noqa: E402
from yaetos_spark.session import get_spark, materialize_fully  # noqa: E402
from yaetos_spark.sources.tables import TABLE_NAMES, load_table  # noqa: E402

LOG_FIELDS = ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
               "spill_bytes", "stages")

# fact tables replicate with a key shift; everything else copies as-is
KEY_OFF = 100_000_000

SMOKE_QUERIES = [
    # the heavy five (iterative / pair-generating / multi-ntile)
    "rfm_segments",
    "pagerank_trade_graph",
    "near_dup_survivors",
    "ivf_ann_exactprobe",
    "dedup_clusters",
    # high-diameter star-CC (r7): events grow 10x as LONGER per-user
    # chains, so this is the growth direction the O(log n) operator
    # exists for — rounds grow logarithmically while per-round work
    # grows linearly
    "chain_components",
    # r9: the skew_robust phase mode (partial-agg groupBy+join) on the
    # same growth direction — evidence the robust plan scales too
    "chain_components_robust",
    # pair-generating dedup + similarity paths
    "minhash_lsh_pairs",
    "simhash_docs",
    "dedup_exact_norm",
    "ann_cosine_topk",
    # r10: the Arrow rolling-hash winnowing production path — the
    # mapInPandas stage must grow linearly like the SQL variant does
    "winnow_rolling_pairs",
    # r9: the two late-round text-path rewrites — winnow's groupBy
    # doc-frequency guard and the one-pass corpus line dedup — tracked
    # here so their growth ratios refresh automatically per round
    "winnow_overlap_pairs",
    "corpus_line_dedup",
    # r9: the #1 SCALE_AUDIT query (two parallel-submitted batch dedup
    # pipelines + cross-batch signature filter) — its growth ratio was
    # previously hand-measured per round; now automatic
    "incremental_dedup_survivors",
    # r11: DSIR gram-explosion scan (persisted once, consumed twice) +
    # broadcast weight join — the gram fan-out must grow linearly and
    # the forced weight-frame broadcast stays n_buckets-bounded at any
    # scale, which is exactly what this smoke exists to demonstrate
    "dsir_scores",
    # shuffle-heavy relational / sessionization staples
    "pricing_summary",
    "topk_revenue",
    "sessionize_events",
]


def _env_signal() -> dict:
    """Environmental-noise fingerprint: 1-minute load average plus a
    fixed CPU-bound spin loop. On a quiet host spin_sec is a stable
    constant (~0.64 s on a 4-core host); an inflated value marks
    the run as contended, so its timings read as noise rather than as
    plan regressions."""
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    spin = time.perf_counter() - t0
    try:
        load1 = os.getloadavg()[0]
    except OSError:
        load1 = None
    return {"load_avg_1m": round(load1, 2) if load1 is not None else None,
            "spin_sec": round(spin, 3)}


def run_audit(spark, sf_dir: str, names=None, label: str = "base") -> dict:
    """Materialize each named query once; ``{name: {rows, sec, err}}``.

    Each query runs under job group ``{label}:{name}`` so the event log
    attributes its bytes (``attach_bytes``)."""
    qs = entrymod.queries()
    names = list(names) if names else list(qs)
    sc = spark.sparkContext
    results = {}
    # Untimed warm-up: whichever query runs FIRST otherwise absorbs the
    # fresh session's JIT/codegen/first-parquet cost (r9: it inflated
    # incremental_dedup_survivors to 19.2 s vs its 5.6-6.9 s warm
    # cost), so the "worst" column ranked positions, not plans. Its own
    # job group keeps its bytes off the timed queries' records.
    if names:
        sc.setJobGroup(f"{label}:_warmup", "untimed warm-up")
        try:
            materialize_fully(qs[names[0]](spark, sf_dir))
        except Exception:
            pass  # the timed run below reports the error
        spark.catalog.clearCache()
        gc.collect()
    for name in names:
        sc.setJobGroup(f"{label}:{name}", name)
        t0 = time.time()
        try:
            # full-plan materialization, NOT count(): Catalyst prunes
            # join subtrees under count() (see session.materialize_fully)
            n = materialize_fully(qs[name](spark, sf_dir))
            results[name] = {"rows": n, "sec": round(time.time() - t0, 2), "err": None}
        except Exception as e:  # keep auditing the rest; the artifact shows what broke
            results[name] = {
                "rows": None,
                "sec": round(time.time() - t0, 2),
                "err": f"{type(e).__name__}: {str(e)[:200]}",
            }
        # release this query's persisted intermediates before the next
        # one runs. Operators persist() for their own job's lifetime
        # (the framework runs one application per job, so the cache
        # dies with it); a sequential audit session keeps the JVM, and
        # at 100x a single leaked shingle cache (~GBs) starves the next
        # query's broadcast build ("Not enough memory to build and
        # broadcast") even though both queries pass in isolation.
        spark.catalog.clearCache()
        gc.collect()  # drop py refs so ContextCleaner reclaims localCheckpoints
        print(f"# {label}:{name}: {results[name]}", file=sys.stderr)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return results


def start_session(app_name: str, log_dir: str):
    """A session that writes one uncompressed, unrolled event log into
    ``log_dir``; the status UI stays at the session default (off)."""
    spark = get_spark(app_name=app_name, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        # Parquet's vectored reads bypass the filesystem statistics that
        # Spark's "Bytes Read" metric samples: with them on, a full scan
        # of sf0.1 lineitem (10.8 MB) reports 11,894 bytes read, about
        # the footers. Off, it reports 10,823,715.
        "spark.hadoop.parquet.hadoop.vectored.io.enabled": "false",
    })
    conf = spark.sparkContext.getConf()
    if conf.get("spark.eventLog.dir", "") != "file://" + log_dir:
        # getOrCreate handed back a running session, which ignores
        # static confs: its bytes would land in some other log, or none
        raise RuntimeError(
            "the Spark session was already running without this tool's event "
            "log; run tools/scale.py in a fresh process"
        )
    return spark


def attach_bytes(runs: dict[str, dict], log_dir: str) -> None:
    """Add ``LOG_FIELDS`` to every record of ``runs`` (``{label:
    {name: record}}``) from the event log of the stopped session."""
    groups = parse_event_log(find_event_log(log_dir))
    for label, results in runs.items():
        for name, rec in results.items():
            g = groups.get(f"{label}:{name}", {})
            rec.update({f: g.get(f, 0) for f in LOG_FIELDS})


def audit(args) -> int:
    names = args.query or None
    env_before = _env_signal()
    log_dir = tempfile.mkdtemp(prefix="yaetos_scale_eventlog_")
    try:
        spark = start_session("scale_audit", log_dir)
        t0 = time.time()
        results = run_audit(spark, args.sf_dir, names)
        total = round(time.time() - t0, 1)
        spark.stop()
        attach_bytes({"base": results}, log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    errs = [k for k, v in results.items() if v["err"]]
    doc = {
        "env_before": env_before,
        "env_after": _env_signal(),
        "warmup_query": (names or list(entrymod.queries()))[0],
        "sf_dir": args.sf_dir,
        "n_queries": len(results),
        "n_errors": len(errs),
        "total_sec": total,
        "worst": sorted(
            ((v["sec"], k) for k, v in results.items()), reverse=True
        )[:5],
        "queries": results,
    }
    out = args.out or (None if names else os.path.join(ARTIFACTS, "SCALE_AUDIT.json"))
    if out:
        _write(out, doc)
        print(f"wrote {out}: {doc['n_queries']} queries, "
              f"{doc['n_errors']} errors, {doc['total_sec']}s total")
    else:
        print(json.dumps(doc, indent=1, sort_keys=True))
    return 1 if errs else 0


def build_replica(spark, base: str, out_dir: str, repl: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    copies = spark.range(repl).withColumnRenamed("id", "_k")

    def replicate(name: str, shift_cols: list[str], extra=None):
        df = load_table(spark, base, name).crossJoin(F.broadcast(copies))
        for c in shift_cols:
            df = df.withColumn(c, F.col(c) + F.col("_k") * F.lit(KEY_OFF))
        if extra is not None:
            df = extra(df)
        # LAYOUT MATTERS: the crossJoin preserves the BASE table's
        # partitioning, so a single-file base table (documents at
        # sf0.1) became ONE parquet row group holding every replicated
        # row — an unsplittable scan that serialized every document-
        # reading query onto one core and measured the file layout,
        # not the plan (winnow at 100x read 614s of which ~2/3 was the
        # one-task scan). A real 100 TB table is thousands of files;
        # hash-repartition on the shifted key for a deterministic,
        # parallel layout.
        df = df.repartition(32, F.col(shift_cols[0]))
        df.drop("_k").write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")

    def doc_extra(df):
        # Re-letter every copy with its own seeded BIJECTIVE character
        # permutation (a-z and 0-9 separately, via translate): an
        # isomorphic renaming of the whole corpus.  Copy 0 stays
        # verbatim.
        #
        # Why a bijection and not a word suffix (the r6-r10 approach):
        # copies must share ZERO word shingles (a trailing tag leaves
        # long docs ~identical and fabricates cross-copy near-dup
        # pairs that measure replication, not growth) — but they must
        # also preserve CHAR-GRAM statistics, which any suffix
        # destroys two ways, both measured at 10x this round:
        #   - a constant per-copy suffix ('c5') repeats at every word
        #     boundary: distinct winnow fingerprints fell 6,579 (base)
        #     -> 1,217 per copy, median doc-freq rose 19 -> 289;
        #   - even a word-varying salt lengthens 5-char words past
        #     k=8, so char-grams land INSIDE words and every
        #     occurrence of a vocabulary word corpus-wide shares them
        #     (median freq exploded again).
        # In both cases the winnowing family's hot-fingerprint guard
        # then correctly dropped everything: replica copies produced
        # ZERO near-dup pairs (241 base pairs -> 241+1 at 10x), so the
        # smokes measured the fingerprint scan and never the pair
        # join.  A character bijection preserves word lengths,
        # boundary structure, and the entire gram-frequency
        # distribution exactly (grams map 1:1), while making copies
        # disjoint at BOTH the word and the char-gram level.
        import random
        import string

        alpha, digs = string.ascii_lowercase, string.digits
        branches = []
        for c in range(1, repl):
            rng = random.Random(c)
            pa = list(alpha)
            rng.shuffle(pa)
            pd = list(digs)
            rng.shuffle(pd)
            branches.append(
                f"WHEN {c} THEN translate(text, '{alpha + digs}', "
                f"'{''.join(pa) + ''.join(pd)}')"
            )
        case = "CASE _k " + " ".join(branches) + " ELSE text END"
        return df.withColumn("text", F.expr(case)).withColumn("n_chars", F.length("text").cast("long"))

    def emb_extra(df):
        # deterministic small perturbation, different per copy and dim
        return df.withColumn(
            "embedding",
            F.expr(
                "transform(embedding, (x, i) -> cast(x + 0.01 * cast(_k as double)"
                " * (pmod(vec_id + i, 7) - 3) as float))"
            ),
        )

    replicate("orders", ["o_orderkey"])
    replicate("lineitem", ["l_orderkey"])
    replicate(
        "events",
        ["event_id"],
        # nudge timestamps per copy so replicated events interleave
        lambda df: df.withColumn(
            "ts", F.col("ts") + F.make_interval(secs=F.col("_k").cast("int"))
        ),
    )
    replicate("documents", ["doc_id"], doc_extra)
    replicate("embeddings", ["vec_id"], emb_extra)
    for name in TABLE_NAMES:
        if name not in ("orders", "lineitem", "events", "documents", "embeddings"):
            load_table(spark, base, name).write.mode("overwrite").parquet(
                f"{out_dir}/{name}.parquet"
            )
    with open(os.path.join(out_dir, "_REPLICA.json"), "w") as f:
        json.dump({"base": base, "repl": repl, "layout": 2}, f)


def _ratio(base: dict, scaled: dict, key: str, digits: int):
    """scaled/base for one field; None when either side has no value
    (an errored query) or the base is zero."""
    b, g = base.get(key), scaled.get(key)
    return round(g / b, digits) if b and g is not None else None


def smoke(args) -> int:
    base, repl = args.base, args.repl
    env_before = _env_signal()
    replica = os.path.join(tempfile.gettempdir(), f"yaetos_spark_scale_smoke_x{repl}")
    marker = os.path.join(replica, "_REPLICA.json")
    log_dir = tempfile.mkdtemp(prefix="yaetos_scale_eventlog_")
    try:
        spark = start_session("scale_smoke", log_dir)
        t0 = time.time()
        reused = False
        if os.path.exists(marker):
            with open(marker) as f:
                m = json.load(f)
            # pre-layout-2 replicas have the single-row-group scan
            # bottleneck; rebuild them
            reused = m.get("base") == base and m.get("repl") == repl and m.get("layout") == 2
        if not reused:
            build_replica(spark, base, replica, repl)
        build_sec = round(time.time() - t0, 1)

        label = f"x{repl}"
        t0 = time.time()
        base_res = run_audit(spark, base, SMOKE_QUERIES, label="base")
        base_sec = round(time.time() - t0, 1)
        t0 = time.time()
        big_res = run_audit(spark, replica, SMOKE_QUERIES, label=label)
        big_sec = round(time.time() - t0, 1)
        spark.stop()
        attach_bytes({"base": base_res, label: big_res}, log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    queries = {}
    for name in SMOKE_QUERIES:
        b, g = base_res[name], big_res[name]
        queries[name] = {
            "base": b,
            "scaled": g,  # the x{repl} run (repl recorded top-level)
            "time_ratio": _ratio(b, g, "sec", 1),
            "row_ratio": _ratio(b, g, "rows", 2),
            "shuffle_write_ratio": _ratio(b, g, "shuffle_write_bytes", 2),
            "input_ratio": _ratio(b, g, "input_bytes", 2),
        }
    errs = [n for n, q in queries.items() if q["base"]["err"] or q["scaled"]["err"]]
    doc = {
        "base_sf_dir": base,
        "repl": repl,
        "replica_reused": reused,
        "replica_build_sec": build_sec,
        "env_before": env_before,
        "env_after": _env_signal(),
        "base_total_sec": base_sec,
        "scaled_total_sec": big_sec,
        "n_errors": len(errs),
        "errors": errs,
        "queries": queries,
    }
    out = args.out or os.path.join(ARTIFACTS, f"SCALE_SMOKE_{repl}X.json")
    _write(out, doc)
    print(f"wrote {out}: {len(queries)} queries, base {base_sec}s -> "
          f"{label} {big_sec}s, {len(errs)} errors")
    return 1 if errs else 0


def _write(path: str, doc: dict) -> None:
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)


def main(argv: list[str]) -> int:
    default_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    a = sub.add_parser("audit", help="every (or the named) corpus query at one scale")
    a.add_argument("sf_dir", nargs="?", default=default_sf)
    a.add_argument("query", nargs="*")
    a.add_argument("--out")
    s = sub.add_parser("smoke", help="heavy queries on a base dir and its replica")
    s.add_argument("base", nargs="?", default=default_sf)
    s.add_argument("--repl", type=int, default=10)
    s.add_argument("--out")
    args = ap.parse_args(argv)
    return audit(args) if args.cmd == "audit" else smoke(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
