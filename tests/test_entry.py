import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402


def _load_tool(name):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["l_orderkey", "orderdate", "revenue"]


def test_queries_have_oracles():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 30
    missing = set(oracles) - set(qs)
    assert not missing, f"oracle without query: {missing}"
    # every query except explicitly non-SQL-expressible ones has an oracle
    # (winnow_rolling_pairs: the fingerprint hash is a numpy matmul in
    # a mapInPandas stage — DuckDB cannot replicate it; the md5 twin
    # winnow_overlap_pairs carries the value-exact oracle)
    no_oracle = set(qs) - set(oracles)
    assert no_oracle <= {"lsh_ann_pairs", "approx_distinct_parts", "winnow_rolling_pairs"}


def test_window_covers_stalest_queries():
    """The driver grades the first 50 entries of queries() each round.
    No query behind that window may be staler than a query inside it.
    Staleness is parsed here, independently of the module, from the
    committed CORRECTNESS_r*.json artifacts — so 'continuously green'
    is a structural property, not a per-round manual edit."""
    import glob
    import json
    import re

    paths = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    assert paths, "no committed verdicts: the staleness check would be vacuous"
    last = {}
    for path in paths:
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            verdicts = json.load(f)
        for name, v in verdicts.items():
            if not isinstance(v, dict):
                continue
            if (
                v.get("rows_match") is not False
                and v.get("schema_match") is not False
                and v.get("hash_match") is not False
                and v.get("err") is None
            ):
                last[name] = max(last.get(name, 0), rnd)
    names = list(entrymod.queries())
    worst_in_window = max(last.get(n, -1) for n in names[:50])
    for n in names[50:]:
        assert last.get(n, -1) >= worst_in_window, (
            f"{n} (last pass r{last.get(n)}) is staler than a window entry"
        )


def test_rotation_stalest_first(monkeypatch, tmp_path):
    """Verdict-less queries come first, then the oldest latest PASSING
    round first; ties keep the hand-written base order."""
    import json

    base = dict.fromkeys(["a", "b", "c", "d", "e", "f"])
    last_pass = {"a": 12, "b": 10, "d": 11, "e": 10, "f": 12}  # c: no verdict
    with monkeypatch.context() as m:
        m.setattr(entrymod, "_verdict_rounds", lambda: (13, last_pass))
        assert list(entrymod._rotate_stalest_first(base)) == ["c", "b", "e", "d", "a", "f"]

    # through the real scan of synthetic artifacts: a query that passed
    # at r10 and failed at r12 sorts as r10, ahead of one last green at
    # r11; an unreadable artifact still advances the round but adds no
    # verdicts
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    bad = dict(ok, rows_match=False)
    for rnd, verdicts in ((10, {"flaky": ok}), (11, {"steady": ok}), (12, {"flaky": bad})):
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(verdicts))
    (tmp_path / "CORRECTNESS_r13.json").write_text("{not json")
    monkeypatch.setattr(entrymod, "__file__", str(tmp_path / "__spark_entry__.py"))
    assert entrymod._verdict_rounds() == (14, {"flaky": 10, "steady": 11})
    base = dict.fromkeys(["steady", "flaky"])
    assert list(entrymod._rotate_stalest_first(base)) == ["flaky", "steady"]


def test_each_query_runs(spark, sf_dir):
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name


def _plan_of(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filters_push_down_to_scan(spark, sf_dir):
    """Scale guarantee: predicates reach the parquet scan (PushedFilters)
    and unused columns are pruned from ReadSchema."""
    qs = entrymod.queries()
    plan = _plan_of(qs["pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]  # pruned


def test_dimension_joins_broadcast(spark, sf_dir):
    qs = entrymod.queries()
    plan = _plan_of(qs["region_revenue"](spark, sf_dir))
    # formatted explain lists each node in the tree AND the detail
    # section — 5 joins appear ≥5 times; none may fall back to SMJ
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan


def test_curation_narrow_ops_have_no_exchange(spark, monkeypatch, sf_dir):
    """pii_redaction and repetition_profile are per-row/per-doc work —
    with the (intentional) starved-scan repartition disabled, any
    Exchange in their plans would be an accidental shuffle."""
    monkeypatch.setenv("SPARK_GRAFT_SCAN_PARALLELIZE", "0")
    qs = entrymod.queries()
    for name in ("pii_redaction", "repetition_profile"):
        plan = _plan_of(qs[name](spark, sf_dir))
        assert "Exchange" not in plan, name


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    """The corpus side must never shuffle for the eval-gram match."""
    qs = entrymod.queries()
    plan = _plan_of(qs["ngram_contamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_nested_loop_joins_anywhere(spark, sf_dir):
    """No corpus query may fall back to a cartesian/nested-loop join —
    at 100 TB that's a non-starter. (Broadcasts of single-row
    aggregate frames are the sanctioned exceptions.)"""
    qs = entrymod.queries()
    single_row_broadcasts = {
        "idle_rich_customers",
        "semi_anti_counts",
        "lsh_ann_pairs",  # recall report: crossJoin of two 1-row aggs
        "cms_heavy_hitters",  # est<=total contract: 1-row total-count agg
        "hll_distinct_contract",  # crossJoin of two 1-row aggs (exact x est)
        "dsir_scores",  # smoothing totals: 1-row agg crossJoined onto bucket weights
    }
    for name, fn in qs.items():
        if name in single_row_broadcasts:
            continue  # 1-row aggregate broadcast, intentional
        plan = _plan_of(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        # row-at-a-time Python in a plan means a 10-100x slower hot path
        # than Arrow batches — banned corpus-wide (PLAN_AUDIT.json's
        # python_row_udfs census, enforced here at test time)
        assert "BatchEvalPython" not in plan, name


def test_no_global_windows_anywhere(spark, sf_dir):
    """No corpus query may plan a window over an empty partitionSpec —
    that funnels the whole input through ONE partition. In a formatted
    plan a global window's Arguments line has only [functions], [order]
    (no [partitionSpec] group); partitioned windows have three groups.
    vocab_coverage is exempt: its window runs over an already-aggregated
    bounded vocabulary (documented in operators/curation.py)."""
    import re

    qs = entrymod.queries()
    for name, fn in qs.items():
        if name == "vocab_coverage":
            continue
        plan = _plan_of(fn(spark, sf_dir))
        for line in plan.splitlines():
            if "windowspecdefinition" in line and "Arguments:" in line:
                groups = re.split(r"\], \[", line)
                # two groups + sort keys in the last one = ordered window
                # with NO partition columns (partition-only windows also
                # have two groups, but no ASC/DESC in the second)
                is_global = len(groups) == 2 and re.search(r" (ASC|DESC)", groups[-1])
                assert not is_global, f"{name}: global (unpartitioned) window: {line[:160]}"


def test_tpch_analogs_broadcast_dims_and_push_dates(spark, sf_dir):
    """The round-3 TPC-H analog shapes must keep the only big side
    (lineitem) unbroadcast: dimensions broadcast, no SMJ fallback at
    test scale, and date-window predicates reach the parquet scans."""
    qs = entrymod.queries()
    plan = _plan_of(qs["nation_profit_by_year"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4  # orders+supplier+nation+part
    assert "SortMergeJoin" not in plan

    plan = _plan_of(qs["returned_revenue_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan and "l_returnflag" in plan.split("PushedFilters")[1][:400]
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort

    plan = _plan_of(qs["disjunctive_predicates"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scale_audit_subset_runs(spark, sf_dir, tmp_path):
    """The scale tool's run loop (tools/scale.py) is CI-runnable: a
    subset executes its queries and records rows/sec/err. Its session
    guard refuses a running session, which has no event log of its own."""
    import pytest

    mod = _load_tool("scale")
    res = mod.run_audit(spark, sf_dir, ["filter_project", "text_stats"])
    assert set(res) == {"filter_project", "text_stats"}
    for r in res.values():
        assert r["err"] is None and r["rows"] > 0 and r["sec"] >= 0
    with pytest.raises(RuntimeError, match="fresh process"):
        mod.start_session("scale_test", str(tmp_path))


def test_scale_audit_cli_records_bytes(sf_dir):
    """``tools/scale.py audit`` in its own process (its own session, so
    its own event log, with the UI off): every record carries the bytes
    its job group read and shuffled, and a subset run prints its JSON
    instead of writing an artifact."""
    import json
    import subprocess
    import sys

    artifacts = os.path.join(REPO, "artifacts")

    def snapshot():
        return {n: os.stat(os.path.join(artifacts, n)).st_mtime_ns for n in os.listdir(artifacts)}

    before = snapshot()
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scale.py"), "audit", sf_dir,
         "filter_project", "pricing_summary"],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "1g"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    recs = json.loads(out.stdout)["queries"]
    assert set(recs) == {"filter_project", "pricing_summary"}
    for r in recs.values():
        assert r["err"] is None and r["input_bytes"] > 0 and r["stages"] > 0
    assert recs["pricing_summary"]["shuffle_write_bytes"] > 0
    assert snapshot() == before


def test_window_capacity_check():
    """tools/window_manifest.check_capacity fails the manifest build
    when the rotation would let a query reach verdict age 3 ungraded:
    the saturated 50/50/50 corpus passes, an overflow raises."""
    import pytest

    wm = _load_tool("window_manifest")

    def mkrows(cohorts):
        # cohorts: [(last_pass_round, n_queries, in_window)]; next round 10
        cells = [(lp, w) for lp, n, w in cohorts for _ in range(n)]
        return [
            {"name": f"q{i}", "in_window": w, "last_pass_round": lp,
             "verdict_age_rounds": None if lp is None else 10 - lp}
            for i, (lp, w) in enumerate(cells)
        ]

    cap = wm.check_capacity(mkrows([(7, 50, True), (8, 50, False), (9, 50, False)]), 10)
    assert cap["must_grade_this_round"] == 50
    assert cap["demand_by_round"] == {"11": 50, "12": 50}

    # an age-3 or verdict-less query outside the window raises
    for stale in (7, None):
        rows = mkrows([(7, 50, True), (stale, 1, False)])
        with pytest.raises(ValueError, match="must be graded this round"):
            wm.check_capacity(rows, 10)

    # a next-round (or round-after) cohort of 51 raises
    for lp in (8, 9):
        rows = mkrows([(7, 50, True), (lp, 51, False)])
        with pytest.raises(ValueError, match=f"round {lp + 3} is over-committed"):
            wm.check_capacity(rows, 10)


def test_build_manifest_live_tree_capacity_ok():
    """The live tree's rotation satisfies the capacity invariants."""
    m = _load_tool("window_manifest").build_manifest()
    assert m["capacity"]["must_grade_this_round"] <= m["window_size"]
    assert max(m["capacity"]["demand_by_round"].values()) <= m["window_size"]
