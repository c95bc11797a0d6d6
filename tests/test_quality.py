from yaetos_spark.operators.quality import (
    check_pk,
    compare_fuzzy,
    compare_summary,
    datasets_equal,
    identify_non_unique_pks,
)


def test_check_pk(spark):
    ok = spark.createDataFrame([(1,), (2,), (3,)], "id bigint")
    dup = spark.createDataFrame([(1,), (2,), (2,)], "id bigint")
    assert check_pk(ok, ["id"])
    assert not check_pk(dup, ["id"])


def test_identify_non_unique(spark):
    dup = spark.createDataFrame([(1, "a"), (2, "b"), (2, "c")], "id bigint, v string")
    bad = identify_non_unique_pks(dup, ["id"])
    assert sorted(r.id for r in bad.collect()) == [2, 2]


def test_datasets_equal(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    b = spark.createDataFrame([(2, "y"), (1, "x")], "id int, v string")
    c = spark.createDataFrame([(1, "x")], "id int, v string")
    assert datasets_equal(a, b)
    assert not datasets_equal(a, c)


def test_compare_fuzzy(spark):
    a = spark.createDataFrame([(1, 100.0, "x"), (2, 200.0, "y"), (3, 300.0, "z")], "id int, amt double, v string")
    b = spark.createDataFrame([(1, 100.000001, "x"), (2, 250.0, "y"), (4, 1.0, "w")], "id int, amt double, v string")
    diff = compare_fuzzy(a, b, ["id"], numeric_pct_threshold=0.01)
    by_id = {r.id: r for r in diff.collect()}
    assert by_id[1].amt_match is True  # within 0.01%
    assert by_id[2].amt_match is False  # 25% off
    assert by_id[3]._in_1 and not by_id[3]._in_2
    assert by_id[4]._in_2 and not by_id[4]._in_1
    summary = compare_summary(diff, ["amt", "v"])
    assert summary["only_in_1"] == 1 and summary["only_in_2"] == 1


def test_run_expectations(spark):
    from yaetos_spark.operators.quality import run_expectations

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 300.0)], "id int, name string, v double"
    )
    ok, report = run_expectations(
        df,
        [
            {"check": "not_null", "column": "id"},
            {"check": "not_null", "column": "name"},
            {"check": "unique", "columns": ["id"]},
            {"check": "in_range", "column": "v", "min": 0, "max": 100},
            {"check": "in_set", "column": "id", "values": [1, 2, 3]},
            {"check": "min_rows", "n": 2},
        ],
    )
    rep = {(r.check, r.column): (r.failed_count, r.passed) for r in report.collect()}
    assert not ok
    assert rep[("not_null", "id")] == (0, True)
    assert rep[("not_null", "name")] == (1, False)
    assert rep[("unique", "id")] == (0, True)
    assert rep[("in_range", "v")] == (1, False)
    assert rep[("min_rows", "")] == (0, True)


def test_run_expectations_nulls_fail_set_and_pattern(spark):
    """NULL must count as a failure for in_set/matches by default
    (NULL slips through a bare ~isin/~rlike) — allow_null opts out."""
    from yaetos_spark.operators.quality import run_expectations

    df = spark.createDataFrame([("a",), ("z",), (None,)], "name string")
    ok, report = run_expectations(
        df,
        [
            {"check": "in_set", "column": "name", "values": ["a", "z"]},
            {"check": "in_set", "column": "name", "values": ["a", "z"], "allow_null": True},
            {"check": "matches", "column": "name", "pattern": "^[a-z]$"},
            {"check": "matches", "column": "name", "pattern": "^[a-z]$", "allow_null": True},
        ],
    )
    counts = [r.failed_count for r in report.collect()]
    assert counts == [1, 0, 1, 0]


def test_expectations_job_gate(spark, tmp_path):
    import pytest as _pytest

    from yaetos_spark.job import SparkJob

    class J(SparkJob):
        def transform(self, src):
            return src

    spark.createDataFrame([(1,), (None,)], "id int").write.parquet(str(tmp_path / "src"))
    job = J(
        {
            "inputs": {"src": {"path": str(tmp_path / "src"), "type": "parquet"}},
            "expectations": [{"check": "not_null", "column": "id"}],
            "output": {"type": "None"},
            "add_created_at": False,
        }
    )
    with _pytest.raises(AssertionError, match="expectations failed"):
        job.etl(spark)


def test_schema_drift_report(spark):
    from yaetos_spark.operators.quality import schema_drift

    old = spark.createDataFrame([(1, "a", 1.0)], "id long, v string, x double")
    new = spark.createDataFrame([(1, 2, True)], "id long, v int, y boolean")
    out = {(r.column): (r.change, r.old_type, r.new_type)
           for r in schema_drift(old, new).collect()}
    assert out == {
        "v": ("type_changed", "string", "int"),
        "x": ("removed", "double", None),
        "y": ("added", None, "boolean"),
    }
    assert schema_drift(old, old).count() == 0  # identical = empty


def test_oracle_comparator_detects_one_ulp_and_dtype_drift():
    """Meta-test of the correctness harness itself: the canonicalizer
    in tools/check_oracle.py must distinguish floats one ulp apart
    (the r5 sf0.1 slope regression), ints from floats, and None/NaN —
    a comparator that silently passes these would green-light broken
    queries corpus-wide."""
    import importlib.util
    import math
    import os

    import pandas as pd

    spec = importlib.util.spec_from_file_location(
        "check_oracle",
        os.path.join(os.path.dirname(__file__), "..", "tools", "check_oracle.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    a = -7.437398023951159e-05
    b = math.nextafter(a, 0.0)
    assert a != b
    assert mod.canon(pd.DataFrame({"x": [a]})) != mod.canon(pd.DataFrame({"x": [b]}))
    # int vs float: 1435 != 1435.0 (DuckDB HUGEINT sums land as float64)
    assert mod.canon(pd.DataFrame({"x": [1435]})) != mod.canon(pd.DataFrame({"x": [1435.0]}))
    # identical frames with shuffled rows/columns DO match
    f1 = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    f2 = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert mod.canon(f1) == mod.canon(f2)
    # NULL doubles arrive as float NaN from BOTH engines (toPandas and
    # duckdb .df()), so NaN canonicalizes to its own marker, distinct
    # from object-column None — equal across engines, never conflated
    # with a string column's NULL
    assert mod.canon(pd.DataFrame({"x": [float("nan")]})) == mod.canon(
        pd.DataFrame({"x": [float("nan")]})
    )
    assert mod.canon(pd.DataFrame({"x": [None]}, dtype=object)) == [("NULL",)]
    assert mod.canon(pd.DataFrame({"x": [float("nan")]})) == [("NaN",)]


def test_profile_table_one_pass(spark):
    """profile_table: one row per column with the documented stats,
    computed in a single aggregation job (one scan, no per-column
    loop) — verified on a frame mixing atomic, array, and map types
    plus nulls."""
    from yaetos_spark.operators.quality import profile_table

    df = spark.createDataFrame(
        [
            (1, "alpha", 10.0, ["a", "b"], {"k": 1}, None),
            (2, "bce", 20.0, ["c"], None, "x"),
            (3, None, 30.0, [], {"k": 2}, "y"),
            (4, "alpha", None, None, {"j": 3}, "z"),
        ],
        "id int, name string, score double, tags array<string>, attrs map<string,int>, note string",
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert set(prof) == {"id", "name", "score", "tags", "attrs", "note"}

    assert prof["id"]["n_rows"] == 4 and prof["id"]["n_nonnull"] == 4
    assert prof["id"]["null_frac"] == 0.0
    assert prof["id"]["approx_ndv"] == 4
    assert prof["id"]["min_value"] == "1" and prof["id"]["max_value"] == "4"
    assert prof["id"]["mean"] == 2.5 and abs(prof["id"]["stddev"] - 1.2909944) < 1e-6

    assert prof["name"]["n_nonnull"] == 3 and prof["name"]["null_frac"] == 0.25
    assert prof["name"]["approx_ndv"] == 2  # 'alpha' twice
    assert prof["name"]["avg_length"] == (5 + 3 + 5) / 3
    assert prof["name"]["mean"] is None  # non-numeric

    assert prof["score"]["min_value"] == "10.0" and prof["score"]["max_value"] == "30.0"

    assert prof["tags"]["avg_length"] == (2 + 1 + 0) / 3  # avg element count
    assert prof["tags"]["approx_ndv"] == 3  # arrays hash fine

    # maps: unhashable and unordered — ndv/min/max stay NULL, counts still fill
    assert prof["attrs"]["approx_ndv"] is None
    assert prof["attrs"]["min_value"] is None
    assert prof["attrs"]["n_nonnull"] == 3 and prof["attrs"]["avg_length"] == 1.0

    # column subset + single-job shape: exactly one Scan in the plan
    plan = profile_table(df, columns=["id", "note"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") + plan.count("ScanExists") <= 2  # one scan (AQE may print twice)
    sub = {r["column"] for r in profile_table(df, columns=["id", "note"]).collect()}
    assert sub == {"id", "note"}
