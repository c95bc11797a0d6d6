import pytest
from pyspark.sql import functions as F

from yaetos_spark.job import SparkJob, SqlJob, parse_sql_file_params, strip_param_lines
from yaetos_spark.plans.flow import Flow
from yaetos_spark.plans.registry import Registry


class CountBySession(SparkJob):
    """Mirror of the reference's flagship ex1 shape: filter + join +
    group-by + order-by (reference: jobs/examples/ex1_frameworked_job.py)."""

    def transform(self, some_events, other_events):
        return self.query(
            """
            SELECT se.session_id, count(*) AS count_events
            FROM some_events se
            JOIN other_events oe ON se.session_id = oe.session_id
            WHERE se.action = 'searchResultPage' AND se.n_results > 0
            GROUP BY se.session_id
            ORDER BY count_events DESC
            """
        )


def test_etl_no_io_flagship(spark):
    some = spark.createDataFrame(
        [
            (1234, "searchResultPage", 10),
            (1234, "searchResultPage", 11),
            (1235, "searchResultPage", 2),
            (1236, "checkin", 0),
        ],
        "session_id bigint, action string, n_results bigint",
    )
    other = spark.createDataFrame([(1234, 1), (1235, 1), (1237, 1)], "session_id bigint, other bigint")
    job = CountBySession({"add_created_at": False})
    out = job.etl_no_io(spark, {"some_events": some, "other_events": other})
    rows = [(r.session_id, r.count_events) for r in out.collect()]
    assert rows == [(1234, 2), (1235, 1)]


def test_etl_full_with_save(spark, tmp_path):
    class Copy(SparkJob):
        def transform(self, src):
            return src

    src = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    src.write.parquet(str(tmp_path / "in"))
    job = Copy(
        {
            "inputs": {"src": {"path": str(tmp_path / "in"), "type": "parquet"}},
            "output": {"path": str(tmp_path / "out"), "type": "parquet"},
            "pks": ["id"],
        }
    )
    out = job.etl(spark)
    assert out.count() == 2
    assert "_created_at" in out.columns
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 2


def test_pk_gate_fails(spark, tmp_path):
    class Dup(SparkJob):
        def transform(self, src):
            return src.unionByName(src)

    src = spark.createDataFrame([(1, "a")], "id int, v string")
    src.write.parquet(str(tmp_path / "in2"))
    job = Dup(
        {
            "inputs": {"src": {"path": str(tmp_path / "in2"), "type": "parquet"}},
            "output": {"type": "None"},
            "pks": ["id"],
        }
    )
    with pytest.raises(AssertionError):
        job.etl(spark)


def test_library_has_no_assert_statements():
    """Gates must survive ``python -O``, which strips ``assert``
    statements: the library raises explicitly instead. Parsed with
    ``ast``, so asserts inside string literals (scaffold templates)
    don't count."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "yaetos_spark"
    found = [
        f"{path.relative_to(pkg.parent)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert not found, f"assert statements vanish under python -O: {found}"


def test_sql_file_job(spark, tmp_path):
    sql = tmp_path / "job.sql"
    sql.write_text(
        "----param---- 'repartition': 1 ----\n"
        "SELECT session_id, session_id * 2 AS doubled FROM events_in\n"
    )
    events = spark.createDataFrame([(1,), (2,)], "session_id bigint")
    job = SqlJob({"sql_file": str(sql), "add_created_at": False})
    out = job.etl_no_io(spark, {"events_in": events})
    assert sorted(r.doubled for r in out.collect()) == [2, 4]
    assert job.params["repartition"] == 1


def test_parse_sql_file_params():
    text = "----param---- 'a': 'x', 'n': 3 ----\nSELECT 1"
    assert parse_sql_file_params(text) == {"a": "x", "n": 3}
    assert strip_param_lines(text) == "SELECT 1"


def test_flow_chained_pipeline(spark, tmp_path):
    """ex4-style dependency chain with in-memory chaining
    (reference: conf/jobs_metadata.yml:99-126)."""
    src = spark.createDataFrame([("ab",), ("abcd",)], "session_id string")
    src.write.parquet(str(tmp_path / "raw"))

    class Dep1(SparkJob):
        def transform(self, raw):
            return raw.withColumn("session_length", F.length("session_id"))

    class Dep2(SparkJob):
        def transform(self, dep1):
            return dep1.withColumn("doubled_length", F.col("session_length") * 2)

    classes = {"dep1": Dep1, "dep2": Dep2}
    manifest = {
        "jobs": {
            "dep1": {
                "inputs": {"raw": {"path": str(tmp_path / "raw"), "type": "parquet"}},
                "add_created_at": False,
            },
            "dep2": {
                "dependencies": ["dep1"],
                "inputs": {"dep1": {"from": "dep1"}},
                "add_created_at": False,
            },
        }
    }
    reg = Registry(manifest)
    flow = Flow(reg)
    out = flow.run_pipeline(spark, "dep2", lambda name, params: classes[name](params))
    rows = {r.session_id: (r.session_length, r.doubled_length) for r in out.collect()}
    assert rows == {"ab": (2, 4), "abcd": (4, 8)}


def test_register_udtf_in_job_sql(spark):
    """Python UDTF registered on a job is callable from job SQL as a
    table function (SELECT * FROM fn(...))."""

    class SplitWords(SparkJob):
        def transform(self):
            class Words:
                def eval(self, text: str):
                    for i, w in enumerate(text.split()):
                        yield (i, w)

            self.register_udtf("split_words", Words, "pos int, word string")
            return self.query("SELECT * FROM split_words('alpha beta gamma')")

    job = SplitWords({"add_created_at": False})
    out = job.etl_no_io(spark, {})
    assert [(r.pos, r.word) for r in out.collect()] == [
        (0, "alpha"), (1, "beta"), (2, "gamma"),
    ]


def test_query_pandas_engine(spark):
    """query(sql, engine='pandas') — DuckDB over pandas/Spark frames,
    returning a pandas DataFrame (reference yaetos/pandas_utils.py:108-114)."""
    import pandas as pd

    from yaetos_spark.job import SparkJob

    job = SparkJob({})
    job.spark = spark
    sdf = spark.createDataFrame([(1, "a"), (2, "b"), (2, "c")], "k int, v string")
    pdf = pd.DataFrame({"k": [1, 2], "name": ["one", "two"]})
    out = job.query(
        "SELECT t.k, n.name, count(*) AS c FROM t JOIN n USING (k) GROUP BY t.k, n.name ORDER BY t.k",
        engine="pandas",
        dfs={"t": sdf, "n": pdf},
    )
    assert isinstance(out, pd.DataFrame)
    assert list(out.itertuples(index=False, name=None)) == [(1, "one", 1), (2, "two", 2)]


def test_copy_to_redshift_secondary_sink(spark, tmp_path, monkeypatch):
    """Dual-sink parity (reference yaetos/etl_utils.py:187-188): the
    file output writes as usual AND the same frame pushes to Redshift
    when copy_to_redshift is set — unless enable_db_push is False
    (the env-wide off switch)."""
    import yaetos_spark.sources.jdbc as jdbc

    pushed = []
    monkeypatch.setattr(jdbc, "save_redshift", lambda df, spec: pushed.append((df.count(), spec)))

    from yaetos_spark.job import SparkJob

    class J(SparkJob):
        def transform(self, **dfs):
            return self.spark.createDataFrame([(1,), (2,)], "id int")

    params = {
        "inputs": {},
        "output": {"path": str(tmp_path / "out1"), "type": "parquet"},
        "copy_to_redshift": {"table": "analytics.t1", "creds": None,
                             "url": "jdbc:redshift://x:5439/db", "s3_tmp_dir": "s3://tmp/x"},
        "add_created_at": False,
    }
    J(dict(params)).etl(spark)
    assert len(pushed) == 1
    assert pushed[0][0] == 2
    # the reference's 'table' spelling flows through to the option
    # builder, which accepts it directly
    from yaetos_spark.sources.jdbc import build_redshift_options

    _, opts, _ = build_redshift_options(pushed[0][1])
    assert opts["dbtable"] == "analytics.t1"

    # env-wide off switch
    params2 = dict(params, output={"path": str(tmp_path / "out2"), "type": "parquet"},
                   enable_db_push=False)
    J(dict(params2)).etl(spark)
    assert len(pushed) == 1  # unchanged
