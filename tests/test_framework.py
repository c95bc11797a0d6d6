import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from jobs.generic.compare_job import CompareJob
from jobs.generic.copy_job import CopyJob
from jobs.generic.list_files_job import ListFilesJob
from jobs.generic.multi_region_job import run_per_region
from yaetos_spark.alerts import build_failure_email
from yaetos_spark.job import InputLoader, SparkJob
from yaetos_spark.plans.incremental import run_multi_pass
from yaetos_spark.sources.catalog import register_external_table, save_as_table


def test_copy_job(spark, tmp_path):
    src = spark.createDataFrame([(1,), (2,)], "id int")
    src.write.parquet(str(tmp_path / "in"))
    job = CopyJob(
        {
            "inputs": {"src": {"path": str(tmp_path / "in"), "type": "parquet"}},
            "output": {"path": str(tmp_path / "out"), "type": "parquet"},
            "add_created_at": False,
        }
    )
    assert job.etl(spark).count() == 2


def test_compare_job_identical_and_diff(spark):
    a = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, v double")
    job = CompareJob({"pks": ["id"], "add_created_at": False})
    out = job.etl_no_io(spark, {"tableA": a, "tableB": a})
    assert out.collect()[0].status == "identical"
    b = spark.createDataFrame([(1, 10.0), (2, 99.0), (3, 1.0)], "id int, v double")
    out2 = CompareJob({"pks": ["id"], "add_created_at": False}).etl_no_io(
        spark, {"tableA": a, "tableB": b}
    )
    ids = sorted(r.id for r in out2.collect())
    assert ids == [2, 3]  # 2 mismatches, 3 only in B


def test_list_files_job(spark, tmp_path):
    (tmp_path / "d").mkdir()
    (tmp_path / "d" / "a.csv").write_text("x")
    (tmp_path / "d" / "b.txt").write_text("y")
    job = ListFilesJob({"list_path": str(tmp_path / "d"), "glob": "*.csv", "add_created_at": False})
    out = job.etl_no_io(spark, None)
    files = [r.path for r in out.collect()]
    assert len(files) == 1 and files[0].endswith("a.csv")


def test_multi_region(spark, tmp_path):
    for region in ["us", "eu"]:
        spark.createDataFrame([(region, 1)], "r string, v int").write.parquet(
            str(tmp_path / f"in_{region}")
        )

    class Child(SparkJob):
        def transform(self, src):
            return src

    outputs = run_per_region(
        spark,
        Child,
        {
            "inputs": {"src": {"path": str(tmp_path) + "/in_{{region}}", "type": "parquet"}},
            "output": {"path": str(tmp_path) + "/out_{{region}}", "type": "parquet"},
            "add_created_at": False,
        },
        ["us", "eu"],
    )
    assert set(outputs) == {"us", "eu"}
    assert spark.read.parquet(str(tmp_path / "out_us")).collect()[0].r == "us"


def test_input_loader(spark, tmp_path):
    spark.createDataFrame([(1,)], "id int").write.parquet(str(tmp_path / "x"))
    loader = InputLoader({"inputs": {"x": {"path": str(tmp_path / "x"), "type": "parquet"}}})
    dfs = loader.load(spark)
    assert dfs["x"].count() == 1
    assert spark.sql("SELECT * FROM x").count() == 1


def test_schema_snapshot(spark, tmp_path):
    class J(SparkJob):
        def transform(self, src):
            return src.withColumn("y", F.lit(1))

    src = spark.createDataFrame([(1,)], "id int")
    job = J({"save_schemas": True, "schemas_dir": str(tmp_path / "schemas"), "job_name": "j1",
             "add_created_at": False})
    job.etl_no_io(spark, {"src": src})
    import yaml

    snap = yaml.safe_load(open(tmp_path / "schemas" / "j1.yaml"))
    assert snap["inputs"]["src"] == {"id": "int"}
    assert snap["output"] == {"id": "int", "y": "int"}


def test_multi_pass_incremental(spark, tmp_path):
    """First build processes all periods; second run resumes after the
    watermark; each period appends a partition."""
    src = spark.createDataFrame(
        [
            (1, "2024-01-01"), (2, "2024-01-01"),
            (3, "2024-01-02"),
            (4, "2024-01-04"),
        ],
        "id int, d string",
    ).withColumn("ts", F.to_timestamp("d"))
    src.write.parquet(str(tmp_path / "src"))
    out_path = str(tmp_path / "inc_out")

    class IncJob(SparkJob):
        def transform(self, src):
            return src.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))

    def make_job(period):
        return IncJob(
            {
                "inputs": {"src": {"path": str(tmp_path / "src"), "type": "parquet", "inc_field": "ts"}},
                "output": {
                    "path": out_path, "type": "parquet", "inc_field": "ts",
                    "partition_by": "day", "incremental_type": "partitioned",
                },
                "period": period,
                "add_created_at": False,
            }
        )

    done = run_multi_pass(spark, make_job, "2024-01-01", last_day=dt.date(2024, 1, 3))
    assert done == ["2024-01-01", "2024-01-02", "2024-01-03"]
    assert spark.read.parquet(out_path).count() == 3  # day 3 empty
    assert os.path.isdir(tmp_path / "inc_out" / "day=2024-01-01")

    # resume: watermark = 2024-01-02 → starts at 01-03, catches 01-04
    done2 = run_multi_pass(spark, make_job, "2024-01-01", last_day=dt.date(2024, 1, 4))
    assert done2 == ["2024-01-03", "2024-01-04"]
    assert spark.read.parquet(out_path).count() == 4

    # output_empty criterion stops at the first empty period
    done3 = run_multi_pass(
        spark, make_job, "2024-01-05", last_day=dt.date(2024, 1, 7), rerun_criteria="output_empty"
    )
    assert done3 == ["2024-01-05"]


def test_catalog_registration(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    loc = str(tmp_path / "tbl")
    df.write.parquet(loc)
    register_external_table(spark, "ext_tbl", loc)
    assert spark.sql("SELECT count(*) FROM ext_tbl").collect()[0][0] == 2
    spark.sql("DROP TABLE ext_tbl")
    save_as_table(df, "managed_tbl")
    assert spark.table("managed_tbl").count() == 2
    spark.sql("DROP TABLE managed_tbl")


def test_failure_email_build():
    msg = build_failure_email("job_x", "boom", ["a@b.c", "d@e.f"])
    assert "job_x" in msg["Subject"]
    assert msg["To"] == "a@b.c, d@e.f"
    assert "boom" in msg.get_content()


def test_bucketed_join_has_no_shuffle(spark):
    """save_as_table(bucket_by) co-locates later joins: the physical
    plan for a join of two tables bucketed on the key contains NO
    shuffle exchange on either side — the property that saves the
    repeated-join shuffle at 100 TB."""
    import contextlib
    import io

    a = spark.createDataFrame([(i, f"a{i}") for i in range(100)], "k int, va string")
    b = spark.createDataFrame([(i, f"b{i}") for i in range(100)], "k int, vb string")
    save_as_table(a, "bkt_a", bucket_by=(4, ["k"]))
    save_as_table(b, "bkt_b", bucket_by=(4, ["k"]))
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_merge_schema_passthrough(spark, tmp_path):
    """read_kwargs flow through to the Spark reader (mergeSchema for
    evolving parquet layouts)."""
    from yaetos_spark.sources.readers import load_input

    spark.createDataFrame([(1,)], "a int").write.parquet(str(tmp_path / "ms" / "p1"))
    spark.createDataFrame([(2, "x")], "a int, b string").write.parquet(str(tmp_path / "ms" / "p2"))
    df = load_input(
        spark,
        {
            "path": str(tmp_path / "ms" / "*"),
            "type": "parquet",
            "read_kwargs": {"mergeSchema": "true"},
        },
    )
    assert set(df.columns) == {"a", "b"}
    assert df.count() == 2


def test_curation_pipeline_job(spark):
    """The curation example job gates, redacts, samples, and (in
    manifest mode) packs — end-to-end through the SparkJob contract."""
    import importlib

    mod = importlib.import_module("jobs.examples.curation_pipeline_job")
    docs = spark.createDataFrame(
        [
            (1, "s", "spam spam spam spam"),        # repetition-gated
            (20, "s", "held out eval document"),    # eval slice (id % 20 == 0)
            (2, "s", "held out eval document"),     # 100% contaminated vs eval
            (3, "s", "good clean text with healthy variety"),
            (7, "s", "other fine document with plenty of words"),
        ],
        "doc_id bigint, source string, text string",
    )
    job = mod.CurationPipelineJob(
        {"add_created_at": False, "eval_mod": 20, "max_top_word_frac": 0.6,
         "max_contamination": 0.9, "sample_p": 1.0}
    )
    out = job.etl_no_io(spark, {"documents": docs, "eval_set": docs})
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [3, 7]  # 1 repetition-gated, 2 contaminated, 20 held out
    manifest_job = mod.CurationPipelineJob(
        {"add_created_at": False, "eval_mod": 20, "max_top_word_frac": 0.6,
         "max_contamination": 0.9, "sample_p": 1.0, "emit": "manifest",
         "budget_tokens": 8}
    )
    m = manifest_job.etl_no_io(spark, {"documents": docs, "eval_set": docs})
    rows = m.collect()
    assert sum(r.n_docs for r in rows) == 2


def test_query_and_cache_roundtrip(spark, tmp_path, tables):
    """Reference parity: yaetos/libs/analysis_toolkit/query_helper.py —
    first call runs + drops pkl/csv/sql sidecars, second call reloads
    from the pickle without re-running; conflict callback controls
    overwrites."""
    from yaetos_spark.analysis import query_and_cache

    folder = str(tmp_path)
    q = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
    df1 = query_and_cache(spark, q, "regions", folder)
    assert len(df1) == 5
    for ext in (".pkl", ".csv", ".sql"):
        assert (tmp_path / f"regions{ext}").exists()
    # cached reload: poison the pickle marker by checking identity of content
    df2 = query_and_cache(spark, "SELECT 1 AS ignored", "regions", folder)
    assert df2.equals(df1)  # did NOT re-run the new query
    # force_rerun with a different result + ignore choice keeps old files
    df3 = query_and_cache(
        spark, "SELECT 1 AS x", "regions", folder,
        force_rerun=True, on_conflict=lambda f: "ignore",
    )
    assert list(df3.columns) == ["x"]
    assert query_and_cache(spark, "unused", "regions", folder).equals(df1)


def test_process_and_cache(tmp_path):
    import pandas as pd

    from yaetos_spark.analysis import process_and_cache

    calls = []

    def make():
        calls.append(1)
        return pd.DataFrame({"a": [1, 2]})

    folder = str(tmp_path)
    out1 = process_and_cache("t", folder, make)
    out2 = process_and_cache("t", folder, make)
    assert out1.equals(out2) and len(calls) == 1


def test_emr_cluster_and_step_specs():
    """Reference parity: yaetos/deploy_emr.py:95-213 — boto3-shaped
    run_job_flow kwargs and command-runner spark-submit step."""
    from yaetos_spark.deploy_cluster import (
        build_emr_cluster_spec,
        build_emr_spark_step,
    )

    from yaetos_spark.deploy_cluster import build_emr_instance_groups

    spec = build_emr_cluster_spec(
        "pipe1",
        s3_logs="s3://logs/x/",
        package_path="s3://pkg/code",
        ec2_key_name="key1",
        ec2_subnet_id="subnet-1",
        instance_groups=build_emr_instance_groups(core_type="r5.2xlarge"),
    )
    assert spec["ReleaseLabel"].startswith("emr-")
    groups = spec["Instances"]["InstanceGroups"]
    assert [g["InstanceRole"] for g in groups] == ["MASTER", "CORE"]
    assert spec["Instances"]["KeepJobFlowAliveWhenNoSteps"] is False
    assert spec["BootstrapActions"][0]["ScriptBootstrapAction"]["Path"].endswith("setup_nodes.sh")

    step = build_emr_spark_step({"job_name": "top_users"}, num_executors=10)
    assert step["HadoopJarStep"]["Jar"] == "command-runner.jar"
    args = step["HadoopJarStep"]["Args"]
    assert args[0] == "spark-submit" and "--job_name=top_users" in args
    assert "--num-executors" in args


def test_k8s_spark_submit():
    from yaetos_spark.deploy_cluster import build_k8s_spark_submit

    cmd = build_k8s_spark_submit(
        {"job_name": "sessionize"},
        k8s_url="k8s://https://1.2.3.4:6443",
        image="repo/spark:4",
        namespace="pipelines",
        executor_instances=8,
    )
    joined = " ".join(cmd)
    assert "--master k8s://https://1.2.3.4:6443" in joined
    assert "--deploy-mode cluster" in joined
    assert "--conf spark.kubernetes.container.image=repo/spark:4" in joined
    assert "--conf spark.executor.instances=8" in joined
    assert "--name" in cmd
    assert "--job_name=sessionize" in cmd


def test_emr_launch_gate():
    import pytest

    from yaetos_spark.deploy_cluster import launch_emr

    try:
        import boto3  # noqa: F401

        pytest.skip("boto3 present; live launch not tested here")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="boto3"):
        launch_emr({}, [])


def test_bucketed_tables_join_without_shuffle(spark):
    """The 100 TB repeated-join story: two tables bucketed+sorted on the
    join key sort-merge-join with NO hashpartitioning exchange on either
    side — the co-location bucketBy promises must actually show in the
    physical plan."""
    import contextlib
    import io

    from yaetos_spark.sources.catalog import save_as_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(1000).selectExpr("id AS k", "id*2 AS va")
        b = spark.range(1000).selectExpr("id AS k", "id*3 AS vb")
        save_as_table(a, "bkt_join_a", bucket_by=(8, ["k"]))
        save_as_table(b, "bkt_join_b", bucket_by=(8, ["k"]))
        j = spark.table("bkt_join_a").join(spark.table("bkt_join_b"), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_join_a")
        spark.sql("DROP TABLE IF EXISTS bkt_join_b")


def test_compact_job_right_sizes_output(spark, tmp_path):
    """Compaction sizes file count from input bytes (no data pass) and
    clusters rows for tight row-group stats."""
    from jobs.generic.compact_job import CompactJob, plan_file_count

    assert plan_file_count(0, 128) == 1
    assert plan_file_count(129, 128) == 2
    assert plan_file_count(1, 0) == 1  # degenerate target → still 1

    src = str(tmp_path / "many")
    # 16 small files
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(2000)], "id int, v string"
    ).repartition(16).write.parquet(src)
    n_in = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_in == 16

    out = str(tmp_path / "compact")
    job = CompactJob(
        {
            "inputs": {"src": {"path": src, "type": "parquet"}},
            "output": {"path": out, "type": "parquet"},
            "target_file_bytes": 10 * 1024 * 1024,  # everything fits one file
            "cluster_by": "id",
            "add_created_at": False,
        }
    )
    job.etl(spark)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 1
    back = spark.read.parquet(out)
    assert back.count() == 2000


def test_compact_job_zorders_on_multi_cluster_by(spark, tmp_path):
    """Two+ cluster_by columns make the compaction rewrite Z-ordered:
    every output file gets a sub-range in BOTH dimensions."""
    from jobs.generic.compact_job import CompactJob

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(x, y) for x in range(80) for y in range(80)], "x int, y int"
    ).repartition(4).write.parquet(src)

    out = str(tmp_path / "zc")
    job = CompactJob(
        {
            "inputs": {"src": {"path": src, "type": "parquet"}},
            "output": {"path": out, "type": "parquet"},
            "target_file_bytes": 4 * 1024,  # force several output files
            "cluster_by": ["x", "y"],
            "add_created_at": False,
        }
    )
    job.etl(spark)
    import pyarrow.parquet as pq

    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) >= 4
    wx, wy, n = [], [], 0
    for f in files:
        t = pq.read_table(os.path.join(out, f), columns=["x", "y"])
        xs = t.column("x").to_pylist(); ys = t.column("y").to_pylist()
        wx.append(max(xs) - min(xs)); wy.append(max(ys) - min(ys))
        n += len(xs)
    assert n == 6400
    assert sum(wx) / len(wx) < 60 and sum(wy) / len(wy) < 60, (wx, wy)


def test_report_job_renders_html(spark, tmp_path):
    from jobs.generic.report_job import ReportJob

    df = spark.createDataFrame(
        [(1, "a<b"), (2, "ok")], "id long, v string"
    )
    out = str(tmp_path / "report.html")
    job = ReportJob({"report_path": out, "sample_rows": 1, "title": "T&T"})
    job.spark = spark
    res = job.transform(data=df)
    assert res.count() == 1  # sampled passthrough
    page = (tmp_path / "report.html").read_text()
    assert "T&amp;T" in page            # title escaped
    assert "2 rows" in page             # full count, not sample count
    assert "id bigint, v string" in page
    assert "a&lt;b" in page or "ok" in page  # one sampled row rendered


def test_rollup_job_first_build_and_maintenance(spark):
    from jobs.examples.rollup_job import RollupJob

    job = RollupJob({"rollup_keys": ["k"], "value_col": "v"})
    job.spark = spark
    p1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    p2 = spark.createDataFrame([("a", 3.0)], "k string, v double")
    first = job.transform(delta=p1)  # no previous rollup
    rows = {r.k: (r.n, r.total, r.lo, r.hi) for r in first.collect()}
    assert rows == {"a": (1, 1.0, 1.0, 1.0), "b": (1, 2.0, 2.0, 2.0)}
    # maintenance: feed the job its OWN previous output back
    maintained = job.transform(delta=p2, prev_rollup=first)
    rows2 = {r.k: (r.n, r.total, r.lo, r.hi) for r in maintained.collect()}
    assert rows2 == {"a": (2, 4.0, 1.0, 3.0), "b": (1, 2.0, 2.0, 2.0)}


def test_chained_pipeline_reads_written_artifact(spark, tmp_path):
    """A dependency that WROTE its output hands downstream the disk
    artifact, not its in-memory plan — compounding plans otherwise
    blow up iterative consumers (the dedup pipeline OOM'd Catalyst
    before this). No-output jobs still chain in memory."""
    from yaetos_spark.job import SparkJob
    from yaetos_spark.plans.flow import Flow
    from yaetos_spark.plans.registry import Registry

    src = spark.createDataFrame([(i, f"d{i}") for i in range(10)], "id long, v string")
    src.write.parquet(str(tmp_path / "raw"))

    class A(SparkJob):
        def transform(self, raw):
            return raw.withColumn("x", F.length("v"))

    class B(SparkJob):
        def transform(self, a):
            # a scan of A's written parquet has no Project/Generate from
            # A's plan — just a FileScan
            plan = a._jdf.queryExecution().optimizedPlan().toString()
            assert "Relation" in plan and "length" not in plan, plan
            return a.groupBy("x").count()

    classes = {"a": A, "b": B}
    manifest = {
        "jobs": {
            "a": {
                "inputs": {"raw": {"path": str(tmp_path / "raw"), "type": "parquet"}},
                "output": {"path": str(tmp_path / "a_out"), "type": "parquet"},
                "add_created_at": False,
            },
            "b": {
                "dependencies": ["a"],
                "inputs": {"a": {"from": "a"}},
                "add_created_at": False,
            },
        }
    }
    flow = Flow(Registry(manifest))
    out = flow.run_pipeline(spark, "b", lambda name, params: classes[name](params))
    assert out.count() > 0


def test_registry_llm_pipeline_end_to_end(spark):
    """The shipped conf/jobs.yml LLM chain: corpus line dedup feeds the
    near-dup dedup job through {{latest}} + from: chaining."""
    import shutil

    from yaetos_spark.cli import main

    shutil.rmtree("/tmp/yaetos_spark_out", ignore_errors=True)
    main(["--job_name=dedup_documents", "--dependencies"])
    import glob

    clean = spark.read.parquet(glob.glob("/tmp/yaetos_spark_out/clean_lines/*")[0])
    assert "n_removed" in clean.columns and clean.count() == 500
    quality = spark.read.parquet(glob.glob("/tmp/yaetos_spark_out/quality/*")[0])
    assert 0 < quality.count() < 500  # the filter must actually drop docs
    deduped = spark.read.parquet(glob.glob("/tmp/yaetos_spark_out/dedup/*")[0])
    assert 0 < deduped.count() <= quality.count()


def test_retention_job_dry_run_then_apply(spark, tmp_path):
    from jobs.generic.retention_job import RetentionJob, plan_retention

    root = tmp_path / "ds"
    stamps = [
        "date20240101_time000000_utc",
        "date20240102_time000000_utc",
        "date20240103_time000000_utc",
        "date20240104_time120000_utc",
    ]
    for s in stamps:
        (root / s).mkdir(parents=True)
        (root / s / "part-0.parquet").write_bytes(b"x")
    (root / "not_a_run").mkdir()  # foreign dir must never be touched

    plan = plan_retention([str(root)], keep=2)
    assert [(p[1], p[2]) for p in plan] == [
        (stamps[0], "delete"), (stamps[1], "delete"),
        (stamps[2], "keep"), (stamps[3], "keep"),
    ]

    # dry run: reports, deletes nothing
    job = RetentionJob({"retention": [str(root)], "keep": 2, "add_created_at": False})
    job.spark = spark
    out = {(r.run, r.action) for r in job.transform().collect()}
    assert (stamps[0], "delete") in out
    assert sorted(os.listdir(root)) == sorted(stamps + ["not_a_run"])

    # apply: old runs gone, kept runs + foreign dir intact
    job2 = RetentionJob(
        {"retention": [str(root)], "keep": 2, "apply": True, "add_created_at": False}
    )
    job2.spark = spark
    job2.transform()
    assert sorted(os.listdir(root)) == sorted(stamps[2:] + ["not_a_run"])

    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep"):
        bad = RetentionJob({"retention": [str(root)], "keep": 0})
        bad.spark = spark
        bad.transform()


def test_retention_age_floor_and_bounded_growth(tmp_path):
    """VERDICT r10 item 7: keep-last-N + AGE FLOOR, plus the 10-run
    demo — a dataset written 10 times stays bounded at ``keep`` run
    folders under periodic retention, while runs younger than the
    floor survive even beyond keep (backfill-burst protection)."""
    import datetime as dt

    from jobs.generic.retention_job import plan_retention
    from yaetos_spark.plans.paths import NOW_FMT

    root = tmp_path / "ds"
    now = dt.datetime(2026, 8, 16, 12, 0, 0)

    # --- age floor: 5 runs, keep=2, but 2 of the 3 beyond-keep runs
    # are minutes old (a backfill burst) — only the genuinely old one
    # may be deleted
    stamps = [
        (now - dt.timedelta(days=10)).strftime(NOW_FMT),
        (now - dt.timedelta(minutes=30)).strftime(NOW_FMT),
        (now - dt.timedelta(minutes=20)).strftime(NOW_FMT),
        (now - dt.timedelta(minutes=10)).strftime(NOW_FMT),
        (now - dt.timedelta(minutes=5)).strftime(NOW_FMT),
    ]
    for s in stamps:
        (root / s).mkdir(parents=True)
    plan = {p[1]: p[2] for p in plan_retention([str(root)], keep=2, min_age_days=1.0, now=now)}
    assert plan == {
        stamps[0]: "delete",
        stamps[1]: "keep",  # beyond keep-2 but younger than the floor
        stamps[2]: "keep",
        stamps[3]: "keep",
        stamps[4]: "keep",
    }

    # --- 10-run demo: one run per simulated day, retention after each
    # run — folder count stays bounded at keep=3 once past the floor
    root2 = tmp_path / "ds2"
    root2.mkdir()
    import os
    import shutil

    counts = []
    for day in range(10):
        run_day = dt.datetime(2026, 7, 1) + dt.timedelta(days=day)
        (root2 / run_day.strftime(NOW_FMT)).mkdir()
        ref = run_day + dt.timedelta(hours=1)
        for r, d, action in plan_retention([str(root2)], keep=3, min_age_days=0.5, now=ref):
            if action == "delete":
                shutil.rmtree(os.path.join(r, d))
        counts.append(len(os.listdir(root2)))
    assert counts[:3] == [1, 2, 3]  # fills up to keep
    assert all(c == 3 for c in counts[3:])  # then bounded forever


def test_incremental_dedup_job_via_registry(spark):
    """The shipped incremental_dedup registry job: ``--batch_id`` is
    required; the first run seeds the signature index with the
    survivors; re-running the same batch id (a retry) returns the same
    survivors and leaves the index as it was; the same input as a NEW
    batch id drops every document (all indexed)."""
    import glob
    import shutil

    import pytest

    from yaetos_spark.cli import main

    index = "/tmp/yaetos_spark_out/incr_dedup_index"

    def survivors(batch_id):
        main(["--job_name=incremental_dedup", f"--batch_id={batch_id}"])
        newest = sorted(glob.glob("/tmp/yaetos_spark_out/incr_dedup/*"))[-1]
        # an empty output dir may hold only _SUCCESS
        try:
            return {r.doc_id for r in spark.read.parquet(newest).collect()}
        except Exception:
            return set()

    shutil.rmtree("/tmp/yaetos_spark_out", ignore_errors=True)
    with pytest.raises(ValueError, match="batch_id"):
        main(["--job_name=incremental_dedup"])
    first = survivors(0)
    assert 0 < len(first) <= 500
    assert spark.read.parquet(index).count() == len(first)
    assert survivors(0) == first
    assert spark.read.parquet(index).count() == len(first)
    assert survivors(1) == set()
    assert spark.read.parquet(index).count() == len(first)


# -- raw file copy (reference: jobs/generic/copy_raw_job.py:5-24) ------


def _make_tree(root):
    (root / "models").mkdir(parents=True)
    (root / "models" / "weights.bin").write_bytes(bytes(range(256)) * 7)
    (root / "models" / "card.md").write_text("# model card\n")
    (root / "LICENSE").write_text("MIT\n")
    return root


def test_copy_raw_job_byte_identical_tree(spark, tmp_path):
    """VERDICT r5 item 3 done-condition: fixture tree copied
    byte-identically (checksum compare), structure mirrored, nothing
    parsed or re-encoded."""
    import hashlib

    from jobs.generic.copy_raw_job import CopyRawJob

    src = _make_tree(tmp_path / "in")
    job = CopyRawJob(
        {
            "inputs": {"files_to_copy": {"path": str(src)}},
            "output": {"path": str(tmp_path / "out")},
        }
    )
    assert job.etl(spark) is None  # no-output job, parity with reference
    assert len(job.copied) == 3

    def digest(p):
        return hashlib.sha256(p.read_bytes()).hexdigest()

    for rel in ["models/weights.bin", "models/card.md", "LICENSE"]:
        src_f, out_f = src / rel, tmp_path / "out" / rel
        assert out_f.is_file(), rel
        assert digest(src_f) == digest(out_f), rel


def test_copy_raw_job_glob_and_latest(spark, tmp_path):
    """Glob filter + {{latest}} input expansion + {{now}} output
    expansion — the reference's full path pipeline."""
    from jobs.generic.copy_raw_job import CopyRawJob

    for stamp in ["date20240101", "date20240202"]:
        d = tmp_path / "in" / stamp
        d.mkdir(parents=True)
        (d / "keep.bin").write_bytes(b"\x00\x01")
        (d / "skip.txt").write_text("no")
    job = CopyRawJob(
        {
            "inputs": {
                "files_to_copy": {
                    "path": str(tmp_path / "in" / "{{latest}}"),
                    "glob": "**/*.bin",
                }
            },
            "output": {"path": str(tmp_path / "out" / "{{now}}")},
        }
    )
    job.etl(spark)
    assert [os.path.basename(f) for f in job.copied] == ["keep.bin"]
    assert "date20240202" in job.copied[0]
    out_files = [p for p in (tmp_path / "out").rglob("*") if p.is_file()]
    assert len(out_files) == 1 and out_files[0].name == "keep.bin"


def test_fs_ops_list_files_filters():
    import pytest as _pytest

    from yaetos_spark.sources.fs_ops import list_files

    with _pytest.raises(ValueError):
        list_files("/tmp", regex=".*", globy="*")


def test_fs_ops_s3_shapes_offline(tmp_path, monkeypatch):
    """S3 list/copy paths against a boto3-shaped fake (no network, no
    boto3) — same offline strategy as test_deploy_run.py.  Checks the
    paginated listing with suffix glob/regex filtering, server-side
    s3→s3 copy, upload, and download-with-parent-creation."""
    import sys
    import types

    from yaetos_spark.sources import fs_ops

    class FakeS3Client:
        def __init__(self):
            self.objects = {  # (bucket, key) -> bytes
                ("b1", "pre/a.bin"): b"A",
                ("b1", "pre/sub/bb.bin"): b"B",
                ("b1", "pre/skip.txt"): b"T",
                ("b1", "other/zz.bin"): b"Z",
            }
            self.copies = []

        def get_paginator(self, op):
            assert op == "list_objects_v2"
            objects = self.objects

            class P:
                def paginate(self, Bucket, Prefix):
                    contents = [
                        {"Key": k}
                        for (b, k) in sorted(objects)
                        if b == Bucket and k.startswith(Prefix)
                    ]
                    # two pages to prove pagination is honored
                    mid = len(contents) // 2
                    yield {"Contents": contents[:mid]}
                    yield {"Contents": contents[mid:]}

            return P()

        def copy(self, src, bucket, key):
            self.objects[(bucket, key)] = self.objects[(src["Bucket"], src["Key"])]
            self.copies.append((src["Bucket"], src["Key"], bucket, key))

        def upload_file(self, local, bucket, key):
            self.objects[(bucket, key)] = open(local, "rb").read()

        def download_file(self, bucket, key, local):
            with open(local, "wb") as fh:
                fh.write(self.objects[(bucket, key)])

    fake_client = FakeS3Client()
    fake_boto3 = types.ModuleType("boto3")
    fake_boto3.client = lambda name: fake_client
    monkeypatch.setitem(sys.modules, "boto3", fake_boto3)

    # paginated listing + glob on the key suffix under the prefix
    # (fnmatch semantics, same as the reference's S3 branch: * crosses /)
    got = fs_ops.list_files("s3://b1/pre/", globy="*.bin")
    assert got == ["s3://b1/pre/a.bin", "s3://b1/pre/sub/bb.bin"]
    got_rec = fs_ops.list_files("s3://b1/pre/", regex=r"\.bin$")
    assert got_rec == ["s3://b1/pre/a.bin", "s3://b1/pre/sub/bb.bin"]

    # s3 -> s3 server-side copy
    fs_ops.copy_file("s3://b1/pre/a.bin", "s3://b2/out/a.bin")
    assert fake_client.objects[("b2", "out/a.bin")] == b"A"
    assert fake_client.copies == [("b1", "pre/a.bin", "b2", "out/a.bin")]

    # local -> s3 upload
    src = tmp_path / "up.bin"
    src.write_bytes(b"UP")
    fs_ops.copy_file(str(src), "s3://b2/up/up.bin")
    assert fake_client.objects[("b2", "up/up.bin")] == b"UP"

    # s3 -> local download, parent dirs created
    dest = tmp_path / "deep" / "down" / "a.bin"
    fs_ops.copy_file("s3://b1/pre/a.bin", str(dest))
    assert dest.read_bytes() == b"A"


def test_sql_pandas_job_matches_spark_sql_path(spark, tmp_path, sf_dir):
    """SQL-over-pandas engine (reference jobs/generic/sql_pandas_job.py):
    same sql_file, same registry shape, DuckDB execution — result must
    match the Spark SQL engine on the same inputs."""
    from pathlib import Path as _P

    from jobs.generic.sql_pandas_job import SqlPandasJob
    from yaetos_spark.job import SqlJob

    repo = _P(__file__).resolve().parents[1]
    params = {
        "sql_file": str(repo / "conf" / "sql" / "events_per_type.sql"),
        "inputs": {
            "events": {"path": f"{sf_dir}/events.parquet", "type": "parquet"}
        },
        "add_created_at": False,
    }
    got = SqlPandasJob(dict(params)).etl_no_io(spark)
    want = SqlJob(dict(params)).etl_no_io(spark)
    key = lambda r: (r["event_type"], r["user_id"])  # noqa: E731
    got_rows = sorted(((r.event_type, r.user_id, r.n) for r in got.collect()))
    want_rows = sorted(((r.event_type, r.user_id, r.n) for r in want.collect()))
    assert got_rows == want_rows and len(got_rows) > 0


def test_dummy_job_is_a_no_op(spark):
    from jobs.generic.dummy_job import DummyJob

    assert DummyJob({}).etl(spark) is None


def test_convert_to_linux_eol(tmp_path):
    from yaetos_spark.sources.fs_ops import convert_to_linux_eol

    f = tmp_path / "script.sql"
    f.write_bytes(b"SELECT 1;\r\nSELECT 2;\r\n-- lone \n stays\n")
    assert convert_to_linux_eol(str(f))  # in place
    assert f.read_bytes() == b"SELECT 1;\nSELECT 2;\n-- lone \n stays\n"


def test_extraction_job_api_inputs_shape(spark, tmp_path):
    """Registry-driven API extraction (reference ex0_extraction_job):
    api_inputs names the endpoint; an injected fetcher keeps the test
    offline; output flows through the standard save path."""
    import gzip as _gzip

    from jobs.examples.extraction_job import ExtractionJob

    payload = _gzip.compress(b"city,pop\nparis,2100000\nlyon,520000\n")

    def fake(url, **kw):
        assert url == "https://example.org/dump.csv.gz"
        return payload

    job = ExtractionJob(
        {
            "api_inputs": {"path": "https://example.org/dump.csv.gz"},
            "fetcher": fake,
            "output": {"path": str(tmp_path / "out"), "type": "parquet"},
            "add_created_at": False,
        }
    )
    out = job.etl(spark)
    assert {(r.city, r.pop) for r in out.collect()} == {("paris", 2100000), ("lyon", 520000)}
    assert spark.read.parquet(str(tmp_path / "out")).count() == 2

    # json records variant
    def fake_json(url, **kw):
        return b'{"records": [{"k": 1}, {"k": 2}]}'

    j2 = ExtractionJob(
        {
            "api_inputs": {"path": "https://example.org/api", "format": "json",
                           "record_path": "records"},
            "fetcher": fake_json,
            "add_created_at": False,
        }
    )
    assert sorted(r.k for r in j2.etl_no_io(spark).collect()) == [1, 2]


def test_fs_ops_s3a_scheme_reaches_boto3_branch(tmp_path, monkeypatch):
    """expand_path rewrites s3:// to s3a:// for the hadoop connector;
    fs_ops must still take the boto3 branch for those paths AND echo
    the caller's scheme in listings so copy_raw's in→out str.replace
    keeps matching (round-6 review finding)."""
    import sys
    import types

    from yaetos_spark.sources import fs_ops

    class FakeS3Client:
        def __init__(self):
            self.objects = {("b1", "pre/a.bin"): b"A"}
            self.copies = []

        def get_paginator(self, op):
            objects = self.objects

            class P:
                def paginate(self, Bucket, Prefix):
                    yield {"Contents": [{"Key": k} for (b, k) in sorted(objects) if b == Bucket and k.startswith(Prefix)]}

            return P()

        def copy(self, src, bucket, key):
            self.objects[(bucket, key)] = self.objects[(src["Bucket"], src["Key"])]
            self.copies.append((bucket, key))

    fake_client = FakeS3Client()
    fake_boto3 = types.ModuleType("boto3")
    fake_boto3.client = lambda name: fake_client
    monkeypatch.setitem(sys.modules, "boto3", fake_boto3)

    got = fs_ops.list_files("s3a://b1/pre/")
    assert got == ["s3a://b1/pre/a.bin"]  # boto3 branch taken, scheme preserved

    fs_ops.copy_file("s3a://b1/pre/a.bin", "s3a://b1/out/a.bin")
    assert fake_client.copies == [("b1", "out/a.bin")]


def test_registry_routes_py_job_over_sql_file(spark):
    """py_job wins when a job declares BOTH (the generic-engine-template
    shape): events_per_type_pandas must construct SqlPandasJob, not the
    default Spark SqlJob (round-6 review finding)."""
    from pathlib import Path as _P

    from jobs.generic.sql_pandas_job import SqlPandasJob
    from yaetos_spark import cli
    from yaetos_spark.plans.registry import Registry

    repo = _P(__file__).resolve().parents[1]
    reg = Registry.from_file(str(repo / "conf" / "jobs.yml"))
    params = reg.job_params("events_per_type_pandas")
    params["sql_file"] = str(repo / params["sql_file"])
    job = cli.job_factory(reg)("events_per_type_pandas", params)
    assert isinstance(job, SqlPandasJob)


def test_sql_pandas_job_empty_result(spark):
    """A filter matching nothing must return an empty TYPED frame, not
    crash on schema inference (round-6 review finding)."""
    from jobs.generic.sql_pandas_job import SqlPandasJob

    src = spark.createDataFrame([(1, "a")], "k long, v string")
    job = SqlPandasJob({"sql": "SELECT k, v FROM t WHERE k > 100", "add_created_at": False})
    out = job.etl_no_io(spark, {"t": src})
    assert out.count() == 0
    assert dict(out.dtypes)["v"] == "string"


def test_materialize_fully_runs_pruned_joins(spark):
    """count() lets Catalyst eliminate a left join whose aggregate-
    unique right side contributes no columns; materialize_fully must
    run the FULL plan and still return the exact row count."""
    from pyspark.sql import functions as F

    from yaetos_spark.session import materialize_fully

    left = spark.range(100).withColumnRenamed("id", "k")
    right = spark.range(50).withColumnRenamed("id", "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n")
    )
    joined = left.join(right, "k", "left")
    # the join IS pruned under count (plan-level check)...
    cnt_plan = joined.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in cnt_plan
    # ...and materialize_fully still executes it with the right count
    assert materialize_fully(joined) == 100
    assert materialize_fully(joined.filter("k < 10")) == 10
    assert materialize_fully(joined.filter("k < 0")) == 0


def test_registry_corpus_assembly_chain_end_to_end(spark):
    """The shipped conf/jobs.yml training-corpus chain: dedup output
    remixed to exact target language proportions, BPE-tokenized, and
    shard-shuffled, all via {{latest}} + from: chaining."""
    import glob
    import shutil

    from yaetos_spark.cli import main

    shutil.rmtree("/tmp/yaetos_spark_out", ignore_errors=True)
    assert main(["--job_name=shard_corpus", "--dependencies"]) == 0
    mixed = spark.read.parquet(glob.glob("/tmp/yaetos_spark_out/corpus_mix/*")[0])
    counts = {r["lang"]: r["count"] for r in mixed.groupBy("lang").count().collect()}
    # budget 150 at targets .4/.2/.2/.1/.1, exact mode
    assert counts == {"en": 60, "fr": 30, "es": 30, "de": 15, "zh": 15}
    shards = spark.read.parquet(glob.glob("/tmp/yaetos_spark_out/corpus_shards/*")[0])
    assert shards.count() == 150 and "bpe_tokens" in shards.columns
    assert "_epoch" in shards.columns  # mixture provenance survives the chain
    files = glob.glob(glob.glob("/tmp/yaetos_spark_out/corpus_shards/*")[0] + "/part-*")
    assert len(files) == 8
