import os

import pytest

from yaetos_spark.sources.jdbc import build_read_options
from yaetos_spark.sources.kafka import build_kafka_frame
from yaetos_spark.sources.readers import load_input
from yaetos_spark.sources.writers import save_output


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    save_output(df, {"path": str(tmp_path / "c"), "type": "csv"})
    back = load_input(spark, {"path": str(tmp_path / "c"), "type": "csv"})
    assert sorted((r.id, r.v) for r in back.collect()) == [(1, "x"), (2, "y")]


def test_csv_delimiter_and_schema(spark, tmp_path):
    p = tmp_path / "d.csv"
    p.write_text("id|v\n1|x\n")
    back = load_input(
        spark, {"path": str(p), "type": "csv", "csv_delimiter": "|", "schema": "id int, v string"}
    )
    assert back.collect()[0].id == 1


def test_json_and_txt(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "id int, v string")
    save_output(df, {"path": str(tmp_path / "j"), "type": "json"})
    back = load_input(spark, {"path": str(tmp_path / "j"), "type": "json"})
    assert back.collect()[0].v == "x"
    (tmp_path / "t.txt").write_text("hello\nworld\n")
    txt = load_input(spark, {"path": str(tmp_path / "t.txt"), "type": "txt"})
    assert txt.count() == 2 and txt.columns == ["value"]


def test_source_column(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id int")
    save_output(df, {"path": str(tmp_path / "s"), "type": "parquet"})
    back = load_input(spark, {"path": str(tmp_path / "s"), "type": "parquet", "add_source_column": True})
    assert "_source" in back.columns
    assert back.collect()[0]._source.startswith("file:")


def test_in_memory_input(spark):
    df = spark.createDataFrame([(1,)], "id int")
    out = load_input(spark, {"type": "df", "from": "up"}, loaded_inputs={"up": df})
    assert out is df


def test_write_mode_policy_error_on_existing(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id int")
    save_output(df, {"path": str(tmp_path / "p"), "type": "parquet"})
    with pytest.raises(Exception):
        save_output(df, {"path": str(tmp_path / "p"), "type": "parquet"})
    # partitioned output defaults to append
    save_output(df.withColumn("dt", df.id), {"path": str(tmp_path / "q"), "type": "parquet", "partition_by": "dt"})
    save_output(df.withColumn("dt", df.id), {"path": str(tmp_path / "q"), "type": "parquet", "partition_by": "dt"})
    assert spark.read.parquet(str(tmp_path / "q")).count() == 2


def test_partitioned_layout(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, dt string")
    save_output(df, {"path": str(tmp_path / "part"), "type": "parquet", "partition_by": ["dt"]})
    assert os.path.isdir(tmp_path / "part" / "dt=a")


def test_metadata_sidecar(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id int")
    save_output(df, {"path": str(tmp_path / "m"), "type": "parquet", "save_metadata": True}, job_name="j1")
    content = (tmp_path / "m" / "_metadata.txt").read_text()
    assert "job_name: j1" in content


def test_no_output_job(spark):
    df = spark.createDataFrame([(1,)], "id int")
    save_output(df, {"type": "None"})  # no-op, no path needed


def test_repartition_coalesce(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(100)], "id int").repartition(8)
    save_output(df, {"path": str(tmp_path / "r"), "type": "parquet", "repartition": 2})
    files = [f for f in os.listdir(tmp_path / "r") if f.endswith(".parquet")]
    assert len(files) == 2


def test_jdbc_incremental_pushdown():
    opts = build_read_options(
        {
            "type": "mysql",
            "url": "jdbc:mysql://h/db",
            "db_table": "t",
            "inc_field": "ts",
            "period": "2024-01-01",
            "period_next": "2024-01-02",
        }
    )
    assert opts["query"] == "SELECT * FROM t WHERE ts >= '2024-01-01' AND ts < '2024-01-02'"
    assert opts["fetchsize"] == "10000" and opts["numPartitions"] == "3"
    assert opts["driver"] == "com.mysql.cj.jdbc.Driver"


def test_jdbc_range_split():
    opts = build_read_options(
        {
            "type": "postgres",
            "url": "jdbc:postgresql://h/db",
            "db_table": "big",
            "partition_column": "id",
            "lower_bound": 0,
            "upper_bound": 1000000,
            "num_partitions": 16,
        }
    )
    assert opts["partitionColumn"] == "id" and opts["numPartitions"] == "16"
    assert opts["dbtable"] == "big"


def test_kafka_frame(spark):
    df = spark.createDataFrame([(1, "x")], "id int, v string")
    out = build_kafka_frame(df, key_col="id")
    row = out.collect()[0]
    assert row.key == "1" and '"v":"x"' in row.value


def test_kafka_schema_validation_drops_invalid(spark):
    """Per-message jsonschema validation, executor-side (reference
    validates driver-side per produce: yaetos/kafka_utils.py:41-66)."""
    from yaetos_spark.sources.kafka import validate_kafka_frame

    df = spark.createDataFrame(
        [(1, "ok"), (2, None)], "id int, v string"
    )
    frame = build_kafka_frame(df, key_col="id")
    schema = {
        "type": "object",
        "properties": {"id": {"type": "integer"}, "v": {"type": "string"}},
        "required": ["id", "v"],
    }
    kept = validate_kafka_frame(frame, schema).collect()
    # to_json drops null fields → record 2 is missing required 'v'
    assert [r.key for r in kept] == ["1"]


def test_redshift_connector_options():
    from yaetos_spark.sources.jdbc import build_redshift_options

    fmt, opts, mode = build_redshift_options(
        {
            "host": "rs.example.com",
            "service": "warehouse",
            "schema": "analytics",
            "db_table": "facts",
            "s3_tmp_dir": "s3://tmp-bucket/rs/",
            "user": "u",
            "password": "p",
            "incremental": True,
        }
    )
    assert fmt == "io.github.spark_redshift_community.spark.redshift"
    assert opts["url"] == "jdbc:redshift://rs.example.com:5439/warehouse"
    assert opts["dbtable"] == "analytics.facts"
    assert opts["tempdir"] == "s3://tmp-bucket/rs/"
    assert opts["forward_spark_s3_credentials"] == "true"
    assert mode == "append"


def test_redshift_iam_role_disables_credential_forwarding():
    from yaetos_spark.sources.jdbc import build_redshift_options

    _, opts, mode = build_redshift_options(
        {
            "url": "jdbc:redshift://h:5439/db",
            "dbtable": "t",
            "s3_tmp_dir": "s3://tmp/",
            "aws_iam_role": "arn:aws:iam::000000000000:role/rs-load",
        }
    )
    assert opts["aws_iam_role"].endswith("rs-load")
    assert opts["forward_spark_s3_credentials"] == "false"
    assert mode == "overwrite"


def test_pickle_write_roundtrip(spark, tmp_path):
    import pandas as pd

    from yaetos_spark.sources.writers import save_output

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    path = str(tmp_path / "out.pkl")
    save_output(df, {"path": path, "type": "pickle"})
    back = pd.read_pickle(path)
    assert sorted(map(tuple, back.itertuples(index=False))) == [(1, "a"), (2, "b")]
    # mode policy still applies to single-file writes
    import pytest

    with pytest.raises(FileExistsError):
        save_output(df, {"path": path, "type": "pickle"})


def test_excel_write_read_roundtrip(spark, tmp_path):
    """.xlsx works WITHOUT openpyxl: the stdlib xlsx_lite codec backs
    both save_output and load_input, so a write→read roundtrip through
    a real zip-of-SpreadsheetML file preserves values and dtypes."""
    from yaetos_spark.sources.readers import load_input
    from yaetos_spark.sources.writers import save_output

    df = spark.createDataFrame(
        [(1, "a", 1.5, True), (2, "b,é <&>", 2.0, False), (3, None, None, None)],
        "id int, v string, x double, flag boolean",
    )
    path = str(tmp_path / "out.xlsx")
    save_output(df, {"path": path, "type": "xlsx"})
    back = load_input(
        spark,
        {"path": path, "type": "xlsx", "schema": "id int, v string, x double, flag boolean"},
    )
    assert sorted(back.collect()) == sorted(df.collect())
    # excel kwargs beyond the stdlib subset still need openpyxl
    try:
        import openpyxl  # noqa: F401
    except ImportError:
        import pytest

        with pytest.raises(NotImplementedError, match="openpyxl"):
            save_output(
                df, {"path": str(tmp_path / "s.xlsx"), "type": "xlsx",
                     "write_kwargs": {"sheet_name": "S2"}}
            )


def test_xlsx_lite_codec_details(tmp_path):
    """Parser details beyond the roundtrip: sparse cell refs, shared-
    string dedup, inline strings, rich-text runs, and >26 columns."""
    import zipfile

    from yaetos_spark.sources import xlsx_lite as XL

    assert XL._col_name(0) == "A" and XL._col_name(27) == "AB"
    assert XL._col_index("AB") == 27

    path = str(tmp_path / "t.xlsx")
    XL.write_xlsx(path, ["a", "b", "c"], [(1, "dup", None), (2.5, "dup", -3)])
    header, rows = XL.read_xlsx(path)
    assert header == ["a", "b", "c"]
    assert rows == [(1, "dup", None), (2.5, "dup", -3)]
    with zipfile.ZipFile(path) as zf:  # "dup" stored once (shared strings)
        assert zf.read("xl/sharedStrings.xml").count(b"dup") == 1

    # hand-crafted sheet exercising inline strings + rich-text runs,
    # the producer shapes our own writer doesn't emit
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>h1</t></is></c>'
        '<c r="B1" t="s"><v>0</v></c></row>'
        '<row r="2"><c r="B2"><v>7</v></c></row>'  # A2 missing → None
        "</sheetData></worksheet>"
    )
    sst = f'<sst xmlns="{ns}"><si><r><t>ri</t></r><r><t>ch</t></r></si></sst>'
    path2 = str(tmp_path / "h.xlsx")
    with zipfile.ZipFile(path2, "w") as zf:
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
        zf.writestr("xl/sharedStrings.xml", sst)
    header, rows = XL.read_xlsx(path2)
    assert header == ["h1", "rich"]
    assert rows == [(None, 7)]


def test_airflow_dag_golden_file():
    from yaetos_spark.deploy_airflow import emit_airflow_dag
    from yaetos_spark.plans.registry import Registry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reg = Registry.from_file(os.path.join(repo, "conf", "jobs.yml"))
    text = emit_airflow_dag(reg, "top_users")
    with open(os.path.join(repo, "tests", "fixtures", "golden_airflow_dag.py")) as fh:
        golden = fh.read()
    assert text == golden
    # structural invariants, independent of the golden text
    assert "events_per_type >> top_users" in text
    assert text.count("BashOperator(") == 2  # one task per pipeline job
    compile(text, "dag.py", "exec")  # emitted file is valid python


def test_db_extractor_credentials_and_gates(tmp_path):
    import pytest

    from yaetos_spark.sources.db_extractors import query_hive, query_salesforce, read_credentials

    cfg = tmp_path / "connections.cfg"
    cfg.write_text(
        "[warehouse]\nhost = h.example.com\nport = 10000\nuser = me\n"
        "[sf]\nuser = u\npassword = p\ntoken = t\ndomain = production\n"
    )
    creds = read_credentials(str(cfg), "warehouse")
    assert creds["host"] == "h.example.com" and creds["port"] == "10000"
    with pytest.raises(FileNotFoundError):
        read_credentials(str(tmp_path / "nope.cfg"), "x")
    # connector libs absent in this image → capability gate, not a crash
    with pytest.raises(NotImplementedError, match="pyhive"):
        query_hive("SHOW TABLES", "warehouse", str(cfg))
    with pytest.raises(NotImplementedError, match="simple_salesforce"):
        query_salesforce("SELECT Id FROM Account", "sf", str(cfg))


def test_git_lineage_in_metadata_sidecar(spark, tmp_path, monkeypatch):
    import subprocess

    from yaetos_spark.git_utils import get_git_config
    from yaetos_spark.sources.writers import save_output

    assert get_git_config(str(tmp_path)) is None  # non-repo → None, no raise

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "job.py").write_text("x = 1\n")

    def git(*args):
        return subprocess.check_output(
            ["git", "-c", "user.name=t", "-c", "user.email=t@example.com",
             "-c", "commit.gpgsign=false", *args],
            cwd=repo, text=True,
        ).strip()

    git("init", "-q")
    git("add", "job.py")
    git("commit", "-q", "-m", "init")
    commit = git("rev-parse", "HEAD")
    cfg = get_git_config(str(repo))
    assert cfg["commit"] == commit and cfg["is_dirty"] is False

    # the sidecar records the git state of the launch directory
    monkeypatch.chdir(repo)
    df = spark.createDataFrame([(1,)], "id int")
    out = str(tmp_path / "out")
    save_output(df, {"path": out, "type": "parquet", "save_metadata": True})
    meta = (tmp_path / "out" / "_metadata.txt").read_text()
    assert f"git_commit: {commit}" in meta and "job_name:" in meta


def test_redshift_query_only_spec():
    """A query-only read spec (no table) must build cleanly."""
    from yaetos_spark.sources.jdbc import build_redshift_options

    fmt, opts, _ = build_redshift_options(
        {"url": "jdbc:redshift://h:5439/db", "s3_tmp_dir": "s3://t/", "query": "SELECT 1"}
    )
    assert "dbtable" not in opts
    with pytest.raises(ValueError, match="db_table or query"):
        build_redshift_options({"url": "jdbc:redshift://h:5439/db", "s3_tmp_dir": "s3://t/"})


def test_single_file_write_metadata_and_append_policy(spark, tmp_path):
    from yaetos_spark.sources.writers import save_output

    df = spark.createDataFrame([(1,)], "id int")
    path = str(tmp_path / "o.pkl")
    save_output(df, {"path": path, "type": "pickle", "save_metadata": True}, job_name="jx")
    sidecar = tmp_path / "o.pkl_metadata.txt"
    assert sidecar.exists() and "job_name: jx" in sidecar.read_text()
    # append cannot work on a single file — must refuse, not overwrite
    with pytest.raises(ValueError, match="append"):
        save_output(df, {"path": str(tmp_path / "p.pkl"), "type": "pickle", "mode": "append"})


def test_sort_by_write_tightens_rowgroup_stats(spark, tmp_path):
    """sort_by must produce parquet whose row-group min/max on the sort
    column are non-overlapping-ish (sorted within each file) — the
    property scan pruning relies on."""
    import pyarrow.parquet as pq

    from yaetos_spark.sources.writers import save_output

    df = spark.createDataFrame(
        [(i * 37 % 1000, f"v{i}") for i in range(1000)], "k int, v string"
    ).repartition(1)
    out = str(tmp_path / "sorted")
    save_output(df, {"path": out, "type": "parquet", "sort_by": "k", "mode": "overwrite"})
    import os

    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert files
    vals = []
    for f in files:
        t = pq.read_table(os.path.join(out, f), columns=["k"])
        col = t.column("k").to_pylist()
        assert col == sorted(col), "rows not sorted within file"
        vals.extend(col)
    assert sorted(vals) == sorted(i * 37 % 1000 for i in range(1000))  # no rows lost


def test_jdbc_creds_section_resolution(tmp_path):
    """A registry spec naming a creds section must pick up user/password
    and assemble the JDBC url from host/port/service; explicit spec
    keys win over the cfg."""
    from yaetos_spark.sources.jdbc import build_read_options, resolve_creds

    cfg = tmp_path / "connections.cfg"
    cfg.write_text(
        "[mysql_main]\nuser: alice\npassword: s3cret\n"
        "host: db.example.com\nport: 3306\nservice: sales\n"
    )
    spec = {
        "type": "mysql",
        "creds": "mysql_main",
        "creds_file": str(cfg),
        "db_table": "orders",
    }
    opts = build_read_options(spec)
    assert opts["user"] == "alice" and opts["password"] == "s3cret"
    assert opts["url"] == "jdbc:mysql://db.example.com:3306/sales"
    assert opts["dbtable"] == "orders"

    # explicit keys beat the cfg
    spec2 = dict(spec, user="bob", url="jdbc:mysql://other/db")
    out = resolve_creds(spec2)
    assert out["user"] == "bob" and out["url"] == "jdbc:mysql://other/db"

    # missing file fails loudly
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        resolve_creds({"creds": "x", "creds_file": str(tmp_path / "nope.cfg")})


def test_jdbc_oracle_thin_url_uses_at_form(tmp_path):
    """The Oracle thin driver rejects 'jdbc:oracle:thin://host/...';
    the assembled URL must use the '@//' form."""
    from yaetos_spark.sources.jdbc import resolve_creds

    cfg = tmp_path / "connections.cfg"
    cfg.write_text(
        "[ora]\nuser: u\npassword: p\n"
        "host: ora.example.com\nport: 1521\nservice: XEPDB1\n"
    )
    out = resolve_creds(
        {"type": "oracle", "creds": "ora", "creds_file": str(cfg)}
    )
    assert out["url"] == "jdbc:oracle:thin:@//ora.example.com:1521/XEPDB1"


def test_partitioned_write_enables_dynamic_partition_pruning(spark, tmp_path):
    """The reference's implicit partition-pruning story
    (partitionBy(inc_field) writes — yaetos/etl_utils.py:646) must
    actually prune at READ time on this engine: a join between the
    partitioned output and a selectively-filtered dim has to inject a
    dynamicpruning expression into the fact scan's PartitionFilters,
    so only the matching date directories are read. At 100 TB this is
    the difference between scanning 3 partitions and scanning 3 years.
    (VERDICT r4 item 4 — plan-level proof, not just layout.)"""
    from pyspark.sql import functions as F

    fact = spark.range(0, 20000).select(
        F.col("id").alias("event_id"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 30).cast("int"))
        .alias("event_date"),
    )
    save_output(
        fact,
        {"path": str(tmp_path / "events_part"), "type": "parquet",
         "partition_by": "event_date", "save_metadata": False},
    )
    dim = spark.range(0, 30).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int"))
        .alias("event_date"),
        (F.col("id") % 10).alias("flag"),
    )
    save_output(dim, {"path": str(tmp_path / "dim"), "type": "parquet",
                      "mode": "error", "save_metadata": False})

    fact_r = load_input(spark, {"path": str(tmp_path / "events_part"), "type": "parquet"})
    dim_r = (
        load_input(spark, {"path": str(tmp_path / "dim"), "type": "parquet"})
        .filter(F.col("flag") == 3)  # selective dim filter → DPP applies
    )
    joined = fact_r.join(dim_r, "event_date")

    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the pruning expression must sit on the FACT scan's partition filters
    scan_lines = [
        line for line in plan.splitlines()
        if "PartitionFilters" in line and "dynamicpruning" in line.lower()
    ]
    assert scan_lines, plan[:2000]
    # semantics unchanged by pruning: 3 matching dates x (20000/30 rows each)
    assert joined.count() == sum(1 for i in range(20000) if i % 30 % 10 == 3)


def _write_foreign_xlsx(path):
    """Raw-zip SpreadsheetML the way OTHER producers emit it — none of
    the shapes our own write_xlsx uses: inline strings (t="inlineStr")
    with NO sharedStrings.xml part at all, a styles.xml with s= style
    refs on cells, an explicit <dimension>, sparse rows, a self-closing
    empty cell, and ELEVEN worksheets so the lexicographic trap
    (sheet10.xml sorting before sheet2.xml) is live."""
    import zipfile

    ct = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(2, 13)
        )
        + '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
        "</Types>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    wb = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>'
        + "".join(f'<sheet name="S{i}" sheetId="{i}" r:id="rId{i}"/>' for i in range(2, 13))
        + "</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i}.xml"/>'
            for i in range(2, 13)
        )
        + "</Relationships>"
    )
    styles = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<numFmts count="1"><numFmt numFmtId="164" formatCode="0.00"/></numFmts>'
        '<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>'
        '<fills count="1"><fill><patternFill patternType="none"/></fill></fills>'
        '<borders count="1"><border/></borders>'
        '<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="164" applyNumberFormat="1"/></cellXfs>'
        "</styleSheet>"
    )
    sheet1 = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<dimension ref="A1:C4"/><sheetData>'
        '<row r="1" spans="1:3"><c r="A1" t="inlineStr"><is><t>name</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>score</t></is></c>'
        '<c r="C1" t="inlineStr"><is><t>ok</t></is></c></row>'
        '<row r="2" spans="1:3"><c r="A2" t="inlineStr"><is><t>alpha &amp; beta</t></is></c>'
        '<c r="B2" s="1"><v>1.5</v></c><c r="C2" t="b"><v>1</v></c></row>'
        '<row r="3" spans="1:3"><c r="A3" t="inlineStr"><is><t>gamma</t></is></c>'
        '<c r="C3" t="b"><v>0</v></c></row>'
        '<row r="4" spans="1:3"><c r="A4" t="inlineStr"><is><t>delta</t></is></c>'
        '<c r="B4"><v>42</v></c><c r="C4"/></row>'
        "</sheetData></worksheet>"
    )
    decoy = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>DECOY_{i}</t></is></c></row>'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", ct)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/styles.xml", styles)
        zf.writestr("xl/worksheets/sheet2.xml", sheet1)
        for i in range(3, 13):
            zf.writestr(f"xl/worksheets/sheet{i}.xml", decoy.format(i=i))


def test_xlsx_lite_reads_foreign_producer_workbook(spark, tmp_path):
    """xlsx_lite must parse workbooks OTHER tools emit, not just its
    own output (VERDICT r4 item 6): inline strings without any
    sharedStrings part, style attributes, sparse rows, self-closing
    empty cells, XML entities, and sheet10-vs-sheet2 name ordering."""
    from yaetos_spark.sources.xlsx_lite import read_xlsx

    path = str(tmp_path / "foreign.xlsx")
    _write_foreign_xlsx(path)
    header, rows = read_xlsx(path)
    assert header == ["name", "score", "ok"]
    # column B harmonizes to float (pandas semantics: one float → all float)
    assert rows == [
        ("alpha & beta", 1.5, True),
        ("gamma", None, False),
        ("delta", 42.0, None),
    ]
    # and the Spark-facing reader path consumes it end-to-end
    df = load_input(spark, {"path": path, "type": "xlsx"})
    got = {tuple(r) for r in df.select("name", "score", "ok").collect()}
    assert ("gamma", None, False) in got and len(got) == 3


def test_xlsx_lite_first_sheet_follows_workbook_order(tmp_path):
    """Part numbers don't track display order: a producer that moved
    the 7th-created sheet to the front keeps its sheet7.xml part name.
    The reader must follow workbook.xml <sheets> order -> r:id ->
    workbook.xml.rels target, not the numeric part sort (ADVICE r5)."""
    import zipfile

    from yaetos_spark.sources.xlsx_lite import read_xlsx

    wb = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>'
        '<sheet name="Moved to front" sheetId="7" r:id="rId7"/>'
        '<sheet name="Was first" sheetId="2" r:id="rId2"/>'
        "</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>'
        '<Relationship Id="rId7" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="/xl/worksheets/sheet7.xml"/>'
        "</Relationships>"
    )

    def sheet(marker):
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>{marker}</t></is></c></row>'
            '<row r="2"><c r="A2"><v>1</v></c></row></sheetData></worksheet>'
        )

    path = str(tmp_path / "reordered.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/worksheets/sheet2.xml", sheet("WRONG"))
        zf.writestr("xl/worksheets/sheet7.xml", sheet("RIGHT"))
    header, _rows = read_xlsx(path)
    assert header == ["RIGHT"]

    # broken rels chain (dangling r:id) -> numeric part-sort fallback
    path2 = str(tmp_path / "broken.xlsx")
    with zipfile.ZipFile(path2, "w") as zf:
        zf.writestr("xl/workbook.xml", wb.replace("rId7", "rId99"))
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/worksheets/sheet2.xml", sheet("FALLBACK"))
        zf.writestr("xl/worksheets/sheet10.xml", sheet("LEXICO_TRAP"))
    header2, _ = read_xlsx(path2)
    assert header2 == ["FALLBACK"]


def test_xlsx_lite_skips_chartsheet_first_tab(tmp_path):
    """A workbook whose FIRST display tab is a chartsheet (no cell
    data) must resolve to the first real worksheet in display order,
    not return empty rows (round-6 review finding)."""
    import zipfile

    from yaetos_spark.sources.xlsx_lite import read_xlsx

    wb = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>'
        '<sheet name="Chart" sheetId="1" r:id="rId1"/>'
        '<sheet name="Data" sheetId="2" r:id="rId2"/>'
        "</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/chartsheet" Target="chartsheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    chart = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<chartsheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"/>'
    )
    data = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>DATA</t></is></c></row>'
        '<row r="2"><c r="A2"><v>7</v></c></row></sheetData></worksheet>'
    )
    path = str(tmp_path / "chartfirst.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/chartsheets/sheet1.xml", chart)
        zf.writestr("xl/worksheets/sheet1.xml", data)
    header, rows = read_xlsx(path)
    assert header == ["DATA"] and rows == [(7,)]


def test_starved_scan_repartition_gate(spark, sf_dir):
    """The adaptive scan repartition (guide §2.5: unsplittable input)
    fires only on starved layouts with enough rows, and never changes
    the rows themselves."""
    from yaetos_spark.sources.tables import (
        _starved_scan_partitions,
        load_table,
    )

    p = spark.sparkContext.defaultParallelism
    # single-row-group file with rows >= 8*p -> fires with width p
    lineitem = f"{sf_dir}/lineitem.parquet"
    assert _starved_scan_partitions(spark, lineitem) == p
    # tiny dimension table (25 rows) -> too few rows, no repartition
    assert _starved_scan_partitions(spark, f"{sf_dir}/nation.parquet") is None
    # unknown path -> metadata unreadable -> safe no-op
    assert _starved_scan_partitions(spark, f"{sf_dir}/nope.parquet") is None
    # kill switch
    os.environ["SPARK_GRAFT_SCAN_PARALLELIZE"] = "0"
    try:
        assert _starved_scan_partitions(spark, lineitem) is None
    finally:
        del os.environ["SPARK_GRAFT_SCAN_PARALLELIZE"]
    # parallelized load: same rows, wider layout
    base = load_table(spark, os.path.dirname(lineitem), "lineitem")
    par = load_table(spark, os.path.dirname(lineitem), "lineitem", parallelize=True)
    assert par.rdd.getNumPartitions() == p
    assert par.count() == base.count()
    assert (
        par.selectExpr("sum(hash(l_orderkey, l_partkey, l_quantity))").first()[0]
        == base.selectExpr("sum(hash(l_orderkey, l_partkey, l_quantity))").first()[0]
    )


def test_max_split_bytes_parses_spark_size_strings(spark, monkeypatch):
    """``spark.sql.files.maxPartitionBytes`` comes back verbatim as set
    ("256m", "1g"); the starved-scan gate must read it as bytes, not
    fall back to 128 MiB."""
    from yaetos_spark.sources import tables as T

    assert T._parse_bytes("134217728") == 128 << 20
    assert T._parse_bytes("64kb") == 64 << 10
    assert T._parse_bytes("1048576b") == 1 << 20
    assert T._parse_bytes("2T") == 2 << 40
    with pytest.raises(ValueError):
        T._parse_bytes("12 parsecs")
    conf_key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf_key)
    # 1 GiB in 64 row groups: byte splits alone decide the scan width
    monkeypatch.setattr(T, "_scan_layout", lambda path: (1 << 30, 10**6, 64))
    p = spark.sparkContext.defaultParallelism
    try:
        for size, split in (("256m", 256 << 20), ("1g", 1 << 30)):
            spark.conf.set(conf_key, size)
            assert spark.conf.get(conf_key) == size
            assert T._max_split_bytes(spark) == split
            byte_tasks = (1 << 30) // split
            expected = p if byte_tasks * 2 <= p else None
            assert T._starved_scan_partitions(spark, "any.parquet") == expected
    finally:
        spark.conf.set(conf_key, old)


def _spark_jobs(spark, group, fn):
    """(fn's result, number of Spark jobs fn launched) under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_parquet_schema_inferred_once_per_path(spark, tmp_path):
    """The second ``load_table`` of a path reuses the first read's
    schema (no inference job); a rewrite with a new ``mtime_ns`` is
    re-inferred and shows its new column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from yaetos_spark.sources.tables import load_table

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    first, jobs1 = _spark_jobs(spark, "schema_cache_1", lambda: load_table(spark, str(tmp_path), "t"))
    second, jobs2 = _spark_jobs(spark, "schema_cache_2", lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs1 >= 1  # schema inference runs a Spark job
    assert jobs2 == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())

    mtime = os.stat(path).st_mtime_ns
    pq.write_table(pa.table({"a": [4], "b": ["w"], "c": [1.5]}), path)
    # pin a distinct mtime: two writes can share a coarse timestamp tick
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))
    third, jobs3 = _spark_jobs(spark, "schema_cache_3", lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs3 >= 1
    assert third.columns == ["a", "b", "c"]
    assert [tuple(r) for r in third.collect()] == [(4, "w", 1.5)]


def test_load_input_schema_or_read_kwargs_bypass_schema_cache(spark, tmp_path):
    """A parquet spec with ``schema`` or ``read_kwargs`` reads the way it
    always did. Shown on a path whose cached schema is stale (rewritten
    with an extra column, mtime put back): the plain spec still sees the
    cached two columns, the other two specs do not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "s.parquet")
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), path)
    assert load_input(spark, {"path": path, "type": "parquet"}).columns == ["a", "b"]
    st = os.stat(path)
    pq.write_table(pa.table({"a": [2], "b": ["y"], "c": [3]}), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))

    assert load_input(spark, {"path": path, "type": "parquet"}).columns == ["a", "b"]
    with_kwargs, jobs = _spark_jobs(
        spark,
        "schema_cache_kwargs",
        lambda: load_input(
            spark, {"path": path, "type": "parquet", "read_kwargs": {"mergeSchema": "false"}}
        ),
    )
    assert jobs >= 1 and with_kwargs.columns == ["a", "b", "c"]
    with_schema = load_input(spark, {"path": path, "type": "parquet", "schema": "c BIGINT, a BIGINT"})
    assert with_schema.columns == ["c", "a"]
    assert [tuple(r) for r in with_schema.collect()] == [(3, 2)]
