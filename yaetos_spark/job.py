"""The job model — N named inputs → transform() → 1 output.

Behavior parity with the reference's ETL_Base (reference:
yaetos/etl_utils.py:58-233): a job subclass overrides ``transform``
(receiving loaded input DataFrames as keyword args named after the
registry keys); every tabular input is also registered as a temp view
named by its registry key (reference: yaetos/etl_utils.py:349-354) so
``transform`` can be pure SQL via ``self.query(...)``; the framework
handles loading, incremental filtering, ``_created_at`` lineage,
primary-key checks, caching and saving.

Scale notes: ``persist()`` between the action that counts/validates and
the write avoids recomputing the whole plan (the one real optimization
the reference hand-rolled, kept here but opt-out via ``no_fw_cache``).
Everything else is left to Catalyst — the job body is a lazy DataFrame
plan until ``save_output``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yaetos_spark.operators.quality import check_pk
from yaetos_spark.plans.incremental import filter_incremental_inputs
from yaetos_spark.plans.paths import expand_path
from yaetos_spark.sources.readers import load_input
from yaetos_spark.sources.writers import save_output


class SparkJob:
    """Base class for all jobs. Subclass and override ``transform``."""

    # optional class-level config (overridden by params)
    INPUTS: dict = {}
    OUTPUT: dict = {}
    PKS: list | None = None

    def __init__(self, params: dict | None = None):
        self.params = dict(params or {})
        self.job_name = self.params.get("job_name", type(self).__name__)
        self.spark: SparkSession | None = None
        self._now = dt.datetime.now(dt.timezone.utc)

    # -- hooks ---------------------------------------------------------
    def transform(self, **dfs: DataFrame) -> DataFrame:
        raise NotImplementedError

    # -- SQL surface ---------------------------------------------------
    def query(self, sql: str, engine: str = "spark", dfs: dict | None = None):
        """Run SQL against the registered input views
        (reference: yaetos/etl_utils.py:671-680).  ``engine="pandas"``
        executes on DuckDB over the given pandas (or Spark, converted)
        frames and returns a pandas DataFrame — the reference's
        small-data edge path (reference: yaetos/pandas_utils.py:108-114,
        yaetos/sql_pandas_job.py:5-10); everything else is Spark SQL."""
        if engine == "pandas":
            return self._run_duckdb(sql, dfs)
        return self.spark.sql(sql)

    def _run_duckdb(self, sql: str, dfs: dict | None, as_arrow: bool = False):
        """One DuckDB codepath for every pandas-engine caller: registers
        pandas frames as-is and Spark frames via toPandas.  ``as_arrow``
        returns a pyarrow Table instead — EMPTY results keep their
        column types there, where a pandas object-dtype frame would make
        ``spark.createDataFrame`` raise CANNOT_INFER_EMPTY_SCHEMA."""
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        try:
            for name, df in (dfs or {}).items():
                con.register(
                    name, df if isinstance(df, pd.DataFrame) else df.toPandas()
                )
            res = con.execute(sql)
            return res.arrow() if as_arrow else res.df()
        finally:
            con.close()

    def sql_register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def register_udf(self, name: str, fn, returnType=None):
        """SQL-visible UDF registration (reference:
        jobs/examples/ex2_frameworked_job.py:26)."""
        return self.spark.udf.register(name, fn, returnType)

    def register_udtf(self, name: str, cls, returnType: str):
        """SQL-visible Python UDTF (table function) registration —
        rows out per row in, usable as ``SELECT * FROM name(...)`` in
        job SQL. The Spark-4 analog of the reference's row-expanding
        pandas .apply edges; prefer built-in explode/inline where
        semantics allow (JVM-side), a UDTF only for genuinely
        imperative fan-out."""
        from pyspark.sql.functions import udtf

        fn = udtf(cls, returnType=returnType)
        self.spark.udtf.register(name, fn)
        return fn

    # -- orchestration -------------------------------------------------
    def input_specs(self) -> dict:
        return self.params.get("inputs") or self.INPUTS

    def output_spec(self) -> dict:
        return self.params.get("output") or self.OUTPUT

    def output_pks(self) -> list | None:
        """Primary key the framework asserts unique on the OUTPUT.
        Jobs whose ``pks`` param refers to something else (e.g. the
        compare job's join keys) override this to opt out."""
        return self.params.get("pks") or self.PKS

    def load_inputs(self) -> dict[str, DataFrame]:
        loaded = self.params.get("_loaded_inputs") or {}
        dfs = {}
        for name, spec in self.input_specs().items():
            spec = dict(spec)
            if spec.get("from") and spec.get("from") in loaded:
                spec["type"] = "df"
            if spec.get("path"):
                spec["path"] = expand_path(spec["path"], self.params, self._now, self.spark)
            dfs[name] = load_input(self.spark, spec, loaded_inputs=loaded)
        return dfs

    def etl_no_io(self, spark: SparkSession, loaded_dfs: dict[str, DataFrame] | None = None) -> DataFrame:
        """Load → filter → register → transform, no disk write
        (reference: yaetos/etl_utils.py:204-229). ``loaded_dfs``
        bypasses disk for tests and chained pipelines."""
        self.spark = spark
        dfs = dict(loaded_dfs) if loaded_dfs is not None else self.load_inputs()
        specs = self.input_specs()
        dfs = filter_incremental_inputs(
            dfs, specs,
            period=self.params.get("period"),
            min_exclusive=self.params.get("inc_min"),
            max_inclusive=self.params.get("inc_max"),
        )
        for name, df in dfs.items():
            self.sql_register(name, df)
        output = self.transform(**dfs)
        if output is not None and self.params.get("add_created_at", True):
            output = add_created_at(output, self._now)
        if output is not None and self.params.get("save_schemas"):
            self.snapshot_schemas(dfs, output)
        return output

    def snapshot_schemas(self, inputs: dict[str, DataFrame], output: DataFrame) -> str:
        """Dump per-input/output {column: dtype} to
        ``schemas/<job>.yaml`` for observability (reference:
        Schema_Builder, yaetos/etl_utils.py:804-821)."""
        import os

        import yaml

        snap = {
            "job_name": self.job_name,
            "inputs": {name: dict(df.dtypes) for name, df in inputs.items()},
            "output": dict(output.dtypes),
        }
        out_dir = self.params.get("schemas_dir", "schemas")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.job_name}.yaml")
        with open(path, "w") as fh:
            yaml.safe_dump(snap, fh, sort_keys=False)
        return path

    def etl(self, spark: SparkSession) -> DataFrame:
        """Full pass: etl_no_io + quality gate + save
        (reference: yaetos/etl_utils.py:79-202)."""
        output = self.etl_no_io(spark)
        if output is None:
            return None
        if not self.params.get("no_fw_cache"):
            output = output.persist()
        pks = self.output_pks()
        if pks and not check_pk(output, pks):
            raise AssertionError(f"primary key {pks} not unique in {self.job_name} output")
        rules = self.params.get("expectations")
        if rules:
            from yaetos_spark.operators.quality import run_expectations

            ok, report = run_expectations(output, rules)
            if not ok:
                failed = [r.asDict() for r in report.filter(~report.passed).collect()]
                raise AssertionError(f"expectations failed in {self.job_name}: {failed}")
        out_spec = dict(self.output_spec())
        if out_spec.get("path"):
            out_spec["path"] = expand_path(out_spec["path"], self.params, self._now, self.spark)
            save_output(output, out_spec, job_name=self.job_name, now=self._now)
            # let a chaining Flow hand downstream jobs the WRITTEN
            # artifact instead of this plan (fresh lineage — a chain of
            # jobs otherwise compounds plans until iterative consumers
            # blow up Catalyst)
            self.written_output = (out_spec["path"], out_spec.get("type"))
        # secondary DB sink: file output lands as usual, AND the same
        # frame pushes to Redshift when the job opts in — gated by
        # enable_db_push so one flag disables pushes env-wide
        # (reference: yaetos/etl_utils.py:187-188, jargs copy_to_redshift
        # {'creds': ..., 'table': 'schema.tb'} + enable_db_push)
        rs = self.params.get("copy_to_redshift")
        if rs and self.params.get("enable_db_push", True):
            from yaetos_spark.sources.jdbc import save_redshift

            save_redshift(output, dict(rs))
        return output


def add_created_at(df: DataFrame, now: dt.datetime) -> DataFrame:
    """Lineage timestamp column (reference: yaetos/spark_utils.py:24-25)."""
    if "_created_at" in df.columns:
        return df
    return df.withColumn("_created_at", F.lit(now.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp"))


class SqlJob(SparkJob):
    """A job whose transform is a SQL file with ``----param----`` header
    lines (reference: yaetos/sql_spark_job.py:4-43)."""

    def __init__(self, params: dict | None = None):
        super().__init__(params)
        self.sql_file = self.params.get("sql_file")
        if self.sql_file:
            file_params = parse_sql_file_params(open(self.sql_file).read())
            # file params are weaker than explicit params
            for k, v in file_params.items():
                self.params.setdefault(k, v)

    def transform(self, **dfs) -> DataFrame:
        sql = self.params.get("sql") or strip_param_lines(open(self.sql_file).read())
        return self.query(sql)


class InputLoader(SparkJob):
    """Load a job's registry inputs without running a transform — for
    notebooks/dashboards (reference: yaetos/etl_utils.py:1398-1415)."""

    def load(self, spark: SparkSession) -> dict[str, DataFrame]:
        self.spark = spark
        dfs = self.load_inputs()
        for name, df in dfs.items():
            self.sql_register(name, df)
        return dfs

    def transform(self, **dfs):  # pragma: no cover - not used
        raise NotImplementedError("InputLoader only loads inputs")


def parse_sql_file_params(text: str) -> dict:
    """Parse ``----param---- 'key' : value ----`` header lines
    (reference: yaetos/sql_spark_job.py:40-43)."""
    import ast

    params = {}
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("----param----"):
            body = line[len("----param----"):].strip()
            body = body.rstrip("-").strip()
            try:
                parsed = ast.literal_eval("{" + body + "}")
                params.update(parsed)
            except (ValueError, SyntaxError):
                if ":" in body:
                    k, _, v = body.partition(":")
                    params[k.strip().strip("'\"")] = v.strip().strip("'\"")
    return params


def strip_param_lines(text: str) -> str:
    return "\n".join(l for l in text.splitlines() if not l.strip().startswith("----param----"))
