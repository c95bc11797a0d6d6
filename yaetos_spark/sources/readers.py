"""Typed input loading — one dispatch for every tabular source.

Behavior parity with the reference's ``load_input`` dispatch
(reference: yaetos/etl_utils.py:356-429): an input spec is a dict with
at least ``path`` and ``type``; the loader returns a Spark DataFrame
regardless of the on-disk format. Excel/pickle go through a pandas shim
at the edge (reference: yaetos/pandas_utils.py:21-82,
yaetos/excel_utils.py:8-30); everything else is a native Spark reader
so predicate pushdown / column pruning / partition pruning apply.

Scale notes: parquet is the canonical interchange format — scans get
min/max pushdown and column pruning for free. CSV/JSON inference is
kept for parity but a ``schema`` key (Spark DDL string) avoids the
extra inference pass, which at 100 TB is a full read of the data.
A local parquet input without ``schema``/``read_kwargs`` has its schema
inferred once per session (``tables.read_parquet``), not once per read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABULAR_TYPES = (
    "csv",
    "parquet",
    "json",
    "orc",
    "txt",
    "df",
    "xlsx",
    "xls",
    "pickle",
    "mysql",
    "clickhouse",
    "postgres",
    "jdbc",
    "redshift",
)


def abs_local_path(path):
    """Resolve a relative local path against PYTHON's cwd. Spark
    resolves relative paths against the driver JVM's launch directory,
    which diverges from ``os.getcwd()`` after a chdir (e.g. running a
    scaffolded project from a long-lived session) — absolutizing here
    makes registry-relative paths behave the way a user expects."""
    import os

    if path and "://" not in path and not os.path.isabs(path):
        return os.path.abspath(path)
    return path


def load_input(spark: SparkSession, spec: dict, loaded_inputs: dict | None = None) -> DataFrame:
    """Load one input spec → DataFrame.

    spec keys: ``path``, ``type``, optional ``schema`` (Spark DDL),
    ``csv_delimiter``, ``read_kwargs``, ``add_source_column``.
    ``type: df`` pulls an in-memory DataFrame from ``loaded_inputs``
    (pipeline chaining, reference: yaetos/etl_utils.py:270-277).
    """
    itype = spec.get("type", "parquet")
    path = abs_local_path(spec.get("path"))

    if itype == "df":
        name = spec.get("from") or spec.get("name")
        if not loaded_inputs or name not in loaded_inputs:
            raise ValueError(f"in-memory input '{name}' not found in loaded_inputs")
        return loaded_inputs[name]

    if itype in ("mysql", "clickhouse", "postgres", "jdbc"):
        from yaetos_spark.sources.jdbc import load_jdbc

        return load_jdbc(spark, spec)

    if itype == "redshift":
        from yaetos_spark.sources.jdbc import load_redshift

        return load_redshift(spark, spec)

    if path is None:
        raise ValueError(f"input spec missing 'path': {spec}")

    schema = spec.get("schema")
    kwargs = dict(spec.get("read_kwargs") or {})

    if itype == "parquet":
        from yaetos_spark.sources.tables import _ensure_nanos_conf, read_parquet

        _ensure_nanos_conf(spark)
        if schema or kwargs:
            reader = spark.read
            if schema:
                reader = reader.schema(schema)
            if kwargs:
                reader = reader.options(**kwargs)
            df, spark_schema = reader.parquet(path), None
        else:
            df, spark_schema = read_parquet(spark, path)
        df = _normalize_nano_timestamps(df, path, spark_schema)
    elif itype == "orc":
        df = spark.read.orc(path)
    elif itype == "csv":
        opts = {"header": True, "inferSchema": schema is None}
        if spec.get("csv_delimiter"):
            opts["sep"] = spec["csv_delimiter"]
        opts.update(kwargs)
        reader = spark.read
        if schema:
            reader = reader.schema(schema)
            opts["inferSchema"] = False
        df = reader.options(**opts).csv(path)
    elif itype == "json":
        reader = spark.read
        if schema:
            reader = reader.schema(schema)
        if kwargs:
            reader = reader.options(**kwargs)
        df = reader.json(path)
    elif itype == "json_records":
        # {'records': [...]} wrapper layout (reference:
        # yaetos/pandas_utils.py:72-82) → explode the array natively.
        raw = spark.read.option("multiLine", True).json(path)
        if "records" in raw.columns:
            df = raw.select(F.explode("records").alias("_rec")).select("_rec.*")
        else:
            df = raw
    elif itype == "txt":
        # text → one 'value' column DataFrame (reference used an RDD of
        # lines, yaetos/etl_utils.py:367-370; DataFrame keeps it lazy).
        df = spark.read.text(path)
    elif itype in ("xlsx", "xls"):
        df = _load_excel(spark, path, schema, kwargs)
    elif itype == "pickle":
        df = _load_pickle(spark, path)
    else:
        raise ValueError(f"unsupported input type '{itype}'")

    if spec.get("add_source_column"):
        # parity with pandas loaders' _source column
        # (reference: yaetos/pandas_utils.py:35-36)
        df = df.withColumn("_source", F.input_file_name())
    return df


def _normalize_nano_timestamps(
    df: DataFrame, path: str, spark_schema: StructType | None = None
) -> DataFrame:
    """Spark has no nanosecond timestamp: TIMESTAMP(NANOS) parquet
    columns arrive as raw longs (via spark.sql.legacy.parquet.nanosAsLong,
    set in the session factory — without it the scan fails outright).
    Probe the parquet footer with pyarrow and convert such columns to
    microsecond timestamps with exact integer division. Remote
    filesystems pyarrow can't reach are skipped (columns stay long).
    ``spark_schema`` is ``df``'s schema when the caller already has it,
    which saves a gateway round trip."""
    if "://" in path:  # local-fs probe only in v1
        return df
    try:
        import pyarrow.dataset as ds
        import pyarrow.types as pat

        schema = ds.dataset(path, format="parquet").schema
    except Exception:
        return df
    dtypes = {f.name: f.dataType.simpleString() for f in (spark_schema or df.schema).fields}
    for field in schema:
        if (
            pat.is_timestamp(field.type)
            and field.type.unit == "ns"
            and dtypes.get(field.name) == "bigint"
        ):
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    return df


def load_multi_paths(
    spark: SparkSession,
    paths: list[str],
    itype: str = "parquet",
    spec: dict | None = None,
    add_source_column: bool = True,
) -> DataFrame:
    """Union of several structured path scans (reference's multi-path
    copy pattern, jobs/examples/ex15_copy_job_multi_path.py:7-57):
    each path loads with the shared spec and the frames union by name,
    tolerating schema drift across locations."""
    base = dict(spec or {})
    base["type"] = itype
    out = None
    for p in paths:
        one = dict(base)
        one["path"] = p
        one["add_source_column"] = add_source_column
        df = load_input(spark, one)
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def expand_path_combinations(template: str, **values: list[str]) -> list[str]:
    """'{category}/{sub}' templating over the cartesian product of the
    given value lists — the loop that feeds load_multi_paths."""
    import itertools

    keys = list(values)
    paths = []
    for combo in itertools.product(*(values[k] for k in keys)):
        paths.append(template.format(**dict(zip(keys, combo))))
    return paths


def _load_excel(spark: SparkSession, path: str, schema, kwargs) -> DataFrame:
    """pandas shim when openpyxl is present (full feature set:
    sheet_name/skiprows/... kwargs pass through, reference:
    yaetos/excel_utils.py:8-30); otherwise the stdlib ``xlsx_lite``
    codec reads the pandas-roundtrippable subset, so .xlsx works in
    images without codec libs.  Legacy binary .xls always needs xlrd."""
    try:
        import pandas as pd

        pdf = pd.read_excel(path, **kwargs)
        return spark.createDataFrame(pdf, schema=schema) if schema else spark.createDataFrame(pdf)
    except ImportError as exc:  # openpyxl/xlrd not installed in this image
        if kwargs or not str(path).endswith(".xlsx"):
            raise NotImplementedError(
                "excel input beyond plain .xlsx requires openpyxl/xlrd "
                "(pandas shim at the edge)"
            ) from exc
    from yaetos_spark.sources.xlsx_lite import read_xlsx

    header, rows = read_xlsx(path)
    if not schema:
        return spark.createDataFrame(rows, schema=header)
    # xlsx has no int/float/date types — coerce inferred columns to the
    # declared schema with casts rather than strict row verification
    from pyspark.sql.types import StructType

    target = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    df = spark.createDataFrame(rows, schema=[f.name for f in target.fields])
    return df.select(*(F.col(f.name).cast(f.dataType) for f in target.fields))


def _load_pickle(spark: SparkSession, path: str) -> DataFrame:
    import pandas as pd

    pdf = pd.read_pickle(path)
    return spark.createDataFrame(pdf)
