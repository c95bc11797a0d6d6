"""Loaders for the benchmark star schema (region nation customer
supplier part orders lineitem events documents embeddings).

``load_tables`` reads every table of a scale-factor directory,
normalizes nanosecond-timestamp columns (Spark has no ns timestamp —
the session reads them as raw longs via
``spark.sql.legacy.parquet.nanosAsLong`` and this loader converts to
microsecond timestamps with exact integer division), and registers a
temp view per table.

Schema cache: ``spark.read.parquet(path)`` without a schema launches a
Spark job on every call (Spark 4.1 runs ``mergeSchemasInParallel`` even
for one file): ~79 ms a read against ~9 ms with an explicit schema, and
a ``query_mix`` pass reads 10 tables 21 times. ``read_parquet`` infers a
local path's schema once per SparkContext and passes it to later reads
until the path's ``mtime_ns`` changes. Only the schema is cached: files
are still listed on every read, so a read never returns stale rows. A
rewrite is seen through the path's own mtime (a file's, or a
directory's, which changes when files are added or removed); a session
that changes a parquet type-mapping conf between two reads of one path
keeps the first read's schema.
"""

from __future__ import annotations

import os
import re
import weakref

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# columns stored as parquet TIMESTAMP(NANOS) that arrive as raw longs
_NANO_TS_COLS = {"events": ["ts"]}


def _ensure_nanos_conf(spark: SparkSession) -> None:
    """Make the session able to scan TIMESTAMP(NANOS) parquet.

    ``spark.sql.legacy.parquet.nanosAsLong`` is a runtime-settable SQL
    conf; setting it here means any caller's vanilla SparkSession (not
    just ones built by our session factory) can read events.parquet —
    the scan otherwise fails with PARQUET_TYPE_ILLEGAL."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf locked down (e.g. Spark Connect policy) — scan may still work


# natural unique (or near-unique) key per bench table — the hash-
# repartition key for starved scans (unique keys spread evenly; a
# round-robin repartition would additionally pay Spark's
# sort-before-repartition on the single scan task)
_TABLE_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

def _mtime_ns(path: str) -> int | None:
    """mtime of a local file or directory, the key of both metadata
    caches below; None for a remote (``://``) or unreadable path."""
    if "://" in path:
        return None
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return None


# SparkContext -> {path: (mtime_ns, schema)}: one entry per local path,
# replaced when the path's mtime changes; dropped with its SparkContext.
_SCHEMA_CACHE: weakref.WeakKeyDictionary[
    SparkContext, dict[str, tuple[int, StructType]]
] = weakref.WeakKeyDictionary()


def read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``spark.read.parquet(path)`` that infers a local path's schema once
    per SparkContext (see the module docstring). Returns the DataFrame
    and its schema, so callers can check column types without another
    gateway round trip. Remote paths are read as before, uncached."""
    mtime = _mtime_ns(path)
    if mtime is None:
        df = spark.read.parquet(path)
        return df, df.schema
    per_sc = _SCHEMA_CACHE.setdefault(spark.sparkContext, {})
    hit = per_sc.get(path)
    if hit is not None and hit[0] == mtime:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    per_sc[path] = (mtime, df.schema)
    return df, df.schema


# (path, mtime_ns) -> (total_bytes, num_rows, num_row_groups) footer
# cache: metadata only, never data — reading it costs ~1 ms per table per
# session and is what makes the starvation gate a function of the
# INPUT LAYOUT instead of a constant.
_LAYOUT_CACHE: dict[tuple[str, int], tuple[int, int, int]] = {}


def _scan_layout(path: str) -> tuple[int, int, int] | None:
    """(bytes, rows, row_groups) of a parquet file or directory."""
    mtime = _mtime_ns(path)
    if mtime is None:
        return None
    key = (path, mtime)
    if key in _LAYOUT_CACHE:
        return _LAYOUT_CACHE[key]
    try:
        import pyarrow.parquet as pq

        files = []
        if os.path.isdir(path):
            for root, _dirs, names in os.walk(path):
                files += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
        else:
            files = [path]
        total_bytes = rows = groups = 0
        for f in files:
            total_bytes += os.path.getsize(f)
            md = pq.ParquetFile(f).metadata
            rows += md.num_rows
            groups += md.num_row_groups
        out = (total_bytes, rows, groups)
        _LAYOUT_CACHE[key] = out
        return out
    except Exception:
        return None  # unknown layout -> no repartition (safe default)


_BYTE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def _parse_bytes(size: str) -> int:
    """Spark byte-size string -> bytes: a bare number is bytes, and
    ``k/m/g/t/p`` (optionally followed by ``b``) are binary multiples,
    as in Spark's ``JavaUtils.byteStringAsBytes`` ("256m", "1g", "64kb",
    "1048576b")."""
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)b?", size.strip().lower())
    if m is None:
        raise ValueError(f"not a byte size: {size!r}")
    return int(m.group(1)) * _BYTE_UNITS[m.group(2)]


def _max_split_bytes(spark: SparkSession) -> int:
    """The session's ``spark.sql.files.maxPartitionBytes`` in bytes."""
    try:
        return _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    except Exception:
        return 128 * 1024 * 1024


def _starved_scan_partitions(spark: SparkSession, path: str) -> int | None:
    """If the parquet layout of ``path`` cannot feed the session's
    cores, return the repartition width; else None.

    Scan parallelism for parquet is bounded by BOTH the byte splits
    (``spark.sql.files.maxPartitionBytes``) and the row-group count (a
    row group is the unit of work — a single-row-group file is one
    task no matter how it is split). Guide §2.5 calls this input skew
    from an unsplittable file; the fix is a repartition immediately
    after the read. The gate is scale-adaptive by construction: any
    production-size table has row groups >= cores, so this costs
    nothing there — it only fires on small single-row-group inputs
    where the whole scan (and everything Spark fuses into the scan
    stage: filters, projections, explodes, partial aggregates, Arrow
    batches) would otherwise run on ONE core.
    """
    if os.environ.get("SPARK_GRAFT_SCAN_PARALLELIZE", "1") == "0":
        return None
    layout = _scan_layout(path)
    if layout is None:
        return None
    total_bytes, rows, groups = layout
    byte_tasks = max(1, -(-total_bytes // _max_split_bytes(spark)))
    eff_tasks = min(byte_tasks, max(1, groups))
    p = spark.sparkContext.defaultParallelism
    # fire only when clearly starved AND there are enough rows for the
    # extra exchange to buy real parallel work (>= 8 rows per core)
    if eff_tasks * 2 <= p and rows >= 8 * p:
        return p
    return None


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool | str = False
) -> DataFrame:
    """``parallelize``: False (plain scan), True (adaptive starved-scan
    repartition on the table's natural key), or a column name (or list
    of column names, for when no single already-read column has enough
    cardinality) to repartition on instead — pick the downstream
    groupBy/join key so the exchange it pays is one the plan needed
    anyway (guide §2.4), and prefer columns the query already reads so
    the key does not drag an extra column into ReadSchema (§6.2)."""
    _ensure_nanos_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    df, schema = read_parquet(spark, path)
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    for col in _NANO_TS_COLS.get(name, []):
        if dtypes.get(col) == "bigint":
            # integer div — double math would lose precision at 1e18 ns
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if parallelize:
        key = (
            parallelize
            if isinstance(parallelize, (str, list, tuple))
            else _TABLE_KEYS.get(name)
        )
        keys = [key] if isinstance(key, str) else list(key or [])
        p = _starved_scan_partitions(spark, path)
        if keys and p is not None and all(k in dtypes for k in keys):
            df = df.repartition(p, *keys)
    return df


def load_tables(spark: SparkSession, sf_dir: str, register: bool = True) -> dict[str, DataFrame]:
    dfs = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
