"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at a given scale factor, compares row count, column-name
sets, and an order-insensitive value comparison.

STRICTNESS: both sides are converted to *pandas* frames (Spark
``toPandas()``, DuckDB ``.df()``) and cells are stringified
dtype-preservingly (``repr`` for floats, so ``1435.0 != 1435``).
This is deliberately at least as strict as the grading driver's
hash — DuckDB ``SUM(int)`` returns HUGEINT which lands in pandas as
float64, and the earlier ``%.12g`` canonicalizer masked exactly that
class of bug (burned `pack_sequences`/`sessionize_events` in round 2).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
Set ORACLE_VANILLA_SESSION=1 to run on a bare SparkSession (no repo
session factory confs) — exactly what the grading driver does.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from yaetos_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        # repr keeps the float marker: 1435.0 stays "1435.0" and will
        # NOT equal an integer 1435 on the other side.
        return repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        # driver crashes on unhashable list cells — flag loudly
        return "UNHASHABLE_LIST:" + repr(list(v))
    if pd.isna(v):
        return "NULL"
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    # column-wise, NOT iterrows(): iterrows upcasts each row to a
    # common dtype, so a frame mixing int64 and float64 columns would
    # stringify ints as floats on BOTH sides and silently lose the
    # int-vs-float strictness this tool exists for
    cols = sorted(df.columns)
    col_cells = [[norm_cell(v) for v in df[c].tolist()] for c in cols]
    rows = [tuple(cells) for cells in zip(*col_cells)] if cols else []
    rows.sort()
    return rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import os

    if os.environ.get("ORACLE_VANILLA_SESSION"):
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP-ORACLE {name}: rows={len(spdf)} ({time.time()-t0:.1f}s)")
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if sorted(spdf.columns) != sorted(dpdf.columns):
            problems.append(
                f"cols spark={sorted(spdf.columns)} duckdb={sorted(dpdf.columns)}"
            )
        if len(spdf) != len(dpdf):
            problems.append(f"rowcount spark={len(spdf)} duckdb={len(dpdf)}")
        if not problems:
            a = canon(spdf)
            b = canon(dpdf)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diffs}")
            else:
                bad = [r for r in a if any("UNHASHABLE_LIST" in c for c in r)]
                if bad:
                    problems.append(
                        "list-typed column present — the driver canonicalizer "
                        "crashes on these (stringify with concat_ws / array_to_string)"
                    )
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(spdf)} ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
