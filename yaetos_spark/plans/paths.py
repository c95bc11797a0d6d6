"""Path templating — {{base_path}} / {{latest}} / {{now}} expansion.

Behavior parity with the reference's Path_Handler (reference:
yaetos/etl_utils.py:1081-1119): ``{{now}}`` stamps an output run with
``date%Y%m%d_time%H%M%S_utc``; ``{{latest}}`` resolves to the max
lexicographic subfolder of the parent at read time (which is why the
stamp format must sort correctly); ``{{base_path}}``/``{{root_path}}``
come from mode params. S3 paths are rewritten s3:// → s3a:// for the
hadoop connector (reference: yaetos/etl_utils.py:360).
"""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil

NOW_FMT = "date%Y%m%d_time%H%M%S_utc"


def now_stamp(now: dt.datetime | None = None) -> str:
    now = now or dt.datetime.now(dt.timezone.utc)
    return now.strftime(NOW_FMT)


def is_s3_path(path: str) -> bool:
    return path.startswith("s3://") or path.startswith("s3a://")


def to_spark_path(path: str) -> str:
    return re.sub(r"^s3://", "s3a://", path)


def list_subfolders(parent: str, spark=None) -> list[str]:
    """Immediate subfolder names of ``parent`` (local or hadoop FS)."""
    if _is_remote(parent):
        fs, p = _hadoop_fs(parent, spark)
        if not fs.exists(p):
            return []
        return [s.getPath().getName() for s in fs.listStatus(p) if s.isDirectory()]
    if not os.path.isdir(parent):
        return []
    return [d for d in os.listdir(parent) if os.path.isdir(os.path.join(parent, d))]


def path_exists(path: str, spark=None) -> bool:
    """Existence check that works on local paths AND any hadoop-backed
    filesystem (s3a, hdfs, ...). Used to distinguish 'dataset not
    written yet' (a legitimate cold start) from a FAILED read of an
    existing dataset — the two must never share an except branch, or a
    transient FS error silently degrades into 'no data'."""
    if _is_remote(path):
        fs, p = _hadoop_fs(path, spark)
        return fs.exists(p)
    return os.path.exists(path)


def dataset_exists(path: str, spark=None) -> bool:
    """True iff ``path`` exists AND holds at least one non-hidden entry
    (a data file or a partition subdirectory).

    The distinction from :func:`path_exists` matters for cold-start
    detection: a write that crashes after creating the directory but
    before committing any data file leaves only ``_temporary/`` /
    ``.spark-staging-*`` / ``_SUCCESS`` droppings. ``path_exists`` calls
    that a warm start, the subsequent ``spark.read.parquet`` raises
    "unable to infer schema", and every retry fails the same way until
    a human deletes the directory — a permanent wedge from a transient
    crash. Listing the directory (one cheap FS call) and ignoring
    ``_``/``.``-prefixed names classifies that footprint as the cold
    start it really is, while a FAILED READ of a dir that does contain
    data files still raises (never swallowed — "raise, don't
    mislabel").

    "Hidden" here is exactly Spark's own path-visibility rule
    (HadoopFsUtils.shouldFilterOutPathName): a name starting with ``.``,
    or starting with ``_`` WITHOUT containing ``=`` — a partition
    directory like ``_batch_id=3`` is data even though it starts with
    an underscore (the streaming dedup index is laid out exactly like
    that), while ``_temporary`` / ``_SUCCESS`` are not."""
    if not path_exists(path, spark):
        return False
    return any(
        not (
            name.startswith(".")
            or (name.startswith("_") and "=" not in name)
        )
        for name in list_file_names(path, spark)
    )


def list_file_names(path: str, spark=None) -> list[str]:
    """Base names of the entries directly under ``path`` (files and
    dirs), local or hadoop FS; [] when the path does not exist."""
    if _is_remote(path):
        fs, p = _hadoop_fs(path, spark)
        if not fs.exists(p):
            return []
        return [s.getPath().getName() for s in fs.listStatus(p)]
    if not os.path.isdir(path):
        return []
    return os.listdir(path)


def rename_path(src: str, dst: str, spark=None) -> None:
    """Rename ``src`` to ``dst`` (local or hadoop FS); raises if the
    filesystem refuses, since hadoop's ``rename`` reports failure by
    returning False rather than raising."""
    if _is_remote(src):
        fs, p = _hadoop_fs(src, spark)
        if not fs.rename(p, _hadoop_fs(dst, spark)[1]):
            raise OSError(f"rename {src} -> {dst} failed")
    else:
        os.rename(src, dst)


def remove_tree(path: str, spark=None) -> None:
    """Delete ``path`` and everything under it; a missing path is a
    no-op (local or hadoop FS)."""
    if _is_remote(path):
        fs, p = _hadoop_fs(path, spark)
        fs.delete(p, True)
    elif os.path.exists(path):
        shutil.rmtree(path)


def tree_bytes(path: str, spark=None) -> int:
    """Total size of the files under ``path``; a missing path is 0
    (local or hadoop FS)."""
    if _is_remote(path):
        fs, p = _hadoop_fs(path, spark)
        return fs.getContentSummary(p).getLength() if fs.exists(p) else 0
    return sum(
        os.path.getsize(os.path.join(root, name))
        for root, _dirs, names in os.walk(path)
        for name in names
    )


def _is_remote(path: str) -> bool:
    return "://" in path


def _hadoop_fs(path: str, spark):
    """(FileSystem, Path) of a hadoop-backed ``path``."""
    if spark is None:
        raise ValueError(f"a remote path ({path}) requires a SparkSession")
    p = spark._jvm.org.apache.hadoop.fs.Path(to_spark_path(path))
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def expand_latest(path: str, spark=None) -> str:
    """Replace each {{latest}} segment with the max lexicographic
    subfolder at that level (reference: yaetos/etl_utils.py:1097-1104)."""
    while "{{latest}}" in path:
        head, _, tail = path.partition("{{latest}}")
        parent = head.rstrip("/") or "."
        subs = list_subfolders(parent, spark)
        if not subs:
            raise FileNotFoundError(f"no subfolders under '{parent}' to resolve {{{{latest}}}}")
        path = head + max(subs) + tail
    return path


def expand_now(path: str, now: dt.datetime | None = None) -> str:
    return path.replace("{{now}}", now_stamp(now))


def expand_path(path: str, params: dict | None = None, now: dt.datetime | None = None, spark=None) -> str:
    """Full expansion: {{key}} params, then {{now}}, then {{latest}}.

    Any ``{{token}}`` still present AFTER expansion is a registry bug
    (typo'd param name, base_path defined outside all_mode_params, …)
    and raises — otherwise the writer would happily create a literal
    ``{{base_path}}/...`` directory and every downstream
    ``{{latest}}`` reader would silently miss it."""
    params = params or {}
    for k, v in params.items():
        path = path.replace("{{" + k + "}}", str(v))
    path = expand_now(path, now)
    path = expand_latest(path, spark)
    leftover = re.findall(r"\{\{[^{}]*\}\}", path)
    if leftover:
        raise ValueError(
            f"unresolved path template token(s) {leftover} in '{path}' — "
            f"the param is not defined in the job/registry param stack"
        )
    return to_spark_path(path)
