"""Part store: the one module that knows the on-disk generation layout.

Data lives in immutable generation directories under a root (the MergeTree
part analog). A numbered one, ``{prefix}{n}``, is committed once Spark's
``_SUCCESS`` marker exists, and readers see only committed ones, so a
crashed write is never read as state. Every list, exists, rename and delete
goes through the Hadoop ``FileSystem`` of the path, the layer Spark writes
through, so any root Spark can write to works.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem of ``path``, the Hadoop ``Path`` class)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def _numbered(fs, root, prefix: str) -> dict:
    """Every ``{prefix}{n}`` directory directly under ``root``, as {n: Path}."""
    pat = re.compile(re.escape(prefix) + r"(\d+)")
    return {
        int(m.group(1)): st.getPath()
        for st in (fs.listStatus(root) if fs.exists(root) else [])
        if st.isDirectory() and (m := pat.fullmatch(st.getPath().getName()))
    }


def latest(spark: SparkSession, root: str, prefix: str,
           below: float = float("inf")) -> int:
    """Highest committed generation number below ``below``, or -1."""
    fs, Path = _fs(spark, root)
    committed = (n for n, p in _numbered(fs, Path(root), prefix).items()
                 if n < below and fs.exists(Path(p, "_SUCCESS")))
    return max(committed, default=-1)


def read_latest(spark: SparkSession, root: str, prefix: str,
                below: float = float("inf"),
                schema: str | None = None) -> DataFrame | None:
    """The generation ``latest`` names as a DataFrame, or None. A caller
    that knows the generation's ``schema`` (DDL) passes it, which skips
    Spark's parquet schema-inference job."""
    n = latest(spark, root, prefix, below)
    if n < 0:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.join(root, f"{prefix}{n}"))


def retire(spark: SparkSession, root: str, prefix: str, below: int) -> None:
    """Delete every ``{prefix}{n}`` generation with n < ``below``."""
    fs, Path = _fs(spark, root)
    for n, p in _numbered(fs, Path(root), prefix).items():
        if n < below:
            fs.delete(p, True)


def append(spark: SparkSession, df: DataFrame, gen: str, staging: str) -> None:
    """Write ``df`` to ``staging``, then move its data files into ``gen``
    (part-file names carry a per-job UUID, so they cannot collide)."""
    df.write.mode("overwrite").parquet(staging)
    fs, Path = _fs(spark, staging)
    for st in fs.listStatus(Path(staging)):
        src = st.getPath()
        if src.getName().startswith(("_", ".")):
            continue  # _SUCCESS and checksum files go with the staging dir
        if not fs.rename(src, Path(gen, src.getName())):
            raise OSError(f"could not move part {src} into {gen}")
    fs.delete(Path(staging), True)


def delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``; a missing path is not an error."""
    fs, Path = _fs(spark, path)
    fs.delete(Path(path), True)


def scratch_dir(sf_dir: str, tag: str) -> str:
    """An emptied local ``/tmp/ccs_{tag}_{scale}`` dir for throwaway files."""
    base = f"/tmp/ccs_{tag}_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(base, ignore_errors=True)
    return base
