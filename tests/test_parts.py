"""The part store's generation bookkeeping (canal_clickhouse_spark.parts):
only committed generations are read, ``below`` bounds the search, and
``retire`` keeps every generation at or above its bound."""

from __future__ import annotations

import os

from canal_clickhouse_spark import parts


def test_latest_skips_uncommitted_and_retire_keeps_bound(spark, tmp_path):
    root = str(tmp_path / "state")
    for n in range(3):
        spark.range(n + 1).write.parquet(f"{root}/b{n}")
    os.remove(f"{root}/b1/_SUCCESS")  # b1: a crashed, half-written batch
    os.makedirs(f"{root}/other7")  # not a b{n} generation

    assert parts.latest(spark, root, "b") == 2
    assert parts.latest(spark, root, "b", below=2) == 0
    assert parts.read_latest(spark, root, "b", below=2).count() == 1
    assert parts.read_latest(spark, root, "b", below=0) is None
    assert parts.latest(spark, str(tmp_path / "missing"), "b") == -1

    parts.retire(spark, root, "b", below=2)
    assert sorted(os.listdir(root)) == ["b2", "other7"]
    assert parts.read_latest(spark, root, "b").count() == 3
