"""Registered sink keys: partitioned parquet, ClickHouse contract, memory.

Each key writes through the real sink and reads its own output back, so the
oracle hash-checks durability + round-trip fidelity, not just the write call
returning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import parts
from ..catalog import table
from ..registry import query
from .clickhouse import ClickHouseSink


@query(
    "sink_parquet",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned, sorted columnar write — the MergeTree layout analog.

    `partitionBy(event_type)` = CH PARTITION BY; `sortWithinPartitions(ts)`
    = CH ORDER BY, making parquet row-group min/max stats selective for
    time-range scans (the §4 min/max-skipping convention). Reading back a
    single partition directory proves partition pruning works on layout.
    """
    path = parts.scratch_dir(sf_dir, "sink_parquet")
    ev = table(spark, sf_dir, "events")
    (
        ev.repartition("event_type")
        .sortWithinPartitions("ts")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "sink_clickhouse",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,2))), 2) AS DOUBLE)
               AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_clickhouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ClickHouse sink contract under replay: batches written twice
    dedupe to exactly-once.

    Orders are split into 3 batches; batch 1 is deliberately written twice
    (at-least-once redelivery). The read-back aggregate hash-matching the
    source proves the idempotency contract — the exact property a Canal→CH
    consumer relies on [P-canal].
    """
    root = parts.scratch_dir(sf_dir, "sink_ch")
    sink = ClickHouseSink(root, "orders")
    orders = table(spark, sf_dir, "orders")
    for b in range(3):
        batch = orders.filter(F.col("o_orderkey") % 3 == b)
        sink.write_batch(batch, b)
        if b == 1:  # replay
            sink.write_batch(batch, b)
    back = sink.read_back(spark)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(28,2)")), 2)
        .cast("double")
        .alias("total"),
    )


@query(
    "sink_memory",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id
    """,
)
def sink_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debug/test sink: streaming aggregate materialized to an in-memory
    table (the rig every streaming unit test here stands on)."""
    from ..streaming.infra import events_stream, run_to_memory

    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return run_to_memory(agg, "complete")


@query(
    "scan_partition_prune",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
    FROM events WHERE event_type = 'click'
    GROUP BY 1 ORDER BY day
    """,
)
def scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning end-to-end: MergeTree-style layout (PARTITION BY
    event_type, ORDER BY ts) written to parquet, then a predicate on the
    partition column scans ONLY the matching directory — the reader never
    opens the other partitions' files. This is the №1 scan economy at
    100 TB: a 5-type events table pruned to one type is an ~80% I/O cut
    before any row is read, and row-group min/max on the sorted ts column
    stacks range-skipping on top.

    The pruning is plan-asserted (tests/test_plans.py: PartitionFilters
    carries the event_type predicate and the non-partition filters stay
    pushed), not just timed.
    """
    path = parts.scratch_dir(sf_dir, "sink_prune")
    ev = table(spark, sf_dir, "events")
    (
        ev.repartition("event_type")
        .sortWithinPartitions("ts")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).where(F.col("event_type") == "click")
    return (
        back.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
        )
        .orderBy("day")
    )
