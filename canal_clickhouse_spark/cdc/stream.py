"""Streaming CDC apply: micro-batch upsert, schema evolution, checkpoint resume.

The reference's main loop — consume binlog batches, apply onto the sink,
persist the position so a restart resumes exactly once (/root/reference/
README.md:1, Canal semantics are public knowledge). The Spark-native shape:
Structured Streaming file/Kafka source → ``foreachBatch`` version-aware merge
→ checkpointed offsets.

The merge keeps tombstones (deleted keys stay in state with op='DELETE') and
resolves strictly by version, so it is insensitive to micro-batch boundaries
AND to out-of-order batch arrival — replaying any suffix of the log is
idempotent. That invariance is property-tested (tests/test_cdc.py) and is
what makes the at-least-once transport safe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import parts
from ..catalog import table
from ..registry import query
from .apply import latest_per_key, merge_base
from .changes import FINAL_STATE_SQL, ORDER_COLS, PK, change_log


def merge_versioned(state: DataFrame | None, batch: DataFrame, pk: str = PK) -> DataFrame:
    """Version-aware upsert of one micro-batch into the state table.

    State schema = change schema (payload + op + version), one row per key,
    tombstones retained. union + latest-per-key is a single hash aggregation
    shuffled on the PK — at 100 TB both sides would be bucketed on the PK so
    the merge is shuffle-free.
    """
    return latest_per_key(merge_base(state, batch), pk)


def read_final_state(state: DataFrame) -> DataFrame:
    """Queryable latest-state view: drop tombstones and bookkeeping."""
    return state.filter(F.col("op") != "DELETE").drop("op", "version")


@query("cdc_stream_apply", oracle=FINAL_STATE_SQL)
def cdc_stream_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch upsert, emulated deterministically batch-by-batch.

    Applies the three CDC rounds as separate micro-batches through the same
    merge ``foreachBatch`` uses (cdc_checkpoint_resume runs the real
    streaming machinery; unit tests cover arbitrary batch splits).
    """
    changes = change_log(spark, sf_dir)
    state: DataFrame | None = None
    for v in (0, 1, 2):
        state = merge_versioned(state, changes.filter(F.col("version") == v))
    assert state is not None
    return read_final_state(state).select(*ORDER_COLS)


@query(
    "cdc_schema_evolve",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority, CAST(NULL AS VARCHAR) AS o_channel
    FROM orders
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority, 'web'
    FROM orders
    """,
)
def cdc_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL add-column mid-stream: old files lack the column, reads heal.

    A Canal ``isDdl`` ALTER TABLE ADD COLUMN lands mid-stream; rows written
    before it have no such column. Parquet + ``mergeSchema`` gives additive
    evolution: the merged schema carries the new column, pre-DDL rows read
    NULL — exactly ClickHouse's ALTER ... ADD COLUMN default-fill behavior.
    """
    base = parts.scratch_dir(sf_dir, "evolve")
    o = table(spark, sf_dir, "orders").select(*ORDER_COLS)
    o.write.mode("overwrite").parquet(base)
    o.withColumn("o_channel", F.lit("web")).write.mode("append").parquet(base)
    return spark.read.option("mergeSchema", "true").parquet(base)


@query("cdc_checkpoint_resume", oracle=FINAL_STATE_SQL)
def cdc_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming apply with offset-checkpointed resume.

    One parquet file per CDC round + ``maxFilesPerTrigger=1`` → three real
    micro-batches through ``foreachBatch``. Each batch merges into a
    batch-id-suffixed state snapshot (idempotent on re-run: a replayed batch
    overwrites its own snapshot — the write is the transactional unit, which
    is exactly the ClickHouse-sink idempotency contract). A second streaming
    query on the SAME checkpoint then proves resume: its offset log says
    everything is committed, so it processes zero batches and state is
    unchanged. The returned final state hash-matches the batch oracle —
    stream/batch equivalence end-to-end.
    """
    base = parts.scratch_dir(sf_dir, "ckpt")
    src, ckpt, state_root = f"{base}/src", f"{base}/ckpt", f"{base}/state"
    changes = change_log(spark, sf_dir)
    for v in (0, 1, 2):
        changes.filter(F.col("version") == v).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        prev = parts.read_latest(bdf.sparkSession, state_root, "b", below=batch_id)
        merged = merge_versioned(prev, bdf)
        merged.write.mode("overwrite").parquet(os.path.join(state_root, f"b{batch_id}"))

    def run_once() -> None:
        stream = (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first_run = parts.latest(spark, state_root, "b")
    run_once()  # resume from checkpoint: no new files -> no new batches
    assert parts.latest(spark, state_root, "b") == first_run, "resume replayed batches"

    final = parts.read_latest(spark, state_root, "b")
    assert final is not None
    return read_final_state(final).select(*ORDER_COLS)
