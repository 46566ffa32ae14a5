"""End-to-end CDC pipeline test (SURVEY.md §5.4): FlatMessage JSON → routed,
typed, version-merged state → FINAL read equals the directly-computed truth.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from canal_clickhouse_spark.cdc.envelope import ORDERS_MAPPING, build_envelope
from canal_clickhouse_spark.pipeline import CdcPipeline, TableSync


COLS = list(ORDERS_MAPPING)


def envelopes(spark, sf_dir, op, flt, status=None, day_offset=0):
    """FlatMessage batch from orders rows matching ``flt``."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(flt)
    if status is not None:
        orders = orders.withColumn("o_orderstatus", F.lit(status))
    return build_envelope(
        orders,
        "shop",
        "orders",
        ["o_orderkey"],
        {c: F.col(c).cast("string") for c in COLS},
        es=F.unix_millis(F.col("o_orderdate").cast("timestamp"))
        + F.lit(day_offset * 86_400_000),
        op=F.lit(op),
    )


@pytest.fixture()
def pipe(spark, tmp_path):
    rule = TableSync("shop", "orders", pk="o_orderkey", mapping=dict(ORDERS_MAPPING))
    root = str(tmp_path / "state")
    yield CdcPipeline(spark, [rule], root)
    shutil.rmtree(root, ignore_errors=True)


def expected_final(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.filter("o_orderkey % 100 != 0")
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 10 == 0, "F").otherwise(F.col("o_orderstatus")),
        )
        .select(*COLS)
    )


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def apply_three_rounds(spark, sf_dir, pipe):
    """INSERT all → UPDATE %10 → DELETE %100, applied batch-wise."""
    pipe.apply_messages(envelopes(spark, sf_dir, "INSERT", "true"))
    pipe.apply_messages(
        envelopes(spark, sf_dir, "UPDATE", "o_orderkey % 10 = 0", status="F", day_offset=1)
    )
    pipe.apply_messages(
        envelopes(spark, sf_dir, "DELETE", "o_orderkey % 100 = 0", day_offset=2)
    )


def test_batch_pipeline_end_to_end(spark, sf_dir, pipe):
    apply_three_rounds(spark, sf_dir, pipe)
    got = pipe.read_table("shop", "orders").select(*COLS)
    assert rows_set(got) == rows_set(expected_final(spark, sf_dir))


def test_batch_pipeline_under_uri_state_root(spark, sf_dir, tmp_path):
    """A ``file://`` state root: snapshots are listed, committed-checked and
    retired through Hadoop FileSystem, so a URI root works like a path."""
    rule = TableSync("shop", "orders", pk="o_orderkey", mapping=dict(ORDERS_MAPPING))
    pipe = CdcPipeline(spark, [rule], (tmp_path / "state").as_uri())
    apply_three_rounds(spark, sf_dir, pipe)
    got = pipe.read_table("shop", "orders").select(*COLS)
    assert rows_set(got) == rows_set(expected_final(spark, sf_dir))
    # one retained predecessor: v1 and v2 are left, v0 is retired
    assert sorted(os.listdir(tmp_path / "state" / "shop.orders")) == ["v1", "v2"]


def test_batch_replay_is_idempotent(spark, sf_dir, pipe):
    """Re-applying an already-applied batch must not change state."""
    pipe.apply_messages(envelopes(spark, sf_dir, "INSERT", "true"))
    upd = envelopes(spark, sf_dir, "UPDATE", "o_orderkey % 10 = 0", status="F", day_offset=1)
    pipe.apply_messages(upd)
    before = rows_set(pipe.read_table("shop", "orders"))
    pipe.apply_messages(upd)  # at-least-once redelivery
    assert rows_set(pipe.read_table("shop", "orders")) == before


def test_unrouted_tables_are_ignored(spark, sf_dir, pipe):
    other = envelopes(spark, sf_dir, "INSERT", "true").withColumn(
        "msg", F.regexp_replace("msg", '"table":"orders"', '"table":"other"')
    )
    pipe.apply_messages(envelopes(spark, sf_dir, "INSERT", "o_orderkey <= 100"))
    n = pipe.read_table("shop", "orders").count()
    pipe.apply_messages(other)
    assert pipe.read_table("shop", "orders").count() == n


def test_streaming_pipeline(spark, sf_dir, pipe, tmp_path):
    """The same three rounds through the checkpointed streaming path."""
    src = str(tmp_path / "msgs")
    for i, env in enumerate(
        [
            envelopes(spark, sf_dir, "INSERT", "true"),
            envelopes(spark, sf_dir, "UPDATE", "o_orderkey % 10 = 0", status="F", day_offset=1),
            envelopes(spark, sf_dir, "DELETE", "o_orderkey % 100 = 0", day_offset=2),
        ]
    ):
        env.coalesce(1).write.mode("append").json(src)
    stream = spark.readStream.schema("msg string").json(src)
    q = pipe.stream(stream)
    q.awaitTermination()
    got = pipe.read_table("shop", "orders").select(*COLS)
    assert rows_set(got) == rows_set(expected_final(spark, sf_dir))


@pytest.fixture()
def cpipe(spark, tmp_path):
    """Collapsing-mode pipeline over the same orders rule."""
    rule = TableSync(
        "shop", "orders", pk="o_orderkey", mapping=dict(ORDERS_MAPPING),
        mode="collapsing",
    )
    root = str(tmp_path / "cstate")
    yield CdcPipeline(spark, [rule], root)
    shutil.rmtree(root, ignore_errors=True)


def test_collapsing_pipeline_end_to_end(spark, sf_dir, cpipe):
    """INSERT all → UPDATE %10 → DELETE %100 through the sign-ledger sink:
    FINAL read equals the replacing-mode truth."""
    cpipe.apply_messages(envelopes(spark, sf_dir, "INSERT", "true"))
    cpipe.apply_messages(
        envelopes(spark, sf_dir, "UPDATE", "o_orderkey % 10 = 0", status="F", day_offset=1)
    )
    cpipe.apply_messages(
        envelopes(spark, sf_dir, "DELETE", "o_orderkey % 100 = 0", day_offset=2)
    )
    got = cpipe.read_table("shop", "orders").select(*COLS)
    assert rows_set(got) == rows_set(expected_final(spark, sf_dir))


def test_collapsing_replay_is_idempotent(spark, sf_dir, cpipe):
    """Replaying applied batches (incl. a pre-delete INSERT) must not change
    state: the version watermark keeps compacted state exactly-once, and −1
    tombstones stop deleted keys from resurrecting."""
    ins = envelopes(spark, sf_dir, "INSERT", "true")
    upd = envelopes(spark, sf_dir, "UPDATE", "o_orderkey % 10 = 0", status="F", day_offset=1)
    dele = envelopes(spark, sf_dir, "DELETE", "o_orderkey % 100 = 0", day_offset=2)
    for env in (ins, upd, dele):
        cpipe.apply_messages(env)
    before = rows_set(cpipe.read_table("shop", "orders"))
    cpipe.apply_messages(upd)   # redelivered update
    cpipe.apply_messages(ins)   # redelivered pre-delete inserts
    assert rows_set(cpipe.read_table("shop", "orders")) == before


def test_collapsing_reinsert_after_delete(spark, sf_dir, cpipe):
    """INSERT → DELETE → re-INSERT must resurrect the key (ADVICE r3 high):
    compacted state is not net-preserving, so liveness comes from the last
    row's sign, not the sign sum — a −1 tombstone plus a later +1 re-insert
    is live, not net-zero."""
    cpipe.apply_messages(envelopes(spark, sf_dir, "INSERT", "true"))
    cpipe.apply_messages(
        envelopes(spark, sf_dir, "DELETE", "o_orderkey % 100 = 0", day_offset=1)
    )
    cpipe.apply_messages(
        envelopes(spark, sf_dir, "INSERT", "o_orderkey % 100 = 0", status="R", day_offset=2)
    )
    got = cpipe.read_table("shop", "orders")
    n_all = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert got.count() == n_all  # every key live again
    reinserted = got.filter("o_orderkey % 100 = 0")
    assert reinserted.filter("o_orderstatus <> 'R'").count() == 0
    # and a replay of the pre-delete INSERT still cannot clobber the re-insert
    before = rows_set(got)
    cpipe.apply_messages(envelopes(spark, sf_dir, "INSERT", "true"))
    assert rows_set(cpipe.read_table("shop", "orders")) == before


def test_collapsing_state_is_compacted(spark, sf_dir, cpipe):
    """State stays ≤1 row per key (post-merge MergeTree shape), with −1
    tombstones for deleted keys."""
    cpipe.apply_messages(envelopes(spark, sf_dir, "INSERT", "true"))
    cpipe.apply_messages(
        envelopes(spark, sf_dir, "DELETE", "o_orderkey % 100 = 0", day_offset=1)
    )
    rule = cpipe.tables["shop.orders"]
    state = cpipe._state(rule)
    n_keys = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert state.count() == n_keys
    assert state.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    assert state.filter("sign = -1").count() == state.filter(
        "o_orderkey % 100 = 0"
    ).count()


def test_pipeline_state_equals_chsession_final(spark, sf_dir, pipe):
    """The product's two halves must agree: applying FlatMessage batches
    through CdcPipeline's version-merge gives EXACTLY the state a
    ClickHouse user sees by inserting the same typed change rows into a
    ReplacingMergeTree(version) table and reading it FINAL — the Replacing
    contract implemented twice (hash-agg collapse vs read-time window)
    converging on one answer."""
    from canal_clickhouse_spark.cdc.envelope import parse_envelope
    from canal_clickhouse_spark.chsql_ddl import ChSession

    batches = [
        envelopes(spark, sf_dir, "INSERT", "o_orderkey <= 2000"),
        envelopes(spark, sf_dir, "UPDATE", "o_orderkey % 10 = 0 AND o_orderkey <= 2000",
                  status="F", day_offset=1),
        envelopes(spark, sf_dir, "DELETE", "o_orderkey % 100 = 0 AND o_orderkey <= 2000",
                  day_offset=2),
    ]

    ch = ChSession(spark, sf_dir)
    ch.execute(
        "CREATE TABLE sync_orders (o_orderkey Int64, o_custkey Int64, "
        "o_orderstatus String, o_totalprice Float64, o_orderpriority String, "
        "op String, ver Int64) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY o_orderkey"
    )
    for env in batches:
        pipe.apply_messages(env)
        typed = parse_envelope(env.select("msg"), ORDERS_MAPPING).select(
            *COLS, F.col("op"), F.unix_millis("event_time").alias("ver")
        )
        # stage like a sink would (micro-batch DataFrames aren't retainable)
        typed.createOrReplaceTempView("_cdc_block")
        ch.execute(
            "INSERT INTO sync_orders SELECT o_orderkey, o_custkey, "
            "o_orderstatus, o_totalprice, o_orderpriority, op, ver "
            "FROM _cdc_block"
        )

    via_pipeline = rows_set(pipe.read_table("shop", "orders").select(*COLS))
    via_chsession = rows_set(
        ch.execute(
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "o_orderpriority FROM sync_orders FINAL WHERE op != 'DELETE'"
        )
    )
    assert via_chsession == via_pipeline
    assert len(via_chsession) > 0
