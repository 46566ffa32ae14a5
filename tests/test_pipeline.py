"""End-to-end CDC pipeline test (SURVEY.md §5.4): FlatMessage JSON → routed,
typed, version-merged state → FINAL read equals the directly-computed truth.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

import pytest
from pyspark.sql import DataFrame
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


# -- multi-rule batches: parse once, skip idle rules, concurrent writes -------

RULES = {
    "orders": ("o_orderkey", dict(ORDERS_MAPPING)),
    "customer": ("c_custkey", {"c_custkey": "bigint", "c_name": "string",
                               "c_nationkey": "int", "c_mktsegment": "string"}),
    "part": ("p_partkey", {"p_partkey": "bigint", "p_name": "string", "p_size": "int"}),
    "supplier": ("s_suppkey", {"s_suppkey": "bigint", "s_name": "string",
                               "s_acctbal": "double"}),
}


def rule_for(name, mode="replacing"):
    pk, mapping = RULES[name]
    return TableSync("shop", name, pk=pk, mapping=dict(mapping), mode=mode)


def table_rows(spark, sf_dir, name, flt="true", **overrides):
    """The fixture table's mapped columns, filtered, with column overrides."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet").filter(flt)
    for col, value in overrides.items():
        df = df.withColumn(col, F.lit(value))
    return df.select(*RULES[name][1])


def union(frames):
    return reduce(DataFrame.unionByName, frames)


def table_envelopes(spark, sf_dir, name, op, es, flt="true", **overrides):
    """FlatMessage batch for ``name``'s rows matching ``flt``, all at ``es``."""
    pk, mapping = RULES[name]
    return build_envelope(
        table_rows(spark, sf_dir, name, flt, **overrides), "shop", name, [pk],
        {c: F.col(c).cast("string") for c in mapping}, es=F.lit(es).cast("long"),
        op=F.lit(op),
    )


def test_read_table_on_rule_with_no_state(spark, sf_dir, tmp_path):
    """A configured rule no message was routed to reads as an empty table
    with the rule's columns, before and after another rule's batch."""
    pipe = CdcPipeline(spark, [rule_for("orders"), rule_for("customer")],
                       str(tmp_path / "state"))
    cols = list(RULES["customer"][1])
    empty = pipe.read_table("shop", "customer")
    assert empty.columns == cols and empty.count() == 0
    pipe.apply_messages(table_envelopes(spark, sf_dir, "orders", "INSERT", 1))
    after = pipe.read_table("shop", "customer")
    assert after.columns == cols and after.count() == 0
    assert rows_set(pipe.read_table("shop", "orders")) == rows_set(
        table_rows(spark, sf_dir, "orders"))


def test_idle_rules_write_no_snapshot(spark, sf_dir, tmp_path):
    """A batch routed to 2 of 4 rules writes 2 snapshots; the idle rules'
    latest snapshot does not move."""
    pipe = CdcPipeline(spark, [rule_for(n) for n in RULES], str(tmp_path / "state"))

    def versions():
        return {r.table: pipe._latest_version(r) for r in pipe.tables.values()}

    pipe.apply_messages(union(table_envelopes(spark, sf_dir, n, "INSERT", 1) for n in RULES))
    before = versions()
    pipe.apply_messages(
        table_envelopes(spark, sf_dir, "orders", "UPDATE", 2, "o_orderkey % 10 = 0",
                        o_orderstatus="F")
        .unionByName(table_envelopes(spark, sf_dir, "customer", "UPDATE", 2,
                                     "c_custkey % 7 = 0", c_mktsegment="X"))
    )
    assert versions() == {**before, "orders": before["orders"] + 1,
                     "customer": before["customer"] + 1}
    model = {
        "orders": table_rows(spark, sf_dir, "orders").withColumn(
            "o_orderstatus", F.when(F.col("o_orderkey") % 10 == 0, "F")
            .otherwise(F.col("o_orderstatus"))),
        "customer": table_rows(spark, sf_dir, "customer").withColumn(
            "c_mktsegment", F.when(F.col("c_custkey") % 7 == 0, "X")
            .otherwise(F.col("c_mktsegment"))),
    }
    for name, want in model.items():
        assert rows_set(pipe.read_table("shop", name)) == rows_set(want), name


def mixed_batch(spark, sf_dir):
    """Per-table change logs for a replacing and a collapsing rule, plus the
    lines a router must drop: an unrouted table, ``"data": null`` and
    malformed JSON."""
    logs = {
        "orders": [
            table_envelopes(spark, sf_dir, "orders", "INSERT", 1),
            table_envelopes(spark, sf_dir, "orders", "UPDATE", 2, "o_orderkey % 10 = 0",
                            o_orderstatus="F"),
            table_envelopes(spark, sf_dir, "orders", "DELETE", 3, "o_orderkey % 100 = 0"),
        ],
        "customer": [
            table_envelopes(spark, sf_dir, "customer", "INSERT", 1),
            table_envelopes(spark, sf_dir, "customer", "DELETE", 2, "c_custkey % 10 = 0"),
            table_envelopes(spark, sf_dir, "customer", "UPDATE", 3, "c_custkey % 7 = 0",
                            c_mktsegment="X"),
        ],
    }
    logs = {n: union(envs) for n, envs in logs.items()}
    noise = [
        table_envelopes(spark, sf_dir, "part", "INSERT", 1),
        spark.createDataFrame(
            [('{"database":"shop","table":"orders","type":"INSERT","es":9,"data":null}',),
             ('{"database":"shop","table":"customer","type":"INSERT","es":9,"data":[{',)],
            "msg string",
        ),
    ]
    everything = union([*logs.values(), *noise])
    return logs, everything.orderBy(F.xxhash64("msg")).repartition(3)


def test_concurrent_mixed_mode_apply(spark, sf_dir, tmp_path):
    """One interleaved batch for a replacing and a collapsing rule equals
    applying each table's messages alone; unrouted, null-data and malformed
    lines are dropped; every job the apply launches, on any worker thread,
    carries the caller's job group."""
    rules = {"orders": rule_for("orders"), "customer": rule_for("customer", "collapsing")}
    logs, batch = mixed_batch(spark, sf_dir)
    pipe = CdcPipeline(spark, list(rules.values()), str(tmp_path / "mixed"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "cdc-apply-under-test"
    sc.setJobGroup(group, "apply one mixed batch")
    try:
        pipe.apply_messages(batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(tracker.getJobIdsForGroup(group)) > len(rules)
    for name, rule in rules.items():
        alone = CdcPipeline(spark, [rule], str(tmp_path / f"alone_{name}"))
        alone.apply_messages(logs[name])
        assert rows_set(pipe.read_table("shop", name)) == rows_set(
            alone.read_table("shop", name)), name
    assert rows_set(pipe.read_table("shop", "customer").filter("c_custkey % 70 = 0")) == (
        rows_set(table_rows(spark, sf_dir, "customer", "c_custkey % 70 = 0",
                            c_mktsegment="X")))
