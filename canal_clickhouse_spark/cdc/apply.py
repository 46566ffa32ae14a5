"""Batch CDC apply semantics — MergeTree merge behavior as explicit operators.

ClickHouse encodes mutability on append-only storage via merge-time collapse
(ReplacingMergeTree: latest version per key; CollapsingMergeTree: +1/−1 sign
cancellation); reads needing exactness use FINAL / argMax. Spark has no
background-merge concept, so these are explicit DataFrame operators — the
idiomatic equivalent and the reference's core query-side semantics
(/root/reference/README.md:1).

Scale notes (100 TB): latest-per-key uses ``max_by`` aggregation, not a
row_number window — hash aggregation does map-side partial aggregation and
avoids the per-partition sort a window needs; one shuffle on the PK either
way, but far less data crosses it when keys repeat (exactly the CDC case:
many versions per key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from .changes import (
    CDC_CHANGES_CTE,
    FINAL_STATE_SQL,
    ORDER_COLS,
    PAYLOAD_COLS,
    PK,
    SIGN_STREAM_CTE,
    _COLS,
    change_log,
    sign_log,
)


def latest_per_key(
    changes: DataFrame, pk: str = PK, version: str = "version"
) -> DataFrame:
    """Latest row per key by version, all non-key columns carried along.

    ClickHouse ``FINAL`` / ``argMax`` read over a ReplacingMergeTree table.
    Keeps ``op`` and ``version`` so callers can see tombstones.
    """
    payload = [c for c in changes.columns if c not in (pk, version)]
    return (
        changes.groupBy(pk)
        .agg(F.max_by(F.struct(*payload), version).alias("_s"), F.max(version).alias(version))
        .select(pk, "_s.*", version)
    )


def merge_base(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """The rows a merge folds: the batch alone before any state exists."""
    return batch if state is None else state.unionByName(batch)


def collapse_signs(
    signs: DataFrame,
    pk: str = PK,
    payload: tuple[str, ...] | list[str] = PAYLOAD_COLS,
    sign: str = "sign",
    version: str = "version",
) -> DataFrame:
    """CollapsingMergeTree MERGE: compact a sign ledger to ≤1 row per key.

    Liveness is the SIGN OF THE LAST ROW — ``max_by(sign, (version, sign))``,
    so the highest version wins and a same-version (−1, +1) UPDATE pair
    resolves to +1 — NOT the sign sum. Compaction is not net-preserving:
    once a key is compacted to a single −1 tombstone, that row stands in for
    a whole cancelled history (net 0, not net −1), so summing it against a
    later re-INSERT's +1 would net 0 and swallow the re-insert (real
    CollapsingMergeTree keeps the last +1 state row there). The last-writer
    rule is exact under the pipeline's sign contract (INSERT → +1, UPDATE →
    (−1, +1) at the new version, DELETE → a lone −1 at its own version)
    regardless of how much history has been compacted away.

    Live key → one +1 row carrying the latest +1 payload; dead key → one −1
    tombstone carrying the latest payload (NOT dropped: the tombstone
    preserves the key's version watermark so an at-least-once replay of
    pre-delete messages cannot resurrect the row — see
    ``CdcPipeline.apply_messages``). FINAL readers filter ``sign = 1``.
    ``cdc_apply_collapsing`` is the query-side variant over a FULL ledger,
    where the sign sum is the correct (and ClickHouse-documented) rule.
    """
    plus_version = F.when(F.col(sign) == 1, F.col(version)).otherwise(F.lit(-1))
    agg = signs.groupBy(pk).agg(
        F.max_by(F.col(sign), F.struct(F.col(version), F.col(sign))).alias("_last"),
        F.max_by(F.struct(*payload), plus_version).alias("_plus"),
        F.max_by(F.struct(*payload), version).alias("_any"),
        F.max(version).alias(version),
    )
    return agg.select(
        pk,
        F.when(F.col("_last") == 1, F.col("_plus")).otherwise(F.col("_any")).alias("_s"),
        F.when(F.col("_last") == 1, F.lit(1)).otherwise(F.lit(-1)).alias(sign),
        version,
    ).select(pk, "_s.*", sign, version)


def apply_replacing(
    changes: DataFrame, pk: str = PK, version: str = "version", op: str = "op"
) -> DataFrame:
    """ReplacingMergeTree: latest version per PK wins; tombstones drop."""
    latest = latest_per_key(changes, pk, version)
    return latest.filter(F.col(op) != "DELETE").drop(op, version)


@query("cdc_apply_replacing", oracle=FINAL_STATE_SQL)
def cdc_apply_replacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return apply_replacing(change_log(spark, sf_dir)).select(*ORDER_COLS)


@query(
    "cdc_apply_collapsing",
    oracle=f"""
    WITH {SIGN_STREAM_CTE},
    net AS (
        SELECT o_orderkey, SUM(sign) AS net FROM sign_stream GROUP BY o_orderkey
    ),
    latest AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        FROM sign_stream WHERE sign = 1
    )
    SELECT l.o_orderkey, l.o_custkey, l.o_orderstatus, l.o_totalprice,
           l.o_orderdate, l.o_orderpriority
    FROM latest l JOIN net n USING (o_orderkey)
    WHERE n.net > 0 AND l.rn = 1
    """,
)
def cdc_apply_collapsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CollapsingMergeTree: net sign > 0 survives with the latest +1 payload.

    Version-ordered (not arrival-ordered) collapse: deterministic under
    shuffle, unlike ClickHouse's part-order-dependent collapse — documented
    divergence (SURVEY.md §7.4). Single hash aggregation: net sign and latest
    payload computed in one pass; −1 rows are excluded from the payload vote
    by mapping their version to −1 (every key has a +1 insert at version 0,
    so a −1 payload can never win).
    """
    s = sign_log(spark, sf_dir)
    plus_version = F.when(F.col("sign") == 1, F.col("version")).otherwise(F.lit(-1))
    return (
        s.groupBy(PK)
        .agg(
            F.sum("sign").alias("_net"),
            F.max_by(F.struct(*PAYLOAD_COLS), plus_version).alias("_s"),
        )
        .filter(F.col("_net") > 0)
        .select(PK, "_s.*")
    )


@query("cdc_snapshot_merge", oracle=FINAL_STATE_SQL)
def cdc_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial full snapshot ∪ incremental deltas → consistent state.

    The snapshot-then-tail handoff: a bulk load (orders as-is, version 0)
    unioned with the binlog tail (versions ≥ 1), resolved by the same
    replacing semantics. Equivalent to replaying the full log — that identity
    is the correctness property.
    """
    snapshot = (
        table(spark, sf_dir, "orders")
        .select(*ORDER_COLS)
        .withColumn("op", F.lit("INSERT"))
        .withColumn("version", F.lit(0))
    )
    deltas = change_log(spark, sf_dir).filter(F.col("version") > 0)
    return apply_replacing(snapshot.unionByName(deltas)).select(*ORDER_COLS)


@query(
    "cdc_dedup_batch",
    oracle=f"""
    WITH {CDC_CHANGES_CTE},
    replayed AS (
        SELECT * FROM cdc_changes UNION ALL SELECT * FROM cdc_changes
    )
    SELECT DISTINCT * FROM replayed
    """,
)
def cdc_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once guard: drop replayed (pk, version) duplicates.

    Canal's MQ transport is at-least-once; the sink must be idempotent.
    ``dropDuplicates`` on the (pk, version) identity is safe because a
    redelivered change carries identical content.
    """
    c = change_log(spark, sf_dir)
    return c.unionByName(c).dropDuplicates([PK, "version"])


@query(
    "cdc_read_final",
    oracle=f"""
    WITH {CDC_CHANGES_CTE}
    SELECT o_orderkey,
           arg_max(o_orderstatus, version) AS last_status,
           arg_max(op, version) AS last_op,
           MAX(version) AS last_version,
           COUNT(*) AS n_changes
    FROM cdc_changes GROUP BY o_orderkey
    """,
)
def cdc_read_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH FINAL/argMax read: current value per key straight off the raw log."""
    return (
        change_log(spark, sf_dir)
        .groupBy(PK)
        .agg(
            F.max_by("o_orderstatus", "version").alias("last_status"),
            F.max_by("op", "version").alias("last_op"),
            F.max("version").alias("last_version"),
            F.count(F.lit(1)).alias("n_changes"),
        )
    )


@query(
    "cdc_route",
    oracle=f"""
    WITH {CDC_CHANGES_CTE},
    routed AS (
        SELECT 'shop' AS database, 'orders' AS "table", op,
               o_orderkey AS pk FROM cdc_changes
        UNION ALL
        SELECT 'shop', 'customer', 'INSERT', c_custkey FROM customer
    )
    SELECT database, "table", op,
           COUNT(*) AS n, MIN(pk) AS min_pk, MAX(pk) AS max_pk
    FROM routed GROUP BY database, "table", op
    """,
)
def cdc_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan one multi-table change stream out by (database, table).

    Canal publishes every table's changes on one topic; the sink routes by
    envelope (database, table). In Spark routing is a filter per route — at
    scale, a ``partitionBy("table")`` write so each table's consumer prunes
    to its own partition without scanning the rest.
    """
    orders_part = change_log(spark, sf_dir).select(
        F.lit("shop").alias("database"),
        F.lit("orders").alias("table"),
        "op",
        F.col(PK).alias("pk"),
    )
    cust_part = table(spark, sf_dir, "customer").select(
        F.lit("shop").alias("database"),
        F.lit("customer").alias("table"),
        F.lit("INSERT").alias("op"),
        F.col("c_custkey").alias("pk"),
    )
    return (
        orders_part.unionByName(cust_part)
        .groupBy("database", "table", "op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("pk").alias("min_pk"),
            F.max("pk").alias("max_pk"),
        )
    )


__all__ = [
    "latest_per_key",
    "merge_base",
    "collapse_signs",
    "apply_replacing",
    "cdc_apply_replacing",
    "cdc_apply_collapsing",
    "cdc_snapshot_merge",
    "cdc_dedup_batch",
    "cdc_read_final",
    "cdc_route",
    "_COLS",
]


@query(
    "cdc_apply_versioned_collapsing",
    oracle=f"""
    WITH {SIGN_STREAM_CTE},
    net AS (
        SELECT o_orderkey, version, {", ".join(f"any_value({c}) AS {c}" for c in PAYLOAD_COLS)},
               SUM(sign) AS net_sign
        FROM sign_stream
        GROUP BY o_orderkey, version
        HAVING SUM(sign) > 0
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY version DESC) AS rn
        FROM net
    )
    SELECT {_COLS} FROM ranked WHERE rn = 1
    """,
)
def cdc_apply_versioned_collapsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VersionedCollapsingMergeTree: signs cancel WITHIN a version, then the
    latest surviving version wins per key.

    The engine ClickHouse recommends when the collapse must tolerate
    out-of-order writes: (pk, version) pairs net their +1/−1 rows
    independently (order-free — a SUM), so late sign rows can arrive in any
    sequence; the version axis then resolves which surviving state is
    current. Two hash aggregations, both partial-aggregated; payload rows
    within one (pk, version) are identical by construction, so any_value is
    deterministic.
    """
    signs = sign_log(spark, sf_dir)
    net = (
        signs.groupBy(PK, "version")
        .agg(
            *[F.any_value(c).alias(c) for c in PAYLOAD_COLS],
            F.sum("sign").alias("net_sign"),
        )
        .filter(F.col("net_sign") > 0)
    )
    return (
        net.groupBy(PK)
        .agg(F.max_by(F.struct(*PAYLOAD_COLS), F.col("version")).alias("_s"))
        .select(PK, "_s.*")
    )


@query(
    "cdc_apply_aggregating",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,2))), 2) AS DOUBLE)
               AS total,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def cdc_apply_aggregating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregatingMergeTree: merge pre-aggregated partial states from
    independent parts into the final aggregate.

    Each MergeTree part holds partial aggregation states; background merges
    combine them without touching raw rows. Modeled exactly: the table
    splits into 3 'parts' (o_orderkey % 3), each pre-aggregates
    (count/sum/min/max states), and the merge re-aggregates states only —
    countable because every state here is re-associative (sum-of-sums,
    min-of-mins). The oracle is the direct aggregation of the raw table:
    state-merge must be indistinguishable from it.
    """
    o = table(spark, sf_dir, "orders")
    parts = [
        o.filter(F.col(PK) % 3 == i)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("total_state"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        for i in range(3)
    ]
    states = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return states.groupBy("o_orderstatus").agg(
        F.sum("n").alias("n"),
        F.round(F.sum("total_state"), 2).cast("double").alias("total"),
        F.min("min_price").alias("min_price"),
        F.max("max_price").alias("max_price"),
    )


@query(
    "mv_refresh",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,2))), 2) AS DOUBLE)
               AS total
    FROM orders GROUP BY month
    """,
)
def mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view incremental refresh: MV(base) ⊕ agg(delta) ==
    agg(base ∪ delta).

    ClickHouse materialized views apply the aggregation to each inserted
    block and merge into the target table. Modeled: the monthly-totals MV is
    built from the 'already loaded' orders (6/7 of rows), the late-arriving
    delta (o_orderkey % 7 = 0) is aggregated alone, and the refresh merges
    the two aggregate states. The oracle recomputes from scratch — the
    incremental path must be exactly equivalent, which is what makes
    streaming continuous aggregates (§2 J) trustworthy.
    """
    o = table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).alias("month")

    def agg_states(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("total_state"),
        )

    mv = agg_states(o.filter(F.col(PK) % 7 != 0))
    delta = agg_states(o.filter(F.col(PK) % 7 == 0))
    return (
        mv.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.round(F.sum("total_state"), 2).cast("double").alias("total"),
        )
    )


@query(
    "cdc_apply_summing",
    oracle="""
    SELECT l_suppkey,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,2))), 2) AS DOUBLE)
             AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,2))), 2)
                AS DOUBLE) AS sum_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
)
def cdc_apply_summing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SummingMergeTree semantics: parts hold per-key partial sums of every
    numeric non-key column; a merge sums the partials. Modeled by splitting
    lineitem into three 'parts' (l_orderkey % 3), pre-summing each per
    supplier key, then merging part states with a second-stage sum. The
    oracle aggregates the base table directly — merge-of-partials must be
    exactly equivalent (decimal accumulation makes the sums order-free).

    Scale note: this two-stage shape is literally what Spark's partial+final
    HashAggregate does inside one groupBy; keeping the intermediate state
    mergeable (sums + counts, never averages) is the invariant that lets
    AggregatingMergeTree, MVs, and streaming continuous aggregates all
    compose.
    """
    li = table(spark, sf_dir, "lineitem")
    part_states = (
        li.withColumn("_part", F.col("l_orderkey") % 3)
        .groupBy("l_suppkey", "_part")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(28,2)")).alias("_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).alias("_price"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return (
        part_states.groupBy("l_suppkey")
        .agg(
            F.round(F.sum("_qty"), 2).cast("double").alias("sum_qty"),
            F.round(F.sum("_price"), 2).cast("double").alias("sum_price"),
            F.sum("_n").alias("n_rows"),
        )
        .orderBy("l_suppkey")
    )


@query(
    "cdc_merge_associativity",
    oracle=FINAL_STATE_SQL.replace(
        f"SELECT {_COLS} FROM ranked WHERE rn = 1 AND op <> 'DELETE'",
        f"SELECT {_COLS}, TRUE AS two_phase_equal "
        "FROM ranked WHERE rn = 1 AND op <> 'DELETE' ORDER BY o_orderkey",
    ),
)
def cdc_merge_associativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property every MergeTree part merge RELIES on, pinned as a key:
    collapsing shard-partial states then collapsing the union of partials
    equals collapsing the full log (latest-per-key via ``max_by`` is an
    associative, commutative fold — CH merges parts pairwise in arbitrary
    order and FINAL still converges; a Spark CDC job re-partitions the
    binlog arbitrarily and must converge identically).

    The change log is split into 3 shards by a hash of (pk, version) —
    deliberately NOT aligned with keys, so a key's versions straddle
    shards. Each shard collapses independently (a CH part), the partial
    states union and collapse again (the merge), and the result is
    row-compared against the single-pass collapse. Output = the live
    final state + per-row equality flag (hash-checked TRUE).
    """
    log = change_log(spark, sf_dir)
    shard = F.pmod(F.xxhash64(F.col(PK), F.col("version")), F.lit(3))
    parts = [
        latest_per_key(log.filter(shard == i)) for i in range(3)
    ]
    merged = latest_per_key(parts[0].unionByName(parts[1]).unionByName(parts[2]))
    direct = latest_per_key(log)
    live_cols = [c for c in direct.columns if c not in ("op",)]
    m = merged.filter(F.col("op") != "DELETE").select(
        *[F.col(c).alias(f"m_{c}") for c in live_cols]
    )
    d = direct.filter(F.col("op") != "DELETE")
    payload = [c for c in live_cols if c != PK]
    eq = F.struct(*[F.col(c) for c in payload]).eqNullSafe(
        F.struct(*[F.col(f"m_{c}") for c in payload])
    )
    return (
        d.join(m, d[PK] == m[f"m_{PK}"], "inner")
        .select(*ORDER_COLS, eq.alias("two_phase_equal"))
        .orderBy(PK)
    )


@query(
    "scd2_point_in_time",
    oracle=f"""
    WITH {CDC_CHANGES_CTE},
    dim AS (
        SELECT *,
               version AS valid_from,
               LEAD(version) OVER (PARTITION BY o_orderkey
                                   ORDER BY version) AS valid_to
        FROM cdc_changes
    )
    SELECT o_orderkey,
           CAST(o_orderkey % 3 AS INT) AS probe_version,
           o_orderstatus AS status_at_probe,
           op AS op_at_probe,
           CAST(valid_from AS INT) AS valid_from,
           CAST(COALESCE(valid_to, 2147483647) AS BIGINT) AS valid_to
    FROM dim
    WHERE valid_from <= o_orderkey % 3
      AND o_orderkey % 3 < COALESCE(valid_to, 2147483647)
    ORDER BY o_orderkey
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 from the CDC change log + point-in-time read: each key's
    version history becomes validity intervals [version, next_version) via
    one LEAD window (open intervals close with a sentinel), then a probe
    version (deterministic per key: pk % 3) selects exactly the row that
    was current THEN — the "join facts to the dimension as it was at the
    fact's time" shape every CDC-fed warehouse needs, which plain
    latest-per-key (`cdc_read_final`) cannot answer. Tombstones surface
    as op='DELETE' rows so a reader can distinguish deleted-then from
    never-existed.

    Shapes: ONE window over the change log (partitioned by pk — the same
    exchange the apply pipeline already uses) and a per-row interval
    predicate; no join at all here because the probe is a function of the
    key. With a real fact table it becomes a range join on
    (pk, fact_v >= valid_from AND fact_v < valid_to) — at scale bucketed
    by pk with intervals sorted within, the standard SCD2 layout.
    """
    log = change_log(spark, sf_dir)
    w = Window.partitionBy(PK).orderBy("version")
    sentinel = F.lit(2147483647).cast("bigint")
    dim = log.select(
        *ORDER_COLS,
        "op",
        F.col("version").cast("int").alias("valid_from"),
        F.coalesce(F.lead("version").over(w).cast("bigint"), sentinel).alias(
            "valid_to"
        ),
    )
    probe = (F.col(PK) % 3).cast("int")
    return (
        dim.where(
            (F.col("valid_from") <= probe) & (probe < F.col("valid_to"))
        )
        .select(
            PK,
            probe.alias("probe_version"),
            F.col("o_orderstatus").alias("status_at_probe"),
            F.col("op").alias("op_at_probe"),
            "valid_from",
            "valid_to",
        )
        .orderBy(PK)
    )
