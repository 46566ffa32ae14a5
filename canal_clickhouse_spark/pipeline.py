"""Config-driven CDC pipeline: the reference's user surface, Spark-native.

A canal-clickhouse deployment is configured as (source MQ topic) × (per-table
sync rules: database/table routing, primary key, column type mapping, target
MergeTree engine) [P-canal][P-ch]; the pipeline tails the binlog stream and
keeps one queryable table per rule current. ``CdcPipeline`` is that exact
contract on Spark:

    pipe = CdcPipeline(spark, [TableSync("shop", "orders", pk="o_orderkey",
                                         mapping={...}, mode="replacing")],
                       state_root="/data/cdc_state")
    pipe.apply_messages(flatmessage_df)        # batch catch-up
    q = pipe.stream(kafka_source(...))         # continuous tail, checkpointed
    pipe.read_table("shop", "orders")          # FINAL-semantics current state

State layout (MergeTree-part analog, kept by ``parts.py``): each apply
writes a new immutable versioned snapshot directory
``state_root/db.table/v{n}`` and readers always see the latest committed one
— no in-place overwrite, so a crashed write never corrupts the readable
state, and a replayed micro-batch (at-least-once transport) just rewrites the
same content (version-resolved merge is idempotent — property-tested in
tests/test_cdc.py).

Per batch cost: one envelope parse, cached for the batch; one small job that
finds the (database, table) pairs present; then one merge+write per rule that
received rows, run concurrently (one thread per busy rule). A rule with no
rows in the batch costs nothing and writes no snapshot.

Scale: the merge is one hash aggregation shuffled on the PK per batch; at
100 TB the state table and the incoming batch would both be bucketed by PK
so the union+collapse runs shuffle-free, and the snapshot write is
partitioned by PK range.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import parts
from .cdc.apply import collapse_signs, merge_base
from .cdc.envelope import explode_envelope
from .cdc.stream import merge_versioned


@dataclass(frozen=True)
class TableSync:
    """One table's sync rule — the unit of reference configuration."""

    database: str
    table: str
    pk: str
    mapping: dict[str, str] = field(hash=False)  # column -> spark cast type
    mode: str = "replacing"  # "replacing" | "collapsing"

    def __post_init__(self) -> None:
        if self.mode not in ("replacing", "collapsing"):
            raise ValueError(f"unknown sync mode {self.mode!r}")
        if self.pk not in self.mapping:
            raise ValueError(f"pk {self.pk!r} missing from mapping")

    @property
    def payload_cols(self) -> list[str]:
        return [c for c in self.mapping if c != self.pk]

    @property
    def qualified(self) -> str:
        return f"{self.database}.{self.table}"

    @property
    def state_schema(self) -> str:
        """DDL of the rule's snapshot, in the column order the merge writes:
        key, payload, then the mode's bookkeeping (``op`` or ``sign``) and
        ``version``."""
        kind = "op string" if self.mode == "replacing" else "sign int"
        cols = [f"`{c}` {self.mapping[c]}" for c in (self.pk, *self.payload_cols)]
        return ", ".join([*cols, kind, "version bigint"])


class CdcPipeline:
    """Route a FlatMessage stream into per-table, version-resolved state."""

    def __init__(
        self,
        spark: SparkSession,
        tables: list[TableSync],
        state_root: str,
        checkpoint_root: str | None = None,
    ) -> None:
        self.spark = spark
        self.tables = {t.qualified: t for t in tables}
        self.state_root = state_root
        self.checkpoint_root = checkpoint_root or os.path.join(state_root, "_checkpoints")

    # -- state snapshot bookkeeping ------------------------------------------

    def _table_dir(self, rule: TableSync) -> str:
        return os.path.join(self.state_root, rule.qualified)

    def _latest_version(self, rule: TableSync) -> int:
        return parts.latest(self.spark, self._table_dir(rule), "v")

    def _state(self, rule: TableSync) -> DataFrame | None:
        return parts.read_latest(
            self.spark, self._table_dir(rule), "v", schema=rule.state_schema
        )

    def _write_snapshot(self, rule: TableSync, df: DataFrame) -> None:
        v = self._latest_version(rule) + 1
        df.write.mode("overwrite").parquet(os.path.join(self._table_dir(rule), f"v{v}"))
        # Retire superseded snapshots (keep one predecessor for readers
        # mid-scan — the MergeTree inactive-part grace analog).
        parts.retire(self.spark, self._table_dir(rule), "v", below=v - 1)

    # -- apply paths ----------------------------------------------------------

    def apply_messages(self, msgs: DataFrame, msg_col: str = "msg") -> None:
        """Apply one batch of FlatMessage JSON strings to every routed table.

        One batch costs one envelope parse (kept cached for the batch), one
        small job that finds the (database, table) pairs present, and one
        merge+write per rule that received rows; those rule writes run
        concurrently. Rules with no rows write nothing. Messages for
        unrouted tables, malformed JSON and ``"data": null`` messages are
        ignored (the reference's subscription filter).
        """
        rows = explode_envelope(msgs, msg_col).select(
            "database", "table", "type", "es", "row"
        ).persist()
        try:
            present = {tuple(r) for r in rows.select("database", "table").distinct().collect()}
            busy = [r for r in self.tables.values() if (r.database, r.table) in present]
            if not busy:
                return
            apply = inheritable_thread_target(self.spark)(
                lambda rule: self._apply_rule(rule, rows)
            )
            workers = min(len(busy), self.spark.sparkContext.defaultParallelism)
            with ThreadPoolExecutor(workers) as pool:
                list(pool.map(apply, busy))
        finally:
            rows.unpersist()

    def _apply_rule(self, rule: TableSync, rows: DataFrame) -> None:
        """Cast the rule's rows, version-merge them into state, write."""
        routed = rows.filter(
            (F.col("database") == rule.database) & (F.col("table") == rule.table)
        )
        # Canal carries no version column: the binlog event time (es, epoch
        # ms) is the version, exactly how Replacing sinks order at-least-once
        # redeliveries.
        batch = routed.select(
            *[F.col("row").getItem(c).cast(t).alias(c) for c, t in rule.mapping.items()],
            F.col("type").alias("op"),
            F.col("es").alias("version"),
        )
        if rule.mode == "replacing":
            merged = merge_versioned(self._state(rule), batch, rule.pk)
        else:
            merged = self._merge_collapsing(rule, batch)
        self._write_snapshot(rule, merged)

    def _merge_collapsing(self, rule: TableSync, batch: DataFrame) -> DataFrame:
        """Collapsing-mode merge: ops → sign rows → watermarked compaction.

        Op translation (the CollapsingMergeTree sink contract): INSERT → +1,
        UPDATE → (−1, +1) at the new version, DELETE → −1. The −1 half of an
        update nets out the prior +1; its payload never wins a FINAL read
        (``collapse_signs`` votes with +1 rows only), so carrying the
        after-image on both halves is sound even without the envelope's
        ``old`` deltas.

        Idempotency: state is kept COMPACTED (≤1 signed row per key — the
        post-merge MergeTree shape, bounded by live keys not history), which
        means a replayed batch can no longer cancel against its own −1 rows.
        The per-key version watermark restores exactly-once application:
        incoming sign rows at-or-below the key's compacted version are
        already reflected in state and are dropped. Deleted keys persist as
        −1 tombstones precisely to keep their watermark (a replayed
        pre-delete INSERT must not resurrect them); a TTL sweep reclaims
        tombstones at scale.
        """
        signs = batch.select(
            *rule.mapping.keys(),
            "version",
            F.explode(
                F.when(F.col("op") == "INSERT", F.array(F.lit(1)))
                .when(F.col("op") == "UPDATE", F.array(F.lit(-1), F.lit(1)))
                .otherwise(F.array(F.lit(-1)))
            ).alias("sign"),
        ).dropDuplicates([rule.pk, "version", "sign"])
        state = self._state(rule)
        if state is not None:
            wm = state.select(rule.pk, F.col("version").alias("_wm"))
            signs = (
                signs.join(wm, rule.pk, "left")
                .filter(F.col("_wm").isNull() | (F.col("version") > F.col("_wm")))
                .drop("_wm")
            )
        return collapse_signs(
            merge_base(state, signs), rule.pk, rule.payload_cols
        )

    def stream(self, msgs, msg_col: str = "msg", available_now: bool = True):
        """Continuous tail: checkpointed foreachBatch over the message stream."""

        def apply_batch(bdf: DataFrame, batch_id: int) -> None:
            self.apply_messages(bdf, msg_col)

        writer = (
            msgs.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", self.checkpoint_root)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- read side ------------------------------------------------------------

    def read_table(self, database: str, table: str) -> DataFrame:
        """Current state with FINAL semantics (tombstones collapsed away)."""
        rule = self.tables[f"{database}.{table}"]
        state = self._state(rule)
        if state is None:  # no message routed to the rule yet
            state = self.spark.createDataFrame([], rule.state_schema)
        if rule.mode == "replacing":
            return state.filter(F.col("op") != "DELETE").drop("op", "version")
        return state.filter(F.col("sign") == 1).drop("sign", "version")
