"""Genuinely-streaming behaviors: watermarks, late data, dedup, state, joins.

Every key here runs a REAL micro-batch query (file source over the fixture
parquet → memory/foreachBatch sink, ``availableNow`` trigger) — not a batch
simulation. Where the streaming result is deterministic (single-batch, or
watermark cutoffs that are pure functions of the data) the key still carries
a DuckDB oracle; order-of-arrival-dependent behaviors are unit-tested
instead (tests/test_streaming.py).

Reference mapping: Canal's continuous binlog consumption with position
tracking and at-least-once redelivery (/root/reference/README.md:1) →
Structured Streaming offsets/watermarks/dedup; ClickHouse materialized views
→ continuously-maintained windowed aggregates.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import parts
from ..catalog import fix_events_ts, table
from ..registry import query

_MEM_IDS = itertools.count()


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as an unbounded DataFrame (file source)."""
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    # File sources want a directory; glob-filter down to the one fixture file.
    return fix_events_ts(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def run_to_memory(sdf: DataFrame, output_mode: str = "append") -> DataFrame:
    """Execute a streaming plan to completion into an in-memory sink."""
    name = f"ccs_mem_{next(_MEM_IDS)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def _all_files(root: str) -> set[str]:
    return {
        os.path.join(d, f) for d, _, files in os.walk(root) for f in files
    }


def _stage_batches(src: str, dfs: list[DataFrame]) -> None:
    """Write each DataFrame as one parquet file with strictly increasing mtime.

    The file source orders micro-batches by (mtime, path); parquet part files
    written milliseconds apart can tie on mtime with random UUID names, which
    would randomize batch order. Stamping each write's files with a distinct
    deterministic mtime pins it.
    """
    seen: set[str] = set()
    for i, df in enumerate(dfs):
        df.coalesce(1).write.mode("append").parquet(src)
        t = 1_700_000_000 + 60 * i
        new = _all_files(src) - seen
        for f in new:
            os.utime(f, (t, t))
        seen |= new


@query(
    "stream_watermark",
    oracle="""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, COUNT(*) AS n
    FROM events
    GROUP BY win_start
    HAVING win_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data cutoff: append-mode windows emit only once the watermark
    passes their end.

    Single data batch → final watermark = max(ts) − 10 min; the no-data flush
    batch then emits exactly the windows with end ≤ watermark (the in-flight
    final window stays in state) — a pure function of the data, hence
    oracle-checkable.
    """
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "n")
    )
    return run_to_memory(agg, "append")


@query(
    "stream_late_drop",
    oracle="""
    WITH ontime AS (
        SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM ontime)
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, COUNT(*) AS n
    FROM ontime
    GROUP BY win_start
    HAVING win_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows arriving behind the watermark are discarded, not aggregated.

    Run 1 streams the on-time rows (events before Jan 21), advancing the
    checkpointed watermark to max−10min. Run 2 resumes from the same
    checkpoint with the remaining rows shifted back 19 days — every one lands
    behind the persisted watermark and must be dropped, so the union of both
    runs' append-mode emissions equals the on-time-only aggregation. Two
    separate ``availableNow`` runs (not maxFilesPerTrigger) guarantee a real
    watermark barrier between the arrivals.
    """
    src = parts.scratch_dir(sf_dir, "late")
    out = parts.scratch_dir(sf_dir, "late_out")
    chk = parts.scratch_dir(sf_dir, "late_chk")
    ev = table(spark, sf_dir, "events")
    split = F.lit("2024-01-21 00:00:00").cast("timestamp")
    late = ev.filter(F.col("ts") >= split).withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 19 DAYS")
    )

    def run_once() -> None:
        stream = fix_events_ts(
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        ).withWatermark("ts", "10 minutes")
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("win_start"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _stage_batches(src, [ev.filter(F.col("ts") < split)])
    run_once()
    late.coalesce(1).write.mode("append").parquet(src)
    run_once()
    return spark.read.parquet(out)


@query(
    "stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
    GROUP BY ALL
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id within the watermark retention.

    The at-least-once transport redelivers the whole topic (the fixture file
    streamed twice); ``dropDuplicatesWithinWatermark`` keeps first-seen ids.
    Output is exactly one row per event — engine-order-independent, so it
    oracle-checks.
    """
    src = parts.scratch_dir(sf_dir, "dedup")
    ev = table(spark, sf_dir, "events")
    ev.coalesce(1).write.mode("append").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)

    stream = fix_events_ts(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    ).withWatermark("ts", "10 minutes")
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )
    return run_to_memory(deduped, "append")


@query(
    "stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state: running per-user event stats.

    ``applyInPandasWithState`` holds (count, sum) per user across batches and
    emits the updated state each batch; with the fixture arriving in one
    batch the emission equals the global per-user aggregate. Python is on the
    state path by design here (this is the custom-stateful-operator surface);
    everything else in this module stays JVM-side.

    Spark 4's ``transformWithStateInPandas`` (the modern API, SURVEY.md
    §7.4) was probed and crashes in this container: its driver worker
    imports google.protobuf, which is broken here ("cannot import name
    'descriptor'") and cannot be reinstalled — so the engine standardizes
    on the applyInPandasWithState surface, per the §7.4 fallback plan.
    Re-probed 2026-08-13 (round 3): ``import google.protobuf`` now fails
    with ModuleNotFoundError outright — still unavailable, fallback stands.
    Re-probed 2026-08-14 (round 4): ``import google.protobuf`` and ``import
    google`` both raise ModuleNotFoundError ("No module named 'google'"),
    and package installation is out of scope in this environment (no
    pip/apt per the build constraints) — fallback stands.
    FINAL (round 5, fourth consecutive probe, 2026-08-14): protobuf is a
    deployment-image requirement, not a code task — this backlog item is
    closed. The applyInPandasWithState surface here is the pinned
    implementation; migrating to ``transformWithStateInPandas`` is a
    drop-in swap of this one function on an image that ships protobuf
    (the API itself imports fine — only the runtime worker's protobuf
    dependency is missing).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key: tuple, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total]})

    stream = events_stream(spark, sf_dir)
    res = stream.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id bigint, n bigint, total double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_memory(res, "update")
    return out.select("user_id", "n", F.round("total", 2).alias("total"))


@query(
    "stream_join_static",
    oracle="""
    SELECT n_name, COUNT(*) AS n, ROUND(SUM(e.value), 2) AS total
    FROM events e JOIN nation ON n_nationkey = e.user_id % 25
    GROUP BY n_name
    """,
)
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich a stream with a broadcast dimension, then aggregate (complete).

    Stream-static joins re-read the static side per micro-batch; broadcasting
    the dim keeps the join shuffle-free — the 100 TB pattern for CDC
    enrichment against slowly-changing dimensions.
    """
    ev = events_stream(spark, sf_dir)
    nation = F.broadcast(table(spark, sf_dir, "nation"))
    joined = ev.join(nation, nation.n_nationkey == ev.user_id % 25)
    agg = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")
    )
    return run_to_memory(agg, "complete")


@query(
    "stream_join_stream",
    oracle="""
    SELECT a.event_id AS a_id, b.event_id AS b_id,
           a.user_id AS user_id
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
     AND b.ts >= a.ts - INTERVAL 5 MINUTE
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    """,
)
def stream_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded stream-stream inner join (even-id stream ⋈ odd-id stream).

    Watermarks on both sides bound the join state; the interval condition
    tells Spark how long to retain each side. An inner join emits every
    matching pair exactly once, so the bounded-input result equals the batch
    self-join oracle.
    """
    a = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_id") % 2 == 0)
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("a_id"),
            F.col("user_id").alias("a_user"),
            F.col("ts").alias("a_ts"),
        )
    )
    b = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_id") % 2 == 1)
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("b_id"),
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
        )
    )
    joined = a.join(
        b,
        F.expr(
            "a_user = b_user AND b_ts BETWEEN a_ts - INTERVAL 5 MINUTES"
            " AND a_ts + INTERVAL 5 MINUTES"
        ),
    ).select("a_id", "b_id", F.col("a_user").alias("user_id"))
    return run_to_memory(joined, "append")


@query(
    "stream_output_modes",
    oracle="""
    SELECT 'complete' AS mode, COUNT(DISTINCT event_type) AS rows_emitted
    FROM events
    UNION ALL
    SELECT 'update', COUNT(DISTINCT event_type) FROM events
    """,
)
def stream_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """complete vs update emission semantics on the same aggregation.

    Single-batch input: complete re-emits the full result table, update emits
    every changed group — both equal one row per event_type. (Append-mode
    emission is exercised by stream_watermark; an unwatermarked aggregate
    rejects append by design.)
    """
    rows = []
    for mode in ("complete", "update"):
        agg = events_stream(spark, sf_dir).groupBy("event_type").count()
        rows.append((mode, run_to_memory(agg, mode).count()))
    return spark.createDataFrame(rows, "mode string, rows_emitted bigint")


@query(
    "stream_foreachbatch_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    """,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional micro-batch upsert — the ClickHouse sink path.

    ``foreachBatch`` + batch_id-suffixed overwrite: a replayed batch rewrites
    its own output, making the at-least-once delivery idempotent (same
    contract as the CDC state sink, cdc/stream.py). The driver reads back the
    last committed snapshot.
    """
    out_root = parts.scratch_dir(sf_dir, "febsink")

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(os.path.join(out_root, f"b{batch_id}"))

    agg = events_stream(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    last = parts.read_latest(spark, out_root, "b")
    assert last is not None
    return last


@query(
    "join_interval_stream",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id AS user_id
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
    """,
)
def join_interval_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases within 10 minutes AFTER a view, per user
    (funnel attribution — the asymmetric-bound variant of stream-stream
    joins; §2 C `join_interval_stream`).

    The one-sided bound means Spark retains view-side state only 10 minutes
    past the watermark and purchase-side state not at all — the
    state-retention math a 100 TB funnel join lives or dies by.
    """
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts > v_ts"
            " AND p_ts <= v_ts + INTERVAL 10 MINUTES"
        ),
    ).select("view_id", "purchase_id", F.col("v_user").alias("user_id"))
    return run_to_memory(joined, "append")
