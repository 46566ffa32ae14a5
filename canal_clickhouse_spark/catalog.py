"""Fixture catalog: typed parquet tables + SQL view registration.

Tables are the driver-provided TPC-H-ish star schema plus events / documents /
embeddings (FIXTURES.md §2). At 100 TB these reads are partitioned columnar
scans; Catalyst pushes filters/projections into the parquet reader, so every
operator should express predicates declaratively rather than materialize.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .session import tune

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def fix_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-tz TIMESTAMP whatever the fixture wrote.

    Shapes seen across driver-regenerated fixtures:
    - parquet TIMESTAMP(NANOS): read as long (nanosAsLong conf); floor-divide
      to microseconds exactly like DuckDB truncates ns.
    - tz-naive timestamp[us]: Spark 4 infers TIMESTAMP_NTZ, which
      withWatermark rejects; cast to TIMESTAMP (session tz is UTC, so values
      are identical). The inferTimestampNTZ=false conf normally prevents this
      branch from being needed, but an externally-built session may not carry
      that conf.
    Applies to batch and streaming reads alike."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Fixture-read memos (r9, reworked r10): `spark.read.parquet` re-reads
# the file footer for schema inference on EVERY call, and the registry's
# ch_sql path re-registers all 10 fixtures per query — ~1 s of pure
# footer/schema I/O per bench key before any query work, plus ~10 ms of
# py4j plan construction per table per call. Two layers fix both costs:
#
# - _SCHEMA_MEMO (process-global, path → StructType): the parquet footer
#   is read once per path per process; later reads pass the schema
#   explicitly, skipping inference. Schemas hold no session reference.
#   ASSUMPTION (documented, r9 verdict hygiene note): a parquet file at a
#   given absolute path is immutable for process lifetime — true for the
#   driver's read-only fixtures this catalog serves.
# - a per-session DataFrame memo stored ON the session object
#   (`spark.__dict__`): DataFrames are immutable lazy plans, so reusing
#   one within a session is semantically identical to re-reading, and
#   views are STILL re-registered on every register_views call (pointing
#   at the cached plan), so a caller that replaced a view gets it
#   restored exactly as before. r9 kept this memo in a
#   WeakKeyDictionary, which never evicted: the DataFrame values
#   strongly reference their session, so the value kept the key alive
#   (r10 advice). Storing the dict in the session's own __dict__ makes
#   the whole structure one reference CYCLE (session → memo → DataFrame
#   → session) with no external root — Python's cycle collector frees
#   it as soon as the caller drops the session, stopped or not.
_SCHEMA_MEMO: dict[str, "object"] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Keeps the scan lazy so pushdown applies."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table: {name}")
    tune(spark)
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    memo = spark.__dict__.setdefault("_ccs_table_memo", {})
    df = memo.get(path)
    if df is None:
        schema = _SCHEMA_MEMO.get(path)
        if schema is None:
            df = spark.read.parquet(path)
            _SCHEMA_MEMO[path] = df.schema
        else:
            df = spark.read.schema(schema).parquet(path)
        if name == "events":
            df = fix_events_ts(df)
        memo[path] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for the spark.sql entry path.

    Memoized per (session, name, sf_dir) — r12 optimization, guide §1/§5
    (driver-side fixed overhead): re-registering 10 identical views costs
    ~180 ms of py4j/catalog round trips, paid on EVERY SQL-path query and
    every ChSession construction. The memo records which fixture views this
    session already has pointing at which sf_dir; only missing/moved ones
    re-register. Anything that unregisters or repoints one of these names
    (ChSession DROP/RENAME/DETACH) calls :func:`forget_view` so the next
    registration restores it — preserving the pre-memo semantics exactly.

    INVARIANT (r12 advice item 3, documented choice): fixture view names
    must only be mutated through engine APIs. Driver code that calls
    ``spark.catalog.dropTempView``/``createOrReplaceTempView`` directly on
    a fixture name bypasses :func:`forget_view` and the memo will not heal
    it. The alternative — a ``tableExists()`` probe per name per call —
    would re-pay ~10 py4j round trips on the fast path this memo exists to
    remove; the driver contract never mutates catalog names out-of-band.
    """
    sfa = os.path.abspath(sf_dir)
    memo = spark.__dict__.setdefault("_ccs_view_memo", {})
    for name in TABLES:
        if memo.get(name) != sfa:
            table(spark, sf_dir, name).createOrReplaceTempView(name)
            memo[name] = sfa


def forget_view(spark: SparkSession, name: str) -> None:
    """Drop ``name`` from the registered-view memo (the view was dropped or
    repointed by a caller); the next register_views restores it."""
    spark.__dict__.get("_ccs_view_memo", {}).pop(name, None)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """EP-3 SQL entry: run a query over the registered fixture views.

    Same Catalyst path as the DataFrame API with one extra parser stage —
    exposed so reference users can keep their SQL verbatim.
    """
    register_views(spark, sf_dir)
    return spark.sql(query)
