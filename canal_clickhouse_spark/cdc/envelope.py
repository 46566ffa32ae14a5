"""Canal FlatMessage envelope: schema, build, parse.

The Canal wire format (public knowledge; reference identity
/root/reference/README.md:1) ships per-binlog-event JSON with routing keys
(``database``, ``table``), change ``type``, source event time ``es`` (epoch
ms), ``pkNames``, DDL passthrough, and stringly-typed after-images in
``data: [ {col: str} ]`` / before-deltas in ``old``. The sink casts strings
to the target table's types via a mapping config.

Here the envelope is a ``StructType`` and parsing is pure Catalyst
(``from_json`` → ``explode`` → cast projection) — whole-stage-codegen'd, no
Python in the row path. The oracle builds byte-equivalent JSON in DuckDB and
extracts with its JSON functions, so the full build→parse→type roundtrip is
hash-checked.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import table
from ..registry import query

FLAT_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("database", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("es", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("isDdl", T.BooleanType()),
        T.StructField("sql", T.StringType()),
        T.StructField("pkNames", T.ArrayType(T.StringType())),
        T.StructField("data", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
        T.StructField("old", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
        # Canal FlatMessage carries per-column source type declarations:
        # mysqlType = {col: "int(10) unsigned"}, sqlType = {col: JDBC code}.
        T.StructField("mysqlType", T.MapType(T.StringType(), T.StringType())),
        T.StructField("sqlType", T.MapType(T.StringType(), T.IntegerType())),
    ]
)

# ---------------------------------------------------------------------------
# mysqlType-driven Spark cast derivation (SURVEY.md §1.2 rules)
#
# MySQL declaration -> Spark cast target.  Unsigned integers widen ONE tier
# (a UInt32 does not fit IntegerType; a UInt64 fits no Spark integral type, so
# it lands in DecimalType(20,0) for exactness).  DECIMAL(P,S) maps verbatim
# (exact money math).  ENUM maps to StringType plus a CHECK-style membership
# constraint the caller applies as a validating projection.
# ---------------------------------------------------------------------------

_INT_BASE = {
    "tinyint": "tinyint",
    "smallint": "smallint",
    "mediumint": "int",  # 24-bit signed fits IntegerType
    "int": "int",
    "integer": "int",
    "bigint": "bigint",
}
_UNSIGNED_WIDEN = {
    "tinyint": "smallint",
    "smallint": "int",
    "mediumint": "int",  # 24-bit unsigned still fits IntegerType
    "int": "bigint",
    "bigint": "decimal(20,0)",  # UInt64 max = 1.8e19 > Long max
}
_STRING_BASES = {"char", "varchar", "tinytext", "text", "mediumtext", "longtext", "set", "time", "uuid", "json"}
_BINARY_BASES = {"binary", "varbinary", "tinyblob", "blob", "mediumblob", "longblob", "bit"}

_DECL_RE = re.compile(r"^\s*([a-z]+)\s*(?:\(([^)]*)\))?", re.IGNORECASE)


def spark_type_for_mysql(decl: str) -> tuple[str, list[str] | None]:
    """MySQL column declaration -> (Spark cast target, enum values | None).

    Examples: ``"int(10) unsigned"`` -> ``("bigint", None)``;
    ``"bigint(20) unsigned"`` -> ``("decimal(20,0)", None)``;
    ``"decimal(12,2)"`` -> ``("decimal(12,2)", None)``;
    ``"enum('O','F','P')"`` -> ``("string", ["O", "F", "P"])``.
    """
    m = _DECL_RE.match(decl)
    if not m:
        raise ValueError(f"unparseable mysqlType declaration: {decl!r}")
    base = m.group(1).lower()
    args = m.group(2)
    unsigned = "unsigned" in decl.lower()
    if base in _INT_BASE:
        return (_UNSIGNED_WIDEN[base] if unsigned else _INT_BASE[base], None)
    if base in ("decimal", "numeric"):
        p, s = 10, 0
        if args:
            parts = [a.strip() for a in args.split(",")]
            p = int(parts[0])
            s = int(parts[1]) if len(parts) > 1 else 0
        # unsigned DECIMAL(P,S) gains no range in Spark; precision is kept
        return (f"decimal({p},{s})", None)
    if base == "float":
        return ("float", None)
    if base in ("double", "real"):
        return ("double", None)
    if base == "enum":
        vals = [v.strip().strip("'\"") for v in (args or "").split(",") if v.strip()]
        return ("string", vals)
    if base in _STRING_BASES:
        return ("string", None)
    if base in _BINARY_BASES:
        return ("binary", None)
    if base == "date":
        return ("date", None)
    if base in ("datetime", "timestamp"):
        return ("timestamp", None)
    if base == "year":
        return ("int", None)
    if base == "boolean" or base == "bool":
        return ("boolean", None)
    raise ValueError(f"unmapped mysqlType base {base!r} in {decl!r}")


def mapping_from_mysql_types(
    mysql_types: dict[str, str],
) -> tuple[dict[str, str], dict[str, list[str]]]:
    """Derive the per-column Spark cast mapping (and ENUM constraints) from a
    FlatMessage ``mysqlType`` map — replaces hand-declared dicts like
    ``ORDERS_MAPPING`` for tables the envelope fully describes."""
    casts: dict[str, str] = {}
    enums: dict[str, list[str]] = {}
    for col, decl in mysql_types.items():
        spark_t, enum_vals = spark_type_for_mysql(decl)
        casts[col] = spark_t
        if enum_vals is not None:
            enums[col] = enum_vals
    return casts, enums

# Per-table mapping config: column -> Spark cast target. The string "ts:es"
# marker means "take the envelope's es epoch-ms instead of a data column".
ORDERS_MAPPING: dict[str, str] = {
    "o_orderkey": "bigint",
    "o_custkey": "bigint",
    "o_orderstatus": "string",
    "o_totalprice": "double",
    "o_orderpriority": "string",
}


def build_envelope(
    df: DataFrame,
    database: str,
    table_name: str,
    pk_names: list[str],
    data_cols: dict[str, Column],
    es: Column,
    op: Column | None = None,
    mysql_types: dict[str, str] | None = None,
    ts: Column | None = None,
) -> DataFrame:
    """Serialize rows into FlatMessage JSON strings (column ``msg``).

    ``mysql_types`` (col -> MySQL declaration) is embedded as the envelope's
    ``mysqlType`` map when given, mirroring what Canal ships per message;
    ``ts`` (pipeline processing time, epoch ms) likewise when given.
    """
    kv: list[Column] = []
    for name, col in data_cols.items():
        kv.extend([F.lit(name), col])
    fields = [
        F.lit(database).alias("database"),
        F.lit(table_name).alias("table"),
        (op if op is not None else F.lit("INSERT")).alias("type"),
        es.alias("es"),
        F.lit(False).alias("isDdl"),
        F.array(*[F.lit(p) for p in pk_names]).alias("pkNames"),
        F.array(F.create_map(*kv)).alias("data"),
    ]
    if ts is not None:
        fields.insert(4, ts.alias("ts"))
    if mysql_types is not None:
        tkv: list[Column] = []
        for name, decl in mysql_types.items():
            tkv.extend([F.lit(name), F.lit(decl)])
        fields.append(F.create_map(*tkv).alias("mysqlType"))
    return df.select(F.to_json(F.struct(*fields)).alias("msg"))


def explode_envelope(msgs: DataFrame, msg_col: str = "msg") -> DataFrame:
    """FlatMessage JSON → one row per ``data`` entry: the envelope fields
    plus ``row``, that entry's stringly-typed column map.

    Malformed JSON and ``"data": null`` messages yield no rows.
    """
    parsed = msgs.select(F.from_json(msg_col, FLAT_MESSAGE_SCHEMA).alias("m"))
    return parsed.select("m.*", F.explode("m.data").alias("row"))


def parse_envelope(
    msgs: DataFrame, mapping: dict[str, str], msg_col: str = "msg"
) -> DataFrame:
    """FlatMessage JSON → typed change rows.

    ``explode(data)`` fans multi-row messages out; the mapping casts each
    stringly-typed column. Emits the envelope's op and event time alongside.
    """
    typed = [F.col("row").getItem(c).cast(t).alias(c) for c, t in mapping.items()]
    return explode_envelope(msgs, msg_col).select(
        *typed,
        F.timestamp_millis(F.col("es")).alias("event_time"),
        F.col("type").alias("op"),
    )


def parse_envelope_typed(
    msgs: DataFrame, msg_col: str = "msg", mysql_types: dict[str, str] | None = None
) -> DataFrame:
    """FlatMessage JSON → typed change rows, casts derived from the envelope's
    own ``mysqlType`` map (SURVEY §1.2 rules) instead of a hand-declared dict.

    When ``mysql_types`` is None the mapping is peeked from one message — a
    single-row driver action, the same class of config derivation as schema
    inference; per-table deployments pass the DDL-derived dict instead.  ENUM
    columns are validated CHECK-style: values outside the declared set become
    NULL (the sink-side reject lane).
    """
    if mysql_types is None:
        peek = (
            msgs.select(F.from_json(msg_col, FLAT_MESSAGE_SCHEMA).alias("m"))
            .select("m.mysqlType")
            .filter(F.col("mysqlType").isNotNull())
            .first()
        )
        if peek is None:
            raise ValueError("no mysqlType map found in any envelope message")
        mysql_types = dict(peek[0])
    casts, enums = mapping_from_mysql_types(mysql_types)
    typed: list[Column] = []
    for c, t in casts.items():
        col = F.col("row").getItem(c)
        if c in enums:
            col = F.when(col.isin(enums[c]), col)
        typed.append(col.cast(t).alias(c))
    return explode_envelope(msgs, msg_col).select(
        *typed,
        F.timestamp_millis(F.col("es")).alias("event_time"),
        F.col("type").alias("op"),
    )


@query(
    "cdc_typed_widening",
    oracle="""
    SELECT CAST(CAST(o_orderkey AS DECIMAL(20,0)) AS VARCHAR) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           CASE WHEN o_orderstatus IN ('O','F','P') THEN o_orderstatus END
             AS o_orderstatus,
           CAST(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS DECIMAL(12,2))
                AS VARCHAR)
             AS o_totalprice,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST((o_orderkey % 200) + 1 AS SMALLINT) AS o_bucket,
           o_orderpriority,
           make_timestamp(epoch_ms(o_orderdate) * 1000) AS event_time,
           'INSERT' AS op
    FROM orders
    """,
)
def cdc_typed_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mysqlType-driven envelope typing with unsigned widening (SURVEY §1.2):
    ``bigint unsigned`` → Decimal(20,0), ``int unsigned`` → Long,
    ``smallint unsigned`` → Integer, ``tinyint unsigned`` → Short,
    ``decimal(12,2)`` exact money round-trip, ``enum('O','F','P')`` validated
    CHECK-style.  The mapping is derived from the ``mysqlType`` map the
    envelope itself carries — nothing is hand-declared on the parse side.

    The two DecimalType outputs are rendered as strings for the hash gate:
    DuckDB's ``.df()`` converts DECIMAL to float64, so a decimal-typed column
    can never hash-match across engines — the string render is the exact
    comparison (and proves scale-2 money round-trips digit-for-digit)."""
    o = table(spark, sf_dir, "orders")
    msgs = build_envelope(
        o,
        database="shop",
        table_name="orders",
        pk_names=["o_orderkey"],
        data_cols={
            "o_orderkey": F.col("o_orderkey").cast("string"),
            "o_custkey": F.col("o_custkey").cast("string"),
            "o_orderstatus": F.col("o_orderstatus"),
            "o_totalprice": F.round("o_totalprice", 2).cast("decimal(18,2)").cast("string"),
            "o_year": F.year("o_orderdate").cast("string"),
            "o_bucket": ((F.col("o_orderkey") % 200) + 1).cast("string"),
            "o_orderpriority": F.col("o_orderpriority"),
        },
        es=F.unix_millis(F.col("o_orderdate").cast("timestamp")),
        mysql_types={
            "o_orderkey": "bigint(20) unsigned",
            "o_custkey": "int(10) unsigned",
            "o_orderstatus": "enum('O','F','P')",
            "o_totalprice": "decimal(12,2)",
            "o_year": "smallint(5) unsigned",
            "o_bucket": "tinyint(3) unsigned",
            "o_orderpriority": "varchar(15)",
        },
    )
    typed = parse_envelope_typed(msgs)
    return typed.withColumn("o_orderkey", F.col("o_orderkey").cast("string")).withColumn(
        "o_totalprice", F.col("o_totalprice").cast("string")
    )


@query(
    "cdc_parse_envelope",
    oracle="""
    WITH env AS (
        SELECT json_object(
            'database', 'shop', 'table', 'orders', 'type', 'INSERT',
            'es', epoch_ms(o_orderdate),
            'isDdl', false,
            'pkNames', ['o_orderkey'],
            'data', [json_object(
                'o_orderkey', CAST(o_orderkey AS VARCHAR),
                'o_custkey', CAST(o_custkey AS VARCHAR),
                'o_orderstatus', o_orderstatus,
                'o_totalprice',
                    CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS VARCHAR),
                'o_orderpriority', o_orderpriority)]
        ) AS msg FROM orders
    )
    SELECT CAST(json_extract_string(msg, '$.data[0].o_orderkey') AS BIGINT) AS o_orderkey,
           CAST(json_extract_string(msg, '$.data[0].o_custkey') AS BIGINT) AS o_custkey,
           json_extract_string(msg, '$.data[0].o_orderstatus') AS o_orderstatus,
           CAST(json_extract_string(msg, '$.data[0].o_totalprice') AS DOUBLE) AS o_totalprice,
           json_extract_string(msg, '$.data[0].o_orderpriority') AS o_orderpriority,
           make_timestamp(CAST(json_extract(msg, '$.es') AS BIGINT) * 1000) AS event_time,
           json_extract_string(msg, '$.type') AS op
    FROM env
    """,
)
def cdc_parse_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build FlatMessage JSON from ``orders``, then parse it back to typed rows.

    o_totalprice goes through ROUND→DECIMAL(18,2)→string in both engines so
    the stringly-typed wire value is format-identical (raw double formatting
    differs engine to engine; decimal rendering does not).
    """
    o = table(spark, sf_dir, "orders")
    msgs = build_envelope(
        o,
        database="shop",
        table_name="orders",
        pk_names=["o_orderkey"],
        data_cols={
            "o_orderkey": F.col("o_orderkey").cast("string"),
            "o_custkey": F.col("o_custkey").cast("string"),
            "o_orderstatus": F.col("o_orderstatus"),
            "o_totalprice": F.round("o_totalprice", 2).cast("decimal(18,2)").cast("string"),
            "o_orderpriority": F.col("o_orderpriority"),
        },
        es=F.unix_millis(F.col("o_orderdate").cast("timestamp")),
    )
    return parse_envelope(msgs, ORDERS_MAPPING)


@query(
    "cdc_parse_ddl",
    oracle="""
    WITH ddl AS (
        SELECT n_nationkey AS seq,
               'ALTER TABLE shop.t' || CAST(n_nationkey % 5 AS VARCHAR)
                 || CASE WHEN n_nationkey % 3 = 0
                         THEN ' ADD COLUMN c' || CAST(n_nationkey AS VARCHAR)
                              || ' BIGINT'
                         WHEN n_nationkey % 3 = 1
                         THEN ' DROP COLUMN c' || CAST(n_nationkey AS VARCHAR)
                         ELSE ' MODIFY COLUMN c' || CAST(n_nationkey AS VARCHAR)
                              || ' VARCHAR(64)' END AS sql_text
        FROM nation
    )
    SELECT seq, sql_text,
           regexp_extract(sql_text,
               'ALTER TABLE (\\S+) (ADD|DROP|MODIFY) COLUMN (\\w+)\\s*(.*)', 1)
             AS target_table,
           regexp_extract(sql_text,
               'ALTER TABLE (\\S+) (ADD|DROP|MODIFY) COLUMN (\\w+)\\s*(.*)', 2)
             AS ddl_op,
           regexp_extract(sql_text,
               'ALTER TABLE (\\S+) (ADD|DROP|MODIFY) COLUMN (\\w+)\\s*(.*)', 3)
             AS column_name,
           regexp_extract(sql_text,
               'ALTER TABLE (\\S+) (ADD|DROP|MODIFY) COLUMN (\\w+)\\s*(.*)', 4)
             AS column_type
    FROM ddl ORDER BY seq
    """,
)
def cdc_parse_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canal DDL passthrough parsing: FlatMessage carries ``isDdl: true``
    with the raw statement in ``sql`` [P-canal]; the consumer must extract
    (table, op, column, type) to evolve the sink mapping
    (`cdc_schema_evolve` exercises the resulting behavior — this key pins
    the parse itself). DDL statements are synthesized deterministically
    from `nation`, covering ADD/DROP/MODIFY COLUMN shapes.
    """
    n = table(spark, sf_dir, "nation")
    sql_text = F.concat(
        F.lit("ALTER TABLE shop.t"),
        (F.col("n_nationkey") % 5).cast("string"),
        F.when(
            F.col("n_nationkey") % 3 == 0,
            F.concat(
                F.lit(" ADD COLUMN c"),
                F.col("n_nationkey").cast("string"),
                F.lit(" BIGINT"),
            ),
        )
        .when(
            F.col("n_nationkey") % 3 == 1,
            F.concat(F.lit(" DROP COLUMN c"), F.col("n_nationkey").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit(" MODIFY COLUMN c"),
                F.col("n_nationkey").cast("string"),
                F.lit(" VARCHAR(64)"),
            )
        ),
    )
    pat = r"ALTER TABLE (\S+) (ADD|DROP|MODIFY) COLUMN (\w+)\s*(.*)"
    ddl = n.select(F.col("n_nationkey").alias("seq"), sql_text.alias("sql_text"))
    return ddl.select(
        "seq",
        "sql_text",
        F.regexp_extract("sql_text", pat, 1).alias("target_table"),
        F.regexp_extract("sql_text", pat, 2).alias("ddl_op"),
        F.regexp_extract("sql_text", pat, 3).alias("column_name"),
        F.regexp_extract("sql_text", pat, 4).alias("column_type"),
    ).orderBy("seq")


@query(
    "cdc_lag_metrics",
    oracle="""
    WITH msgs AS (
        SELECT json_object(
            'database', 'shop', 'table', 'orders',
            'type', CASE WHEN o_orderkey % 10 = 0 THEN 'UPDATE'
                         ELSE 'INSERT' END,
            'es', epoch_ms(CAST(o_orderdate AS TIMESTAMP)),
            'ts', epoch_ms(CAST(o_orderdate AS TIMESTAMP))
                  + (o_orderkey % 7) * 1000 + 250,
            'isDdl', false,
            'pkNames', ['o_orderkey'],
            'data', [{'o_orderkey': CAST(o_orderkey AS VARCHAR)}]
        ) AS msg
        FROM orders
    ),
    parsed AS (
        SELECT json_extract_string(msg, '$.type') AS op,
               CAST(json_extract(msg, '$.es') AS BIGINT) AS es,
               CAST(json_extract(msg, '$.ts') AS BIGINT) AS ts
        FROM msgs
    )
    SELECT op,
           CAST(COUNT(*) AS BIGINT) AS n,
           strftime(make_timestamp(MAX(es) * 1000), '%Y-%m-%d %H:%M:%S')
               AS max_event_time,
           CAST(MAX(ts - es) AS BIGINT) AS max_lag_ms,
           ROUND(SUM(ts - es) * 1.0 / COUNT(*), 3) AS avg_lag_ms,
           CAST(SUM(CASE WHEN ts - es > 5000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_over_5s
    FROM parsed GROUP BY op ORDER BY op
    """,
)
def cdc_lag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-lag observability over the FlatMessage stream: per change
    type, event count, newest source event time, and the es→ts pipeline
    lag (max / avg / SLO-breach count at 5s) — the first dashboard any
    Canal→sink operator builds, computed from the envelope alone (no
    table apply needed). The fixture envelope carries a deterministic
    skew: ts = es + (pk % 7)·1000 + 250 ms.

    Shapes: one envelope parse projection (es/ts are top-level envelope
    fields — the ``data`` payload is never exploded), then a partial-agg
    groupBy on the op type. In streaming form the identical aggregate runs
    per micro-batch over watermarked event time; the lag SLO count is a
    conditional sum, mergeable across batches.
    """
    o = table(spark, sf_dir, "orders")
    es = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    msgs = build_envelope(
        o,
        "shop",
        "orders",
        ["o_orderkey"],
        {"o_orderkey": F.col("o_orderkey").cast("string")},
        es=es,
        op=F.when(F.col("o_orderkey") % 10 == 0, "UPDATE").otherwise("INSERT"),
        ts=es + (F.col("o_orderkey") % 7) * 1000 + 250,
    )
    parsed = msgs.select(
        F.from_json("msg", FLAT_MESSAGE_SCHEMA).alias("m")
    ).select(
        F.col("m.type").alias("op"),
        F.col("m.es").alias("es"),
        F.col("m.ts").alias("ts"),
    )
    lag = F.col("ts") - F.col("es")
    return (
        parsed.groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.date_format(
                F.timestamp_millis(F.max("es")), "yyyy-MM-dd HH:mm:ss"
            ).alias("max_event_time"),
            F.max(lag).cast("bigint").alias("max_lag_ms"),
            F.round(F.sum(lag) * 1.0 / F.count(F.lit(1)), 3).alias(
                "avg_lag_ms"
            ),
            F.sum(F.when(lag > 5000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_over_5s"),
        )
        .orderBy("op")
    )


@query(
    "cdc_multi_table_sync",
    oracle="""
    WITH changes AS (
        SELECT o_orderkey, o_orderstatus, 'INSERT' AS op, 0 AS version
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'F', 'UPDATE', 1 FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, 'DELETE', 2
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    final_orders AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                         ORDER BY version DESC) AS rn
            FROM changes
        ) WHERE rn = 1 AND op <> 'DELETE'
    )
    SELECT 'orders' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS n_special,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM final_orders
    UNION ALL
    SELECT 'customer',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS BIGINT),
           CAST(sum(c_custkey) AS BIGINT)
    FROM customer
    ORDER BY table_name
    """,
)
def cdc_multi_table_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sync composite — the shape a real Canal deployment runs on
    day one: ONE topic carries two tables' envelopes; the sink routes by the
    envelope's ``table`` key, types each route with its OWN DDL-derived
    ``mysqlType`` mapping (the r3 review's "a real multi-table deployment
    hits this on table #2" case), applies ReplacingMergeTree semantics to
    the versioned route, and lands both states.

    - ``orders`` route: 3-round INSERT/UPDATE/DELETE log (the cdc_changes
      derivation) serialized through FlatMessage JSON with ``es`` carrying
      the version; replacing-apply = max_by(payload, event_time) then drop
      tombstones — one hash aggregation per route, no window sort.
    - ``customer`` route: INSERT-only snapshot with unsigned widening
      (``bigint unsigned`` PK → Decimal(20,0)) and an ENUM mapping that
      deliberately omits 'MACHINERY' — those rows surface in the NULL
      reject lane (counted as n_special), CHECK-style validation.
    Routing happens on the raw message via ``get_json_object`` before any
    table-specific parse — at scale each route is an independent stream and
    the router never deserializes the full payload."""
    o = table(spark, sf_dir, "orders")
    ins = o.select(
        "o_orderkey", "o_orderstatus", F.lit("INSERT").alias("op"), F.lit(0).alias("version")
    )
    upd = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", F.lit("F").alias("o_orderstatus"),
        F.lit("UPDATE").alias("op"), F.lit(1).alias("version"),
    )
    dele = o.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", "o_orderstatus", F.lit("DELETE").alias("op"), F.lit(2).alias("version")
    )
    olog = ins.unionByName(upd).unionByName(dele)
    orders_types = {
        "o_orderkey": "bigint(20)",
        "o_orderstatus": "enum('O','F','P')",
    }
    orders_msgs = build_envelope(
        olog,
        database="shop",
        table_name="orders",
        pk_names=["o_orderkey"],
        data_cols={
            "o_orderkey": F.col("o_orderkey").cast("string"),
            "o_orderstatus": F.col("o_orderstatus"),
        },
        es=F.col("version").cast("long"),
        op=F.col("op"),
        mysql_types=orders_types,
    )
    c = table(spark, sf_dir, "customer")
    cust_types = {
        "c_custkey": "bigint(20) unsigned",
        "c_nationkey": "smallint(5) unsigned",
        "c_mktsegment": "enum('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD')",
    }
    cust_msgs = build_envelope(
        c,
        database="shop",
        table_name="customer",
        pk_names=["c_custkey"],
        data_cols={
            "c_custkey": F.col("c_custkey").cast("string"),
            "c_nationkey": F.col("c_nationkey").cast("string"),
            "c_mktsegment": F.col("c_mktsegment"),
        },
        es=F.lit(0).cast("long"),
        mysql_types=cust_types,
    )
    topic = orders_msgs.unionByName(cust_msgs)
    route = F.get_json_object("msg", "$.table")
    o_parsed = parse_envelope_typed(
        topic.filter(route == "orders"), mysql_types=orders_types
    )
    c_parsed = parse_envelope_typed(
        topic.filter(route == "customer"), mysql_types=cust_types
    )
    o_final = (
        o_parsed.groupBy("o_orderkey")
        .agg(F.max_by(F.struct("o_orderstatus", "op"), "event_time").alias("_s"))
        .select("o_orderkey", "_s.*")
        .filter(F.col("op") != "DELETE")
    )
    o_sum = o_final.agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n_special"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )
    c_sum = c_parsed.agg(
        F.lit("customer").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("c_mktsegment").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_special"),
        F.sum(F.col("c_custkey").cast("bigint")).cast("bigint").alias("key_sum"),
    )
    return c_sum.unionByName(o_sum).orderBy("table_name")
