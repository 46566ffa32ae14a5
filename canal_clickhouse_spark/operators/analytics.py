"""§2-extension — behavioral / sketch analytics (ClickHouse signature ops).

ClickHouse ships a family of event-analytics aggregates that have no direct
Spark builtin but decompose cleanly into window + conditional-aggregate plans
(reference identity: /root/reference/README.md:1; semantics are the public
ClickHouse function surface [P-ch]):

- ``windowFunnel(w)(ts, c1, c2, c3)``  -> `funnel_window`
- ``retention(c1, c2, ...)``           -> `retention_cohort`
- ``sequenceMatch('(?1).*(?2).*(?3)')``-> `sequence_match`
- ``histogram(n)``                     -> `agg_histogram`
- ``topK / approxTopK``                -> `agg_freq_items` (Karp-style sketch
                                          candidates + exact rescan)
- ``quantileTDigest``                  -> `agg_approx_percentile`
- ``ORDER BY ... WITH FILL``           -> `order_with_fill`
- ``SAMPLE k`` (deterministic)         -> `sample_hash`, `sample_stratified`

Scale posture (100 TB): every key is one shuffle on the natural partition key
(`user_id` for the behavioral ops — windows and the follow-up groupBy reuse
the same hash exchange), or a broadcast of a 1-row global aggregate; nothing
collects unbounded data to the driver (`freqItems` collects <= 1/support
candidate items by construction).

Funnel semantics note: the funnel is anchored at each user's FIRST step-1
event (deterministic, oracle-expressible). ClickHouse's windowFunnel scans
chains from every step-1 event; the anchored variant is the common product
metric and is what we hash-check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query


@query(
    "funnel_window",
    oracle="""
    WITH w1 AS (
        SELECT user_id, ts, event_type,
               min(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS t1
        FROM events),
    w2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                            AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
                    OVER (PARTITION BY user_id) AS t2
        FROM w1),
    w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                            AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
                    OVER (PARTITION BY user_id) AS t3
        FROM w2),
    pu AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
           FROM w3 GROUP BY user_id)
    SELECT CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS level,
           COUNT(*) AS n_users
    FROM pu GROUP BY 1 ORDER BY 1
    """,
)
def funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel: max step of view→click→purchase reached within 24h of
    each user's first view.

    Plan: three chained unordered windows over the same `user_id`
    partitioning (one hash exchange, reused by the follow-up groupBy — no
    self-joins, no per-step passes over the events table). Conditional-min
    windows are partial-aggregation-free but stay O(rows) per user.
    """
    w = Window.partitionBy("user_id")
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    day = F.expr("INTERVAL 24 HOURS")
    e = e.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    e = e.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t1"))
                & (F.col("ts") <= F.col("t1") + day),
                F.col("ts"),
            )
        ).over(w),
    )
    e = e.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2"))
                & (F.col("ts") <= F.col("t1") + day),
                F.col("ts"),
            )
        ).over(w),
    )
    pu = e.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    level = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        pu.select(level.alias("level"))
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("level")
    )


@query(
    "retention_cohort",
    oracle="""
    WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    w AS (SELECT user_id, day,
                 min(day) OVER (PARTITION BY user_id) AS d0 FROM d),
    pu AS (SELECT user_id, max(d0) AS d0,
                  max(CASE WHEN day = d0 + 1 THEN 1 ELSE 0 END) AS r1,
                  max(CASE WHEN day = d0 + 7 THEN 1 ELSE 0 END) AS r7
           FROM w GROUP BY user_id)
    SELECT CAST(d0 AS VARCHAR) AS d0, COUNT(*) AS n_users,
           CAST(SUM(r1) AS BIGINT) AS d1_retained,
           CAST(SUM(r7) AS BIGINT) AS d7_retained,
           ROUND(SUM(r1) * 1.0 / COUNT(*), 4) AS d1_rate,
           ROUND(SUM(r7) * 1.0 / COUNT(*), 4) AS d7_rate
    FROM pu GROUP BY d0 ORDER BY d0
    """,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retention(): day-1 / day-7 return rates per first-seen-day cohort.

    One `user_id` exchange: window min for the cohort day, per-user flag
    collapse, then a tiny cohort-level aggregate.
    """
    w = Window.partitionBy("user_id")
    d = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    d = d.withColumn("d0", F.min("day").over(w))
    pu = d.groupBy("user_id").agg(
        F.max("d0").alias("d0"),
        F.max(
            F.when(F.col("day") == F.date_add(F.col("d0"), 1), 1).otherwise(0)
        ).alias("r1"),
        F.max(
            F.when(F.col("day") == F.date_add(F.col("d0"), 7), 1).otherwise(0)
        ).alias("r7"),
    )
    return (
        pu.groupBy(F.col("d0").cast("string").alias("d0"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("r1").alias("d1_retained"),
            F.sum("r7").alias("d7_retained"),
            F.round(F.sum("r1") * 1.0 / F.count(F.lit(1)), 4).alias("d1_rate"),
            F.round(F.sum("r7") * 1.0 / F.count(F.lit(1)), 4).alias("d7_rate"),
        )
        .orderBy("d0")
    )


@query(
    "sequence_match",
    oracle="""
    WITH w1 AS (
        SELECT user_id, ts, event_type,
               min(CASE WHEN event_type = 'signup' THEN ts END)
                 OVER (PARTITION BY user_id) AS t1
        FROM events),
    w2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                    OVER (PARTITION BY user_id) AS t2
        FROM w1),
    w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                    OVER (PARTITION BY user_id) AS t3
        FROM w2),
    pu AS (SELECT user_id, max(t3) AS t3 FROM w3 GROUP BY user_id)
    SELECT COUNT(*) AS n_users, COUNT(t3) AS n_matched FROM pu
    """,
)
def sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceMatch('(?1).*(?2).*(?3)'): users with an ordered
    signup → click → purchase subsequence (greedy earliest-match, which is
    exact for subsequence existence). Same one-exchange window plan as the
    funnel, without the time bound.
    """
    w = Window.partitionBy("user_id")
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    e = e.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    )
    e = e.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    e = e.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    pu = e.groupBy("user_id").agg(F.max("t3").alias("t3"))
    return pu.agg(
        F.count(F.lit(1)).alias("n_users"), F.count("t3").alias("n_matched")
    )


@query(
    "agg_histogram",
    oracle="""
    WITH s AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
               FROM orders),
    b AS (SELECT CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 10)), 9)
                      AS INT) AS bin,
                 mn, (mx - mn) / 10 AS w
          FROM orders, s)
    SELECT bin, ROUND(max(mn) + bin * max(w), 2) AS lo,
           ROUND(max(mn) + (bin + 1) * max(w), 2) AS hi, COUNT(*) AS n
    FROM b GROUP BY bin ORDER BY bin
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram(10): fixed-width bins over the global [min, max] price range.

    Two-pass plan that survives scale: a 1-row global min/max aggregate is
    broadcast onto the scan (no single-partition window over raw rows), then
    an ordinary partial+final count per bin. Bin edges use identical IEEE op
    order in both engines; edges rounded at 2dp for the hash.
    """
    o = table(spark, sf_dir, "orders").select("o_totalprice")
    s = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    b = (
        o.crossJoin(F.broadcast(s))
        .withColumn("w", (F.col("mx") - F.col("mn")) / 10)
        .withColumn(
            "bin",
            F.least(
                F.floor((F.col("o_totalprice") - F.col("mn")) / F.col("w")),
                F.lit(9),
            ).cast("int"),
        )
    )
    return (
        b.groupBy("bin")
        .agg(
            F.round(F.max("mn") + F.col("bin") * F.max("w"), 2).alias("lo"),
            F.round(F.max("mn") + (F.col("bin") + 1) * F.max("w"), 2).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("bin")
    )


@query(
    "agg_freq_items",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    HAVING COUNT(*) > 0.1 * (SELECT COUNT(*) FROM events)
    ORDER BY event_type
    """,
)
def agg_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approxTopK/topK: heavy hitters above 10% support.

    Scale path: `df.stat.freqItems` (a single-pass Karp/Misra-Gries-style
    sketch) returns <= 1/support candidates — a bounded driver-side list that
    is guaranteed a SUPERSET of every item above support. An exact count
    rescan restricted to the candidates then makes the result deterministic
    (= the exact frequent set), so the sketch is hash-checkable against a
    plain SQL oracle. The post-agg `total` window runs over |distinct types|
    rows, not raw events.
    """
    e = table(spark, sf_dir, "events").select("event_type")
    [row] = e.stat.freqItems(["event_type"], support=0.1).collect()
    candidates = list(row["event_type_freqItems"])
    counts = (
        e.filter(F.col("event_type").isin(candidates))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = (
        table(spark, sf_dir, "events")
        .agg(F.count(F.lit(1)).alias("total"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n") > 0.1 * F.col("total"))
        .select("event_type", "n")
        .orderBy("event_type")
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           CAST(quantile_cont(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT),
                              0.5) * 2 AS BIGINT) AS p50_x2_cents,
           abs(approx_quantile(l_extendedprice, 0.5)
               - quantile_cont(l_extendedprice, 0.5))
             <= 0.05 * quantile_cont(l_extendedprice, 0.5) AS p50_within_5pct,
           abs(approx_quantile(l_extendedprice, 0.9)
               - quantile_cont(l_extendedprice, 0.9))
             <= 0.05 * quantile_cont(l_extendedprice, 0.9) AS p90_within_5pct
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantileTDigest analog: mergeable approximate quantile sketch.

    Hash-checked contract (same pattern as `agg_approx_distinct`): both
    engines emit an EXACT median anchor plus booleans asserting their own
    sketch lands within 5% of their own exact quantile — the booleans agree
    as long as both sketches meet the envelope, without requiring
    sketch-for-sketch equality across engines.

    The anchor is integer-exact by construction: median over CENTS (prices
    carry <= 2dp) doubled — p=0.5 interpolation is `a + 0.5*(b-a)` on
    integer-valued doubles, exact half-integer arithmetic in IEEE754, so
    both engines produce the identical integer. A rounded float median is
    NOT safe: Spark's shortest-repr HALF_UP round and DuckDB's binary round
    split on .5-cent boundaries (observed at sf0.001).

    At 100 TB only the sketch path survives (exact percentile needs a full
    sort); `approx_percentile` partial-aggregates and merges per partition.
    """
    li = table(spark, sf_dir, "lineitem")
    cents = "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
    exact50 = F.expr("percentile(l_extendedprice, 0.5)")
    exact90 = F.expr("percentile(l_extendedprice, 0.9)")
    appr50 = F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
    appr90 = F.expr("approx_percentile(l_extendedprice, 0.9, 10000)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(f"CAST(percentile({cents}, 0.5) * 2 AS BIGINT)").alias(
                "p50_x2_cents"
            ),
            (F.abs(appr50 - exact50) <= 0.05 * exact50).alias("p50_within_5pct"),
            (F.abs(appr90 - exact90) <= 0.05 * exact90).alias("p90_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "order_with_fill",
    oracle="""
    WITH bounds AS (SELECT CAST(min(ts) AS DATE) AS mn,
                           CAST(max(ts) AS DATE) AS mx FROM events),
    cal AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
            FROM bounds),
    base AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
             FROM events WHERE event_type = 'error' GROUP BY 1)
    SELECT CAST(CAST(cal.day AS DATE) AS VARCHAR) AS day, COALESCE(base.n, 0) AS n
    FROM cal LEFT JOIN base ON CAST(cal.day AS DATE) = base.day
    ORDER BY day
    """,
)
def order_with_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY day WITH FILL: dense daily error counts, gaps as 0.

    The calendar spine is generated from a 1-row min/max aggregate
    (`sequence` + `explode` — O(days) rows), then left-joins the grouped
    counts; the spine side is tiny so Spark broadcasts it.
    """
    e = table(spark, sf_dir, "events")
    base = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cal = e.agg(
        F.to_date(F.min("ts")).alias("mn"), F.to_date(F.max("ts")).alias("mx")
    ).select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    return (
        cal.join(base, "day", "left")
        .select(
            F.col("day").cast("string").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
        .orderBy("day")
    )


@query(
    "sample_hash",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    ORDER BY o_orderkey
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE clause analog: deterministic 2/16 hash sample on the key.

    Content-hash sampling (vs `TABLESAMPLE`) is reproducible across engines,
    partitionings, and reruns — the property a training-data pipeline needs
    for holdout splits. md5 (not xxhash64) because the bytes must agree with
    the oracle engine; use `fn_hash_fast` for the intra-Spark bucketing path.
    """
    o = table(spark, sf_dir, "orders")
    digest = F.md5(F.col("o_orderkey").cast("string").cast("binary"))
    return (
        o.filter(F.substring(digest, 1, 1).isin("0", "1"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT lang, doc_id, rn FROM (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents)
    WHERE rn <= 10 ORDER BY lang, rn
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample: 10 docs per language, chosen by
    key-hash order (uniform within stratum, stable across runs/engines).
    One shuffle on `lang`; per-stratum top-N short-circuits via the
    row_number filter.
    """
    d = table(spark, sf_dir, "documents").select("lang", "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .orderBy("lang", "rn")
    )


@query(
    "sequence_count",
    oracle="""
    WITH vc AS (
        SELECT user_id, event_id, event_type,
               COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS views_before
        FROM events WHERE event_type IN ('view', 'click')
    ),
    clicks AS (
        SELECT user_id, views_before,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS r
        FROM vc WHERE event_type = 'click'
    )
    SELECT user_id,
           CAST(COUNT(*) - GREATEST(0, MAX(r - views_before)) AS BIGINT)
             AS seq_count
    FROM clicks GROUP BY user_id ORDER BY user_id
    """,
)
def sequence_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH ``sequenceCount('(?1)(?2)')(ts, view, click)``: non-overlapping
    view→click matchings per user (each view consumed by at most one later
    click).

    Closed form instead of a sequential scan: with clicks in time order,
    the maximum matching is ``C − max(0, max_r(r − views_before_r))`` —
    König/Hall on this prefix-structured bipartite graph, where any click
    prefix of size r can match at most views_before_r views (verified
    against the sequential greedy scan in tests/test_properties.py). Two
    windows + one aggregate over a single user_id exchange — no per-row
    Python, no iteration, scales as one shuffle.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    w_time = Window.partitionBy("user_id").orderBy("event_id")
    vb = F.coalesce(
        F.sum(F.when(F.col("event_type") == "view", 1)).over(
            w_time.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    vc = e.select("user_id", "event_id", "event_type", vb.alias("views_before"))
    clicks = vc.filter(F.col("event_type") == "click").withColumn(
        "r", F.row_number().over(Window.partitionBy("user_id").orderBy("event_id"))
    )
    return (
        clicks.groupBy("user_id")
        .agg(
            (
                F.count(F.lit(1))
                - F.greatest(F.lit(0), F.max(F.col("r") - F.col("views_before")))
            )
            .cast("long")
            .alias("seq_count")
        )
        .orderBy("user_id")
    )


@query(
    "agg_max_intersections",
    oracle="""
    WITH iv AS (
        SELECT event_type, ts,
               ts + GREATEST(CAST(FLOOR(value) AS BIGINT), 1)
                    * INTERVAL 1 SECOND AS te
        FROM events
    ),
    pts AS (
        SELECT event_type, ts AS t, 1 AS d FROM iv
        UNION ALL
        SELECT event_type, te AS t, -1 AS d FROM iv
    ),
    run AS (
        SELECT event_type, t, d,
               SUM(d) OVER (PARTITION BY event_type ORDER BY t, d) AS conc
        FROM pts
    ),
    mx AS (
        SELECT *, MAX(conc) OVER (PARTITION BY event_type) AS m FROM run
    )
    SELECT event_type,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent,
           MIN(t) AS ts_at_max
    FROM mx WHERE conc = m
    GROUP BY event_type ORDER BY event_type
    """,
)
def agg_max_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``maxIntersections`` / ``maxIntersectionsPosition``: the
    maximum number of concurrently-open intervals per event_type (each event
    spans [ts, ts + floor(value) seconds), ends exclusive) and the first
    instant that maximum is reached — the concurrency / peak-load aggregate.

    Sweep-line as a window plan: every interval contributes a +1 at its
    start and a −1 at its end; the running sum ordered by (t, d) is the
    live-interval count. Ordering d = −1 before +1 at equal t makes ends
    exclusive, and the default RANGE frame (peers included) makes the count
    at duplicate timestamps well-defined identically in both engines.

    Scale shape: one shuffle on event_type (both windows and the final
    groupBy reuse the same hash exchange); the union doubles rows before
    the exchange but carries only (type, t, ±1). At 100 TB the partition
    key would include a coarse time bucket (day) with per-bucket carry-in
    counts — the standard distributed sweep-line split.
    """
    iv = table(spark, sf_dir, "events").selectExpr(
        "event_type",
        "ts",
        "timestampadd(SECOND, GREATEST(CAST(FLOOR(value) AS BIGINT), 1L), ts)"
        " AS te",
    )
    pts = iv.selectExpr("event_type", "ts AS t", "1 AS d").unionByName(
        iv.selectExpr("event_type", "te AS t", "-1 AS d")
    )
    w = Window.partitionBy("event_type").orderBy("t", "d")
    run = pts.withColumn("conc", F.sum("d").over(w))
    mx = run.withColumn(
        "m", F.max("conc").over(Window.partitionBy("event_type"))
    )
    return (
        mx.filter(F.col("conc") == F.col("m"))
        .groupBy("event_type")
        .agg(
            F.max("conc").cast("bigint").alias("max_concurrent"),
            F.min("t").alias("ts_at_max"),
        )
        .orderBy("event_type")
    )


@query(
    "funnel_window_strict",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    anch AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'view' THEN rn END)
                 OVER (PARTITION BY user_id) AS a,
               MIN(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS t1
        FROM seq
    ),
    pu AS (
        SELECT user_id,
               MAX(CASE WHEN rn = a + 1 AND event_type = 'click'
                         AND ts <= t1 + INTERVAL 24 HOUR
                        THEN 1 ELSE 0 END) AS s2,
               MAX(CASE WHEN rn = a + 2 AND event_type = 'purchase'
                         AND ts <= t1 + INTERVAL 24 HOUR
                        THEN 1 ELSE 0 END) AS s3,
               MAX(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) AS s1
        FROM anch GROUP BY user_id
    )
    SELECT CAST(s1 + s1 * s2 + s1 * s2 * s3 AS INT) AS level,
           COUNT(*) AS n_users
    FROM pu GROUP BY 1 ORDER BY 1
    """,
)
def funnel_window_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel 'strict_order' mode: the chain anchored at each user's
    first view advances ONLY through consecutive events — any interleaved
    event of a different type breaks it (CH's strict_order contract, where
    the plain mode merely searches forward). Consecutive = adjacent in the
    per-user (ts, event_id) row numbering, so the whole mode reduces to
    rn-offset equality tests instead of interleaving scans.

    Plan: one ROW_NUMBER + two conditional-min windows over the SAME
    user_id hash exchange (reused by the groupBy), exactly the
    `funnel_window` shape plus the row numbering — strictness costs one
    sort within the existing partition, no extra shuffle.
    """
    w = Window.partitionBy("user_id")
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id")
    day = F.expr("INTERVAL 24 HOURS")
    e = (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type", "event_id")
        .withColumn("rn", F.row_number().over(ws))
        .withColumn(
            "a",
            F.min(F.when(F.col("event_type") == "view", F.col("rn"))).over(w),
        )
        .withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
    )
    pu = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("rn") == F.col("a") + 1)
                & (F.col("event_type") == "click")
                & (F.col("ts") <= F.col("t1") + day),
                1,
            ).otherwise(0)
        ).alias("s2"),
        F.max(
            F.when(
                (F.col("rn") == F.col("a") + 2)
                & (F.col("event_type") == "purchase")
                & (F.col("ts") <= F.col("t1") + day),
                1,
            ).otherwise(0)
        ).alias("s3"),
        F.max(F.when(F.col("a").isNotNull(), 1).otherwise(0)).alias("s1"),
    )
    level = (
        F.col("s1") + F.col("s1") * F.col("s2")
        + F.col("s1") * F.col("s2") * F.col("s3")
    ).cast("int")
    return (
        pu.select(level.alias("level"))
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("level")
    )


@query(
    "agg_linreg",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS syy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s ORDER BY l_returnflag
    """,
)
def agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH ``simpleLinearRegression(x, y)`` (+ r² diagnostic): least-squares
    fit of extendedprice on quantity per return flag, from raw power sums.

    Not the builtin `regr_slope`/`regr_intercept` — those stream centered
    co-moments whose float merge order differs across engines AND across
    partition counts (the sf0.1 drift trap). Inputs have ≤2 decimal digits,
    so Σx, Σy, Σx², Σy², Σxy are EXACT as DECIMAL sums in any aggregation
    order; the closed-form slope/intercept/r² algebra then runs in identical
    IEEE754 doubles on both engines. One partial+final hash aggregate over
    5 mergeable sums — the same state a streaming/MV variant keeps; at
    100 TB this is a pure map-side-combine scan, |groups| rows out.
    """
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = num / den
    return s.select(
        "l_returnflag",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(num * num / (den * (n * syy - sy * sy)), 6).alias("r2"),
    ).orderBy("l_returnflag")


@query(
    "sessionize_gap",
    oracle="""
    WITH e AS (
        -- FLOOR(epoch) per endpoint: Spark's unix_timestamp truncates to
        -- whole seconds; DuckDB's epoch() keeps the fraction, and flooring
        -- the DIFFERENCE instead of the endpoints is off by one around
        -- sub-second remainders.
        SELECT user_id, event_id, ts,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, ts, es,
               CASE WHEN es - LAG(es) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                         OR LAG(es) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
    ),
    sess AS (
        SELECT user_id, event_id, es,
               SUM(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(es) - MIN(es) AS BIGINT) AS dur_sec
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap): the lag-mark-cumsum
    classic — new session when the gap to the previous event exceeds 1800s,
    session id = running count of session starts. The batch twin of
    `stream_session` (which uses Spark's native session window on the same
    gap), so the two surfaces can be cross-checked.

    ONE user_id exchange serves both windows AND the final groupBy (same
    partition key throughout — Spark reuses the hash exchange; the plan has
    exactly one shuffle). Ties (equal ts) break on event_id, so the cumsum
    is deterministic. At 100 TB this is the canonical per-entity timeline
    pass: everything after the single shuffle is sorted-run local.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap > 1800, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = marked.withColumn("session_id", F.sum("new_sess").over(w))
    return (
        sess.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .cast("bigint")
            .alias("dur_sec"),
        )
        .orderBy("user_id", "session_id")
    )


# Query pattern for ts_subsequence_match: a V-shape (down-then-up), already
# z-normalized offline (mean 0, population std 1, 8 points) so the per-window
# work is one fold against constants. Any pattern works; the V is chosen to
# be orthogonal to the trivial monotone trends synthetic data is full of.
_TS_PATTERN_RAW = [3.0, 2.0, 1.0, 0.0, 0.0, 1.0, 2.0, 3.0]
_TS_M = len(_TS_PATTERN_RAW)
_TS_MEAN = sum(_TS_PATTERN_RAW) / _TS_M
_TS_STD = (sum((x - _TS_MEAN) ** 2 for x in _TS_PATTERN_RAW) / _TS_M) ** 0.5
_TS_PATTERN_Z = [round((x - _TS_MEAN) / _TS_STD, 12) for x in _TS_PATTERN_RAW]


def ts_distances(ev: DataFrame) -> DataFrame:
    """All (user_id, event_id, dist) window scores — the full result the
    top-5 key truncates; shared with the streaming twin's equivalence test
    (tests/test_streaming_ts.py), so batch and stateful-streaming paths are
    pinned to one definition."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-(_TS_M - 1), 0)
    )
    win = ev.select(
        "user_id",
        "event_id",
        F.collect_list(F.col("value").cast("double")).over(w).alias("win"),
    ).filter(F.size("win") == _TS_M)
    mu = (
        F.aggregate("win", F.lit(0.0), lambda a, x: a + x) / _TS_M
    ).alias("mu")
    sized = win.select("user_id", "event_id", "win", mu)
    sigma = F.sqrt(
        F.aggregate(
            "win", F.lit(0.0),
            lambda a, x: a + (x - F.col("mu")) * (x - F.col("mu")),
        )
        / _TS_M
    ).alias("sigma")
    stats = sized.select("user_id", "event_id", "win", "mu", sigma).filter(
        F.col("sigma") > 1e-9
    )
    pat = F.array(*[F.lit(p) for p in _TS_PATTERN_Z])
    dist = F.round(
        F.aggregate(
            F.zip_with(
                "win", pat, lambda x, q: ((x - F.col("mu")) / F.col("sigma") - q)
                * ((x - F.col("mu")) / F.col("sigma") - q)
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    ).alias("dist")
    return stats.select("user_id", "event_id", dist)


@query(
    "ts_subsequence_match",
    oracle=f"""
    WITH w AS (
        SELECT user_id, event_id,
               list(CAST(value AS DOUBLE)) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN {_TS_M - 1} PRECEDING AND CURRENT ROW) AS win
        FROM events
    ), sized AS (
        SELECT user_id, event_id, win,
               list_sum(win) / {_TS_M} AS mu
        FROM w WHERE len(win) = {_TS_M}
    ), stats AS (
        SELECT user_id, event_id, win, mu,
               sqrt(list_sum(list_transform(win, x -> (x - mu) * (x - mu)))
                    / {_TS_M}) AS sigma
        FROM sized
    ), dists AS (
        SELECT user_id, event_id,
               round(list_sum(list_transform(
                   generate_series(1, {_TS_M}),
                   i -> ((win[i] - mu) / sigma - ([{', '.join(str(p) for p in _TS_PATTERN_Z)}])[i])
                        * ((win[i] - mu) / sigma - ([{', '.join(str(p) for p in _TS_PATTERN_Z)}])[i]))), 6) AS dist
        FROM stats WHERE sigma > 1e-9
    )
    SELECT user_id, event_id, dist
    FROM dists ORDER BY dist, user_id, event_id LIMIT 5
    """,
)
def ts_subsequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (MASS/UCR-style semantics,
    z-normalized Euclidean): slide an 8-point window over each user's value
    series, z-normalize the window, score it against a fixed z-normalized
    query pattern, return the top-5 best-matching (user, position) pairs.

    Spark shape: ONE user_id exchange feeds the sliding collect_list window
    (frame = 7 PRECEDING..CURRENT, exactly the per-entity timeline pass),
    then the distance is a constants-folded JVM expression — no Python, no
    second shuffle; the global top-5 is TakeOrderedAndProject. At 100 TB
    this scales as the sessionize pass does: per-user sorted runs after one
    hash exchange. Zero-variance windows (σ≈0) are filtered — they have no
    z-normal form, same convention as the UCR suite.

    Determinism: both engines fold the window array left-to-right over the
    same frame order, so means/σ/distances are IEEE-identical pre-round;
    round(6dp) + (dist, user_id, event_id) total order pins the top-5.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ts_distances(ev)
        .orderBy("dist", "user_id", "event_id")
        .limit(5)
    )
