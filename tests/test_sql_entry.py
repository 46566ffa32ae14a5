"""EP-3 SQL entry path + physical layout (partitioning) checks."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from canal_clickhouse_spark.catalog import sql, table


def test_sql_entry_matches_dataframe_api(spark, sf_dir):
    """The same query through spark.sql and the DataFrame API — one Catalyst
    path, identical results."""
    via_sql = sql(
        spark,
        sf_dir,
        """
        SELECT n_name, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """,
    )
    via_df = (
        table(spark, sf_dir, "customer")
        .join(table(spark, sf_dir, "nation"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("c_acctbal"), 2).alias("bal"))
    )
    assert sorted(map(tuple, via_sql.collect())) == sorted(map(tuple, via_df.collect()))


def test_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """The MergeTree-layout analog actually prunes: a partition-key predicate
    must reach the scan as a PartitionFilter, not a row filter."""
    import contextlib
    import io

    out = str(tmp_path / "events_by_type")
    ev = table(spark, sf_dir, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)

    q = spark.read.parquet(out).filter(F.col("event_type") == "click")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert q.count() == ev.filter("event_type = 'click'").count()


def test_chsql_translate_units():
    """Paren-aware CH→Spark rewrites: nested calls, literals containing
    commas/parens/quotes, swapped-argument functions, variadic multiIf,
    unknown functions untouched."""
    from canal_clickhouse_spark.chsql import translate

    cases = {
        "countIf(a = 'x,(y')": "count_if(a = 'x,(y')",
        "position(text, 'model')": "locate('model', text)",
        "splitByChar(' ', text)": "split(text, ' ')",
        "arraySum(arrayMap(x -> 1.0, splitByChar(' ', t)))":
            "aggregate(transform(split(t, ' '), x -> 1.0), 0D,"
            " (acc, x) -> acc + x)",
        # bare-identifier conditions take the truthiness cast (r10: a
        # UInt8 flag column is the CH norm; no-op for boolean columns)
        "multiIf(a, 1, b, 2, 3)":
            "CASE WHEN CAST((a) AS BOOLEAN) THEN 1"
            " WHEN CAST((b) AS BOOLEAN) THEN 2 ELSE 3 END",
        "toStartOfMonth(d)": "CAST(date_trunc('month', d) AS DATE)",
        "sumIf(x, y > position(s, 'a'))": "sum(IF(y > locate('a', s), x, NULL))",
        "SELECT unknownFn(a, b) FROM t": "SELECT unknownFn(a, b) FROM t",
        "argMax(k, v)": "max_by(k, v)",
        "uniqExact(u)": "count(DISTINCT u)",
        "empty(s) OR notEmpty(t)": "(length(s) = 0) OR (length(t) > 0)",
        "intDiv(a, modulo(b, 7))":
            "(CAST(a AS BIGINT) div CAST(((b) % (7)) AS BIGINT))",
        "'toYear(untouched literal)'": "'toYear(untouched literal)'",
    }
    for src, want in cases.items():
        assert translate(src) == want, (src, translate(src))


def test_chsql_runs_on_spark(spark, sf_dir):
    """A CH-dialect query executes end-to-end through the translator and
    returns the same rows as the native-Spark formulation."""
    from pyspark.sql import functions as F
    from canal_clickhouse_spark.chsql import ch_sql
    from canal_clickhouse_spark.catalog import table

    got = {
        (r.lang, r.n)
        for r in ch_sql(
            spark, sf_dir,
            "SELECT lang, uniqExact(doc_id) AS n FROM documents GROUP BY lang",
        ).collect()
    }
    want = {
        (r.lang, r.n)
        for r in table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    assert got == want


def test_chsql_clause_rewrites():
    """Clause-level translation: FINAL → versioned-window collapse, SAMPLE →
    deterministic key-hash cut, LIMIT n BY k → per-group ROW_NUMBER head,
    empty() on a catalog-known array column → size()."""
    from canal_clickhouse_spark.chsql import translate

    t = translate("SELECT a FROM orders SAMPLE 0.1")
    assert "(o_orderkey * 2654435761) % 4294967296" in t and "< 429496729" in t
    assert t.endswith(" orders")

    t = translate("SELECT a FROM cdc_changes FINAL")
    assert "ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC)" in t
    assert "op <> 'DELETE'" in t and t.endswith(" cdc_changes")

    t = translate("SELECT a, b FROM orders ORDER BY b DESC LIMIT 3 BY a LIMIT 7")
    assert "PARTITION BY a ORDER BY b DESC" in t
    assert "_rn <= 3" in t and t.endswith("LIMIT 7")

    # FINAL composes with SAMPLE: sampling cuts whole keys, then collapses.
    t = translate("SELECT a FROM cdc_changes FINAL SAMPLE 0.25")
    assert "2654435761" in t and "ROW_NUMBER()" in t

    # Fixture-catalog type lookup: bare array COLUMN now resolves to size().
    assert translate("empty(embedding)") == "(size(embedding) = 0)"
    assert translate("notEmpty(e.embedding)") == "(size(e.embedding) > 0)"
    assert translate("empty(text)") == "(length(text) = 0)"
    # CH zero-arg count()
    assert translate("count()") == "count(*)"

    # PREWHERE merges into WHERE as a conjunction (or becomes WHERE alone).
    t = translate("SELECT a FROM orders PREWHERE x = 1 WHERE y > 2 GROUP BY a")
    assert "WHERE (x = 1) AND (y > 2)" in t and "PREWHERE" not in t
    t = translate("SELECT a FROM orders PREWHERE x = 1 ORDER BY a")
    assert "WHERE x = 1" in t and "PREWHERE" not in t

    # ARRAY JOIN → LATERAL VIEW explode; LEFT keeps empty arrays (outer);
    # the array expression still goes through the fn rewriter afterwards.
    t = translate("SELECT doc_id, tok FROM documents ARRAY JOIN splitByChar(' ', text) AS tok")
    assert "LATERAL VIEW explode(split(text, ' ')) _aj AS tok" in t
    t = translate("SELECT v FROM embeddings LEFT ARRAY JOIN embedding AS v")
    assert "LATERAL VIEW explode_outer(embedding) _aj AS v" in t

    # GLOBAL JOIN strips: Spark owns the broadcast/shuffle decision.
    t = translate("SELECT a FROM orders GLOBAL LEFT JOIN customer ON x = y")
    assert "GLOBAL" not in t and "LEFT JOIN customer" in t

    # Parameterized aggregates: CH fn(params)(args) double-call syntax.
    assert translate("quantile(0.9)(x)") == "percentile(x, 0.9)"
    assert translate("quantiles(0.5, 0.9)(x)") == "percentile(x, array(0.5, 0.9))"
    assert translate("quantileTDigest(0.95)(v)") == "percentile(v, 0.95)"
    assert translate("quantile(x)") == "percentile(x, 0.5)"  # CH median default

    # Bracket array literals become array(); subscripts stay subscripts.
    assert translate("arraySum([1, 2, 3])") == \
        "aggregate(array(1, 2, 3), 0D, (acc, x) -> acc + x)"
    # r7: subscripts convert to try_element_at — CH indexing is 1-based
    # while Spark's bare [] is 0-based (the old passthrough pinned here
    # was an off-by-one: CH's [4][1] is 4, Spark's array(4)[1] was NULL)
    assert translate("arr[1] + [4][1]") == \
        "try_element_at(arr, 1) + try_element_at(array(4), 1)"

    # Round-3 rename/special batch.
    # r8: indexOf became NULL-SAFE (CH finds NULL elements; plain
    # array_position returned NULL for a NULL needle) — see
    # test_chsql_doc_example_pins for the value pins
    assert "array_position" in translate("indexOf(arr, 3)")
    assert "<=>" in translate("indexOf(arr, 3)")
    # the BOOLEAN cast is the CH-truthiness wrapper (r10) — a no-op for
    # boolean bodies, the nonzero rule for integer ones
    assert translate("arrayCount(x -> x > 2, arr)") == \
        "size(filter(arr, x -> CAST((x > 2) AS BOOLEAN)))"
    # r9: try_element_at so an empty match set is NULL, not an ANSI
    # index error (see test_chsql_qualify_and_array_batch value pins)
    assert translate("arrayFirst(x -> x > 2, arr)") == \
        "try_element_at(filter(arr, x -> CAST((x > 2) AS BOOLEAN)), 1)"
    assert translate("arrayUniq(arr)") == "size(array_distinct(arr))"
    assert translate("arrayEnumerate(arr)") == "sequence(1, size(arr))"
    assert translate("yesterday()") == "date_sub(current_date(), 1)"
    assert translate("JSONExtractString(props, 'device')") == \
        "get_json_object(props, '$.device')"
    assert translate("JSONExtractInt(props, k)") == \
        "CAST(get_json_object(props, concat('$.', k)) AS BIGINT)"
    assert translate("replaceRegexpAll(s, 'a+', 'b')") == \
        "regexp_replace(s, 'a+', 'b')"
    assert translate("median(x)") == "percentile(x, 0.5)"
    assert translate("uniqUpTo(5)(device)") == "LEAST(count(DISTINCT device), 5 + 1)"
    # bare-identifier conditions carry the r10 truthiness cast (UInt8
    # flags are the CH norm; no-op for booleans)
    assert translate("anyIf(x, c)") == \
        "any_value(IF(CAST((c) AS BOOLEAN), x, NULL), true)"
    assert translate("groupArrayArray(arr)") == "flatten(collect_list(arr))"
    assert translate("dateDiff('day', a, b)") == (
        "timestampdiff(DAY, date_trunc('DAY', a), date_trunc('DAY', b))"
    )
    # -If combinator family + weighted average
    assert translate("uniqExactIf(x, c)") == \
        "count(DISTINCT IF(CAST((c) AS BOOLEAN), x, NULL))"
    assert translate("argMaxIf(v, k, c)") == (
        "max_by(IF(CAST((c) AS BOOLEAN), v, NULL),"
        " IF(CAST((c) AS BOOLEAN), k, NULL))"
    )
    assert translate("medianIf(x, c)") == \
        "percentile(IF(CAST((c) AS BOOLEAN), x, NULL), 0.5)"
    assert translate("avgWeighted(x, w)") == "(sum((x) * (w)) / sum(w))"
    # date arithmetic + time buckets + hash-intent renames
    assert translate("addDays(ts, 3)") == "timestampadd(DAY, 3, ts)"
    assert translate("subtractHours(ts, 2)") == "timestampadd(HOUR, -(2), ts)"
    assert translate("toStartOfFifteenMinutes(ts)") == \
        "timestamp_seconds(unix_timestamp(ts) div 900 * 900)"
    assert translate("cityHash64(x)") == "xxhash64(x)"
    assert translate("toUnixTimestamp(ts)") == "unix_timestamp(ts)"


def test_chsql_all_clauses_compose(spark, sf_dir):
    """FINAL + SAMPLE + PREWHERE + parametric aggregate + LIMIT BY in ONE
    query (the README example, verbatim). Regression: LIMIT BY used to
    anchor on the FIRST `ORDER BY` in the text — which, after the FINAL
    rewrite injects its version window, sits inside a window spec — and
    swallowed the query from there."""
    from canal_clickhouse_spark.chsql import ch_sql

    out = ch_sql(
        spark,
        sf_dir,
        """
        SELECT o_custkey, argMax(o_orderstatus, o_orderkey) AS last_status,
               quantile(0.9)(o_totalprice) AS p90
        FROM cdc_changes FINAL SAMPLE 0.25
        PREWHERE o_orderpriority = '1-URGENT'
        GROUP BY o_custkey
        ORDER BY p90 DESC, o_custkey LIMIT 2 BY o_custkey LIMIT 10
        """,
    ).collect()
    assert 0 < len(out) <= 10
    assert all(r.last_status is not None for r in out)


def test_chsql_translated_spellings_execute(spark, sf_dir):
    """The round-3 spelling batch must EXECUTE on Spark, not just
    string-rewrite: run a query using each family through ch_sql."""
    from canal_clickhouse_spark.chsql import ch_sql

    out = ch_sql(
        spark,
        sf_dir,
        """
        SELECT event_type,
               toInt64(floor(median(value) * 100 + 0.5)) AS med_sc,
               uniqUpTo(3)(JSONExtractInt(props, 'k')) AS k_upto,
               stddevPop(value) > 0 AS has_spread,
               dateDiff('day', min(ts), max(ts)) >= 0 AS span_ok,
               min(toStartOfFifteenMinutes(ts)) <= min(ts) AS bucket_ok,
               uniqExact(cityHash64(user_id) % 8) <= 8 AS hash_ok,
               max(addDays(ts, 1)) > max(ts) AS addday_ok
        FROM events GROUP BY event_type
        """,
    ).collect()
    assert len(out) == 5
    assert all(r.k_upto <= 4 for r in out)
    assert all(r.has_spread and r.span_ok for r in out)


def test_chsql_round4_clause_rewrites():
    """Round-4 clause surface: WITH TOTALS → grouping sets, WITH FILL →
    spine join, ASOF JOIN → range join + rank, and the `final`-as-alias
    fix (a reserved-word alias on a version-less table no longer raises)."""
    import pytest

    from canal_clickhouse_spark.chsql import translate

    t = translate("SELECT a, count() AS n FROM orders GROUP BY a WITH TOTALS")
    assert "GROUP BY GROUPING SETS ((a), ())" in t and "TOTALS" not in t

    t = translate(
        "SELECT bucket, n FROM orders ORDER BY bucket WITH FILL FROM 0 TO 10 STEP 2"
    )
    assert "sequence(CAST(0 AS BIGINT), CAST(10 AS BIGINT), 2)" in t
    assert "bucket < 10" in t  # CH's TO bound is exclusive
    assert "FULL OUTER JOIN" in t and "COALESCE(_q.n, 0)" in t

    # No FROM/TO: spine bounds come from the query's own min/max.
    t = translate("SELECT day, n FROM orders ORDER BY day WITH FILL")
    assert "(SELECT MIN(day) FROM _q)" in t and "(SELECT MAX(day) FROM _q)" in t

    t = translate(
        "SELECT e.event_id, o.o_orderdate FROM events AS e ASOF JOIN orders AS o "
        "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate ORDER BY e.event_id"
    )
    assert "PARTITION BY e.event_id ORDER BY o.o_orderdate DESC" in t
    assert "_arn = 1" in t
    assert t.strip().startswith("SELECT event_id, o_orderdate")  # aliases stripped
    assert t.strip().endswith("ORDER BY event_id")

    # Forward asof (right >= left) orders ASC — earliest qualifying row.
    t = translate(
        "SELECT e.event_id FROM events AS e ASOF JOIN orders AS o "
        "ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts"
    )
    assert "ORDER BY o.o_orderdate ASC" in t

    # LEFT ASOF keeps unmatched left rows.
    t = translate(
        "SELECT e.event_id FROM events AS e ASOF LEFT JOIN orders AS o "
        "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate"
    )
    assert "LEFT JOIN orders o" in t

    # `final` as a row alias on a table WITHOUT version metadata is left
    # alone (ADVICE r3: was a ValueError); real FINAL still collapses, and
    # FINAL+SAMPLE on a version-less table is unambiguous → still an error.
    t = translate("SELECT final.o_orderkey FROM orders final")
    assert t.endswith("FROM orders final")
    with pytest.raises(ValueError, match="without version metadata"):
        translate("SELECT a FROM orders SAMPLE 0.5 FINAL")


def test_chsql_limit_ties_and_comma_offset():
    """`LIMIT n WITH TIES` → RANK window ≤ n; `LIMIT offset, count` comma
    form → LIMIT count OFFSET offset. Both trailing-position-only."""
    from canal_clickhouse_spark.chsql import translate

    t = translate("SELECT a, b FROM orders ORDER BY a LIMIT 5 WITH TIES")
    assert "RANK() OVER (ORDER BY a) AS _rk" in t
    assert "_rk <= 5" in t and "WITH TIES" not in t
    # r6 splice: presentation order rides the hidden _ob0 projection so the
    # ORDER key need not be among the projected columns.
    assert t.strip().endswith("ORDER BY _ob0")

    t = translate("SELECT a FROM orders ORDER BY a LIMIT 10, 5")
    assert t.strip().endswith("LIMIT 5 OFFSET 10")

    # Plain LIMIT is untouched; LIMIT BY still wins its own spelling.
    t = translate("SELECT a FROM orders ORDER BY a LIMIT 7")
    assert t.strip().endswith("LIMIT 7")
    t = translate("SELECT a, b FROM orders ORDER BY b DESC LIMIT 3 BY a")
    assert "PARTITION BY a ORDER BY b DESC" in t and "_rn <= 3" in t

    # Per-group offset form: LIMIT off, n BY cols skips off rows per group.
    t = translate("SELECT a, b FROM orders ORDER BY b DESC LIMIT 2, 3 BY a")
    assert "_rn > 2 AND _rn <= 5" in t


def test_chsql_late_r4_spellings(spark):
    """positionUtf8 (char-counting locate, CH's UTF8-variant contract),
    splitByRegexp (swapped args like splitByChar), toBase64/fromBase64
    (string-typed round-trip), halfMD5 (intent-preserving hash rename)."""
    from canal_clickhouse_spark.chsql import translate

    t = translate("SELECT positionUtf8(name, 'abc') FROM t")
    assert "locate('abc', name)" in t
    t = translate("SELECT splitByRegexp('[0-9]+', s) FROM t")
    assert "split(s, '[0-9]+')" in t
    t = translate("SELECT halfMD5(s) FROM t")
    assert "xxhash64(s)" in t

    row = spark.sql(
        translate("SELECT fromBase64(toBase64('cdc-sync')) AS rt")
    ).collect()[0]
    assert row.rt == "cdc-sync"


def test_chsql_setop_defaults():
    """CH bare INTERSECT/EXCEPT → explicit ALL; DISTINCT forms and the
    `* EXCEPT(cols)` star modifier are untouched."""
    from canal_clickhouse_spark.chsql import translate

    t = translate("SELECT a FROM t1 INTERSECT SELECT a FROM t2")
    assert "INTERSECT ALL" in t
    t = translate("SELECT a FROM t1 EXCEPT SELECT a FROM t2")
    assert "EXCEPT ALL" in t
    t = translate("SELECT a FROM t1 EXCEPT DISTINCT SELECT a FROM t2")
    assert "EXCEPT DISTINCT" in t and "EXCEPT ALL" not in t
    t = translate("SELECT * EXCEPT (o_custkey) FROM orders")
    assert "ALL" not in t  # star modifier is not a set op
    # Literal-awareness (r4 advice): the rewrite must never reach inside a
    # single-quoted string — this used to corrupt the literal to
    # 'a EXCEPT ALL SELECT b'.
    t = translate("SELECT 'a EXCEPT SELECT b' AS s FROM t1")
    assert "'a EXCEPT SELECT b'" in t and "EXCEPT ALL" not in t
    # ...while a real set op AROUND literals still rewrites.
    t = translate(
        "SELECT 'x INTERSECT SELECT y' FROM t1 EXCEPT SELECT 'z' FROM t2"
    )
    assert "EXCEPT ALL SELECT" in t and "'x INTERSECT SELECT y'" in t


def test_chsql_parametric_family(spark):
    """Widened fn(params)(args) surface: quantileExactWeighted → Spark's
    3-arg percentile, groupArray(n)(x) → capped collect_list (bare
    groupArray stays the plain rename), bare uniqUpTo gets its real
    default instead of the old percentile fallback, and the
    sketch/sequence parametrics raise a guided error naming the operator
    key that implements them."""
    import pytest

    from canal_clickhouse_spark.chsql import translate

    t = translate("SELECT quantileExactWeighted(0.5)(x, w) FROM t GROUP BY g")
    # Exact (non-interpolating) rank fold, NOT Spark's interpolating
    # percentile (r4 advice: even-split weights diverged).
    assert "sort_array(collect_list(" in t and "percentile(" not in t
    t = translate("SELECT groupArray(3)(x) FROM t GROUP BY g")
    assert "slice(collect_list(x), 1, 3)" in t
    t = translate("SELECT groupArray(x) FROM t GROUP BY g")
    assert "collect_list(x)" in t and "slice" not in t
    t = translate("SELECT uniqUpTo(x) FROM t")
    assert "LEAST(count(DISTINCT x), 5 + 1)" in t

    # topK translates inline since r7 (exact run-fold; agg_freq_items
    # remains the sketch-bounded scale path)
    t = translate("SELECT topK(5)(x) FROM t")
    assert "aggregate(" in t and "slice(array_sort(" in t
    for bad, hint in [("histogram(10)(x)", "agg_histogram"),
                      ("sequenceMatch('(?1)(?2)')(ts, a, b)", "sequence_match")]:
        with pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM t")

    # Executed semantics: weighted median over integral frequencies equals
    # the median of the frequency-expanded multiset (1,1,9,9,9 → 9).
    row = spark.sql(
        translate(
            "SELECT quantileExactWeighted(0.5)(x, w) AS wm FROM "
            "(SELECT 1 AS x, 2 AS w UNION ALL SELECT 9, 3)"
        )
    ).collect()[0]
    assert float(row.wm) == 9.0
    # The even-split case that exposed the old interpolating translation
    # (r4 advice): x∈{1,9}, w=1, p=0.5 — CH returns the ELEMENT 1 (first
    # value whose cumulative weight reaches p·total); interpolation gave 5.
    row = spark.sql(
        translate(
            "SELECT quantileExactWeighted(0.5)(x, w) AS wm FROM "
            "(SELECT 1 AS x, 1 AS w UNION ALL SELECT 9, 1)"
        )
    ).collect()[0]
    assert float(row.wm) == 1.0
    # p past the last cumulative step picks the maximum, never NULL.
    row = spark.sql(
        translate(
            "SELECT quantileExactWeighted(1.0)(x, w) AS wm FROM "
            "(SELECT 1 AS x, 1 AS w UNION ALL SELECT 9, 1)"
        )
    ).collect()[0]
    assert float(row.wm) == 9.0


def test_chsql_datediff_counts_crossed_boundaries(spark):
    """CH dateDiff semantics (ADVICE r3): 23:00 → next-day 01:00 crosses one
    day boundary even though <24h elapsed; same for hour/month units."""
    from canal_clickhouse_spark.chsql import translate

    q = translate(
        "SELECT dateDiff('day', timestamp'2024-01-01 23:00:00', "
        "timestamp'2024-01-02 01:00:00') AS d, "
        "dateDiff('hour', timestamp'2024-01-01 10:59:00', "
        "timestamp'2024-01-01 11:01:00') AS h, "
        "dateDiff('month', timestamp'2024-01-31 12:00:00', "
        "timestamp'2024-02-01 00:00:00') AS m"
    )
    row = spark.sql(q).collect()[0]
    assert (row["d"], row["h"], row["m"]) == (1, 1, 1)


def test_chsql_r4_spelling_pack_executes(spark, sf_dir):
    """Round-4 spelling additions not already value-pinned by the
    chsql_strings_urls / chsql_datetime_fmt oracle keys must still
    EXECUTE with the right values on literals."""
    from canal_clickhouse_spark.chsql import ch_sql, translate

    row = ch_sql(
        spark,
        sf_dir,
        """
        SELECT trimBoth('  x  ') AS t,
               base64Decode(base64Encode('hi')) AS rt,
               splitByString('::', 'a::b::c') AS parts,
               hasAll(['a', 'b', 'c'], ['b', 'c']) AS all_bc,
               hasAll(['a'], ['b']) AS all_miss,
               extractAll('a1b22c333', '[0-9]+') AS nums,
               isNull(NULL) AS n1,
               isNotNull(1) AS n2,
               moduloOrZero(7, 0) AS mz,
               bitNot(0) AS bn,
               protocol('ftp://h/x') AS proto,
               toStartOfMinute(toDateTime('2024-03-05 10:11:42')) AS mn,
               roundBankers(2.5, 0) AS rb,
               concatWithSeparator('-', 'a', 'b') AS cw
        FROM events LIMIT 1
        """,
    ).collect()[0]
    assert row.t == "x" and row.rt == "hi"
    assert list(row.parts) == ["a", "b", "c"]
    assert row.all_bc and not row.all_miss
    assert list(row.nums) == ["1", "22", "333"]
    assert row.n1 and row.n2 and row.mz == 0 and row.bn == -1
    assert row.proto == "ftp" and row.rb == 2.0 and row.cw == "a-b"
    assert str(row.mn).startswith("2024-03-05 10:11:00")

    # formatDateTime: stable codes translate; %M is rejected loudly
    # (meaning flipped across CH versions), as is a non-literal format.
    assert "date_format" in translate(
        "SELECT formatDateTime(ts, '%F %T') FROM events"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="%M"):
        translate("SELECT formatDateTime(ts, '%M') FROM events")
    with _pytest.raises(ValueError, match="literal"):
        translate("SELECT formatDateTime(ts, fmt_col) FROM events")
    # r10: calendar units are MAPPED now (epoch-anchored buckets); only
    # sub-second units keep the refusal
    assert "add_months" in translate(
        "SELECT toStartOfInterval(ts, INTERVAL 2 MONTH) FROM events"
    )
    with _pytest.raises(ValueError, match="toStartOfInterval"):
        translate(
            "SELECT toStartOfInterval(ts, INTERVAL 5 MILLISECOND)"
            " FROM events"
        )


def test_chsql_star_modifiers_forms(spark, sf_dir):
    from canal_clickhouse_spark.chsql import ch_sql, translate

    # Bare EXCEPT (no parens) normalizes to Spark's native paren form.
    t = translate("SELECT * EXCEPT o_custkey FROM orders")
    assert "* EXCEPT(o_custkey)" in t
    # Parenthesized pure EXCEPT passes through untouched.
    t = translate("SELECT * EXCEPT (o_custkey, o_orderdate) FROM orders")
    assert "EXCEPT (o_custkey, o_orderdate)" in t

    # * APPLY(f) expands every column through f.
    row = ch_sql(
        spark, sf_dir,
        "SELECT * EXCEPT (o_orderstatus, o_orderpriority, o_orderdate)"
        " APPLY(max) FROM orders",
    ).collect()[0]
    assert set(row.asDict()) == {
        "max_o_orderkey", "max_o_custkey", "max_o_totalprice",
    }

    # COLUMNS with no APPLY selects the matching columns in schema order.
    df = ch_sql(spark, sf_dir, "SELECT COLUMNS('acctbal|name') FROM customer")
    assert df.columns == ["c_name", "c_acctbal"]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="single known FROM table"):
        translate("SELECT * REPLACE(1 AS x) FROM orders o JOIN customer c"
                  " ON o.o_custkey = c.c_custkey")
    with _pytest.raises(ValueError, match="matched no columns"):
        translate("SELECT COLUMNS('zzz') FROM orders")
    with _pytest.raises(ValueError, match="expr AS col"):
        translate("SELECT * REPLACE(o_orderkey) FROM orders")


def test_chsql_scalar_with_and_trailers(spark, sf_dir):
    from canal_clickhouse_spark.chsql import ch_sql, translate

    # Constant + scalar-subquery bindings substitute; CTEs pass through;
    # `AS ident` definitions and string literals are never rewritten.
    t = translate(
        "WITH 3 AS k, big AS (SELECT 1 AS x) "
        "SELECT k + 1 AS k, 'k is not touched' AS lit FROM big"
    )
    assert "WITH big AS" in t
    assert "(3) + 1 AS k" in t
    assert "'k is not touched'" in t

    rows = ch_sql(
        spark, sf_dir,
        """
        WITH 10 AS cutoff,
             (SELECT min(o_orderkey) FROM orders) AS mink
        SELECT toInt64(count()) AS n FROM orders
        WHERE o_orderkey < mink + cutoff
        SETTINGS max_threads = 4, join_use_nulls = 1
        """,
    ).collect()
    assert rows[0].n > 0

    # Chained scalar bindings (r4 advice): a later binding referencing an
    # earlier one must resolve before substitution — `j` used to inline
    # with a dangling `k`.
    t = translate("WITH 3 AS k, k + 1 AS j SELECT j FROM t")
    assert "((3) + 1)" in t and re.search(r"\bk\b", t) is None
    # the WITH list ends at the first top-level SELECT outside a literal,
    # backslash-escaped quotes included
    t = translate("WITH 'it\\'s SELECT time' AS msg SELECT msg")
    assert t == "SELECT ('it\\'s SELECT time')"
    rows = spark.sql(
        translate("WITH 3 AS k, k + 1 AS j SELECT j AS v")
    ).collect()
    assert rows[0].v == 4

    # Trailing SETTINGS/FORMAT strip; non-trailing identifiers survive.
    t = translate("SELECT count() FROM orders FORMAT JSONEachRow")
    assert "FORMAT" not in t
    t = translate("SELECT props AS settings FROM events LIMIT 1")
    assert "settings" in t


def test_lineitem_uniq_meta_is_row_unique(spark, sf_dir):
    """The ANY JOIN deterministic tiebreak relies on _TABLE_META['uniq']
    being genuinely row-unique; (l_orderkey, l_linenumber) is NOT in this
    fixture (unlike real TPC-H), which is why the meta carries 6 columns."""
    from canal_clickhouse_spark.catalog import table
    from canal_clickhouse_spark.chsql import _TABLE_META

    cols = [c.strip() for c in _TABLE_META["lineitem"]["uniq"].split(",")]
    li = table(spark, sf_dir, "lineitem")
    assert li.groupBy(*cols).count().filter("count > 1").count() == 0


def test_chsql_frame_window_and_now_spellings(spark, sf_dir):
    from canal_clickhouse_spark.chsql import ch_sql

    rows = ch_sql(
        spark, sf_dir,
        """
        SELECT user_id, event_id,
               leadInFrame(event_id) OVER wo AS nxt,
               lagInFrame(event_id) OVER wo AS prv,
               now64(3) > ts AS in_past
        FROM events WHERE user_id = 1
        WINDOW wo AS (PARTITION BY user_id ORDER BY event_id)
        ORDER BY event_id
        """,
    ).collect()
    assert len(rows) > 1
    assert rows[0].prv is None and rows[0].nxt == rows[1].event_id
    assert all(r.in_past for r in rows)


def test_chsql_dict_registry(spark, sf_dir):
    """dictGet registration surface: unknown dicts and non-literal names
    raise guided errors; a runtime-registered dictionary resolves."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import ch_sql, register_ch_dict, translate

    with _pytest.raises(ValueError, match="unknown dictionary"):
        translate("SELECT dictGet('nope', 'x', 1)")
    with _pytest.raises(ValueError, match="string literal"):
        translate("SELECT dictGet(dname, 'x', 1) FROM t")
    register_ch_dict("parts", "part", "p_partkey", {"p_name": "''"})
    rows = ch_sql(
        spark, sf_dir,
        "SELECT l_orderkey, dictGet('parts', 'p_name', l_partkey) AS pname "
        "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 5",
    ).collect()
    assert all(r.pname for r in rows)


def test_chsql_r5_final_batch(spark):
    """Final r5 spelling batch, executed: epoch-millis round-trip,
    arrayFold arg reorder, arrayReduce named aggregates, sumCount pair,
    and the guided errors for CH's deprecated block-scoped functions."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    row = spark.sql(
        translate(
            "SELECT toUnixTimestamp64Milli(fromUnixTimestamp64Milli(1700000000123)) AS rt, "
            "arrayFold((acc, x) -> acc + x, [1, 2, 3], 10) AS fold, "
            "arrayReduce('max', [3, 1, 2]) AS mx, "
            "arrayReduce('avg', [2.0, 4.0]) AS av"
        )
    ).collect()[0]
    assert row.rt == 1700000000123
    assert row.fold == 16
    assert row.mx == 3
    assert row.av == 3.0
    sc = spark.sql(
        translate(
            "SELECT sumCount(x) AS sc FROM (SELECT 2 AS x UNION ALL SELECT 3)"
        )
    ).collect()[0].sc
    assert (sc["sum"], sc["count"]) == (5, 2)
    # rand keeps the integer-modulo idiom in range (numbers() is CH's TVF;
    # bare range() in FROM is not valid CH — the scalar rewrite owns it)
    vals = spark.sql(
        translate("SELECT rand() % 10 AS r FROM numbers(20)")
    ).collect()
    assert len(vals) == 20 and all(0 <= v.r < 10 for v in vals)
    for bad, hint in [
        ("SELECT neighbor(x, 1) FROM t", "win_lag_lead"),
        ("SELECT runningDifference(x) FROM t", "win_lag_lead"),
        ("SELECT rowNumberInAllBlocks() FROM t", "win_row_number"),
    ]:
        with _pytest.raises(ValueError, match=hint):
            translate(bad)


def test_chsql_literal_mask_all_clause_rewrites():
    """r5 verdict item #1: EVERY clause rewrite must leave string literals
    containing clause keywords byte-identical (previously PREWHERE / WITH
    TOTALS / ARRAY JOIN corrupted them — the last into broken SQL). The
    sweep covers every keyword `_rewrite_clauses` dispatches on."""
    from canal_clickhouse_spark.chsql import translate

    probes = [
        "SELECT 'PREWHERE a' AS s FROM orders",
        "SELECT 'GROUP BY a WITH TOTALS' AS s FROM orders",
        "SELECT 'ARRAY JOIN arr' AS s FROM orders",
        "SELECT 'LEFT ARRAY JOIN arr AS x' AS s FROM orders",
        "SELECT 'a EXCEPT SELECT b' AS s FROM orders",
        "SELECT 'a INTERSECT SELECT b' AS s FROM orders",
        "SELECT 'FROM orders FINAL' AS s FROM orders",
        "SELECT 'FROM orders SAMPLE 0.1' AS s FROM orders",
        "SELECT 'ORDER BY x WITH FILL FROM 1 TO 5' AS s FROM orders",
        "SELECT 'GLOBAL JOIN t' AS s FROM orders",
        "SELECT 'FROM numbers(10)' AS s FROM orders",
        "SELECT 'SETTINGS max_threads = 4' AS s FROM orders",
        "SELECT 'tail FORMAT JSONEachRow' AS s FROM orders",
        "SELECT 'l ASOF JOIN r ON a = b AND c <= d' AS s FROM orders",
        "SELECT 'l ANY LEFT JOIN r ON a = b' AS s FROM orders",
        "SELECT 'ORDER BY a LIMIT 2 BY b' AS s FROM orders",
        "SELECT 'ORDER BY a LIMIT 2 WITH TIES' AS s FROM orders",
        "SELECT 'LIMIT 1, 2' AS s FROM orders",
        "SELECT '* EXCEPT (a)' AS s FROM orders",
        "SELECT 'COLUMNS(''x'')' AS s FROM orders",
    ]
    for p in probes:
        assert translate(p) == p, f"literal corrupted: {p!r} -> {translate(p)!r}"
    # Real clauses AROUND such literals still rewrite.
    t = translate(
        "SELECT count() AS c, 'PREWHERE kw' AS s FROM orders"
        " PREWHERE o_totalprice > 10 WHERE o_orderkey > 2 GROUP BY s"
    )
    assert "'PREWHERE kw'" in t and "WHERE (o_totalprice > 10) AND" in t
    t = translate(
        "SELECT 'WITH TOTALS' AS s, count() AS c FROM orders"
        " GROUP BY o_orderpriority WITH TOTALS"
    )
    assert "'WITH TOTALS'" in t and "GROUPING SETS ((o_orderpriority), ())" in t
    t = translate("SELECT 'ARRAY JOIN x' AS s FROM documents ARRAY JOIN"
                  " splitByChar(' ', text) AS tok")
    assert "'ARRAY JOIN x'" in t and "LATERAL VIEW explode(" in t


def test_chsql_median_family_and_unknown_parametric_guard():
    """r5 verdict item #2: median* aliases translate; ANY unmapped
    fn(params)(args) double-call raises the guided named-alternative error
    instead of leaking to a Spark parse error."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    assert "percentile(x, 0.5)" in translate("SELECT medianExact(x) FROM t")
    assert "percentile(x, 0.5)" in translate("SELECT medianTDigest(x) FROM t")
    assert "percentile(x, 0.5)" in translate("SELECT medianTiming(x) FROM t")
    assert "percentile(x, 0.9, w)" in translate(
        "SELECT quantileTimingWeighted(0.9)(x, w) FROM t"
    )
    # r10: quantileExactLow/High are element-PICKING now, not
    # interpolating (value pins in test_chsql_r10_exact_quantiles)
    assert "element_at(array_sort(collect_list(x))" in translate(
        "SELECT quantileExactLow(0.25)(x) FROM t"
    )
    # medianExactWeighted reuses the exact-rank fold at p=0.5
    t = translate("SELECT medianExactWeighted(x, w) FROM t")
    assert "sort_array(collect_list" in t and "0.5" in t
    # r8 probe 4: the plural impl family is now MAPPED, not guided
    assert "percentile(x, array(0.5, 0.9))" in translate(
        "SELECT quantilesTiming(0.5, 0.9)(x) FROM t"
    )
    assert "percentile(x, array(0.5), w)" in translate(
        "SELECT quantilesExactWeighted(0.5)(x, w) FROM t"
    )
    for bad in [
        "SELECT mysteryAgg(3)(x) FROM t",
    ]:
        with _pytest.raises(ValueError, match="not a recognized CH parametric"):
            translate(bad)
    # ...but known keywords before parens never false-positive, and normal
    # unknown single calls still pass through.
    assert translate("SELECT foo(x) FROM t WHERE a IN (1, 2)") == \
        "SELECT foo(x) FROM t WHERE a IN (1, 2)"


def test_chsql_subquery_clause_safety():
    """r6 self-probe fixes: clause rewrites are subquery-safe — PREWHERE
    capture clips at the enclosing paren (both with and without an outer
    WHERE), LIMIT BY/WITH TIES in a subquery raise loudly instead of
    scrambling the query, and ARRAY JOIN clips its body the same way."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    t = translate("SELECT * FROM (SELECT o_orderkey FROM orders"
                  " PREWHERE o_totalprice > 100) sub WHERE o_orderkey < 50")
    assert t == ("SELECT * FROM (SELECT o_orderkey FROM orders "
                 " WHERE o_totalprice > 100 ) sub WHERE o_orderkey < 50")
    # PREWHERE in subquery AND outer query both rewrite
    t = translate("SELECT * FROM (SELECT o_orderkey, o_totalprice FROM orders"
                  " PREWHERE o_totalprice > 10) s PREWHERE o_orderkey > 2")
    assert "PREWHERE" not in t and t.count("WHERE") == 2
    with _pytest.raises(ValueError, match="LIMIT ... BY inside a subquery"):
        translate("SELECT * FROM (SELECT o_orderkey FROM orders ORDER BY"
                  " o_totalprice LIMIT 2 BY o_orderpriority) x")
    # ...but a top-level LIMIT BY composed with FROM rewrites that inject
    # window-spec ORDER BYs (depth > 0 anchors) still rewrites fine — the
    # nested guard only fires when NO top-level anchor exists.
    t = translate("SELECT o_orderkey FROM orders SAMPLE 0.5 ORDER BY"
                  " o_totalprice LIMIT 2 BY o_orderpriority")
    assert "ROW_NUMBER() OVER (PARTITION BY o_orderpriority" in t
    # WITH TIES in a subquery can never match the $-anchored clause regex:
    # it passes through untouched (Spark raises its own parse error) rather
    # than corrupting surrounding text.
    t = translate("SELECT * FROM (SELECT o_orderkey FROM orders ORDER BY"
                  " o_totalprice LIMIT 2 WITH TIES) x")
    assert "WITH TIES) x" in t


def test_chsql_r6_gap_batches(spark):
    """r6 function-gap batches, value-pinned: names found by EXECUTING ~120
    common-CH-spelling probes on Spark (pass-through had let these die in
    the analyzer, or — worse for length(arr) — nothing flagged CH's
    array/string polymorphism)."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    def one(q):
        return tuple(spark.sql(translate(q)).collect()[0])

    assert one("SELECT plus(1,2), minus(5,2), multiply(3,4), divide(8,2),"
               " negate(3)") == (3, 3, 12, 4.0, -3)
    assert one("SELECT JSONHas('{\"k\":1}', 'k'), JSONLength('[1,2,3]'),"
               " JSONLength('{\"x\":1,\"y\":2}'),"
               " JSONExtractBool('{\"k\":true}', 'k')") == (True, 3, 2, True)
    assert one("SELECT arrayFirstIndex(x -> x > 1, [1,2,3]),"
               " arrayFirstIndex(x -> x > 9, [1,2])") == (2, 0)
    # hex(SHA256(x)) reproduces CH's uppercase digest of 'x'
    assert one("SELECT hex(SHA256('x'))")[0] == (
        "2D711642B726B04401627CA9FBAC32F5C8530FB1903CC4DB02258717921A4881"
    )
    assert one("SELECT transform(2, [1,2], ['a','b'], 'z'),"
               " transform(3, [1,2], ['a','b'], 'z'),"
               " transform(5, [1,2], [10,20]),"
               " transform([1,2], x -> x + 1)") == ("b", "z", 5, [2, 3])
    assert one("SELECT roundDown(7, [1,5,10]), roundDown(0, [1,5,10])") == (5, 1)
    assert one("SELECT extract('a1b22c', '\\\\d+'),"
               " extract('key=val', 'key=(\\\\w+)'),"
               " extract(YEAR FROM toDate('2020-03-04'))") == ("1", "val", 2020)
    assert one("SELECT length([1,2,3]), length(splitByChar(' ', 'a b')),"
               " length('abc')") == (3, 2, 3)
    assert one("SELECT toYYYYMM(toDate('2020-03-04')),"
               " toYYYYMMDD(toDate('2020-03-04')),"
               " toYYYYMMDDhhmmss(toDateTime('2020-03-04 05:06:07'))"
               ) == (202003, 20200304, 20200304050607)
    assert one("SELECT trunc(3.7), trunc(-3.7), truncate(3.789, 1)"
               ) == (3.0, -3.0, 3.7)
    assert one("SELECT arraySort(x -> -x, [1,3,2]), arraySort([3,1,2]),"
               " arrayReverseSort(x -> x, [1,3,2])"
               ) == ([3, 2, 1], [1, 2, 3], [3, 2, 1])
    assert one("SELECT arrayStringConcat(['a','b']),"
               " arrayStringConcat(['a','b'], '-'),"
               " arrayWithConstant(3, 'x'), emptyArrayInt64()"
               ) == ("ab", "a-b", ["x", "x", "x"], [])
    assert one("SELECT max2(1,2), min2(1,2), countMatches('a1b22', '\\\\d+'),"
               " toBool(1)") == (2, 1, 2, True)
    assert one("SELECT regexpExtract('a1b', '(\\\\d)'),"
               " regexpExtract('k=v', 'k=(\\\\w)', 1)") == ("1", "v")
    import datetime as _dt
    assert one("SELECT toTime(toDateTime('2020-03-04 05:06:07'))") == (
        _dt.datetime(1970, 1, 2, 5, 6, 7),
    )
    with _pytest.raises(ValueError, match="toISOWeek"):
        translate("SELECT toWeek(today())")
    with _pytest.raises(ValueError, match="from_json"):
        translate("SELECT JSONExtractArrayRaw('[1,2]')")
    # batch 3: URL surgery / readable formatting / date names / array scans
    assert one("SELECT topLevelDomain('http://a.example.com/x'),"
               " netloc('http://u:p@host:80/x'),"
               " firstSignificantSubdomain('http://a.example.com/x'),"
               " cutToFirstSignificantSubdomain('http://a.example.com/x')"
               ) == ("com", "u:p@host:80", "example", "example.com")
    assert one("SELECT cutQueryString('http://h/x?a=1#f'),"
               " cutFragment('http://h/x?a=1#f'),"
               " cutQueryStringAndFragment('http://h/x?a=1#f'),"
               " queryStringAndFragment('http://h/x?page=1#29390')"
               ) == ("http://h/x#f", "http://h/x?a=1", "http://h/x",
                     "page=1#29390")
    assert one("SELECT decodeURLComponent('a%20b'),"
               " encodeURLComponent('a b')") == ("a b", "a%20b")
    assert one("SELECT dateName('month', toDate('2020-03-04')),"
               " dateName('year', toDate('2020-03-04')),"
               " dateName('weekday', toDate('2020-03-04'))"
               ) == ("March", "2020", "Wednesday")
    assert one("SELECT timeDiff(toDateTime('2020-01-01 00:00:00'),"
               " toDateTime('2020-01-01 00:01:00')),"
               " toRelativeDayNum(toDate('1970-01-03'))") == (60, 2)
    assert one("SELECT addDate(toDate('2020-01-01'), INTERVAL 3 DAY),"
               " subDate(toDate('2020-01-01'), INTERVAL 1 DAY),"
               " addDate(toDate('2020-01-01'), 3)") == (
        _dt.date(2020, 1, 4), _dt.date(2019, 12, 31), _dt.date(2020, 1, 4))
    assert one("SELECT formatReadableSize(123456789),"
               " formatReadableSize(123), formatReadableQuantity(123456789),"
               " toDecimalString(3.14159, 2)"
               ) == ("117.74 MiB", "123.00 B", "123.46 million", "3.14")
    assert one("SELECT multiSearchAnyCaseInsensitive('ABC', ['b']),"
               " hasSubstr([1,2,3],[2,3]), hasSubstr([1,2,3],[3,2]),"
               " hasSubstr([1,2],[])") == (True, True, False, True)
    assert one("SELECT arrayLast(x -> x > 1, [1,2,3]),"
               " arrayLastIndex(x -> x > 1, [1,2,3]),"
               " arrayLastIndex(x -> x > 9, [1,2]),"
               " arrayPartialSort(2, [3,1,2]),"
               " arrayEnumerateUniq([10,10,20,10])"
               ) == (3, 3, 0, [1, 2, 3], [1, 2, 1, 3])
    assert one("SELECT arrayFill(x -> x > 0, [1,0,2,0]),"
               " arrayFill(x -> x > 0, [0,0,1,0]),"
               " arrayReverseFill(x -> x > 0, [1,0,2])"
               ) == ([1, 1, 2, 2], [0, 0, 1, 1], [1, 2, 2])
    assert one("SELECT countDistinct(x), toUUID('abc'), notILike('AB', 'a%')"
               " FROM (SELECT 'F' AS x UNION ALL SELECT 'F'"
               " UNION ALL SELECT 'G')") == (2, "abc", False)
    assert one("SELECT uniqIf(x, x > 1),"
               " quantileIf(0.5)(CAST(x AS DOUBLE), x > 0)"
               " FROM (SELECT 1 AS x UNION ALL SELECT 2"
               " UNION ALL SELECT 2)") == (1, 2.0)
    with _pytest.raises(ValueError, match="explode"):
        translate("SELECT avgMap([1],[2]) FROM orders")
    # result-changing SETTINGS refuse loudly; neutral knobs still strip
    with _pytest.raises(ValueError, match="FROM t FINAL"):
        translate("SELECT x FROM t SETTINGS final = 1")
    with _pytest.raises(ValueError, match="join_use_nulls"):
        translate("SELECT x FROM t SETTINGS join_use_nulls = 0")
    assert translate("SELECT x FROM t SETTINGS max_threads = 4,"
                     " join_use_nulls = 1").strip() == "SELECT x FROM t"
    # generic -If combinator fallback + first/lastValue spellings
    assert one("SELECT groupArrayIf(x, x > 1), firstValue(x)"
               " FROM (SELECT 1 AS x UNION ALL SELECT 2)") == ([2], 1)
    # operator-function spellings + variadic logical xor; bitmap states
    # raise the agg_bitmap_ops guided error
    assert one("SELECT equals(1, 1), notEquals(1, 2), less(1, 2),"
               " greaterOrEquals(0, 1), xor(true, true, true)"
               ) == (True, True, True, False, True)
    with _pytest.raises(ValueError, match="agg_bitmap_ops"):
        translate("SELECT bitmapContains(bitmapBuild([1]), 1)")
    assert one("SELECT round(stddevPopIf(x, x > 0), 4)"
               " FROM (SELECT 1.0 AS x UNION ALL SELECT 3.0"
               " UNION ALL SELECT -99.0)") == (1.0,)[0:1]


def test_chsql_limit_by_unprojected_columns(spark, sf_dir):
    """r6 splice rewrite: LIMIT BY / WITH TIES whose BY / ORDER expressions
    name base-table columns the projection dropped (CH resolves them in the
    source scope; the old wrap-the-subquery strategy lost them), plus
    alias substitution into the window spec after GROUP BY."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import ch_sql, translate

    # BY column not projected: 2 orders per status, smallest keys.
    df = ch_sql(spark, sf_dir,
                "SELECT o_orderkey FROM orders ORDER BY o_orderkey"
                " LIMIT 2 BY o_orderstatus")
    got = sorted(r.o_orderkey for r in df.collect())
    exp = ch_sql(spark, sf_dir,
                 "SELECT o_orderkey, o_orderstatus FROM orders ORDER BY"
                 " o_orderkey LIMIT 2 BY o_orderstatus")
    assert got == sorted(r.o_orderkey for r in exp.collect())
    assert df.columns == ["o_orderkey"]
    # Aggregate alias in ORDER BY + LIMIT BY after GROUP BY: the alias
    # substitutes to its defining aggregate inside the window spec.
    t = translate("SELECT o_orderstatus, count() AS n FROM orders GROUP BY"
                  " o_orderstatus ORDER BY n DESC LIMIT 1 BY o_orderstatus")
    assert "ORDER BY (count(*)) DESC" in t
    assert ch_sql(spark, sf_dir, "SELECT o_orderstatus, count() AS n"
                  " FROM orders GROUP BY o_orderstatus ORDER BY n DESC"
                  " LIMIT 1 BY o_orderstatus").count() == 3
    # WITH TIES ordering by an unprojected column.
    rows = ch_sql(spark, sf_dir,
                  "SELECT o_orderkey FROM orders ORDER BY o_orderstatus"
                  " LIMIT 3 WITH TIES").count()
    min_status_rows = ch_sql(spark, sf_dir,
                             "SELECT count() AS n FROM orders WHERE"
                             " o_orderstatus = (SELECT min(o_orderstatus)"
                             " FROM orders)").collect()[0].n
    assert rows == min_status_rows
    # DISTINCT and set-op forms keep the wrap strategy (BY over projected
    # columns — CH's own constraint there) and still run.
    assert ch_sql(spark, sf_dir,
                  "SELECT DISTINCT o_orderstatus, o_orderpriority FROM"
                  " orders ORDER BY o_orderpriority LIMIT 1 BY"
                  " o_orderstatus").count() == 3
    # LIMIT BY without ORDER BY: loud determinism refusal, not a Spark
    # parse error.
    with _pytest.raises(ValueError, match="explicit ORDER BY"):
        translate("SELECT o_orderkey FROM orders LIMIT 2 BY o_orderstatus")


def test_chsql_multi_array_join(spark):
    """CH's zipped multi-array ARRAY JOIN (r6; previously silently
    corrupted into broken SQL): arrays zip positionally, LEFT keeps
    zero-length rows, shorter trailing arrays pad NULL (documented
    divergence from CH's equal-size requirement)."""
    from canal_clickhouse_spark.chsql import translate

    spark.sql("SELECT 'k1 k2' AS ks, '1 2' AS vs"
              " UNION ALL SELECT 'k3' AS ks, '' AS vs"
              ).createOrReplaceTempView("mz")
    rows = spark.sql(translate(
        "SELECT k, v FROM mz ARRAY JOIN splitByChar(' ', ks) AS k,"
        " splitByChar(' ', vs) AS v"
    )).collect()
    assert [(r.k, r.v) for r in rows] == [("k1", "1"), ("k2", "2"),
                                          ("k3", "")]
    # three-array form
    rows = spark.sql(translate(
        "SELECT a, b, c FROM (SELECT 1 AS one) ARRAY JOIN [10, 20] AS a,"
        " [1, 2] AS b, ['x'] AS c"
    )).collect()
    assert [(r.a, r.b, r.c) for r in rows] == [(10, 1, "x"), (20, 2, None)]


def test_chsql_bare_array_join(spark):
    """r8 verdict #1: bare ``ARRAY JOIN arr`` (no alias) — CH's most common
    spelling — rewrites the array column to its ELEMENT in query scope.
    Spark can't shadow a base column with a same-name LATERAL VIEW alias
    (AMBIGUOUS_REFERENCE), so the rewrite wraps the FROM source in a
    ``* EXCEPT`` subquery; verify element scope in SELECT / WHERE /
    GROUP BY, the LEFT form, bare+aliased zips, subquery sources, and
    dotted field access on a bare-joined Array(Struct) (Nested) column."""
    from canal_clickhouse_spark.chsql import translate

    spark.sql(
        "SELECT 'k' AS x, array(1, 2, 3) AS arr"
        " UNION ALL SELECT 'e' AS x, array() AS arr"
    ).createOrReplaceTempView("baj")
    run = lambda q: spark.sql(translate(q)).collect()
    # element scope in SELECT + WHERE
    rows = run("SELECT x, arr FROM baj ARRAY JOIN arr WHERE arr > 1"
               " ORDER BY arr")
    assert [(r.x, r.arr) for r in rows] == [("k", 2), ("k", 3)]
    # LEFT keeps the empty-array row (NULL element)
    rows = run("SELECT x, arr FROM baj LEFT ARRAY JOIN arr ORDER BY x, arr")
    assert [(r.x, r.arr) for r in rows] == [
        ("e", None), ("k", 1), ("k", 2), ("k", 3)]
    # element scope in GROUP BY
    rows = run("SELECT arr, count() AS c FROM baj ARRAY JOIN arr"
               " GROUP BY arr ORDER BY arr")
    assert [(r.arr, r.c) for r in rows] == [(1, 1), (2, 1), (3, 1)]
    # bare + aliased zip; bare-bare zip
    spark.sql("SELECT array(10, 20) AS a, array('p', 'q') AS b"
              ).createOrReplaceTempView("baj2")
    rows = run("SELECT a, y FROM baj2 ARRAY JOIN a, b AS y ORDER BY a")
    assert [(r.a, r.y) for r in rows] == [(10, "p"), (20, "q")]
    rows = run("SELECT a, b FROM baj2 ARRAY JOIN a, b ORDER BY a")
    assert [(r.a, r.b) for r in rows] == [(10, "p"), (20, "q")]
    # subquery source: the wrap anchors to the OUTER (same-depth) FROM
    rows = run("SELECT v FROM (SELECT array(5, 6) AS v FROM baj2) s"
               " ARRAY JOIN v ORDER BY v")
    assert [r.v for r in rows] == [5, 6]
    # Nested-table idiom (r8 verdict #7): Array(Struct) bare join with
    # dotted access, and the aliased `AS n` + n.col form
    spark.sql(
        "SELECT array(named_struct('k', 'a', 'v', 1),"
        " named_struct('k', 'b', 'v', 2)) AS nested"
    ).createOrReplaceTempView("baj3")
    rows = run("SELECT nested.k, nested.v FROM baj3 ARRAY JOIN nested"
               " ORDER BY nested.k")
    assert [(r.k, r.v) for r in rows] == [("a", 1), ("b", 2)]
    rows = run("SELECT n.k, n.v FROM baj3 ARRAY JOIN nested AS n"
               " ORDER BY n.k")
    assert [(r.k, r.v) for r in rows] == [("a", 1), ("b", 2)]
    # non-column bare expression still refuses with guidance
    import pytest as _pytest
    with _pytest.raises(ValueError, match="plain column names"):
        translate("SELECT x FROM baj ARRAY JOIN arraySort(arr)")


def test_chsql_r8_probe_batch(spark):
    """r8 probe sweep: spellings that previously passed through to Spark's
    undefined-function error. Value-pinned against the CH doc examples."""
    from canal_clickhouse_spark.chsql import translate
    import pytest as _pytest

    one = lambda e: spark.sql(translate(f"SELECT {e} AS v")).collect()[0].v
    # arraySplit: new group starts on the LEFT of each matching element
    assert one("arraySplit(x -> x = 1, [1, 2, 3, 1, 2, 3])") == \
        [[1, 2, 3], [1, 2, 3]]
    assert one("arraySplit(x -> x > 2, [1, 2, 3, 4, 1])") == \
        [[1, 2], [3], [4, 1]]
    assert one("arraySplit(x -> x = 9, [1, 2])") == [[1, 2]]
    # arrayReverseSplit: split on the RIGHT of each matching element
    assert one("arrayReverseSplit(x -> x = 1, [1, 2, 3, 1, 2, 3])") == \
        [[1], [2, 3, 1], [2, 3]]
    assert one("arrayElementOrNull([10, 20], 5)") is None
    assert one("arrayElementOrNull([10, 20], -1)") == 20
    assert one("bitHammingDistance(111, 109)") == 1    # 111^109 = 0b10
    b = one("jumpConsistentHash(256, 4)")
    assert 0 <= b < 4 and b == one("jumpConsistentHash(256, 4)")
    r = spark.sql(translate(
        "SELECT simpleLinearRegression(x, y).k AS k,"
        " simpleLinearRegression(x, y).b AS b"
        " FROM (SELECT 0 AS x, 1 AS y UNION ALL SELECT 1, 3"
        " UNION ALL SELECT 2, 5)"
    )).collect()[0]
    assert (r.k, r.b) == (2.0, 1.0)
    assert one("mapContainsKeyLike(map('abc', 1, 'def', 2), 'a%')") is True
    assert one("mapExtractKeyLike(map('abc', 1, 'def', 2), 'a%')") == \
        {"abc": 1}
    # Unaligned zip pads NULL (Spark arrays_zip's native contract)
    z = one("arrayZipUnaligned([1, 2], ['a'])")
    assert [tuple(s) for s in z] == [(1, "a"), (2, None)]
    assert one("encodeURLFormComponent('Hello World/x')") == "Hello+World%2Fx"
    # hash-family additions keep the stable-not-bit-identical convention
    assert one("murmurHash2_64('abc') = murmurHash2_64('abc')") is True
    # guided errors
    with _pytest.raises(ValueError, match="fault-injection"):
        translate("aggThrow(0.5)")
    with _pytest.raises(ValueError, match="f_oneway"):
        translate("SELECT analysisOfVariance(x, g) FROM t")


def test_chsql_r8_clause_batch(spark):
    """r8 probe sweep, clause level: spellings Spark's parser refuses that
    previously passed through to cryptic parse errors — SELECT TOP n,
    ANSI OFFSET/FETCH, CH's strictness-first SEMI/ANTI LEFT JOIN word
    order, the relative SAMPLE k/n form, two-arg CAST(x, 'T') and CH type
    names in CAST/:: — plus guided errors for the genuinely unmappable
    (PASTE JOIN, right-sided semi/anti, COLLATE, SAMPLE row counts)."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    spark.sql("SELECT explode(sequence(1, 9)) AS a"
              ).createOrReplaceTempView("tcb")
    spark.sql("SELECT explode(array(2, 3, 99)) AS b"
              ).createOrReplaceTempView("ucb")
    run = lambda q: spark.sql(translate(q)).collect()
    assert [r.a for r in run("SELECT TOP 3 a FROM tcb ORDER BY a")] == \
        [1, 2, 3]
    assert [r.a for r in run(
        "SELECT a FROM tcb ORDER BY a OFFSET 2 ROWS"
        " FETCH FIRST 3 ROWS ONLY")] == [3, 4, 5]
    assert [r.a for r in run(
        "SELECT a FROM tcb ORDER BY a FETCH NEXT 2 ROWS ONLY")] == [1, 2]
    assert [r.a for r in run(
        "SELECT a FROM tcb SEMI LEFT JOIN ucb ON a = b ORDER BY a")] == \
        [2, 3]
    assert [r.a for r in run(
        "SELECT a FROM tcb ANTI LEFT JOIN ucb ON a = b ORDER BY a")] == \
        [1, 4, 5, 6, 7, 8, 9]
    # CAST spellings: two-arg form, CH type names, :: with CH type
    one = lambda e: spark.sql(translate(f"SELECT {e} AS v")).collect()[0].v
    assert one("CAST('7', 'Int64')") == 7
    assert one("CAST(300 AS UInt8)") == 44  # r11: wraps mod 2^8, as CH
    assert one("CAST(3.9 AS Nullable(String))") == "3.9"
    assert one("'11'::UInt32 + 1") == 12
    assert one("CAST(CAST('8' AS Int32) AS Int64)") == 8
    # SAMPLE k/n is the fraction k/n; SAMPLE 1 is the whole table
    t = translate("SELECT o_orderkey FROM orders SAMPLE 1/10")
    assert "% 4294967296" in t and "SAMPLE" not in t
    assert translate("SELECT o_orderkey FROM orders SAMPLE 1") == \
        "SELECT o_orderkey FROM orders"
    # guided errors
    for bad, hint in [
        ("SELECT a FROM t SEMI RIGHT JOIN u ON a = b", "swap the table"),
        ("SELECT x FROM t1 PASTE JOIN t2", "row_number"),
        ("SELECT a FROM t ORDER BY a COLLATE 'tr'", "collation"),
        ("SELECT o_orderkey FROM orders SAMPLE 0.5 OFFSET 0.5",
         "sampling-key"),
        ("SELECT o_orderkey FROM orders SAMPLE 10000", "fraction"),
        ("SELECT x FROM t ORDER BY x OFFSET 1 ROWS FETCH FIRST 5 ROWS"
         " WITH TIES", "drop the OFFSET"),
    ]:
        with _pytest.raises(ValueError, match=hint):
            translate(bad)
    # FETCH ... WITH TIES (no OFFSET) rides the LIMIT WITH TIES machinery
    spark.sql("SELECT explode(array(1, 2, 2, 3)) AS a"
              ).createOrReplaceTempView("tcb2")
    assert [r.a for r in run(
        "SELECT a FROM tcb2 ORDER BY a FETCH FIRST 3 ROWS WITH TIES")] == \
        [1, 2, 2]


def test_chsql_r8_probe_batch2(spark):
    """r8 probe sweep #2: aggregate/sketch/geo/introspection spellings that
    previously passed through to undefined-function errors."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    spark.createDataFrame(
        [(1.0, 3.0), (2.0, 5.0), (4.0, 6.0), (7.0, 9.0)], "s double, e double"
    ).createOrReplaceTempView("riv")
    g = lambda expr, src: spark.sql(
        translate(f"SELECT {expr} AS r FROM {src}")).collect()[0].r
    # sweep-line argmax: depth first reaches its max (2) at t=2
    assert g("maxIntersectionsPosition(s, e)", "riv") == 2.0
    spark.sql("SELECT explode(array(array(1, 2, 3), array(2, 3, 4),"
              " array(3, 2))) AS a").createOrReplaceTempView("rai")
    assert g("groupArrayIntersect(a)", "rai") == [2, 3]
    assert g("sumWithOverflow(s)", "riv") == 14.0
    assert spark.sql(translate("SELECT currentRoles() AS r")
                     ).collect()[0].r == ["default"]
    # guided errors: sketch tuples, one-sample stats, bitmap states, geo,
    # server introspection, time-decayed parametric folds
    for bad, hint in [
        ("approx_top_k(x, 5)", "topK"),
        ("meanZTest(a, b, 0.95)", "agg_stats"),
        ("studentTTestOneSample(x, 1.0)", "agg_stats"),
        ("bitmapMin(b)", "agg_bitmap_ops"),
        ("bitmapHasAll(a, b)", "agg_bitmap_ops"),
        ("wkt(p)", "Pandas UDF"),
        ("readWKTPoint('POINT(1 2)')", "Pandas UDF"),
        ("estimateCompressionRatio(s)", "introspection"),
        ("exponentialMovingAverage(5)(v, t)", "window"),
        ("exponentialTimeDecayedAvg(5)(v, t)", "window"),
    ]:
        with _pytest.raises(ValueError, match=hint):
            translate(bad)


def test_chsql_totals_having_after_having_exclusive(spark):
    """r8 verdict #6: WITH TOTALS × HAVING follows CH's default
    totals_mode = 'after_having_exclusive' — the totals row aggregates
    only the rows of groups that PASS HAVING (7, not 9, below) and is
    kept even though its own NULL key would fail a key-referencing
    HAVING. Previously the HAVING applied to the grand-total row itself
    (no CH mode behaves that way)."""
    from canal_clickhouse_spark.chsql import translate

    spark.sql(
        "SELECT explode(array('a','a','a','b','b','c','c','c','c')) AS k"
    ).createOrReplaceTempView("tth")
    rows = spark.sql(translate(
        "SELECT k, count() AS n FROM tth GROUP BY k WITH TOTALS"
        " HAVING count() > 2 ORDER BY k"
    )).collect()
    assert [(r.k, r.n) for r in rows] == [(None, 7), ("a", 3), ("c", 4)]
    # composes with an existing WHERE (predicate must reach the semi-join)
    rows = spark.sql(translate(
        "SELECT k, count() AS n FROM tth WHERE k != 'c' GROUP BY k"
        " WITH TOTALS HAVING count() > 2 ORDER BY k"
    )).collect()
    assert [(r.k, r.n) for r in rows] == [(None, 3), ("a", 3)]
    # plain TOTALS (no HAVING) keeps the all-rows grand total
    rows = spark.sql(translate(
        "SELECT k, count() AS n FROM tth GROUP BY k WITH TOTALS ORDER BY k"
    )).collect()
    assert [(r.k, r.n) for r in rows] == [
        (None, 9), ("a", 3), ("b", 2), ("c", 4)]


def test_chsql_operator_fn_precedence(spark):
    """r6 advice (high): operator-function spellings must parenthesize
    their operands — infix-expression arguments previously re-associated
    via precedence (minus(a, b - c) -> a - b - c)."""
    from canal_clickhouse_spark.chsql import translate

    one = lambda q: spark.sql(translate(f"SELECT {q} AS v")).collect()[0].v
    assert one("minus(10, 7 - 5)") == 8          # not (10-7)-5 = -2
    assert one("negate(3 - 8)") == 5             # not -3-8 = -11
    assert abs(one("divide(12, 2 + 4)") - 2.0) < 1e-12   # not 12/2+4 = 10
    assert one("multiply(2, 3 + 4)") == 14       # not 2*3+4 = 10
    assert one("plus(1, 2)") == 3
    assert one("modulo(10, 3 + 4)") == 3         # not (10%3)+4 = 5
    assert one("xor(true, false AND true)") is True
    assert one("xor(true, true, true)") is True  # variadic fold
    assert one("less(5, 2 + 4)") is True         # not (5<2)+4
    assert one("equals(6, 2 * 3)") is True


def test_chsql_hassubstr_needle_longer_than_haystack(spark):
    """r6 advice (medium): sequence(1, 0) yields the DESCENDING [1, 0] in
    Spark, so slice(..., 0, ...) threw at runtime when the needle was
    longer than the haystack; CH returns false."""
    from canal_clickhouse_spark.chsql import translate

    one = lambda q: spark.sql(translate(f"SELECT {q} AS v")).collect()[0].v
    assert one("hasSubstr([1, 2], [1, 2, 3])") is False
    assert one("hasSubstr([1, 2, 3], [2, 3])") is True
    assert one("hasSubstr([1, 2, 3], [])") is True
    assert one("hasSubstr(CAST(array() AS ARRAY<INT>), [1])") is False


def test_chsql_dict_lifecycle(spark, sf_dir):
    """r6 advice (low): session-created dictionaries must not outlive or
    dangle past their backing tables — DROP drops the binding, RENAME and
    EXCHANGE re-point it, close() unregisters everything."""
    from canal_clickhouse_spark.chsql import _CH_DICTS
    from canal_clickhouse_spark.chsql_ddl import ChSession

    with ChSession(spark, sf_dir) as ch:
        ch.execute(
            "CREATE TABLE dl_src (k Int32, v String) ENGINE = MergeTree"
            " ORDER BY k"
        )
        ch.execute("INSERT INTO dl_src VALUES (1, 'a'), (2, 'b')")
        ch.execute(
            "CREATE DICTIONARY dl_dict (k Int32, v String) PRIMARY KEY k"
            " SOURCE(CLICKHOUSE(TABLE 'dl_src')) LAYOUT(FLAT())"
            " LIFETIME(300)"
        )
        assert _CH_DICTS["dl_dict"]["table"] == "dl_src"
        ch.execute("RENAME TABLE dl_src TO dl_src2")
        assert _CH_DICTS["dl_dict"]["table"] == "dl_src2"
        r = ch.execute("SELECT dictGet('dl_dict', 'v', 2) AS v").collect()
        assert r[0].v == "b"
        ch.execute(
            "CREATE TABLE dl_other (k Int32, v String) ENGINE = MergeTree"
            " ORDER BY k"
        )
        ch.execute("EXCHANGE TABLES dl_src2 AND dl_other")
        assert _CH_DICTS["dl_dict"]["table"] == "dl_other"
        ch.execute("DROP TABLE dl_other")
        assert "dl_dict" not in _CH_DICTS
        # close() clears whatever the session registered
        ch.execute(
            "CREATE TABLE dl_src3 (k Int32, v String) ENGINE = MergeTree"
            " ORDER BY k"
        )
        ch.execute(
            "CREATE DICTIONARY dl_dict3 (k Int32, v String) PRIMARY KEY k"
            " SOURCE(CLICKHOUSE(TABLE 'dl_src3')) LAYOUT(FLAT())"
            " LIFETIME(300)"
        )
        assert "dl_dict3" in _CH_DICTS
    assert "dl_dict3" not in _CH_DICTS


def test_chsql_insert_default_chain(spark, sf_dir):
    """r6 advice (low): a DEFAULT referencing another omitted column must
    read that column's own computed default (CH resolves DEFAULT chains
    transitively), regardless of column order."""
    from canal_clickhouse_spark.chsql_ddl import ChSession

    ch = ChSession(spark, sf_dir)
    # b's default reads c, and c is declared AFTER b — the old single
    # in-order pass either failed analysis or read the NULL filler.
    ch.execute(
        "CREATE TABLE ddl_chain (a Int32, b Int64 DEFAULT c + 10,"
        " c Int64 DEFAULT 7, d String) ENGINE = MergeTree ORDER BY a"
    )
    ch.execute("INSERT INTO ddl_chain (a) VALUES (1)")
    row = ch.execute("SELECT a, b, c, d FROM ddl_chain").collect()[0]
    assert (row.a, row.b, row.c, row.d) == (1, 17, 7, None)


def test_chsql_global_in(spark, sf_dir):
    """r6 verdict missing #1: `expr GLOBAL [NOT] IN (subquery)` — the most
    common distributed-CH idiom — translates to plain IN/NOT IN (Spark
    plans the subquery once and broadcasts; the GLOBAL distribution hint
    is the planner's job here). Literal occurrences stay untouched."""
    from canal_clickhouse_spark.catalog import register_views
    from canal_clickhouse_spark.chsql import translate

    register_views(spark, sf_dir)
    t = translate(
        "SELECT count() FROM orders WHERE o_custkey GLOBAL IN"
        " (SELECT c_custkey FROM customer)"
    )
    assert "GLOBAL" not in t and " IN " in t
    n = spark.sql(t).collect()[0][0]
    assert n == spark.sql(
        "SELECT count(*) FROM orders WHERE o_custkey IN"
        " (SELECT c_custkey FROM customer)"
    ).collect()[0][0]
    t = translate(
        "SELECT count() FROM orders WHERE o_custkey GLOBAL NOT IN"
        " (SELECT c_custkey FROM customer WHERE c_acctbal < 0)"
    )
    assert "GLOBAL" not in t and "NOT IN" in t
    assert spark.sql(t).collect()[0][0] > 0
    assert translate("SELECT 'k GLOBAL IN x' AS s") == \
        "SELECT 'k GLOBAL IN x' AS s"


def test_chsql_unmappable_guided_errors():
    """r6 verdict missing #5: known-unmappable distributed spellings raise
    loud named guidance instead of passing through to cryptic Spark
    errors."""
    import pytest

    from canal_clickhouse_spark.chsql import translate

    for q, hint in [
        ("SELECT * FROM remote('h', db, t)", "source_jdbc"),
        ("SELECT * FROM cluster('c', db, t)", "no remote CH cluster"),
        ("SELECT * FROM clusterAllReplicas('c', db, t)",
         "no remote CH cluster"),
        ("SELECT * FROM merge('db', '^logs')", "UNION ALL"),
        ("SELECT * FROM file('x.csv')", "scan_parquet"),
        ("SELECT * FROM url('http://x', CSV)", "scan_parquet"),
        ("SELECT * FROM s3('s3://b/k')", "scan_parquet"),
        ("SELECT dictGetHierarchy('d', k) FROM t", "self-join chain"),
        # r9: LITERAL patterns now translate (see
        # test_chsql_r9_passthrough_closures) — only the non-literal
        # pattern form stays guided (group count not statically countable)
        ("SELECT extractGroups(s, pat) FROM t", "regexp_extract"),
        ("SELECT extractAllGroupsVertical(s, pat) FROM t",
         "regexp_extract"),
        # r8 verdict #3: matrix aggregates get the family's named guidance
        # instead of passing through to Spark's undefined-function error
        ("SELECT corrMatrix(a, b, c) FROM t", "corr"),
        ("SELECT covarMatrix(a, b) FROM t", "covar_samp"),
        ("SELECT covarSampMatrix(a, b) FROM t", "covar_samp"),
        ("SELECT covarPopMatrix(a, b) FROM t", "covar_pop"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(q)


def test_chsql_group_array_sample_seeded(spark):
    """r8 verdict #4: groupArraySample(N, seed)(x) previously DROPPED the
    seed silently (shuffle() — nondeterministic even when the user pinned
    one). The seeded form now sorts by xxhash64(elem, seed) and slices:
    run-to-run stable, value-pinned, and different seeds give different
    orders. The seedless form keeps the honest random shuffle."""
    from canal_clickhouse_spark.chsql import translate

    spark.sql("SELECT explode(sequence(1, 10)) AS x"
              ).createOrReplaceTempView("gas")
    g = lambda q: spark.sql(
        translate(f"SELECT {q} AS r FROM gas")).collect()[0].r
    a = g("groupArraySample(3, 7)(x)")
    assert a == g("groupArraySample(3, 7)(x)")  # deterministic
    assert len(a) == 3 and set(a) <= set(range(1, 11))
    b = g("groupArraySample(10, 99)(x)")
    assert sorted(b) == list(range(1, 11))      # permutation, no dup/drop
    assert len(g("groupArraySample(3)(x)")) == 3  # seedless still works
    # the two seeds disagree on at least one position over a full permute
    assert g("groupArraySample(10, 7)(x)") != b


def test_chsql_parametric_if_stacking(spark):
    """r6 verdict missing #6: parametric × -If combinator stacks translate
    (both pieces were individually mapped). Value-pinned."""
    spark.createDataFrame(
        [(1, "a", 1), (2, "a", 1), (3, "b", 5), (4, "b", 1), (5, "c", 1),
         (6, "a", 2), (7, "c", 1), (8, "d", 0)],
        "id int, v string, w int",
    ).createOrReplaceTempView("tk_if")
    from canal_clickhouse_spark.chsql import translate

    one = lambda s: spark.sql(translate(f"SELECT {s} AS r FROM tk_if")).collect()[0].r
    assert one("topK(2)(v)") == ["a", "b"]               # a:3, b:2=c:2 tie→value asc
    assert one("topKIf(2)(v, id <= 5)") == ["a", "b"]    # a:2, b:2, c:1
    assert one("topKWeighted(2)(v, w)") == ["b", "a"]    # b:6, a:4
    assert one("topKWeightedIf(2)(v, w, id != 3)") == ["a", "c"]  # a:4, c:2, b:1
    assert one("groupArrayIf(3)(v, w > 0)") == ["a", "a", "b"]
    assert one("uniqUpToIf(2)(v, w > 0)") == 3           # saturates at 2+1
    assert one("quantileIf(0.5)(id, id <= 5)") == 3.0
    assert one("quantilesIf(0.5, 1.0)(id, id <= 5)") == [3.0, 5.0]
    assert one("quantileExactWeightedIf(0.5)(id, w, id <= 5)") == 3.0
    assert one("medianIf(id, id <= 5)") == 3.0
    # -If of a guided-raise base names the operator, not the generic text
    import pytest

    with pytest.raises(ValueError, match="agg_histogram"):
        translate("SELECT histogramIf(3)(id, true) FROM tk_if")


def test_chsql_r7_probe_batch(spark):
    """r7 function-gap batch (probed by EXECUTION, the r6 method):
    value-pinned spellings for arrays/maps/strings/dates/math/IP/
    introspection scalars; guided errors for the genuinely unmappable."""
    import datetime

    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("arrayShingles([1,2,3,4], 2)") == [[1, 2], [2, 3], [3, 4]]
    assert one("arrayShingles([1], 3)") == []
    assert one("mapAdd(map('a',1,'b',2), map('a',10))") == {"a": 11, "b": 2}
    assert one("replaceOne('aXaX', 'X', 'y')") == "ayaX"
    assert one("multiMatchAny('hello', ['^x', 'ell'])") is True
    assert one("multiMatchAnyIndex('hello', ['^x', 'ell'])") == 2
    assert one("tokens('a-b  c!')") == ["a", "b", "c"]
    assert one("ngrams('abcd', 2)") == ["ab", "bc", "cd"]
    assert one("format('{} and {}', 'a', 'b')") == "a and b"
    assert one("format('{1}-{0}', 'a', 'b')") == "b-a"
    assert one("toISOYear(toDate('2021-01-01'))") == 2020
    assert one("toStartOfISOYear(toDate('2021-01-01'))") == \
        datetime.date(2019, 12, 30)
    assert one("toDaysSinceYearZero(toDate('1970-01-01'))") == 719528
    assert one("fromDaysSinceYearZero(719528)") == datetime.date(1970, 1, 1)
    assert one("YYYYMMDDToDate(20240315)") == datetime.date(2024, 3, 15)
    assert one("toYearWeek(toDate('2021-01-01'), 3)") == 202053
    assert one("bitRotateLeft(1, 2)") == 4
    assert one("gcd(12, 18)") == 6 and one("gcd(0, 5)") == 5
    assert one("lcm(4, 6)") == 12 and one("lcm(0, 6)") == 0
    assert one("sigmoid(0)") == 0.5
    assert one("char(72, 105)") == "Hi" and one("char(65)") == "A"
    assert one("IPv4NumToString(3232235777)") == "192.168.1.1"
    assert one("IPv4StringToNum('192.168.1.1')") == 3232235777
    assert one("isIPv4String('192.168.1.1')") is True
    assert one("isIPv4String('999.1.1.1')") is False
    assert one("currentDatabase()") == "default"
    assert one("toFixedString('abcdef', 3)") == "abc"
    assert one("defaultValueOfTypeName('Int32')") == 0
    assert one("lastDayOfMonth(toDate('2024-02-10'))") == \
        datetime.date(2024, 2, 29)
    assert one("widthBucket(5, 0, 10, 5)") == 3
    assert one("size(timeSlots(toDateTime('2024-01-01 00:10:00'), 3600))") \
        == 3
    assert one("isNaN(nan())") is True
    assert one("toTypeName(CAST(1 AS BIGINT))") == "Int64"
    # default-mode toYearWeek refuses like toWeek (Sunday-start numbering)
    with _pytest.raises(ValueError, match="mode 3"):
        translate("SELECT toYearWeek(d) FROM t")
    for bad, hint in [
        ("uptime()", "server-runtime"),
        ("formatRow('CSV', 1)", "to_json"),
        ("generateULID()", "generateUUIDv4"),
        ("stem('en', 'x')", "Pandas UDF"),
        ("erf(0.5)", "scipy"),
        ("formatReadableTimeDelta(370)", "concat_ws"),
        ("proportionsZTest(1,2,3,4,0.9,'x')", "agg_stats"),
        ("normalizeQuery('q')", "normalizer"),
    ]:
        with _pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM t")


def test_chsql_tuple_and_combinator_batch(spark):
    """r7 second probe batch: tuples (positional access, untuple),
    -ForEach / -OrDefault / -OrNull aggregate combinators, groupConcat,
    and the arrayPartialSort keyed-form fix (the 3-arg form used to emit
    sort_array(<limit>), silently dropping the array)."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    # arrayPartialSort: array is LAST in every arity
    assert one("arrayPartialSort(2, [3,1,2])") == [1, 2, 3]
    assert one("arrayPartialSort(x -> -x, 2, [3,1,2])") == [3, 2, 1]
    assert one("arrayPartialReverseSort(2, [3,1,2])") == [3, 2, 1]
    with _pytest.raises(ValueError, match="limit, arr"):
        translate("SELECT arrayPartialSort([3,1,2]) FROM t")
    # tuple positional access → named_struct colN fields; floats untouched
    assert one("tuple(7, 'a').1") == 7
    assert one("tuple(7, 'a').2") == "a"
    assert one("tuple(1, tuple(2, 3)).2.1") == 2  # chained, fixpoint loop
    assert one("1.5 + tuple(1,2).1") == 2.5
    assert "1.5" in translate("SELECT 1.5 FROM t")  # literal not rewritten
    assert ".25" in translate("SELECT .25 FROM t")
    assert "'a.1'" in translate("SELECT 'a.1' FROM t")  # masked literal
    # untuple: star expansion for refs, inline(array()) for expressions
    assert translate("SELECT untuple(tup) FROM t").strip() == \
        "SELECT tup.* FROM t"
    row = spark.sql(translate(
        "SELECT untuple(tuple(1, 'x')) FROM (SELECT 1 AS d)")).collect()[0]
    assert (row.col1, row.col2) == (1, "x")
    # groupConcat: bare / 2-arg / parametric (sep[, limit]) / -If stack
    spark.createDataFrame(
        [("a", [1, 2, 3], 1.0), ("a", [10, 20], 2.0), ("b", [5], None)],
        "g string, arr array<int>, v double",
    ).createOrReplaceTempView("tcb")
    grp = lambda q: {
        r.g: r.s for r in spark.sql(translate(q)).collect()
    }
    assert grp("SELECT g, groupConcat('|')(v) AS s FROM tcb GROUP BY g") \
        == {"a": "1.0|2.0", "b": ""}
    assert grp("SELECT g, groupConcat('|', 1)(v) AS s FROM tcb GROUP BY g") \
        == {"a": "1.0", "b": ""}
    assert grp(
        "SELECT g, groupConcatIf('|')(v, v > 1) AS s FROM tcb GROUP BY g"
    ) == {"a": "2.0", "b": ""}
    # -ForEach: elementwise across ragged arrays (missing tail = absent)
    assert grp("SELECT g, sumForEach(arr) AS s FROM tcb GROUP BY g") == \
        {"a": [11, 22, 3], "b": [5]}
    assert grp("SELECT g, minForEach(arr) AS s FROM tcb GROUP BY g") == \
        {"a": [1, 2, 3], "b": [5]}
    assert grp("SELECT g, maxForEach(arr) AS s FROM tcb GROUP BY g") == \
        {"a": [10, 20, 3], "b": [5]}
    assert grp("SELECT g, countForEach(arr) AS s FROM tcb GROUP BY g") == \
        {"a": [2, 2, 1], "b": [1]}
    assert grp("SELECT g, avgForEach(arr) AS s FROM tcb GROUP BY g") == \
        {"a": [5.5, 11.0, 3.0], "b": [5.0]}
    with _pytest.raises(ValueError, match="posexplode"):
        translate("SELECT groupArrayForEach(arr) FROM t")
    # -OrDefault / -OrNull empty-set behavior
    empty = lambda e: spark.sql(translate(
        f"SELECT {e} AS r FROM tcb WHERE g = 'zz'")).collect()[0].r
    assert empty("sumOrDefault(v)") == 0
    assert empty("avgOrDefault(v)") == 0.0
    assert empty("uniqExactOrDefault(v)") == 0
    assert empty("sumOrNull(v)") is None
    assert empty("countOrNull(v)") is None
    assert empty("uniqExactOrNull(v)") is None
    # all-NULL input also counts as "nothing aggregated"
    assert spark.sql(translate(
        "SELECT uniqExactOrNull(v) AS r FROM tcb WHERE g = 'b'"
    )).collect()[0].r is None
    with _pytest.raises(ValueError, match="coalesce"):
        translate("SELECT maxOrDefault(v) FROM t")


def test_chsql_r7_third_probe_batch(spark):
    """r7 third probe batch (probed by EXECUTION): URL composition, multi-
    needle search, stats-aggregate variants, bucket rounding, variadic bit
    tests, CH-argument-order map functions, array rotation/shift/AUC, geo
    distance variants, and guided errors for the genuinely unmappable."""
    import math

    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    # URL family
    assert one("pathFull('https://a.b/x/y?k=v#f')") == "/x/y?k=v#f"
    assert one("extractURLParameters('http://a/x?k=v&z=2')") == \
        ["k=v", "z=2"]
    assert one("extractURLParameterNames('http://a/x?k=v&z=2')") == \
        ["k", "z"]
    assert one("extractURLParameters('http://a/x')") == []
    assert one("cutWWW('http://www.a.com/p')") == "http://a.com/p"
    assert one("URLHierarchy('http://a.com/x/y?q=1')") == \
        ["http://a.com/x", "http://a.com/x/y"]
    assert one("multiSearchAllPositions('hello', ['l', 'zz', 'o'])") == \
        [3, 0, 5]
    assert one("multiSearchFirstIndex('hello', ['xx', 'el'])") == 2
    assert one("multiSearchFirstPosition('hello', ['lo', 'el'])") == 2
    assert one("multiSearchFirstPosition('hello', ['zz'])") == 0
    assert one("hasTokenCaseInsensitive('a B c', 'b')") is True
    # stats aggregate variants, pinned against hand-computed moments
    spark.createDataFrame(
        [(float(v),) for v in [1, 2, 2, 3, 3, 3, 8]], "x double"
    ).createOrReplaceTempView("tb3")
    xs = [1, 2, 2, 3, 3, 3, 8]
    n = len(xs)
    mu = sum(xs) / n
    m2 = sum((v - mu) ** 2 for v in xs) / n
    m3 = sum((v - mu) ** 3 for v in xs) / n
    m4 = sum((v - mu) ** 4 for v in xs) / n
    g = lambda e: spark.sql(
        translate(f"SELECT {e} AS r FROM tb3")).collect()[0].r
    assert abs(g("skewPop(x)") - m3 / m2 ** 1.5) < 1e-9
    assert abs(g("skewSamp(x)")
               - m3 / m2 ** 1.5 * math.sqrt(n * (n - 1)) / (n - 2)) < 1e-9
    assert abs(g("kurtPop(x)") - m4 / m2 ** 2) < 1e-9
    assert abs(g("kurtSamp(x)") - m4 / m2 ** 2 * ((n - 1) / n) ** 2) < 1e-9
    ent = -sum((c / n) * math.log2(c / n) for c in (1, 2, 3, 1))
    assert abs(g("entropy(x)") - ent) < 1e-9
    spark.createDataFrame(
        [(1.0, 10.0), (3.0, 2.0), (5.0, 30.0)], "x double, y double"
    ).createOrReplaceTempView("tbr3")
    br = spark.sql(translate(
        "SELECT boundingRatio(x, y) AS r FROM tbr3")).collect()[0].r
    assert abs(br - 5.0) < 1e-9
    # rounding buckets and bit tests
    assert one("roundToExp2(13)") == 8 and one("roundToExp2(0)") == 0
    assert (one("roundAge(25)"), one("roundAge(16)"), one("roundAge(0)")) \
        == (25, 17, 0)
    assert (one("roundDuration(45)"), one("roundDuration(0)")) == (30, 0)
    assert one("bitTestAll(7, 0, 1, 2)") is True
    assert one("bitTestAll(5, 0, 1)") is False
    assert one("bitTestAny(4, 0, 2)") is True
    assert one("bitRotateRight(8, 1)") == 4
    # map functions (CH lambda-first argument order)
    assert one("mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2))") == \
        {"b": 2}
    assert one("mapExists((k, v) -> v > 1, map('a', 1, 'b', 2))") is True
    assert one("mapAll((k, v) -> v > 0, map('a', 1, 'b', 2))") is True
    assert one("mapApply((k, v) -> (upper(k), v * 2), map('a', 1))") == \
        {"A": 2}
    assert one("mapUpdate(map('a',1,'b',2), map('b',9,'c',3))") == \
        {"a": 1, "b": 9, "c": 3}
    assert one("mapConcat(map('a',1,'b',2), map('b',9,'c',3))") == \
        {"a": 1, "b": 2, "c": 3}
    assert one("mapSubtract(map('a',5), map('a',2,'b',1))") == \
        {"a": 3, "b": -1}
    assert one("mapPopulateSeries(map(1, 10, 4, 40))") == \
        {1: 10, 2: 0, 3: 0, 4: 40}
    assert one("mapSort(map(2,'b',1,'a'))") == {1: "a", 2: "b"}
    # arrays
    assert abs(one("arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1])")
               - 0.75) < 1e-9
    assert one("arrayCumSumNonNegative([1, 1, -4, 1])") == \
        [1.0, 2.0, 0.0, 1.0]
    assert one("arrayRotateLeft([1,2,3,4], 5)") == [2, 3, 4, 1]
    assert one("arrayRotateLeft([1,2,3], -1)") == [3, 1, 2]
    assert one("arrayRotateRight([1,2,3,4], 1)") == [4, 1, 2, 3]
    assert one("arrayShiftLeft([1,2,3], 1, 9)") == [2, 3, 9]
    assert one("arrayShiftRight([1,2,3], 1, 0)") == [0, 1, 2]
    assert one("arrayShiftLeft([1,2,3], -1, 0)") == [0, 1, 2]
    assert len(one("arrayRandomSample([1,2,3], 2)")) == 2
    assert abs(one("arrayJaccardIndex([1,2], [2,3])") - 1 / 3) < 1e-9
    assert one("arrayDotProduct([1,2], [3,4])") == 11.0
    # geo
    assert abs(one("geoDistance(0.0, 0.0, 0.0, 1.0)") - 111194.9) < 100
    assert abs(one("greatCircleAngle(0.0, 0.0, 0.0, 1.0)") - 1.0) < 1e-6
    # misc
    assert str(one("toDecimal256('1.5', 4)")) == "1.5000"
    assert one("tryBase64Decode('eA==')") == "x"
    # r8 doc pin: CH returns '' (not NULL) on invalid base64
    assert one("tryBase64Decode('%%%')") == ""
    assert one("tupleNames(tuple(1, 2))") == ["col1", "col2"]
    # guided errors name the nearest supported alternative
    for bad, hint in [
        ("studentTTest(x, y)", "agg_stats"),
        ("deltaSum(x)", "win_"),
        ("sparkbar(5)(x, y)", "histogram"),
        ("byteSize(x)", "octet_length"),
        ("base58Encode('q')", "base64"),
        ("byteSwap(5)", "WIDTH"),
        ("pointInPolygon((0,0), [(0,0)])", "Pandas UDF"),
        ("h3ToGeo(1)", "h3"),
        ("minSampleSizeConversion(0.1,0.2,0.8,0.05)", "norm.ppf"),
        ("arrayNormalizedGini([1],[1])", "arrayAUC"),
        ("mapSort((k,v) -> v, m)", "map_entries"),
        ("bitSlice('a', 1, 4)", "bitTest"),
        ("splitByChar(',')", "splitByChar"),
    ]:
        with _pytest.raises(ValueError, match=hint.replace("(", "\\(")):
            translate(f"SELECT {bad} FROM t")


def test_chsql_r7_fourth_probe_batch(spark):
    """r7 fourth probe batch (probed by EXECUTION): date/time precision
    converters, string distance metrics, simpleJSON family, sweep-line
    interval aggregates, quantile impl variants, MAC/IPv4 extensions,
    rendering/parsing helpers, distribution sampling, and guided errors
    for server-runtime/block-scoped/128-bit spellings."""
    import datetime

    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    # date/time converters
    assert one(
        "toMillisecond(toDateTime64('2024-01-01 01:02:03.456', 3))") == 456
    assert one("toModifiedJulianDay('2020-01-01')") == 58849
    assert one("fromModifiedJulianDay(58849)") == datetime.date(2020, 1, 1)
    assert one("toLastDayOfWeek(toDate('2024-03-06'))") == \
        datetime.date(2024, 3, 9)
    assert one("addInterval(toDate('2024-01-01'), INTERVAL 1 MONTH)") == \
        datetime.date(2024, 2, 1)
    # string distances
    assert one("editDistance('kitten', 'sitting')") == 3
    assert abs(one("stringJaccardIndex('abc', 'bcd')") - 0.5) < 1e-9
    assert one("byteHammingDistance('ab', 'abcd')") == 2
    assert one("translateUTF8('abc', 'ab', 'xy')") == "xyc"
    # simpleJSON family (missing-key defaults: '' / 0 / 0.0 semantics
    # mapped to NULL-coalesced forms)
    j = "'{\"k\": \"v\", \"n\": 3, \"b\": true}'"
    assert one(f"simpleJSONExtractString({j}, 'k')") == "v"
    assert one(f"simpleJSONExtractInt({j}, 'zz')") == 0
    assert one(f"simpleJSONExtractBool({j}, 'b')") is True
    assert one(f"simpleJSONHas({j}, 'zz')") is False
    assert one("JSONArrayLength('[1,2,3]')") == 3
    assert one("JSONAllPaths('{\"a\":1,\"b\":2}')") == ["a", "b"]
    # sweep-line interval aggregates
    spark.createDataFrame(
        [(1.0, 3.0), (2.0, 5.0), (4.0, 6.0), (7.0, 9.0)],
        "s double, e double",
    ).createOrReplaceTempView("tiv4")
    g = lambda e: spark.sql(
        translate(f"SELECT {e} AS r FROM tiv4")).collect()[0].r
    assert g("maxIntersections(s, e)") == 2
    assert abs(g("intervalLengthSum(s, e)") - 7.0) < 1e-9
    assert g("singleValueOrNull(s)") is None
    assert g("groupArraySorted(2)(s)") == [1.0, 2.0]
    assert len(g("groupArrayLast(2)(s)")) == 2
    assert len(g("groupArraySample(3)(s)")) == 3
    assert abs(g("quantileExactExclusive(0.5)(s)") - 3.0) < 1e-9
    assert g("quantilesExactExclusive(0.5, 1.0)(s)") == [3.0, 7.0]
    assert abs(g("quantileGK(100, 0.5)(s)") - 3.0) < 1e-9
    # identity/constants
    assert one("materialize(7)") == 7 and one("ignore(1, 2)") == 0
    assert one("indexHint(1 > 2)") is True
    # MAC / IPv4
    assert one("MACNumToString(1103823438081)") == "01:01:01:01:01:01"
    assert one("MACStringToNum('01:01:01:01:01:01')") == 1103823438081
    assert one("toIPv4('192.168.1.1')") == 3232235777
    assert one("toIPv4OrNull('x')") is None
    assert one("isIPAddressInRange('192.168.1.77', '192.168.1.0/24')") \
        is True
    assert one("isIPAddressInRange('192.168.2.1', '192.168.1.0/24')") \
        is False
    # rendering / parsing / random
    assert one("bar(50, 0, 100, 10)") == "█████"
    assert one("formatReadableDecimalSize(1500000)") == "1.50 MB"
    assert one("parseReadableSize('1 KiB')") == 1024
    assert one("parseReadableSize('2.5 MB')") == 2500000
    assert 5 <= one("randUniform(5, 6)") < 6
    assert one("randBernoulli(0.5)") in (0, 1)
    assert len(one("generateUUIDv7()")) == 36
    assert one(
        "dateTimeToSnowflake(snowflakeToDateTime(1537228928163840000))"
    ) == 1537228928163840000 // 4194304 * 4194304
    for bad, hint in [
        ("jaroSimilarity('a','b')", "levenshtein"),
        ("normalizeUTF8NFC('a')", "unicodedata"),
        ("JSONMergePatch(a, b)", "from_json"),
        # (groupArrayMovingSum is implemented as of r9 — see
        # test_chsql_r9_moving_folds)
        ("version()", "uptime"),
        ("hasColumnInTable('a','b','c')", "system.columns"),
        ("IPv6NumToString(x)", "128-bit"),
        ("randPoisson(3)", "numpy"),
        ("nonNegativeDerivative(x, t)", "lag"),
        ("blockNumber()", "row_number"),
    ]:
        with _pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM t")


def test_chsql_clause_gaps_r7(spark):
    """r7 clause-level fixes: (1) bracket literals after SQL keywords
    (`SELECT [1,2]` was misread as a subscript and died in Spark's
    parser); (2) subscripts are CH 1-BASED — `[10,20][1]` silently
    returned 20 through Spark's 0-based `[]`; now try_element_at
    (negative-from-end and map lookup included, NULL OOB as documented
    divergence from CH's type default); (3) aliases are CH expression
    macros valid in WHERE/PREWHERE; (4) multi-column tuple IN needs
    matching struct field names on both sides."""
    from canal_clickhouse_spark.chsql import translate

    run = lambda q: spark.sql(translate(q)).collect()
    spark.range(1).selectExpr(
        "id AS event_id", "CAST(id AS STRING) AS event_type",
        "id AS user_id",
    ).createOrReplaceTempView("tcg")
    one = lambda e: run(f"SELECT {e} AS r FROM tcg LIMIT 1")[0].r
    # bracket literals after keywords; subscripts unharmed
    assert one("[1,2]") == [1, 2]
    assert one("IF(1=1, ['x'], ['y'])") == ["x"]
    assert one("CASE WHEN 1=1 THEN [1] ELSE [2] END") == [1]
    # 1-based subscripts, negative from end, NULL OOB, chains, maps
    assert one("[10,20][1]") == 10
    assert one("[10,20][-1]") == 20
    assert one("[10,20][5]") is None
    assert one("[[1,2],[3]][1][2]") == 2
    assert one("splitByChar('-', 'a-b')[2]") == "b"
    assert one("map('k', 7)['k']") == 7
    # alias macros in WHERE / PREWHERE
    spark.range(20).selectExpr("id AS k").createOrReplaceTempView("tal")
    r = run("SELECT k * 2 AS d FROM tal WHERE d > 10 AND d < 20 ORDER BY d")
    assert [t.d for t in r] == [12, 14, 16, 18]
    r = run("SELECT k * 3 AS t3 FROM tal PREWHERE t3 < 10 ORDER BY t3")
    assert [t.t3 for t in r] == [0, 3, 6, 9]
    # alias references inside a subquery keep their own scope
    r = run("SELECT k * 2 AS d FROM tal"
            " WHERE k IN (SELECT min(k) FROM tal) ORDER BY d")
    assert len(r) == 1
    # tuple IN: literal lists rewrite to colN structs; subqueries native
    r = run("SELECT count() AS c FROM tal"
            " WHERE (k % 3, k % 2) IN ((1, 1), (2, 0))")
    r2 = run("SELECT count() AS c FROM tal"
             " WHERE (k % 3 = 1 AND k % 2 = 1) OR (k % 3 = 2 AND k % 2 = 0)")
    assert r[0].c == r2[0].c > 0
    r = run("SELECT count() AS c FROM tal"
            " WHERE (k % 3, k % 2) NOT IN ((1, 1))")
    r2 = run("SELECT count() AS c FROM tal"
             " WHERE NOT (k % 3 = 1 AND k % 2 = 1)")
    assert r[0].c == r2[0].c
    r = run("SELECT count() AS c FROM tal WHERE (k, k) IN"
            " (SELECT k, k FROM tal WHERE k < 5)")
    assert r[0].c == 5


def test_chsql_r7_fifth_probe_batch(spark):
    """r7 fifth probe batch: -Distinct / -SimpleState combinators,
    interval constructors, toRelative* family, bitmask decompositions,
    Lp-norm/distance family, case-insensitive search variants, UUID
    validation casts, and guided errors for state/introspection
    spellings."""
    import datetime

    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    spark.createDataFrame([(1.0,), (1.0,), (2.0,)], "x double") \
        .createOrReplaceTempView("tb5")
    g = lambda e: spark.sql(
        translate(f"SELECT {e} AS r FROM tb5")).collect()[0].r
    assert g("sumDistinct(x)") == 3.0 and g("avgDistinct(x)") == 1.5
    assert g("sumSimpleState(x)") == 4.0
    assert one("toInterval(2, 'day') + toDateTime('2024-01-01 00:00:00')") \
        == datetime.datetime(2024, 1, 3)
    assert one("timestampAdd(toDate('2024-01-01'), INTERVAL 1 MONTH)") == \
        datetime.date(2024, 2, 1)
    assert one("toRelativeYearNum(toDate('2010-05-01'))") == 2010
    assert one("toRelativeQuarterNum(toDate('2010-05-01'))") == 8042
    assert one("toRelativeWeekNum(toDate('1970-01-01'))") == 0
    assert one("toRelativeWeekNum(toDate('1970-01-05'))") == 1
    assert one("bitmaskToArray(10)") == [2, 8]
    assert one("bitmaskToList(10)") == "2,8"
    assert one("bitPositionsToArray(10)") == [1, 3]
    assert one("toLowCardinality('x')") == "x"
    assert abs(one("LpNorm([3.0, 4.0], 2)") - 5.0) < 1e-9
    assert one("LinfNorm([-3.0, 2.0])") == 3.0
    assert one("L1Normalize([1.0, 3.0])") == [0.25, 0.75]
    assert abs(one("LpDistance([0.0], [2.0], 2)") - 2.0) < 1e-9
    assert one("positionCaseInsensitiveUTF8('Hello', 'LL')") == 3
    assert one("countSubstringsCaseInsensitive('AaA', 'a')") == 3
    assert one("toUUIDOrNull('zz')") is None
    assert one("toUUIDOrZero('zz')") == \
        "00000000-0000-0000-0000-000000000000"
    for bad, hint in [
        ("initializeAggregation('s', 1)", "Merge"),
        ("runningConcurrency(a, b)", "maxIntersections"),
        # r10 continuation: literal tuples now map; column form points
        # at the array spellings
        ("tupleHammingDistance(a, b)", "zip_with"),
        ("UUIDStringToNum('x')", "binary"),
    ]:
        with _pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM t")


def test_chsql_r7_sixth_probe_batch(spark):
    """r7 sixth probe batch: multi-component JSON paths (the old code
    silently used only the first component), typed JSONExtract,
    JSONType/isValidJSON, date makers, hash-family spellings, AES
    encrypt/decrypt round trip, set-based n-gram similarity, HTML strip,
    and -OrDefault casts."""
    import datetime

    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    j = "'{\"a\": {\"b\": 7, \"s\": \"x\"}, \"arr\": [10, 20], \"f\": 1.5}'"
    assert one(f"JSONExtractInt({j}, 'a', 'b')") == 7
    assert one(f"JSONExtractString({j}, 'a', 's')") == "x"
    assert one(f"JSONExtractInt({j}, 'arr', 1)") == 10  # CH 1-based
    assert one(f"JSONExtract({j}, 'a', 'b', 'Int64')") == 7
    assert one(f"JSONExtract({j}, 'arr', 'Array(Int64)')") == [10, 20]
    kv = one("JSONExtractKeysAndValues('{\"x\": 1, \"y\": 2}', 'Int64')")
    assert [(e.col1, e.col2) for e in kv] == [("x", 1), ("y", 2)]
    assert one(f"JSONExtractKeys({j})") == ["a", "arr", "f"]
    assert one(f"JSONType({j})") == "Object"
    assert one("JSONType('[1]')") == "Array"
    assert one("JSONType('1.5')") == "Float64"
    assert one(f"JSON_VALUE({j}, '$.a.b')") == "7"
    assert one(f"JSON_EXISTS({j}, '$.zz')") is False
    assert one("isValidJSON('{bad')") is False
    assert one("makeDate32(2024, 3, 15)") == datetime.date(2024, 3, 15)
    assert one("YYYYMMDDhhmmssToDateTime(20240315103000)") == \
        datetime.datetime(2024, 3, 15, 10, 30)
    assert one("toUnixTimestamp64Nano(toDateTime('1970-01-01 00:00:01'))") \
        == 1000000000
    assert len(one("sipHash128('a')")) == 32
    assert one(
        "decrypt('aes-128-ecb', encrypt('aes-128-ecb', 'hello',"
        " '1234567890123456'), '1234567890123456')") == "hello"
    assert one("ngramDistance('hello', 'hello')") == 0.0
    assert one("ngramDistance('abcde', 'zzzzz')") == 1.0
    assert abs(one("ngramSearch('hello world', 'hello')") - 1.0) < 1e-9
    assert one(
        "extractTextFromHTML("
        "'<p>Hi <b>you</b></p><script>var x=1;</script>')") == "Hi you"
    assert one("toInt64OrDefault('x', 7)") == 7
    assert one("toDateOrDefault('x', toDate('2020-01-02'))") == \
        datetime.date(2020, 1, 2)
    for bad, hint in [
        ("aes_encrypt_mysql('m','x','k')", "key-folding"),
        ("reinterpretAsUInt32(x)", "CAST"),
        ("multiFuzzyMatchAny('a', 1, ['a'])", "levenshtein"),
        ("encrypt('rc4', 'x', 'k')", "aes"),
    ]:
        with _pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM t")


def test_chsql_keyed_array_aggregates(spark):
    """r7: the 2-arg keyed forms arraySum/Avg/Min/Max/Product(lambda, arr)
    dropped the array argument entirely (aggregate(<lambda>, ...) — a
    parse error downstream at best); they now aggregate the mapped
    values. Plus guided errors for join/model-state spellings."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("arraySum(x -> x * 2, [1,2])") == 6.0
    assert one("arrayAvg(x -> x * 2, [1,2])") == 3.0
    assert one("arrayMin(x -> -x, [1,2])") == -2
    assert one("arrayMax(x -> -x, [1,2])") == -1
    assert one("arrayProduct(x -> x + 1, [1,2])") == 6.0
    assert one("arraySum([1,2,3])") == 6.0  # 1-arg forms unchanged
    # r10 continuation: arrayReduceInRanges now composes for real
    assert one("arrayReduceInRanges('sum', [(1,2)], [1,2])") == [3.0]
    for bad, hint in [
        ("joinGet('t','c',1)", "dictGet"),
        ("catboostEvaluate('m', x)", "Pandas"),
    ]:
        with _pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM t")


def test_chsql_distinct_on(spark):
    """CH `SELECT DISTINCT ON (cols)` rewrites onto the LIMIT 1 BY
    machinery (inheriting its deterministic-ORDER-BY requirement and
    trailing-LIMIT composition); nested forms refuse loudly."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate
    from canal_clickhouse_spark.catalog import register_views

    register_views(spark, "/root/testdata/sf0.001")
    r = spark.sql(translate(
        "SELECT DISTINCT ON (event_type) event_type, event_id FROM events"
        " ORDER BY event_type, event_id")).collect()
    assert len(r) == len({x.event_type for x in r}) > 0
    # first row per group under the ORDER BY
    assert r[0].event_type == "click"
    r2 = spark.sql(translate(
        "SELECT DISTINCT ON (event_type) event_type, event_id FROM events"
        " ORDER BY event_type, event_id LIMIT 2")).collect()
    assert len(r2) == 2 and r2[0] == r[0]
    with _pytest.raises(ValueError, match="subquery"):
        translate("SELECT * FROM (SELECT DISTINCT ON (a) a FROM t ORDER BY a)")
    with _pytest.raises(ValueError, match="deterministic|ORDER BY"):
        translate("SELECT DISTINCT ON (event_type) event_id FROM events")


def test_chsql_r8_third_probe_batch(spark):
    """r8 third probe batch: the functional CASE spelling, UTC timestamp
    shifts, byte-padded bin/unbin round trip, topology-constant identity
    functions, guided errors for tuple arithmetic / partial map sort /
    ranked enumeration, and the chained-parametric-application loud raise
    (previously `quantileGK(100)(0.5)(x)` emitted broken SQL)."""
    import datetime

    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("caseWithExpression('F', 'O', 1, 'F', 2, 0)") == 2
    assert one("caseWithExpression('Z', 'O', 1, 'F', 2, 0)") == 0
    # even-arg form: no default -> NULL
    assert one("caseWithExpression('Z', 'O', 1, 'F', 2)") is None
    assert one(
        "toUTCTimestamp(toDateTime('2020-01-01 08:00:00'), 'Asia/Shanghai')"
    ) == datetime.datetime(2020, 1, 1, 0, 0)
    assert one(
        "fromUTCTimestamp(toDateTime('2020-01-01 00:00:00'),"
        " 'Asia/Shanghai')"
    ) == datetime.datetime(2020, 1, 1, 8, 0)
    # CH zero-pads bin() to the byte width; unbin inverts arbitrary widths
    assert one("bin(42)") == "00101010"
    assert one("bin(300)") == "0000000100101100"
    assert one("unbin('00101010')") == "*"
    assert one("unbin('101010')") == "*"  # left-pad to the byte boundary
    assert one("unbin(bin(72) || bin(105))") == "Hi"
    assert one("unbin('')") == ""
    assert one("FQDN()") == "localhost"
    assert one("shardNum()") == 1 and one("shardCount()") == 1
    # r10 continuation: literal tuple arithmetic now maps (column forms
    # still refuse — pinned in test_chsql_r10_tuple_literal_arithmetic)
    assert tuple(one("tupleMultiply((1, 2), (3, 4))")) == (3, 8)
    assert tuple(one("tuplePlus((1, 2), (3, 4))")) == (4, 6)
    for bad, hint in [
        ("mapPartialSort((k, v) -> v, 1, map('a', 2))", "mapSort"),
        ("arrayEnumerateUniqRanked([1, 1, 2])", "arrayEnumerateUniq"),
        ("quantileGK(100)(0.5)(x)", "chained parametric"),
    ]:
        with _pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM t")


def test_chsql_r8_fourth_probe_batch(spark):
    """r8 fourth probe batch: table functions in FROM position (values /
    null / generateRandom / view / zeros / system.one / generate_series —
    all previously passed through verbatim into Spark's parser), the
    plural-quantiles impl family, groupUniqArray(N), URL surgery
    (port / cutURLParameter / URLPathHierarchy / domainWithoutWWW),
    base64URL round trip, change* date-field setters, MySQL-%-format
    parseDateTime, and assorted scalar spellings."""
    import datetime

    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    q = lambda s: [tuple(r) for r in spark.sql(translate(s)).collect()]
    # table functions
    assert q("SELECT a, b FROM values('a Int32, b String', (1, 'x'),"
             " (2, 'y')) ORDER BY a") == [(1, "x"), (2, "y")]
    assert q("SELECT * FROM values((10, 'p'))") == [(10, "p")]
    assert q("SELECT a FROM null('a Int32')") == []
    assert len(q("SELECT a FROM generateRandom('a Int32, s String', 7)"
                 " LIMIT 5")) == 5
    assert q("SELECT sum(zero) AS s FROM zeros(5)") == [(0,)]
    assert q("SELECT max(generate_series) AS m"
             " FROM generate_series(2, 8, 2)") == [(8,)]
    assert q("SELECT dummy FROM system.one") == [(0,)]
    assert q("SELECT x FROM view(SELECT 3 AS x)") == [(3,)]
    # plural quantile impls + groupUniqArray(N)
    two = "(SELECT 1.0 AS x UNION ALL SELECT 3.0)"
    assert q(f"SELECT quantilesTDigest(0.5)(x) AS r FROM {two}") == \
        [([2.0],)]
    assert q(f"SELECT quantilesExactWeighted(0.5)(x, 1) AS r FROM {two}") \
        == [([2.0],)]
    g = q("SELECT groupUniqArray(2)(o) AS g FROM (SELECT 'a' AS o"
          " UNION ALL SELECT 'b' UNION ALL SELECT 'c')")[0][0]
    assert len(g) == 2
    # URL surgery
    assert one("port('http://x.com:8080/a')") == 8080
    assert one("port('http://x.com/a')") == 0
    assert one("cutURLParameter('http://x.com/?a=1&b=2', 'a')") == \
        "http://x.com/?b=2"
    assert one("cutURLParameter('http://x.com/?a=1&b=2', 'b')") == \
        "http://x.com/?a=1"
    assert one("URLPathHierarchy('https://example.com/browse/CONV-6788')") \
        == ["/browse/", "/browse/CONV-6788"]
    assert one("domainWithoutWWW('http://www.x.com/a')") == "x.com"
    # encode / date / scalar spellings
    assert one("base64URLEncode('https://clickhouse.com')") == \
        "aHR0cHM6Ly9jbGlja2hvdXNlLmNvbQ"
    assert one("base64URLDecode('aHR0cHM6Ly9jbGlja2hvdXNlLmNvbQ')") == \
        "https://clickhouse.com"
    assert one("changeYear(toDate('2020-03-05'), 2023)") == \
        datetime.date(2023, 3, 5)
    assert one("changeHour(toDateTime('2020-03-05 10:20:30'), 5)") == \
        datetime.datetime(2020, 3, 5, 5, 20, 30)
    assert one("parseDateTime('2021-02-03', '%Y-%m-%d')") == \
        datetime.datetime(2021, 2, 3)
    assert one("parseDateTimeOrNull('zz', '%Y-%m-%d')") is None
    assert one("parseDateTimeInJodaSyntax('2021-02-03', 'yyyy-MM-dd')") \
        == datetime.datetime(2021, 2, 3)
    assert one("date_diff('day', toDate('2020-01-01'),"
               " toDate('2020-01-05'))") == 4
    assert sorted(one("arrayUnion([1, 2], [2, 3])")) == [1, 2, 3]
    assert sorted(one("arraySymmetricDifference([1, 2], [2, 3])")) == [1, 3]
    assert one("positiveModulo(-5, 3)") == 1
    assert one("isZeroOrNull(0)") is True
    assert one("indexOfAssumeSorted([10, 20, 30], 20)") == 2
    assert one("indexOfAssumeSorted([10, 20, 30], 99)") == 0
    assert one("firstLine('ab\\ncd')") == "ab"
    assert one("splitByNonAlpha('a,b;c')") == ["a", "b", "c"]
    assert one("overlayUTF8('hello', 'XY', 2)") == "hXYlo"
    assert float(one("divideDecimal(toDecimal64(10.5, 2),"
                     " toDecimal64(2.5, 2), 2)")) == 4.2
    assert len(one("randomPrintableASCII(10)")) == 10
    assert one("nothing()") is None
    assert one("user()") == "default"
    for bad, hint in [
        ("sumArgMin(x, k)", "min_by/max_by"),
        ("sumResample(0, 10, 2)(x, k)", "GROUP BY"),
        ("groupUniqArray(2)(x)(y)", "chained parametric"),
        ("mortonEncode(1, 2)", "bit-interleave"),
        ("evalMLMethod(m, 1.0)", "MLlib"),
    ]:
        with _pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM t")


def test_chsql_r8_fifth_probe_batch(spark):
    """r8 fifth probe batch: combinator stacks (-Array∘-If, -Distinct∘-If,
    -If∘-OrNull/-OrDefault — previously leaked as undefined functions),
    multi-array HOF lambdas (previously SILENTLY WRONG: Spark's 2-arg
    lambda bound the index where CH binds the second array), the ternary
    ``cond ? a : b`` operator, ANSI ``position(needle IN haystack)``
    (previously an IndexError crash), ``expr IN table`` sugar,
    ``LIMIT n OFFSET m BY``, and the INTO OUTFILE guided refusal."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    q = lambda s: [tuple(r) for r in spark.sql(translate(s)).collect()]
    # combinator stacks
    assert q("SELECT sumArrayIf(arr, c) AS r"
             " FROM (SELECT array(1, 2) AS arr, true AS c)") == [(3.0,)]
    assert q("SELECT sumArrayIf(arr, c) AS r"
             " FROM (SELECT array(1, 2) AS arr, false AS c)") == [(0.0,)]
    assert q("SELECT maxDistinctIf(x, x < 3) AS r"
             " FROM (SELECT 1 AS x UNION ALL SELECT 5)") == [(1,)]
    assert q("SELECT avgIfOrNull(x, x < 0) AS r FROM (SELECT 1.0 AS x)") \
        == [(None,)]
    assert q("SELECT sumIfOrDefault(x, x < 0) AS r FROM (SELECT 1 AS x)") \
        == [(0,)]
    assert q("SELECT countIfOrNull(x, x > 0) AS r FROM (SELECT 1 AS x)") \
        == [(1,)]
    # multi-array HOF lambdas
    assert one("arrayMap((x, y) -> x + y, [1, 2], [10, 20])") == [11, 22]
    assert one("arraySort((x, y) -> y, ['a', 'b', 'c'], [3, 1, 2])") == \
        ["b", "c", "a"]
    assert one("arrayReverseSort((x, y) -> y, ['a', 'b'], [1, 2])") == \
        ["b", "a"]
    assert one("arrayExists((x, y) -> x = y, [1, 2], [2, 2])") is True
    assert one("arrayAll((x, y) -> x <= y, [1, 2], [2, 2])") is True
    assert one("arrayCount((x, y) -> x < y, [1, 2], [2, 2])") == 1
    assert one("arrayFilter((x, y) -> y > 0, ['a', 'b'], [0, 1])") == ["b"]
    assert one("arrayFirst((x, y) -> y = 1, [7, 8], [0, 1])") == 8
    assert one("arrayFirstIndex((x, y) -> y = 1, [7, 8], [0, 1])") == 2
    assert one("arraySum((x, y) -> x * y, [1, 2], [3, 4])") == 11.0
    # ternary operator (single, nested-false, parenthesized-composed)
    assert one("1 < 2 ? 'y' : 'n'") == "y"
    assert one("1 > 2 ? 'a' : 3 > 2 ? 'b' : 'c'") == "b"
    assert one("(1 < 2 ? 10 : 20) + 5") == 15
    rows = q("SELECT x % 2 = 0 ? 'even' : 'odd' AS p, count() AS c"
             " FROM (SELECT 1 AS x UNION ALL SELECT 2 UNION ALL SELECT 4)"
             " GROUP BY p ORDER BY p")
    assert rows == [("even", 2), ("odd", 1)]
    # ANSI position + IN-table sugar
    assert one("position('lo' IN 'hello')") == 4
    assert one("position('hello', 'lo')") == 4
    spark.sql("SELECT 42 AS k UNION ALL SELECT 7").createOrReplaceTempView(
        "ks8")
    assert one("42 IN ks8") is True
    assert one("5 NOT IN ks8") is True
    # LIMIT n OFFSET m BY
    assert q("SELECT x, k FROM (SELECT 1 AS x, 'a' AS k UNION ALL"
             " SELECT 2, 'a' UNION ALL SELECT 3, 'a')"
             " ORDER BY k, x LIMIT 1 OFFSET 1 BY k") == [(2, "a")]
    for bad, hint in [
        ("SELECT 1 INTO OUTFILE '/tmp/x'", "sink"),
        ("SELECT arrayMap((x, y, z) -> x, a, b, c) FROM t", "arrayZip"),
        ("SELECT position('a', 'b', 1, 2, 3) FROM t", None),
    ]:
        if hint is None:
            continue
        with _pytest.raises(ValueError, match=hint):
            translate(bad)


def test_chsql_distinct_window_and_subscript_edges(spark):
    """r8 probe: uniqExact/countDistinct as a WINDOW function — Spark
    rejects DISTINCT window aggregates, so the emitted text rewrites to
    size(collect_set() OVER) (the exact distinct-set window state), cast
    BIGINT to stay type-equal with the aggregate-context spelling.
    Negative subscripts (CH tail indexing) are also pinned here."""
    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    spark.sql(
        "SELECT 1 AS g, 'a' AS s UNION ALL SELECT 1, 'b'"
        " UNION ALL SELECT 1, 'a' UNION ALL SELECT 2, 'z'"
    ).createOrReplaceTempView("dw8")
    rows = spark.sql(translate(
        "SELECT g, uniqExact(s) OVER (PARTITION BY g) AS u FROM dw8"
        " ORDER BY g, u")).collect()
    assert [(r.g, r.u) for r in rows] == [(1, 2), (1, 2), (1, 2), (2, 1)]
    assert dict(rows[0].asDict())["u"] == 2
    # multi-arg form wraps a struct; aggregate context stays count DISTINCT
    t = translate("SELECT uniqExact(a, b) OVER (PARTITION BY g) FROM t")
    assert "collect_set(struct(a, b))" in t
    t2 = translate("SELECT uniqExact(s) AS u FROM dw8")
    assert "count(DISTINCT" in t2
    # CH tail subscripts
    assert one("[10, 20, 30][-1]") == 30
    assert one("arrayElement([1, 2, 3], -2)") == 2


def test_chsql_recursive_cte(spark):
    """WITH RECURSIVE passes through (Spark 4 native); CH spellings inside
    the recursive body still translate; scalar-WITH items keep working."""
    from canal_clickhouse_spark.chsql import translate

    t = translate(
        "WITH RECURSIVE r AS (SELECT toInt64(1) AS n UNION ALL"
        " SELECT n + 1 FROM r WHERE n < 5)"
        " SELECT groupArray(n) AS g FROM r")
    assert "RECURSIVE" in t and "collect_list" in t and "CAST(1 AS BIGINT)" in t
    assert spark.sql(t).collect()[0].g == [1, 2, 3, 4, 5]
    # plain scalar WITH unaffected
    t2 = translate("WITH 3 AS k SELECT k + 1 AS r")
    assert spark.sql(t2).collect()[0].r == 4


def test_chsql_system_numbers_and_strict(spark):
    """``system.numbers[_mt]`` (CH's unbounded integer stream) maps to a
    2^40-row lazy range — the outer LIMIT pulls only what it needs; the
    star modifiers accept CH's STRICT flag (this translation is already
    strict about unknown names)."""
    from canal_clickhouse_spark.chsql import translate

    rows = spark.sql(translate(
        "SELECT number FROM system.numbers LIMIT 5")).collect()
    assert [r.number for r in rows] == [0, 1, 2, 3, 4]
    rows = spark.sql(translate(
        "SELECT number * 2 AS d FROM system.numbers_mt"
        " WHERE number > 1 LIMIT 2")).collect()
    assert [r.d for r in rows] == [4, 6]
    spark.sql("SELECT 1 AS a, 2 AS b").createOrReplaceTempView("ss8")
    assert spark.sql(translate(
        "SELECT * EXCEPT STRICT (b) FROM ss8")).columns == ["a"]


def test_chsql_interpolate_linear(spark):
    """r8: ``WITH FILL … INTERPOLATE (v AS v + k)`` — the linear form.
    Each inserted row advances the previous value by the constant; the
    closed form is last_actual + k × steps-since-actual (window spelling,
    no iteration). Carry-forward and non-interpolated columns keep their
    prior behavior; non-linear expressions still refuse loudly."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    rows = spark.sql(translate(
        "SELECT n, v FROM (SELECT 1 AS n, 10 AS v UNION ALL SELECT 5, 50)"
        " ORDER BY n WITH FILL FROM 1 TO 8 INTERPOLATE (v AS v + 5)"
    )).collect()
    assert [(r.n, r.v) for r in rows] == [
        (1, 10), (2, 15), (3, 20), (4, 25), (5, 50), (6, 55), (7, 60)]
    rows = spark.sql(translate(
        "SELECT n, v FROM (SELECT 2 AS n, 30 AS v UNION ALL SELECT 5, 9)"
        " ORDER BY n WITH FILL FROM 2 TO 7 INTERPOLATE (v AS v - 10)"
    )).collect()
    assert [(r.n, r.v) for r in rows] == [
        (2, 30), (3, 20), (4, 10), (5, 9), (6, -1)]
    with _pytest.raises(ValueError, match="linear"):
        translate("SELECT n, v FROM t ORDER BY n WITH FILL"
                  " INTERPOLATE (v AS v * 2)")


def test_chsql_star_modifiers_on_subquery(spark, sf_dir):
    """r8: star modifiers (* APPLY / * EXCEPT APPLY / COLUMNS) expand
    against a FROM (SELECT …) subquery when every inner select item
    carries a plain output name — previously any subquery source refused.
    Joins still refuse (the text rewriter can't know the star's width)."""
    import pytest as _pytest

    from canal_clickhouse_spark.catalog import register_views
    from canal_clickhouse_spark.chsql import translate

    register_views(spark, sf_dir)

    q = lambda s: [tuple(r) for r in spark.sql(translate(s)).collect()]
    assert q("SELECT * APPLY(sum) FROM (SELECT 1 AS a, 2 AS b) t") == \
        [(1, 2)]
    assert q("SELECT * EXCEPT(b) APPLY(max)"
             " FROM (SELECT 1 AS a, 2 AS b, 3 AS c) t") == [(1, 3)]
    assert q("SELECT COLUMNS('^a')"
             " FROM (SELECT 1 AS a1, 2 AS a2, 3 AS b) t") == [(1, 2)]
    # r10: a table named INSIDE the subquery no longer disqualifies —
    # the inner select list, not the inner table, defines the width
    assert q("SELECT * APPLY(sum)"
             " FROM (SELECT r_regionkey AS k, r_regionkey * 2 AS d"
             " FROM region)") == \
        q("SELECT sum(r_regionkey), sum(r_regionkey * 2) FROM region")
    assert q("SELECT * EXCEPT(nm) APPLY(max)"
             " FROM (SELECT r_regionkey AS k, r_name AS nm FROM region)"
             ) == q("SELECT max(r_regionkey) FROM region")
    with _pytest.raises(ValueError, match="expand against"):
        translate("SELECT * APPLY(sum) FROM orders o JOIN customer c"
                  " ON 1 = 1")


def test_chsql_unbound_parameter_guard(spark):
    """A bare {p:Type} placeholder reaching translate() raises the
    bind-through-ChSession guidance instead of leaking into Spark's
    parser; JSON literals (quoted keys) never match the scan."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    with _pytest.raises(ValueError, match="SET param_p"):
        translate("SELECT {p:Int64} AS x")
    t = translate("SELECT JSONHas('{\"a\": 1}', 'a') AS h")
    assert "get_json_object" in t


def test_chsql_alias_in_aggregate_and_cube_totals(spark):
    """r8: CH's alias-as-macro model inside AGGREGATE arguments — Spark's
    lateral column alias refuses these (LATERAL_COLUMN_ALIAS_IN_
    AGGREGATE_FUNC), so select-list references expand textually (forward
    references included, subquery scopes untouched). WITH CUBE/ROLLUP ×
    WITH TOTALS raises the already-contains-() guidance instead of
    emitting broken grouping-sets SQL."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    spark.sql("SELECT 1 AS x, 10.0 AS y UNION ALL SELECT 2, 20.0"
              ).createOrReplaceTempView("am8")
    q = lambda s: [tuple(r) for r in spark.sql(translate(s)).collect()]
    assert q("SELECT x % 2 AS d, sum(d) AS s FROM am8 GROUP BY d"
             " ORDER BY d") == [(0, 0), (1, 1)]
    # forward reference
    assert q("SELECT sum(d) AS s, x % 2 AS d FROM am8 GROUP BY d"
             " ORDER BY d") == [(0, 0), (1, 1)]
    # plain lateral chains still work
    assert q("SELECT x + 1 AS b, b * 2 AS c FROM am8 ORDER BY b") == \
        [(2, 4), (3, 6)]
    # subquery scopes are not rewritten from the outer list
    assert q("SELECT count(DISTINCT d) AS u FROM"
             " (SELECT x % 2 AS d FROM am8)") == [(2,)]
    with _pytest.raises(ValueError, match="GROUPING SETS"):
        translate("SELECT x, count() FROM am8 GROUP BY x WITH CUBE"
                  " WITH TOTALS")


def test_chsql_doc_example_pins(spark):
    """Value pins from ClickHouse's own documentation examples — a
    translation-fidelity battery across the mapped surface (r8). The
    indexOf pin found a real bug: the plain array_position rename used
    null-UNSAFE equality, so a NULL needle returned NULL instead of the
    match position (CH's indexOf compares null-safely)."""
    import datetime

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    pins = [
        ("formatReadableSize(1024)", "1.00 KiB"),
        ("formatReadableSize(1)", "1.00 B"),
        ("formatReadableQuantity(1024)", "1.02 thousand"),
        ("bar(10, 0, 20, 10)", "█████"),
        ("arrayCumSum([1, 1, 1, 1])", [1, 2, 3, 4]),
        ("arrayDifference([1, 2, 3, 4])", [0, 1, 1, 1]),
        ("arrayCompact([1, 1, 2, 2, 3])", [1, 2, 3]),
        ("bitmaskToList(50)", "2,16,32"),
        ("IPv4NumToString(3232235521)", "192.168.0.1"),
        ("splitByChar(',', '1,2,3')", ["1", "2", "3"]),
        ("arrayStringConcat(['12', '3', '4'], ';')", "12;3;4"),
        ("toYYYYMM(toDate('2020-03-05'))", 202003),
        ("editDistance('clickhouse', 'mouse')", 6),
        ("soundex('aksel')", "A240"),
        ("hex(255)", "FF"),
        ("toDayOfYear(toDate('2023-01-10'))", 10),
        ("arrayRotateLeft([1, 2, 3, 4, 5, 6], 2)", [3, 4, 5, 6, 1, 2]),
        ("countSubstrings('aaaa', 'aa')", 2),
        ("positionCaseInsensitive('Hello', 'hello')", 1),
        ("arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1])", 0.75),
        ("widthBucket(10.15, 0, 20, 10)", 6),
        ("lengthUTF8('привет')", 6),
        ("substringUTF8('привет', 2, 3)", "рив"),
        ("bin(14)", "00001110"),
        ("L1Distance([1, 2], [2, 3])", 2.0),
        ("toUnixTimestamp(toDateTime('2017-11-05 08:07:47'))", 1509869267),
        ("timeSlot(toDateTime('2012-01-01 12:20:00'))",
         datetime.datetime(2012, 1, 1, 12, 0)),
        ("roundDuration(230)", 180),
        ("roundAge(23)", 18),
        ("roundToExp2(100)", 64),
        ("intDiv(7, 3)", 2),
        ("gcd(27, 18)", 9),
        ("bitCount(333)", 5),
        ("arrayEnumerateUniq([10, 20, 10, 30])", [1, 1, 2, 1]),
        ("indexOf([1, 3, NULL, NULL], NULL)", 3),
        ("indexOf([1, 3], 3)", 2),
        ("indexOf([1, 3], 9)", 0),
        ("trimBoth('     Hello, world!     ')", "Hello, world!"),
        # arrayShiftLeft pads NULL where CH pads the type default —
        # documented divergence; the explicit fill argument is exact:
        ("arrayShiftLeft([1, 2, 3, 4, 5, 6], 2, 0)", [3, 4, 5, 6, 0, 0]),
    ]
    for expr, want in pins:
        got = one(expr)
        if isinstance(want, float):
            assert abs(got - want) < 1e-6, (expr, got, want)
        else:
            assert got == want, (expr, got, want)


def test_chsql_doc_example_pins_batch2(spark):
    """Second CH-docs pin battery (r8): array surgery, date bucketing,
    URL parts, format(), simpleJSON, padding. Found and fixed:
    tryBase64Decode returned NULL where CH returns '' on invalid input;
    alphaTokens was unmapped. Documented divergences pinned AS OURS:
    arrayResize/arrayShift 2-arg forms pad NULL (CH pads the type
    default; the explicit fill argument is exact), and add{Months,…}
    widen Date to Timestamp (value-equal at midnight)."""
    import datetime

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    pins = [
        ("arraySlice([1, 2, 3, 4, 5], 2, 3)", [2, 3, 4]),
        ("arrayPushBack(['a'], 'b')", ["a", "b"]),
        ("arrayPopBack([1, 2, 3])", [1, 2]),
        ("arrayResize([1], 3, 0)", [1, 0, 0]),
        ("arrayResize([1], 3)", [1, None, None]),  # documented NULL pad
        ("splitByRegexp('\\\\d+', 'a12bc23de345f')", ["a", "bc", "de", "f"]),
        ("alphaTokens('abca1abc')", ["abca", "abc"]),
        ("extractAll('aaa==bbb==ccc', '[^=]+')", ["aaa", "bbb", "ccc"]),
        ("mapKeys(map('a', 1))", ["a"]),
        ("toStartOfQuarter(toDate('2023-04-21'))", datetime.date(2023, 4, 1)),
        ("toLastDayOfMonth(toDate('2023-04-21'))",
         datetime.date(2023, 4, 30)),
        ("addMonths(toDate('2023-01-31'), 1)",
         datetime.datetime(2023, 2, 28)),  # documented Date→Timestamp widen
        ("dateName('weekday', toDate('2023-04-21'))", "Friday"),
        ("toISOWeek(toDate('2023-01-01'))", 52),
        ("toISOYear(toDate('2023-01-01'))", 2022),
        ("formatDateTime(toDate('2010-01-04'), '%Y-%m-%d')", "2010-01-04"),
        ("leftPad('abc', 7, '*')", "****abc"),
        ("rightPad('abc', 7, '*')", "abc****"),
        ("format('{1} {0}', 'World', 'Hello')", "Hello World"),
        ("multiSearchFirstPosition('Hello World', ['llo', 'Wor'])", 3),
        ("ascii('A')", 65),
        ("char(104, 101)", "he"),
        ("bitTest(43, 1)", 1),
        ("sign(-5)", -1),
        ("mapContains(map('a', 1), 'a')", True),
        ("tupleElement((1, 'a'), 2)", "a"),
        ("simpleJSONExtractInt('{\"abc\": 123}', 'abc')", 123),
        ("cutQueryString('http://x.com/?a=1')", "http://x.com/"),
        ("protocol('https://x.com')", "https"),
        ("queryString('http://x.com/?a=1&b=2')", "a=1&b=2"),
        ("fragment('http://x.com/#frag')", "frag"),
        ("decodeURLComponent('a%20b')", "a b"),
        ("base64Encode('clickhouse')", "Y2xpY2tob3VzZQ=="),
        ("tryBase64Decode('invalid!!')", ""),
        ("tryBase64Decode(base64Encode('ok'))", "ok"),
        ("isValidJSON('{}')", True),
        ("startsWith('Spark', 'S')", True),
    ]
    for expr, want in pins:
        got = one(expr)
        assert got == want, (expr, got, want)


def test_chsql_doc_example_pins_batch3(spark):
    """Third CH-docs pin battery (r8): JSON extraction family,
    or-zero arithmetic, null funcs, log/exp, IPv4, substring geometry,
    Julian days, age vs dateDiff boundary counting. Documented
    type-divergences pinned as ours: interval+Date widens to Timestamp,
    and Date − Date yields an INTERVAL (CH: Int32 days — dateDiff is the
    exact spelling, asserted below)."""
    import datetime

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    pins = [
        ("JSONExtractInt('{\"a\": 300}', 'a')", 300),
        ("JSONExtractString('{\"a\": \"hello\"}', 'a')", "hello"),
        ("JSONExtractFloat('{\"a\": 3.5}', 'a')", 3.5),
        ("JSONExtractBool('{\"a\": true}', 'a')", True),
        ("JSONExtractKeys('{\"a\": 1, \"b\": 2}')", ["a", "b"]),
        ("JSONLength('{\"a\": 1, \"b\": 2}')", 2),
        ("JSONLength('[1, 2, 3]')", 3),
        ("JSONType('{}')", "Object"),
        ("JSONType('[1]')", "Array"),
        ("visitParamHas('{\"abc\": 1}', 'abc')", True),
        ("simpleJSONExtractString('{\"a\": \"x\"}', 'a')", "x"),
        ("intDivOrZero(5, 0)", 0),
        ("moduloOrZero(5, 0)", 0),
        ("ifNull(NULL, 7)", 7),
        ("nullIf(3, 3)", None),
        ("isNull(NULL)", True),
        ("exp2(3)", 8.0),
        ("exp10(2)", 100.0),
        ("log2(8)", 3.0),
        ("cbrt(8.0)", 2.0),
        ("degrees(pi())", 180.0),
        ("IPv4StringToNum('192.168.0.1')", 3232235521),
        ("isIPv4String('127.0.0.1')", True),
        ("isIPv4String('hello')", False),
        ("toIntervalDay(2) + toDate('2020-01-01')",
         datetime.datetime(2020, 1, 3)),  # documented widen
        ("substring('hello', -3)", "llo"),
        ("left('hello', 2)", "he"),
        ("right('hello', 2)", "lo"),
        ("mid('hello', 2, 3)", "ell"),
        ("locate('ll', 'hello')", 3),
        ("greatest(1, 5, 3)", 5),
        ("toStartOfTenMinutes(toDateTime('2023-04-21 10:23:00'))",
         datetime.datetime(2023, 4, 21, 10, 20)),
        ("monthName(toDate('2023-04-21'))", "April"),
        ("toModifiedJulianDay('2020-01-01')", 58849),
        ("fromModifiedJulianDay(58849)", datetime.date(2020, 1, 1)),
        ("age('year', toDate('2020-06-01'), toDate('2023-05-31'))", 2),
        ("dateDiff('year', toDate('2020-12-31'), toDate('2021-01-01'))", 1),
        # Date − Date: Spark yields INTERVAL; dateDiff is the exact Int
        ("dateDiff('day', toDate('2020-01-01'), toDate('2020-01-05'))", 4),
    ]
    for expr, want in pins:
        got = one(expr)
        if isinstance(want, float):
            assert abs(got - want) < 1e-9, (expr, got, want)
        else:
            assert got == want, (expr, got, want)


def test_chsql_r9_advice_fixes(spark):
    """r9 advice batch: one-arg -If∘-Or* stacks keep the condition
    (countIfOrNull(cond) previously counted ALL rows); malformed one-arg
    stacks on non-count bases raise guided (previously raw IndexError);
    ANSI position(expr IN col) survives complex operands (previously the
    IN-table sugar mangled the haystack into a table subquery); numeric
    IN RHS splices a list, not a table; quantilesGK keeps an integer
    quantile level spelled '1'."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    spark.sql(
        "SELECT * FROM VALUES (1, 'ab'), (-2, 'xabx'), (3, 'zz')"
        " AS t9(x, s)"
    ).createOrReplaceTempView("t9")
    run1 = lambda q: spark.sql(translate(q)).collect()[0][0]
    # one-arg -If∘-OrNull / -OrDefault: condition must be applied
    assert run1("SELECT countIfOrNull(x > 0) AS c FROM t9") == 2
    assert run1("SELECT countIfOrDefault(x > 0) AS c FROM t9") == 2
    assert run1("SELECT countIfOrNull(x > 99) AS c FROM t9") is None
    assert run1("SELECT countIfOrDefault(x > 99) AS c FROM t9") == 0
    # two-arg stacks unchanged
    assert run1("SELECT sumIfOrNull(x, x > 0) AS s FROM t9") == 4
    assert run1("SELECT sumIfOrNull(x, x > 99) AS s FROM t9") is None
    for bad in ("sumIfOrNull(x > 0)", "avgIfOrDefault(x > 0)",
                "minIfOrNull(x > 0)"):
        with _pytest.raises(ValueError, match="one-argument -If"):
            translate(f"SELECT {bad} FROM t9")
    # ANSI position with a complex needle: haystack stays a column
    assert translate("SELECT position(upper(s) IN s) FROM t9") == (
        "SELECT locate(upper(s), s) FROM t9")
    assert run1("SELECT position(upper(s) IN s) AS p FROM t9") == 0
    assert run1("SELECT position('b' IN s) AS p FROM t9") == 2
    # comma form untouched by the IN rewrite (function handler's job)
    assert run1("SELECT position(s, 'b') AS p FROM t9") == 2
    # numeric IN RHS: a one-element list, never FROM <digit>
    assert translate("SELECT 1 IN 1") == "SELECT 1 IN (1)"
    assert run1("SELECT 1 IN 1 AS r") is True
    # quantilesGK: integer level '1' is a LEVEL, not the accuracy param
    assert run1("SELECT quantiles(1)(x) AS q FROM t9") == [3.0]
    assert run1("SELECT quantilesGK(100, 0.5)(x) AS q FROM t9") == [1.0]
    assert run1("SELECT quantilesGK(100, 1)(x) AS q FROM t9") == [3.0]


def test_chsql_r9_passthrough_closures(spark):
    """r9 verdict missing #2/#3: the four silent passthroughs closed —
    scaled fallible decimal casts, groupArrayInsertAt (bare + parametric
    default/size + -If stack), arrayROCAUC (alias of arrayAUC), WITH FILL
    STALENESS (per-original-row fill windows), and
    extractAllGroups{Vertical,Horizontal}/extractGroups for literal
    patterns."""
    from decimal import Decimal

    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    # scaled fallible decimal casts — previously passthrough (32/128/256)
    # or scale-LOSING (64 mapped to a fixed DECIMAL(18,6))
    assert one("toDecimal32OrZero('bad', 2)") == Decimal("0.00")
    assert one("toDecimal32OrZero('1.5', 2)") == Decimal("1.50")
    assert one("toDecimal64OrNull('x', 4)") is None
    assert one("toDecimal64OrNull('2.25', 4)") == Decimal("2.2500")
    assert one("toDecimal128OrNull('2.25', 10)") == Decimal("2.25")
    assert one("toDecimal64OrDefault('x', 4, 1.5)") == Decimal("1.5000")
    assert one("toDecimal256OrZero('7', 1)") == Decimal("7.0")
    with _pytest.raises(ValueError, match="literal integer scale"):
        translate("SELECT toDecimal32OrNull(s) FROM t")
    # extractAllGroups family for literal patterns
    assert one(
        r"extractAllGroupsVertical('abc=111, def=222', '(\\w+)=(\\d+)')"
    ) == [["abc", "111"], ["def", "222"]]
    assert one(
        r"extractAllGroupsHorizontal('abc=111, def=222', '(\\w+)=(\\d+)')"
    ) == [["abc", "def"], ["111", "222"]]
    assert one(r"extractGroups('abc=111', '(\\w+)=(\\d+)')") == [
        "abc", "111"]
    assert one(r"extractGroups('nope', '(\\d+)=(\\d+)')") == []
    assert one(r"extractAllGroupsVertical('zz', '(\\w+)=(\\d+)')") == []
    # r10 advice: '(' inside a character class is a literal, not a group
    assert one(r"extractGroups('(42) rest', '[(]([0-9]+)[)]')") == ["42"]
    assert one(
        r"extractAllGroupsVertical('[a]=1 [b]=2', '\\[(\\w)\\]=(\\d)')"
    ) == [["a", "1"], ["b", "2"]]
    with _pytest.raises(ValueError, match="string literal"):
        translate("SELECT extractAllGroupsVertical(s, pat) FROM t")
    # arrayROCAUC (CH's newer name for arrayAUC)
    assert one("arrayROCAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1])") == 0.75
    with _pytest.raises(ValueError, match="unscaled"):
        translate("SELECT arrayROCAUC([0.1], [1], false) FROM t")
    # groupArrayInsertAt: bare, parametric default, default+size, -If
    spark.sql(
        "SELECT * FROM VALUES (1, 0), (3, 2), (5, 4) AS t9i(x, pos)"
    ).createOrReplaceTempView("t9i")
    g = lambda q: spark.sql(translate(q)).collect()[0][0]
    assert g("SELECT groupArrayInsertAt(x, pos) FROM t9i") == [
        1, None, 3, None, 5]
    assert g("SELECT groupArrayInsertAt(0)(x, pos) FROM t9i") == [
        1, 0, 3, 0, 5]
    assert g("SELECT groupArrayInsertAt(0, 3)(x, pos) FROM t9i") == [
        1, 0, 3]
    assert g("SELECT groupArrayInsertAtIf(x, pos, x < 5) FROM t9i") == [
        1, None, 3]
    # WITH FILL STALENESS: per-original-row windows on the step grid
    spark.sql(
        "SELECT * FROM VALUES (0, 10), (7, 20), (14, 30) AS t9f(k, v)"
    ).createOrReplaceTempView("t9f")
    rows = spark.sql(translate(
        "SELECT k, v FROM t9f ORDER BY k WITH FILL STALENESS 3")).collect()
    assert [(r.k, r.v) for r in rows] == [
        (0, 10), (1, 0), (2, 0), (7, 20), (8, 0), (9, 0),
        (14, 30), (15, 0), (16, 0)]
    rows = spark.sql(translate(
        "SELECT k, v FROM t9f ORDER BY k WITH FILL STEP 2 STALENESS 4"
    )).collect()
    assert [(r.k, r.v) for r in rows] == [
        (0, 10), (2, 0), (7, 20), (9, 0), (14, 30), (16, 0)]
    with _pytest.raises(ValueError, match="STALENESS cannot be combined"):
        translate("SELECT k FROM t9f ORDER BY k WITH FILL TO 9"
                  " STALENESS 3")
    with _pytest.raises(ValueError, match="positive step"):
        translate("SELECT k FROM t9f ORDER BY k WITH FILL FROM 0"
                  " STALENESS 3")


def test_chsql_window_family_coverage(spark):
    """r8 verdict task 6: the documented CH window-function list must
    translate-or-guide — never pass a CH-only name through into Spark SQL
    to die as "undefined function". Mapped spellings are EXECUTED against
    a fixture view; guided spellings must raise ValueError at translate
    time."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    spark.sql(
        "SELECT * FROM VALUES (1, 1, 10), (1, 2, 30), (1, 3, 20),"
        " (2, 4, 5) AS t9w(g, ts, x)"
    ).createOrReplaceTempView("t9w")
    mapped = [
        "row_number() OVER (ORDER BY ts)",
        "rank() OVER (ORDER BY x)",
        "dense_rank() OVER (ORDER BY x)",
        "percent_rank() OVER (ORDER BY x)",
        "cume_dist() OVER (ORDER BY x)",
        "ntile(2) OVER (ORDER BY x)",
        "lagInFrame(x) OVER (ORDER BY ts)",
        "lagInFrame(x, 2) OVER (ORDER BY ts)",
        "lagInFrame(x, 2, 0) OVER (ORDER BY ts)",
        "leadInFrame(x) OVER (ORDER BY ts)",
        "leadInFrame(x, 2, 0) OVER (ORDER BY ts)",
        "nth_value(x, 2) OVER (ORDER BY ts)",
        "first_value(x) OVER (ORDER BY ts)",
        "last_value(x) OVER (ORDER BY ts)",
        "anyLast(x) OVER (ORDER BY ts)",
        "sum(x) OVER (PARTITION BY g ORDER BY ts"
        " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)",
        "avg(x) OVER (PARTITION BY g)",
        "count(*) OVER (PARTITION BY g)",
        "uniq(x) OVER (PARTITION BY g)",
        "uniqExact(x) OVER (PARTITION BY g)",
        "quantile(0.5)(x) OVER (PARTITION BY g)",
        "stddevPop(x) OVER (PARTITION BY g)",
        "varSamp(x) OVER (PARTITION BY g)",
    ]
    for spelling in mapped:
        rows = spark.sql(
            translate(f"SELECT g, ts, {spelling} AS w FROM t9w")
        ).collect()
        assert len(rows) == 4, spelling
    # value pins for the lag/lead/nth family (CH arg order == Spark's)
    got = {
        (r.ts, r.w)
        for r in spark.sql(translate(
            "SELECT ts, lagInFrame(x, 1, -1) OVER (ORDER BY ts) AS w"
            " FROM t9w")).collect()
    }
    assert got == {(1, -1), (2, 10), (3, 30), (4, 20)}
    got = {
        (r.ts, r.w)
        for r in spark.sql(translate(
            "SELECT ts, nth_value(x, 2) OVER (ORDER BY ts"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
            " AS w FROM t9w")).collect()
    }
    assert got == {(1, 30), (2, 30), (3, 30), (4, 30)}
    # guided spellings: named ValueError at translate time, never a
    # passthrough
    guided = [
        "nonNegativeDerivative(x, ts) OVER (ORDER BY ts)",
        "exponentialTimeDecayedSum(10)(x, ts) OVER (ORDER BY ts)",
        "exponentialTimeDecayedAvg(10)(x, ts) OVER (ORDER BY ts)",
        "exponentialTimeDecayedCount(10)(ts) OVER (ORDER BY ts)",
        "exponentialTimeDecayedMax(10)(x, ts) OVER (ORDER BY ts)",
        "exponentialMovingAverage(10)(x, ts) OVER (ORDER BY ts)",
        "runningDifference(x)",
        "runningAccumulate(x)",
        "neighbor(x, 1)",
    ]
    for spelling in guided:
        with _pytest.raises(ValueError):
            translate(f"SELECT {spelling} FROM t9w")


def test_chsql_no_silent_passthroughs_in_gate(spark):
    """r8 verdict task 3 (self-check): no name in the translator's
    recognized-call gate may fall through to the verbatim-passthrough
    fallback UNLESS it is a function Spark itself resolves. For every
    gate name at arities 1-3: translate a call; a guided ValueError or a
    rewrite is fine; emitting `<same name>(...)` for a name Spark lacks
    is the silent-passthrough defect class (countIfOrNull/toDecimal32
    OrZero/timestampSub were all caught by exactly this scan)."""
    import re as _re

    from canal_clickhouse_spark import chsql

    spark_fns = {
        r.function.lower()
        for r in spark.sql("SHOW FUNCTIONS").collect()
    }
    # parser-level builtins Spark resolves but SHOW FUNCTIONS omits
    spark_fns |= {"timestampadd", "timestampdiff", "exists", "filter",
                  "transform", "reduce", "aggregate", "position"}
    bad = []
    for name in sorted(chsql._CH_NAMES):
        for nargs in (1, 2, 3):
            args = [f"c{i}" for i in range(nargs)]
            try:
                out = chsql._translate_call(name, args)
            except Exception:
                continue  # guided error / arity error — fine
            m = _re.match(r"\s*([A-Za-z_]\w*)\s*\(", out or "")
            if (
                m
                and m.group(1).lower() == name.lower()
                and name.lower() not in spark_fns
            ):
                bad.append(f"{name}/{nargs} -> {out[:60]}")
                break
    assert not bad, (
        "gate names passing through verbatim to undefined Spark"
        f" functions: {bad}"
    )


def test_chsql_r9_probe_pins(spark):
    """r9 probe sweep (65 spellings executed; one silent passthrough
    found and fixed): value pins for the spellings that had no prior
    pin — regexpQuoteMeta (the fix), substringIndex, ifNotFinite,
    timestampSub's 3-arg form, and NULL-safety edges."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one(r"regexpQuoteMeta('a.b[c]*d')") == r"a\.b\[c\]\*d"
    assert one(r"regexpQuoteMeta('plain')") == "plain"
    assert one(r"regexpQuoteMeta('x|y-z:w')") == r"x\|y\-z\:w"
    assert one("substringIndex('a.b.c', '.', 2)") == "a.b"
    assert one("substringIndex('a.b.c', '.', -1)") == "c"
    assert one("ifNotFinite(2.5, 0)") == 2.5
    # Spark x/0 is NULL (not CH's inf) — feed real non-finites instead
    assert one("ifNotFinite(CAST('Infinity' AS DOUBLE), 99)") == 99.0
    assert one("ifNotFinite(CAST('NaN' AS DOUBLE), 99)") == 99.0
    import datetime
    assert one(
        "timestampSub(HOUR, 2, toDateTime('2020-01-01 12:00:00'))"
    ) == datetime.datetime(2020, 1, 1, 10, 0)
    with _pytest.raises(ValueError, match="timestampSub"):
        translate("SELECT timestampSub(x) FROM t")


def test_chsql_hassubsequence_and_format_clause(spark):
    """r9 probe batch 2: hasSubsequence family (was a silent passthrough —
    pointer-advancing fold) plus FORMAT-clause acceptance pins live in
    the DDL tests. CH doc pin: hasSubsequence('garbage', 'arg') = 1."""
    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("hasSubsequence('garbage', 'arg')") is True
    assert one("hasSubsequence('garbage', 'arbw')") is False
    assert one("hasSubsequence('abc', '')") is True
    assert one("hasSubsequence('', 'a')") is False
    assert one("hasSubsequenceCaseInsensitive('GARbage', 'arG')") is True
    assert one("hasSubsequenceUTF8('привет мир', 'пир')") is True
    assert one(
        "hasSubsequenceCaseInsensitiveUTF8('ПРИВЕТ мир', 'пир')") is True


def test_chsql_xml_html_entities(spark):
    """r9 probe batch 2: encodeXMLComponent (exact CH parity — the five
    XML entities, ampersand first) and decodeHTMLComponent (named basic
    set + numeric below 128; exotic entities pass through — documented
    divergence, Spark's char() wraps mod 256)."""
    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("encodeXMLComponent('<b>&</b>')") == \
        "&lt;b&gt;&amp;&lt;/b&gt;"
    assert one("encodeXMLComponent('\"q\"')") == "&quot;q&quot;"
    assert one(
        "decodeHTMLComponent('&lt;b&gt; &amp; &quot;x&quot; &#39;y&#x27;')"
    ) == "<b> & \"x\" 'y'"
    assert one("decodeHTMLComponent('plain')") == "plain"
    assert one("decodeHTMLComponent('&#65;BC')") == "ABC"
    assert one("decodeHTMLComponent('&unknown;kept')") == "&unknown;kept"
    # r10 advice: named nbsp decodes to the real U+00A0, matching CH and
    # consistent with the numeric &#160; >=128 passthrough rule
    assert one("decodeHTMLComponent('a&nbsp;b')") == "a\u00a0b"
    # round trip on the XML set
    assert one(
        "decodeHTMLComponent(encodeXMLComponent('<a>&\"z\"</a>'))"
    ) == '<a>&"z"</a>'


def test_chsql_asof_any_join_aliasless(spark, sf_dir):
    """r9 probe: alias-less ``FROM l ASOF JOIN r`` / ``ANY JOIN`` — CH's
    most common spelling — previously slipped past the rewrite regex
    (which demanded explicit aliases); Spark then parsed ASOF as a table
    alias and failed with a misleading UNRESOLVED_COLUMN. Missing alias
    now defaults to the table's own name; value-compared against the
    explicitly-aliased spelling."""
    from canal_clickhouse_spark.chsql import ch_sql, translate

    t = translate(
        "SELECT events.event_id FROM events ASOF JOIN orders "
        "ON events.user_id = orders.o_custkey"
        " AND events.ts >= orders.o_orderdate"
    )
    assert "PARTITION BY events.event_id" in t and "_arn = 1" in t
    assert "ASOF" not in t
    t = translate(
        "SELECT events.event_id FROM events ANY LEFT JOIN orders "
        "ON events.user_id = orders.o_custkey"
    )
    assert "_anyrn = 1" in t and " ANY " not in t
    # value parity: alias-less == aliased on the live fixtures
    q_bare = (
        "SELECT count() AS n, min(o_orderdate) AS d0 FROM events"
        " ASOF JOIN orders ON events.user_id = orders.o_custkey"
        " AND events.ts >= orders.o_orderdate"
    )
    q_alias = (
        "SELECT count() AS n, min(o_orderdate) AS d0 FROM events AS e"
        " ASOF JOIN orders AS o ON e.user_id = o.o_custkey"
        " AND e.ts >= o.o_orderdate"
    )
    rb = ch_sql(spark, sf_dir, q_bare).collect()[0]
    ra = ch_sql(spark, sf_dir, q_alias).collect()[0]
    assert (rb.n, rb.d0) == (ra.n, ra.d0) and rb.n > 0
    q_any_bare = (
        "SELECT count() AS n FROM events ANY LEFT JOIN orders"
        " ON events.user_id = orders.o_custkey"
    )
    q_any_alias = (
        "SELECT count() AS n FROM events AS e ANY LEFT JOIN orders AS o"
        " ON e.user_id = o.o_custkey"
    )
    nb = ch_sql(spark, sf_dir, q_any_bare).collect()[0].n
    na = ch_sql(spark, sf_dir, q_any_alias).collect()[0].n
    assert nb == na and nb > 0


def test_chsql_r9_probe_batch2(spark):
    """r9 probe batch 2 (clause sweep): accurateCastOrDefault (explicit
    3-arg default; was a silent passthrough), toIntervalWeek (ditto),
    UUIDv7ToDateTime (RFC 9562 48-bit ms timestamp extraction, pinned on
    a real v7 string)."""
    import datetime

    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("accurateCastOrDefault(300, 'Int8', 7)") == 7
    assert one("accurateCastOrDefault(30, 'Int8', 7)") == 30
    assert one("accurateCastOrDefault('x', 'Int64', -1)") == -1
    with _pytest.raises(ValueError, match="3-argument"):
        translate("SELECT accurateCastOrDefault(300, 'Int8') FROM t")
    # week interval: date + 2 weeks (dt-interval widens to timestamp —
    # same divergence class as toIntervalDay)
    assert one("toDate('2020-01-01') + toIntervalWeek(2)") == \
        datetime.datetime(2020, 1, 15)
    # UUIDv7 embeds unix-ms in its first 48 bits
    v = one("UUIDv7ToDateTime('01890a5d-ac96-774b-bcce-b302099a8057')")
    assert v == datetime.datetime(2023, 6, 30, 3, 34, 18, 518000)


def test_chsql_r9_moving_folds(spark):
    """r9: groupArrayMovingSum/Avg([n])(x) — trailing-window folds over
    the collected list (the old refusal was inconsistent with accepting
    groupArray, whose arrival-order contract is identical). Values pinned
    on an ORDER-BY-driven single partition so arrival order is the sort
    order."""
    from canal_clickhouse_spark.chsql import translate

    spark.sql(
        "SELECT * FROM VALUES (1), (2), (3), (4) AS t9m(x)"
    ).createOrReplaceTempView("t9m")
    g = lambda q: spark.sql(translate(q)).collect()[0][0]
    src = "(SELECT x FROM t9m ORDER BY x)"
    assert g(f"SELECT groupArrayMovingSum(2)(x) FROM {src}") == \
        [1.0, 3.0, 5.0, 7.0]
    assert g(f"SELECT groupArrayMovingSum(x) FROM {src}") == \
        [1.0, 3.0, 6.0, 10.0]
    # CH divides by the window size (or total count for the bare
    # form), NOT the filled-so-far count (r10 advice fix)
    assert g(f"SELECT groupArrayMovingAvg(2)(x) FROM {src}") == \
        [0.5, 1.5, 2.5, 3.5]
    assert g(f"SELECT groupArrayMovingAvg(x) FROM {src}") == \
        [0.25, 0.75, 1.5, 2.5]


def test_chsql_r9_probe_batch3(spark):
    """r9 probe batch 3 (map/date sweep — four passthroughs closed):
    parseTimeDelta (unit-map fold, CH doc pin '1h30m' = 5400),
    extractKeyValuePairs (CH doc example pinned; defaults kv=':' and
    pair separators ' ,;'), the Joda-syntax format/parse pair (Spark's
    DateTimeFormatter shares the yyyy/MM/dd token core), and the
    width-suffixed parseDateTime{32,64}BestEffort aliases."""
    import datetime

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("parseTimeDelta('1h30m')") == 5400.0
    assert one("parseTimeDelta('2 days 3 hours')") == 183600.0
    assert one("parseTimeDelta('1.5s')") == 1.5
    assert one("parseTimeDelta('4 weeks')") == 2419200.0
    assert one("extractKeyValuePairs('a:1,b:2', ':', ',')") == {
        "a": "1", "b": "2"}
    # CH docs example: default separators are ':' and ' ,;'
    assert one("extractKeyValuePairs('name:neymar, age:31 team:psg')") == {
        "name": "neymar", "age": "31", "team": "psg"}
    assert one("extractKeyValuePairs('k=v;x=y', '=', ';')") == {
        "k": "v", "x": "y"}
    assert one(
        "formatDateTimeInJodaSyntax(toDateTime('2020-03-05 10:20:30'),"
        " 'yyyy-MM-dd HH:mm')") == "2020-03-05 10:20"
    assert one(
        "parseDateTimeInJodaSyntax('2020-03-05', 'yyyy-MM-dd')"
    ) == datetime.datetime(2020, 3, 5)
    assert one("parseDateTimeInJodaSyntaxOrNull('junk', 'yyyy-MM-dd')") \
        is None
    assert one("parseDateTime32BestEffort('2020-03-05 10:20:30')") == \
        datetime.datetime(2020, 3, 5, 10, 20, 30)
    assert one("parseDateTime64BestEffortOrNull('junk')") is None
    assert one("parseDateTimeBestEffortUS('2020-03-05')") == \
        datetime.datetime(2020, 3, 5)


def test_chsql_qualify_and_array_batch(spark):
    """r9 probe batch 4: QUALIFY (CH's post-window filter — previously a
    parse-failing passthrough) rewrites the predicate into a hidden
    inner-scope column + outer WHERE, matching CH's evaluation order;
    plus the array fixes found in the same sweep: multi-array arrayUniq
    (extra arrays were silently IGNORED), n-ary arrayIntersect (Spark's
    builtin is binary), arrayEnumerateDense, arrayFirstOrNull /
    arrayLastOrNull, and the empty-match arrayFirst contract (NULL, not
    an index error)."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    spark.sql(
        "SELECT * FROM VALUES (1, 'a'), (2, 'b'), (3, 'a'), (4, 'b')"
        " AS t9q(x, g)"
    ).createOrReplaceTempView("t9q")
    rows = spark.sql(translate(
        "SELECT x, g FROM t9q QUALIFY row_number() OVER"
        " (PARTITION BY g ORDER BY x) = 1 ORDER BY g")).collect()
    assert [(r.x, r.g) for r in rows] == [(1, "a"), (2, "b")]
    rows = spark.sql(translate(
        "SELECT * FROM t9q QUALIFY rank() OVER (ORDER BY x DESC) <= 2"
        " ORDER BY x")).collect()
    assert [r.x for r in rows] == [3, 4]
    # after GROUP BY — the window sees aggregated rows (CH order)
    rows = spark.sql(translate(
        "SELECT g, sum(x) AS s FROM t9q GROUP BY g"
        " QUALIFY row_number() OVER (ORDER BY sum(x) DESC) = 1")).collect()
    assert [(r.g, r.s) for r in rows] == [("b", 6)]
    rows = spark.sql(translate(
        "SELECT x, g FROM t9q QUALIFY row_number() OVER (ORDER BY x) <= 3"
        " ORDER BY x LIMIT 2")).collect()
    assert [r.x for r in rows] == [1, 2]
    with _pytest.raises(ValueError, match="subquery"):
        translate("SELECT * FROM (SELECT x FROM t9q QUALIFY"
                  " row_number() OVER (ORDER BY x) = 1)")
    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("arrayEnumerateDense([10, 20, 10, 30])") == [1, 2, 1, 3]
    assert one("arrayUniq([1, 1, 2], [1, 1, 3])") == 2
    assert one("arrayUniq([1, 1, 2], [1, 2, 2])") == 3
    assert one("arrayIntersect([1, 2], [2, 3], [2, 4])") == [2]
    assert one("arrayFirstOrNull(x -> x > 9, [1, 2, 3])") is None
    assert one("arrayFirst(x -> x > 9, [1, 2, 3])") is None
    assert one("arrayFirstOrNull(x -> x > 1, [1, 2, 3])") == 2
    assert one("arrayLastOrNull(x -> x > 1, [1, 2, 3])") == 3


def test_chsql_r9_probe_batch4_misc(spark):
    """r9 probe batch 4 misc: isNotDistinctFrom → <=>, byteSlice via the
    BINARY substr overload (byte-exact, not character slicing), and the
    guided-error closures for the NLP/sketch/raw-JSON names found passing
    through (detectCharset, ngramMinHash, JSONExtractKeysAndValuesRaw)."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("isNotDistinctFrom(1, NULL)") is False
    assert one("isNotDistinctFrom(NULL, NULL)") is True
    assert one("isNotDistinctFrom(2, 2)") is True
    assert one("byteSlice('hello', 2, 3)") == "ell"
    assert one("byteSlice('hello', 2)") == "ello"
    for bad in ("detectCharset('abc')", "ngramMinHash('abc')",
                "ngramSimHash('abc')",
                "JSONExtractKeysAndValuesRaw('{}')",
                "ngramMinHashCaseInsensitive('abc')",
                "ngramSimHashUTF8('abc')", "wordShingleMinHashUTF8('abc')",
                "wordShingleSimHashUTF8('abc')"):
        with _pytest.raises(ValueError):
            translate(f"SELECT {bad}")


def test_chsql_value_divergence_battery_r9(spark):
    """r9 value-divergence sweep over CH-docs examples for already-mapped
    spellings: everything agreed except the two DOCUMENTED contracts —
    round() ties (half-up here + in the DuckDB oracle; CH floats use
    banker's — roundBankers is the exact spelling, pinned) and intDiv,
    which CH rounds toward zero ('down by absolute value'), exactly
    Spark's div. Pins keep these contracts from drifting."""
    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    # documented: round half-up; roundBankers = CH float-round exactly
    assert one("round(2.5)") == 3
    assert one("roundBankers(2.5)") == 2
    assert one("roundBankers(3.5)") == 4
    assert one("roundBankers(-2.5)") == -2
    # CH intDiv rounds toward zero (docs: 'down by the absolute value')
    assert one("intDiv(-7, 3)") == -2
    assert one("intDiv(7, 3)") == 2
    assert one("intDivOrZero(7, 0)") == 0
    # CH day-of-week is Monday=1..Sunday=7 (Spark's dayofweek is Sun=1 —
    # the mapping must re-number)
    assert one("toDayOfWeek(toDate('2023-04-21'))") == 5
    assert one("toDayOfWeek(toDate('2023-04-23'))") == 7
    assert one("toDayOfWeek(toDate('2023-04-24'))") == 1
    assert one("modulo(-7, 3)") == -1  # sign of dividend, both engines
    assert one("bitCount(333)") == 5
    assert one("arrayDifference([1, 2, 3, 4])") == [0.0, 1.0, 1.0, 1.0]
    assert one("leftPad('abc', 7, '*')") == "****abc"
    assert one(
        "domain('svn+ssh://some.svn-hosting.com:80/repo/trunk')"
    ) == "some.svn-hosting.com"


def test_chsql_r9_probe_batch5(spark):
    """r9 probe batch 5 (string/hash sweep): toStringCutToZero (truncate
    at first NUL), CRC32IEEE bit-identical to Spark's crc32 (same
    IEEE-802.3 polynomial), crc64/sipHash64Keyed under the hash family's
    stable-not-bit-identical convention, and named guidance for the
    crypto-digest / base32 / sqid / query-tooling / bfloat16 / H3 names
    found passing through."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("toStringCutToZero('ab\\0cd')") == "ab"
    assert one("toStringCutToZero('plain')") == "plain"
    assert one("CRC32IEEE('x')") == one("CRC32('x')")
    assert one("crc64('x')") == one("crc64('x')")  # stable
    assert one("sipHash64Keyed((1, 2), 'x')") == \
        one("sipHash64Keyed((1, 2), 'x')")
    for bad in ("keccak256('x')", "ripeMD160('x')", "BLAKE3('x')",
                "base32Encode('a')", "base32Decode('a')",
                "obfuscateQueries('q')", "kql('x')", "toBFloat16(1.0)",
                "icebergTruncate(3, 'ab')", "stringToH3('x')",
                "sqidEncode(1)", "h3ToString(1)", "geoToS2(0.0, 0.0)",
                "s2ToGeo(1)"):
        with _pytest.raises(ValueError):
            translate(f"SELECT {bad}")


def test_chsql_r9_json_tuple_edges(spark):
    """r9 JSON/tuple probe: 22 multi-path typed-extract spellings all
    already green; the two edges closed — JSONKey (i-th member's key,
    was a passthrough) and tupleElement's 3-arg default form (guided:
    out-of-range struct access is an ANALYSIS error in Spark)."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("JSONKey('{\"a\":1,\"b\":2}', 2)") == "b"
    assert one("JSONKey('{\"a\":1,\"b\":2}', 1)") == "a"
    assert one("JSONKey('{\"x\": {\"a\":1}}', 'x', 1)") == "a"
    with _pytest.raises(ValueError, match="3-argument"):
        translate("SELECT tupleElement((1,2), 3, 'd')")
    # regression pins for the multi-path forms exercised in the sweep
    assert one(
        "JSONExtract('{\"a\": {\"b\": 7}}', 'a', 'b', 'Int64')") == 7
    assert one("JSONHas('{\"a\": [1,2]}', 'a', 5)") is False
    assert one("JSONLength('{\"a\": [1,2,3]}', 'a')") == 3


def test_chsql_r9_state_combinator_gaps(spark):
    """r9 combinator probe: argMax/argMin -State/-Merge (the arg-extremum
    state IS its mergeable result, like sum/min/max), anyState, and
    groupUniqArrayArray (distinct elements across arrays) — all were
    silent passthroughs."""
    from canal_clickhouse_spark.chsql import translate

    spark.sql(
        "SELECT * FROM VALUES (1, 5, array(1, 2)), (2, 9, array(2, 3))"
        " AS t9s(a, b, arr)"
    ).createOrReplaceTempView("t9s")
    g = lambda q: spark.sql(translate(q)).collect()[0][0]
    assert g("SELECT argMaxState(a, b) FROM t9s") == 2
    assert g("SELECT argMaxMerge(a, b) FROM t9s") == 2
    assert g("SELECT argMinState(a, b) FROM t9s") == 1
    assert sorted(g("SELECT groupUniqArrayArray(arr) FROM t9s")) == \
        [1, 2, 3]
    assert g("SELECT anyState(a) FROM t9s") in (1, 2)


def test_chsql_with_fill_never_emits(spark):
    """r9: a WITH FILL shape the rewriter can't parse (nested parens in
    INTERPOLATE, subquery position) must raise the guided error, never
    reach Spark's parser verbatim."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    for q in (
        "SELECT x, count() FROM t GROUP BY x ORDER BY x WITH FILL"
        " INTERPOLATE (count() AS 0)",
        "SELECT * FROM (SELECT x FROM t ORDER BY x WITH FILL) q2",
    ):
        with _pytest.raises(ValueError, match="WITH FILL"):
            translate(q)


def test_chsql_r10_week_modes_and_format_codes(spark):
    """r10 probe batch: toStartOfWeek/toLastDayOfWeek MODE argument
    (previously ignored — mode 1 silently returned the Sunday start; CH's
    mode table reduces to parity for the start day: odd = Monday, even =
    Sunday), and the unambiguous formatDateTime codes from the CH doc
    table (%a %W %b %c %I %h %Q %R %r %n %t). %M stays loudly rejected
    (meaning flipped across CH versions), %g/%G stay unsupported (Spark
    3+ bans week-based year patterns), and bare-integer predicate
    truthiness (WHERE 1) is pinned at the translator level."""
    import datetime

    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    d = lambda s: datetime.date.fromisoformat(s)
    # 2023-04-21 is a Friday
    assert one("toStartOfWeek(toDate('2023-04-21'))") == d("2023-04-16")
    assert one("toStartOfWeek(toDate('2023-04-21'), 1)") == d("2023-04-17")
    assert one("toStartOfWeek(toDate('2023-04-21'), 3)") == d("2023-04-17")
    assert one("toLastDayOfWeek(toDate('2023-04-21'))") == d("2023-04-22")
    assert one("toLastDayOfWeek(toDate('2023-04-21'), 1)") == d("2023-04-23")
    # a Sunday under Monday-start mode belongs to the PRIOR week
    assert one("toStartOfWeek(toDate('2023-04-23'), 1)") == d("2023-04-17")
    assert one("toStartOfWeek(toDate('2023-04-23'))") == d("2023-04-23")
    with _pytest.raises(ValueError, match="literal integer"):
        translate("SELECT toStartOfWeek(ts, n) FROM events")
    # format codes
    assert one("formatDateTime(toDateTime('2020-01-04 02:20:30'),"
               " '%I %p')") == "02 AM"
    assert one("formatDateTime(toDateTime('2020-01-04 14:20:30'),"
               " '%r')") == "02:20:30 PM"
    assert one("formatDateTime(toDateTime('2020-01-04 02:20:30'),"
               " '%R')") == "02:20"
    assert one("formatDateTime(toDate('2023-04-21'), '%a %W %b %c')") == \
        "Fri Friday Apr 04"
    assert one("formatDateTime(toDate('2023-04-21'), '%Q')") == "2"
    with _pytest.raises(ValueError, match="%M"):
        translate("SELECT formatDateTime(toDate('2023-04-21'), '%M') AS r")
    with _pytest.raises(ValueError, match="%g"):
        translate("SELECT formatDateTime(toDate('2023-04-21'), '%g') AS r")
    # WHERE/PREWHERE/HAVING bare-int truthiness at the translator level
    spark.sql("SELECT * FROM VALUES (1), (2) AS tw(x)") \
        .createOrReplaceTempView("tw")
    g = lambda q: spark.sql(translate(q)).collect()
    assert len(g("SELECT x FROM tw WHERE 1")) == 2
    assert len(g("SELECT x FROM tw WHERE 0")) == 0
    assert len(g("SELECT x FROM tw PREWHERE 1 WHERE 1 ORDER BY x")) == 2
    assert len(g("SELECT x FROM tw GROUP BY x HAVING 1 ORDER BY x")) == 2
    # a literal '1' in a string predicate is untouched
    assert len(g("SELECT x FROM tw WHERE 'a 1 b' != ''")) == 2


def test_chsql_r10_exact_quantiles(spark):
    """r10: quantileExactLow/High pick the exact ELEMENT (CH's
    median_low/median_high semantics at 0.5, trunc(level*n) clamped at
    other levels) — previously the interpolated percentile returned 2.5
    where CH returns 2 / 3. Input type is preserved (no float
    widening)."""
    from canal_clickhouse_spark.chsql import translate

    spark.sql("SELECT * FROM VALUES (1), (2), (3), (4) AS tq(x)") \
        .createOrReplaceTempView("tq")
    spark.sql("SELECT * FROM VALUES (1), (2), (3), (4), (5) AS t5(x)") \
        .createOrReplaceTempView("tq5")
    one = lambda q: spark.sql(translate(q)).collect()[0][0]
    assert one("SELECT quantileExactLow(0.5)(x) FROM tq") == 2
    assert one("SELECT quantileExactHigh(0.5)(x) FROM tq") == 3
    assert one("SELECT quantileExactLow(0.5)(x) FROM tq5") == 3
    assert one("SELECT quantileExactHigh(0.5)(x) FROM tq5") == 3
    assert one("SELECT medianExactLow(x) FROM tq") == 2
    assert one("SELECT medianExactHigh(x) FROM tq") == 3
    # non-median level: element at trunc(level*n), clamped
    assert one("SELECT quantileExactLow(0.9)(x) FROM tq5") == 5
    assert one("SELECT quantileExactLow(0.2)(x) FROM tq5") == 2
    assert one("SELECT quantileExactHigh(0.2)(x) FROM tq5") == 2
    # -If stack keeps the element-picking form
    assert one("SELECT quantileExactLowIf(0.5)(x, x < 4) FROM tq") == 2


def test_chsql_r10_combinator_probe_fixes(spark):
    """r10 combinator probe: avgForEach over DECIMAL inputs (the fold's
    fixed-accumulator-type check failed because decimal addition widens
    per step — the avg sum accumulator now widens to DOUBLE up front,
    which is the avg output type anyway), integer ForEach outputs keep
    their exact types, and the stochastic*Regression SGD-training
    aggregates raise named guidance instead of Spark's
    UNRESOLVED_ROUTINE."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    spark.sql("SELECT * FROM VALUES (CAST(1.0 AS DECIMAL(3,1)),"
              " CAST(10.0 AS DECIMAL(4,1))), (CAST(2.0 AS DECIMAL(3,1)),"
              " CAST(20.0 AS DECIMAL(4,1))) AS td(a, b)") \
        .createOrReplaceTempView("td")
    one = lambda q: spark.sql(translate(q)).collect()[0][0]
    assert one("SELECT avgForEach([a, b]) FROM td") == [1.5, 15.0]
    spark.sql("SELECT * FROM VALUES (1, 10), (2, 20) AS ti(a, b)") \
        .createOrReplaceTempView("ti")
    assert one("SELECT avgForEach([a, b]) FROM ti") == [1.5, 15.0]
    assert one("SELECT sumForEach([a, b]) FROM ti") == [3, 30]
    assert one("SELECT LinfNormalize([2.0, 4.0])") == [0.5, 1.0]
    assert one("SELECT LinfNormalize([-8.0, 4.0])") == [-1.0, 0.5]
    with _pytest.raises(ValueError, match="SGD"):
        translate("SELECT stochasticLogisticRegression(y, x) FROM t")
    with _pytest.raises(ValueError, match="regr_slope|SGD|recognized"):
        translate(
            "SELECT stochasticLinearRegression(0.1, 0.0, 5, 'SGD')(y, x)"
            " FROM t"
        )


def test_chsql_r10_arithmetic_semantics(spark):
    """r10 math probe: sign() returns Int8 not Spark's DOUBLE, clamp()
    maps, and the accurateCast family enforces unsigned CH ranges that
    the widened signed Spark target types cannot
    (accurateCastOrNull(300, 'UInt8') was 300, CH gives NULL;
    accurateCast throws). intDiv stays TRUNCATING toward zero — pinned
    here against the division identity with CH's sign-of-dividend
    modulo (a = b*intDiv(a,b) + modulo(a,b) fails with a floored
    quotient), matching the r9 battery's doc pin."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    # identity pin: b*q + m == a with q=intDiv, m=modulo, both engines
    assert one("intDiv(-7, 2)") == -3 and one("modulo(-7, 2)") == -1
    assert one("2 * intDiv(-7, 2) + modulo(-7, 2)") == -7
    assert one("intDiv(7, -2)") == -3
    assert one("intDivOrZero(-7, 2)") == -3
    assert one("intDivOrZero(7, 0)") == 0
    r = spark.sql(translate("SELECT sign(-5) AS r"))
    assert dict(r.dtypes)["r"] == "tinyint" and r.collect()[0].r == -1
    assert one("clamp(5, 1, 3)") == 3
    assert one("clamp(0, 1, 3)") == 1
    assert one("accurateCastOrNull(300, 'UInt8')") is None
    assert one("accurateCastOrNull(200, 'UInt8')") == 200
    assert one("accurateCastOrNull(-1, 'UInt32')") is None
    assert one("accurateCastOrNull(300, 'Int8')") is None
    assert one("accurateCastOrDefault(300, 'UInt8', 7)") == 7
    with _pytest.raises(Exception, match="out of range"):
        one("accurateCast(300, 'UInt8')")
    # CH's camelCase window alias (r10 probe)
    spark.sql("SELECT * FROM VALUES (1, 'a'), (2, 'a'), (3, 'b')"
              " AS tdr(k, g)").createOrReplaceTempView("tdr")
    assert [tuple(r) for r in spark.sql(translate(
        "SELECT k, denseRank() OVER (ORDER BY g) AS r FROM tdr ORDER BY k"
    )).collect()] == [(1, 1), (2, 1), (3, 2)]


def test_chsql_r10_interval_and_makedate(spark):
    """r10 probe batch: toStartOfInterval calendar units (WEEK/MONTH/
    QUARTER/YEAR — WEEK previously refused; n>1 buckets whole units from
    the epoch anchor, ISO weeks from 1970-01-05), and the 2-argument
    makeDate/makeDate32 (year, day_of_year) form (previously an
    IndexError crash on makeDate32)."""
    import datetime

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    d = lambda s: datetime.date.fromisoformat(s)
    assert one("makeDate32(2023, 111)") == d("2023-04-21")
    assert one("makeDate(2023, 111)") == d("2023-04-21")
    assert one("makeDate(2023, 4, 21)") == d("2023-04-21")
    assert one("toStartOfInterval(toDate('2023-03-05'),"
               " INTERVAL 1 WEEK)") == d("2023-02-27")
    assert one("toStartOfInterval(toDate('2023-03-01'),"
               " INTERVAL 2 WEEK)") == d("2023-02-20")
    assert one("toStartOfInterval(toDate('2023-05-15'),"
               " INTERVAL 2 MONTH)") == d("2023-05-01")
    assert one("toStartOfInterval(toDate('2022-02-15'),"
               " INTERVAL 3 MONTH)") == d("2022-01-01")
    assert one("toStartOfInterval(toDate('2023-05-15'),"
               " INTERVAL 1 QUARTER)") == d("2023-04-01")
    assert one("toStartOfInterval(toDate('2023-05-15'),"
               " INTERVAL 1 YEAR)") == d("2023-01-01")
    # sub-day units keep the epoch-floor timestamp path
    assert str(one("toStartOfInterval(toDateTime('2023-01-03 14:35:30'),"
                   " INTERVAL 15 MINUTE)")) == "2023-01-03 14:30:00"


def test_chsql_r10_tuple_literal_arithmetic(spark):
    """r10 continuation probe: the element-wise tuple-arithmetic family
    refused even LITERAL tuples, whose arity the SQL text carries —
    tuplePlus((1,2),(3,4)) etc. now map to named_struct with the
    engine's positional colN fields; struct COLUMNS still refuse with
    the zip_with guidance. tupleIntDivOrZero was a silent passthrough
    (never in the recognized-name list)."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    t = lambda e: tuple(one(e))
    assert t("tuplePlus((1,2),(3,4))") == (4, 6)
    assert t("vectorSum((1,2),(3,4))") == (4, 6)
    assert t("tupleMinus((3,4),(1,2))") == (2, 2)
    assert t("tupleMultiply((1,2),(3,4))") == (3, 8)
    assert t("tupleDivide((4.0,6.0),(2,3))") == (2.0, 2.0)
    assert t("tupleNegate((1,-2))") == (-1, 2)
    assert t("tupleMultiplyByNumber((1,2),3)") == (3, 6)
    assert t("tupleDivideByNumber((2.0,4.0),2)") == (1.0, 2.0)
    assert t("tupleIntDiv((10,20),(3,6))") == (3, 3)
    assert t("tupleIntDivOrZero((10,20),(3,0))") == (3, 0)
    assert t("tupleIntDivByNumber((10,20),3)") == (3, 6)
    assert t("tupleModulo((10,20),(3,6))") == (1, 2)
    assert t("tupleModuloByNumber((10,20),3)") == (1, 2)
    # nested tuple() spelling arrives pre-translated as named_struct and
    # still parses; concat flattens positionally
    assert t("tupleConcat(tuple(1,2), tuple(3))") == (1, 2, 3)
    assert t("tuplePlus(tuple(1,2), (3,4))") == (4, 6)
    assert one("tupleHammingDistance((1,2,3),(1,9,3))") == 1
    assert one("tupleHammingDistance((1,2),(1,2))") == 0
    # struct columns still refuse with the arrays guidance
    with _pytest.raises(ValueError, match="zip_with"):
        translate("SELECT tuplePlus(t, t) FROM x")
    with _pytest.raises(ValueError, match="arities differ"):
        translate("SELECT tuplePlus((1,2),(1,2,3))")


def test_chsql_r10_arraysplit_multiarray_and_reduce_ranges(spark):
    """r10 continuation probe: arraySplit/arrayReverseSplit rejected CH's
    DOCUMENTED multi-array lambda form `(x, y) -> y` over a parallel
    flag array; arrayReduceInRanges refused despite being composable
    from mapped pieces. Values pinned to the ClickHouse doc examples."""
    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("arraySplit((x, y) -> y, [1,2,3,4,5], [1,0,0,1,0])") \
        == [[1, 2, 3], [4, 5]]
    assert one("arrayReverseSplit((x, y) -> y, [1,2,3,4,5], [1,0,0,1,0])") \
        == [[1], [2, 3, 4], [5]]
    # single-var form unchanged
    assert one("arraySplit(x -> x % 2 = 0, [1,2,3,4,5])") \
        == [[1], [2, 3], [4, 5]]
    # CH docs: arrayReduceInRanges('sum', [(1,5),(2,3),(3,4),(4,4)], …)
    assert one(
        "arrayReduceInRanges('sum', [(1,5),(2,3),(3,4),(4,4)],"
        " [1000000, 200000, 30000, 4000, 500, 60, 7])"
    ) == [1234500.0, 234000.0, 34560.0, 4567.0]
    # array-of-tuple literals now translate standalone too
    assert [tuple(x) for x in one("[(1,2),(3,4)]")] == [(1, 2), (3, 4)]


def test_chsql_r10_ip_and_snowflake_ids(spark):
    """r10 continuation probe: IPv4CIDRToRange was misrouted to the IPv6
    128-bit refusal though it is pure 32-bit math; isIPv6String is pure
    textual validation (RFC-4291 forms incl. every :: compression arity
    and the IPv4-suffixed spellings); snowflakeIDToDateTime /
    dateTimeToSnowflakeID are the CURRENT CH names (the *ToDateTime
    spellings deprecated in 24.6) — timestamp is the top 41 bits in ms
    since an explicit epoch (default 0 = unix)."""
    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    lo_, hi = tuple(one("IPv4CIDRToRange(toIPv4('192.168.5.2'), 16)"))
    assert one("IPv4NumToString(%d)" % lo_) == "192.168.0.0"
    assert one("IPv4NumToString(%d)" % hi) == "192.168.255.255"
    lo2, hi2 = tuple(one("IPv4CIDRToRange(toIPv4('10.1.2.3'), 32)"))
    assert lo2 == hi2 == one("toIPv4('10.1.2.3')")
    good = ["::", "::1", "2001:db8::1", "1:2:3:4:5:6:7:8",
            "::ffff:1.2.3.4", "fe80::1", "1:2:3:4:5::1.2.3.4",
            "1:2:3:4:5:6:1.2.3.4", "a::b:c:d"]
    bad = ["192.168.1.1", "1::2::3", "1:2:3:4:5:6:7:8:9", "hello",
           ":::", "1:2:3:4:5:6:7::8", "12345::1", "::ffff:299.1.1.1"]
    for s in good:
        assert one(f"isIPv6String('{s}')") is True, s
    for s in bad:
        assert one(f"isIPv6String('{s}')") is False, s
    # snowflake round-trip at ms resolution; DateTime form truncates to s
    rt = one("snowflakeIDToDateTime64(dateTimeToSnowflakeID("
             "toDateTime('2021-08-15 18:57:56')))")
    assert str(rt) == "2021-08-15 18:57:56"
    assert one("shiftright(dateTimeToSnowflakeID("
               "toDateTime('2021-08-15 18:57:56'), 1000), 22)") \
        == one("unix_millis(toDateTime('2021-08-15 18:57:56'))") - 1000


def test_chsql_r10_probe_batch2_runtime_fixes(spark):
    """r10 continuation probe batch 2 — forms that TRANSLATED but died at
    Spark runtime (the silent-passthrough class): groupBitmap (= exact
    distinct cardinality), IPv4StringToNumOrNull/OrDefault +
    toIPv4OrDefault (IPv4's type default IS statically 0),
    IPv4NumToStringClassC, bare nan/inf literals, tuple-form dotProduct,
    pointInEllipses; plus the formatReadableSize thousands-separator
    divergence (CH prints 1000.00, format_number printed 1,000.00)."""
    import math

    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    spark.sql("SELECT * FROM VALUES (1),(2),(2),(3) AS tgb(x)"
              ).createOrReplaceTempView("tgb")
    assert spark.sql(translate(
        "SELECT groupBitmap(x) AS r FROM tgb")).collect()[0].r == 3
    with _pytest.raises(ValueError, match="agg_bitmap_ops"):
        translate("SELECT groupBitmapAnd(s) FROM t")
    assert one("IPv4StringToNumOrNull('bad')") is None
    assert one("IPv4StringToNumOrNull('1.2.3.4')") == 16909060
    assert one("IPv4StringToNumOrDefault('bad')") == 0
    assert one("toIPv4OrDefault('bad')") == 0
    assert one("IPv4NumToStringClassC(3232235777)") == "192.168.1.xxx"
    assert math.isnan(one("nan"))
    assert one("inf") == float("inf")
    assert one("-inf") == float("-inf")
    assert one("isNaN(nan)") is True and one("isInfinite(inf)") is True
    # inf/nan as SUBSTRINGS or identifiers-with-dots stay untouched
    assert one("isInfinite(1.0)") is False
    assert one("length('nan inf')") == 7
    assert one("dotProduct((1, 2), (3, 4))") == 11.0
    assert one("dotProduct([1, 2], [3, 4])") == 11.0
    assert one("pointInEllipses(1.0, 1.0, 0.0, 0.0, 3.0, 3.0)") is True
    assert one("pointInEllipses(10.0, 1.0, 0.0, 0.0, 3.0, 3.0)") is False
    assert one("pointInEllipses(10.0, 1.0, 0.0, 0.0, 3.0, 3.0,"
               " 10.0, 1.0, 1.0, 1.0)") is True
    assert one("formatReadableSize(1024000)") == "1000.00 KiB"
    assert one("formatReadableQuantity(1234567)") == "1.23 million"
    assert one("formatReadableDecimalSize(1024000)") == "1.02 MB"


def test_chsql_r10_probe_batch3_parametrics_and_scalars(spark):
    """r10 continuation probe batch 3 — parametric spellings whose named
    guidance (or real mapping) was unreachable, plus scalar silent
    passthroughs found by the 350-statement runtime battery."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    # quantileGK/DD: the leading param is the ACCURACY — accuracy-only
    # spellings default the level to 0.5 (previously percentile(x, 100))
    spark.sql("SELECT * FROM VALUES (1.0),(2.0),(3.0) AS tq(x)"
              ).createOrReplaceTempView("tq")
    q = lambda e: spark.sql(
        translate(f"SELECT {e} AS r FROM tq")).collect()[0].r
    assert q("quantileGK(100)(x)") == 2.0
    assert q("quantileGK(100, 1)(x)") == 3.0
    assert q("quantileDD(0.01)(x)") == 2.0
    assert q("quantileDD(0.01, 0.5)(x)") == 2.0
    assert q("quantilesDD(0.01, 0, 1)(x)") == [1.0, 3.0]
    # approx_top_k/_sum: topK with the (item, count, error) tuple shape
    r = q("approx_top_k(2)(x)")
    assert [(e["item"], e["count"], e["error"]) for e in r] == [
        (1.0, 1, 0), (2.0, 1, 0)]
    r = q("approx_top_sum(1)(x, 2)")
    assert (r[0]["item"], r[0]["count"]) == (1.0, 2)
    # unreachable named guidance now reachable
    for stmt, pat in [
        ("SELECT largestTriangleThreeBuckets(3)(a, b) FROM t", "downsampler"),
        ("SELECT meanZTest(1.0, 1.0, 0.95)(a, b) FROM t", "KNOWN population"),
    ]:
        with _pytest.raises(ValueError, match=pat):
            translate(stmt)
    # emptyArrayToSingle: real mapping (NULL stand-in for the type default)
    assert one("emptyArrayToSingle(emptyArrayUInt8())") == [None]
    assert one("emptyArrayToSingle([1, 2])") == [1, 2]
    # scalar silent passthroughs
    assert str(one("toTimeWithFixedDate(toDateTime('2024-01-01 10:22:33'))")
               ) == "1970-01-02 10:22:33"
    assert one("timeZoneOffset(toDateTime('2024-07-15 00:00:00'))") == \
        spark.sql("SELECT CAST(unix_timestamp(TIMESTAMP'2024-07-15 00:00:00')"
                  " - unix_timestamp(to_utc_timestamp("
                  "TIMESTAMP'2024-07-15 00:00:00', current_timezone()))"
                  " AS INT) AS r").collect()[0].r
    assert str(one("addMicroseconds(toDateTime64('2024-01-01 00:00:00', 6),"
                   " 5)")) == "2024-01-01 00:00:00.000005"
    assert str(one("subtractMilliseconds(toDateTime64("
                   "'2024-01-01 00:00:00', 3), 5)")) == \
        "2023-12-31 23:59:59.995000"
    with _pytest.raises(ValueError, match="microsecond precision"):
        translate("SELECT addNanoseconds(t, 5) FROM t")
    assert one("mapContainsValue(map('a', 1), 1)") is True
    assert one("mapContainsValue(map('a', 1), 2)") is False
    assert one("toUUIDOrDefault('bad',"
               " '00000000-0000-0000-0000-000000000001')") == \
        "00000000-0000-0000-0000-000000000001"
    assert one("MACStringToOUI('01:02:03:04:05:06')") == 66051
    with _pytest.raises(ValueError, match="rolling-hash"):
        translate("SELECT sparseGrams('hello', 3)")
    # FROM system.one — the qualified spelling only (r10 ADVICE: bare
    # `FROM one` must NOT be hijacked; a user table named `one` wins)
    assert spark.sql(
        translate("SELECT dummy FROM system.one")).collect()[0][0] == 0
    assert spark.sql(translate("SELECT 1 FROM system.one")).count() == 1
    assert "FROM one" in translate("SELECT x FROM one")
    # CH EXPLAIN modes map to Spark EXPLAIN forms
    for stmt, frag in [
        ("EXPLAIN SYNTAX SELECT 1", "EXPLAIN EXTENDED"),
        ("EXPLAIN AST SELECT 1", "EXPLAIN EXTENDED"),
        ("EXPLAIN PIPELINE SELECT 1", "EXPLAIN FORMATTED"),
        ("EXPLAIN ESTIMATE SELECT 1", "EXPLAIN COST"),
        ("EXPLAIN PLAN SELECT 1", "EXPLAIN SELECT"),
    ]:
        t = translate(stmt)
        assert t.startswith(frag), (stmt, t)
        assert spark.sql(t).count() >= 1
    # unparsed ANY/ASOF JOIN shapes raise instead of passing through
    for stmt, pat in [
        ("SELECT x FROM (SELECT 1 x) a ANY LEFT JOIN (SELECT 1 x) b"
         " USING x", "ANY JOIN"),
        ("SELECT x FROM (SELECT 1 x) a ASOF JOIN (SELECT 1 x) b"
         " ON a.x = b.x", "ASOF JOIN"),
    ]:
        with _pytest.raises(ValueError, match=pat):
            translate(stmt)


def test_chsql_r10_fill_dir_limit_and_star_mods(spark):
    """WITH FILL with ASC/DESC and a trailing LIMIT; star modifiers over
    bare-aliased subqueries and with table qualifiers."""
    from canal_clickhouse_spark.chsql import translate

    rows = lambda s: [r[0] for r in spark.sql(translate(s)).collect()]
    spark.sql("SELECT * FROM VALUES (1), (4), (7) AS tf(v)"
              ).createOrReplaceTempView("tf")
    # TO is exclusive on both directions (CH contract)
    assert rows("SELECT v FROM tf ORDER BY v ASC WITH FILL FROM 1 TO 6") == \
        [1, 2, 3, 4, 5, 7]
    assert rows("SELECT v FROM tf ORDER BY v DESC WITH FILL"
                " FROM 7 TO 3 STEP -2") == [7, 5, 4, 1]
    assert rows("SELECT v FROM tf ORDER BY v WITH FILL FROM 1 TO 8"
                " LIMIT 4") == [1, 2, 3, 4]
    assert rows("SELECT v FROM tf ORDER BY v WITH FILL FROM 1 TO 8"
                " LIMIT 2, 3") == [3, 4, 5]
    assert rows("SELECT v FROM tf ORDER BY v WITH FILL FROM 1 TO 8"
                " LIMIT 3 OFFSET 2") == [3, 4, 5]
    # DESC carry-forward interpolates downward
    spark.sql("SELECT * FROM VALUES (1, 10.0), (4, 40.0) AS tg(v, m)"
              ).createOrReplaceTempView("tg")
    got = spark.sql(translate(
        "SELECT v, m FROM tg ORDER BY v DESC WITH FILL FROM 4 TO 1 STEP -1"
        " INTERPOLATE (m)")).collect()
    assert [(r.v, r.m) for r in got] == [
        (4, 40.0), (3, 40.0), (2, 40.0), (1, 10.0)]
    # star modifiers: bare-aliased subquery width + qualified stars
    one_row = spark.sql(translate(
        "SELECT * APPLY (sum) FROM (SELECT 1 a, 2 b) t")).collect()[0]
    assert (one_row.sum_a, one_row.sum_b) == (1, 2)
    one_row = spark.sql(translate(
        "SELECT t.* APPLY (max) FROM (SELECT 1 AS a, 2 AS b) t"
    )).collect()[0]
    assert (one_row.max_a, one_row.max_b) == (1, 2)
    one_row = spark.sql(translate(
        "SELECT t.* EXCEPT (a) REPLACE (b * 2 AS b)"
        " FROM (SELECT 1 a, 2 b, 3 c) t")).collect()[0]
    assert (one_row.b, one_row.c) == (4, 3)
    assert spark.sql(translate(
        "SELECT t.* EXCEPT a FROM (SELECT 1 a, 2 b) t")).columns == ["b"]


def test_chsql_r10_stacked_combinators_and_truthy_lambdas(spark):
    """r10 probe batch 4: stacked aggregate combinators (-State×-If,
    -If×-Distinct), quantileState/Merge (the AggregatingMergeTree MV
    pattern), CH integer-truthiness in predicate lambdas, parenthesized
    single-var keyed-sort lambdas, and the repeated-PREWHERE guard."""
    import pytest as _pytest

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    spark.sql("SELECT * FROM VALUES (1,'a'),(2,'a'),(2,'b'),(5,'b')"
              " AS tsc(x, g)").createOrReplaceTempView("tsc")
    q = lambda e: spark.sql(
        translate(f"SELECT {e} AS r FROM tsc")).collect()[0].r
    assert q("sumIfDistinct(x, x < 5)") == 3          # distinct {1,2}
    assert q("sumDistinctIf(x, x < 5)") == 3
    assert q("countIfDistinct(x, x < 5)") == 2
    assert q("countDistinctIf(x, x < 5)") == 2
    assert q("sumStateIf(x, x < 5)") == 5             # state = value
    assert q("sumIfState(x, x < 5)") == 5
    assert q("uniqExactIf(g, x = 2)") == 2
    assert q("anyLastSimpleState(x)") in (1, 2, 5)
    # quantileState partials merge to the exact global quantile
    got = spark.sql(translate(
        "SELECT quantileMerge(0.5)(s) AS r FROM"
        " (SELECT quantileState(0.5)(x) AS s FROM tsc GROUP BY g)"
    )).collect()[0].r
    assert got == spark.sql(
        "SELECT percentile(x, 0.5) AS r FROM tsc").collect()[0].r
    with _pytest.raises(ValueError, match="sum, count"):
        translate("SELECT avgStateIf(x, x < 5) FROM t")
    # CH truthiness in predicate lambdas (nonzero = true)
    assert one("arrayFilter(x -> x, [1, 0, 2])") == [1, 2]
    assert one("arrayFilter(x -> x % 2, [1, 2, 3])") == [1, 3]
    assert one("arrayExists(x -> x, [0, 1])") is True
    assert one("arrayAll(x -> x, [1, 1])") is True
    assert one("arrayAll(x -> x, [1, 0])") is False
    assert one("arrayFirst(x -> x, [0, 5])") == 5
    assert one("arrayLast(x -> x, [0, 5, 0])") == 5
    assert one("arrayCount(x -> x, [0, 5, 6])") == 2
    assert one("arrayFirstIndex(x -> x, [0, 5])") == 2
    assert one("arrayLastIndex(x -> x, [0, 5, 6])") == 3
    # multi-array predicate forms share the truthiness rule
    assert one("arrayFilter((x, y) -> y, ['a', 'b'], [1, 0])") == ["a"]
    assert one("arrayExists((x, y) -> y, [1, 2], [0, 1])") is True
    # parenthesized single-var lambda in the keyed-sort form
    assert one("arraySort((x) -> -x, [1, 3, 2])") == [3, 2, 1]
    with _pytest.raises(ValueError, match="repeated PREWHERE"):
        translate("SELECT count() FROM orders PREWHERE a PREWHERE b")


def test_chsql_r10_doc_value_pins_batch4(spark):
    """Fourth CH-docs value-pin battery (r10 continuation): functions the
    earlier batteries verified only for runability — string metrics/
    padding, year-zero day counts, dateName, bit tests, array rotation/
    shift/fold, URL surgery, transform, map combinators, and the
    interval-geometry aggregates. Expected values are ClickHouse's own
    documented outputs (year-zero counts: 0000-01-01 is day 0, so
    2023-09-08 = 719528 + 19608 = 739136; arrayShift pads follow the
    repo's documented NULL stand-in for type defaults unless the explicit
    fill argument is given)."""
    from canal_clickhouse_spark.chsql import translate

    def one(expr, from_=""):
        q = f"SELECT {expr} AS r" + (f" FROM {from_}" if from_ else "")
        return spark.sql(translate(q)).collect()[0].r

    assert one("levenshteinDistance('kitten', 'sitting')") == 3
    assert one("editDistance('clickhouse', 'mouse')") == 6
    assert one("stringJaccardIndex('clickhouse', 'mouse')") == 0.4
    assert one("substringIndex('www.clickhouse.com', '.', 2)") == \
        "www.clickhouse"
    assert one("substringIndex('www.clickhouse.com', '.', -2)") == \
        "clickhouse.com"
    assert one("countSubstrings('aaaa', 'aa')") == 2
    assert one("countMatches('foobar.com', 'o+')") == 2
    assert one("soundex('Robert')") == "R163"
    assert one("leftPad('abc', 7, '*')") == "****abc"
    assert one("rightPad('abc', 7, '*')") == "abc****"
    assert one("leftPad('abc', 2)") == "ab"
    assert one("initcap('hello world')") == "Hello World"
    assert one("concatWithSeparator('a', '1', '2')") == "1a2"
    assert one("toDaysSinceYearZero(toDate('2023-09-08'))") == 739136
    assert str(one("fromDaysSinceYearZero(739136)")) == "2023-09-08"
    assert one("toModifiedJulianDay('2020-01-01')") == 58849
    assert str(one("fromModifiedJulianDay(58849)")) == "2020-01-01"
    assert one("dateName('year', toDate('2021-04-14'))") == "2021"
    assert one("dateName('month', toDate('2021-04-14'))") == "April"
    assert one("dateName('weekday', toDate('2021-04-14'))") == "Wednesday"
    assert one("monthName(toDate('2021-04-14'))") == "April"
    assert one("age('hour', toDateTime('2018-01-01 22:30:00'),"
               " toDateTime('2018-01-02 23:00:00'))") == 24
    assert one("age('day', toDate('2021-01-01'), toDate('2021-03-01'))") \
        == 59
    assert str(one("timeSlot(toDateTime('2000-01-02 03:23:33'))")) == \
        "2000-01-02 03:00:00"
    assert one("bitTest(43, 1)") == 1 and one("bitTest(43, 2)") == 0
    assert one("bitCount(333)") == 5
    assert one("bitTestAll(43, 0, 1, 3, 5)") == 1
    assert one("bitTestAny(43, 4, 2)") == 0
    assert one("arrayRotateLeft([1,2,3,4,5], 2)") == [3, 4, 5, 1, 2]
    assert one("arrayRotateRight([1,2,3,4,5], 2)") == [4, 5, 1, 2, 3]
    assert one("arrayCompact([1,1,2,2,1])") == [1, 2, 1]
    assert one("arrayDifference([1,4,9])") == [0, 3, 5]
    assert one("arrayCumSumNonNegative([1,1,-4,1])") == [1, 2, 0, 1]
    assert one("round(arrayJaccardIndex([1,2],[2,3]), 4)") == 0.3333
    assert one("arrayFold((acc, x) -> acc + x, [1,2,3,4],"
               " toInt64(3))") == 13
    assert one("arrayDotProduct([1,2,3],[4,5,6])") == 32
    # shift pads: NULL stand-in without the fill arg (documented), the
    # explicit fill is exact
    assert one("arrayShiftLeft([1,2,3,4,5], 2)") == [3, 4, 5, None, None]
    assert one("arrayShiftLeft([1,2,3], 1, 9)") == [2, 3, 9]
    assert one("arrayShiftRight([1,2,3], 1, 9)") == [9, 1, 2]
    assert one("extractURLParameter('http://e.com/?a=1&b=2', 'b')") == "2"
    assert one("cutQueryString('http://e.com/path?a=1')") == \
        "http://e.com/path"
    assert one("netloc('https://u:p@ex.com:80/a?b=1')") == "u:p@ex.com:80"
    assert one("path('https://ex.com/a/b?c=1')") == "/a/b"
    assert one("pathFull('https://ex.com/a/b?c=1')") == "/a/b?c=1"
    assert one("protocol('https://ex.com/a')") == "https"
    assert one("fragment('https://ex.com/a#frag')") == "frag"
    assert one("queryString('https://ex.com/a?b=1&c=2')") == "b=1&c=2"
    assert one("widthBucket(10.15, 0, 100, 10)") == 2
    assert one("transform(2, [1,2], ['a','b'], 'z')") == "b"
    assert one("transform(5, [1,2], ['a','b'], 'z')") == "z"
    assert one("toDecimalString(64.32, 5)") == "64.32000"
    assert one("char(72, 105)") == "Hi"
    assert one("ascii('A')") == 65
    assert one("toUnixTimestamp64Milli(fromUnixTimestamp64Milli("
               "1234567891011))") == 1234567891011
    assert one("MACNumToString(1108152157446)") == "01:02:03:04:05:06"
    assert one("MACStringToNum('01:02:03:04:05:06')") == 1108152157446
    assert one("hex(255)") == "FF"
    assert one("bin(5)") == "00000101"
    assert dict(one("mapPopulateSeries(map(1, 10, 5, 20))")) == \
        {1: 10, 2: 0, 3: 0, 4: 0, 5: 20}
    assert one("mapApply((k, v) -> (k, v * 2), map('a', 1))['a']") == 2
    assert one("mapUpdate(map('a', 1, 'b', 2), map('a', 9))['a']") == 9
    assert one("entropy(n)",
               "(SELECT arrayJoin([1,1,2,2]) AS n)") == 1.0
    assert one("skewPop(n)", "(SELECT arrayJoin([1,2,3]) AS n)") == 0.0
    assert one("boundingRatio(a, b)",
               "(SELECT arrayJoin([(1,1),(3,5)]) AS t, t.1 AS a,"
               " t.2 AS b)") == 2.0
    assert one("maxIntersections(a, b)",
               "(SELECT arrayJoin([(1,3),(2,4)]) AS t, t.1 AS a,"
               " t.2 AS b)") == 2
    assert abs(one("sumKahan(n)",
                   "(SELECT arrayJoin([0.1,0.2,0.3]) AS n)") - 0.6) < 1e-12


def test_chsql_r10_in_collections_and_tz_args(spark):
    """r10 probe batch 6: CH's collection spellings after IN (array
    literal, tuple(...) call) rewrite to plain value lists BEFORE the
    tuple→named_struct mapping; timezone-argument constructor forms
    (now(tz), now64(p, tz), toDateTime(s, tz), toDate(x, tz)) take the
    toTimeZone rendering-use convention over the UTC-pinned session."""
    from canal_clickhouse_spark.chsql import translate

    rows = lambda s: [r[0] for r in spark.sql(translate(s)).collect()]
    spark.sql("SELECT * FROM VALUES (1),(2),(3),(9) AS tic(v)"
              ).createOrReplaceTempView("tic")
    assert rows("SELECT v FROM tic WHERE v IN [1, 2] ORDER BY v") == [1, 2]
    assert rows("SELECT v FROM tic WHERE v IN tuple(1, 3)"
                " ORDER BY v") == [1, 3]
    assert rows("SELECT v FROM tic WHERE v NOT IN [1, 2, 3]") == [9]
    assert rows("SELECT v FROM tic WHERE v GLOBAL IN [9]") == [9]
    # literal brackets inside strings stay untouched
    assert rows("SELECT 'IN [1]'")[0] == "IN [1]"
    # tz-argument forms
    assert rows("SELECT now('UTC') IS NOT NULL")[0] is True
    assert rows("SELECT now64(3, 'UTC') IS NOT NULL")[0] is True
    assert str(rows("SELECT toDateTime('2024-01-01 00:00:00', 'UTC')")[0]
               ) == "2024-01-01 00:00:00"
    assert str(rows("SELECT toDate('2024-01-01', 'UTC')")[0]) == \
        "2024-01-01"
    # the instant 2024-01-01 23:30 UTC is already Jan 2 in Tokyo
    assert str(rows("SELECT toDate(toDateTime('2024-01-01 23:30:00'),"
                    " 'Asia/Tokyo')")[0]) == "2024-01-02"
    # parse-in-tz: midnight Tokyo is 15:00 prior-day UTC
    assert str(rows("SELECT toDateTime('2024-01-02 00:00:00',"
                    " 'Asia/Tokyo')")[0]) == "2024-01-01 15:00:00"


def test_chsql_r10_condition_truthiness(spark):
    """CH integer truthiness in CONDITION positions (r10 battery): bare
    if(), multiIf, the whole -If combinator family, the ternary, and the
    and()/or()/not() function spellings (routed around the infix parser
    by _rewrite_bool_fn_calls). Comparison conditions stay untouched —
    the wrap only fires when no boolean operator appears."""
    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(
        translate(f"SELECT {e} AS r FROM (SELECT 3 x)")).collect()[0].r
    assert one("if(x % 2, 'odd', 'even')") == "odd"
    assert one("if(1, 'y', 'n')") == "y"
    assert one("multiIf(x % 2, 'odd', 'even')") == "odd"
    assert one("x % 2 ? 'o' : 'e'") == "o"
    assert one("countIf(x % 2)") == 1
    assert one("countIf(x, x % 2)") == 1
    assert one("sumIf(x, x % 2)") == 3
    assert one("avgIfOrNull(x, x % 2)") == 3.0
    assert one("argMaxIf(x, x, x % 2)") == 3
    assert one("and(1, 0)") is False
    assert one("or(1, 0, 1)") is True
    assert one("not(1)") is False
    assert one("and(x > 1, x % 2)") is True
    # infix spellings must be untouched by the call rewrite
    assert one("if(x > 1 AND (x < 5), 'in', 'out')") == "in"
    assert one("if(NOT (x > 5), 'no', 'yes')") == "no"
    assert one("countDigits(12345)") == 5
    assert one("countDigits(-307)") == 3


def test_chsql_r10_truthy_where_clauses(spark):
    """Bare integer-truthy WHERE/HAVING/PREWHERE predicates (CH nonzero =
    true) — clause-level wrap, subquery scopes clipped correctly."""
    from canal_clickhouse_spark.chsql import translate

    rows = lambda s: [r[0] for r in spark.sql(translate(s)).collect()]
    spark.sql("SELECT * FROM VALUES (1),(2),(3),(4) AS ttw(v)"
              ).createOrReplaceTempView("ttw")
    assert rows("SELECT v FROM ttw WHERE v % 2 ORDER BY v") == [1, 3]
    assert rows("SELECT v FROM ttw PREWHERE v % 2 ORDER BY v") == [1, 3]
    assert rows("SELECT v FROM (SELECT v FROM ttw WHERE v % 2) s"
                " WHERE v > 1") == [3]
    assert rows("SELECT v % 3 AS g, count() AS c FROM ttw GROUP BY g"
                " HAVING count() % 2 ORDER BY g") == [0, 2]
    # operator-carrying predicates stay untouched
    assert rows("SELECT v FROM ttw WHERE v % 2 = 0 ORDER BY v") == [2, 4]


def test_chsql_r10_groupless_having_and_fromunix_fmt(spark):
    """CH's HAVING-without-GROUP-BY (an alias-aware post-projection
    filter — lifts to an outer WHERE unless the predicate aggregates)
    and the 2-arg fromUnixTimestamp(ts, '%-format') render form."""
    from canal_clickhouse_spark.chsql import translate

    rows = lambda s: [r[0] for r in spark.sql(translate(s)).collect()]
    spark.sql("SELECT * FROM VALUES (1),(2),(5) AS thv(v)"
              ).createOrReplaceTempView("thv")
    assert rows("SELECT v AS k FROM thv HAVING k < 3 ORDER BY k") == [1, 2]
    assert rows("SELECT v * 2 AS k FROM thv HAVING k <= 4 ORDER BY k"
                " LIMIT 1") == [2]
    # aggregate predicates keep Spark's global-aggregation HAVING
    assert rows("SELECT sum(v) AS s FROM thv HAVING sum(v) > 1") == [8]
    assert rows("SELECT fromUnixTimestamp(1704067200, '%Y-%m-%d')") == \
        [spark.sql("SELECT date_format(timestamp_seconds(1704067200),"
                   " 'yyyy-MM-dd')").collect()[0][0]]


def test_chsql_r10_case_when_truthiness(spark):
    """Searched-CASE WHEN conditions take CH integer truthiness; simple
    CASE value-matches and nested CASEs stay exact."""
    from canal_clickhouse_spark.chsql import translate

    one = lambda e, f="": spark.sql(translate(
        f"SELECT {e} AS r" + (f" FROM {f}" if f else ""))).collect()[0].r
    assert one("CASE WHEN 1 THEN 'a' ELSE 'b' END") == "a"
    assert one("CASE WHEN 0 THEN 'a' ELSE 'b' END") == "b"
    assert one("CASE WHEN x % 2 THEN 'odd' WHEN x % 3 THEN 'x3'"
               " ELSE 'e' END", "(SELECT 4 x)") == "x3"
    assert one("CASE WHEN x > 1 THEN 'g' ELSE 'l' END",
               "(SELECT 3 x)") == "g"
    # simple (value-match) form untouched
    assert one("CASE x WHEN 3 THEN 'three' ELSE 'o' END",
               "(SELECT 3 x)") == "three"
    # nested: searched-in-result and simple-in-condition
    assert one("CASE WHEN x % 2 THEN CASE x WHEN 3 THEN 'i3' ELSE 'io'"
               " END ELSE 'e' END", "(SELECT 3 x)") == "i3"
    assert one("CASE WHEN CASE x WHEN 3 THEN 1 ELSE 0 END THEN 'y'"
               " ELSE 'n' END", "(SELECT 3 x)") == "y"


def test_chsql_r10_variant_spellings_batch(spark):
    """Final r10 probe sweep: variant spellings of mapped bases that
    previously passed through verbatim — hasTokenOrNull (NULL when the
    needle is not one token), CaseInsensitive multiSearchAllPositions,
    tryBase64URLDecode ('' on invalid), isValidASCII, decodeXMLComponent
    (routed through the HTML decoder — documented superset)."""
    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    assert one("hasTokenOrNull('a b', 'b')") is True
    assert one("hasTokenOrNull('a b', 'b c')") is None
    assert list(one("multiSearchAllPositionsCaseInsensitive('Hello',"
                    " ['hE', 'x'])")) == [1, 0]
    assert one("tryBase64URLDecode('YStiL2M')") == "a+b/c"
    assert one("tryBase64URLDecode('!!bad!!')") == ""
    assert one("isValidASCII('abc')") is True
    assert one("isValidASCII('héllo')") is False
    assert one("decodeXMLComponent('&lt;a&gt;')") == "<a>"
    assert one("identity(5)") == 5
    assert one("shardNum()") == 1 and one("shardCount()") == 1
    assert one("throwIf(1 > 2, 'no')") == 0
    import pytest as _pytest
    with _pytest.raises(Exception, match="boom"):
        spark.sql(translate("SELECT throwIf(2 > 1, 'boom')")).collect()


def test_r11_countif_null_x(spark):
    """r10 ADVICE low: CH's count(x)-If combinator counts rows where the
    condition holds AND x is non-NULL — countIf(x, cond) must emit
    count(IF(cond, x, NULL)), not count(IF(cond, 1, NULL))."""
    from canal_clickhouse_spark.chsql import translate

    t = translate("SELECT countIf(x, c > 0) AS n FROM v")
    assert "count(IF" in t and ", x, NULL" in t
    spark.sql("SELECT * FROM VALUES (NULL, 1), (5, 1), (NULL, 0), (7, 0)"
              " AS v(x, c)").createOrReplaceTempView("v_r11_cif")
    n = spark.sql(translate(
        "SELECT countIf(x, c > 0) AS n FROM v_r11_cif")).collect()[0].n
    assert n == 1  # only (5, 1): NULL x under a true cond must not count


def test_r11_truthy_nested_spans(spark):
    """r10 ADVICE medium: nested WHERE/HAVING spans went stale under the
    collect-then-edit-in-reverse rewrite — `WHERE (SELECT … WHERE v % 2)`
    emitted mangled SQL. The one-edit-per-pass re-scan must wrap BOTH
    clauses and produce runnable SQL."""
    from canal_clickhouse_spark.chsql import translate

    t = translate("SELECT * FROM t WHERE (SELECT max(v) FROM u WHERE"
                  " v % 2)")
    # both clauses wrapped (exact paren placement is the r11 recursive
    # _cond's business — only the semantics are pinned here)
    assert "CAST((v % 2) AS BOOLEAN)" in t
    assert re.search(r"WHERE \(?CAST\(\(+SELECT", t)
    spark.sql("SELECT * FROM VALUES (1), (2), (3) AS t(v)"
              ).createOrReplaceTempView("tn_r11")
    spark.sql("SELECT * FROM VALUES (0), (5) AS u(v)"
              ).createOrReplaceTempView("un_r11")
    got = spark.sql(translate(
        "SELECT count(*) AS n FROM tn_r11 WHERE"
        " (SELECT max(v) FROM un_r11 WHERE v % 2)")).collect()[0].n
    assert got == 3  # inner max = 5 (truthy) → outer keeps all rows
    # idempotence guard: an already-wrapped whole-expression boolean cast
    # must not wrap again
    t2 = translate("SELECT * FROM t WHERE x % 2")
    assert t2.count("AS BOOLEAN") == 1


def test_r11_dollar_quoted_strings(spark):
    """r10 verdict missing #3: $$…$$ and tagged $tag$…$tag$ dollar-quoted
    literals parse as strings everywhere the translator runs; ';' and
    quotes inside are data."""
    from canal_clickhouse_spark.chsql import translate

    assert translate("SELECT $$it's raw$$ AS s") == \
        "SELECT 'it''s raw' AS s"
    assert spark.sql(translate(
        "SELECT $tag$has $$ inside$tag$ AS s")).collect()[0].s == \
        "has $$ inside"
    # a '$' inside an ordinary literal is NOT an opener
    assert spark.sql(translate(
        "SELECT '$5 and $$' AS s")).collect()[0].s == "$5 and $$"
    # unterminated tag passes through for the engine's own loud error
    assert "$$oops" in translate("SELECT $$oops AS s")


def test_r11_probe_batch1(spark):
    """r11 probe battery: two-arg trim family (Spark's ltrim/rtrim take
    (trimStr, srcStr) — REVERSED vs CH — and two-arg trim() silently
    returned ''), randConstant (one shared value per result, was an
    unresolved passthrough), and the format() TABLE function (was
    mis-routed to the {}-template string format())."""
    from canal_clickhouse_spark.chsql import translate

    def one(expr):
        return spark.sql(translate(f"SELECT {expr} AS r")).collect()[0].r

    assert one("trimBoth('xxhixx', 'x')") == "hi"
    assert one("trimLeft('xxhix', 'x')") == "hix"
    assert one("trimRight('hixxx', 'x')") == "hi"
    assert one("trimBoth('  hi  ')") == "hi"
    rows = spark.sql(translate(
        "SELECT randConstant() AS a FROM numbers(5)")).collect()
    assert len(rows) == 5 and len({r.a for r in rows}) == 1
    assert 0 <= rows[0].a < 2 ** 32
    # format() table function: JSONEachRow inference, CSV sniffing,
    # explicit structure, WithNames headers; string format() untouched
    q = ('SELECT * FROM format(JSONEachRow, \'{"a": 1, "b": "x"}\n'
         '{"a": 2, "b": "y"}\') ORDER BY a')
    assert [tuple(r) for r in spark.sql(translate(q)).collect()] == [
        (1, "x"), (2, "y")]
    assert spark.sql(translate(
        "SELECT sum(c1) AS s FROM format(CSV, '1,hello\n2,world')"
    )).collect()[0].s == 3
    q3 = ("SELECT * FROM format(JSONCompactEachRow, 'a UInt32, s String',"
          " '[1, \"x\"]\n[2, \"y\"]') ORDER BY a")
    got = spark.sql(translate(q3))
    assert [tuple(r) for r in got.collect()] == [(1, "x"), (2, "y")]
    assert dict(got.dtypes)["a"] == "bigint"
    assert [tuple(r) for r in spark.sql(translate(
        "SELECT * FROM format(CSVWithNames, 'x,y\n1,2')")).collect()] == [
        (1, 2)]
    # the header maps fields by name; JSON decodes nested types
    assert [tuple(r) for r in spark.sql(translate(
        "SELECT * FROM format(CSVWithNames, 'x Int64, y String',"
        " 'y,x\nb,1')")).collect()] == [(1, "b")]
    assert [tuple(r) for r in spark.sql(translate(
        "SELECT * FROM format(JSONEachRow, 'k Int64, xs Array(Int64)',"
        " '{\"k\": 1, \"xs\": [1, 2]}')")).collect()] == [(1, [1, 2])]
    assert spark.sql(translate(
        "SELECT format('{}-{}', 'a', 'b') AS f")).collect()[0].f == "a-b"


def test_r11_division_finiteness(spark):
    """r11 probe: CH divide() has IEEE zero-divisor semantics (x/0 →
    ±Inf, 0/0 → NaN) where Spark's Divide yields NULL; ifNotFinite
    treats NULL as non-finite so the canonical safe-division idiom
    `ifNotFinite(x / y, alt)` takes the alternative under Spark's NULL
    too (documented divergence for genuinely-NULL x)."""
    import math

    from canal_clickhouse_spark.chsql import translate

    r = spark.sql(translate(
        "SELECT divide(1, 0) AS a, divide(-1, 0) AS b,"
        " divide(0, 0) AS c, divide(7, 2) AS d")).collect()[0]
    assert r.a == float("inf") and r.b == float("-inf")
    assert math.isnan(r.c) and r.d == 3.5
    assert spark.sql(translate(
        "SELECT ifNotFinite(1/0, 42) AS r")).collect()[0].r == 42.0
    assert spark.sql(translate(
        "SELECT ifNotFinite(divide(5, 0), 99) AS r")).collect()[0].r == 99.0
    assert spark.sql(translate(
        "SELECT ifNotFinite(2.5, 99) AS r")).collect()[0].r == 2.5


def test_r11_any_join_using(spark, sf_dir):
    """r11 probe: ANY [LEFT] JOIN accepts the USING (k, ...) spelling
    (both parenthesized and bare), exposing ONE copy of each key; the
    same flattening caveats as the ON form apply (disjoint non-key
    column names)."""
    from canal_clickhouse_spark.catalog import register_views
    from canal_clickhouse_spark.chsql import translate

    register_views(spark, sf_dir)
    q = ("SELECT count(*) AS n FROM orders ANY LEFT JOIN orders o2"
         " USING (o_orderkey)")
    n_orders = spark.sql("SELECT count(*) AS n FROM orders").collect()[0].n
    assert spark.sql(translate(q)).collect()[0].n == n_orders
    q2 = ("SELECT count(*) AS n FROM orders ANY LEFT JOIN orders o2"
          " USING o_orderkey")
    assert spark.sql(translate(q2)).collect()[0].n == n_orders
    # one copy of the key survives (no AMBIGUOUS_REFERENCE on the key)
    q3 = ("SELECT o_orderkey FROM orders ANY LEFT JOIN orders o2"
          " USING (o_orderkey) ORDER BY o_orderkey LIMIT 1")
    assert spark.sql(translate(q3)).collect()[0].o_orderkey is not None


def test_r11_int_cast_wrapping(spark):
    """r11 probe: CH's toInt*/toUInt* casts WRAP modulo 2^width on
    overflow (toUInt8(256) = 0, toInt8(128) = -128); the widened signed
    output types stay unchanged."""
    from canal_clickhouse_spark.chsql import translate

    def one(expr):
        return spark.sql(translate(f"SELECT {expr} AS r")).collect()[0].r

    assert one("toUInt8(256)") == 0
    assert one("toUInt8(257)") == 1
    assert one("toUInt8(-1)") == 255
    assert one("toUInt8(200)") == 200
    assert one("toInt8(128)") == -128
    assert one("toInt8(-129)") == 127
    assert one("toInt16(40000)") == -25536
    assert one("toUInt16(65536)") == 0
    assert one("toUInt32(4294967296)") == 0
    assert one("toUInt32(4294967295)") == 4294967295
    assert one("toInt8('5')") == 5
    assert one("toUInt8(3.9)") == 3  # truncation toward zero, then wrap


def test_r11_array_element_zero_index(spark):
    """r11 probe: arrayElement index 0 must not raise (Spark's
    INVALID_INDEX_OF_ZERO fires even non-ANSI); it yields NULL — the
    engine's documented out-of-bounds posture (CH returns the type
    default)."""
    from canal_clickhouse_spark.chsql import translate

    def one(expr):
        return spark.sql(translate(f"SELECT {expr} AS r")).collect()[0].r

    assert one("arrayElement([1,2], 0)") is None
    assert one("arrayElement([1,2], -1)") == 2
    assert one("arrayElement([1,2], 5)") is None
    assert one("arrayElementOrNull([1,2], 0)") is None


def test_r11_cast_spellings_wrap_and_tz(spark):
    """r11 probe: the CAST(x, 'Type') and CAST(x AS Type) spellings wrap
    narrow-int targets modulo 2^width like the to*-cast family;
    toString(DateTime, tz) renders in that zone (tz was dropped)."""
    from canal_clickhouse_spark.chsql import translate

    def one(expr):
        return spark.sql(translate(f"SELECT {expr} AS r")).collect()[0].r

    assert one("CAST(300, 'UInt8')") == 44
    assert one("CAST(300 AS UInt8)") == 44
    assert one("CAST(-1, 'UInt16')") == 65535
    assert one("CAST('abc', 'UInt8')") is None  # non-ANSI parse fail
    assert one("CAST('12', 'Int64')") == 12
    assert list(one("CAST([1,2], 'Array(String)')")) == ["1", "2"]
    assert one("toString(toDateTime('2024-01-01 00:00:00'),"
               " 'Asia/Tokyo')") == "2024-01-01 09:00:00"
    assert one("toString(42)") == "42"


def test_r11_probe_batch4_map_aggs_and_retention(spark):
    """r11 probe battery 4: sumMap/minMap/maxMap (both the Map-argument
    and (keys, values) two-array forms, plus the -If combinator and the
    *MappedArrays aliases) were guided refusals but have an exact
    collect_list + map_zip_with fold spelling; retention(...) is pure
    aggregate composition (r[i] = max(c1) * max(c_i))."""
    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    # integer-valued maps sum as integers (CH widens Int* to Int64 —
    # r11 advice: the old DOUBLE fold rendered '4.0' vs CH's '4')
    assert one("SELECT sumMap(m) AS s FROM (SELECT map('a', 1) AS m"
               " UNION ALL SELECT map('a', 3, 'b', 5))") == (
        {"a": 4, "b": 5},)
    # ... and big int sums keep exact precision past 2^53
    assert one("SELECT sumMap(m) AS s FROM"
               " (SELECT map('a', 9007199254740993) AS m"
               " UNION ALL SELECT map('a', 2))") == (
        {"a": 9007199254740995},)
    # float-valued maps still sum as double
    assert one("SELECT sumMap(m) AS s FROM (SELECT map('a', 1.5) AS m"
               " UNION ALL SELECT map('a', 2.0))") == ({"a": 3.5},)
    # keys come out sorted ascending (CH's output order)
    assert one("SELECT map_keys(sumMap(m)) AS k FROM"
               " (SELECT map('b', 1, 'a', 2) AS m)") == (["a", "b"],)
    kv = one("SELECT sumMap(k, v) AS s FROM (SELECT ['a','b'] AS k,"
             " [1,2] AS v UNION ALL SELECT ['b'], [10])")[0]
    assert list(kv.keys) == ["a", "b"] and list(kv.values) == [1, 12]
    assert one("SELECT minMap(m) AS lo, maxMap(m) AS hi FROM"
               " (SELECT map('a', 5) AS m"
               " UNION ALL SELECT map('a', 3, 'b', 7))") == (
        {"a": 3, "b": 7}, {"a": 5, "b": 7})
    assert one("SELECT sumMapIf(m, c) AS s FROM (SELECT map('a', 1) AS m,"
               " 1 AS c UNION ALL SELECT map('a', 9), 0)") == ({"a": 1},)
    ma = one("SELECT sumMappedArrays(k, v) AS s FROM (SELECT ['x'] AS k,"
             " [1] AS v UNION ALL SELECT ['x','y'], [2, 3])")[0]
    assert list(ma.keys) == ["x", "y"] and list(ma.values) == [3, 3]
    assert one("SELECT retention(x >= 1, x >= 2, x >= 9) AS r FROM"
               " (SELECT arrayJoin([1, 2]) AS x)") == ([1, 1, 0],)
    # truthy integer conditions get the boolean wrap like any condition
    assert one("SELECT retention(x, x - 1) AS r FROM"
               " (SELECT arrayJoin([1, 2]) AS x)") == ([1, 1],)


def test_r11_probe_batch4_url_norms_datetime(spark):
    """r11 probe battery 4: normalizeL1/L2/Linf are CH's documented
    aliases of the *Normalize family (were unresolved passthroughs);
    firstSignificantSubdomain must honour two-level public suffixes
    (co.uk, com.tr — old rule returned 'com' for news.clickhouse.com.tr);
    parseDateTimeBestEffort gains the common wild formats (Apache CLF,
    D/M/Y slashed, compact-14-digit, bare unix seconds)."""
    import datetime as _dt
    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    n2 = one("SELECT normalizeL2([3.0, 4.0]) AS a,"
             " normalizeL1([1.0, 3.0]) AS b, normalizeLinf([2.0, 4.0]) AS c")
    assert n2[0] == [0.6, 0.8] and n2[1] == [0.25, 0.75] \
        and n2[2] == [0.5, 1.0]
    assert one(
        "SELECT firstSignificantSubdomain('https://news.clickhouse.com.tr/')"
        " AS a, cutToFirstSignificantSubdomain("
        "'https://news.clickhouse.com.tr/') AS b,"
        " firstSignificantSubdomain('https://www.example.co.uk/x') AS c,"
        " firstSignificantSubdomain('https://news.clickhouse.com/') AS d,"
        " cutToFirstSignificantSubdomain('https://news.clickhouse.com/')"
        " AS e, firstSignificantSubdomain('http://localhost') AS f"
    ) == ("clickhouse", "clickhouse.com.tr", "example", "clickhouse",
          "clickhouse.com", "")
    ts = _dt.datetime(2023, 5, 17, 14, 33, 21)
    assert one("SELECT parseDateTimeBestEffort("
               "'17/May/2023:14:33:21 +0000') AS r") == (ts,)
    assert one("SELECT parseDateTimeBestEffort('20230517143321')"
               " AS r") == (ts,)
    assert one("SELECT parseDateTimeBestEffort('1684334001') AS r") == (ts,)
    # D/M/Y default vs the US variant's M/D/Y (CH's documented difference)
    assert one("SELECT parseDateTimeBestEffort('12/05/2023 14:33:21') AS a,"
               " parseDateTimeBestEffortUS('12/05/2023 14:33:21') AS b"
               ) == (_dt.datetime(2023, 5, 12, 14, 33, 21),
                     _dt.datetime(2023, 12, 5, 14, 33, 21))
    assert one("SELECT parseDateTimeBestEffortOrNull('garbage') AS r"
               ) == (None,)
    assert one("SELECT parseDateTimeBestEffort('2023-05-17 14:33:21') AS r"
               ) == (ts,)


def test_r11_probe_batch7_grammar(spark, sf_dir):
    """r11 probe battery 7 (statement grammar): WITH TOTALS + HAVING on a
    SELECT-list alias (the semi-join restructure lost the alias scope);
    GLOBAL before ANY/ASOF join (the ANY rewrite read GLOBAL as the left
    table's alias and emitted `GLOBAL.*`); `* APPLY(lambda)` and chained
    APPLY (were raw parse errors); finalizeAggregation over an inline
    xState(...) call; CH-spelled toTypeName for parametric types."""
    from canal_clickhouse_spark.chsql import translate
    from canal_clickhouse_spark.catalog import register_views

    register_views(spark, sf_dir)

    def rows(sql):
        return [tuple(r) for r in spark.sql(translate(sql)).collect()]

    got = rows("SELECT n_regionkey, count() AS c FROM nation"
               " GROUP BY n_regionkey WITH TOTALS HAVING c > 4"
               " ORDER BY n_regionkey")
    assert (None, 25) in got and (0, 5) in got and len(got) == 6
    assert rows("SELECT count() FROM nation GLOBAL ANY LEFT JOIN region"
                " ON n_regionkey = r_regionkey") == [(25,)]
    assert rows("SELECT * APPLY(x -> x + 1) FROM"
                " (SELECT 1 AS a, 10 AS b)") == [(2, 11)]
    assert rows("SELECT * APPLY(max) APPLY(toString) FROM region") == [
        ("4", "MIDDLE EAST")]
    assert rows("SELECT COLUMNS('key') APPLY(x -> round(x / 2, 0)) FROM"
                " region ORDER BY 1 LIMIT 2") == [(0.0,), (1.0,)]
    assert rows("SELECT finalizeAggregation(sumState(n_nationkey)),"
                " finalizeAggregation(avgState(n_nationkey))"
                " FROM nation") == [(300, 12.0)]
    assert rows("SELECT initializeAggregation('sumState', 5)") == [(5,)]
    assert rows("SELECT toTypeName([1, 2]), toTypeName(map('a', 1)),"
                " toTypeName(toDecimal64('1.5', 2))") == [
        ("Array(Int32)", "Map(String, Int32)", "Decimal(18, 2)")]


def test_r11_probe_batch8_nested_columns(spark, sf_dir):
    """r11 probe battery 8: Nested(a T, b U) columns INSERT in CH's
    parallel-array shape (one value per subcolumn, positional or the
    dotted `(id, n.a, n.b)` column list) and zip back into the stored
    array-of-structs; subcolumn reads (`n.a`) and ARRAY JOIN compose."""
    from canal_clickhouse_spark.chsql_ddl import ChSession

    sess = ChSession(spark, sf_dir)
    sess.execute("CREATE TABLE nestt (id UInt32,"
                 " n Nested(a UInt32, b String)) ENGINE = Memory")
    sess.execute("INSERT INTO nestt VALUES (1, [1,2], ['x','y'])")
    sess.execute("INSERT INTO nestt (id, n.a, n.b) VALUES (2, [3], ['z'])")
    sess.execute("INSERT INTO nestt SELECT 3, [7], ['q']")
    got = [tuple(r) for r in sess.execute(
        "SELECT id, n.a, n.b FROM nestt ORDER BY id").collect()]
    assert got == [(1, [1, 2], ["x", "y"]), (2, [3], ["z"]),
                   (3, [7], ["q"])]
    aj = [tuple(r) for r in sess.execute(
        "SELECT id, na FROM nestt ARRAY JOIN n.a AS na"
        " ORDER BY id, na").collect()]
    assert aj == [(1, 1), (1, 2), (2, 3), (3, 7)]


def test_r11_probe_batch11_hashes(spark):
    """r11 probe battery 11: MD5 returns the binary digest so CH's
    hex(MD5(x)) idiom round-trips (Spark's md5 is a lowercase hex STRING,
    so hex() re-hexed the text); javaHash/hiveHash are the EXACT Java
    String.hashCode fold (cross-system interop contracts, unlike the
    cityHash-family sketches); detectTonality joins the NLP guidance."""
    import pytest as _pytest
    from canal_clickhouse_spark.chsql import translate

    def one(expr):
        return spark.sql(translate(f"SELECT {expr} AS r")).collect()[0].r

    assert one("hex(MD5('abc'))") == "900150983CD24FB0D6963F7D28E17F72"
    assert one("lower(hex(MD5('')))") == "d41d8cd98f00b204e9800998ecf8427e"
    assert one("javaHash('abc')") == 96354
    assert one("javaHash('hello')") == 99162322
    assert one("javaHash('')") == 0
    assert one("hiveHash('abc')") == 96354
    with _pytest.raises(ValueError, match="NLP"):
        translate("SELECT detectTonality('x')")
    with _pytest.raises(ValueError, match="NLP"):
        translate("SELECT detectProgrammingLanguage('x')")


def test_r11_probe_batch13_literals_and_truthy_compound(spark):
    """r11 probe battery 13: hex/binary integer literals (0x1F, 0b101 —
    CH keywords, were unresolved columns), infix MOD (Spark parses only
    the div twin), IN numbers(…) table-function membership, RECURSIVE
    integer truthiness through depth-0 AND/OR/NOT (``WHERE flag AND
    ts > 0`` died: the old any-depth boolish test passed the whole
    conjunction while its integer leaf reached Spark's AND), and the same
    wrap for bare-logic SELECT items."""
    from canal_clickhouse_spark.chsql import translate

    def rows(sql):
        return [tuple(r) for r in spark.sql(translate(sql)).collect()]

    assert rows("SELECT 0x1F AS a, 0b101 AS b, 0xff AS c") == [(31, 5, 255)]
    assert rows("SELECT number MOD 3 AS m, number DIV 2 AS d FROM"
                " numbers(4) ORDER BY number") == [
        (0, 0), (1, 0), (2, 1), (0, 1)]
    assert rows("SELECT x IN numbers(5) AS r FROM (SELECT 3 AS x)") == [
        (True,)]
    assert rows("SELECT x NOT IN numbers(3) AS r FROM (SELECT 3 AS x)") == [
        (True,)]
    assert rows("SELECT count() FROM numbers(5) WHERE number % 2"
                " AND number > 1") == [(1,)]
    assert rows("SELECT count() FROM numbers(5) WHERE NOT number") == [(1,)]
    assert rows("SELECT count() FROM numbers(10) WHERE number BETWEEN 1"
                " AND 5 AND number % 2") == [(3,)]
    assert rows("SELECT if(number AND 1, 'y', 'n') AS r FROM numbers(2)"
                " ORDER BY r") == [("n",), ("y",)]
    assert rows("SELECT NOT 0 AS a, (1 AND 2) AS b, (1 AND 0) AS c,"
                " (2 OR 0) AS d") == [(True, True, False, True)]
    # boolean-operator spellings that must stay byte-identical
    assert rows("SELECT count() FROM numbers(5) WHERE number > 1"
                " AND number < 4") == [(2,)]
    assert rows("SELECT count() FROM numbers(5) WHERE number IN (1, 2)"
                " OR number = 4") == [(3,)]


def test_chsql_r11_probe_pins_batch5(spark):
    """Fifth value-pin battery: OK rows from the r11 probe batches 15-17
    (quantile/groupArray/bit/stat long tail, map/JSON/encoding, URL/
    tokenize/datetime) hand-checked against CH semantics during the
    probes, pinned so regressions stay loud."""
    import datetime

    from canal_clickhouse_spark.chsql import translate

    one = lambda e: spark.sql(translate(f"SELECT {e} AS r")).collect()[0].r
    pins = [
        # batch 15: rounding buckets / interval / tuple / week math
        ("roundToExp2(20)", 16),
        ("roundDuration(45)", 30),
        ("roundAge(25)", 25),
        ("tupleElement(tuple(1, 'a'), 2)", "a"),
        ("toStartOfWeek(toDate('2023-05-17'))",
         datetime.date(2023, 5, 14)),
        ("toStartOfWeek(toDate('2023-05-17'), 1)",
         datetime.date(2023, 5, 15)),
        ("toLastDayOfWeek(toDate('2023-05-17'))",
         datetime.date(2023, 5, 20)),
        ("dateDiff('week', toDate('2023-01-01'), toDate('2023-01-20'))", 3),
        ("age('year', toDate('2020-02-29'), toDate('2023-02-28'))", 2),
        ("extractAllGroupsVertical('k=1,m=2', '(\\\\w)=(\\\\d)')",
         [["k", "1"], ["m", "2"]]),
        ("bitTest(5, 0)", 1),
        ("bitHammingDistance(5, 6)", 2),
        ("bitRotateLeft(toUInt8(1), 1)", 2),
        ("defaultValueOfTypeName('UInt8')", 0),
        ("defaultValueOfTypeName('String')", ""),
        ("soundex('Robert')", "R163"),
        # batch 16: math/map/JSON/encodings
        ("intExp2(10)", 1024),
        ("countDigits(toDecimal64(1.25, 2))", 3),
        ("factorial(5)", 120),
        ("mapPopulateSeries(map(1, 10, 4, 40))",
         {1: 10, 2: 0, 3: 0, 4: 40}),
        ("mapExtractKeyLike(map('abc', 1, 'xyz', 2), 'a%')", {"abc": 1}),
        ("JSONType('{\"a\": [1]}', 'a')", "Array"),
        ("JSONLength('{\"a\": [1,2,3]}', 'a')", 3),
        ("simpleJSONExtractInt('{\"a\": 7}', 'a')", 7),
        ("visitParamExtractString('{\"a\": \"v\"}', 'a')", "v"),
        ("toJSONString([1,2])", "[1,2]"),
        ("base64URLEncode('ab?cd')", "YWI_Y2Q"),
        ("tryBase64Decode('###')", ""),
        ("arrayRotateRight([1,2,3,4], 1)", [4, 1, 2, 3]),
        # batch 17: URL / tokenize / id
        ("URLPathHierarchy('http://a.com/p1/p2')", ["/p1/", "/p1/p2"]),
        ("netloc('http://user:pw@a.com:8080/p')", "user:pw@a.com:8080"),
        ("port('http://a.com:8080/p')", 8080),
        ("cutQueryStringAndFragment('http://a.com/p?x=1#f')",
         "http://a.com/p"),
        ("encodeURLFormComponent('a b')", "a+b"),
        ("pathFull('http://a.com/p?x=1')", "/p?x=1"),
        ("splitByNonAlpha('a1b c')", ["a1b", "c"]),
        ("ngrams('abcd', 2)", ["ab", "bc", "cd"]),
        ("monthName(toDate('2023-05-17'))", "May"),
        ("dateName('weekday', toDate('2023-05-17'))", "Wednesday"),
        ("toModifiedJulianDay('2023-05-17')", 60081),
        ("fromModifiedJulianDay(60081)", datetime.date(2023, 5, 17)),
        ("toYYYYMMDDhhmmss(toDateTime('2023-05-17 13:14:15'))",
         20230517131415),
        ("YYYYMMDDToDate(20230517)", datetime.date(2023, 5, 17)),
        ("toStartOfISOYear(toDate('2023-05-17'))",
         datetime.date(2023, 1, 2)),
        ("hasSubsequence('hello world', 'hlo')", True),
    ]
    for expr, want in pins:
        got = one(expr)
        assert got == want, f"{expr}: {got!r} != {want!r}"
    agg = lambda q: spark.sql(translate(q)).collect()[0].r
    assert agg("SELECT groupArrayLast(2)(number) AS r FROM numbers(5)") == [
        3, 4]
    assert agg("SELECT groupArrayInsertAt(3)(toString(number), number) AS r"
               " FROM numbers(3)") == ["0", "1", "2"]
    assert agg("SELECT groupBitAnd(number + 12) AS r FROM numbers(3)") == 12
    assert agg("SELECT topKWeighted(2)(number % 3, number) AS r"
               " FROM numbers(10)") == [0, 2]
    assert agg("SELECT maxIntersections(number, number + 2) AS r"
               " FROM numbers(5)") == 2
    assert agg("SELECT boundingRatio(number, number * 3) AS r"
               " FROM numbers(5)") == 3.0
    assert agg("SELECT uniqUpTo(5)(number) AS r FROM numbers(10)") == 6
    assert agg("SELECT singleValueOrNull(number) AS r FROM numbers(3)"
               ) is None
    sv = spark.sql(translate(
        "SELECT simpleLinearRegression(number, number * 2 + 1) AS r"
        " FROM numbers(10)")).collect()[0].r
    assert (sv.k, sv.b) == (2.0, 1.0)


def test_r12_summap_filtered(spark):
    """r11 verdict missing #5: sumMapFiltered(keys)(…) and friends are
    real mappings now — map_filter drops non-whitelisted keys before the
    sumMap fold; both the (keys, values) two-array and Map-argument forms
    work, and min/max twins ride the same kernel."""
    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    r = one("SELECT sumMapFiltered([1, 3])(k, v) AS s FROM"
            " (SELECT [1,2,3] AS k, [10,20,30] AS v"
            " UNION ALL SELECT [1], [5])")[0]
    assert list(r.keys) == [1, 3] and [int(x) for x in r.values] == [15, 30]
    assert one("SELECT sumMapFiltered(['a'])(m) AS s FROM"
               " (SELECT map('a', 1, 'b', 9) AS m)") == ({"a": 1},)
    r3 = one("SELECT minMapFiltered([1])(k, v) AS s FROM"
             " (SELECT [1,2] AS k, [10,20] AS v"
             " UNION ALL SELECT [1], [3])")[0]
    assert list(r3.keys) == [1] and list(r3.values) == [3]
    r4 = one("SELECT sumMapFilteredWithOverflow([2])(k, v) AS s FROM"
             " (SELECT [2] AS k, [7] AS v)")[0]
    assert [int(x) for x in r4.values] == [7]


def test_r12_contingency_aggregates(spark):
    """r12: cramersV / cramersVBiasCorrected / contingency are real
    mappings now (χ² fold over observed cells via the n·(Σn_ij²/(n_i·n_j)
    − 1) identity, so zero cells need no cross-product); values pinned
    against the hand-computed table (n=6, r=3, c=2, χ²=4/3)."""
    import math

    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    base = ("FROM (SELECT arrayJoin([(1,'a'),(1,'b'),(2,'a'),(2,'a'),"
            "(2,'b'),(3,'b')]) AS t)")
    got = one(f"SELECT cramersV(t.1, t.2) AS v, contingency(t.1, t.2)"
              f" AS c, cramersVBiasCorrected(t.1, t.2) AS bc {base}")
    chi2, n, r, c = 4 / 3, 6, 3, 2
    assert got[0] == _pytest_approx(math.sqrt((chi2 / n) / min(r - 1, c - 1)))
    assert got[1] == _pytest_approx(math.sqrt(chi2 / (chi2 + n)))
    assert got[2] == _pytest_approx(0.0)
    # perfect association → V = 1
    assert one("SELECT cramersV(x, y) AS v FROM (SELECT"
               " arrayJoin([(1,'a'),(2,'b'),(1,'a'),(2,'b')]) AS t,"
               " t.1 AS x, t.2 AS y)") == (1.0,)
    # the p-value test family keeps its named guidance (CDFs have no
    # Spark SQL builtin)
    import pytest as _pt
    with _pt.raises(ValueError, match="agg_stats"):
        translate("SELECT mannWhitneyUTest(a, b) FROM t")


def _pytest_approx(x):
    import pytest as _pt

    return _pt.approx(x, rel=1e-9)


def test_r12_theilsu_rankcorr(spark):
    """r12: theilsU and rankCorr are real mappings. theilsU pins CH's
    documented (sign-flipped) uncertainty coefficient — the docs example
    theilsU(number % 10, number % 4) over numbers(150) =
    -0.30195720557678846 (natural log, -MI/H(X)); rankCorr is Spearman
    with average mid-ranks, pinned on a hand-computed ties case."""
    import pytest as _pt

    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    assert one("SELECT theilsU(number % 10, number % 4) AS u"
               " FROM numbers(150)") == (
        _pt.approx(-0.30195720557678846, rel=1e-12),)
    assert one("SELECT rankCorr(x, x * 2 + 1) AS r FROM"
               " (SELECT arrayJoin([1.0,2.0,3.0,4.0]) AS x)") == (1.0,)
    assert one("SELECT rankCorr(x, -x) AS r FROM"
               " (SELECT arrayJoin([1.0,2.0,3.0,4.0]) AS x)") == (-1.0,)
    # ties: x=[1,2,2,3] mid-ranks [1,2.5,2.5,4]; y=[2,1,4,3] → 0.3162…
    assert one("SELECT rankCorr(x, y) AS r FROM (SELECT arrayJoin("
               "[(1.0,2.0),(2.0,1.0),(2.0,4.0),(3.0,3.0)]) AS t,"
               " t.1 AS x, t.2 AS y)") == (
        _pt.approx(0.31622776601683794, rel=1e-12),)


def test_r12_probe_tail(spark):
    """r12 probe tail: tuple-of-intervals arithmetic unfolds to chained
    ± terms; 2-arg timestamp(date, time) adds the time of day;
    logTrace returns its CH value (0 — the message went to a server log
    that doesn't exist here); quantileExactWeightedInterpolated is the
    24.x alias of the interpolated-weighted percentile."""
    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    assert one("SELECT toString(toDate('2024-01-01')"
               " + (INTERVAL 1 MONTH, INTERVAL 1 DAY)) AS s") == (
        "2024-02-02",)
    assert one("SELECT toString(toDateTime('2024-03-15 00:00:00')"
               " - (INTERVAL 1 MONTH, INTERVAL 2 DAY)) AS s") == (
        "2024-02-13 00:00:00",)
    assert one("SELECT toString(timestamp('2024-01-01', '01:02:03'))"
               " AS s") == ("2024-01-01 01:02:03",)
    assert one("SELECT logTrace('msg') AS s") == (0,)
    assert one("SELECT quantileExactWeightedInterpolated(0.5)(x, 1) AS q"
               " FROM (SELECT arrayJoin([1.0, 2.0, 3.0]) AS x)") == (2.0,)


def test_r12_probe_batch4_fn_tail(spark):
    """r12 probe batch 4 (function tail): arrayReduce gains the -If
    combinators (flag-array prefilter; the base aggregates skip NULLs,
    matching CH) plus any/anyLast/groupArray/groupUniqArray — the array
    IS the row order, so 'any' is deterministic here; sipHash128Keyed /
    sipHash128Reference return the 128-bit md5 analogue (32 hex chars,
    CH's hex() width — the old 64-bit rename printed 16) and multi-arg
    sipHash128 hashes ALL args (extra args were silently dropped);
    anova/fuzzBits get named refusals instead of Spark's raw
    unresolved-routine error."""
    import pytest as _pt

    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    assert one("SELECT arrayReduce('sumIf', [1,2,3], [1,0,1]) AS s") == (
        4.0,)
    assert one("SELECT arrayReduce('maxIf', [1,2,3], [1,1,0]) AS m") == (2,)
    assert one("SELECT arrayReduce('countIf', [9,9,9], [1,0,1]) AS c") == (
        2,)
    assert one("SELECT arrayReduce('avgIf', [2.0,4.0,9.0], [1,1,0])"
               " AS a") == (3.0,)
    assert one("SELECT arrayReduce('any', [7,8]) AS a,"
               " arrayReduce('anyLast', [7,8]) AS b") == (7, 8)
    assert one("SELECT arraySort(arrayReduce('groupUniqArray', [2,1,2]))"
               " AS g") == ([1, 2],)
    with _pt.raises(Exception, match="-If combinator takes"):
        translate("SELECT arrayReduce('sumIf', [1,2,3])")
    with _pt.raises(Exception, match="unsupported aggregate"):
        translate("SELECT arrayReduce('medianIf', [1], [1])")
    # 128-bit family width + multi-arg sensitivity
    assert one("SELECT length(sipHash128Keyed((toUInt64(1), toUInt64(2)),"
               " 'x')) AS n") == (32,)
    assert one("SELECT length(sipHash128Reference('a')) AS n") == (32,)
    assert one("SELECT length(sipHash128('a', 'b')) AS n,"
               " sipHash128('a', 'b') != sipHash128('ab') AS d") == (
        32, True)
    with _pt.raises(ValueError, match="significance-table"):
        translate("SELECT anova(x, g) FROM t")
    with _pt.raises(ValueError, match="fuzzBits flips random"):
        translate("SELECT fuzzBits('abc', 0.1)")


def test_r12_probe_batch6_null_skip_family(spark):
    """r12 probe batch 6: CH skips NULLs in every aggregate by default —
    any/anyLast/first_value/last_value (and firstValue/lastValue) now
    pass ignoreNulls=true to Spark's respect-by-default first/last/
    any_value/first_value/last_value, in aggregate, window, -If, -OrNull,
    -SimpleState and stacked-combinator position; the *_respect_nulls
    alias family and the postfix RESPECT NULLS / IGNORE NULLS modifiers
    map onto the same branch (postfix must fold BEFORE call translation:
    Spark's own postfix parser silently loses to an explicit ignoreNulls
    argument). arrayConcatAgg = groupArrayArray; grouping(alias) expands
    the alias in ROLLUP/CUBE too."""
    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    src = "(SELECT x FROM (SELECT arrayJoin([NULL, 1, 2]) AS x))"
    tail = "(SELECT arrayJoin([1, 2, NULL]) AS x)"
    assert one(f"SELECT any(x) AS a FROM {src}") == (1,)
    assert one(f"SELECT anyLast(x) AS a FROM {tail}") == (2,)
    assert one(f"SELECT first_value(x) AS a FROM {src}") == (1,)
    assert one(f"SELECT firstValue(x) AS a FROM {src}") == (1,)
    assert one(f"SELECT last_value(x) AS a FROM {tail}") == (2,)
    assert one(f"SELECT any_respect_nulls(x) AS a FROM {src}") == (None,)
    assert one(f"SELECT any(x) RESPECT NULLS AS a FROM {src}") == (None,)
    assert one(f"SELECT first_value(x) RESPECT NULLS AS a FROM {src}") == (
        None,)
    assert one(f"SELECT first_value(x) IGNORE NULLS AS a FROM {src}") == (
        1,)
    # the -If spelling builds IF(cond, x, NULL) — only correct because
    # the base now skips NULLs
    assert one("SELECT anyIf(x, x > 1) AS a FROM"
               " (SELECT arrayJoin([1, 2, 3]) AS x)") == (2,)
    assert one("SELECT anyIfDistinct(x, x > 1) AS a FROM"
               " (SELECT arrayJoin([1, 2, 2]) AS x)") == (2,)
    assert one(f"SELECT anySimpleState(x) AS a FROM {src}") == (1,)
    assert one("SELECT anyOrNull(x) AS a FROM"
               " (SELECT arrayJoin([1]) AS x) WHERE x > 5") == (None,)
    # window position: both the skip default and the postfix twin
    assert one(
        "SELECT first_value(x) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED"
        " PRECEDING AND UNBOUNDED FOLLOWING) AS a FROM (SELECT 0 AS o,"
        " CAST(NULL AS Nullable(Int32)) AS x UNION ALL SELECT 1, 7)"
        " ORDER BY a LIMIT 1") == (7,)
    assert one("SELECT arrayConcatAgg(a) AS s FROM"
               " (SELECT arrayJoin([[1,2],[3]]) AS a)") == ([1, 2, 3],)
    rows = [tuple(r) for r in spark.sql(translate(
        "SELECT number % 2 AS g, grouping(g) AS gr, count() AS c"
        " FROM numbers(4) GROUP BY ROLLUP(g)"
        " ORDER BY g NULLS LAST, gr")).collect()]
    assert rows == [(0, 0, 2), (1, 0, 2), (None, 1, 4)]


def test_r12_probe_batch8_tail(spark):
    """r12 probe batch 8: fromUnixTimestampInJodaSyntax joins its parse/
    format twins (Spark's own formatter speaks the Joda core tokens);
    GROUPS window frames refuse with named guidance (Spark has no GROUPS
    unit — previously a raw parse error)."""
    import pytest as _pt

    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    assert one("SELECT fromUnixTimestampInJodaSyntax(1704067200,"
               " 'yyyy-MM-dd') AS s") == ("2024-01-01",)
    with _pt.raises(ValueError, match="GROUPS window frames"):
        translate("SELECT sum(v) OVER (ORDER BY g GROUPS BETWEEN 1"
                  " PRECEDING AND CURRENT ROW) FROM t")
    # GROUPING SETS is untouched by the GROUPS guard
    assert [tuple(r) for r in spark.sql(translate(
        "SELECT number % 2 AS g, count() AS c FROM numbers(4)"
        " GROUP BY GROUPING SETS ((g)) ORDER BY g")).collect()] == [
        (0, 2), (1, 2)]


def test_r12_probe_batch10_edges(spark):
    """r12 probe batch 10 (semantic edges): length/empty route typed
    empty-array constructors (CAST(array() AS ARRAY<T>)) to size();
    toUInt8/16 gain their -OrNull/-OrZero/-OrDefault twins (widened-type
    try_cast, negative-string divergence documented in the module doc);
    ~45 edge spellings re-verified green (intDiv truncation, moduloOrZero,
    CH substring(-3), position 3-arg start, leftPad truncation, quantile
    interpolation, empty-set aggregates, tuple compare, toISOWeek …)."""
    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    assert one("SELECT length(emptyArrayInt64()) AS n,"
               " empty(emptyArrayString()) AS e") == (0, True)
    assert one("SELECT toUInt8OrNull('x') AS a, toUInt8OrNull('7') AS b,"
               " toUInt8OrZero('x') AS c,"
               " toUInt16OrDefault('x', toUInt16(3)) AS d") == (
        None, 7, 0, 3)


def test_r12_probe_batch11_tail(spark):
    """r12 probe batch 11: sub-second toInterval constructors (micros-
    exact via make_dt_interval fractional seconds); toFixedString
    NUL-pads to the declared width so length() reports N like CH's
    FixedString (toStringCutToZero recovers the logical value)."""
    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    assert one(
        "SELECT toString(toDateTime64('2024-01-01 00:00:00', 3)"
        " + toIntervalMillisecond(250)) AS t") == (
        "2024-01-01 00:00:00.25",)
    assert one(
        "SELECT toString(toDateTime64('2024-01-01 00:00:00', 6)"
        " + toIntervalMicrosecond(1500)) AS t") == (
        "2024-01-01 00:00:00.0015",)
    assert one("SELECT length(toFixedString('ab', 4)) AS l,"
               " toStringCutToZero(toFixedString('ab', 4)) AS s,"
               " toFixedString('abcdef', 3) AS t") == (4, "ab", "abc")


def test_r12_probe_batch12_lag_frames_and_array_cast(spark):
    """r12 probe batch 12: lagInFrame/leadInFrame's canonical CH
    spelling carries an explicit full frame (CH's default frame breaks
    lag, so every real query writes one) — Spark's lag/lead reject ANY
    frame, so the equivalent-to-plain frames strip (lag: UNBOUNDED
    PRECEDING start with either end — backward offsets are inside;
    lead: full frame only — a CURRENT ROW end excludes the forward
    target in CH) and narrower frames refuse loudly. CAST of a STRING
    literal to Array(T) parses via from_json (CH parses the literal;
    Spark can't cast string→array)."""
    import pytest as _pt

    from canal_clickhouse_spark.chsql import translate

    def rows(sql):
        return [tuple(r) for r in spark.sql(translate(sql)).collect()]

    assert rows(
        "SELECT lagInFrame(n, 1, -1) OVER (ORDER BY n ROWS BETWEEN"
        " UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS l FROM"
        " (SELECT arrayJoin([1,2]) AS n) ORDER BY l") == [(-1,), (1,)]
    assert rows(
        "SELECT lagInFrame(n) OVER (ORDER BY n ROWS BETWEEN UNBOUNDED"
        " PRECEDING AND CURRENT ROW) AS l FROM"
        " (SELECT arrayJoin([1,2]) AS n) ORDER BY l NULLS FIRST") == [
        (None,), (1,)]
    # ROWS-frame inclusion is row-independent, so the target-in-frame
    # cases strip to plain lag, and target-outside cases become the
    # constant default (CH answers the default for every row there)
    assert rows(
        "SELECT lagInFrame(n, 1, -1) OVER (ORDER BY n ROWS BETWEEN 1"
        " PRECEDING AND CURRENT ROW) AS l FROM"
        " (SELECT arrayJoin([1,2]) AS n) ORDER BY l") == [(-1,), (1,)]
    # lead: a CURRENT ROW end EXCLUDES the forward target → default
    assert rows(
        "SELECT leadInFrame(n, 1, 9) OVER (ORDER BY n ROWS BETWEEN"
        " UNBOUNDED PRECEDING AND CURRENT ROW) AS l FROM"
        " (SELECT arrayJoin([1,2]) AS n) ORDER BY l") == [(9,), (9,)]
    # lag reaching beyond the frame start → default everywhere
    assert rows(
        "SELECT lagInFrame(n, 2, -7) OVER (ORDER BY n ROWS BETWEEN 1"
        " PRECEDING AND CURRENT ROW) AS l FROM"
        " (SELECT arrayJoin([1,2,3]) AS n) ORDER BY l") == [
        (-7,), (-7,), (-7,)]
    # value-dependent frames (RANGE/GROUPS) refuse loudly
    with _pt.raises(ValueError, match="RESPECTS"):
        translate("SELECT lagInFrame(n) OVER (ORDER BY n RANGE BETWEEN 1"
                  " PRECEDING AND CURRENT ROW) FROM t")
    assert rows(
        "SELECT leadInFrame(n, 1, 9) OVER (ORDER BY n ROWS BETWEEN"
        " UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS l FROM"
        " (SELECT arrayJoin([1,2]) AS n) ORDER BY l") == [(2,), (9,)]
    assert rows("SELECT CAST('[1,2]' AS Array(Int64)) AS a") == [
        ([1, 2],)]
    assert rows("SELECT CAST('[''a'',''b'']' AS Array(String)) AS a") == [
        (["a", "b"],)]
    # unframed lag and non-lag frames untouched
    assert rows("SELECT lag(n) OVER (ORDER BY n) AS l FROM"
                " (SELECT arrayJoin([1,2]) AS n) ORDER BY l NULLS FIRST"
                ) == [(None,), (1,)]
    assert rows("SELECT sum(n) OVER (ORDER BY n ROWS BETWEEN 1 PRECEDING"
                " AND CURRENT ROW) AS s FROM (SELECT arrayJoin([1,2,3])"
                " AS n) ORDER BY s") == [(1,), (3,), (5,)]


def test_r12_any_state_merge_null_skip(spark):
    """r12 follow-through of the batch-6 NULL-skip convention: anyState/
    anyLastState emit the ignoreNulls form, and anyMerge/anyLastMerge
    (previously raw passthrough) map — a merge of any-states is any over
    the states, NULL-skipping like every CH aggregate."""
    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    src = "(SELECT x FROM (SELECT arrayJoin([NULL, 4, 5]) AS x))"
    assert one(f"SELECT anyState(x) AS s FROM {src}") == (4,)
    assert one(f"SELECT anyMerge(x) AS s FROM {src}") == (4,)
    assert one(f"SELECT anyLastMerge(x) AS s FROM"
               " (SELECT arrayJoin([4, 5, NULL]) AS x)") == (5,)


def test_r12_hash_comments(spark):
    """r12 probe batch 13: CH's lexer accepts MySQL-style # line
    comments — stripped on masked text so a '#' inside a string literal
    survives."""
    from canal_clickhouse_spark.chsql import translate

    def one(sql):
        return tuple(spark.sql(translate(sql)).collect()[0])

    assert one("SELECT 3 AS x # trailing") == (3,)
    assert one("SELECT '#keep' AS h # strip") == ("#keep",)
    assert one("SELECT 1 AS x\n# whole-line comment\n, 2 AS y") == (1, 2)
