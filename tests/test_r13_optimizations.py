"""Pins for the r13 optimization round's internals.

Each test pins an equivalence or plan property an r13 change relies on, so
a later refactor can't silently regress it:

- connected_components now symmetrizes (and self-loops) internally off one
  materialized RDD; directed, pre-symmetrized, and duplicated edge lists
  must label identically.
- _kmeans_assign computes the argmin as a projection over a 1-row centroid
  array: no per-vector aggregate exchange, and the fold must be evaluated
  below the posexplode in the centroid update (above it would re-evaluate
  the 8x64-term fold once per exploded row - measured 10.3s vs 0.5s).
- parts-mode INSERT appends via a staging dir + move instead of an eager
  localCheckpoint; the self-read guarantee (INSERT INTO t SELECT FROM t)
  must survive, and no staging dirs may leak.
"""

from __future__ import annotations

import glob
import io
import os
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F


def _fmt_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_cc_directed_equals_symmetrized_and_duplicated(spark):
    """The r13 contract: callers pass each edge once (either direction);
    pre-symmetrized or duplicated lists label identically (duplicates are
    absorbed by the min aggregation)."""
    from canal_clickhouse_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "s bigint, d bigint",
    )
    sym = pairs.unionByName(
        pairs.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    dup = pairs.unionByName(pairs)
    expect = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
              (20, 20), (21, 20), (22, 20)}
    for edges in (pairs, sym, dup):
        got = {(r.node, r.comp) for r in connected_components(edges).collect()}
        assert got == expect


def test_cc_empty_edge_list_is_fixpoint(spark):
    from canal_clickhouse_spark.llm.dedup import connected_components

    empty = spark.createDataFrame([], "s bigint, d bigint")
    assert connected_components(empty).count() == 0


def test_kmeans_assignment_has_no_per_vector_exchange(spark, sf_dir):
    """r13: the Lloyd assignment is a projection over the broadcast 1-row
    centroid array - the plan must not hash-partition on vec_id anywhere
    (the r12 shape aggregated a crossJoin back down with one N-row
    exchange per round)."""
    from canal_clickhouse_spark.llm.curation import _kmeans_assign
    from canal_clickhouse_spark.catalog import table

    vecs = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    ).localCheckpoint(eager=False)
    plan = _fmt_plan(_kmeans_assign(vecs))
    assert "hashpartitioning(vec_id" not in plan


def test_kmeans_argmin_below_generate(spark, sf_dir):
    """The centroid update's posexplode must receive `cluster` as an input
    column (computed once per vector, below the Generate); an argmin fold
    hoisted above the Generate re-evaluates per exploded element."""
    from canal_clickhouse_spark.llm.curation import _kmeans_assign
    from canal_clickhouse_spark.catalog import table

    vecs = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    ).localCheckpoint(eager=False)
    plan = _fmt_plan(_kmeans_assign(vecs))
    gen_blocks = re.findall(
        r"^\(\d+\) Generate.*?(?=^\(\d+\) )", plan, re.M | re.S
    )
    assert gen_blocks, "expected posexplode Generates in the Lloyd loop"
    for blk in gen_blocks:
        assert "cluster" in blk, (
            "centroid-update Generate lost its pre-computed cluster input - "
            "the argmin fold would run once per exploded row:\n" + blk
        )


def test_decontam_probe_join_has_no_exchange_below(spark, sf_dir):
    """r12 verdict task 2 pin: the corpus side must feed the broadcast
    eval-gram probe join directly - no exchange (the old shape ran a full
    (doc_id, gram) distinct shuffle of the corpus BEFORE the probe); the
    survivor dedup is the two-phase count(distinct g) ABOVE the join."""
    from canal_clickhouse_spark.llm.curation import decontam_ngram

    plan = _fmt_plan(decontam_ngram(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    join_lines = [ln for ln in tree.splitlines() if "BroadcastHashJoin" in ln]
    assert len(join_lines) == 1
    join_idx = tree.splitlines().index(join_lines[0])
    # streaming (corpus) branch: lines from the join down to the
    # BroadcastExchange child - none may be an Exchange.
    below = tree.splitlines()[join_idx + 1:]
    bx = next(i for i, ln in enumerate(below) if "BroadcastExchange" in ln)
    corpus_branch = below[:bx]
    assert corpus_branch, "unexpected plan shape"
    assert not any("Exchange" in ln for ln in corpus_branch), (
        "corpus side shuffles before the probe join:\n" + "\n".join(corpus_branch)
    )


def test_parts_append_self_insert_and_no_staging_leak(spark, sf_dir, tmp_path):
    """INSERT INTO t SELECT ... FROM t in parts mode must read the
    pre-insert snapshot (the staging-dir write keeps the generation dir
    untouched while the self-scan runs), and the staging dir must be gone
    afterwards."""
    from canal_clickhouse_spark.chsql_ddl import ChSession

    root = str(tmp_path / "parts")
    os.makedirs(root, exist_ok=True)
    sess = ChSession(spark, sf_dir, parts_dir=root)
    sess.run_script(
        """
        CREATE TABLE t_self (k Int64) ENGINE = MergeTree ORDER BY k;
        INSERT INTO t_self SELECT o_orderkey FROM orders LIMIT 100;
        INSERT INTO t_self SELECT k FROM t_self;
        """
    )
    out = sess.run_script("SELECT toInt64(count()) AS n FROM t_self;")
    assert out.collect()[0].n == 200
    assert not glob.glob(root + "/*_stage*"), "staging dir leaked"
    # appended parts landed as extra files in the same generation dir
    gen_dirs = [d for d in os.listdir(root) if d.startswith("t_self_g")]
    assert len(gen_dirs) == 1


def test_parts_append_under_uri_root_and_system_parts(spark, sf_dir, tmp_path):
    """The self-insert case with a ``file://`` parts_dir: the staged
    append lists, moves and deletes through Hadoop FileSystem, so a URI
    root works like a path, and system.parts names exactly the part files
    of the current generation."""
    from canal_clickhouse_spark.chsql_ddl import ChSession

    root = tmp_path / "parts"
    sess = ChSession(spark, sf_dir, parts_dir=root.as_uri())
    sess.run_script(
        """
        CREATE TABLE t_self (k Int64) ENGINE = MergeTree ORDER BY k;
        INSERT INTO t_self SELECT o_orderkey FROM orders LIMIT 100;
        INSERT INTO t_self SELECT k FROM t_self;
        """
    )
    out = sess.run_script("SELECT toInt64(count()) AS n FROM t_self;")
    assert out.collect()[0].n == 200
    assert not glob.glob(f"{root}/*_stage*"), "staging dir leaked"
    gen_dirs = [d for d in os.listdir(root) if d.startswith("t_self_g")]
    assert len(gen_dirs) == 1
    files = sorted(f for f in os.listdir(root / gen_dirs[0]) if f.endswith(".parquet"))
    assert len(files) >= 2, "the self-insert should have added a part"
    rows = sess.execute(
        "SELECT partition, name FROM system.parts WHERE table = 't_self'"
    ).collect()
    assert sorted((r.partition, r.name) for r in rows) == [(gen_dirs[0], f) for f in files]
