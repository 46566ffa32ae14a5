"""The MergeTree merge rules live in one place, `chsql_ddl._merge_sql`.

`ChSession._rewrite_session_final` (``FROM t FINAL``) and
`ChSession._optimize_final` (``OPTIMIZE FINAL``) both call it, and one
insert generation is tagged only by `ChSession._generation`. Insert order
is stored with the rows and every append goes through `ChSession._append`,
so no statement keeps a second copy of the order in sync. Every PARTITION
clause selects its rows with `ChSession._partition_cond`. These checks
read the module source; they need no Spark session.
"""

from __future__ import annotations

import ast
import inspect
import re
import textwrap

from canal_clickhouse_spark import chsql_ddl


def test_generation_tagging_is_written_once():
    src = inspect.getsource(chsql_ddl)
    assert len(re.findall(r'withColumn\(\s*"_ch_ins_seq"', src)) == 1


def test_final_and_optimize_hold_no_merge_rule():
    for fn in (
        chsql_ddl.ChSession._rewrite_session_final,
        chsql_ddl.ChSession._optimize_final,
    ):
        src = inspect.getsource(fn)
        assert "ROW_NUMBER" not in src, fn.__name__
        assert "sum({sign})" not in src, fn.__name__


def _calls(fn) -> set[str]:
    """Names of the methods and functions ``fn`` calls."""
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    return {
        n.func.attr if isinstance(n.func, ast.Attribute) else n.func.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, (ast.Attribute, ast.Name))
    }


def test_insert_order_has_no_second_copy():
    src = inspect.getsource(chsql_ddl.ChSession)
    assert not re.search(r"\b_ins_shadow\b", src)
    assert "createOrReplaceTempView" not in _calls(
        chsql_ddl.ChSession._rewrite_session_final
    )
    assert not {"_generation", "unionByName"} & _calls(
        chsql_ddl.ChSession._fire_mvs
    )


def test_one_append_path():
    callers = [
        name
        for name, fn in vars(chsql_ddl.ChSession).items()
        if inspect.isfunction(fn) and "_append_part" in _calls(fn)
    ]
    assert callers == ["_append"]


def _reads_key(node, key: str) -> bool:
    """True when ``node`` reads ``key`` as ``x[key]`` or ``x.get(key)``."""
    for n in ast.walk(node):
        if (isinstance(n, ast.Subscript) and isinstance(n.ctx, ast.Load)
                and isinstance(n.slice, ast.Constant)
                and n.slice.value == key):
            return True
        if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr == "get" and n.args
                and isinstance(n.args[0], ast.Constant)
                and n.args[0].value == key):
            return True
    return False


def test_one_partition_selector():
    assert not hasattr(chsql_ddl, "_DROP_PARTITION_RE")
    assert not hasattr(chsql_ddl.ChSession, "_part_restrict")
    cls = ast.parse(inspect.getsource(chsql_ddl.ChSession)).body[0]
    readers = [
        f.name for f in cls.body
        if isinstance(f, ast.FunctionDef) and _reads_key(f, "partition_by")
    ]
    assert readers == ["_partition_cond"]
