"""The MergeTree merge rules live in one place, `chsql_ddl._merge_sql`.

`ChSession._rewrite_session_final` (``FROM t FINAL``) and
`ChSession._optimize_final` (``OPTIMIZE FINAL``) both call it, and one
insert generation is tagged only by `ChSession._generation`. These checks
read the module source; they need no Spark session.
"""

from __future__ import annotations

import inspect
import re

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
