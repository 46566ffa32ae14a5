"""SHOW and EXISTS read the `system.*` tables.

`ChSession._system_df` is the one catalog listing. Every SHOW listing and
every EXISTS form is a filter over it, so a SHOW and the system table that
lists the same objects cannot disagree. These checks read the module
source; they need no Spark session.
"""

from __future__ import annotations

import ast
import inspect
import re
import textwrap

from canal_clickhouse_spark import chsql_ddl

# a statement pattern naming a SHOW listing
_LISTINGS = (
    r"SHOW\\s\+.*\b(?:TABLES|DATABASES|DICTIONARIES|ENGINES|SETTINGS"
    r"|FUNCTIONS|PROCESSLIST|MERGES|GRANTS|CLUSTERS?)\b"
)


def _strings(tree: ast.AST) -> list[str]:
    return [
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    ]


def _module_strings() -> list[str]:
    return _strings(ast.parse(inspect.getsource(chsql_ddl)))


def _branches(fn):
    """``(match expression, its string constants, called names)`` for each
    ``m = …`` / ``if m:`` pair in ``fn``'s body."""
    body = ast.parse(textwrap.dedent(inspect.getsource(fn))).body[0].body
    for a, b in zip(body, body[1:]):
        if (
            isinstance(a, ast.Assign)
            and isinstance(b, ast.If)
            and ast.unparse(b.test) == "m"
        ):
            calls = {
                n.func.attr if isinstance(n.func, ast.Attribute)
                else getattr(n.func, "id", "")
                for n in ast.walk(b)
                if isinstance(n, ast.Call)
            }
            yield ast.unparse(a.value), _strings(a.value), calls


def test_show_and_exists_read_the_system_tables():
    branches = list(_branches(chsql_ddl.ChSession._execute_stmt))
    show = [calls for src, _, calls in branches if "_SHOW_RE" in src]
    exists = [
        calls for _, strs, calls in branches
        if any(s.startswith(r"(?is)^\s*EXISTS\s") for s in strs)
    ]
    assert len(show) == 1 and "_system_df" in show[0]
    assert len(exists) == 1 and "_system_df" in exists[0]


def test_one_show_listing_pattern():
    hits = [s for s in _module_strings() if re.search(_LISTINGS, s)]
    assert len(hits) == 1 and hits[0] == chsql_ddl._SHOW_RE.pattern


def test_one_exists_pattern():
    hits = [
        s for s in _module_strings() if s.startswith(r"(?is)^\s*EXISTS\s")
    ]
    assert len(hits) == 1


def test_no_hand_written_like_translation():
    assert 'replace("%", ".*")' not in inspect.getsource(chsql_ddl)


def test_one_engine_list():
    assert inspect.getsource(chsql_ddl).count("TinyLog") == 1
    assert chsql_ddl._ENGINE_WHITELIST == {
        e.lower() for e in chsql_ddl._ENGINES
    }
