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


def _row(name: str):
    (row,) = [r for r in chsql_ddl._STATEMENTS if r.name == name]
    return row


def _calls(fn) -> set[str]:
    """Names of the methods and functions ``fn`` calls."""
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    return {
        n.func.attr if isinstance(n.func, ast.Attribute)
        else getattr(n.func, "id", "")
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
    }


def test_show_and_exists_read_the_system_tables():
    assert _row("show").pattern is chsql_ddl._SHOW_RE
    exists = [
        r for r in chsql_ddl._STATEMENTS
        if getattr(r.pattern, "pattern", "").startswith(r"(?is)^\s*EXISTS\s")
    ]
    assert exists == [_row("exists")]
    for row in (_row("show"), _row("exists")):
        assert "_system_df" in _calls(row.handler), row.name


def test_one_show_listing_pattern():
    hits = [s for s in _module_strings() if re.search(_LISTINGS, s)]
    assert len(hits) == 1 and hits[0] == chsql_ddl._SHOW_RE.pattern


def test_one_exists_pattern():
    hits = [
        s for s in _module_strings()
        if re.match(r"(\(\?is\)\^\\s\*)?EXISTS\\s", s)
    ]
    assert len(hits) == 1
    assert _row("exists").pattern.pattern.endswith(hits[0])


def test_no_hand_written_like_translation():
    assert 'replace("%", ".*")' not in inspect.getsource(chsql_ddl)


def test_one_engine_list():
    assert inspect.getsource(chsql_ddl).count("TinyLog") == 1
    assert chsql_ddl._ENGINE_WHITELIST == {
        e.lower() for e in chsql_ddl._ENGINES
    }
