"""One literal lexer for CH text: `chsql._literal_end`.

Every bracket matcher, comma splitter, statement splitter and literal
mask in `chsql` and `chsql_ddl` reads string literals through it. The
property tests build argument lists whose literals hold the characters
the scanners look for (``, ; ( ) [ ]``), backslash-escaped and doubled
quotes and ``"``, and check that every scanner sees the same structure.
The source checks pin that no scanner lexes literals on its own. No Spark
session is needed.
"""

from __future__ import annotations

import ast
import inspect
import textwrap

from hypothesis import given, settings, strategies as st

from canal_clickhouse_spark import chsql, chsql_ddl

IDENT = st.sampled_from(["a", "k1", "_x", "col_b"])
LITERAL = st.lists(
    st.sampled_from(
        ["a", "b", " ", ",", ";", "(", ")", "[", "]", '"', "\\'", "''", "\\\\"]
    ),
    max_size=8,
).map(lambda parts: "'" + "".join(parts) + "'")


def _groups(children):
    args = st.lists(children, min_size=1, max_size=3).map(", ".join)
    return st.one_of(
        args.map(lambda a: f"({a})"),
        args.map(lambda a: f"[{a}]"),
        st.tuples(IDENT, args).map(lambda t: f"{t[0]}({t[1]})"),
    )


ITEM = st.recursive(st.one_of(IDENT, LITERAL), _groups, max_leaves=8)
ITEMS = st.lists(ITEM, min_size=1, max_size=5)


@settings(max_examples=150, deadline=None)
@given(ITEMS)
def test_comma_splitters_see_the_items(items):
    text = ", ".join(items)
    assert chsql._split_args(text) == items
    assert chsql_ddl._split_top_commas(text) == items


@settings(max_examples=150, deadline=None)
@given(ITEMS)
def test_group_closes_at_its_own_bracket(items):
    text = "(" + ", ".join(items) + ")"
    assert chsql._scan_group(text, 0) == len(text) - 1


@settings(max_examples=100, deadline=None)
@given(st.lists(ITEMS.map(lambda it: "SELECT " + ", ".join(it)),
                min_size=1, max_size=4))
def test_statements_split_at_top_level_semicolons(stmts):
    assert chsql_ddl.split_statements("; ".join(stmts)) == stmts


@settings(max_examples=150, deadline=None)
@given(st.lists(st.one_of(LITERAL, IDENT, st.sampled_from(["(", "]", ","])),
                max_size=8))
def test_mask_hides_exactly_the_literal_bodies(segments):
    text = " ".join(segments)
    expected = " ".join(
        s[0] + "\x01" * (len(s) - 2) + s[-1] if s.startswith("'") else s
        for s in segments
    )
    assert chsql._mask_literals(text) == expected
    for s in segments:
        if s.startswith("'"):
            assert chsql._literal_end(s, 0) == len(s) - 1


def test_unterminated_literal_runs_to_the_end():
    assert chsql._literal_end("'ab\\'", 0) == 5
    assert chsql._literal_end("x 'a\\", 2) == 5
    assert chsql._mask_literals("'ab\\") == "'\x01\x01\x01"


def _loops_reading_quotes(module):
    """Every for/while loop in ``module`` that compares a scanned
    character with a quote character."""
    return [
        loop for loop in ast.walk(ast.parse(inspect.getsource(module)))
        if isinstance(loop, (ast.For, ast.While))
        and any(_is_quote_test(n) for n in ast.walk(loop))
    ]


def _is_quote_test(node) -> bool:
    if not isinstance(node, ast.Compare):
        return False
    sides = [node.left, *node.comparators]
    quote = any(
        isinstance(s, ast.Constant) and isinstance(s.value, str)
        and s.value and set(s.value) <= set("'\"")
        for s in sides
    )
    # a scanned character: a name, or an index that is not a constant
    char = any(
        isinstance(s, ast.Name)
        or (isinstance(s, ast.Subscript) and not _constant(s.slice))
        for s in sides
    )
    return quote and char


def _constant(node) -> bool:
    if isinstance(node, ast.Slice):
        return True
    try:
        ast.literal_eval(node)
    except ValueError:
        return False
    return True


def test_every_quote_reading_loop_calls_the_lexer():
    for module in (chsql, chsql_ddl):
        for loop in _loops_reading_quotes(module):
            calls = {
                n.func.id for n in ast.walk(loop)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
            }
            assert "_literal_end" in calls, (module.__name__, loop.lineno)


def test_no_second_matcher_or_splitter():
    assert not hasattr(chsql, "_scan_bracket")
    for fn in (chsql._close_paren, chsql_ddl._split_top_commas):
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        assert not any(
            isinstance(n, (ast.For, ast.While)) for n in ast.walk(tree)
        ), fn.__name__


def test_chsql_ddl_imports_chsql_once():
    tree = ast.parse(inspect.getsource(chsql_ddl))
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef):
            assert not any(
                isinstance(n, ast.ImportFrom) and n.module == "chsql"
                for n in ast.walk(fn)
            ), fn.name
