"""The CH function-name gate (`chsql._CH_NAMES`) against the translator.

`_translate_fns` hands `ident(...)` to `_translate_call` only when the
lower-cased name is in `_CH_NAMES`, so a code branch whose name is missing
from the gate never runs and the call passes through verbatim. These
checks read `_translate_call`'s source; they need no Spark session.
"""

from __future__ import annotations

import ast
import inspect

from canal_clickhouse_spark import chsql


def _names_compared_to_low() -> set[str]:
    """Every string constant `_translate_call` compares `low` against
    (`low == "x"`, `low in ("x", "y")`)."""
    tree = ast.parse(inspect.getsource(chsql._translate_call))
    names = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Compare)
            and isinstance(node.left, ast.Name)
            and node.left.id == "low"
        ):
            for comp in node.comparators:
                for e in ast.walk(comp):
                    if isinstance(e, ast.Constant) and isinstance(e.value, str):
                        names.add(e.value)
    return names


def test_every_branch_name_is_gated():
    ungated = sorted(_names_compared_to_low() - chsql._CH_NAMES)
    assert not ungated, f"branch names missing from _CH_NAMES: {ungated}"


def test_table_names_have_no_shadowed_branch():
    # the tables are consulted before the chain, so a chain branch for a
    # table name could never run
    assert not set(chsql._TEMPLATES) & set(chsql._REFUSALS)
    tables = set(chsql._TEMPLATES) | set(chsql._REFUSALS)
    dead = sorted(_names_compared_to_low() & tables)
    assert not dead, f"chain branches shadowed by a table entry: {dead}"

