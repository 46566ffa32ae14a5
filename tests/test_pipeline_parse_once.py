"""A CDC batch is parsed once, in `CdcPipeline.apply_messages`.

The pipeline reaches the envelope parse through one call that no loop,
comprehension or per-rule callback repeats, and it has no per-rule
``get_json_object`` routing pass. These checks read the module source; they
need no Spark session.
"""

from __future__ import annotations

import ast
import inspect

from canal_clickhouse_spark import pipeline

PARSERS = {"explode_envelope", "parse_envelope", "parse_envelope_typed", "from_json"}
REPEATS = (ast.For, ast.While, ast.comprehension, ast.Lambda, ast.FunctionDef)


def _parse_calls(node: ast.AST, repeated: bool = False):
    """(call, inside a loop or nested callable?) for every envelope-parse call."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, ast.Call):
            name = getattr(child.func, "attr", getattr(child.func, "id", None))
            if name in PARSERS:
                yield child, repeated
        yield from _parse_calls(child, repeated or isinstance(child, REPEATS))


def test_pipeline_has_no_per_rule_json_routing():
    assert "get_json_object" not in inspect.getsource(pipeline)


def test_apply_messages_reaches_the_envelope_parse_once():
    module = ast.parse(inspect.getsource(pipeline))
    assert len(list(_parse_calls(module))) == 1
    cls = next(n for n in module.body
               if isinstance(n, ast.ClassDef) and n.name == "CdcPipeline")
    apply = next(n for n in cls.body
                 if isinstance(n, ast.FunctionDef) and n.name == "apply_messages")
    assert [repeated for _, repeated in _parse_calls(apply)] == [False]
