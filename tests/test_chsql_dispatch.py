"""`ChSession`'s statement dispatch is one ordered table, `_STATEMENTS`:
the first row whose pattern matches a prepared statement claims it. These
checks run the patterns alone; they need no Spark session.
"""

from __future__ import annotations

import re

import pytest

from canal_clickhouse_spark import chsql_ddl
from canal_clickhouse_spark.chsql_ddl import _alter_commands, _claim, _respell

SCRIPTS = sorted(
    k for k in vars(chsql_ddl) if k.startswith("_CH_") and k.endswith("_SCRIPT")
)


def _claimed(statement: str, databases=("default",)) -> str | None:
    """The name of the row that claims ``statement`` once respelled."""
    claimed = _claim(_respell(statement, set(databases)))
    return claimed and claimed[0].name


def _databases(text: str) -> set[str]:
    """The databases a script knows: default and those it creates."""
    return {"default"} | {
        d.lower() for d in re.findall(
            r"(?i)CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)", text)
    }


@pytest.mark.parametrize("script", SCRIPTS)
def test_every_registry_statement_is_claimed(script):
    text = getattr(chsql_ddl, script)
    for statement in chsql_ddl.split_statements(text):
        assert _claimed(statement, _databases(text)), statement[:80]


# statements whose claim depends on the order of the rows
ORDER = [
    ("SET param_x = 1", "set_param"),
    ("SET max_threads = 1", "set"),
    ("SET NAMES utf8", "set_names"),
    ("SET ROLE r", "set_role"),
    ("SHOW CREATE FUNCTION f", "show_create_function"),
    ("SHOW CREATE DATABASE d", "show_create_database"),
    ("SHOW CREATE VIEW v", "show_create"),
    ("SHOW CREATE TABLE t", "show_create"),
    ("CREATE MATERIALIZED VIEW mv TO t AS SELECT a FROM s", "create_mv"),
    ("CREATE VIEW v AS SELECT 1", "create_view"),
    ("CREATE LIVE VIEW lv AS SELECT 1", "live_view"),
    ("ATTACH TABLE t (a Int64) ENGINE = Memory", "attach_schema"),
    ("ATTACH TABLE t", "attach"),
    ("DESCRIBE (SELECT 1)", "describe_query"),
    ("DESCRIBE t", "describe"),
    ("SHOW COLUMNS FROM t", "describe"),
    ("TRUNCATE ALL TABLES FROM d", "truncate_all"),
    ("TRUNCATE TABLE t", "truncate"),
    ("CHECK ALL TABLES", "check_all"),
    ("CHECK TABLE t", "check"),
    ("INSERT INTO t FROM INFILE 'p.csv' FORMAT CSV", "insert_infile"),
    ("INSERT INTO t FORMAT CSV\n1,2", "insert_format"),
    ("INSERT INTO t SELECT 1", "insert_select"),
    ("INSERT INTO t VALUES (1)", "insert_values"),
    ("INSERT INTO t FORMAT Values (1)", "insert_values"),
    ("INSERT INTO FUNCTION file('p.csv') VALUES (1)", "insert_function"),
    ("CREATE TABLE t AS numbers(3)", "create_clone"),
    ("CREATE TABLE t AS src", "create_clone"),
    ("CREATE TABLE t AS SELECT 1", "create_table"),
    ("CREATE TABLE t (a Int64) ENGINE = Memory", "create_table"),
    ("ALTER TABLE t MODIFY TTL d + INTERVAL 1 DAY", "alter"),
    ("ALTER TABLE t MODIFY QUERY SELECT 1", "alter"),
    ("ALTER TABLE t MODIFY COLUMN a String", "alter"),
    ("ALTER TABLE t UPDATE a = 1 WHERE b = 2", "alter"),
    ("ALTER TABLE t DELETE WHERE b = 2", "alter"),
    ("ALTER TABLE t DROP PARTITION 1", "alter"),
    ("DELETE FROM t WHERE b = 2", "delete_from"),
    ("UPDATE t SET a = 1 WHERE b = 2", "update"),
    ("UPDATE t SET a = 1 IN PARTITION 1 WHERE b = 2", "update"),
    ("DROP DICTIONARY d", "drop_dictionary"),
    ("DROP FUNCTION f", "drop_function"),
    ("DROP DATABASE d", "drop_database"),
    ("DROP TABLE t", "drop"),
    ("DROP USER u", "drop_access"),
    ("RENAME DICTIONARY a TO b", "rename_dictionary"),
    ("RENAME TABLE a TO b", "rename_table"),
    ("SYSTEM STOP MERGES t", "system_noop"),
    ("SYSTEM RESTART REPLICA r", "system"),
    ("SELECT 1 INTO OUTFILE 'p.tsv'", "into_outfile"),
    ("SELECT 1 INTO OUTFILE p", "outfile_shape"),
    ("(SELECT 1) UNION ALL SELECT 2", "select"),
    ("WITH 1 AS x SELECT x", "select"),
    ("VACUUM t", None),
]


@pytest.mark.parametrize("statement,row", ORDER)
def test_order_sensitive_claims(statement, row):
    assert _claimed(statement) == row


# spellings `_respell` turns into the one a row claims
RESPELLED = [
    ("REPLACE TABLE t (a Int64) ENGINE = Memory", "create_table", "Create"),
    ("WITH 1 AS x INSERT INTO t SELECT x", "insert_select", "Insert"),
    ("INSERT INTO t SETTINGS async_insert = 1 VALUES (1)", "insert_values",
     "Insert"),
    ("SET SESSION max_threads = 1", "set", "Set"),
    ("DROP TABLE t ON CLUSTER c SYNC", "drop", "Drop"),
    ("OPTIMIZE TABLE t FINAL SETTINGS optimize_throw_if_noop = 1",
     "optimize", "Optimize"),
]


@pytest.mark.parametrize("statement,row,kind", RESPELLED)
def test_respelled_claims(statement, row, kind):
    claimed = _claim(_respell(statement, {"default"}))
    assert (claimed[0].name, claimed[0].query_kind) == (row, kind)


def test_rows_are_named_once_and_spell_ch_kinds():
    names = [r.name for r in chsql_ddl._STATEMENTS]
    assert len(names) == len(set(names))
    for r in chsql_ddl._STATEMENTS:
        assert re.fullmatch(r"[A-Z][A-Za-z]+", r.query_kind), r.name


# how `_alter_commands` splits an ALTER TABLE command list, and the
# `_ALTER_COMMANDS` row that claims each command
ALTER_LISTS = [
    ("UPDATE a = 1, b = 2 WHERE k IN (1, 2)",
     [("update", "UPDATE a = 1, b = 2 WHERE k IN (1, 2)")]),
    ("MODIFY SETTING a = 1, b = 2",
     [("setting", "MODIFY SETTING a = 1, b = 2")]),
    ("ADD COLUMN d Decimal(10, 2) DEFAULT 'x,y'",
     [("column_add", "ADD COLUMN d Decimal(10, 2) DEFAULT 'x,y'")]),
    ("MODIFY QUERY SELECT a, b FROM s",
     [("modify_query", "MODIFY QUERY SELECT a, b FROM s")]),
    ("DROP PARTITION 0, DROP PARTITION (2)",
     [("partition", "DROP PARTITION 0"), ("partition", "DROP PARTITION (2)")]),
    ("FREEZE, DROP PARTITION 1",
     [("freeze", "FREEZE"), ("partition", "DROP PARTITION 1")]),
    ("ADD INDEX ix s TYPE bloom_filter GRANULARITY 1, DROP PARTITION 0",
     [("index", "ADD INDEX ix s TYPE bloom_filter GRANULARITY 1"),
      ("partition", "DROP PARTITION 0")]),
    ("UPDATE s = 'z' WHERE k = 1, DELETE WHERE k = 2",
     [("update", "UPDATE s = 'z' WHERE k = 1"),
      ("delete", "DELETE WHERE k = 2")]),
]


@pytest.mark.parametrize("cmds,claims", ALTER_LISTS)
def test_alter_list_split_and_claims(cmds, claims):
    assert [(row.name, m.string) for row, m in _alter_commands(cmds)] == claims


@pytest.mark.parametrize("cmds", [
    "VACUUM, DROP PARTITION 1",
    "UPDATE a = 1, DELETE WHERE k = 2",
])
def test_alter_list_with_an_unclaimed_command_claims_nothing(cmds):
    with pytest.raises(ValueError, match="unsupported ALTER TABLE command"):
        _alter_commands(cmds)


@pytest.mark.parametrize("script", SCRIPTS)
def test_every_registry_alter_command_is_claimed(script):
    text = getattr(chsql_ddl, script)
    for statement in chsql_ddl.split_statements(text):
        row, m = _claim(_respell(statement, _databases(text)))
        if row.name == "alter":
            assert _alter_commands(m.group("cmds")), statement[:80]


def test_alter_command_rows_are_named_once():
    names = [r.name for r in chsql_ddl._ALTER_COMMANDS]
    assert len(names) == len(set(names))
