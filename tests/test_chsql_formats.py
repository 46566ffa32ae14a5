"""CH data formats: every reader (INSERT … FORMAT, INSERT … FROM INFILE,
file(), format()) decodes the same data to the same rows, names and types,
and what INTO OUTFILE writes reads back unchanged."""

from __future__ import annotations

import ast
import gzip
import inspect
import itertools
from datetime import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from canal_clickhouse_spark.chsql_ddl import ChSession

_n = itertools.count()


def ch_lit(s: str) -> str:
    """``s`` as a CH string literal."""
    return "'" + (s.replace("\\", "\\\\").replace("'", "\\'")
                  .replace("\n", "\\n").replace("\t", "\\t")) + "'"


@pytest.fixture(scope="module")
def ch(spark, sf_dir):
    return ChSession(spark, sf_dir)


# (format, structure or None, data, expected names/types, expected rows).
# Each data set reproduces one way the readers used to disagree.
CASES = {
    # TSV: \N is NULL and \t, \r, \\ unescape
    "tsv_escapes": ("TSV", "v String, n Nullable(String)",
                    "a\\tb\\\\t\\rc\t\\N\n",
                    [("v", "string"), ("n", "string")],
                    [("a\tb\\t\rc", None)]),
    # TSV has no quoting
    "tsv_quotes": ("TabSeparated", "s String, k Int64", '"x"\t1\n',
                   [("s", "string"), ("k", "bigint")], [('"x"', 1)]),
    # WithNames maps fields by header name
    "csv_header_by_name": ("CSVWithNames", "a Int64, b String", "b,a\nx,1\n",
                           [("a", "bigint"), ("b", "string")], [(1, "x")]),
    "tsv_header_by_name": ("TSVWithNames", "a Int64, b String",
                           "b\ta\nx\t1\n",
                           [("a", "bigint"), ("b", "string")], [(1, "x")]),
    # no structure: CH's names c1…cN, JSON keys in first-appearance order,
    # the header; Int64 / Float64 / String by the values
    "csv_inferred": ("CSV", None, "1,x,1.5\n2,y,\n",
                     [("c1", "bigint"), ("c2", "string"), ("c3", "double")],
                     [(1, "x", 1.5), (2, "y", None)]),
    "json_inferred": ("JSONEachRow", None,
                      '{"z": 1, "a": "x"}\n{"z": 2, "a": "2", "n": [1]}\n',
                      [("z", "bigint"), ("a", "string"), ("n", "string")],
                      [(1, "x", None), (2, "2", "[1]")]),
    # a column with no non-empty value is String, so a quoted "" stays ''
    "csv_inferred_all_empty": ("CSV", None, '"\\N","",\\N, a ,"x,""y"\n',
                               [("c1", "string"), ("c2", "string"),
                                ("c3", "string"), ("c4", "string"),
                                ("c5", "string")],
                               [("\\N", "", None, " a ", 'x,"y')]),
    "csvwithnames_inferred": ("CSVWithNames", None, "b,a\nx,1\n",
                              [("b", "string"), ("a", "bigint")],
                              [("x", 1)]),
    # every reader knows every format
    "jsoncompact": ("JSONCompactEachRow", "k Int64, s String", '[1, "x"]\n',
                    [("k", "bigint"), ("s", "string")], [(1, "x")]),
    "tskv": ("TSKV", "k Int64, s String", "s=x\\ty\tk=1\n",
             [("k", "bigint"), ("s", "string")], [(1, "x\ty")]),
    "line": ("LineAsString", "line String", "raw, one\n",
             [("line", "string")], [("raw, one",)]),
    "json_document": ("JSON", "a Int64, s String",
                      '{"data": [{"a": 1, "s": "x"}, {"a": 2, "s": "y"}]}',
                      [("a", "bigint"), ("s", "string")],
                      [(1, "x"), (2, "y")]),
    # nested types decode from JSON
    "json_nested": ("JSONEachRow", "k Int64, xs Array(Int64)",
                    '{"k": 1, "xs": [1, 2]}\n',
                    [("k", "bigint"), ("xs", "array<bigint>")],
                    [(1, [1, 2])]),
    # CSV: an empty unquoted field and \N are NULL, "" is '' and a
    # quoted "\N" is the string \N
    "csv_empty_field": ("CSV", "k Int64, s Nullable(String)",
                        '1,\n2,y\n3,""\n4,\\N\n5,"\\N"\n',
                        [("k", "bigint"), ("s", "string")],
                        [(1, None), (2, "y"), (3, ""), (4, None),
                         (5, "\\N")]),
}
ENTRIES = ("insert", "infile", "file", "format")


def _read(ch, tmp_path, entry, fmt, structure, data):
    """``data`` through one reader: the result frame."""
    i = next(_n)
    if entry in ("insert", "infile"):
        t = f"agree_{i}"
        ch.execute(f"CREATE TABLE {t} ({structure}) ENGINE = Memory")
        if entry == "insert":
            ch.execute(f"INSERT INTO {t} FORMAT {fmt}\n{data}")
        else:
            p = tmp_path / f"agree_{i}.txt"
            p.write_text(data)
            ch.execute(f"INSERT INTO {t} FROM INFILE '{p}' FORMAT {fmt}")
        return ch.execute(f"SELECT * FROM {t}")
    st_ = f", {ch_lit(structure)}" if structure else ""
    if entry == "file":
        p = tmp_path / f"agree_{i}.txt"
        p.write_text(data)
        return ch.execute(f"SELECT * FROM file('{p}', '{fmt}'{st_})")
    return ch.execute(f"SELECT * FROM format({fmt}{st_}, {ch_lit(data)})")


@pytest.mark.parametrize("case,entry", [
    (c, e) for c in sorted(CASES) for e in ENTRIES
    # INSERT reads into a table: its columns are the structure
    if CASES[c][1] or e in ("file", "format")
])
def test_readers_agree(ch, tmp_path, case, entry):
    fmt, structure, data, dtypes, rows = CASES[case]
    df = _read(ch, tmp_path, entry, fmt, structure, data)
    assert df.dtypes == dtypes
    assert sorted(map(tuple, df.collect()), key=repr) == \
        sorted(rows, key=repr)


def test_header_names_must_match(ch, tmp_path):
    """The one header error, whichever reader meets it."""
    ch.execute("CREATE TABLE hdr (a Int64, b String) ENGINE = Memory")
    p = tmp_path / "hdr.csv"
    p.write_text("a,zz\n1,x\n")
    for stmt in (
        "INSERT INTO hdr FORMAT CSVWithNames\na,zz\n1,x",
        f"INSERT INTO hdr FROM INFILE '{p}' FORMAT CSVWithNames",
        f"SELECT * FROM file('{p}', 'CSVWithNames', 'a Int64, b String')",
        "SELECT * FROM format(CSVWithNames, 'a Int64, b String',"
        " 'a,zz\n1,x')",
    ):
        with pytest.raises(ValueError, match="do not name the target"):
            ch.execute(stmt).collect()


def test_outfile_formats_are_the_tables_writable_formats(ch, tmp_path):
    """INTO OUTFILE takes exactly the table's writable formats, and what
    it writes in each, every reader-side format reads back: a format
    added to one side alone fails here."""
    from canal_clickhouse_spark import chformats

    src = "SELECT toInt64(number) AS k, toString(number) AS s FROM numbers(3)"
    want = [(0, "0"), (1, "1"), (2, "2")]
    for name, f in chformats.FORMATS.items():
        p = tmp_path / f"w_{name}"
        if not f.write:
            with pytest.raises(ValueError, match="unsupported format"):
                ch.execute(f"{src} INTO OUTFILE '{p}' FORMAT {name}")
            continue
        ch.execute(f"{src} INTO OUTFILE '{p}' FORMAT {name}")
        if f.read:
            got = ch.execute(
                f"SELECT * FROM file('{p}', '{name}', 'k Int64, s String')"
                " ORDER BY k").collect()
            assert [tuple(r) for r in got] == want, name


def test_one_format_table():
    """`chformats` is the only module that names CH formats: the other
    readers' and writers' tables and helpers are gone, and no string
    constant in the translator or the interpreter spells a format name
    other than a decode rule's."""
    from canal_clickhouse_spark import chformats, chsql, chsql_ddl

    assert not hasattr(chsql_ddl, "_FORMAT_BY_EXT")
    assert not hasattr(chformats, "tsv_escape")  # encode_sql writes TSV
    for gone in ("_parse_tf_schema", "_unquote_sql_str", "_py_to_sql_lit"):
        assert not hasattr(chsql, gone)
    names = set(chformats.FORMATS) - {f.kind for f in
                                      chformats.FORMATS.values()}
    for mod in (chsql, chsql_ddl):
        consts = {
            n.value.lower() for n in ast.walk(ast.parse(inspect.getsource(mod)))
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
        }
        assert not consts & names, mod.__name__


_STR = st.lists(
    st.sampled_from(["\t", "\n", "\r", "\\", '"', ",", "'", "N", "\\N",
                     "a", "x y"]),
    max_size=6,
).map("".join)
_TIME = st.datetimes(datetime(1970, 1, 2), datetime(2105, 12, 31)).map(
    lambda d: d.strftime("%Y-%m-%d %H:%M:%S"))
_ROWS = st.lists(
    st.tuples(st.integers(-2 ** 63, 2 ** 63 - 1),
              st.none() | st.integers(-2 ** 63, 2 ** 63 - 1),
              st.none() | _STR, _TIME),
    min_size=1, max_size=4, unique_by=lambda r: r[0],
)
_COLS = "k Int64, v Nullable(Int64), s Nullable(String), t DateTime"


@pytest.mark.parametrize("fmt", ["TabSeparated", "TabSeparatedWithNames",
                                 "CSV", "CSVWithNames", "JSONEachRow",
                                 "Parquet"])
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_ROWS)
def test_outfile_round_trip(ch, tmp_path, fmt, rows):
    """Rows of (Int64, Nullable(Int64), Nullable(String), DateTime)
    written by INTO OUTFILE read back equal through file() and through
    INSERT … FROM INFILE."""
    if fmt.startswith("CSV"):
        # no line ends in CSV values: every reader is line-based, so a
        # line end inside a quoted CSV field splits the record (a
        # documented divergence from CH)
        rows = [(k, v, s.replace("\n", " ").replace("\r", " ") if s else s,
                 t) for k, v, s, t in rows]
    i = next(_n)
    src, back, path = f"rt_src_{i}", f"rt_back_{i}", tmp_path / f"rt_{i}"
    for t in (src, back):
        ch.execute(f"CREATE TABLE {t} ({_COLS}) ENGINE = Memory")
    ch.execute(f"INSERT INTO {src} VALUES " + ", ".join(
        f"({k}, {'NULL' if v is None else v},"
        f" {'NULL' if s is None else ch_lit(s)}, {ch_lit(t)})"
        for k, v, s, t in rows))
    ch.execute(f"SELECT * FROM {src} INTO OUTFILE '{path}' FORMAT {fmt}")
    ch.execute(f"INSERT INTO {back} FROM INFILE '{path}' FORMAT {fmt}")
    got = {rel: ch.execute(f"SELECT k, v, s, toString(t) FROM {rel}")
           .collect() for rel in (src, back,
                                  f"file('{path}', '{fmt}', {ch_lit(_COLS)})")}
    ch.execute(f"DROP TABLE {src}")
    ch.execute(f"DROP TABLE {back}")
    assert sorted(map(tuple, got.pop(src))) == sorted(rows)
    for rel, back_rows in got.items():
        assert sorted(map(tuple, back_rows)) == sorted(rows), rel


def test_outfile_gzip_reads_back(ch, tmp_path):
    """OUTFILE compresses by COMPRESSION or a .gz path, by the rule
    INFILE decompresses with; file() reads it back too."""
    ch.execute("CREATE TABLE gz_back (k Int64, s String) ENGINE = Memory")
    src = "SELECT number AS k, toString(number) AS s FROM numbers(3)"
    want = [(0, "0"), (1, "1"), (2, "2")]
    for name, out, into in (
        ("a.tsv.gz", "", ""),
        ("b.tsv.gz", "COMPRESSION 'gzip'", "COMPRESSION 'gzip'"),
        ("c.tsv.gz", "COMPRESSION 'gz' LEVEL 3", "COMPRESSION 'auto'"),
    ):
        p = tmp_path / name
        ch.execute(f"{src} INTO OUTFILE '{p}' {out}")
        assert gzip.decompress(p.read_bytes()) == b"0\t0\n1\t1\n2\t2\n"
        ch.execute("TRUNCATE TABLE gz_back")
        ch.execute(f"INSERT INTO gz_back FROM INFILE '{p}' {into}")
        got = ch.execute("SELECT * FROM gz_back ORDER BY k").collect()
        assert [tuple(r) for r in got] == want, name
        got = ch.execute(f"SELECT * FROM file('{p}', 'TabSeparated',"
                         " 'k Int64, s String') ORDER BY k").collect()
        assert [tuple(r) for r in got] == want, name
    with pytest.raises(ValueError, match="COMPRESSION 'zstd'"):
        ch.execute(f"{src} INTO OUTFILE '{tmp_path / 'd.tsv'}'"
                   " COMPRESSION 'zstd'")
