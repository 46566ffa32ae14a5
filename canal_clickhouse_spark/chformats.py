"""ClickHouse data formats: one format table, one decoder (`decode_sql`:
``INSERT … FORMAT``, ``FROM INFILE``, ``file()``, ``format()``) and one
encoder (`encode_sql`: ``INTO OUTFILE``, the HTTP sink) over the same
option and escape tables. Text-only (Spark SQL text, no SparkSession), so
``translate()`` uses it as ``ChSession`` does.

Known divergences: readers are line-based, so a CSV value holding a
newline does not read back; TSV and CSV spell a nested value as JSON.
"""

from __future__ import annotations

import csv
import gzip
import json
import re
from dataclasses import dataclass


@dataclass(frozen=True)
class Format:
    """``kind`` names the line rule (`decode_sql`); ``header`` counts the
    header rows (names, then types)."""

    kind: str
    header: int = 0
    read: bool = True
    write: bool = False


_TABLE = {
    "TabSeparated": Format("tsv", write=True),
    "TSV": Format("tsv", write=True),
    "TabSeparatedWithNames": Format("tsv", 1, write=True),
    "TSVWithNames": Format("tsv", 1, write=True),
    "TabSeparatedWithNamesAndTypes": Format("tsv", 2, read=False, write=True),
    "CSV": Format("csv", write=True),
    "CSVWithNames": Format("csv", 1, write=True),
    "JSONEachRow": Format("json", write=True),
    "JSONCompactEachRow": Format("jsoncompact"),
    "JSON": Format("jsondoc"),
    "TSKV": Format("tskv"),
    "LineAsString": Format("line"),
    "Parquet": Format("parquet", write=True),
}
FORMATS = {name.lower(): f for name, f in _TABLE.items()}
OUTFILE_DEFAULT = "TabSeparated"
# CH's format inference from a file extension (before a .gz)
_FORMAT_BY_EXT = {
    ".csv": "CSV", ".tsv": "TSV", ".jsonl": "JSONEachRow",
    ".ndjson": "JSONEachRow", ".json": "JSONEachRow", ".parquet": "Parquet",
}
# CH's TSV has no quoting: the writer escapes these (backslash first) and
# spells NULL \N; the reader undoes exactly that
_TSV_ESCAPES = (("\\", "\\\\"), ("\t", "\\t"), ("\n", "\\n"), ("\r", "\\r"))
TSV_NULL = "\\N"
# RFC-4180, CH's CSV dialect: "" is a quote inside a quoted field. NULL
# is a bare \N or an empty bare field, and a quoted "" or "\N" is a
# string: the reader empties each bare \N field (_CSV_NULL_RE) and makes
# nullValue a line end, which no record holds, so bare empties alone are
# NULL. The writer quotes a value matching _CSV_QUOTED
CSV_OPTIONS = {"sep": ",", "quote": '"', "escape": '"', "nullValue": "\n"}
_CSV_NULL_RE = r'(^|,)(\\N(?=,|$)|("(?:[^"]|"")*"))'
_CSV_QUOTED = r'^(\\N)?$|[",\r\n]'
# to_json's options: CH's JSONEachRow writer keeps NULL fields (an
# omitted field would take the column's DEFAULT)
_JSON_OPTIONS = "map('ignoreNullFields', 'false')"
INFER_ROWS = 1000  # rows the no-structure inference reads
_CH_ESCAPES = dict(zip("bfrnt0av", "\b\f\r\n\t\0\a\v"))


def _tsv_unescape_sql(f: str) -> str:
    """SQL undoing `encode_sql`'s TSV escapes on the field ``f``: split
    at the escaped backslashes, unescape each piece, join with ``\\``."""
    (bs, bs_esc), *rest = _TSV_ESCAPES
    piece = "_p"
    for raw, esc in rest:
        piece = f"replace({piece}, {sql_str(esc)}, {sql_str(raw)})"
    return (
        f"CASE WHEN {f} = {sql_str(TSV_NULL)} THEN NULL ELSE array_join("
        f"transform(split({f}, {sql_str(re.escape(bs_esc))}, -1),"
        f" _p -> {piece}), {sql_str(bs)}) END"
    )


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal that reads back byte for
    byte."""
    return "'" + (s.replace("\\", "\\\\").replace("'", "\\'")
                  .replace("\n", "\\n").replace("\r", "\\r")) + "'"


def opener(path: str, codec: str | None, what: str):
    """``gzip.open`` under ``COMPRESSION 'gzip'|'gz'``, or a ``.gz``
    ``path`` with no codec or ``'auto'``; else ``open`` (``'none'``).
    Any other codec is refused. INFILE and OUTFILE share this rule."""
    gz = {"gzip": True, "gz": True, "none": False,
          "auto": path.endswith(".gz")}.get((codec or "auto").lower())
    if gz is None:
        raise ValueError(f"{what} COMPRESSION {codec!r}: only gzip (or the"
                         " .gz extension) is supported here")
    return gzip.open if gz else open


def unquote(lit: str, what: str) -> str:
    """The value of a CH ``'…'`` string literal, escapes decoded."""
    s = lit.strip()
    if not re.fullmatch(r"(?s)'.*'", s):
        raise ValueError(f"{what}: expected a string literal, got {s[:60]!r}")
    return re.sub(
        r"(?s)\\x([0-9A-Fa-f]{2})|\\(.)|''",
        lambda m: (chr(int(m[1], 16)) if m[1] else
                   _CH_ESCAPES.get(m[2], m[2]) if m[2] else "'"),
        s[1:-1],
    )


def spec(name: str, what: str, use: str, path: str = "") -> Format:
    """The format ``name`` (any case; empty: inferred from ``path``'s
    extension) for ``use``: ``"text"`` (inline data), ``"file"`` (text
    formats and Parquet) or ``"write"`` (INTO OUTFILE)."""
    def serves(f):
        return f.write if use == "write" else (
            f.read and (use == "file" or f.kind != "parquet"))

    if not name:
        ext = re.search(r"(\.\w+)(\.gz)?$", path.lower())
        name = _FORMAT_BY_EXT.get(ext[1] if ext else "", "")
        if not name:
            raise ValueError(
                f"{what}: cannot infer a format from {path!r} — add FORMAT")
    f = FORMATS.get(name.strip().lower())
    if f is None or not serves(f):
        raise ValueError(
            f"{what} FORMAT {name}: unsupported format — supported are "
            + ", ".join(n for n, g in _TABLE.items() if serves(g))
            + (" (or the sink writers for distributed output)"
               if use == "write" else "")
        )
    return f


def parse_structure(lit: str, what: str) -> list[tuple[str, str]]:
    """A structure literal ``'a Int32, `b c` String'`` →
    ``[(name, spark_type), …]``."""
    from .chsql import _split_args
    from .chsql_ddl import ch_type_to_spark

    cols = []
    for item in _split_args(unquote(lit, f"{what} structure")):
        m = re.match(r"(?s)^(?:`([^`]+)`|(\w+))\s+(.+)$", item)
        if not m:
            raise ValueError(f"{what}: bad structure item {item!r}")
        cols.append((m[1] or m[2], ch_type_to_spark(m[3])))
    return cols


def records(f: Format, text: str) -> list[str]:
    """Client-side data as raw records: its lines (split at the line ends
    Spark's text reader knows), or the whole text for JSON."""
    return [text] if f.kind == "jsondoc" else re.split(r"\r\n|\r|\n", text)


def _fields(f: Format, line: str):
    """One record's fields as raw text, for the header and the inference
    (values decode in SQL): a list for positional formats, a dict for
    named ones, a list of dicts for JSON. JSON values keep their JSON
    spelling, so a quoted "1" is no number."""
    def tok(v):
        return None if v is None else json.dumps(v)

    if f.kind == "csv":  # Python's default dialect is CSV_OPTIONS'
        return next(csv.reader([re.sub(_CSV_NULL_RE, r"\1\3", line)]), [])
    if f.kind == "tsv":
        return [None if v == TSV_NULL else v for v in line.split("\t")]
    if f.kind == "tskv":
        return dict(kv.split("=", 1) for kv in line.split("\t") if "=" in kv)
    rec = json.loads(line)
    if f.kind == "jsondoc":
        return [{k: tok(v) for k, v in r.items()} for r in rec["data"]]
    if f.kind == "jsoncompact":
        return [tok(v) for v in rec]
    return {k: tok(v) for k, v in rec.items()}


def _infer(f: Format, lines: list[str], names: list[str] | None):
    """CH's no-structure rule: names are the header, the JSON keys in
    first-appearance order, or ``c1…cN``; a column is Int64 if every
    non-empty value is an integer, else Float64 if every one is a
    number, else String — as is a column with no non-empty value."""
    if f.kind == "line":
        return [("line", "STRING")]
    rows = []
    for ln in lines[:INFER_ROWS]:
        if ln.strip():
            rows += _fields(f, ln) if f.kind == "jsondoc" else [_fields(f, ln)]
    if not rows:
        raise ValueError("no data rows to infer the columns from — give a"
                         " structure")
    if names is None and isinstance(rows[0], dict):
        names = list(dict.fromkeys(k for r in rows for k in r))
    elif names is None:
        names = [f"c{i + 1}" for i in range(max(map(len, rows)))]
    cols = []
    for i, n in enumerate(names):
        vals = [v for r in rows if (v := r.get(n) if isinstance(r, dict)
                                    else r[i] if i < len(r) else None)]
        t = "STRING"
        for typ, pat in (("BIGINT", r"[+-]?\d+"),
                         ("DOUBLE", r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?")):
            if vals and all(re.fullmatch(pat, v) for v in vals):
                t = typ
                break
        cols.append((n, t))
    return cols


def plan(f: Format, lines: list[str], columns, what: str):
    """The header policy and the inference over the first records
    ``lines``, for the given structure ``columns`` or None. Returns the
    typed output ``columns`` and the field names in data order (the
    header's for ``…WithNames``, which maps fields by name)."""
    header = None
    if f.header:
        if not lines:
            raise ValueError(f"{what}: missing header row")
        header = [h.strip() for h in _fields(f, lines[0])]
    columns = columns or _infer(f, lines[f.header:], header)
    names = [n for n, _ in columns]
    if header is not None and sorted(header) != sorted(names):
        raise ValueError(
            f"{what}: header columns {header} do not name the target"
            f" column list {names} — ClickHouse maps WithNames fields by"
            " header name"
        )
    if f.kind == "line" and [t.lower() for _, t in columns] != ["string"]:
        raise ValueError(f"{what}: LineAsString needs exactly one STRING"
                         " column (use a column list on wider tables)")
    return columns, header or names


def decode_sql(f: Format, columns, fields, rel: str) -> str:
    """SELECT text turning the raw records in column ``line`` of ``rel``
    into the typed ``columns`` (``[(name, spark_type)]``); ``fields`` is
    the field order in the data (`plan`). Blank records are skipped. Each
    record is parsed once into ``_r``: JSONEachRow by key, JSON as one
    ``{"data": [...]}`` document, CSV by `CSV_OPTIONS`, TSV split on tab
    and unescaped, JSONCompactEachRow by position, TSKV by key and
    unescaped, LineAsString as is."""
    types = dict(columns)
    schema = ", ".join(f"`{n}` {types[n]}" for n in fields)
    pos = {n: i + 1 for i, n in enumerate(fields)}
    opts = ", ".join(map(sql_str, sum(CSV_OPTIONS.items(), ())))
    by_name = (lambda n: f"_r.`{n}`")
    parse, field = {
        "json": (f"from_json(line, {sql_str(schema)})", by_name),
        "jsondoc": ("explode(from_json(line, " + sql_str(
            f"STRUCT<data: ARRAY<STRUCT<{schema}>>>") + ").data)", by_name),
        "csv": (f"from_csv(regexp_replace(line, {sql_str(_CSV_NULL_RE)},"
                f" '$1$3'), {sql_str(schema)}, map({opts}))", by_name),
        "tsv": ("split(line, '\\t', -1)", lambda n: _tsv_unescape_sql(
            f"try_element_at(_r, {pos[n]})")),
        "jsoncompact": ("from_json(line, 'ARRAY<STRING>')",
                        lambda n: f"try_element_at(_r, {pos[n]})"),
        "tskv": ("str_to_map(line, '\\t', '=')", lambda n: _tsv_unescape_sql(
            f"try_element_at(_r, {sql_str(n)})")),
        "line": ("line", lambda n: "_r"),
    }[f.kind]
    sel = ", ".join(f"CAST({field(n)} AS {t}) AS `{n}`" for n, t in columns)
    return (f"SELECT {sel} FROM (SELECT {parse} AS _r FROM {rel}"
            " WHERE trim(line) <> '')")


def encode_sql(f: Format, columns) -> str:
    """SQL spelling a row of ``columns`` (``[(name, spark_type)]``) as one
    line of ``f``, as `decode_sql` reads it, a time by its text as CH
    spells it: JSON by ``to_json``; CSV and TSV from each field's text (a
    nested one's JSON), quoted or escaped, NULL as `TSV_NULL`."""
    refs = ["`" + n.replace("`", "``") + "`" for n, _ in columns]
    js = _JSON_OPTIONS
    if f.kind == "json":
        return "to_json(struct(" + ", ".join(
            f"CAST({r} AS STRING) AS {r}" if re.match(r"(?i)date|timestamp", t)
            else r for r, (_, t) in zip(refs, columns)) + f"), {js})"
    text = [f"to_json({r}, {js})" if re.match(r"(?i)(array|map|struct)<", t)
            else f"CAST({r} AS STRING)" for r, (_, t) in zip(refs, columns)]
    if f.kind == "csv":  # only text, binary or a nested value needs quotes
        text = [f"CASE WHEN {v} RLIKE {sql_str(_CSV_QUOTED)} THEN concat("
                f"'\"', replace({v}, '\"', '\"\"'), '\"') ELSE {v} END"
                if re.match(r"(?i)(string|(var)?char|binary|array|map|struct)",
                            t) else v for v, (_, t) in zip(text, columns)]
    for raw, esc in _TSV_ESCAPES if f.kind == "tsv" else ():
        text = [f"replace({v}, {sql_str(raw)}, {sql_str(esc)})" for v in text]
    sep = CSV_OPTIONS["sep"] if f.kind == "csv" else "\t"
    return f"concat_ws({sql_str(sep)}, " + ", ".join(
        f"coalesce({v}, {sql_str(TSV_NULL)})" for v in text) + ")"


def values_rel(lines: list[str]) -> str:
    """The records as a ``VALUES`` body with the one column ``line``."""
    rows = ", ".join(f"({sql_str(ln)})" for ln in lines or [""])
    return f"{rows} AS _ftf(line)"
