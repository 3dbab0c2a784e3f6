"""Correctness gate: DuckDB 1.0 replays a job over the same inputs, and
every exported CSV is compared with DuckDB's table as a multiset of
canonical rows.

Both sides are reduced to the same text form before hashing. Integers
compare as integers, other numbers as the float they denote (so
``1.0E7`` and ``10000000.0`` agree), JSON arrays and objects as their
canonical JSON (``-0.0`` equals ``0.0``), and NULL as the empty string (a Keboola CSV cannot tell
NULL from ``""``). Timestamps compare at whole seconds, the precision
of the product's export format (``yyyy-MM-dd HH:mm:ss``).
"""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import hashlib
import json
import os
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

_INT_RE = r"^[+-]?\d+$"
_NUM_RE = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$|^[+-]?(Infinity|NaN|inf|nan)$"


def _json_canon(s: str) -> str:
    try:
        return json.dumps(_num(json.loads(s)), sort_keys=True, separators=(",", ":"))
    except ValueError:
        return s


def _num(x):
    """Canonical JSON-level value: numbers become their canonical text."""
    if isinstance(x, bool) or x is None:
        return x
    if isinstance(x, (int, float, decimal.Decimal)):
        return pc.cast(pa.array([float(x)]), pa.string())[0].as_py()
    if isinstance(x, list):
        return [_num(v) for v in x]
    if isinstance(x, dict):
        return {str(k): _num(v) for k, v in x.items()}
    return x


def canon_column(col: pa.Array) -> pa.Array:
    """Canonical text of one column of exported-CSV-style strings."""
    col = pc.fill_null(col.cast(pa.string()), "")
    is_int = pc.match_substring_regex(col, _INT_RE)
    is_num = pc.match_substring_regex(col, _NUM_RE)
    try:
        ints = pc.cast(pc.cast(pc.if_else(is_int, col, "0"), pa.int64()), pa.string())
    except pa.ArrowInvalid:  # beyond int64: compare as float
        is_int = pc.and_(is_int, False)
        ints = col
    # adding 0.0 folds -0.0 into 0.0: the two compare equal as values
    floats = pc.cast(
        pc.add(pc.cast(pc.if_else(is_num, col, "0"), pa.float64()), 0.0), pa.string()
    )
    out = pc.if_else(is_int, ints, pc.if_else(is_num, floats, col))
    is_json = pc.match_substring_regex(out, r"^[\[{]")
    if pc.any(is_json).as_py():
        out = pa.array(
            [_json_canon(v) if j else v for v, j in zip(out.to_pylist(), is_json.to_pylist())],
            pa.string(),
        )
    return out


def _export_text(col: pa.ChunkedArray) -> pa.Array:
    """A DuckDB result column as the text the product's CSV export holds."""
    col = col.combine_chunks()
    t = col.type
    if pa.types.is_timestamp(t):
        return pc.strftime(col.cast(pa.timestamp("s"), safe=False), format="%Y-%m-%d %H:%M:%S")
    if pa.types.is_date(t):
        return pc.strftime(col, format="%Y-%m-%d")
    if pa.types.is_boolean(t):
        return pc.if_else(col, "true", "false")
    if pa.types.is_map(t):
        return pa.array(
            [None if v is None else json.dumps(_json_ready(dict(v))) for v in col.to_pylist()],
            pa.string(),
        )
    if pa.types.is_nested(t):
        return pa.array(
            [None if v is None else json.dumps(_json_ready(v)) for v in col.to_pylist()],
            pa.string(),
        )
    try:
        return col.cast(pa.string())
    except (pa.ArrowNotImplementedError, pa.ArrowInvalid):
        return pa.array([None if v is None else str(v) for v in col.to_pylist()], pa.string())


def _json_ready(v):
    if isinstance(v, list):
        return [_json_ready(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_ready(x) for k, x in v.items()}
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _rows(columns: list[pa.Array]) -> Counter:
    """Row multiset of canonical columns."""
    if not columns:
        return Counter()
    canon = [canon_column(c) for c in columns]
    if len(canon) == 1:
        return Counter(canon[0].to_pylist())
    return Counter(pc.binary_join_element_wise(*canon, "\x1d").to_pylist())


def _digest(rows: Counter) -> str:
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(f"{row}\x1e{rows[row]}\x1f".encode())
    return h.hexdigest()


def duck_tables(job, data_dir: str) -> dict[str, tuple[str, int, Counter]]:
    """Replay ``job`` in DuckDB; ``table -> (digest, rows, row multiset)``."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    for inp in job.inputs:
        con.execute(f'CREATE VIEW "{inp.name}" AS {inp.duck_view(data_dir)}')
    for stmt in job.duck_script:
        con.execute(stmt)
    out = {}
    for table in job.exports:
        result = con.execute(f'SELECT * FROM "{table}"').arrow()
        rows = _rows([_export_text(c) for c in result.columns])
        out[table] = (_digest(rows), sum(rows.values()), rows)
    con.close()
    return out


def csv_rows(path: str) -> Counter:
    """Canonical row multiset of one exported table (file or sliced dir)."""
    sliced = os.path.isdir(path)
    files = sorted(os.path.join(path, f) for f in os.listdir(path)) if sliced else [path]
    rows: Counter = Counter()
    for f in files:
        with open(f, newline="", encoding="utf-8") as fh:
            ncol = len(next(csv.reader(fh), []))
        if ncol == 0:
            continue
        names = [f"c{i}" for i in range(ncol)]
        table = pacsv.read_csv(
            f,
            read_options=pacsv.ReadOptions(column_names=names, skip_rows=0 if sliced else 1),
            parse_options=pacsv.ParseOptions(newlines_in_values=True),
            convert_options=pacsv.ConvertOptions(
                column_types={n: pa.string() for n in names},
                strings_can_be_null=False, quoted_strings_can_be_null=False, null_values=[],
            ),
        )
        rows.update(_rows([c.combine_chunks() for c in table.columns]))
    return rows


def _strip(rows: Counter) -> Counter:
    out: Counter = Counter()
    for row, k in rows.items():
        col = [v.strip() for v in row.split("\x1d")]
        out["\x1d".join(canon_column(pa.array(col, pa.string())).to_pylist())] += k
    return out


def compare(
    expected: tuple[str, int, Counter], path: str, strip: bool = False
) -> tuple[bool, str]:
    """(match, detail) for one exported table against DuckDB's. With
    ``strip``, blanks around every value are ignored on both sides: the
    product's CSV export trims them (Spark's CSV writer defaults
    ``ignoreLeadingWhiteSpace``/``ignoreTrailingWhiteSpace`` to true), a
    known defect (NOTES.md)."""
    digest, n, want = expected
    got = csv_rows(path)
    if strip:
        want, got = _strip(want), _strip(got)
        digest = _digest(want)
    if _digest(got) == digest:
        return True, f"{n} rows"
    missing, extra = want - got, got - want
    sample = list(missing)[:1] + list(extra)[:1]
    return False, (
        f"{sum(got.values())} rows vs {n}; {sum(missing.values())} missing, "
        f"{sum(extra.values())} extra, e.g. {sample}"
    )
