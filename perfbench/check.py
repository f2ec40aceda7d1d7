"""Output checks.

Results are compared as multisets of canonical rows: numbers become
floats compared with a relative tolerance (engines sum doubles in
different orders), booleans become 0/1, nested lists become tuples.
Dumped files are re-read here, independently of the program, and
compared by row count and an order-insensitive hash.
"""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import gzip
import hashlib
import io
import math
import os
import sqlite3
import xml.etree.ElementTree as ET
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq

from gen import SCHEMA

REL_TOL = 1e-9
ABS_TOL = 1e-6


def canon_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_value(x)) for k, x in v.items()))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if hasattr(v, "asDict"):  # pyspark Row nested in a cell
        return canon_value(v.asDict())
    return str(v)


def _sort_key(row):
    return tuple((x is None, type(x).__name__, x if x is not None else 0) for x in row)


def canon_rows(rows) -> list[tuple]:
    return sorted((tuple(canon_value(v) for v in r) for r in rows), key=_sort_key)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want) -> str | None:
    """None when the two row multisets agree, else a short reason."""
    g, w = canon_rows(got), canon_rows(want)
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    for i, (a, b) in enumerate(zip(g, w)):
        if len(a) != len(b) or not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a[:6]} != {b[:6]}"
    return None


def rows_hash(rows) -> str:
    """Order-insensitive hash; numbers rounded to 6 decimals."""
    h = hashlib.sha256()
    for r in canon_rows(rows):
        h.update(repr(tuple(round(x, 6) if isinstance(x, float) else x for x in r)).encode())
    return h.hexdigest()


# ------------------------------------------------------------ file reading

def _open_text(path: str) -> str:
    if path.endswith(".gz"):
        with gzip.open(path, "rb") as f:
            return f.read().decode()
    if path.endswith(".zst"):
        with pa.input_stream(path, compression="zstd") as f:
            return f.read().decode()
    with open(path, encoding="utf-8") as f:
        return f.read()


def _xlsx_rows(path: str) -> tuple[list[str], list[list]]:
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        root = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    rows = []
    for row in root.iter(f"{ns}row"):
        vals = []
        for c in row.iter(f"{ns}c"):
            if c.get("t") == "inlineStr":
                vals.append("".join(t.text or "" for t in c.iter(f"{ns}t")))
            else:
                vals.append(c.find(f"{ns}v").text)
        rows.append(vals)
    return rows[0], rows[1:]


def read_file(path: str) -> tuple[list[str], list[list]]:
    """(header, rows) of one data file or one Spark output directory;
    text cells stay text (empty cells become None)."""
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, p) for p in os.listdir(path)
            if not p.startswith((".", "_"))
        )
        header, rows = None, []
        for p in parts:
            h, r = read_file(p)
            header = header or h
            rows.extend(r)
        return header or [], rows
    name = path.lower()
    if ".parquet" in name:
        t = pq.read_table(path)
        return t.column_names, [list(r.values()) for r in t.to_pylist()]
    if name.endswith(".xlsx"):
        return _xlsx_rows(path)
    text = _open_text(path)
    if ".ltsv" in name:
        rows = [dict(kv.split(":", 1) for kv in line.split("\t")) for line in text.splitlines() if line]
        header = list(rows[0]) if rows else []
        return header, [[r.get(k) or None for k in header] for r in rows]
    delim = "\t" if ".tsv" in name else ","
    it = csv.reader(io.StringIO(text), delimiter=delim)
    header = next(it)
    return header, [[v if v != "" else None for v in r] for r in it]


def typed(table: str, header: list[str], rows: list[list]) -> list[list]:
    """Apply the generator's column affinities to text cells."""
    aff = dict(SCHEMA[table])
    conv = []
    for col in header:
        a = aff.get(col, "TEXT")
        conv.append(int if a == "INTEGER" else float if a == "REAL" else str)

    def one(f, v):
        if v is None or not isinstance(v, str):
            return v
        try:
            return f(float(v)) if f is int else f(v)
        except ValueError:
            return v

    return [[one(f, v) for f, v in zip(conv, r)] for r in rows]


def sqlite_from_files(files: dict[str, str], keys: dict[str, str] | None = None) -> sqlite3.Connection:
    """sqlite3 database with one table per generated file (the reference's
    own engine). ``files`` maps table name -> path; ``keys`` optionally
    declares a PRIMARY KEY column per table."""
    con = sqlite3.connect(":memory:")
    for table, path in files.items():
        header, rows = read_file(path)
        base = next(t for t in SCHEMA if table == t or table.startswith(t + "_"))
        aff = dict(SCHEMA[base])
        pk = (keys or {}).get(table)
        cols = ", ".join(
            f"{c} {aff.get(c, 'TEXT')}" + (" PRIMARY KEY" if c == pk else "") for c in header
        )
        con.execute(f"CREATE TABLE {table} ({cols})")
        ph = ", ".join("?" * len(header))
        con.executemany(f"INSERT INTO {table} VALUES ({ph})", typed(base, header, rows))
    con.commit()
    con.isolation_level = None  # statements carry their own BEGIN/COMMIT
    return con


def duckdb_views(sf_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def duckdb_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def by_name(columns: list[str], rows) -> list[tuple]:
    """Rows with their columns sorted by name, so two engines' column
    orders do not matter."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(r[i] for i in order) for r in rows]
