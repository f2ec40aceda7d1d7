"""Seeded input generator.

Every input the benchmark feeds the program is made here from ``--seed``
alone: a TPC-H-shaped star schema plus the ``events``, ``documents`` and
``embeddings`` tables the pipeline operators read. Row counts depend only
on the scale factor, values only on the seed, so two runs with one seed
read identical bytes (``fingerprint`` proves it) and runs with different
seeds do the same amount of work.

Files are written by this module with the standard library, numpy and
pyarrow -- never by ``filesql_spark.sinks`` -- so a change to the program
cannot change its own inputs. XLSX is a hand-rolled minimal workbook made
with ``zipfile``.
"""

from __future__ import annotations

import csv
import datetime as dt
import gzip
import hashlib
import io
import os
import zipfile
from dataclasses import dataclass
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

DAY0 = dt.date(1995, 1, 1)
EPOCH_2024_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000

# Column order and SQLite affinity of every table; the checker declares
# its sqlite3 tables from this and the writers emit columns in this order.
SCHEMA: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "INTEGER"), ("r_name", "TEXT")],
    "nation": [("n_nationkey", "INTEGER"), ("n_name", "TEXT"), ("n_regionkey", "INTEGER")],
    "customer": [
        ("c_custkey", "INTEGER"), ("c_name", "TEXT"), ("c_nationkey", "INTEGER"),
        ("c_acctbal", "REAL"), ("c_mktsegment", "TEXT"),
    ],
    "supplier": [
        ("s_suppkey", "INTEGER"), ("s_name", "TEXT"), ("s_nationkey", "INTEGER"),
        ("s_acctbal", "REAL"),
    ],
    "part": [
        ("p_partkey", "INTEGER"), ("p_name", "TEXT"), ("p_brand", "TEXT"),
        ("p_type", "TEXT"), ("p_size", "INTEGER"), ("p_retailprice", "REAL"),
    ],
    "orders": [
        ("o_orderkey", "INTEGER"), ("o_custkey", "INTEGER"), ("o_orderstatus", "TEXT"),
        ("o_totalprice", "REAL"), ("o_orderdate", "TEXT"), ("o_orderpriority", "TEXT"),
    ],
    "lineitem": [
        ("l_orderkey", "INTEGER"), ("l_partkey", "INTEGER"), ("l_suppkey", "INTEGER"),
        ("l_linenumber", "INTEGER"), ("l_quantity", "INTEGER"),
        ("l_extendedprice", "REAL"), ("l_discount", "REAL"), ("l_tax", "REAL"),
        ("l_returnflag", "TEXT"), ("l_linestatus", "TEXT"), ("l_shipdate", "TEXT"),
    ],
}


@dataclass(frozen=True)
class Sizes:
    """Row counts for one scale factor (TPC-H ratios; the text and vector
    tables are capped the way the repository's own test data caps them)."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    users: int
    documents: int
    embeddings: int

    @classmethod
    def at(cls, sf: float) -> Sizes:
        return cls(
            customer=int(150_000 * sf),
            supplier=max(int(10_000 * sf), 10),
            part=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            lineitem=int(6_000_000 * sf),
            events=int(1_000_000 * sf),
            users=150,
            documents=500,
            embeddings=500,
        )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Prices in whole cents, so every engine sums them exactly."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _dates(rng: np.random.Generator, n: int, span_days: int) -> list[str]:
    days = rng.integers(0, span_days, n)
    return [(DAY0 + dt.timedelta(days=int(d))).isoformat() for d in days]


def relational(seed: int, sf: float) -> dict[str, dict[str, list]]:
    """The seven TPC-H-shaped tables as column lists (dates as ISO text)."""
    rng = np.random.default_rng([seed, 1])
    s = Sizes.at(sf)
    t: dict[str, dict[str, list]] = {}
    t["region"] = {"r_regionkey": list(range(5)), "r_name": list(REGIONS)}
    t["nation"] = {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }
    t["customer"] = {
        "c_custkey": list(range(s.customer)),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customer)],
        "c_nationkey": rng.integers(0, 25, s.customer).tolist(),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customer).tolist(),
        "c_mktsegment": rng.choice(SEGMENTS, s.customer).tolist(),
    }
    t["supplier"] = {
        "s_suppkey": list(range(s.supplier)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.supplier)],
        "s_nationkey": rng.integers(0, 25, s.supplier).tolist(),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.supplier).tolist(),
    }
    adj = rng.choice(PART_ADJ, s.part)
    noun = rng.choice(PART_NOUN, s.part)
    t["part"] = {
        "p_partkey": list(range(s.part)),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.part)],
        "p_type": rng.choice(PART_TYPES, s.part).tolist(),
        "p_size": rng.integers(1, 51, s.part).tolist(),
        "p_retailprice": [900 + (i % 1000) / 10 for i in range(s.part)],
    }
    t["orders"] = {
        "o_orderkey": list(range(s.orders)),
        "o_custkey": rng.integers(0, s.customer, s.orders).tolist(),
        "o_orderstatus": rng.choice(["F", "O", "P"], s.orders).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, s.orders).tolist(),
        "o_orderdate": _dates(rng, s.orders, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, s.orders).tolist(),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, s.orders, s.lineitem).tolist(),
        "l_partkey": rng.integers(0, s.part, s.lineitem).tolist(),
        "l_suppkey": rng.integers(0, s.supplier, s.lineitem).tolist(),
        "l_linenumber": rng.integers(1, 8, s.lineitem).tolist(),
        "l_quantity": rng.integers(1, 51, s.lineitem).tolist(),
        "l_extendedprice": _money(rng, 900, 105000, s.lineitem).tolist(),
        "l_discount": (rng.integers(0, 11, s.lineitem) / 100.0).tolist(),
        "l_tax": (rng.integers(0, 9, s.lineitem) / 100.0).tolist(),
        "l_returnflag": rng.choice(["A", "N", "R"], s.lineitem).tolist(),
        "l_linestatus": rng.choice(["F", "O"], s.lineitem).tolist(),
        "l_shipdate": _dates(rng, s.lineitem, 2499),
    }
    return t


def _document(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(VOCAB, int(rng.integers(8, 90))))


def pipeline_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """``events``, ``documents`` and ``embeddings`` as arrow tables."""
    rng = np.random.default_rng([seed, 2])
    s = Sizes.at(sf)
    gaps = rng.exponential(260.0, s.events) * 1_000_000
    ts = (EPOCH_2024_US + np.cumsum(gaps)).astype("int64")
    events = pa.table({
        "event_id": pa.array(np.arange(s.events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s.users, s.events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, s.events)),
        "value": pa.array(rng.integers(1, 50000, s.events) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(10, 100, s.events)]),
    })

    # Near-duplicates sit at fixed positions (every 20th document copies
    # one 13 places back with one word changed), so the dedup family does
    # the same amount of work on every seed.
    texts: list[str] = []
    for i in range(s.documents):
        if i % 20 == 19:
            base = texts[i - 13].split()
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
        else:
            texts.append(_document(rng))
    documents = pa.table({
        "doc_id": pa.array(np.arange(s.documents), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, s.documents)),
        "source": pa.array([f"src{i % 20}" for i in range(s.documents)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(s.embeddings) % 10  # equal clusters on every seed
    vecs = centers[labels] + rng.normal(0.0, 0.9, (s.embeddings, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(s.embeddings), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"events": events, "documents": documents, "embeddings": embeddings}


def _arrow(name: str, cols: dict[str, list]) -> pa.Table:
    """A relational table with the parquet types of the registry's inputs
    (int32 small keys, timestamps for dates)."""
    types = {"INTEGER": pa.int64(), "REAL": pa.float64(), "TEXT": pa.string()}
    small = {"r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey",
             "s_nationkey", "p_size", "l_linenumber"}
    arrays = {}
    for col, aff in SCHEMA[name]:
        vals = cols[col]
        if col in ("o_orderdate", "l_shipdate"):
            arrays[col] = pa.array(
                [dt.datetime.fromisoformat(v) for v in vals], pa.timestamp("us")
            )
        elif col == "l_quantity":
            arrays[col] = pa.array(vals, pa.float64())
        else:
            arrays[col] = pa.array(vals, pa.int32() if col in small else types[aff])
    return pa.table(arrays)


def write_parquet_dir(out: str, seed: int, sf: float) -> None:
    """All ten registry tables as ``<out>/<name>.parquet``."""
    os.makedirs(out, exist_ok=True)
    for name, cols in relational(seed, sf).items():
        pq.write_table(_arrow(name, cols), os.path.join(out, f"{name}.parquet"))
    for name, table in pipeline_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


# ------------------------------------------------------------ text formats

def _text(v) -> str:
    if isinstance(v, float):
        return f"{v:.2f}"
    return str(v)


def _rows(cols: dict[str, list]) -> list[list[str]]:
    return [list(map(_text, r)) for r in zip(*cols.values())]


def delimited_bytes(cols: dict[str, list], delimiter: str) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=delimiter, lineterminator="\n")
    w.writerow(list(cols))
    w.writerows(_rows(cols))
    return buf.getvalue().encode()


def ltsv_bytes(cols: dict[str, list]) -> bytes:
    names = list(cols)
    lines = ("\t".join(f"{k}:{v}" for k, v in zip(names, r)) for r in _rows(cols))
    return ("\n".join(lines) + "\n").encode()


def xlsx_bytes(cols: dict[str, list], sheet: str = "data") -> bytes:
    """A one-sheet workbook with inline strings and numeric cells."""
    def cell(ref: str, v) -> str:
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    names = list(cols)
    rows = [names] + [list(r) for r in zip(*cols.values())]
    body = "".join(
        f'<row r="{i + 1}">'
        + "".join(cell(f"{chr(65 + j)}{i + 1}", v) for j, v in enumerate(r))
        + "</row>"
        for i, r in enumerate(rows)
    )
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    pkg = "http://schemas.openxmlformats.org/package/2006"
    doc = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    parts = {
        "[Content_Types].xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><Types xmlns="{pkg}/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg}/relationships">'
            f'<Relationship Id="rId1" Type="{doc}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} {rel_ns}><sheets>'
            f'<sheet name="{sheet}" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg}/relationships">'
            f'<Relationship Id="rId1" Type="{doc}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet {ns}>'
            f"<sheetData>{body}</sheetData></worksheet>"
        ),
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts.items():
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text)
    return buf.getvalue()


def _write(path: str, data: bytes) -> None:
    with open(path, "wb") as f:
        f.write(data)


def write_zstd(path: str, data: bytes) -> None:
    with pa.output_stream(path, compression="zstd") as f:
        f.write(data)


def write_files_dir(out: str, seed: int, sf: float) -> list[str]:
    """One directory holding every input format once (the paper's front
    door). Returns the file names written."""
    os.makedirs(out, exist_ok=True)
    t = relational(seed, sf)
    _write(os.path.join(out, "lineitem.csv"), delimited_bytes(t["lineitem"], ","))
    _write(os.path.join(out, "orders.tsv"), delimited_bytes(t["orders"], "\t"))
    _write(
        os.path.join(out, "customer.csv.gz"),
        gzip.compress(delimited_bytes(t["customer"], ","), mtime=0),
    )
    write_zstd(os.path.join(out, "part.csv.zst"), delimited_bytes(t["part"], ","))
    _write(os.path.join(out, "nation.ltsv"), ltsv_bytes(t["nation"]))
    _write(os.path.join(out, "region.xlsx"), xlsx_bytes(t["region"]))
    pq.write_table(_arrow("supplier", t["supplier"]), os.path.join(out, "supplier.parquet"))
    return sorted(os.listdir(out))


def write_edit_dir(out: str, seed: int, sf: float) -> list[str]:
    """The three files the edits open with auto-save."""
    os.makedirs(out, exist_ok=True)
    t = relational(seed, sf)
    _write(os.path.join(out, "orders.csv"), delimited_bytes(t["orders"], ","))
    _write(os.path.join(out, "customer.tsv"), delimited_bytes(t["customer"], "\t"))
    _write(os.path.join(out, "nation.ltsv"), ltsv_bytes(t["nation"]))
    return sorted(os.listdir(out))


def fingerprint(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + content)."""
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()
