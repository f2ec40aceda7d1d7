"""Reader round-trips: CSV/TSV/LTSV/XLSX/Parquet ± compression."""

from __future__ import annotations

import bz2
import gzip
import lzma
import zipfile

import pytest

from filesql_spark.errors import DuplicateColumnError, EmptyFileError
from filesql_spark.sources.loader import load_file

SAMPLE_CSV = "id,name,age,email\n1,John Doe,30,john@example.com\n2,Jane Smith,25,jane@example.com\n3,Bob Johnson,35,bob@example.com\n"


def _write_minimal_xlsx(path, sheets):
    """Build a minimal OOXML workbook: sheets = [(name, [[cell,...],...])]."""
    content_types = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(len(sheets))
        )
        + "</Types>"
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId0" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    wb_sheets = "".join(
        f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (name, _rows) in enumerate(sheets)
    )
    workbook = (
        '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + "</Relationships>"
    )

    def sheet_xml(rows):
        out = ['<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>']
        for r, row in enumerate(rows, 1):
            out.append(f'<row r="{r}">')
            for j, cell in enumerate(row):
                col = chr(ord("A") + j)
                if isinstance(cell, (int, float)):
                    out.append(f'<c r="{col}{r}"><v>{cell}</v></c>')
                else:
                    out.append(f'<c r="{col}{r}" t="inlineStr"><is><t>{cell}</t></is></c>')
            out.append("</row>")
        out.append("</sheetData></worksheet>")
        return "".join(out)

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, (_name, rows) in enumerate(sheets):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", sheet_xml(rows))


def test_csv_inference_and_types(spark, tmp_path):
    p = tmp_path / "sample.csv"
    p.write_text(SAMPLE_CSV)
    res = load_file(spark, str(p))
    (name, df), = res.tables
    assert name == "sample"
    assert dict(df.dtypes) == {
        "id": "bigint",
        "name": "string",
        "age": "bigint",
        "email": "string",
    }
    rows = {r.id: r for r in df.collect()}
    assert rows[1].name == "John Doe" and rows[1].age == 30
    assert df.filter("age > 30").count() == 1


def test_tsv_gz(spark, tmp_path):
    p = tmp_path / "products.tsv.gz"
    with gzip.open(p, "wt") as f:
        f.write("id\tname\tprice\n1\tLaptop\t1000\n2\tMouse\t29\n")
    res = load_file(spark, str(p))
    (name, df), = res.tables
    assert name == "products"
    assert dict(df.dtypes)["price"] == "bigint"
    assert df.count() == 2


@pytest.mark.parametrize(
    "ext,opener",
    [("bz2", bz2.open), ("xz", lzma.open)],
)
def test_csv_python_codecs(spark, tmp_path, ext, opener):
    p = tmp_path / f"users.csv.{ext}"
    with opener(p, "wt") as f:
        f.write("id,role\n1,admin\n2,user\n")
    res = load_file(spark, str(p))
    (name, df), = res.tables
    assert name == "users"
    assert df.count() == 2
    if ext == "xz":  # bz2 is Hadoop-native; xz spills through Python
        assert res.temp_files


def test_csv_zstd(spark, tmp_path):
    import pyarrow as pa

    data = pa.Codec("zstd").compress(b"id,v\n1,2\n3,4\n", asbytes=True)
    p = tmp_path / "z.csv.zst"
    p.write_bytes(data)
    res = load_file(spark, str(p))
    (_, df), = res.tables
    assert df.count() == 2


def test_ltsv_union_of_keys_sorted(spark, tmp_path):
    p = tmp_path / "logs.ltsv"
    p.write_text(
        "time:2024-01-01T10:00:00Z\tlevel:INFO\tmessage:Application started\n"
        "time:2024-01-01T10:01:00Z\tlevel:ERROR\thost:web1\n"
    )
    res = load_file(spark, str(p))
    (name, df), = res.tables
    assert name == "logs"
    assert df.columns == ["host", "level", "message", "time"]  # sorted keys
    rows = df.orderBy("time").collect()
    assert rows[0].message == "Application started"
    assert rows[0].host is None  # missing key → NULL
    assert rows[1].host == "web1"


def test_ltsv_value_with_colon(spark, tmp_path):
    p = tmp_path / "logs.ltsv"
    p.write_text("url:http://example.com/x\tlevel:INFO\n")
    (_, df), = load_file(spark, str(p)).tables
    assert df.collect()[0].url == "http://example.com/x"  # first-colon split


def test_duplicate_columns_raises(spark, tmp_path):
    p = tmp_path / "duplicate_columns.csv"
    p.write_text("id,name,id,email\n1,a,2,b\n")
    with pytest.raises(DuplicateColumnError):
        load_file(spark, str(p))


def test_empty_file_raises(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("")
    with pytest.raises(EmptyFileError):
        load_file(spark, str(p))


def test_whitespace_only_file_raises(spark, tmp_path):
    p = tmp_path / "ws.csv"
    p.write_text("  \n\n\t\n")
    with pytest.raises(EmptyFileError):
        load_file(spark, str(p))


def test_header_only(spark, tmp_path):
    p = tmp_path / "h.csv"
    p.write_text("id,name\n")
    (_, df), = load_file(spark, str(p)).tables
    assert df.columns == ["id", "name"]
    assert df.count() == 0
    assert dict(df.dtypes) == {"id": "string", "name": "string"}  # all-TEXT


def test_xlsx_multi_sheet(spark, tmp_path):
    p = tmp_path / "sample.xlsx"
    _write_minimal_xlsx(
        p,
        [
            ("Sheet1", [["id", "name"], [1, "Alice"], [2, "Bob"]]),
            ("Sheet2", [["id", "value"], [1, 100], [2, 200]]),
        ],
    )
    res = load_file(spark, str(p))
    names = [n for n, _ in res.tables]
    assert names == ["sample_Sheet1", "sample_Sheet2"]
    df1 = dict(res.tables)["sample_Sheet1"]
    assert dict(df1.dtypes) == {"id": "bigint", "name": "string"}
    assert df1.count() == 2
    df2 = dict(res.tables)["sample_Sheet2"]
    assert df2.filter("value = 200").count() == 1


def test_xlsx_short_rows_padded(spark, tmp_path):
    p = tmp_path / "pad.xlsx"
    _write_minimal_xlsx(p, [("S", [["a", "b", "c"], [1, "x"], [2, "y"]])])
    (_, df), = load_file(spark, str(p)).tables
    assert df.columns == ["a", "b", "c"]
    assert [r.c for r in df.collect()] == [None, None]


def test_parquet_typed(spark, tmp_path):
    import pandas as pd

    p = tmp_path / "t.parquet"
    pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}).to_parquet(p)
    (name, df), = load_file(spark, str(p)).tables
    assert name == "t"
    assert dict(df.dtypes)["k"] == "bigint"  # real parquet schema, no stringify


def test_xlsx_gz_roundtrip(spark, tmp_path):
    import gzip as _gzip

    raw = tmp_path / "plain.xlsx"
    _write_minimal_xlsx(raw, [("S", [["id", "v"], [1, "a"]])])
    gz = tmp_path / "book.xlsx.gz"
    gz.write_bytes(_gzip.compress(raw.read_bytes()))
    res = load_file(spark, str(gz))
    (name, df), = res.tables
    assert name == "book_S"
    assert df.count() == 1


def test_builder_reader_compressed(spark):
    import gzip as _gzip

    import filesql_spark as fs

    data = _gzip.compress(b"id,v\n1,7\n2,8\n")
    eng = fs.Builder().add_reader(data, "gzdata", "csv.gz").open(spark=spark)
    try:
        assert eng.query("SELECT SUM(v) AS s FROM gzdata").collect()[0].s == 15
    finally:
        eng.close()


def test_empty_string_fields_are_null_divergence(spark, tmp_path):
    """Pin the documented ''-vs-NULL divergence surface (SURVEY §1.2,
    README): the reference keeps empty CSV fields as '' (file.go:476-479),
    so its COUNT(col) counts them and WHERE col = '' matches; this engine
    adopts NULL. These assertions are the contract — if they start
    failing, the divergence decision changed and README must follow."""
    import filesql_spark as fs

    p = tmp_path / "gaps.csv"
    p.write_text("id,note\n1,hello\n2,\n3,world\n")
    with fs.open(str(p), spark=spark) as eng:
        # empty field loads as NULL…
        rows = eng.query("SELECT id, note FROM gaps ORDER BY id").collect()
        assert rows[1].note is None
        # …so COUNT(note) excludes it (SQLite reference would return 3)
        assert eng.query("SELECT COUNT(note) AS n FROM gaps").collect()[0].n == 2
        # …and = '' matches nothing (SQLite reference would match id=2)
        assert eng.query("SELECT COUNT(*) AS n FROM gaps WHERE note = ''").collect()[0].n == 0
        # the NULL-standard predicates do the job instead
        assert eng.query("SELECT id FROM gaps WHERE note IS NULL").collect()[0].id == 2


# ------------------------------------------------------------ JSONL (r8)


def test_jsonl_typed_load(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"id": 1, "text": "hello", "score": 0.5, "ok": true}\n'
        '{"id": 2, "text": "world", "score": 1.5, "ok": false}\n'
    )
    (name, df), = load_file(spark, str(p)).tables
    assert name == "docs"
    types = dict(df.dtypes)
    assert types["id"] == "bigint" and types["score"] == "double"
    assert types["ok"] == "boolean" and types["text"] == "string"
    assert df.count() == 2


def test_jsonl_nested_and_ndjson_ext(spark, tmp_path):
    p = tmp_path / "events.ndjson"
    p.write_text(
        '{"id": 1, "meta": {"k": "a", "n": 7}, "tags": ["x", "y"]}\n'
        '{"id": 2, "meta": {"k": "b", "n": 9}, "tags": []}\n'
    )
    (name, df), = load_file(spark, str(p)).tables
    assert name == "events"
    rows = {r.id: r for r in df.collect()}
    assert rows[1].meta.n == 7 and rows[1].tags == ["x", "y"]


def test_jsonl_gz_and_xz(spark, tmp_path):
    content = '{"id": 1}\n{"id": 2}\n{"id": 3}\n'
    g = tmp_path / "a.jsonl.gz"
    with gzip.open(g, "wt") as f:
        f.write(content)
    res = load_file(spark, str(g))
    assert res.tables[0][1].count() == 3
    x = tmp_path / "b.jsonl.xz"
    with lzma.open(x, "wt") as f:
        f.write(content)
    res = load_file(spark, str(x))
    assert res.tables[0][1].count() == 3
    assert res.temp_files  # xz spills through Python


def test_jsonl_empty_raises(spark, tmp_path):
    p = tmp_path / "empty.jsonl"
    p.write_text("")
    with pytest.raises(EmptyFileError):
        load_file(spark, str(p))


def test_jsonl_malformed_raises(spark, tmp_path):
    from filesql_spark.errors import FilesqlError

    p = tmp_path / "bad.jsonl"
    p.write_text('{"id": 1}\n{not json at all\n')
    with pytest.raises(FilesqlError):
        (_, df), = load_file(spark, str(p)).tables
        df.collect()  # FAILFAST errors surface at scan time


def test_jsonl_engine_end_to_end(spark, tmp_path):
    import filesql_spark

    p = tmp_path / "users.jsonl"
    p.write_text(
        '{"id": 1, "name": "ann", "score": 9.5}\n'
        '{"id": 2, "name": "bo"}\n'
    )
    eng = filesql_spark.open(str(tmp_path))
    rows = eng.query(
        "SELECT id, name, COALESCE(score, 0.0) AS s FROM users ORDER BY id"
    ).collect()
    assert [(r.id, r.name, r.s) for r in rows] == [(1, "ann", 9.5), (2, "bo", 0.0)]


# ------------------------------------------------------------ ORC (r8)


def test_orc_typed_load(spark, tmp_path):
    src = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "k long, v string, x double")
    p = tmp_path / "t.orc"
    src.coalesce(1).write.orc(str(tmp_path / "_w"))
    import glob as _glob
    import shutil as _shutil

    (part,) = [f for f in _glob.glob(str(tmp_path / "_w" / "part-*")) if not f.endswith(".crc")]
    _shutil.move(part, p)
    (name, df), = load_file(spark, str(p)).tables
    assert name == "t"
    assert dict(df.dtypes) == {"k": "bigint", "v": "string", "x": "double"}
    assert df.count() == 2


def test_orc_gz_load(spark, tmp_path):
    src = spark.createDataFrame([(7, "z")], "k long, v string")
    src.coalesce(1).write.orc(str(tmp_path / "_w"))
    import glob as _glob

    (part,) = [f for f in _glob.glob(str(tmp_path / "_w" / "part-*")) if not f.endswith(".crc")]
    gz = tmp_path / "g.orc.gz"
    with open(part, "rb") as f:
        gz.write_bytes(gzip.compress(f.read()))
    res = load_file(spark, str(gz))
    (name, df), = res.tables
    assert name == "g" and df.count() == 1
    assert res.temp_files  # decompressed through the spill path


# ------------------------------------- driver-side open: header + type sample
#
# A delimited open reads its header and type sample on the driver and fires
# no Spark job. The expected types and rows below are what the open inferred
# when it still sampled through Spark (`limit(3000).collect()`), written as
# literals: the driver-side read must keep every one of them.

DELIMITED_PARITY = [
    ("bom.csv", "\ufeffid,name\n1,alpha\n2,beta\n",
     [("id", "bigint"), ("name", "string")], [(1, "alpha"), (2, "beta")]),
    ("quoted_header.csv", '"first\nname",age\nann,31\nbo,x\nal,7\n',
     [("first\nname", "string"), ("age", "string")],
     [("ann", "31"), ("bo", "x"), ("al", "7")]),
    ("embedded.csv", 'id,note,js\n1,"line1\nline2","{""k"": 1}"\n2,"say ""hi""",plain\n',
     [("id", "bigint"), ("note", "string"), ("js", "string")],
     [(1, "line1\nline2", '{"k": 1}'), (2, 'say "hi"', "plain")]),
    ("empties.csv", 'a,b,c\n1,"",\n2,,"x"\n,"",3\n4,5,""\n',
     [("a", "bigint"), ("b", "bigint"), ("c", "string")],
     [(1, None, None), (2, None, "x"), (None, None, "3"), (4, 5, None)]),
    ("ragged.csv", "a,b,c\n1,2\n3,4,5,6\n7,8,9\n",
     [("a", "bigint"), ("b", "bigint"), ("c", "bigint")],
     [(1, 2, None), (3, 4, 5), (7, 8, 9)]),
    ("short.tsv", "k\tv\tw\n1\t1.5\t2024-01-02\n2\t2\t2024-02-03\n3\t\t2024-03-04\n",
     [("k", "bigint"), ("v", "double"), ("w", "string")],
     [(1, 1.5, "2024-01-02"), (2, 2.0, "2024-02-03"), (3, None, "2024-03-04")]),
    ("crlf.csv", "a,b\r\n1,x\r\n2,y\r\n",
     [("a", "bigint"), ("b", "string")], [(1, "x"), (2, "y")]),
    ("blank_lines.csv", "\n\na,b\n1,2\n\n3,4\n",
     [("a", "bigint"), ("b", "bigint")], [(1, 2), (3, 4)]),
]


@pytest.mark.parametrize(
    "fname,text,dtypes,rows", DELIMITED_PARITY, ids=[c[0] for c in DELIMITED_PARITY]
)
def test_delimited_open_type_parity(spark, tmp_path, fname, text, dtypes, rows):
    p = tmp_path / fname
    p.write_text(text, encoding="utf-8", newline="")
    (_, df), = load_file(spark, str(p)).tables
    assert df.dtypes == dtypes
    assert [tuple(r) for r in df.collect()] == rows


def test_delimited_sample_past_one_mib_and_capped_at_3000_rows(spark, tmp_path):
    """3100 rows of ~420 bytes: ``n`` is empty for rows 1-2900 (the first
    ~1.2 MiB), an integer for rows 2901-3000 and text after row 3000. The
    vote must see the integers past 1 MiB and must not see the text past
    the 3000-row sample, so ``n`` is INTEGER and the late text is NULL."""
    pad = "x" * 400
    lines = ["id,n,pad"] + [
        f"{i},{'' if i <= 2900 else (i if i <= 3000 else 'late')},{pad}"
        for i in range(1, 3101)
    ]
    p = tmp_path / "big.csv"
    p.write_text("\n".join(lines) + "\n")
    (_, df), = load_file(spark, str(p)).tables
    assert df.dtypes == [("id", "bigint"), ("n", "bigint"), ("pad", "string")]
    rows = [tuple(r)[:2] for r in df.collect()]
    assert len(rows) == 3100
    assert rows[2899:2901] == [(2900, None), (2901, 2901)]
    assert rows[2999:3001] == [(3000, 3000), (3001, None)]


def test_delimited_field_longer_than_csv_default_limit(spark, tmp_path):
    p = tmp_path / "longfield.csv"
    p.write_text("id,blob\n1," + "z" * 200000 + "\n2,b\n")
    (_, df), = load_file(spark, str(p)).tables
    assert df.dtypes == [("id", "bigint"), ("blob", "string")]
    assert [(r.id, len(r.blob)) for r in df.collect()] == [(1, 200000), (2, 1)]


def test_ltsv_driver_sample_parity(spark, tmp_path):
    """Lines without ``:`` (and a lone tab) are all-NULL records, values
    keep every ``:`` after the first, an empty value stays '', lines of
    spaces or nothing are skipped, CRLF ends a line."""
    p = tmp_path / "kv.ltsv"
    p.write_bytes(
        b"a:1\tb:x:y\n\ngarbage\n  \n\tc:2020-01-01\n"
        b"a:2\tb:\tc:2021-02-03\r\n\t\nd:only\n"
    )
    (_, df), = load_file(spark, str(p)).tables
    assert df.dtypes == [("a", "bigint"), ("b", "string"), ("c", "string"), ("d", "string")]
    assert [tuple(r) for r in df.collect()] == [
        (1, "x:y", None, None),
        (None, None, None, None),
        (None, None, "2020-01-01", None),
        (2, "", "2021-02-03", None),
        (None, None, None, None),
        (None, None, None, "only"),
    ]


def test_open_delimited_fires_no_spark_job(spark, tmp_path):
    import pyarrow as pa

    import filesql_spark as fs

    (tmp_path / "a.csv").write_text("id,v\n1,x\n2,y\n")
    (tmp_path / "b.tsv").write_text("id\tw\n1\t2.5\n")
    (tmp_path / "c.csv.gz").write_bytes(gzip.compress(b"k,n\n1,2\n3,4\n"))
    (tmp_path / "d.csv.zst").write_bytes(pa.Codec("zstd").compress(b"z\n7\n", asbytes=True))
    sc = spark.sparkContext
    group = "test_open_delimited_fires_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        eng = fs.open(str(tmp_path), spark=spark)
        opened = len(sc.statusTracker().getJobIdsForGroup(group))
        total = eng.query("SELECT SUM(n) AS s FROM c").collect()[0].s
        queried = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    try:
        assert opened == 0
        assert total == 6 and queried > 0  # the counter does see jobs
        assert eng.table_names() == ["a", "b", "c", "d"]
        assert [dict(eng.table(t).dtypes) for t in ("b", "d")] == [
            {"id": "bigint", "w": "double"}, {"z": "bigint"},
        ]
    finally:
        eng.close()


def test_sqlite_master_after_multi_file_open(spark, tmp_path, monkeypatch):
    import filesql_spark as fs
    from filesql_spark.engine import Engine

    rebuilds = []
    rebuild = Engine._refresh_catalog_views
    monkeypatch.setattr(
        Engine, "_refresh_catalog_views", lambda self: rebuilds.append(1) or rebuild(self)
    )
    (tmp_path / "bom.csv").write_text("\ufeffid,name\n1,alpha\n", encoding="utf-8")
    (tmp_path / "short.tsv").write_text("k\tv\tw\n1\t1.5\t2024-01-02\n")
    (tmp_path / "kv.ltsv").write_text("a:1\tb:x\n\tc:2020-01-01\nd:only\n")
    with fs.open(str(tmp_path), spark=spark) as eng:
        rows = eng.query("SELECT * FROM sqlite_master ORDER BY name").collect()
    assert len(rebuilds) == 1  # once per open, not once per table
    assert [tuple(r) for r in rows] == [
        ("table", "bom", "bom", 0, 'CREATE TABLE "bom" ("id" INTEGER, "name" TEXT)'),
        ("table", "kv", "kv", 0,
         'CREATE TABLE "kv" ("a" INTEGER, "b" TEXT, "c" TEXT, "d" TEXT)'),
        ("table", "short", "short", 0,
         'CREATE TABLE "short" ("k" INTEGER, "v" REAL, "w" TEXT)'),
    ]
