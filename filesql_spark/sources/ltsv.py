"""LTSV reader (reference: file.go:496-562; stream.go:148-206, 353-489).

LTSV = one record per line, tab-separated ``key:value`` pairs. The schema is
the union of keys across all lines; records missing a key get NULL (the
reference pads ``""``, file.go:548-556).

Spark-first shape — two distributed passes, mirroring the reference's
two-pass scan (stream.go:366-391) without its flaw:
1. key-discovery: parse each line into a map, explode+distinct the keys
   (a tiny shuffle; result is the schema) — the one Spark job of an open,
   kept because a key may first appear anywhere in the file;
2. projection: ``map[key]`` per discovered key, which each query scans.

The type sample is the first ``INFERENCE_ROWS`` records, read on the driver
with the same line rule as the Spark parse: split on tab, keep the pieces
holding a ``:``, key before the first ``:``, value after it, skip lines of
nothing but spaces. Opening an LTSV file costs the key-discovery job and
nothing more; each query still scans the file in Spark.

The reference's column order is Go-map-iteration nondeterministic
(file.go:542-545) — we fix it as sorted-key order (SURVEY A9 decision).

The line parse itself is whole-stage-codegen JVM code (split / transform /
map_from_entries) — no Python UDF.
"""

from __future__ import annotations

import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filesql_spark.errors import EmptyFileError
from filesql_spark.sources.compression import (
    SPARK_NATIVE_READ,
    decompress_to_temp,
    open_reader,
)
from filesql_spark.sources.csv_source import INFERENCE_ROWS, apply_inferred_types
from filesql_spark.sources.detect import Compression


def _read_sample(
    path: str, compression: Compression, keys: list[str]
) -> list[list[str | None]]:
    """The first ``INFERENCE_ROWS`` records projected onto ``keys``, parsed
    by the same rule as the Spark expression in ``read_ltsv``."""
    rows: list[list[str | None]] = []
    with open_reader(path, compression) as raw:
        # universal newlines: Spark's text reader also splits on \n, \r\n, \r
        for line in io.TextIOWrapper(raw, encoding="utf-8", errors="replace"):
            line = line.rstrip("\n")
            if not line.strip(" "):  # Spark's trim strips spaces only
                continue
            kv = dict(p.split(":", 1) for p in line.split("\t") if ":" in p)
            rows.append([kv.get(k) for k in keys])
            if len(rows) == INFERENCE_ROWS:
                break
    return rows


def read_ltsv(
    spark: SparkSession, path: str, compression: Compression
) -> tuple[DataFrame, str | None]:
    """Load an LTSV file → typed DataFrame (sorted union-of-keys schema)."""
    src, tmp = path, None
    if compression not in SPARK_NATIVE_READ:
        tmp = decompress_to_temp(path, compression, ".ltsv")
        src = tmp

    lines = spark.read.text(src).filter(F.length(F.trim(F.col("value"))) > 0)
    kv = lines.select(
        F.expr(
            "map_from_entries(transform(filter(split(value, '\\t'), "
            "p -> instr(p, ':') > 0), "
            "p -> struct(substring_index(p, ':', 1) AS k, "
            "substring(p, instr(p, ':') + 1) AS v)))"
        ).alias("kv")
    )

    # pass 1: union of keys (distributed; tiny distinct result)
    keys = sorted(
        r[0] for r in kv.select(F.explode(F.map_keys("kv")).alias("k")).distinct().collect()
    )
    if not keys:
        raise EmptyFileError(f"file is empty: {path}")

    # pass 2: project map lookups into columns
    df = kv.select(*[F.col("kv")[k].alias(k) for k in keys])
    return apply_inferred_types(df, _read_sample(path, compression, keys)), tmp
