"""CSV / TSV reader (reference: file.go:452-493, stream.go:242-341).

Strategy: one driver-side ``csv.reader`` pass reads the header and the
first ``INFERENCE_ROWS`` records (the reference also infers from chunk 1
only, stream.go:285-295); the header becomes an explicit all-string schema
for ``spark.read.csv`` (distributed, splittable scan — Spark's equivalent
of the reference's chunked streaming), the records feed the sample-bounded
inference vote, and ``try_cast`` applies the winners (cast failures →
NULL, SURVEY §7.4 decision #1). Opening a delimited file therefore fires
no Spark job; each query still scans the file in Spark.

The driver parse follows the Spark read it stands in for: the same
delimiter, RFC-4180 quoting (doubled-quote escape, quoted embedded
newlines), blank lines skipped, and empty fields — quoted or not — taken
as NULL.

Empty-field semantics: Spark yields NULL where the reference keeps ``""``;
for numeric/datetime columns the observable behavior matches (SQLite's ``''``
in an INTEGER column fails numeric predicates just like NULL); for text
columns ``COUNT(col)`` differs — documented divergence (SURVEY §1.2).
"""

from __future__ import annotations

import csv
import io
import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from filesql_spark.errors import DuplicateColumnError, EmptyFileError
from filesql_spark.inference import ColumnType, infer_schema
from filesql_spark.sources.compression import (
    SPARK_NATIVE_READ,
    decompress_to_temp,
    open_reader,
)
from filesql_spark.sources.detect import Compression, FileFormat

INFERENCE_ROWS = 3000  # sampling pool; inference itself caps at 1000/col
_FIELD_LIMIT = 2**31 - 1  # Spark reads fields of any length (maxCharsPerColumn=-1)


def _read_head(
    path: str, compression: Compression, delimiter: str
) -> tuple[list[str], list[list[str | None]]]:
    """Parse the header and the first ``INFERENCE_ROWS`` records with real
    CSV quoting rules (driver-side, bounded by the record count)."""
    # csv's limit is process-wide and 128 KiB by default: only ever raise it
    if csv.field_size_limit() < _FIELD_LIMIT:
        csv.field_size_limit(_FIELD_LIMIT)
    with open_reader(path, compression) as raw:
        lines = io.TextIOWrapper(raw, encoding="utf-8-sig", errors="replace", newline="")
        lead = []  # whitespace-only lines up to the first visible one
        for line in lines:
            lead.append(line)
            if line.strip():
                break
        else:
            raise EmptyFileError(f"file is empty: {path}")
        # blank lines are skipped (csv yields [] for them), like Spark does
        records = (
            r for r in csv.reader(itertools.chain(lead, lines), delimiter=delimiter) if r
        )
        header = next(records)
        sample = [
            [v or None for v in r] for r in itertools.islice(records, INFERENCE_ROWS)
        ]
    cleaned = [h.strip() for h in header]
    dupes = {h for h in cleaned if cleaned.count(h) > 1}
    if dupes:
        # Reference: duplicate column names are a hard error (types.go:202-214)
        raise DuplicateColumnError(
            f"duplicate column names in {os.path.basename(path)}: {sorted(dupes)}"
        )
    return cleaned, sample


def apply_inferred_types(df: DataFrame, sample_rows: list[list[str | None]]) -> DataFrame:
    """Run the reference's inference vote over driver-side sample rows and
    try_cast the winners."""
    schema = infer_schema(df.columns, sample_rows)
    cols = []
    for name, ctype in schema:
        c = F.col(name)
        if ctype in (ColumnType.INTEGER, ColumnType.REAL):
            c = F.trim(c).try_cast(ctype.spark_type)
        # DATETIME / TEXT stay strings (inference.py module docstring)
        cols.append(c.alias(name))
    return df.select(*cols)


def read_delimited(
    spark: SparkSession,
    path: str,
    fmt: FileFormat,
    compression: Compression,
) -> tuple[DataFrame, str | None]:
    """Load a CSV or TSV file → typed DataFrame.

    Returns (df, temp_path): temp_path is a spill file the caller must
    delete after the engine closes (non-native codecs only).
    """
    delimiter = "\t" if fmt == FileFormat.TSV else ","
    header, sample = _read_head(path, compression, delimiter)

    src, tmp = path, None
    if compression not in SPARK_NATIVE_READ:
        suffix = ".tsv" if fmt == FileFormat.TSV else ".csv"
        tmp = decompress_to_temp(path, compression, suffix)
        src = tmp

    raw = (
        # the driver's trimmed header names; Spark still skips the header record
        spark.read.schema(StructType([StructField(h, StringType()) for h in header]))
        .option("header", True)
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .option("encoding", "UTF-8")
        # RFC-4180 embedded newlines (reference uses encoding/csv which
        # handles them, file.go:452-493). Trade-off: multiLine files are
        # not split across tasks — for cluster-scale CSVs that are known
        # newline-free, flip this off to restore splittable scans.
        .option("multiLine", True)
        # RFC-4180 quote escaping is a doubled quote; Spark's default
        # escape char is backslash (which encoding/csv does not treat
        # specially). Without this, `"{""k"": 1}"` splits mid-field.
        .option("escape", '"')
        .csv(src)
    )
    return apply_inferred_types(raw, sample), tmp
