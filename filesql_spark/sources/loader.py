"""Per-file load dispatch: path → [(table_name, DataFrame)].

The reference's streamAllFilesToDatabase (stream_processor.go:30-37) in
Spark terms: every file becomes one (or, for XLSX, several) typed
DataFrames ready for temp-view registration.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from filesql_spark.errors import DuplicateColumnError, EmptyFileError
from filesql_spark.inference import infer_schema  # noqa: F401  (wrapped by perfbench's traced mode)
from filesql_spark.naming import table_name_from_path, xlsx_table_name
from filesql_spark.sources.compression import decompress_to_temp, open_reader
from filesql_spark.sources.csv_source import (
    INFERENCE_ROWS,
    apply_inferred_types,
    read_delimited,
)
from filesql_spark.sources.detect import Compression, FileFormat, detect_file_type
from filesql_spark.sources.jsonl import read_jsonl
from filesql_spark.sources.ltsv import read_ltsv
from filesql_spark.sources.xlsx import read_xlsx_sheets


@dataclass
class LoadResult:
    tables: list[tuple[str, DataFrame]]
    temp_files: list[str] = field(default_factory=list)


def load_file(spark: SparkSession, path: str) -> LoadResult:
    """Load one input file into named, typed DataFrames."""
    fmt, compression = detect_file_type(path)

    if fmt in (FileFormat.CSV, FileFormat.TSV):
        df, tmp = read_delimited(spark, path, fmt, compression)
        return LoadResult(
            [(table_name_from_path(path), df)], [tmp] if tmp else []
        )

    if fmt == FileFormat.LTSV:
        df, tmp = read_ltsv(spark, path, compression)
        return LoadResult(
            [(table_name_from_path(path), df)], [tmp] if tmp else []
        )

    if fmt == FileFormat.JSONL:
        df, tmp = read_jsonl(spark, path, compression)
        _check_dup_columns(df.columns, path)
        return LoadResult(
            [(table_name_from_path(path), df)], [tmp] if tmp else []
        )

    if fmt in (FileFormat.PARQUET, FileFormat.ORC):
        src, tmps = path, []
        if compression != Compression.NONE:
            # .parquet.gz etc.: external codec over the container file
            src = decompress_to_temp(path, compression, f".{fmt.value}")
            tmps = [src]
        # Typed, columnar — strictly better than the reference's
        # stringify-everything Arrow path (filesql.go:648-707); we keep
        # the real schema (SURVEY §1.4 explicitly drops that wart). ORC
        # is the beyond-reference Spark-native columnar twin.
        df = spark.read.orc(src) if fmt == FileFormat.ORC else spark.read.parquet(src)
        _check_dup_columns(df.columns, path)
        return LoadResult([(table_name_from_path(path), df)], tmps)

    if fmt == FileFormat.XLSX:
        if compression == Compression.NONE:
            sheets = read_xlsx_sheets(path)
        else:
            with open_reader(path, compression) as f:
                import io

                sheets = read_xlsx_sheets(io.BytesIO(f.read()))
        tables = []
        for sheet_name, header, rows in sheets:
            _check_dup_columns(header, f"{path}#{sheet_name}")
            schema = StructType([StructField(h, StringType()) for h in header])
            raw = spark.createDataFrame(rows, schema=schema)
            df = apply_inferred_types(raw, rows[:INFERENCE_ROWS])
            tables.append((xlsx_table_name(path, sheet_name), df))
        return LoadResult(tables)

    raise EmptyFileError(f"unreachable format: {fmt}")  # pragma: no cover


def _check_dup_columns(columns: list[str], origin: str) -> None:
    cleaned = [c.strip() for c in columns]
    dupes = {c for c in cleaned if cleaned.count(c) > 1}
    if dupes:
        raise DuplicateColumnError(f"duplicate column names in {origin}: {sorted(dupes)}")
